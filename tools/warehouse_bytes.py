#!/usr/bin/env python3
"""Break down what a TableIO warehouse stores, by column and by file kind.

Usage:
    python3 tools/warehouse_bytes.py <warehouse>

<warehouse> is a directory written by `TableIO.runResumable` (for example by
`graft.spark.Main --warehouse <dir>`): committed data files under data/, the
snapshot manifests under metadata/. For the parquet data files it prints, per
leaf column, the compressed bytes per row, the share of all column bytes,
the compression ratio, the encodings, the codec, and whether the chunks carry a dictionary page and
min/max statistics. Then it prints what the files hold beside the column
data: the footers (with their length field and trailing magic), the page
indexes, and the side files (checksum `.crc`
files, `_SUCCESS` markers, manifests, the version hint). Only the file
footers are read, never the data pages.

Needs python3 with pyarrow.
"""
import os
import struct
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def walk(root):
    for d, _, names in os.walk(root):
        for n in sorted(names):
            yield os.path.join(d, n)


def footer_bytes(path):
    """Footer length plus the 8 trailing bytes (length field and magic)."""
    with open(path, "rb") as fh:
        fh.seek(-8, os.SEEK_END)
        length, magic = struct.unpack("<I4s", fh.read(8))
    if magic != b"PAR1":
        raise SystemExit("warehouse_bytes: %s is not a parquet file" % path)
    return length + 8


def side_kind(path, warehouse):
    name = os.path.basename(path)
    if name.endswith(".crc"):
        return "checksum .crc files"
    if name == "_SUCCESS":
        return "_SUCCESS markers"
    if os.path.relpath(path, warehouse).startswith("metadata" + os.sep):
        return "manifests and version hint" if name.endswith((".json", ".text")) else "other metadata"
    return "other files"


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.strip().split("\n\n")[1])
    warehouse = sys.argv[1]
    if not os.path.isdir(os.path.join(warehouse, "data")):
        raise SystemExit("warehouse_bytes: no data/ directory under %s" % warehouse)

    rows = 0
    files = 0
    total = 0
    col_bytes = defaultdict(int)
    col_raw = defaultdict(int)
    col_enc = defaultdict(set)
    col_codec = defaultdict(set)
    col_dict = defaultdict(bool)
    col_stats = defaultdict(bool)
    footers = 0
    page_index = 0
    side = defaultdict(int)
    side_files = defaultdict(int)
    for path in walk(warehouse):
        size = os.path.getsize(path)
        total += size
        if not path.endswith(".parquet"):
            kind = side_kind(path, warehouse)
            side[kind] += size
            side_files[kind] += 1
            continue
        files += 1
        md = pq.ParquetFile(path).metadata
        rows += md.num_rows
        chunks = 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                name = cc.path_in_schema
                col_bytes[name] += cc.total_compressed_size
                col_raw[name] += cc.total_uncompressed_size
                col_enc[name].update(cc.encodings)
                col_codec[name].add(cc.compression)
                col_dict[name] |= cc.has_dictionary_page
                col_stats[name] |= bool(cc.is_stats_set and cc.statistics.has_min_max)
                chunks += cc.total_compressed_size
        footer = footer_bytes(path)
        footers += footer
        # what is left after the leading magic, the column chunks and the
        # footer: the column and offset indexes (and any padding)
        page_index += size - 4 - chunks - footer

    per_row = (lambda b: b / rows) if rows else (lambda b: 0.0)
    data_total = sum(col_bytes.values())
    print("warehouse %s: %d rows in %d data files, %d bytes (%.3f MB/kdoc)"
          % (warehouse, rows, files, total, total / 1e6 / (rows / 1000.0) if rows else 0.0))
    print()
    print("%-32s %12s %10s %7s %7s %-5s %-5s %-8s %s"
          % ("column", "bytes", "B/row", "share", "ratio", "dict", "stats", "codec", "encodings"))
    for name in sorted(col_bytes, key=lambda n: -col_bytes[n]):
        b = col_bytes[name]
        print("%-32s %12d %10.1f %6.1f%% %7.2f %-5s %-5s %-8s %s"
              % (name, b, per_row(b), 100.0 * b / data_total if data_total else 0.0,
                 col_raw[name] / b if b else 0.0,
                 "yes" if col_dict[name] else "no", "yes" if col_stats[name] else "no",
                 ",".join(sorted(col_codec[name])), ",".join(sorted(col_enc[name]))))
    print()
    print("%-32s %12s %10s %7s %7s" % ("beside the column data", "bytes", "B/row", "share", "files"))
    others = [("footers", footers, files), ("page indexes", page_index, files),
              ("leading magic", 4 * files, files)]
    others += [(k, side[k], side_files[k]) for k in sorted(side)]
    for what, b, n in others:
        print("%-32s %12d %10.1f %6.1f%% %7d"
              % (what, b, per_row(b), 100.0 * b / total if total else 0.0, n))


if __name__ == "__main__":
    main()
