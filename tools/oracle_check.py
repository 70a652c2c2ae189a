#!/usr/bin/env python3
"""Check a graft.Verify dump against its DuckDB oracles.

Usage:
    python3 tools/oracle_check.py <verify-out-dir> <sf-dir>

<verify-out-dir> is what `sbt "runMain graft.Verify <sf-dir> <verify-out-dir>"`
wrote: one parquet directory per gate plus oracle_sql.json (gate name ->
DuckDB SQL). Every `<sf-dir>/<table>.parquet` becomes a DuckDB view named
<table>; each oracle runs against those views and its rows are compared with
the gate's Spark parquet. Both sides are compared the same way: columns sorted
by name, every value rendered as a string, rows sorted. Prints one line per
gate and exits 1 if any gate mismatches or is missing.

Needs python3 with duckdb and pandas.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd


def parquet_glob(path):
    """read_parquet argument for a single parquet file or a parquet directory."""
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def as_str(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    return str(v)


def normalized(rel):
    """Relation -> DataFrame of strings, columns sorted by name, rows sorted."""
    cols = rel.columns
    df = pd.DataFrame(rel.fetchall(), columns=cols, dtype=object)
    df = df[sorted(cols)].map(as_str)
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df) else df


def check(con, name, sql, out_dir):
    spark_dir = os.path.join(out_dir, name)
    if not os.path.isdir(spark_dir):
        return False, "no Spark output"
    got = normalized(con.sql(f"SELECT * FROM read_parquet('{parquet_glob(spark_dir)}')"))
    want = normalized(con.sql(sql))
    if list(got.columns) != list(want.columns):
        return False, f"columns differ: spark {list(got.columns)} oracle {list(want.columns)}"
    if len(got) != len(want):
        return False, f"row count differs: spark {len(got)} oracle {len(want)}"
    diff = (got != want).any(axis=1)
    if diff.any():
        i = int(diff.idxmax())
        return False, (f"{int(diff.sum())} rows differ; first: spark {got.iloc[i].tolist()} "
                       f"oracle {want.iloc[i].tolist()}")
    return True, f"{len(got)} rows"


def main(argv):
    if len(argv) != 3:
        print("usage: python3 tools/oracle_check.py <verify-out-dir> <sf-dir>", file=sys.stderr)
        return 2
    out_dir, sf_dir = argv[1], argv[2]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for entry in sorted(os.listdir(sf_dir)):
        if entry.endswith(".parquet"):
            path = parquet_glob(os.path.join(sf_dir, entry))
            con.execute(f"CREATE VIEW {entry[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')")
    failed = 0
    for name in sorted(oracles):
        try:
            ok, detail = check(con, name, oracles[name], out_dir)
        except duckdb.Error as e:
            ok, detail = False, f"duckdb error: {e}".splitlines()[0]
        failed += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {detail}")
    print(f"{len(oracles) - failed}/{len(oracles)} gates match")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
