#!/usr/bin/env python3
"""Share of executor-thread CPU samples per kernel layer, from a JFR recording.

Usage:
    python3 tools/jfr_layers.py <recording.jfr> [--last S]

Reads the recording's `jdk.ExecutionSample` events through
`jfr print --json` (the JDK's `jfr` tool must be on PATH) and keeps the
samples of Spark's executor task threads ("Executor task launch worker",
stacks up to 256 frames deep). `--last S` keeps the last S seconds of
executor-thread samples: in a `perfbench` run that is the end of the timed
loop, which runs at least `--seconds` and is followed only by the
driver-thread kernel probe.

Each sample goes to one layer. Its stack is walked from the leaf towards the
root, and the first frame that names a layer decides, so a layer holds what
it calls until a nearer frame names another one:

    content lexing   graft.pdf.ContentParser
    text ops         graft.pdf.TextExtractor, graft.pdf.ContentProcessor
                     (with the colour spaces, tint functions and CMap loads
                     they call)
    decode           graft.pdf.Filters, PdfDocument.allContentStreams
    xref             PdfFileParser.load
    html             graft.html

A stack where no frame names a layer is the model if it holds a graft.pdf
frame (object model, page tree, crypt), glue if it holds another graft frame
(Extract, the Pipeline lambda), task deserialization if a frame reads the
task (Spark's closure deserializer, ObjectInputStream, Hadoop Configuration),
and non-kernel otherwise: Spark, row encoding, the parquet writer, the JDK.

A recording can be made with, for example,
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile"
    python3 perfbench/run.py --workload pdf_fresh --seed 1 --seconds 20 --trace 0
The table is printed to standard output, one layer per line, with the sample
count and its share of all kept samples.
"""
import argparse
import datetime
import json
import subprocess
import sys

LAYERS = ["content lexing", "text ops", "decode", "xref", "model", "html", "glue",
          "task deserialization", "non-kernel"]
KERNEL = LAYERS[:7]

EXECUTOR_THREAD = "Executor task launch worker"
STACK_DEPTH = 256

DESERIALIZE = (
    "org.apache.spark.serializer.JavaDeserializationStream",
    "org.apache.spark.serializer.JavaSerializerInstance.deserialize",
    "java.io.ObjectInputStream",
    "org.apache.hadoop.conf.Configuration",
)


def frame_name(frame):
    """"pkg.Class.method"; jfr prints class names with '/' separators."""
    m = frame.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return "%s.%s" % (cls, m.get("name", "?"))


def named_layer(name):
    """The layer a frame names, or None."""
    if name.startswith("graft.pdf.ContentParser"):
        return "content lexing"
    if name.startswith(("graft.pdf.TextExtractor", "graft.pdf.ContentProcessor")):
        return "text ops"
    if name.startswith("graft.pdf.Filters") or name == "graft.pdf.PdfDocument.allContentStreams":
        return "decode"
    if name == "graft.pdf.PdfFileParser.load":
        return "xref"
    if name.startswith("graft.html."):
        return "html"
    return None


def classify(names):
    """The frame nearest the leaf that names a layer decides."""
    for n in names:
        layer = named_layer(n)
        if layer is not None:
            return layer
    if any(n.startswith("graft.pdf.") for n in names):
        return "model"
    if any(n.startswith("graft.") for n in names):
        return "glue"
    if any(n.startswith(DESERIALIZE) for n in names):
        return "task deserialization"
    return "non-kernel"


def parse_time(s):
    # "2026-10-20T08:30:01.123456789Z" or with an offset; keep microseconds
    s = s.replace("Z", "+00:00")
    head, _, rest = s.partition(".")
    frac, tz = rest, ""
    for sep in ("+", "-"):
        if sep in rest:
            frac, tz = rest.split(sep, 1)
            tz = sep + tz
            break
    frac = (frac + "000000")[:6]
    return datetime.datetime.fromisoformat(head + "." + frac + tz).timestamp()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--last", type=float, default=None,
                    help="keep the last this many seconds of executor-thread samples")
    a = ap.parse_args()

    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
                          "--events", "jdk.ExecutionSample", a.recording],
                         check=True, stdout=subprocess.PIPE).stdout
    events = json.loads(out)["recording"]["events"]
    del out
    kept = []
    for e in events:
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        if thread.startswith(EXECUTOR_THREAD):
            kept.append((parse_time(v["startTime"]), v))
    t_end = max((t for t, _ in kept), default=0.0)
    counts = dict.fromkeys(LAYERS, 0)
    for t, v in kept:
        if a.last is not None and t < t_end - a.last:
            continue
        frames = (v.get("stackTrace") or {}).get("frames") or []
        counts[classify([frame_name(f) for f in frames])] += 1

    total = sum(counts.values())
    if total == 0:
        sys.exit("jfr_layers: no executor-thread samples in %s" % a.recording)
    print("%-22s %8s %7s" % ("layer", "samples", "share"))
    for layer in LAYERS:
        print("%-22s %8d %6.1f%%" % (layer, counts[layer], 100.0 * counts[layer] / total))
    kernel = sum(counts[l] for l in KERNEL)
    print("%-22s %8d %6.1f%%" % ("kernel (all graft)", kernel, 100.0 * kernel / total))
    print("%-22s %8d" % ("executor samples", total))


if __name__ == "__main__":
    main()
