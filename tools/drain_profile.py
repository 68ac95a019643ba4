#!/usr/bin/env python3
"""Where each Spark job of the benchmark's drain spends its executor CPU.

    python3 tools/drain_profile.py [--seed 1] [--seconds 10] [--jfr out.jfr]

Runs `perfbench/run.py --workload drain_oneshot --trace 1 --keep` from the
root of the checkout with a JFR recording (`settings=profile`, one
`jdk.ExecutionSample` per running thread every 10 ms), then reads the job
windows from `.bench_work/drain_oneshot/spans.jsonl`, assigns every sample
taken on an executor task thread to the job whose window holds it, and prints,
per job of the timed drains, its wall time and the share of its samples whose
stack holds a frame of each family:

  from_json        Spark's JSON parse (JsonToStructs, JacksonParser, ...)
  jackson          any com.fasterxml.jackson frame
  msgpack_to_json  graft.functions.Msgpack (msgpack rendered as JSON text)
  kernel           graft.ingest.PayloadDecoder (bytes straight to the row)
  parquet_read     the source scan
  parquet_write    the sink's parquet writer
  dict_fallback    parquet dropping a column's dictionary encoding
  sort             the write's sort by partition value, everything under it
  sort_own         samples whose innermost frame is the sorter's own code
  zstd             compression

Jobs are numbered by start within each drain (`#3 streaming` is the same job
in every drain) and summed over the timed drains; `*` marks the drain's
micro-batch job; `--per-drain` adds each drain's row under each job. When
the sources changed since the last benchmark build, the build's JVM records
to the same file first; the harness JVM, which exits last, rewrites it.
`--reuse` reads an earlier recording and the kept spans instead of running.
"""
import argparse
import collections
import datetime
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPANS = os.path.join(ROOT, ".bench_work", "drain_oneshot", "spans.jsonl")
EXECUTOR_THREAD = "Executor task launch worker"

FAMILIES = [
    ("from_json", ("org.apache.spark.sql.catalyst.expressions.JsonToStructs",
                   "org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator",
                   "org.apache.spark.sql.catalyst.json.JacksonParser",
                   "org.apache.spark.sql.catalyst.json.CreateJacksonParser",
                   "org.apache.spark.sql.catalyst.util.FailureSafeParser")),
    ("jackson", ("com.fasterxml.jackson.",)),
    ("msgpack_to_json", ("graft.functions.Msgpack",)),
    ("kernel", ("graft.ingest.PayloadDecoder",)),
    ("parquet_read", ("org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader",
                      "org.apache.spark.sql.execution.datasources.parquet.VectorizedColumnReader",
                      "org.apache.parquet.hadoop.ParquetFileReader")),
    ("parquet_write", ("org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter",
                       "org.apache.parquet.hadoop.InternalParquetRecordWriter",
                       "org.apache.parquet.hadoop.ParquetFileWriter")),
    ("dict_fallback", ("org.apache.parquet.column.values.fallback.FallbackValuesWriter.fallBack",)),
    ("sort", ("org.apache.spark.sql.execution.UnsafeExternalRowSorter",
              "org.apache.spark.util.collection.unsafe.sort.")),
    ("zstd", ("com.github.luben.zstd.",)),
]
SORT_OWN = ("org.apache.spark.sql.execution.UnsafeExternalRowSorter",
            "org.apache.spark.util.collection.unsafe.sort.",
            "org.apache.spark.util.collection.TimSort")
COLUMNS = [f for f, _ in FAMILIES] + ["sort_own"]


def record(seed, seconds, jfr):
    opts = ("-XX:StartFlightRecording=filename=%s,settings=profile,dumponexit=true "
            "-XX:FlightRecorderOptions=stackdepth=256" % jfr)
    env = dict(os.environ, JAVA_TOOL_OPTIONS=opts)
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "drain_oneshot",
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1", "--keep"]
    subprocess.run(cmd, cwd=ROOT, env=env, check=True, stdout=subprocess.DEVNULL)


def epoch_ms(stamp, near_ms):
    # `jfr print` writes local time, "10:42:30.123", with " (2026-10-20)"
    # only when the day is not today's: take the day nearest to `near_ms`
    clock = stamp.split(" (")[0]
    day = datetime.datetime.fromtimestamp(near_ms / 1000.0).date()
    t = datetime.datetime.combine(day, datetime.datetime.strptime(clock, "%H:%M:%S.%f").time())
    ms = t.timestamp() * 1000.0
    return min((ms - 86400000.0, ms, ms + 86400000.0), key=lambda x: abs(x - near_ms))


def samples(jfr, near_ms):
    """(epoch ms, [class.method from innermost out]) per executor sample,
    streamed from `jfr print` (its JSON form of a whole run is too big)."""
    p = subprocess.Popen(["jfr", "print", "--stack-depth", "256", "--events",
                          "jdk.ExecutionSample", jfr], stdout=subprocess.PIPE, text=True)
    t, thread, frames, in_stack = None, "", [], False
    for line in p.stdout:
        line = line.strip()
        if line.startswith("jdk.ExecutionSample"):
            t, thread, frames, in_stack = None, "", [], False
        elif line.startswith("startTime = "):
            t = epoch_ms(line[len("startTime = "):], near_ms)
        elif line.startswith("sampledThread = "):
            thread = line[len("sampledThread = "):].strip('"')
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and line == "]":
            in_stack = False
        elif in_stack and line != "...":
            # "pkg.Class.method(ArgTypes) line: 12" -> "pkg.Class.method"
            frames.append(line.split("(", 1)[0])
        elif line == "}" and t is not None:
            if thread.startswith(EXECUTOR_THREAD):
                yield t, frames
            t = None
    if p.wait() != 0:
        raise SystemExit("jfr print failed on %s" % jfr)


def families(frames):
    hit = set()
    for name, prefixes in FAMILIES:
        if any(f.startswith(prefixes) for f in frames):
            hit.add(name)
    if frames and frames[0].startswith(SORT_OWN):
        hit.add("sort_own")
    return hit


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--jfr", default=os.path.join(ROOT, ".bench_work", "drain_profile.jfr"),
                    help="recording path; with --reuse, an existing recording to read")
    ap.add_argument("--reuse", action="store_true",
                    help="read --jfr and the kept spans.jsonl instead of running the drain")
    ap.add_argument("--per-drain", action="store_true")
    a = ap.parse_args()
    if not a.reuse:
        os.makedirs(os.path.dirname(a.jfr), exist_ok=True)
        record(a.seed, a.seconds, a.jfr)

    with open(SPANS) as fh:
        spans = [json.loads(line) for line in fh]
    ops = sorted((s for s in spans if s["span"] == "op"), key=lambda s: s["start_ms"])
    jobs = collections.defaultdict(list)
    for s in spans:
        if s["span"] == "job":
            jobs[s["parent_op"]].append(s)
    batch_ops = {s["parent_op"]: s for s in spans if s["span"] == "batch"}
    windows = []  # (start, end, op id, ordinal)
    label = {}
    for o in ops:
        js = sorted(jobs[o["id"]], key=lambda j: (j["start_ms"], j["id"]))
        for k, j in enumerate(js):
            windows.append((j["start_ms"], j["end_ms"], o["id"], k))
            label[k] = j["module"]

    counts = collections.defaultdict(collections.Counter)  # (op, k) -> family counts
    totals = collections.Counter()
    unassigned = 0
    for t, frames in samples(a.jfr, ops[0]["start_ms"] if ops else 0):
        # the latest-starting job whose window holds the sample
        hit = [w for w in windows if w[0] <= t <= w[1]]
        if not hit:
            unassigned += 1
            continue
        _, _, op, k = max(hit)
        totals[(op, k)] += 1
        counts[(op, k)].update(families(frames))

    def row(name, wall, n, c):
        shares = "".join("%8.1f" % (100.0 * c[f] / n if n else 0.0) for f in COLUMNS)
        return "%-16s %9s %8d%s" % (name, wall, n, shares)

    header = "%-16s %9s %8s%s" % ("job", "wall_ms", "samples",
                                  "".join("%8s" % f[:7] for f in COLUMNS))
    print("drain_oneshot seed %d: %d timed drains, %d executor samples in their jobs, %d elsewhere"
          % (a.seed, len(ops), sum(totals.values()), unassigned))
    print("shares: % of the job's samples with a frame of the family on the stack")
    print("columns: " + ", ".join(COLUMNS))
    print(header)
    ordinals = sorted({k for (_, k) in totals} | {w[3] for w in windows})
    for k in ordinals:
        walls = [j["end_ms"] - j["start_ms"] for o in ops
                 for i, j in enumerate(sorted(jobs[o["id"]], key=lambda j: (j["start_ms"], j["id"])))
                 if i == k]
        n = sum(totals[(o["id"], k)] for o in ops)
        c = collections.Counter()
        for o in ops:
            c.update(counts[(o["id"], k)])
        star = "*" if any(
            o["id"] in batch_ops and k < len(jobs[o["id"]]) and
            sorted(jobs[o["id"]], key=lambda j: (j["start_ms"], j["id"]))[k]["module"] == "streaming"
            for o in ops) else " "
        wall = "%d-%d" % (min(walls), max(walls)) if walls else "-"
        print(row("#%d %s%s" % (k, label.get(k, "?")[:11], star), wall, n, c))
        if a.per_drain:
            for o in ops:
                js = sorted(jobs[o["id"]], key=lambda j: (j["start_ms"], j["id"]))
                if k < len(js):
                    print(row("   op %d" % o["id"], js[k]["end_ms"] - js[k]["start_ms"],
                              totals[(o["id"], k)], counts[(o["id"], k)]))
    drains = [o["end_ms"] - o["start_ms"] for o in ops]
    if drains:
        print("drain wall ms: median %d (min %d, max %d)"
              % (statistics.median(drains), min(drains), max(drains)))


if __name__ == "__main__":
    main()
