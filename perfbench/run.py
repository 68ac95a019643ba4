#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload drain_oneshot --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It builds the program together with the
harness (perfbench/build.sbt) when the sources changed since the last build,
generates the workload's inputs from the seed (gen.py), runs the JVM harness
(perfbench.Harness) and prints, as its last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Build output goes to
$CARGO_TARGET_DIR (default .bench_build), scratch data to .bench_work; both
stay inside the checkout.

Extra flags: `--record-golden` rewrites golden_digests.json from this tree
(query_mix only), `--keep` keeps .bench_work (inputs, spans.jsonl).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("drain_oneshot", "drain_resume", "query_mix")
END_TO_END = ("setup_s", "wall_s", "items_per_s", "cpu_s")
SETUP_REPEATS = 3
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def build(out):
    """Compile src/main plus the harness into `out`; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read()
    log("building harness and program into", out)
    os.makedirs(out, exist_ok=True)
    sbt_target = os.path.join(out, "sbt")
    args = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false",
            "-Dsbt.global.base=" + os.path.join(out, "sbt-global"),
            "-Dperfbench.target=" + sbt_target, "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        args += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    args += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(args, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    classes = os.path.join(sbt_target, "scala-2.13", "classes")
    cp = [ln.strip() for ln in p.stdout.splitlines() if ln.strip().startswith(classes)]
    if not cp:
        raise SystemExit("build did not export a classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def java_cmd(cp, work, main_class):
    """The JVM launch line: build.sbt's forked-run options, scratch in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return cmd + ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main_class]


def run_jvm(cp, workload, seed, seconds, trace, input_dir, work, result, record_golden):
    cmd = java_cmd(cp, work, "perfbench.Harness") + [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores()), "--input", input_dir,
            "--work", work, "--result", result,
            "--golden", os.path.join(HERE, "golden_digests.json")]
    if record_golden:
        cmd += ["--record-golden", "1"]
    start = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("harness exceeded %d s" % RUN_LIMIT_S)
    if code != 0 or not os.path.exists(result):
        raise SystemExit("harness exited with %d" % code)
    return start


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true")
    ap.add_argument("--keep", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources under %s/src/main/scala" % ROOT)
    cp = build(build_dir())

    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    input_dir = os.path.join(work, "input")
    try:
        # set-up part 1: input generation, repeated; its median counts
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t = time.time()
            gen.generate(a.workload, a.seed, input_dir)
            gen_s.append(time.time() - t)
        result = os.path.join(work, "result.json")
        spawned = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, input_dir, work,
                          result, a.record_golden)
        with open(result) as fh:
            r = json.load(fh)
        if a.trace == 1 and a.keep:
            log("spans:", os.path.join(work, "spans.jsonl"))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    metrics = r["metrics"]
    if a.trace == 0:
        # set-up part 2: JVM start, session, base lake and warm-up, once
        jvm_setup = (r["first_op_ms"] / 1000.0) - spawned
        metrics["setup_s"] = {"value": statistics.median(gen_s) + jvm_setup, "unit": "s"}
        peak_rss = metrics["peak_rss_mb"]
        metrics = {k: metrics[k] for k in END_TO_END}
    info = r["info"]
    for k, m in sorted(metrics.items()):
        print("%-40s %14.6f %s" % (k, m["value"], m["unit"]))
    print("%-40s %14.6f %s" % ("failed_frac", info["failed_frac"], "ratio"))
    if a.trace == 0:
        print("%-40s %14.6f %s" % ("peak_rss_mb", peak_rss["value"], "MB"))
    if info.get("lake_bytes_per_msg") is not None:
        print("%-40s %14.6f %s" % ("lake_bytes_per_msg", info["lake_bytes_per_msg"], "B/msg"))
    for k in ("round_walls_s", "round_cpu_s"):
        print("%-40s %s" % (k, " ".join("%.3f" % x for x in info[k])))
    print("%-40s %14s" % ("output_check", "passed" if r["correct"] else "FAILED"))
    for e in info["errors"]:
        print("error:", e)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
