#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), runs the workload in
one JVM with one closed-loop client, checks the outputs, and prints one
JSON object as the last stdout line: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1). Everything else goes to stderr.

Development flags: `--smoke 1` runs the fast self-check scale (sf0.001,
three cells, 2000-row batches); `--record 1` rewrites the expected outputs
of a Spark workload; `--expected <file>` checks against another file.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# Fixed heap of the benchmark JVM (the same on every run and commit).
HEAP = "3g"
# The JVM is killed after this long; the whole run must end within 180 s.
JVM_TIMEOUT_S = 170
# Layers a workload does not run: their per-layer metrics read 0 there.
NOT_RUN = {
    "inventory-sf0.01": ("sort.",),
    "scale-heavy": ("sort.",),
    "sort-kernel": ("queries.", "spark.", "sources.", "pipeline.", "streaming.", "family.",
                    "jvm.session_s"),
}
# Runnable workloads outside BENCHMARK.json: their runs do not fit the
# benchmark's time budget (see perfbench/README.md).
EXTRA_WORKLOADS = ["scale-heavy"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def testdata_root():
    """Directory holding the read-only test corpora, as TESTDATA.md names
    them (one `sf<x>/` directory per scale factor)."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
        m = re.search(r"`([^`]+)/sf0\.01/?`", fh.read())
    if not m or not os.path.isdir(os.path.join(m.group(1), "sf0.01")):
        sys.exit("TESTDATA.md names no readable sf0.01 corpus")
    return m.group(1)


def remove_new(snapshot):
    """Delete what the run added under the program's scratch root (listed
    by the JVM in `snapshot` before it started) and return its size in MB."""
    try:
        with open(snapshot) as fh:
            root, *before = fh.read().splitlines()
    except (OSError, ValueError):
        return 0.0
    before = set(before)
    new, size = [], 0
    for dp, dns, fns in os.walk(root):
        for n in dns + fns:
            p = os.path.join(dp, n)
            if p not in before:
                new.append(p)
                if n in fns:
                    size += os.lstat(p).st_size
    for p in sorted(new, key=len, reverse=True):
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.lexists(p):
            os.unlink(p)
    return size / 1048576.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=None)
    a = ap.parse_args()

    bench = spec()
    names = [w["name"] for w in bench["workloads"]] + EXTRA_WORKLOADS
    if a.workload not in names:
        sys.exit(f"unknown workload {a.workload!r}; known: {', '.join(names)}")
    classes = build.build()

    bdir = build.build_dir()
    work = os.path.join(bdir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(bdir, "traces")
    os.makedirs(traces, exist_ok=True)
    suffix = "-smoke" if a.smoke else ""
    expected = a.expected or os.path.join(HERE, "expected", f"{a.workload}{suffix}.tsv")
    out = os.path.join(work, "result.json")

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(build.JARS, "*"),
            "graft.bench.perf.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--work", work,
            "--testdata", testdata_root(), "--expected", expected,
            "--record", str(a.record), "--smoke", str(a.smoke)]
    if a.trace:
        cmd += ["--spans", os.path.join(traces, f"{a.workload}{suffix}-seed{a.seed}.spans.jsonl")]

    snapshot = os.path.join(work, "scratch.before")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):  # killed from outside: take the JVM and its scratch along
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        remove_new(snapshot)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    wall = time.monotonic() - t0
    left_mb = remove_new(snapshot)
    try:
        with open(out) as fh:
            res = json.load(fh) if code == 0 else None
    except (OSError, ValueError):
        res = None
    shutil.rmtree(work, ignore_errors=True)
    if res is None:
        sys.exit(f"benchmark JVM failed (exit {code}, {wall:.1f} s)")

    measured = res["metrics"]
    measured["wall_s"] = wall
    measured["sources.scratch_left_mb"] = left_mb
    for e in res["errors"]:
        print(f"[perfbench] failed: {e}", file=sys.stderr)
    key = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in bench[key]:
        v = measured.get(m["name"])
        if v is None:
            if not m["name"].startswith(NOT_RUN[a.workload]):
                sys.exit(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
