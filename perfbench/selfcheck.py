#!/usr/bin/env python3
"""Fast self-check of the benchmark (sf0.001, three cells, 2000-row batches).

    python3 perfbench/selfcheck.py

For every workload, untraced and traced: the run exits 0, prints a result
line with every metric of BENCHMARK.json by name and unit (run.py itself
refuses a metric the workload should have measured and did not), and
reports no failure. Then it checks that the output check catches a wrong
expectation: a temporary copy of the expected outputs with one hash
altered must make the run report `correct: false`.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def bench(workload, trace, expected=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", "1"]
    if expected:
        cmd += ["--expected", expected]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = run.spec()
    problems = []
    workloads = [w["name"] for w in spec["workloads"]] + run.EXTRA_WORKLOADS
    for w in workloads:
        for trace in (0, 1):
            res = bench(w, trace)
            want = spec["per_layer" if trace else "end_to_end"]
            got = res["metrics"]
            for m in want:
                g = got.get(m["name"])
                if g is None or g.get("unit") != m["unit"] or not isinstance(g.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or without unit")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: correct={res['correct']} failed={res['failed']}")
            print(f"{w} trace={trace}: {len(got)} metrics, {res['attempted']} ops, "
                  f"{res['failed']} failed")

    # the output check must reject a wrong expectation
    src = os.path.join(HERE, "expected", "inventory-sf0.01-smoke.tsv")
    tmp = os.path.join(build.build_dir(), "selfcheck-wrong.tsv")
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    shutil.copyfile(src, tmp)
    with open(tmp) as fh:
        lines = fh.read().splitlines()
    i = next(k for k, l in enumerate(lines) if not l.startswith("#"))
    cell, rows, digest = lines[i].split("\t")
    lines[i] = "\t".join([cell, rows, ("0" if digest[0] != "0" else "1") + digest[1:]])
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    res = bench("inventory-sf0.01", 0, expected=tmp)
    os.unlink(tmp)
    if res["correct"] or res["failed"] < 1:
        problems.append("a wrong expected hash was not reported as a failure")
    else:
        print(f"wrong expectation for {cell}: reported, {res['failed']} failed")

    for p in problems:
        print("FAIL", p)
    print("selfcheck:", "FAIL" if problems else "PASS")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
