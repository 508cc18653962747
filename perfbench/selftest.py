#!/usr/bin/env python3
"""Self-test of the benchmark on the smallest input scale (sf0.001).

    python3 perfbench/selftest.py

Checks, each with a short run of perfbench/run.py:
  1. an untraced run prints every end-to-end metric of BENCHMARK.json with
     its unit, and a traced run every per-layer metric;
  2. an injected throwing query and a corrupted expected digest each make
     the run report failed executions (failed_frac > 0, correct false);
  3. workload lists that leave one query unassigned are rejected at start-up.
Exits 0 when every check passes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def run(*extra, workload="stream_replay", trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001", *extra]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if r.returncode == 0 and lines else None
    details = json.loads(lines[-2])["perfbench_details"] if last and len(lines) > 1 else None
    return r.returncode, last, details, r.stderr


def check(name, ok, info=""):
    print(f"{'PASS' if ok else 'FAIL'} {name}{(': ' + info) if info and not ok else ''}")
    if not ok:
        failures.append(name)


def main():
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        for w in [w["name"] for w in SPEC["workloads"]]:
            code, last, _, err = run(workload=w, trace=trace)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v.get("unit") for k, v in (last or {}).get("metrics", {}).items()}
            check(f"{w} trace={trace} prints every {key} metric with its unit",
                  code == 0 and got == want and last["correct"],
                  f"exit {code}, missing {sorted(set(want) - set(got))}, {err[-300:]}")

    code, last, det, err = run("--inject-throw", "q50_stream_tumbling")
    check("injected throwing query raises failed_frac",
          code == 0 and last["failed"] > 0 and not last["correct"] and det["failed_frac"] > 0,
          f"exit {code} {last} {err[-300:]}")
    code, last, det, err = run("--corrupt-hash", "q112_stream_admission")
    check("corrupted expected digest raises failed_frac",
          code == 0 and last["failed"] > 0 and not last["correct"] and det["failed_frac"] > 0,
          f"exit {code} {last} {err[-300:]}")

    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        for f in os.listdir(os.path.join(HERE, "workloads")):
            shutil.copy(os.path.join(HERE, "workloads", f), tmp)
        path = os.path.join(tmp, "stream_replay.txt")
        lines = open(path).read().splitlines()
        dropped = [l for l in lines if l.startswith("q50_")]
        open(path, "w").write("\n".join(l for l in lines if l not in dropped) + "\n")
        code, last, _, err = run("--workloads-dir", tmp)
        check("partition check rejects an unassigned query",
              code == 3 and last is None and "unassigned query q50_stream_tumbling" in err,
              f"exit {code}, stderr {err[-300:]}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"{'OK' if not failures else 'FAILED'}: {len(failures)} failing checks")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
