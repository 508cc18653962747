#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload etl_letters --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the benchmark (`perfbench/src`) with the Scala
compiler that ships in the Spark distribution (`$SPARK_HOME/jars`, else the
`jars` directory next to `spark-submit` on PATH) into `.bench_build/`; later
runs reuse the classes while the sources are unchanged.

The run measures `--seconds` of closed-loop passes over the workload's
queries (`perfbench/workloads/<name>.txt`) on the committed input tables
(`perfbench/data/<scale>`), checks every output against
`perfbench/expected/<scale>.tsv`, and prints one JSON line of details and,
last, the result line: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer
metrics with `--trace 1`). Everything it writes stays under
`.bench_build/` and is deleted at exit, apart from traced spans, which are
kept in `.bench_build/perfbench/spans/`.

Exit codes: 0 ok, 2 bad arguments or missing sources/toolchain, 3 the
workload lists do not partition the engine's queries, 4 build failure,
5 the run failed or timed out.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
ENTRY = os.path.join(MAIN_SRC, "graft", "SparkEntry.scala")
# a timed run must end within 180 s; `--queries all` runs as long as it needs
RUN_TIMEOUT_S = {"timed": 170, "all": 3600}
# Directories the engine's streaming tier writes outside any configured root.
STREAM_TMP = ["/tmp/graft_kmv_upsert", "/tmp/graft_topk_upsert"]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(2, "no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + bench


def build(jars):
    """Compile engine + benchmark into BUILD/classes unless already current."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(os.listdir(jars)):
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, f"classes.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail(4, "compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def stream_tmp_entries():
    return {os.path.join(p, e) for p in STREAM_TMP if os.path.isdir(p) for e in os.listdir(p)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    # self-test hooks (perfbench/selftest.py)
    ap.add_argument("--scale", default="sf0.01")
    ap.add_argument("--workloads-dir", default=os.path.join(HERE, "workloads"))
    ap.add_argument("--inject-throw")
    ap.add_argument("--corrupt-hash")
    # time the whole workload list instead of its `timed` queries
    ap.add_argument("--queries", choices=["timed", "all"], default="timed")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    data = os.path.join(HERE, "data", args.scale)
    expected = os.path.join(HERE, "expected", f"{args.scale}.tsv")
    for need in (ENTRY, spec_path, data, expected):
        if not os.path.exists(need):
            fail(2, f"missing {os.path.relpath(need, ROOT)}: run from the root of a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(2, f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    classes = build(jars)

    scratch = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "result.json")
    spans = os.path.join(BUILD, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    before = stream_tmp_entries()
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
        "-XX:CompileThresholdScaling=0.3",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        "graft.perfbench.Runner",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--workloads", args.workloads_dir, "--expected", expected,
        "--scratch", scratch, "--out", out, "--spans", spans, "--queries", args.queries]
    if args.inject_throw:
        cmd += ["--inject-throw", args.inject_throw]
    if args.corrupt_hash:
        cmd += ["--corrupt-hash", args.corrupt_hash]
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        _, err = proc.communicate(timeout=RUN_TIMEOUT_S[args.queries])
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        err = ""
    leftover = stream_tmp_entries() - before
    left_bytes = sum(dir_bytes(p) for p in leftover)
    for p in leftover:
        shutil.rmtree(p, ignore_errors=True)
    result = None
    if proc.returncode == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    shutil.rmtree(scratch, ignore_errors=True)
    if result is None:
        lines = [l for l in (err or "").splitlines() if "[perfbench]" in l or "Exception" in l]
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(3 if proc.returncode == 3 else 5, f"run failed (JVM exit {proc.returncode})")

    source = result.get("layers", {}) if args.trace else result
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    details = {k: v for k, v in result.items() if k != "layers"}
    details.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "scale": args.scale, "stream_tmp_leftover_bytes": left_bytes,
                    "missing_metrics": missing})
    print(json.dumps({"perfbench_details": details}, sort_keys=True))
    print(json.dumps({
        "correct": result["failed"] == 0 and not missing,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
