#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, measured end to end
(untraced) or layer by layer (traced). See perfbench/README.md.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from src/main
with the benchmark's sources (cached in .bench_build/), generates the
workload's inputs from the seed, runs them in one JVM, checks the
outputs in DuckDB and prints one JSON result as its last stdout line.
Everything it writes stays under .bench_build/ and .bench_run/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("ingest_stream", "pipe_cranker")
XMX = "3g"
# Set-ups per run; setup_s is their median. ingest_stream's set-up builds
# the stores (about 20 s cold), so it sets up once to keep each run well
# inside the time a run may take; pipe_cranker's set-up is cheap after
# the first, so it takes three.
SETUPS = {"ingest_stream": 1, "pipe_cranker": 3}
# A run must end within 180 s (the first, which builds, within 900 s).
DEADLINE_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END_UNITS = {"setup_s": "s", "docs_per_s": "1/s", "latency_p50_s": "s",
                    "peak_rss_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def ensure_duckdb():
    """Re-run under a python3 on PATH that has duckdb, if this one lacks it."""
    try:
        import duckdb  # noqa: F401
        return
    except ImportError:
        pass
    if os.environ.get("PERFBENCH_REEXEC"):
        sys.exit("perfbench: no python3 on PATH can import duckdb")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        cand = os.path.join(d, "python3")
        if os.access(cand, os.X_OK) and os.path.realpath(cand) != os.path.realpath(sys.executable):
            ok = subprocess.run([cand, "-c", "import duckdb"], capture_output=True).returncode == 0
            if ok:
                os.environ["PERFBENCH_REEXEC"] = "1"
                os.execv(cand, [cand] + sys.argv)
    sys.exit("perfbench: no python3 on PATH can import duckdb")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile src/main and the benchmark's Scala sources into
    .bench_build/classes, unless the sources are unchanged."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        sys.exit("perfbench: no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, stamp = os.path.join(out, "classes"), os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    log(f"building {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
                        "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                        "-usejavacp", "-encoding", "UTF-8", "-nowarn",
                        "-d", tmp, "@" + argfile], capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        sys.exit("perfbench: build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def generate_inputs(workload, seed, run_dir):
    """Generate the inputs twice and require byte-identical files."""
    import gen
    inputs = os.path.join(run_dir, "inputs")
    again = os.path.join(run_dir, "inputs.again")
    first = gen.generate(workload, seed, inputs)
    second = gen.generate(workload, seed, again)
    shutil.rmtree(again)
    if first != second:
        sys.exit(f"perfbench: inputs for seed {seed} are not reproducible")
    return inputs


def run_jvm(workload, seconds, trace, classes, jars, run_dir, inputs, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{XMX}", f"-Xmx{XMX}", *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            f"-Dderby.system.home={run_dir}",
            # deep enough call sites to reach this repo's frames (traced only)
            *(["-Dspark.callstack.depth=200"] if trace else []),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main", workload, inputs, run_dir, str(seconds),
            "1" if trace else "0", str(SETUPS[workload])])
    out_path = os.path.join(run_dir, "jvm.log")
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    res = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(out_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: {workload} JVM exited with {p.returncode}")
    with open(res) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    ensure_duckdb()
    import checks
    import report

    jars = spark_jars()
    classes = build(jars)
    deadline = time.time() + DEADLINE_S
    runs = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # untraced latency medians of earlier runs in this checkout: the
    # baseline the traced run's overhead is measured against
    history = os.path.join(runs, f"untraced_{args.workload}.jsonl")
    try:
        inputs = generate_inputs(args.workload, args.seed, run_dir)
        passes = [True] if args.trace else [False]
        if args.trace and not os.path.exists(history):
            passes = [False, True]
        problems = []
        for traced in passes:
            d = os.path.join(run_dir, "traced" if traced else "untraced")
            os.makedirs(d)
            res = run_jvm(args.workload, args.seconds, traced, classes, jars, d, inputs,
                          deadline - time.time())
            problems += checks.check(args.workload, res, inputs, d)
            if not traced and not problems:
                with open(history, "a") as f:
                    f.write(json.dumps(report.end_to_end(res)) + "\n")
        for p in problems:
            log(f"CHECK FAILED: {p}")
        out = {"correct": not problems, "attempted": len(res["ops"]),
               "failed": report.failed_ops(res, problems), "metrics": {}}
        if not problems:
            if args.trace:
                with open(history) as f:
                    base = [json.loads(line)["latency_p50_s"] for line in f]
                out["metrics"] = report.per_layer(res, report.median(base))
                with open(os.path.join(runs, f"last_trace_{args.workload}.json"), "w") as f:
                    json.dump(report.span_table(res), f, indent=1)
            else:
                out["metrics"] = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                                  for k, v in report.end_to_end(res).items()}
            log("latencies (s): " + " ".join(f"{x:.2f}" for x in report.latencies(res)))
            log(f"latency tail: {report.latency_tail(res) or 'omitted (fewer than 20 ops)'}")
        print(json.dumps(out))
        sys.stdout.flush()
        if problems:
            sys.exit(1)
        shutil.rmtree(run_dir, ignore_errors=True)
    except BaseException:
        log(f"run directory kept: {run_dir}")
        raise


if __name__ == "__main__":
    main()
