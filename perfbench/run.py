"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from this checkout's sources (perfbench/build.py),
generates the input tables (perfbench/datagen.py), runs one workload in
one JVM (perfbench/scala/perfbench/Main.scala), checks every answer
(perfbench/checks.py) and prints one JSON line: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`
(perfbench/metrics.py).  The full report of the run, with per-operation
sample counts and percentiles and every failure by operation, is kept in
perfbench/.work/reports/ for the layer differ (perfbench/diff.py).

Workloads: point-read, freshen-writeback, llm-batch, stream-replay.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("point-read", "freshen-writeback", "llm-batch", "stream-replay")
JVM_TIMEOUT_S = 170
# The program's own JVM options (build.sbt javaOptions: the module opens
# Spark needs on JDK 17, UI off, UTC), with two constants of the benchmark's
# own: a fixed 3 GB heap, inside the 2-8 GB range the test suite's run
# picks from the machine's memory (ROADMAP.md), so that results do not
# depend on the host's memory; and the parallel collector in place of the
# default G1, because under G1 the peak resident memory of a run spreads by
# about 20% (quartile distance over the median) between runs of the same
# code, and under the parallel collector with this heap by about 5%.
JVM_OPTS = ["-XX:+UseParallelGC", "-Xmx3g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(args, classpath, data, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
                       "--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--data", data, "--work", run_dir, "--out", out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("workload JVM timed out")
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        kept = os.path.join(WORK, "failed-jvm.log")
        shutil.copy(os.path.join(run_dir, "jvm.log"), kept)
        sys.stderr.write(f"JVM log kept in {os.path.relpath(kept, ROOT)}\n")
        raise SystemExit(f"workload JVM failed (exit {rc})")
    with open(out) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, HERE)
    import build
    import checks
    import datagen
    import metrics

    # exits non-zero when the program's sources are missing
    classpath = os.pathsep.join([build.build()] + build.spark_jars())
    deadline = time.time() + JVM_TIMEOUT_S
    data = os.path.join(WORK, "data")
    if not os.path.exists(os.path.join(data, "_done")):
        shutil.rmtree(data, ignore_errors=True)
        datagen.generate(data)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    phases = {"prepare_s": time.time() - start}
    try:
        t = time.time()
        result = run_jvm(args, classpath, data, run_dir, deadline)
        phases["jvm_s"] = time.time() - t
        t = time.time()
        con = checks.connect(data, os.path.join(run_dir, "duckdb"))
        failures = list(result["failures"])
        stale_share = 0.0
        if args.workload == "point-read":
            found, stale_share = checks.point_reads(con, result)
            failures += found
        elif args.workload in ("llm-batch", "stream-replay"):
            failures += checks.query_results(con, result)
        con.close()
        phases["check_s"] = time.time() - t
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_ops = {f["index"] for f in failures}
    for i in failed_ops:
        if i is not None and 0 <= i < len(result["ops"]):
            result["ops"][i]["ok"] = False
    attempted, failed = len(result["ops"]), sum(1 for o in result["ops"] if not o["ok"])
    e2e = metrics.end_to_end(result, failed, attempted)
    if args.trace:
        values = metrics.per_layer(result, metrics.module_map(build.PROGRAM_SRC), e2e, stale_share)
        out = {k: {"value": v, "unit": metrics.PER_LAYER[k]} for k, v in values.items()}
    else:
        out = {k: {"value": v, "unit": metrics.END_TO_END[k]} for k, v in e2e.items()}

    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "wall_s": time.time() - start, "phases": phases, "metrics": out,
              "named": metrics.named(result, failed, attempted),
              "operations": metrics.detail(result), "failures": failures,
              "stale_share": stale_share, "extra": {k: v for k, v in result["extra"].items()
                                                    if k not in ("oracle",)},
              "setup_s": result["setup_s"], "warmup_s": result["warmup_s"],
              "timed_s": result["timed_s"]}
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for f in failures:
        print(f"FAILED {f.get('op')} #{f.get('index')} {f.get('query', '')}: {f['error']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
