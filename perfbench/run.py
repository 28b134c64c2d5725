"""Importer-first benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program from source (perfbench/build.py), writes the
workload's inputs from the seed before any clock starts
(perfbench/gen.py), then launches the benchmark JVM. Set-up is timed from
process start to a ready session with the untimed warm-up batch done; the
JVM then runs batches back to back, as many as fill --seconds at the
workload's nominal batch length, and checks every batch's written records. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
The metric names, units and workloads are described in perfbench/README.md.
"""

import argparse
import filecmp
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = tuple(gen.GENERATORS)
HEAP = "3g"
YOUNG = "512m"
JVM_DEADLINE_S = 150         # a JVM still running after this is killed
# Spark task threads. The batches are small and bound by per-job driver
# work, so two task threads lose little; they leave the other cores of a
# 4-core machine to the driver thread, the JIT compiler and GC, which
# measured steadier than four.
CORES = 2

# build.sbt's run/test JVM options (Spark on JDK 17 outside spark-submit)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {  # name -> unit
    "batch_p50_s": "s", "records_per_s": "1/s",
    "setup_s": "s", "peak_rss_mb": "MB",
}

LAYERS = ("run.expand", "run.plan", "sources.read", "tabulate.segment",
          "xml.transform", "compile.map", "runtime.write",
          "operators.pipeline", "operators.pairs", "operators.cc")
STAT_UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
              "shuffle_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s",
              "task_skew": "ratio"}
COUNT_UNITS = {
    "run.expand.files": "count", "sources.read.rows": "count",
    "sources.read.bytes_in": "bytes", "tabulate.segment.records": "count",
    "xml.transform.records": "count", "compile.map.records": "count",
    "runtime.write.files": "count", "runtime.write.bytes": "bytes",
    "operators.pairs.pairs": "count", "operators.pipeline.survivors": "count",
}


def per_layer_units():
    units = {f"{l}.{s}": u for l in LAYERS for s, u in STAT_UNITS.items()}
    units.update(COUNT_UNITS)
    units["trace.coverage"] = "ratio"
    units["trace.overhead_ratio"] = "ratio"
    return units


def jvm_command(args):
    cp = build.classpath()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-XX:ParallelGCThreads={CORES}", "-XX:ConcGCThreads=1",
             f"-Djava.io.tmpdir={args['work']}/tmp", "-cp", cp, "perfbench.Main"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


def run_jvm(args, log_path):
    """Runs the benchmark JVM to its end; returns (set-up seconds, exit
    code). Set-up is process start to the `PERFBENCH READY` line; a JVM
    that runs past JVM_DEADLINE_S is killed."""
    os.makedirs(os.path.join(args["work"], "tmp"), exist_ok=True)
    with open(log_path, "ab") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(jvm_command(args), cwd=args["work"],
                                stdout=subprocess.PIPE, stderr=log, text=True)
    timer = threading.Timer(JVM_DEADLINE_S, proc.kill)
    timer.start()
    setup = None
    try:
        for line in proc.stdout:
            if setup is None and line.strip() == "PERFBENCH READY":
                setup = time.monotonic() - t0
        return setup, proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()


def run(opts):
    build.build()
    run_dir = os.path.join(build.BUILD, "runs", f"{opts.workload}-{opts.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    gen.generate(opts.workload, opts.seed, inputs)
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        args = {"workload": opts.workload, "inputs": inputs,
                "work": os.path.join(run_dir, "jvm"), "seconds": opts.seconds, "cores": CORES,
                "trace": opts.trace, "result": os.path.join(run_dir, "result.json")}
        if opts.trace:
            args["spans"] = os.path.join(traces, f"{opts.workload}-seed{opts.seed}.jsonl")
        setup, code = run_jvm(args, log_path)
        if code != 0 or setup is None:
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            raise RuntimeError(f"benchmark JVM exited with {code}")
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
    finally:
        if os.path.exists(log_path):  # kept for a look after the run
            shutil.copy(log_path, os.path.join(build.BUILD, f"{opts.workload}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    times = res["batch_seconds"]
    if not times:
        raise RuntimeError("no batch finished with correct output")
    if opts.trace:
        units = per_layer_units()
        values = {k: res["layers"].get(k, 0.0) for k in units}
    else:
        units = END_TO_END
        values = {"batch_p50_s": statistics.median(times),
                  "records_per_s": res["records"] / sum(times),
                  "setup_s": setup, "peak_rss_mb": res["peak_rss_mb"]}
        # a tail percentile needs 10 batches beyond it; a run holds too few
        # for one above the median, so only the slowest batch is shown
        print(f"slowest batch: {max(times):.3f} s of {len(times)} batches "
              "(too few for batch_tail_s)")
    print("batch seconds: " + " ".join(f"{t:.3f}" for t in times))
    print(f"failed_ratio: {res['failed'] / res['attempted']:.4f} "
          f"({res['failed']} of {res['attempted']} batches; {res['wrong']} wrong output)")
    for k, u in units.items():
        print(f"{k}: {values[k]:.6g} {u}")
    print(json.dumps({"correct": res["wrong"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": values[k], "unit": u}
                                  for k, u in units.items()}}))
    return 0 if res["wrong"] == 0 else 1


def self_test():
    """The generator is a function of (workload, seed): two generations
    with one seed are byte-identical, another seed differs."""
    ok = True
    with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
        for w in WORKLOADS:
            a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            names = sorted(os.listdir(a))
            same = filecmp.cmpfiles(a, b, names, shallow=False)[0] == names
            differs = filecmp.cmpfiles(a, c, names, shallow=False)[0] != names
            print(f"{w}: {len(names)} files, same seed identical: {same}, "
                  f"other seed differs: {differs}")
            ok = ok and same and differs
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    opts = p.parse_args()
    os.makedirs(build.BUILD, exist_ok=True)
    if opts.self_test:
        return self_test()
    if not opts.workload:
        p.error("--workload is required")
    try:
        return run(opts)
    except Exception as e:  # no result line: the run did not measure
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
