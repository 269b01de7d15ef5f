"""Run one workload of the engine and print one JSON result line.

    python3 e2ebench/run.py --workload {cdc,llm_batch} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout of the engine. Before its clock starts,
a run builds what its seed still lacks under ``e2ebench/.build``
(reference.py). The engine runs in this process with session.py's settings
on ``local[<cores>]``; all it writes goes under ``e2ebench/.work``. With
``--trace 0`` the last line holds the end-to-end metrics, with
``--trace 1`` the per-layer ones, and the spans go to
``e2ebench/.work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("cdc", "llm_batch")


def _environment(work: str) -> int:
    """Session settings stay with session.py, except the core count; every
    file the engine and its workers write lands under ``work``."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd()] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    return cores


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description="inspark end-to-end benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "inspectadb_spark", "engine.py")):
        print("e2ebench: run from the root of a checkout of the engine "
              "(inspectadb_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import probe
    import reference
    import workloads

    pre_s = time.perf_counter() - T_START
    build = reference.build(a.seed)
    rounds = workloads.rounds(a.workload, a.seconds)
    cdc_dir = (reference.build_cdc(a.seed, rounds)
               if a.workload == "cdc" else None)
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = _environment(work)

    host_before = probe.cpu_probe_s()
    steal0 = probe.steal_s()
    t_ready = time.perf_counter()  # the build and host probe are not set-up
    from inspectadb_spark.session import get_session

    spark = get_session("e2ebench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    trace = probe.Trace(bool(a.trace))
    ctx = workloads.Context(spark, build, cdc_dir, work, a.seed, rounds,
                            trace, pre_s + time.perf_counter() - t_ready)
    try:
        result = workloads.run(a.workload, ctx)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        result.rss_mb = probe.rss_peak_mb([os.getpid(), jvm_pid])
        result.gc_s = probe.gc_s(spark) - ctx.gc0
    finally:
        _stop(spark)
    result.host = {"host.cpu_probe_s.before": host_before,
                   "host.cpu_probe_s.after": probe.cpu_probe_s(),
                   "host.steal_s": probe.steal_s() - steal0}
    metrics = result.metrics(bool(a.trace))
    if a.trace:
        trace.write(os.path.join(HERE, ".work",
                                 f"trace-{a.workload}-{a.seed}.json"))
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "rounds": rounds, "wall_s": time.perf_counter() - T_START,
              "peak_rss_mb": result.rss_mb,
              **result.host, **{k: v["value"] for k, v in metrics.items()},
              "samples": result.samples}
    with open(os.path.join(HERE, ".work", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": result.correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
