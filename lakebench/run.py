"""Lake benchmark: medallion writes, iterative driver loops and shuffle joins.

Run from the repository root:

    python3 lakebench/run.py --workload medallion --seed 1 --seconds 15 --trace 0

One Spark driver process on ``local[<cores>]`` runs one workload (see
``workloads.py``). Set-up is the session start plus one verifying pass,
which also warms the JIT. Then timed passes run until ``--seconds`` have
passed, and at least ``MIN_PASSES`` of them. With ``--trace 0`` the last
stdout line holds the end-to-end metrics; with ``--trace 1`` traced and
untraced passes alternate and it holds the per-layer metrics. Every
output is checked on every run; a failed check counts as a failed
operation and makes ``correct`` false.

Inputs come from ``--seed``: for ``medallion`` it seeds the Olist bronze
lake and its change batch; for ``registry`` it fixes the order
of the operations, over a star lake generated at a fixed seed. All files
go under ``.lakebench/`` in the working directory, and the work files
are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".lakebench")

#: Olist orders in the medallion lake (the public dataset has ~99k)
MEDALLION_ORDERS = 2000
#: scale and seed of the read-only star lake (lineitem ~ 6M x sf)
STAR_SF = 0.002
STAR_SEED = 42
WORKLOADS = ("medallion", "registry")
#: timed passes per run at least, whatever ``--seconds`` allows: the JIT
#: is still warming, and a median of three passes drops one pass slowed by
#: a burst of load from elsewhere on the host
MIN_PASSES = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare(workload: str, seed: int, work: str) -> dict:
    """Generate the inputs and the expected outputs, before Spark starts."""
    import checks
    import olist
    import starlake
    import workloads

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if workload == "medallion":
        base, base_v2 = os.path.join(work, "lake"), os.path.join(work, "lake_v2")
        t0 = time.perf_counter()
        manifest = olist.write_lake(base, base_v2, MEDALLION_ORDERS, seed)
        gen_s = time.perf_counter() - t0
        # the rebuild check reads the changed facts with unchanged dimensions
        silver_v2 = os.path.join(base_v2, "silver", "olist")
        os.makedirs(silver_v2, exist_ok=True)
        for t in ("products", "customers"):
            os.symlink(os.path.join(base, "silver", "olist", t), os.path.join(silver_v2, t))
        return {
            "base": base, "base_v2": base_v2, "changed_csv": manifest["changed_csv"],
            "rows": manifest["rows"], "rows_v2": manifest["rows_v2"],
            "bronze_bytes": manifest["bytes"], "generate_s": gen_s,
            "gold_v1": checks.expected_gold(base, tmp),
            "gold_v2": checks.expected_gold(base_v2, tmp),
        }
    import __spark_entry__ as ep

    lake = os.path.join(work, "star")
    t0 = time.perf_counter()
    starlake.generate(lake, STAR_SF, STAR_SEED)
    gen_s = time.perf_counter() - t0
    names = list(workloads.REGISTRY)
    random.Random(seed).shuffle(names)
    sqls = ep.oracle_sql()
    return {
        "lake": lake, "order": names, "queries": ep.queries(), "generate_s": gen_s,
        "expected": checks.oracle_expectations(lake, {n: sqls[n] for n in names}, tmp),
    }


def _start_spark(work: str):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "lakebench",
        master=f"local[{_cores()}]",
        extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def _retained_mb(spark) -> float:
    """Memory the run holds on to: driver heap in use after full
    collections, plus the Python process's resident set."""
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.Runtime.getRuntime()
    # Spark's cleaner frees broadcast and shuffle blocks only after the
    # collection that finds them unreachable, so collect again after it ran
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
    heap = runtime.totalMemory() - runtime.freeMemory()
    with open("/proc/self/status") as f:
        py_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:"))
    return heap / 2**20 + py_kb / 1024


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (the Python workers it forked exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import metrics
    import workloads

    work = os.path.join(OUT, f"work-{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        inputs = _prepare(workload, seed, work)
        t0 = time.perf_counter()
        spark = _start_spark(work)
        t1 = time.perf_counter()
        runner = workloads.Runner(spark, workload, inputs, os.path.join(work, "tmp"))
        runner.run_pass(verify=True, traced=False)
        t2 = time.perf_counter()
        timed = []
        while len(timed) < MIN_PASSES or time.perf_counter() - t2 < seconds:
            timed.append(runner.run_pass(verify=False, traced=trace and len(timed) % 2 == 0))
        jvm_pid = getattr(type(spark.sparkContext)._gateway, "proc").pid
        run_info = {
            "get_spark_s": t1 - t0, "warmup_s": t2 - t1, "generate_s": inputs["generate_s"],
            "cores": _cores(), "peak_rss_mb": _peak_rss_mb(jvm_pid),
            "retained_mb": _retained_mb(spark),
            "bronze_bytes": inputs.get("bronze_bytes", 0),
        }
        if trace:
            values = metrics.per_layer(timed, run_info)
            _write_spans(workload, seed, runner.passes)
        else:
            values = metrics.end_to_end(timed, run_info, runner.attempted, runner.failed)
        return {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": metrics.unit(k)} for k, v in values.items()},
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _write_spans(workload: str, seed: int, passes) -> None:
    """Write every span of the run: passes, and operations under them."""
    spans = []
    for p in passes:
        pid = f"pass-{p.index}"
        spans.append({"id": pid, "name": "pass", "parent": None, "start": p.start,
                      "end": p.end, "traced": p.traced})
        for i, op in enumerate(p.ops):
            spans.append({"id": f"{pid}-{i}", "name": op.name, "layer": op.layer,
                          "parent": pid, "start": op.start, "end": op.end, "ok": op.ok})
    with open(os.path.join(OUT, f"trace-{workload}-{seed}.json"), "w") as f:
        json.dump(spans, f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [HERE, ROOT]
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
