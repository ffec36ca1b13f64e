"""Benchmark entry point.

    python3 perfbench/run.py --workload long_docs --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository and prints, as its last
stdout line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything it writes goes under
``.perfbench_work/`` in the current directory. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
from ops import OPS, Operations, Runner, log, median  # noqa: E402
from workload import LOOKUPS_PER_ROUND, WORKLOADS, make_input  # noqa: E402

# local[k] with k = 4, or fewer where fewer cores are available: the
# measure is a 4-core host, not an oversubscribed one.
CORES = 4
T0 = time.perf_counter()


def start_spark(k: int, work: str):
    """``local[k]`` session with every scratch path inside ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp          # the package zip lands here
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    from parquet_cpp_spark.session import get_spark
    return get_spark(
        master=f"local[{k}]", app_name="perfbench", shuffle_partitions=k,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })


def _timed_start(k: int, work: str):
    t = time.perf_counter()
    spark = start_spark(k, work)
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run_e2e(args, ops, start_s: float) -> dict:
    from checks import run_checks

    runner = Runner(ops)
    t0 = time.perf_counter()
    runner.warm()
    setup_s = start_s + time.perf_counter() - t0
    log(f"setup {setup_s:.2f}s")

    times: "dict[str, list]" = {}
    rounds = 0
    t0 = time.perf_counter()
    while rounds == 0 or time.perf_counter() - t0 < args.seconds:
        r = runner.round()
        log("round " + " ".join(f"{k}={median(v):.2f}" for k, v in r.items()
                                  if median(v) is not None))
        for k, v in r.items():
            times.setdefault(k, []).extend(v)
        rounds += 1
    log(f"{rounds} timed rounds in {time.perf_counter() - t0:.1f}s")
    attempted = rounds * (len(OPS) + LOOKUPS_PER_ROUND)

    t1 = time.perf_counter()
    check = run_checks(ops.spark, ops, ops.inp)
    log(f"checks {time.perf_counter() - t1:.1f}s")
    failed = dict(runner.failed)
    for name, ok in check["ops"].items():
        if not ok:  # a wrong output makes every timed attempt a failure
            failed[name] = len(times[name])
    mb = ops.inp.raw_bytes / 1e6
    metrics = {"setup_s": (setup_s, "s")}
    for name in OPS:
        m = median(times[name])
        metrics[f"{name}_mb_s"] = (mb / m if m else 0.0, "MB/s")
    m = median(times["lookup"])
    metrics["lookup_p50_ms"] = (m * 1e3 if m else 0.0, "ms")
    tokens = ops.inp.tokens
    metrics["chunk_bytes_per_token"] = (check["chunk_bytes"] / tokens,
                                        "B/token")
    metrics["par1_bytes_per_token"] = (check["par1_bytes"] / tokens,
                                       "B/token")
    return {"correct": check["correct"], "attempted": attempted,
            "failed": sum(failed.values()), "metrics": metrics,
            "samples": {k: len(v) for k, v in times.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]
    k = min(CORES, host.cores())
    work = os.path.join(os.getcwd(), ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    ticks0 = host.cpu_ticks()
    probe0 = host.memcpy_gbps()
    rss = host.WorkerPeakRss().start()
    # The session starts while the input is made; the input is not set-up.
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(1) as pool:
        started = pool.submit(_timed_start, k, work)
        inp = make_input(w, args.seed, os.path.join(work, "input.parquet"))
        spark, start_s = started.result()
    log(f"input: {inp.n_rows} rows, {inp.n_row_groups} row groups, "
         f"{inp.tokens} tokens, {inp.raw_bytes / 1e6:.1f} MB raw; "
         f"session start {start_s:.1f}s; at {time.perf_counter() - T0:.1f}s")
    try:
        ops = Operations(spark, inp, work)
        if args.trace:
            from tracing import run_traced
            result = run_traced(args, ops, k)
        else:
            result = run_e2e(args, ops, start_s)
    finally:
        peak = rss.stop()
        t1 = time.perf_counter()
        stop_spark(spark)
        log(f"stop {time.perf_counter() - t1:.1f}s")
    if not args.trace:
        result["metrics"]["worker_peak_rss_mb"] = (peak, "MB")
    ctx = {"cores_used": k, "cores_available": host.cores(),
           "memcpy_gbps_before": probe0, "memcpy_gbps_after":
           host.memcpy_gbps(), "steal_share":
           host.steal_share(ticks0, host.cpu_ticks()),
           "samples": result.pop("samples", None)}
    print("host " + json.dumps(ctx), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in result["metrics"].items()}
    log(f"total {time.perf_counter() - T0:.1f}s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
