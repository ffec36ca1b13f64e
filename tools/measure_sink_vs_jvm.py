"""Like-for-like wall-time: engine parquet emission vs Spark's JVM writer.

The only same-workload comparison available against a production writer:
encode the cached 2M-row (~512M-token) bench table into (a) a directory
of ENGINE-written parquet files (`write_parquet_dataset`: executors
run the codec selector and the engine's own kernels per file) and
(b) Spark's built-in JVM parquet writer on the same DataFrame, both uncompressed-page configurations, best-of-2 after a
warm run. Prints one JSON line and records it into BENCH_local.json
under "sink_vs_jvm" (SCALE.md round-6/7 measurement).

Run on an idle box; never concurrently with bench.py.
"""

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROWS = 2_000_000
SEED = 42


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    from parquet_cpp_spark.session import get_spark
    from parquet_cpp_spark.sources.parquet_sink import write_parquet_dataset
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    path = os.path.join(REPO, "data", f"bench_tokens_{ROWS}_{SEED}.parquet")
    synthesize_tokens_parquet(path, ROWS, SEED, row_group_size=25_000)
    spark = get_spark(master="local[32]", shuffle_partitions=64,
                      app_name="pcs-sink-vs-jvm")

    out_engine = os.path.join(REPO, "data", "svj_engine")
    out_jvm = os.path.join(REPO, "data", "svj_jvm")

    def engine_run() -> float:
        shutil.rmtree(out_engine, ignore_errors=True)
        os.makedirs(out_engine, exist_ok=True)
        t0 = time.perf_counter()
        write_parquet_dataset(spark, path, out_engine,
                              compression=None).count()
        return time.perf_counter() - t0

    def jvm_run() -> float:
        shutil.rmtree(out_jvm, ignore_errors=True)
        df = spark.read.parquet(path)
        t0 = time.perf_counter()
        df.write.option("compression", "none").parquet(out_jvm)
        return time.perf_counter() - t0

    # warm both paths once, then best-of-2 recorded
    engine_run()
    jvm_run()
    t_eng = min(engine_run(), engine_run())
    b_eng = _dir_bytes(out_engine)
    t_jvm = min(jvm_run(), jvm_run())
    b_jvm = _dir_bytes(out_jvm)
    spark.stop()
    shutil.rmtree(out_engine, ignore_errors=True)
    shutil.rmtree(out_jvm, ignore_errors=True)

    result = {"rows": ROWS,
              "engine_s": round(t_eng, 2), "engine_gb": round(b_eng / 1e9, 3),
              "jvm_s": round(t_jvm, 2), "jvm_gb": round(b_jvm / 1e9, 3),
              "size_ratio_jvm_over_engine": round(b_jvm / b_eng, 3),
              "speed_ratio_engine_over_jvm": round(t_eng / t_jvm, 3)}
    print(json.dumps({"sink_vs_jvm": result}))
    blpath = os.path.join(REPO, "BENCH_local.json")
    try:
        with open(blpath) as f:
            bl = json.load(f)
    except Exception:
        bl = {}
    bl["sink_vs_jvm"] = result
    with open(blpath, "w") as f:
        json.dump(bl, f)


if __name__ == "__main__":
    main()
