"""Like-for-like wall-time: engine-native distributed scan vs Spark's
JVM parquet reader.

The read-side counterpart of measure_sink_vs_jvm: write the cached
2M-row (~512M-token) bench table once as ENGINE parquet
(`write_parquet_dataset`, uncompressed pages), then
time (a) `record_assembly.read_parquet_dataset` — executors assemble
Arrow batches from rep/def levels, no JVM reader, no pyarrow.parquet —
and (b) `spark.read.parquet` on the SAME directory, both draining
through an identical count+sum aggregation, best-of-2 after a warm run.
Prints one JSON line and records it into BENCH_local.json under
"scan_vs_jvm" (SCALE.md round-7 measurement).

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


def main() -> None:
    from pyspark.sql import functions as F

    from parquet_cpp_spark.session import get_spark
    from parquet_cpp_spark.sources.parquet_sink import write_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import read_parquet_dataset
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    path = os.path.join(REPO, "data", f"bench_tokens_{ROWS}_{SEED}.parquet")
    synthesize_tokens_parquet(path, ROWS, SEED, row_group_size=25_000)
    spark = get_spark(master="local[32]", shuffle_partitions=64,
                      app_name="pcs-scan-vs-jvm")

    out = os.path.join(REPO, "data", "scan_vs_jvm_ds")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    write_parquet_dataset(spark, path, out, compression=None).count()

    def drain_full(df) -> int:
        # hash every column so Catalyst cannot prune the JVM scan:
        # both readers must decode ALL columns (tokens included)
        row = df.agg(F.count("*").alias("n"),
                     F.sum(F.xxhash64("doc_id", "tokens", "n_tok",
                                      "source").cast("decimal(38,0)"))
                     .alias("h")).collect()[0]
        assert row.n == ROWS, row.n
        return row.h

    def drain_pruned(df) -> None:
        row = df.agg(F.count("*").alias("n"),
                     F.sum("n_tok").alias("s")).collect()[0]
        assert row.n == ROWS, row.n

    def engine_run() -> float:
        t0 = time.perf_counter()
        drain_full(read_parquet_dataset(spark, out))
        return time.perf_counter() - t0

    def jvm_run() -> float:
        t0 = time.perf_counter()
        drain_full(spark.read.parquet(out))
        return time.perf_counter() - t0

    def engine_run_pruned() -> float:
        t0 = time.perf_counter()
        drain_pruned(read_parquet_dataset(spark, out,
                                          columns=["n_tok"]))
        return time.perf_counter() - t0

    def jvm_run_pruned() -> float:
        t0 = time.perf_counter()
        drain_pruned(spark.read.parquet(out))
        return time.perf_counter() - t0

    # identical answers first (full-row digest on both readers)
    assert drain_full(read_parquet_dataset(spark, out)) == \
        drain_full(spark.read.parquet(out))

    engine_run()
    jvm_run()
    t_eng = min(engine_run(), engine_run())
    t_jvm = min(jvm_run(), jvm_run())
    engine_run_pruned()
    jvm_run_pruned()
    t_eng_p = min(engine_run_pruned(), engine_run_pruned())
    t_jvm_p = min(jvm_run_pruned(), jvm_run_pruned())
    n_tok = spark.read.parquet(path).agg(
        F.sum("n_tok").alias("s")).collect()[0].s

    # --- predicate pushdown leg: the selective-access layout a real
    # table would use (range-clustered on the filter key), ~1% selective
    # n_tok >= p99 — engine stats-pruned scan vs Catalyst's own parquet
    # filter pushdown on the same files
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    clus = os.path.join(REPO, "data", "scan_pushdown_ds")
    shutil.rmtree(clus, ignore_errors=True)
    os.makedirs(clus, exist_ok=True)
    # row_group_rows splits each file into ~8 row groups: range
    # clustering balances ROWS per file, not payload, so the top band
    # holds the jumbo-document tail — finer row groups give the
    # selective scan both finer pruning and intra-file parallelism
    emit_parquet_dataset(
        spark.read.parquet(path)
        .repartitionByRange(32, "n_tok", "doc_id")
        .sortWithinPartitions("n_tok", "doc_id"),
        clus, compression=None, row_group_rows=8192).collect()
    thr = int(spark.read.parquet(path).agg(
        F.percentile_approx("n_tok", 0.99).alias("q")).collect()[0].q)
    pred = [("n_tok", ">=", thr)]

    def drain_sel(df):
        row = df.agg(F.count("*").alias("n"),
                     F.sum("n_tok").alias("s")).collect()[0]
        return row.n, row.s

    plan: dict = {}
    sel_eng = drain_sel(read_parquet_dataset(spark, clus, predicate=pred,
                                             plan_out=plan))
    sel_jvm = drain_sel(spark.read.parquet(clus)
                        .filter(F.col("n_tok") >= thr))
    assert sel_eng == sel_jvm, (sel_eng, sel_jvm)

    def engine_pd() -> float:
        t0 = time.perf_counter()
        drain_sel(read_parquet_dataset(spark, clus, predicate=pred))
        return time.perf_counter() - t0

    def jvm_pd() -> float:
        t0 = time.perf_counter()
        drain_sel(spark.read.parquet(clus).filter(F.col("n_tok") >= thr))
        return time.perf_counter() - t0

    engine_pd()
    jvm_pd()
    t_eng_pd = min(engine_pd(), engine_pd())
    t_jvm_pd = min(jvm_pd(), jvm_pd())
    pushdown = {"threshold": thr, "sel_rows": int(sel_eng[0]),
                "rg_kept": plan["rg_kept"], "rg_total": plan["rg_total"],
                "engine_s": round(t_eng_pd, 2),
                "jvm_s": round(t_jvm_pd, 2)}
    shutil.rmtree(clus, ignore_errors=True)

    spark.stop()
    shutil.rmtree(out, ignore_errors=True)

    result = {"rows": ROWS, "tokens": int(n_tok),
              "engine_s": round(t_eng, 2), "jvm_s": round(t_jvm, 2),
              "engine_mtok_s": round(n_tok / t_eng / 1e6, 1),
              "jvm_mtok_s": round(n_tok / t_jvm / 1e6, 1),
              "speed_ratio_engine_over_jvm": round(t_eng / t_jvm, 3),
              "pruned_engine_s": round(t_eng_p, 2),
              "pruned_jvm_s": round(t_jvm_p, 2),
              "pushdown": pushdown}
    print(json.dumps({"scan_vs_jvm": result}))
    blpath = os.path.join(REPO, "BENCH_local.json")
    try:
        with open(blpath) as f:
            bl = json.load(f)
    except Exception:
        bl = {}
    bl["scan_vs_jvm"] = result
    with open(blpath, "w") as f:
        json.dump(bl, f)


if __name__ == "__main__":
    main()
