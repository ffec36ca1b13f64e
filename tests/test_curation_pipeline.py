"""End-to-end curation pipeline over the table-format layer — the 100-TB
workflow a training-data user actually runs, composed from the primitives
the other suites pin individually:

  1. ingest the token table as a PARTITIONED engine dataset + snapshot
  2. exact-dedup -> commit the losers as EQUALITY DELETES (no rewrites)
  3. scan: partition pruning + merge-on-read deletes compose
  4. compact --sort-by: applies the kill list physically, re-clusters,
     drops it; vacuum reclaims everything unreferenced
  5. the final dataset is self-describing plain parquet (JVM read agrees)
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-pipeline",
                     shuffle_partitions=4)


def test_full_curation_pipeline(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset
    from parquet_cpp_spark.sources.tokens import tokens_from_documents

    base = tokens_from_documents(spark, "/root/testdata/sf0.01", 8) \
        .select("doc_id", "tokens", "n_tok", "source")
    # sf0.01's token streams are all distinct: inject verbatim dupes
    # (copied content under new ids — the 'dup-' ids sort AFTER digits,
    # so min(doc_id) keeps the originals)
    dupes = (base.filter("CAST(doc_id AS BIGINT) % 10 = 0")
             .withColumn("doc_id", F.concat(F.lit("dup-"),
                                            F.col("doc_id"))))
    src = base.unionAll(dupes)
    out = str(tmp_path / "table")

    # 1. partitioned ingest + snapshot
    man = emit_parquet_dataset(
        src.repartition(4, "source").sortWithinPartitions("doc_id"),
        out, partition_by=["source"]).collect()
    v1 = snap.commit_snapshot(out, man)["version"]
    assert v1 == 1

    # 2. token-content dedup: losers become equality deletes
    content = F.md5(F.array_join(
        F.transform("tokens", lambda x: x.cast("string")), " "))
    keepers = (src.groupBy(content.alias("h"))
               .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    losers = src.select("doc_id").exceptAll(keepers)
    n_losers = losers.count()
    snap.commit_equality_deletes(out, losers, "doc_id")

    # 3. partition predicate + deletes compose in one scan
    plan = {}
    live = read_parquet_dataset(spark, out,
                                predicate=[("source", "==", "src3")],
                                plan_out=plan)
    exp = (src.join(losers, "doc_id", "left_anti")
           .filter("source = 'src3'"))
    assert plan["files_partition_pruned"] > 0
    assert live.count() == exp.count()

    # 4. compact: applies the kill list, re-clusters on n_tok, keeps the
    # partitioned layout, vacuums the old files + consumed keys
    jobs.main(["compact", "--dir", out, "--files", "4",
               "--partition-by", "source", "--sort-by", "n_tok",
               "--vacuum"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == src.count() - n_losers
    cur = snap.load_snapshot(out)
    assert "deletes" not in cur
    assert res["vacuum"]["removed_files"]

    # 5. the result is plain self-describing parquet: engine scan and a
    # raw JVM directory read agree exactly
    eng = read_parquet_dataset(spark, out)
    jvm = spark.read.parquet(out)
    h = F.xxhash64("doc_id", "tokens", "n_tok", "source") \
        .cast("decimal(38,0)")

    def csum(df):
        r = df.agg(F.sum(h).alias("s"), F.count("*").alias("n")) \
            .collect()[0]
        return r.s, r.n
    assert csum(eng) == csum(jvm)
    assert csum(eng)[1] == src.count() - n_losers
