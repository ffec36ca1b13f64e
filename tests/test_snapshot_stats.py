"""Iceberg-manifest-style column bounds in manifest rows and snapshot
entries: the sink commits per-file min/max/null counts
(``parquet_sink.file_stats_json``) and the engine scan prunes files from
the snapshot LISTING alone — zero footer I/O for dropped files.

Reference parity: the reference keeps stats per column chunk
(``/root/reference/src/parquet/statistics.cc``, metadata.cc accumulation);
lifting the row-group merge to a per-file manifest entry is the public
Iceberg spec's manifest-pruning design re-expressed over the sink's
snapshot log.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-snapshot-stats",
                     shuffle_partitions=4)


@pytest.fixture(scope="module")
def dataset(spark, tmp_path_factory):
    """Range-clustered token table, snapshot committed: n_tok bounds are
    tight per file, so value predicates can drop whole files from the
    listing."""
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.tokens import tokens_from_documents

    src = tokens_from_documents(spark, "/root/testdata/sf0.01", 8)
    df = (src.select("doc_id", "tokens", "n_tok", "source")
          .repartitionByRange(4, "n_tok", "doc_id")
          .sortWithinPartitions("n_tok", "doc_id"))
    out = str(tmp_path_factory.mktemp("snapstats") / "ds")
    man = emit_parquet_dataset(df, out).collect()
    ver = snap.commit_snapshot(out, man)["version"]
    return out, df, man, ver


def test_manifest_rows_carry_file_stats(dataset):
    """Every manifest row's stats JSON covers the flat leaves with typed
    bounds that truly bound the file's data (checked against a JVM
    re-read of that one file)."""
    out, df, man, _ = dataset
    for r in man:
        st = json.loads(r.stats)
        assert set(st) >= {"doc_id", "n_tok", "source"}
        assert st["n_tok"]["nulls"] == 0
        assert st["n_tok"]["n"] == r.n_rows
        assert isinstance(st["n_tok"]["min"], int)
        assert isinstance(st["doc_id"]["min"], str)


def test_stats_bound_the_actual_rows(spark, dataset):
    out, df, man, _ = dataset
    r = man[0]
    st = json.loads(r.stats)
    got = spark.read.parquet(r.file).selectExpr(
        "min(n_tok) mn", "max(n_tok) mx", "min(doc_id) dmn",
        "max(doc_id) dmx").collect()[0]
    assert st["n_tok"]["min"] == got.mn and st["n_tok"]["max"] == got.mx
    assert st["doc_id"]["min"] == got.dmn and st["doc_id"]["max"] == got.dmx


def test_snapshot_scan_prunes_from_listing(spark, dataset):
    """A selective n_tok range drops files via snapshot bounds
    (files_snapshot_pruned > 0) and the result is exact; a doc_id
    equality on the string bounds prunes too."""
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, df, man, ver = dataset

    def _csum(d):
        from pyspark.sql import functions as F
        h = F.xxhash64("doc_id", "tokens", "n_tok", "source") \
            .cast("decimal(38,0)")
        return d.agg(F.sum(h).alias("s"), F.count("*").alias("n")) \
            .collect()[0]

    lo = df.selectExpr("percentile_approx(n_tok, 0.9) p").collect()[0].p
    plan = {}
    res = read_parquet_dataset(spark, out,
                               predicate=[("n_tok", ">=", int(lo))],
                               snapshot_version=ver, plan_out=plan)
    exp = df.filter(f"n_tok >= {int(lo)}")
    assert plan["files_snapshot_pruned"] > 0
    a, b = _csum(exp), _csum(res)
    assert (a.s, a.n) == (b.s, b.n)


def test_snapshot_string_bounds_prune(spark, dataset):
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, df, man, ver = dataset
    # a key lexicographically past every doc_id bound
    plan = {}
    res = read_parquet_dataset(spark, out,
                               predicate=[("doc_id", ">", "zzzz")],
                               snapshot_version=ver, plan_out=plan)
    assert res.count() == 0
    assert plan["files_snapshot_pruned"] == plan["files_total"]
    assert plan["plan_mode"] == "plan_pruned"


def test_resume_manifest_recovers_stats(spark, dataset, tmp_path):
    """A resumed write rebuilds the stats column from the committed
    footer — identical JSON to the original encode."""
    from parquet_cpp_spark.sources.parquet_sink import \
        _manifest_from_existing

    out, df, man, _ = dataset
    r = man[0]
    row = _manifest_from_existing(r.file)
    assert row is not None and row[6] == r.stats


def test_stats_pruning_decision_table():
    from parquet_cpp_spark.sources.record_assembly import \
        _snapshot_stats_may_match as m

    st = {"n_tok": {"min": 10, "max": 20, "nulls": 0, "n": 100},
          "s": {"min": "aaa", "max": "mmm", "nulls": 0, "n": 100},
          "allnull": {"nulls": 100, "n": 100}}
    assert not m(st, [("n_tok", ">", 20)])
    assert m(st, [("n_tok", ">=", 20)])
    assert not m(st, [("n_tok", "in", (1, 2, 30))])
    assert m(st, [("n_tok", "in", (1, 15))])
    # bytes predicate values decode against utf-8 text bounds
    assert not m(st, [("s", "==", b"zzz")])
    assert m(st, [("s", "==", b"bbb")])
    # all-null column disproves any null-rejecting comparison; is_null
    # survives, not_null dies
    assert not m(st, [("allnull", "==", 5)])
    assert m(st, [("allnull", "is_null", None)])
    assert not m(st, [("allnull", "not_null", None)])
    assert not m(st, [("n_tok", "is_null", None)])
    # absent column / absent stats / incomparable types keep the file
    assert m(st, [("other", "==", 1)])
    assert m(None, [("n_tok", "==", 1)])
    assert m(st, [("s", "==", 5)])
