"""Iceberg-style partitioned dataset layout: the sink splits each task's
rows into ``col=value/`` directories (partition columns STAY in the data,
the segments are a pruning index), and the engine scan drops whole files on
partition predicates before any footer I/O.

Reference parity: the reference's writer has no partition layout (it's a
single-file library); the layout contract here follows the public Iceberg
spec's identity-partition semantics (partition value stated per data file,
data remains self-describing) with Hive-style directory naming.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-partitioned",
                     shuffle_partitions=4)


def _csum(df):
    from pyspark.sql import functions as F
    h = F.xxhash64("doc_id", "tokens", "n_tok", "source") \
        .cast("decimal(38,0)")
    return df.agg(F.sum(h).alias("s"), F.count("*").alias("n")).collect()[0]


@pytest.fixture(scope="module")
def dataset(spark, tmp_path_factory):
    """Token table written partitioned by source: (out_dir, source df)."""
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.tokens import tokens_from_documents

    src = tokens_from_documents(spark, "/root/testdata/sf0.01", 8)
    df = (src.select("doc_id", "tokens", "n_tok", "source")
          .repartition(4, "source").sortWithinPartitions("doc_id"))
    out = str(tmp_path_factory.mktemp("part") / "ds")
    man = emit_parquet_dataset(df, out, partition_by=["source"]).collect()
    return out, df, man


def test_layout_and_manifest(dataset):
    """One file per (task, partition value) combo under col=value/ dirs;
    manifest paths point into the partition subdirectories."""
    out, df, man = dataset
    subdirs = sorted(d for d in os.listdir(out) if not d.startswith("."))
    srcs = sorted(r.source for r in df.select("source").distinct().collect())
    assert subdirs == [f"source={s}" for s in srcs]
    for r in man:
        rel = os.path.relpath(r.file, out)
        assert rel.split(os.sep)[0].startswith("source=")
        assert os.path.exists(r.file)


def test_partition_columns_stay_in_data(spark, dataset):
    """Iceberg-style, not Hive-style: every data file is self-describing —
    a plain parquet reader (Spark JVM here) sees the full 4-column schema
    and identical content, with no dependence on directory names."""
    out, df, _ = dataset
    back = spark.read.parquet(out)
    assert sorted(back.columns) == sorted(df.columns)
    a, b = _csum(df), _csum(back)
    assert (a.s, a.n) == (b.s, b.n)


def test_engine_scan_partition_pruning(spark, dataset):
    """An == / in predicate on the partition column drops files at plan
    time (files_partition_pruned counted, zero footers parsed for them)
    and the result is exact."""
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, df, _ = dataset
    plan = {}
    res = read_parquet_dataset(
        spark, out, predicate=[("source", "in", ["src3", "src7"])],
        plan_out=plan)
    exp = df.filter("source in ('src3','src7')")
    assert plan["files_partition_pruned"] == plan["files_total"] - 2
    assert plan["files_kept"] == 2
    a, b = _csum(exp), _csum(res)
    assert (a.s, a.n) == (b.s, b.n)


def test_engine_scan_all_pruned_keeps_schema(spark, dataset):
    """A predicate matching no partition returns an EMPTY frame with the
    full correct schema and plans zero row groups."""
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, df, _ = dataset
    plan = {}
    res = read_parquet_dataset(spark, out,
                               predicate=[("source", "==", "absent")],
                               plan_out=plan)
    assert res.count() == 0
    assert res.schema == read_parquet_dataset(spark, out).schema
    assert plan["rg_total"] == 0 and plan["plan_mode"] == "plan_pruned"


def test_value_predicate_composes_with_partition_layer(spark, dataset):
    """A conjunction of a partition term and a value term prunes on the
    partition layer AND residual-filters exactly; range ops on the string
    partition value use exact string semantics."""
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, df, _ = dataset
    med = df.selectExpr("percentile_approx(n_tok, 0.5) p").collect()[0].p
    plan = {}
    res = read_parquet_dataset(
        spark, out,
        predicate=[("source", ">=", "src8"), ("n_tok", ">", int(med))],
        plan_out=plan)
    exp = df.filter(f"source >= 'src8' and n_tok > {int(med)}")
    assert plan["files_partition_pruned"] > 0
    a, b = _csum(exp), _csum(res)
    assert (a.s, a.n) == (b.s, b.n)


def test_numeric_partition_values_prune_numerically(spark, tmp_path):
    """An int partition column prunes by NUMERIC comparison of the parsed
    segment (part=9 < part=10), not string order."""
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    df = spark.range(0, 120).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "cast(1 as int) n_tok", "cast('s' as string) source",
        "cast(id % 12 as int) part")
    out = str(tmp_path / "numpart")
    emit_parquet_dataset(df.repartition(2, "part"), out,
                         partition_by=["part"]).collect()
    plan = {}
    res = read_parquet_dataset(spark, out, predicate=[("part", ">=", 9)],
                               plan_out=plan)
    assert res.count() == df.filter("part >= 9").count()
    assert plan["files_kept"] == 3          # part=9,10,11 — numeric order
    # the JVM reader agrees on type and content (data column wins over
    # the discovered path value, so int stays int)
    jvm = spark.read.parquet(out)
    assert dict(jvm.dtypes)["part"] == "int"
    assert jvm.groupBy().sum("part").collect()[0][0] == \
        df.groupBy().sum("part").collect()[0][0]


def test_segment_quoting_roundtrip(spark, tmp_path):
    """Partition values containing path separators, spaces, '=', '%' and
    unicode percent-encode into the segment and decode back for pruning."""
    from parquet_cpp_spark.sources.parquet_sink import (
        emit_parquet_dataset, hive_segment, partition_values)
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    nasty = ["a/b", "sp ace", "k=v", "100%", "émoji✓"]
    seg = hive_segment("c", nasty[0])
    assert "/" not in seg.split("=", 1)[1]
    assert partition_values("/r", f"/r/{seg}/f.parquet") == {"c": nasty[0]}

    df = spark.createDataFrame(
        [(str(i), [i], 1, nasty[i % len(nasty)]) for i in range(50)],
        "doc_id string, tokens array<int>, n_tok int, source string")
    out = str(tmp_path / "quoted")
    emit_parquet_dataset(df.repartition(2, "source"), out,
                         partition_by=["source"]).collect()
    plan = {}
    res = read_parquet_dataset(spark, out,
                               predicate=[("source", "==", "a/b")],
                               plan_out=plan)
    assert res.count() == 10 and plan["files_kept"] == 1


def test_null_partition_value_fails_loudly(spark, tmp_path):
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset

    df = spark.createDataFrame(
        [("1", [1], 1, "a"), ("2", [2], 1, None)],
        "doc_id string, tokens array<int>, n_tok int, source string")
    out = str(tmp_path / "nullpart")
    with pytest.raises(Exception, match="null"):
        emit_parquet_dataset(df.coalesce(1), out,
                             partition_by=["source"]).collect()


def test_snapshot_over_partitioned_layout(spark, dataset):
    """Snapshot commit + snapshot-planned scan compose with partition
    pruning: the committed listing carries the col=value/ relative paths
    and the scan still prunes on them."""
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, df, man = dataset
    ver = snap.commit_snapshot(out, man)["version"]
    plan = {}
    res = read_parquet_dataset(spark, out,
                               predicate=[("source", "==", "src5")],
                               snapshot_version=ver, plan_out=plan)
    exp = df.filter("source = 'src5'")
    assert plan["files_kept"] == 1
    a, b = _csum(exp), _csum(res)
    assert (a.s, a.n) == (b.s, b.n)


def test_jobs_scan_partition_by_cli(spark, dataset, tmp_path, capsys):
    """`jobs scan --partition-by source` lays the extraction out
    partitioned; a second scan over that output with a partition WHERE
    reports files_partition_pruned in its audit and extracts exactly the
    partition's rows."""
    import json

    from parquet_cpp_spark import jobs

    src_out, df, _ = dataset
    out1 = str(tmp_path / "bysrc")
    jobs.main(["scan", "--dir", src_out, "--out", out1,
               "--partition-by", "source"])
    res1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res1["rows"] == df.count()
    assert sorted(os.listdir(out1))[0].startswith("source=")

    out2 = str(tmp_path / "one")
    jobs.main(["scan", "--dir", out1, "--out", out2,
               "--where", "source=src4"])
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["rows"] == df.filter("source='src4'").count()
    assert res2["files_partition_pruned"] > 0


def test_compact_preserves_partition_layout_and_vacuum_prunes_dirs(
        spark, tmp_path, capsys):
    """`jobs compact --partition-by` rewrites small files INTO the
    col=value/ layout; `--vacuum` then deletes the pre-compaction files
    and removes any partition directory that emptied."""
    import json

    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    df = spark.range(0, 200).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "cast(1 as int) n_tok",
        "concat('s', cast(id % 3 as string)) source")
    out = str(tmp_path / "ds")
    # many small UNpartitioned files + a snapshot
    man = emit_parquet_dataset(df.repartition(8, "doc_id")
                               .sortWithinPartitions("doc_id"),
                               out).collect()
    snap.commit_snapshot(out, man)
    jobs.main(["compact", "--dir", out, "--target-mb", "1",
               "--partition-by", "source", "--vacuum"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 200 and res["vacuum"]["removed_files"]
    # layout now partitioned; only partition dirs + _snapshots at root
    top = sorted(d for d in os.listdir(out) if not d.startswith("_"))
    assert top == ["source=s0", "source=s1", "source=s2"]
    plan = {}
    back = read_parquet_dataset(spark, out,
                                predicate=[("source", "==", "s1")],
                                plan_out=plan)
    # snapshot planning consumed the committed listing; the partition
    # predicate pruned the other sources' files from it
    assert back.count() == df.filter("source='s1'").count()
    assert plan["files_kept"] < plan["files_total"]


def test_point_lookup_descends_into_partition_dirs(spark, dataset):
    """point_lookup_parquet lists partitioned layouts recursively: a key
    that lives under source=src9/ is found, with page pruning intact."""
    from parquet_cpp_spark.plans.lookup import point_lookup_parquet

    out, df, _ = dataset
    key = df.filter("source='src9'").select("doc_id").first().doc_id
    res = point_lookup_parquet(spark, out, "doc_id", key) \
        .filter("row_index >= 0").collect()
    assert len(res) == 1
    assert f"source=src9{os.sep}" in res[0].file
    assert res[0].pages_decoded <= res[0].pages_total


def test_streaming_emit_partitioned_layout(spark, tmp_path):
    """partition_by flows through the streaming parquet emit's writer
    kwargs: micro-batches land under col=value/ directories, per-batch
    snapshots carry the relative paths, and a snapshot-planned read with
    a partition predicate prunes files."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset
    from parquet_cpp_spark.sources.tokens import tokens_from_documents
    from parquet_cpp_spark.streaming.encode_stream import \
        start_parquet_emit_stream

    src = tokens_from_documents(spark, "/root/testdata/sf0.001", 4) \
        .select("doc_id", "tokens", "n_tok", "source")
    in_dir = str(tmp_path / "in")
    src.write.parquet(in_dir)
    out = str(tmp_path / "out")
    q = start_parquet_emit_stream(spark, in_dir, out, files_per_batch=2,
                                  partition_by=["source"])
    q.awaitTermination(120)

    data_dir = os.path.join(out, "data")
    subdirs = sorted(d for d in os.listdir(data_dir)
                     if d.startswith("source="))
    assert subdirs, "no partition directories emitted"
    one = subdirs[0].split("=", 1)[1]
    plan = {}
    res = read_parquet_dataset(spark, data_dir,
                               predicate=[("source", "==", one)],
                               plan_out=plan)
    assert res.count() == src.filter(F.col("source") == one).count()
    assert plan["files_kept"] < plan["files_total"]
    assert snap.read_snapshot(spark, data_dir).count() == src.count()


def test_compact_sort_by_tightens_pruning(spark, tmp_path, capsys):
    """`jobs compact --sort-by n_tok` range-clusters the rewrite: a
    selective n_tok predicate afterwards prunes most files from the
    snapshot listing, where the shuffled pre-compaction layout pruned
    none."""
    import json

    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset
    from parquet_cpp_spark.sources.tokens import tokens_from_documents

    src = tokens_from_documents(spark, "/root/testdata/sf0.01", 8) \
        .select("doc_id", "tokens", "n_tok", "source")
    out = str(tmp_path / "ds")
    # hash layout: every file spans the full n_tok range
    man = emit_parquet_dataset(src.repartition(8, "doc_id")
                               .sortWithinPartitions("doc_id"),
                               out).collect()
    snap.commit_snapshot(out, man)
    hi = src.selectExpr("percentile_approx(n_tok, 0.9) p").collect()[0].p
    plan0 = {}
    read_parquet_dataset(spark, out, predicate=[("n_tok", ">=", int(hi))],
                         plan_out=plan0).count()
    assert plan0["files_snapshot_pruned"] == 0    # shuffled: no pruning

    jobs.main(["compact", "--dir", out, "--files", "8",
               "--sort-by", "n_tok,doc_id"])
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    plan1 = {}
    res = read_parquet_dataset(spark, out,
                               predicate=[("n_tok", ">=", int(hi))],
                               plan_out=plan1)
    assert res.count() == src.filter(f"n_tok >= {int(hi)}").count()
    assert plan1["files_snapshot_pruned"] > 0     # clustered: prunes


def test_unparsable_numeric_segment_keeps_file(tmp_path):
    """Conservative rule: a numeric predicate against a segment that
    doesn't parse as a number is NOT decisive — the file survives to the
    stats/residual layers instead of being wrongly dropped."""
    from parquet_cpp_spark.sources.record_assembly import \
        _partition_may_match

    assert _partition_may_match({"part": "notanum"}, [("part", ">=", 9)])
    assert not _partition_may_match({"part": "8"}, [("part", ">=", 9)])
    assert _partition_may_match({"part": "8"},
                                [("part", "in", (8, 9))])
    # bytes predicate values (byte_array leaves) compare as text
    assert _partition_may_match({"s": "web"}, [("s", "==", b"web")])
    assert not _partition_may_match({"s": "web"}, [("s", "!=", b"web")])
    # null tests never prune on the partition layer
    assert _partition_may_match({"s": "web"}, [("s", "is_null", None)])
    # non-UTF-8 keys compare as bytes against the segment's UTF-8 bytes
    assert not _partition_may_match({"s": "s0"}, [("s", "==", b"\xff")])
    assert _partition_may_match({"s": "s0"},
                                [("s", "in", (b"s0", b"\xff"))])


def test_non_utf8_key_against_partitions(spark, tmp_path):
    """A bytes key that is not UTF-8 plans and filters in the bytes
    domain: it matches no partition (0 rows) and, inside an ``in`` list,
    leaves the other keys' partitions intact — equal to the JVM filter
    on the same bytes."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out = str(tmp_path / "ds")
    df = spark.range(40).selectExpr(
        "cast(id as string) doc_id", "concat('s', id % 2) src")
    emit_parquet_dataset(df.repartition(2, "src"), out,
                         partition_by=["src"]).collect()
    jvm = spark.read.parquet(out)
    for term, n in [(("src", "==", b"\xff"), 0),
                    (("src", "in", (b"s0", b"\xff")), 20)]:
        res = read_parquet_dataset(spark, out, predicate=[term])
        keys = term[2] if term[1] == "in" else (term[2],)
        exp = jvm.filter(F.col("src").cast("binary").isin(*keys))
        assert sorted(r.doc_id for r in res.collect()) == \
            sorted(r.doc_id for r in exp.collect())
        assert res.count() == n
