"""Record assembly: the engine's own reader rebuilds FULL nested Arrow
tables from rep/def level streams (``sources/record_assembly``) — the
read-side inverse of the write-side walker, mirroring the reference's
Arrow read path (``arrow/reader.cc`` + ``arrow/reader_internal.cc``
list/struct reconstruction over ``column_reader.cc`` RecordReader
delimiting). Pinned four ways: files written by the ENGINE's writer
(its rep/def walker), by PYARROW, by DUCKDB
(int32/int64-backed decimals, NTZ timestamps), by SPARK's JVM writer,
and the reference repo's own golden data files (INT96, dict encoding,
all three decimal storages)."""

from __future__ import annotations

import datetime as dt
import os
import sys
from decimal import Decimal

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark.sources.record_assembly import assemble_file

REF_DATA = "/root/reference/data"


def _kitchen_sink():
    import pyarrow as pa
    return pa.table({
        "id": pa.array([1, None, 3], pa.int64()),
        "s": pa.array(["a", None, "ccc"]),
        "f": pa.array([1.5, 2.5, None], pa.float64()),
        "b": pa.array([True, None, False]),
        "l": pa.array([[1, 2], None, []], pa.list_(pa.int32())),
        "g3": pa.array([[[[1, 2]], None], None, [[], [[3]]]],
                       pa.list_(pa.list_(pa.list_(pa.int32())))),
        "ml": pa.array([[("a", [1])], None, [("b", None), ("c", [2, 3])]],
                       pa.map_(pa.string(), pa.list_(pa.int32()))),
        "st": pa.array([{"x": 1, "y": {"z": "u"}}, None,
                        {"x": None, "y": None}],
                       pa.struct([("x", pa.int32()),
                                  ("y", pa.struct([("z", pa.string())]))])),
        "lsl": pa.array([[{"a": 1, "t": ["p", "q"]}], None,
                         [None, {"a": None, "t": None}]],
                        pa.list_(pa.struct(
                            [("a", pa.int32()),
                             ("t", pa.list_(pa.string()))]))),
        "d": pa.array([dt.date(2024, 1, 1), None, dt.date(2025, 6, 6)]),
        "ts": pa.array([dt.datetime(2024, 1, 1, 12), None,
                        dt.datetime(2024, 2, 2)], pa.timestamp("us")),
        "amt": pa.array([Decimal("12.34"), None, Decimal("-0.07")],
                        pa.decimal128(9, 2)),
    })


def _assert_equal(tbl, out):
    for name in tbl.column_names:
        want = tbl.column(name).to_pylist()
        got = out.column(name).to_pylist()
        assert got == want, (name, want, got)


def test_engine_written_kitchen_sink(tmp_path):
    """Every nesting family + temporal/decimal leaves through the
    engine's own writer (the rep/def walker via the sink), read
    back whole by the engine's own reader: no pyarrow.parquet anywhere
    in the loop."""
    from parquet_cpp_spark.sources.parquet_sink import _write_one_file
    tbl = _kitchen_sink()
    path = str(tmp_path / "ks.parquet")
    _write_one_file(tbl, path + ".tmp", path, 2, 2, "zstd", 1)
    _assert_equal(tbl, assemble_file(path))


@pytest.mark.parametrize("seed", [11, 23, 37, 51, 77])
def test_fuzz_engine_roundtrip(tmp_path, seed):
    """Random 3-deep list/struct/map stacks with 20% nulls at every
    level, engine-written (multi row group, multi page), engine-read."""
    import pyarrow as pa

    from parquet_cpp_spark.sources.parquet_sink import _write_one_file
    from tests.test_arrow_nested import _random_nested, _random_value
    rng = np.random.RandomState(seed)
    cols, n = {}, 60
    for ci in range(3):
        typ = _random_nested(rng, 3)
        cols[f"c{ci}"] = pa.array(
            [_random_value(rng, typ, 3) for _ in range(n)], type=typ)
    tbl = pa.table(cols)
    path = str(tmp_path / "fz.parquet")
    _write_one_file(tbl, path + ".tmp", path, 17, 5, "snappy", 1)
    _assert_equal(tbl, assemble_file(path))


@pytest.mark.parametrize("version,dict_on,comp",
                         [("1.0", True, "snappy"),
                          ("2.6", False, "zstd")])
def test_pyarrow_written(tmp_path, version, dict_on, comp):
    """Foreign writer #1: pyarrow files (both format versions, dict
    on/off) assemble to the identical table."""
    import pyarrow.parquet as pq
    tbl = _kitchen_sink()
    path = str(tmp_path / "pa.parquet")
    pq.write_table(tbl, path, version=version, use_dictionary=dict_on,
                   compression=comp, row_group_size=2,
                   data_page_version="1.0")
    _assert_equal(tbl, assemble_file(path))


def test_duckdb_written(tmp_path):
    """Foreign writer #2: DuckDB — int32/int64-backed DECIMAL converted
    types and NTZ timestamps carrying BOTH the legacy converted id and
    the modern LogicalType (the logical struct must win)."""
    import duckdb
    import pyarrow.parquet as pq
    path = str(tmp_path / "duck.parquet")
    con = duckdb.connect()
    con.execute("""
      CREATE TABLE t AS SELECT * FROM (VALUES
        (1, CAST(1.23 AS DECIMAL(7,2)), CAST(123.4567 AS DECIMAL(15,4)),
         [1,2], {'x': 'a'}, MAP(['k'],[1]), CAST('2024-01-01' AS DATE),
         CAST('2024-01-01 12:00:00' AS TIMESTAMP)),
        (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        (3, CAST(-4.56 AS DECIMAL(7,2)), CAST(-0.0001 AS DECIMAL(15,4)),
         [], {'x': NULL}, MAP([],[]), CAST('1999-12-31' AS DATE),
         CAST('2030-06-06 01:02:03.456789' AS TIMESTAMP))
      ) v(id, amt, big, l, st, m, d, ts)
    """)
    con.execute(f"COPY t TO '{path}' (FORMAT PARQUET, "
                "COMPRESSION SNAPPY)")
    want = pq.read_table(path)
    out = assemble_file(path)
    _assert_equal(want, out)
    import pyarrow as pa
    assert out.column("amt").type == pa.decimal128(7, 2)
    assert out.column("ts").type == pa.timestamp("us")   # NTZ, no tz


@pytest.mark.skipif(not os.path.isdir(REF_DATA),
                    reason="reference data not present")
@pytest.mark.parametrize("fname", [
    "alltypes_plain.parquet",          # INT96 timestamps, PLAIN
    "alltypes_plain.snappy.parquet",
    "alltypes_dictionary.parquet",     # dict-encoded everything
    "int32_decimal.parquet",
    "int64_decimal.parquet",
    "fixed_length_decimal.parquet",
    "fixed_length_decimal_legacy.parquet",
])
def test_reference_golden_files(fname):
    """The reference repo's own data files assemble to exactly what
    pyarrow's independent C++ reader produces (reader-test.cc:41-69
    strategy, extended from leaf streams to whole-record assembly)."""
    import pyarrow.parquet as pq
    path = os.path.join(REF_DATA, fname)
    _assert_equal(pq.read_table(path), assemble_file(path))


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-assembly",
                     shuffle_partitions=4)


def test_spark_jvm_written(tmp_path, spark):
    """Foreign writer #3: Spark's JVM parquet writer (snappy, dict) —
    the engine assembles the exact rows back, nested arrays included."""
    from pyspark.sql import functions as F

    import pyarrow.parquet as pq
    out_dir = str(tmp_path / "sp")
    (spark.range(50)
     .withColumn("tokens", F.sequence(F.lit(0), F.col("id") % 7))
     .withColumn("s", F.concat(F.lit("doc-"), F.col("id")))
     .withColumn("st", F.struct(
         (F.col("id") % 5).alias("a"),
         F.when(F.col("id") % 3 != 0,
                F.col("id").cast("double")).alias("b")))
     .coalesce(1).write.mode("overwrite").parquet(out_dir))
    part = [f for f in os.listdir(out_dir) if f.endswith(".parquet")][0]
    path = os.path.join(out_dir, part)
    _assert_equal(pq.read_table(path), assemble_file(path))


def test_read_parquet_dataset_distributed(tmp_path, spark):
    """Distributed ENGINE-NATIVE scan: executors assemble Arrow batches
    from rep/def levels (read_parquet_dataset) over a dataset the
    ENGINE's distributed sink wrote — engine writes, engine reads,
    and the result row-hashes identically to Spark's JVM reader on the
    same directory. Column pruning yields only the asked-for columns
    and one task per file."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.parquet_sink import \
        write_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        file_schema, read_parquet_dataset

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    (spark.range(800)
     .withColumn("doc_id", F.col("id"))
     .withColumn("tokens",
                 F.sequence(F.lit(0), (F.col("id") % 13).cast("int")))
     .withColumn("n_tok", (F.col("id") % 13 + 1).cast("int"))
     .withColumn("source", F.concat(F.lit("s"), F.col("id") % 3))
     .withColumn("meta", F.struct(
         (F.col("id") % 7).cast("int").alias("a"),
         F.when(F.col("id") % 3 != 0,
                F.col("id").cast("double")).alias("b")))
     .drop("id").repartition(4)
     .write.mode("overwrite").parquet(src))
    # the manifest is lazy: materialize it to run the distributed write
    assert write_parquet_dataset(spark, src, out).count() >= 4

    def csum(df):
        h = F.xxhash64("doc_id", "tokens", "n_tok", "source", "meta") \
            .cast("decimal(38,0)")
        return df.agg(F.sum(h).alias("h"),
                      F.count("*").alias("n")).collect()[0]

    eng = read_parquet_dataset(spark, out)
    a, b = csum(eng), csum(spark.read.parquet(out))
    assert (a.h, a.n) == (b.h, b.n) and a.n == 800
    # one task per file, no shuffle stage
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert eng.rdd.getNumPartitions() <= len(files)
    # schema-only inference matches the assembled types
    import pyarrow as pa
    sch = file_schema(os.path.join(out, sorted(files)[0]))
    assert sch.field("tokens").type == pa.list_(pa.int32())
    assert sch.field("meta").type == pa.struct(
        [pa.field("a", pa.int32()), pa.field("b", pa.float64())])
    # pruned read: only the asked-for columns, same rows
    pruned = read_parquet_dataset(spark, out, columns=["doc_id", "n_tok"])
    assert pruned.columns == ["doc_id", "n_tok"]
    assert pruned.count() == 800
    got = pruned.agg(F.sum("n_tok").alias("s")).collect()[0].s
    want = (spark.read.parquet(out)
            .agg(F.sum("n_tok").alias("s")).collect()[0].s)
    assert got == want
    with pytest.raises(ValueError, match="columns not in file"):
        read_parquet_dataset(spark, out, columns=["nope"]).count()


@pytest.mark.parametrize("seed", [101, 202])
def test_fuzz_depth4_engine_roundtrip(tmp_path, seed):
    """Depth-4 random stacks (def levels up to ~9, rep up to 4) through
    the walker writer and the assembler reader — the deepest shapes the
    engine is asked to survive."""
    import pyarrow as pa

    from parquet_cpp_spark.sources.parquet_sink import _write_one_file
    from tests.test_arrow_nested import _random_nested, _random_value
    rng = np.random.RandomState(seed)
    cols, n = {}, 40
    for ci in range(2):
        typ = _random_nested(rng, 4)
        cols[f"c{ci}"] = pa.array(
            [_random_value(rng, typ, 4) for _ in range(n)], type=typ)
    tbl = pa.table(cols)
    path = str(tmp_path / "fz4.parquet")
    _write_one_file(tbl, path + ".tmp", path, 13, 4, "zstd", 1)
    _assert_equal(tbl, assemble_file(path))
    # and row-group-restricted assembly re-concatenates to the whole
    import pyarrow as _pa
    from parquet_cpp_spark.sources.record_assembly import footer_meta
    n_rg = len(footer_meta(path).row_groups)
    assert n_rg > 1
    parts = [assemble_file(path, row_groups=[i]) for i in range(n_rg)]
    _assert_equal(tbl, _pa.concat_tables(parts))


def test_stat_typed_unsigned_and_bytes():
    """stat_typed honors the UNSIGNED sort-order rule (UINT annotations
    reinterpret stored int bytes; types.h:70-77) and refuses FLBA/INT96
    bounds whose byte order is not value order."""
    import numpy as np

    from parquet_cpp_spark.sources.parquet_format import (LeafColumn,
                                                          stat_typed)
    b = np.array([4294967294], "<u4").tobytes()
    assert stat_typed(b, LeafColumn("c", "int32", 0, 0, 13, 0)) \
        == 4294967294                      # UINT_32: unsigned decode
    assert stat_typed(b, LeafColumn("c", "int32", 0, 0, None, 0)) == -2
    assert stat_typed(b"abc", LeafColumn("c", "byte_array", 0, 0, 0, 0)) \
        == b"abc"
    assert stat_typed(b"x" * 12, LeafColumn("c", "int96", 0, 0, None, 0)) \
        is None
    assert stat_typed(None, LeafColumn("c", "int32", 0, 0, None, 0)) is None


def test_read_parquet_dataset_predicate_pushdown(tmp_path, spark):
    """Predicate pushdown through the engine scan, three layers deep:
    (1) plan-time row-group pruning on footer chunk Statistics — the
    plan_out counters prove pruned groups never became tasks; (2)
    task-time bloom/dictionary skip for == terms (_rg_prunes assertions);
    (3) exact vectorized residual filter — every result identical to
    Spark's JVM reader running the same filter on the same directory.
    The scan-side analog of the reference's stats-based filtering
    (statistics.cc comparators, bloom_filter.cc)."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import (_rg_prunes,
                                                           footer_meta,
                                                           read_parquet_dataset)

    out = str(tmp_path / "out")
    # range-partition on n_tok: files cover DISJOINT n_tok ranges, so
    # stats pruning provably drops whole row groups at plan time
    df = (spark.range(600)
          .withColumn("doc_id", F.concat(F.lit("d"),
                                         F.format_string("%04d", F.col("id"))))
          .withColumn("tokens",
                      F.sequence(F.lit(0), (F.col("id") % 7).cast("int")))
          .withColumn("n_tok", (F.col("id") % 200).cast("int"))
          .withColumn("source", F.concat(F.lit("s"), F.col("id") % 3))
          .drop("id")
          .repartitionByRange(4, "n_tok")
          .sortWithinPartitions("n_tok"))
    emit_parquet_dataset(df, out,
                         bloom_filter_columns={"doc_id"}).collect()
    jvm = spark.read.parquet(out)

    def ids(dframe):
        return sorted(r.doc_id for r in dframe.select("doc_id").collect())

    cases = [
        ([("n_tok", ">=", 150)], F.col("n_tok") >= 150),
        ([("n_tok", "<", 50)], F.col("n_tok") < 50),
        ([("n_tok", ">", 49), ("n_tok", "<=", 99)],
         (F.col("n_tok") > 49) & (F.col("n_tok") <= 99)),
        ([("source", "==", "s1"), ("n_tok", "<", 30)],
         (F.col("source") == "s1") & (F.col("n_tok") < 30)),
        ([("doc_id", "==", "d0123")], F.col("doc_id") == "d0123"),
        ([("n_tok", "!=", 0)], F.col("n_tok") != 0),
        ([("n_tok", ">", 10 ** 6)], F.col("n_tok") > 10 ** 6),
        ([("source", "in", ["s0", "s2"]), ("n_tok", "<", 20)],
         F.col("source").isin("s0", "s2") & (F.col("n_tok") < 20)),
        ([("n_tok", "in", (2, 3, 10 ** 7))], F.col("n_tok").isin(2, 3)),
    ]
    pruned_somewhere = False
    for pred, expr in cases:
        plan: dict = {}
        eng = read_parquet_dataset(spark, out, predicate=pred,
                                   plan_out=plan)
        assert ids(eng) == ids(jvm.filter(expr)), pred
        assert plan["rg_total"] >= 4 and plan["rg_kept"] <= plan["rg_total"]
        if plan["rg_kept"] < plan["rg_total"]:
            pruned_somewhere = True
    assert pruned_somewhere   # disjoint ranges MUST prune at least once
    # range predicates on the partition key keep only matching files
    plan = {}
    read_parquet_dataset(spark, out, predicate=[("n_tok", "<", 50)],
                         plan_out=plan).count()
    assert plan["files_kept"] < plan["files_total"]
    # impossible predicate: zero tasks, empty result, correct schema
    plan = {}
    empty = read_parquet_dataset(spark, out,
                                 predicate=[("n_tok", ">", 10 ** 6)],
                                 plan_out=plan)
    assert plan["rg_kept"] == 0 and empty.count() == 0
    assert empty.columns == jvm.columns
    # projection + predicate on a column OUTSIDE the projection
    plan = {}
    pruned = read_parquet_dataset(spark, out, columns=["doc_id"],
                                  predicate=[("n_tok", ">=", 150)],
                                  plan_out=plan)
    assert pruned.columns == ["doc_id"]
    assert ids(pruned) == ids(jvm.filter(F.col("n_tok") >= 150))
    # bloom skip: absent key prunes the split before any data-page I/O,
    # present key does not (no false negatives)
    import glob as _glob
    f0 = sorted(_glob.glob(os.path.join(out, "*.parquet")))[0]
    present = assemble_file(f0, columns=["doc_id"]) \
        .column("doc_id")[0].as_py().encode()
    assert _rg_prunes(f0, 0, [("doc_id", (b"zz-not-there",))])
    assert not _rg_prunes(f0, 0, [("doc_id", (present,))])
    # in-list: prunes only when EVERY candidate key is bloom-absent
    assert _rg_prunes(f0, 0, [("doc_id", (b"zz-a", b"zz-b"))])
    assert not _rg_prunes(f0, 0, [("doc_id", (b"zz-a", present))])
    assert footer_meta(f0).row_groups[0][0].bloom_filter is not None
    # loud failures: nested column, bad op, type-mismatched value
    with pytest.raises(ValueError, match="non-repeated"):
        read_parquet_dataset(spark, out, predicate=[("tokens", "==", 5)])
    with pytest.raises(ValueError, match="unsupported predicate op"):
        read_parquet_dataset(spark, out, predicate=[("n_tok", "~", 5)])
    with pytest.raises(ValueError, match="needs int/float"):
        read_parquet_dataset(spark, out, predicate=[("n_tok", "==", "x")])
    with pytest.raises(ValueError, match="non-empty list"):
        read_parquet_dataset(spark, out, predicate=[("n_tok", "in", [])])


def test_jobs_parse_where():
    """--where 'col OP value' parsing: op aliasing, int/float/str typing,
    quote stripping, loud failure on malformed terms."""
    from parquet_cpp_spark.jobs import _parse_where
    assert _parse_where(["n_tok>=40", "source==src7"]) == \
        [("n_tok", ">=", 40), ("source", "==", "src7")]
    assert _parse_where(["a = 1.5", "b!='x y'"]) == \
        [("a", "==", 1.5), ("b", "!=", "x y")]
    assert _parse_where(["source in s0,s2", "n in 1,2.5,'q'"]) == \
        [("source", "in", ("s0", "s2")), ("n", "in", (1, 2.5, "q"))]
    with pytest.raises(SystemExit):
        _parse_where(["n_tok ~ 4"])


def test_footer_planning_runs_no_job(tmp_path, spark):
    """Every scan plans on the driver, however many files it lists: 66
    pyarrow-written footers are read and stats-pruned without one Spark
    job before an action, and the pruned scan equals the JVM reader
    under the same filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out = tmp_path / "out"
    out.mkdir()
    for i in range(66):
        pq.write_table(pa.table({
            "doc_id": [f"d{i}-{j}" for j in range(3)],
            "n_tok": pa.array([i, i + 1, i + 2], pa.int32())}),
            str(out / f"part-{i:03d}.parquet"))
    sc = spark.sparkContext
    group = "pcs-footer-planning"
    plan = {}
    sc.setJobGroup(group, group)
    try:
        df = read_parquet_dataset(spark, str(out),
                                  predicate=[("n_tok", "<", 10)],
                                  plan_out=plan)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert plan["plan_mode"] == "driver" and plan["rg_total"] == 66
    assert plan["rg_kept"] < plan["rg_total"]   # pruning engaged
    exp = spark.read.parquet(str(out)).filter("n_tok < 10")
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(tuple(r) for r in exp.collect()) and len(got) == 27


def test_predicate_null_ops(tmp_path, spark):
    """is_null / not_null predicate terms: null_count stats prune groups
    that provably lack (or are entirely) nulls — a null-free file is
    skipped by is_null, an all-null file by not_null — and the residual
    filter makes the result exact vs the JVM reader. Null tests are NOT
    null-rejecting, so the all-null prune must not fire for them."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out = str(tmp_path / "out")
    # band 0: n_chars never null; band 2: always null; band 1: mixed
    df = (spark.range(300)
          .withColumn("doc_id", F.col("id").cast("string"))
          .withColumn("tokens",
                      F.sequence(F.lit(0), (F.col("id") % 3).cast("int")))
          .withColumn("band", (F.col("id") % 3).cast("int"))
          .withColumn("n_chars", F.when(
              (F.col("band") == 0)
              | ((F.col("band") == 1) & (F.col("id") % 2 == 0)),
              F.col("id").cast("int")))
          .drop("id")
          .repartitionByRange(3, "band").sortWithinPartitions("band"))
    emit_parquet_dataset(df, out).collect()
    jvm = spark.read.parquet(out)

    def ids(dframe):
        return sorted(r.doc_id for r in dframe.select("doc_id").collect())

    plan: dict = {}
    got = read_parquet_dataset(spark, out,
                               predicate=[("n_chars", "is_null", None)],
                               plan_out=plan)
    assert ids(got) == ids(jvm.filter(F.col("n_chars").isNull()))
    assert plan["rg_kept"] < plan["rg_total"]   # null-free band skipped
    plan = {}
    got = read_parquet_dataset(spark, out,
                               predicate=[("n_chars", "not_null", None)],
                               plan_out=plan)
    assert ids(got) == ids(jvm.filter(F.col("n_chars").isNotNull()))
    assert plan["rg_kept"] < plan["rg_total"]   # all-null band skipped
    # combined with a comparison on another column
    plan = {}
    got = read_parquet_dataset(
        spark, out, predicate=[("n_chars", "not_null", None),
                               ("band", "<=", 1)], plan_out=plan)
    assert ids(got) == ids(jvm.filter(F.col("n_chars").isNotNull()
                                      & (F.col("band") <= 1)))
    with pytest.raises(ValueError, match="takes value None"):
        read_parquet_dataset(spark, out,
                             predicate=[("n_chars", "is_null", 5)])


def test_dictionary_filtering_skip(tmp_path, spark):
    """Dictionary filtering in the scan (parquet-mr's rule): for an ==
    key that falls INSIDE a chunk's [min,max] but is absent from its
    dictionary page, the split is skipped after decoding ONLY the
    dictionary — no bloom needed, no data page touched. Only kicks in
    when the encodings list proves every data page is dict-encoded."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import (_rg_prunes,
                                                           footer_meta,
                                                           read_parquet_dataset)

    out = str(tmp_path / "out")
    # file 0: sources {sa, sc}; file 1: {sb, sd} — 'sb' is inside file
    # 0's lexicographic [sa, sc] stats range but not in its dictionary
    df = (spark.range(400)
          .withColumn("doc_id", F.col("id").cast("string"))
          .withColumn("tokens",
                      F.sequence(F.lit(0), (F.col("id") % 3).cast("int")))
          .withColumn("source",
                      F.element_at(F.array(F.lit("sa"), F.lit("sc"),
                                           F.lit("sb"), F.lit("sd")),
                                   (F.col("id") % 2
                                    + 2 * (F.col("id") % 4 > 1).cast("int")
                                    + 1).cast("int")))
          .withColumn("band", (F.col("id") % 4 > 1).cast("int"))
          .drop("id")
          .repartitionByRange(2, "band").sortWithinPartitions("band"))
    emit_parquet_dataset(df, out).collect()
    import glob as _glob
    files = sorted(_glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) == 2
    by_sources = {}
    for f in files:
        srcs = set(assemble_file(f, columns=["source"])
                   .column("source").to_pylist())
        by_sources[frozenset(srcs)] = f
    fa = by_sources[frozenset({"sa", "sc"})]
    fb = by_sources[frozenset({"sb", "sd"})]
    # no blooms were written; the dictionary alone must prune
    assert footer_meta(fa).row_groups[0][0].bloom_filter is None
    assert _rg_prunes(fa, 0, [("source", (b"sb",))])
    assert not _rg_prunes(fb, 0, [("source", (b"sb",))])
    assert not _rg_prunes(fa, 0, [("source", (b"sb", b"sa"))])  # in-list
    # end-to-end equality under the same predicate
    jvm = spark.read.parquet(out)
    got = sorted(r.doc_id for r in read_parquet_dataset(
        spark, out, predicate=[("source", "==", "sb")])
        .select("doc_id").collect())
    want = sorted(r.doc_id for r in jvm.filter(F.col("source") == "sb")
                  .select("doc_id").collect())
    assert got == want and got


def test_predicate_pushdown_foreign_files(tmp_path, spark):
    """Predicate pushdown over a PYARROW-written dataset: the scan prunes
    on a foreign writer's footer statistics (min_value/max_value) and
    the result matches the JVM reader under the same filter — including
    dict-encoded files, where the dictionary-filter layer must stay
    conservative on foreign encodings lists rather than mis-prune."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out = tmp_path / "out"
    out.mkdir()
    for band in range(4):
        lo = band * 100
        n = 100
        tbl = pa.table({
            "doc_id": pa.array([f"d{lo + i:04d}" for i in range(n)]),
            "n_tok": pa.array([lo + i for i in range(n)], pa.int32()),
            "source": pa.array([f"s{(lo + i) % 3}" for i in range(n)]),
        })
        pq.write_table(tbl, out / f"band{band}.parquet",
                       use_dictionary=True, compression="snappy")
    jvm = spark.read.parquet(str(out))

    def ids(dframe):
        return sorted(r.doc_id for r in dframe.select("doc_id").collect())

    for pred, expr in [
        ([("n_tok", "<", 150)], F.col("n_tok") < 150),
        ([("n_tok", ">=", 350)], F.col("n_tok") >= 350),
        ([("source", "==", "s1"), ("n_tok", "<", 50)],
         (F.col("source") == "s1") & (F.col("n_tok") < 50)),
    ]:
        plan: dict = {}
        got = read_parquet_dataset(spark, str(out), predicate=pred,
                                   plan_out=plan)
        assert ids(got) == ids(jvm.filter(expr)), pred
    # foreign stats actually pruned the disjoint bands
    plan = {}
    read_parquet_dataset(spark, str(out), predicate=[("n_tok", "<", 150)],
                         plan_out=plan).count()
    assert plan["rg_kept"] < plan["rg_total"]


def test_predicate_on_struct_field(tmp_path, spark):
    """Dotted predicate paths: a struct-field conjunct prunes on the
    nested leaf's own chunk stats and filters via pc.struct_field (null
    ancestor struct -> null child -> dropped, SQL semantics)."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out = str(tmp_path / "out")
    df = (spark.range(400)
          .withColumn("doc_id", F.col("id").cast("string"))
          .withColumn("tokens",
                      F.sequence(F.lit(0), (F.col("id") % 3).cast("int")))
          .withColumn("meta", F.when(F.col("id") % 7 != 0, F.struct(
              (F.col("id") % 100).cast("int").alias("n_chars"),
              F.concat(F.lit("o"), F.col("id") % 2).alias("origin"))))
          .drop("id")
          .repartitionByRange(4, F.col("meta.n_chars"))
          .sortWithinPartitions(F.col("meta.n_chars")))
    emit_parquet_dataset(df, out).collect()
    jvm = spark.read.parquet(out)

    def ids(dframe):
        return sorted(r.doc_id for r in dframe.select("doc_id").collect())

    plan: dict = {}
    got = read_parquet_dataset(
        spark, out, predicate=[("meta.n_chars", "<", 25),
                               ("meta.origin", "==", "o1")],
        plan_out=plan)
    want = jvm.filter((F.col("meta.n_chars") < 25)
                      & (F.col("meta.origin") == "o1"))
    assert ids(got) == ids(want) and got.count() > 0
    assert plan["rg_kept"] < plan["rg_total"]   # nested-leaf stats pruned
    # projection excluding the struct still works (root read internally)
    pruned = read_parquet_dataset(spark, out, columns=["doc_id"],
                                  predicate=[("meta.n_chars", ">=", 75)])
    assert pruned.columns == ["doc_id"]
    assert ids(pruned) == ids(jvm.filter(F.col("meta.n_chars") >= 75))
    with pytest.raises(ValueError, match="non-repeated"):
        read_parquet_dataset(spark, out,
                             predicate=[("tokens.list.element", "==", 1)])


def test_jobs_scan_cli(tmp_path, spark):
    """jobs scan end to end: pushdown read -> engine sink write; the
    output directory reads back (JVM) to exactly the filtered subset."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    df = (spark.range(300)
          .withColumn("doc_id", F.col("id").cast("string"))
          .withColumn("tokens",
                      F.sequence(F.lit(0), (F.col("id") % 3).cast("int")))
          .withColumn("n_tok", (F.col("id") % 50).cast("int"))
          .drop("id").repartitionByRange(3, "n_tok")
          .sortWithinPartitions("n_tok"))
    emit_parquet_dataset(df, src_dir).collect()
    # drive through the real argv surface (reuses the session via
    # getOrCreate inside _spark)
    jobs.main(["scan", "--dir", src_dir, "--out", out_dir,
               "--where", "n_tok<10", "--columns", "doc_id,n_tok"])
    got = spark.read.parquet(out_dir)
    assert got.columns == ["doc_id", "n_tok"]
    assert got.count() == 60 and got.agg(F.max("n_tok")).collect()[0][0] == 9


def test_review_regressions(tmp_path, spark):
    """Pinned fixes from the r7 code review: (1) caller-order projection
    binds correctly through mapInArrow (file-order schema previously
    misbound or crashed); (2) an all-null string chunk assembles as n
    nulls (offsets buffer sized n+1); (3) an all-null decimal128 chunk
    assembles without indexing an empty unscaled array; (4) verify-
    parquet's JVM filter handles dotted struct paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources.record_assembly import (assemble_file,
                                                           read_parquet_dataset)

    d = tmp_path / "ds"
    d.mkdir()
    tbl = pa.table({
        "doc_id": pa.array(["a", "b", "c"]),
        "n_tok": pa.array([1, 2, 3], pa.int32()),
        "s_all_null": pa.array([None, None, None], pa.string()),
        "dec_all_null": pa.array([None, None, None], pa.decimal128(10, 2)),
    })
    pq.write_table(tbl, d / "f.parquet")
    # (2) + (3): whole-file assembly survives all-null string/decimal
    at = assemble_file(str(d / "f.parquet"))
    assert at.column("s_all_null").null_count == 3
    assert at.column("dec_all_null").null_count == 3
    # (1): projection NOT in file order binds by caller order
    df = read_parquet_dataset(spark, str(d), columns=["n_tok", "doc_id"])
    assert df.columns == ["n_tok", "doc_id"]
    rows = sorted((r.doc_id, r.n_tok) for r in df.collect())
    assert rows == [("a", 1), ("b", 2), ("c", 3)]
    # (4): dotted --where path reaches the JVM side as struct access
    from pyspark.sql import functions as F

    from parquet_cpp_spark import jobs
    d2 = str(tmp_path / "ds2")
    (spark.range(20)
     .withColumn("doc_id", F.col("id").cast("string"))
     .withColumn("meta", F.struct((F.col("id") % 5).cast("int")
                                  .alias("k")))
     .drop("id").write.parquet(d2))
    jobs.main(["verify-parquet", "--dir", d2, "--where", "meta.k>=3"])
