"""Round-7 writer/sink surfaces: struct and map columns, OPTIONAL lists
(null slots + nullable elements), LZ4/BROTLI page codecs, and PageIndex
bound truncation.

Reference parity: nested group schema emission (
/root/reference/src/parquet/arrow/schema.cc, writer bridges
arrow/writer.cc:305-932), OPTIONAL-REPEATED def levels
(column_writer.cc:616-629, pinned by column_writer-test.cc:387-460),
struct round-trips (arrow/arrow-reader-writer-test.cc:595-1928), codec
enum LZ4/BROTLI (types.h:105-116), and index-bound truncation (the
reference caps byte_array index bounds with increment-truncated maxima).
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark.sources import parquet_format as pf  # noqa: E402
from parquet_cpp_spark.sources import parquet_writer as pw  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-nested-writer",
                     shuffle_partitions=4)


def _duck(path, sql="select * from '{p}'"):
    import duckdb
    return duckdb.sql(sql.format(p=path)).fetchall()


# ---------------------------------------------------------------------------
# Struct columns
# ---------------------------------------------------------------------------

def test_struct_roundtrip_three_readers(tmp_path, spark):
    """OPTIONAL struct with OPTIONAL + REQUIRED fields, dict encodings,
    multiple pages and row groups: pyarrow, DuckDB and Spark's JVM reader
    all see identical rows (arrow-reader-writer-test.cc:595+ analog)."""
    import pyarrow.parquet as pq

    n = 1000
    rng = np.random.default_rng(7)
    svalid = rng.random(n) > 0.2
    fvalid = rng.random(n) > 0.3
    xs = (rng.integers(0, 50, n)).astype(np.int32)
    ys = [b"cat-%d" % (i % 17) for i in range(n)]
    zs = rng.random(n)
    path = str(tmp_path / "s.parquet")
    pw.write_file(path, [
        ("id", "int64", np.arange(n, dtype=np.int64)),
        pw.StructColumn("s", [
            ("x", "int32", xs, fvalid, True),
            ("y", "byte_array", ys, None, True),
            ("z", "double", zs),
        ], valid=svalid),
    ], n, utf8_columns={"s.y"}, row_group_rows=300, page_rows=120)

    def expect(i):
        if not svalid[i]:
            return None
        return {"x": int(xs[i]) if fvalid[i] else None,
                "y": ys[i].decode(), "z": zs[i]}

    t = pq.read_table(path).to_pylist()
    assert [r["s"] for r in t] == [expect(i) for i in range(n)]

    rows = _duck(path, "select id, s from '{p}' order by id")
    assert [r[1] for r in rows] == [expect(i) for i in range(n)]

    got = {r.id: r.s for r in spark.read.parquet(path).collect()}
    for i in range(n):
        e = expect(i)
        if e is None:
            assert got[i] is None
        else:
            assert got[i].asDict() == e

    # the engine's own reader sees each leaf with struct def levels
    own = pf.read_file(path)
    x_vals, x_def, _ = own["s.x"]
    assert x_def.tolist() == np.where(
        svalid, np.where(fvalid, 2, 1), 0).astype(int).tolist()
    assert len(x_vals) == int((svalid & fvalid).sum())


def test_struct_chunk_stats_null_count(tmp_path):
    """Statistics.null_count on a struct leaf counts def < max_def slots:
    struct-null rows AND field-null rows (column_writer.cc EncodedStats)."""
    import pyarrow.parquet as pq

    svalid = np.array([1, 0, 1, 1], bool)
    fvalid = np.array([1, 1, 0, 1], bool)
    path = str(tmp_path / "st.parquet")
    pw.write_file(path, [pw.StructColumn("s", [
        ("a", "int32", np.array([5, 9, 9, 7], np.int32), fvalid)],
        valid=svalid)], 4)
    md = pq.ParquetFile(path).metadata.row_group(0).column(0)
    assert md.statistics.null_count == 2    # row 1 (struct), row 2 (field)
    assert md.statistics.min == 5 and md.statistics.max == 7


# ---------------------------------------------------------------------------
# OPTIONAL lists / nullable elements
# ---------------------------------------------------------------------------

def test_optional_list_roundtrip_three_readers(tmp_path, spark):
    """Null list vs empty list vs elements, plus nullable elements
    (max_def = 3), across V1 and V2 pages: pyarrow + DuckDB + Spark read
    identical rows (column_writer-test.cc:387-460 OPTIONAL-REPEATED)."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    n = 400
    lengths = rng.integers(0, 6, n)
    valid = rng.random(n) > 0.25
    lengths[~valid] = 0
    total = int(lengths.sum())
    ev = rng.random(total) > 0.2
    vals = rng.integers(0, 1000, total).astype(np.int32)

    def expect():
        out, k = [], 0
        for i in range(n):
            if not valid[i]:
                out.append(None)
                continue
            row = []
            for _ in range(int(lengths[i])):
                row.append(int(vals[k]) if ev[k] else None)
                k += 1
            out.append(row)
        return out

    exp = expect()
    for ver in (1, 2):
        path = str(tmp_path / f"l{ver}.parquet")
        pw.write_file(path, [pw.ListColumn(
            "l", "int32", vals, lengths, use_dictionary=True,
            valid=valid, element_valid=ev)], n,
            row_group_rows=150, page_rows=60, data_page_version=ver,
            compression="zstd")
        assert [r["l"] for r in pq.read_table(path).to_pylist()] == exp
        assert [r[0] for r in _duck(path)] == exp
        got = [r.l for r in spark.read.parquet(path).collect()]
        assert [None if g is None else list(g) for g in got] == exp


def test_optional_list_of_strings(tmp_path, spark):
    """list<string> with null slots through the writer: the UTF8
    annotation rides on the element, lists stay OPTIONAL."""
    import pyarrow.parquet as pq

    lengths = np.array([2, 0, 0, 1])
    valid = np.array([1, 0, 1, 1], bool)
    vals = [b"alpha", b"beta", b"gamma"]
    path = str(tmp_path / "ls.parquet")
    pw.write_file(path, [pw.ListColumn("t", "byte_array", vals, lengths,
                                       use_dictionary=True, valid=valid)],
                  4, utf8_columns={"t"})
    exp = [["alpha", "beta"], None, [], ["gamma"]]
    assert [r["t"] for r in pq.read_table(path).to_pylist()] == exp
    got = [r.t for r in spark.read.parquet(path)
           .orderBy("t").collect()]
    assert sorted([g for g in got if g is not None]) == \
        sorted([e for e in exp if e is not None])
    assert got.count(None) == 1


# ---------------------------------------------------------------------------
# list<list<>> (max_rep = 2) and struct-in-struct
# ---------------------------------------------------------------------------

def test_nested_list_roundtrip_three_readers(tmp_path, spark):
    """list<list<int32>> with every layer OPTIONAL (null row / null inner
    list / null element, max_def = 5), dict + plain, V1 and V2 pages:
    pyarrow, DuckDB and Spark's JVM reader see identical rows
    (arrow/writer.cc:71-262 recursive list walker, two LIST levels)."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(23)
    n = 300
    outer = rng.integers(0, 4, n)
    valid = rng.random(n) > 0.2
    outer[~valid] = 0
    n_inner = int(outer.sum())
    inner = rng.integers(0, 3, n_inner)
    ivalid = rng.random(n_inner) > 0.2
    inner[~ivalid] = 0
    total = int(inner.sum())
    ev = rng.random(total) > 0.15
    vals = rng.integers(0, 100, total).astype(np.int32)

    def expect():
        out, j, k = [], 0, 0
        for i in range(n):
            if not valid[i]:
                out.append(None)
                continue
            row = []
            for _ in range(int(outer[i])):
                if not ivalid[j]:
                    row.append(None)
                else:
                    il = []
                    for _ in range(int(inner[j])):
                        il.append(int(vals[k]) if ev[k] else None)
                        k += 1
                    row.append(il)
                j += 1
            out.append(row)
        return out

    exp = expect()
    for ver, use_dict in ((1, True), (2, False)):
        path = str(tmp_path / f"nl{ver}.parquet")
        pw.write_file(path, [pw.NestedListColumn(
            "g", "int32", vals, outer, inner, use_dictionary=use_dict,
            valid=valid, inner_valid=ivalid, element_valid=ev)], n,
            row_group_rows=120, page_rows=50, data_page_version=ver,
            compression="snappy")
        assert [r["g"] for r in pq.read_table(path).to_pylist()] == exp
        assert [r[0] for r in _duck(path)] == exp
        got = [None if g is None else
               [None if x is None else list(x) for x in g]
               for g in (r.g for r in spark.read.parquet(path).collect())]
        assert got == exp


def test_nested_list_required_layers(tmp_path):
    """All-REQUIRED list<list<string>> (max_def = 2, def levels track only
    emptiness): empty outer and empty inner lists round-trip."""
    import pyarrow.parquet as pq

    outer = np.array([2, 0, 1, 3])
    inner = np.array([1, 0, 2, 0, 0, 1])
    vals = [b"a", b"b", b"c", b"d"]
    path = str(tmp_path / "r.parquet")
    pw.write_file(path, [pw.NestedListColumn(
        "g", "byte_array", vals, outer, inner, use_dictionary=True)], 4,
        utf8_columns={"g"})
    exp = [[["a"], []], [], [["b", "c"]], [[], [], ["d"]]]
    assert [r["g"] for r in pq.read_table(path).to_pylist()] == exp
    assert [r[0] for r in _duck(path)] == exp


def test_struct_in_struct_roundtrip_three_readers(tmp_path, spark):
    """struct<lang, q: struct<score, n>> — OPTIONAL groups at both
    depths: a null outer struct zeroes every leaf, a null inner struct
    zeroes only its own leaves (SchemaDescriptor def accumulation,
    schema.h:106-303; round-trips arrow-reader-writer-test.cc:595+)."""
    import pyarrow.parquet as pq

    n = 500
    rng = np.random.default_rng(31)
    ovalid = rng.random(n) > 0.2
    qvalid = rng.random(n) > 0.3
    nvalid = rng.random(n) > 0.25
    langs = [b"lang-%d" % (i % 7) for i in range(n)]
    scores = rng.random(n)
    ns = rng.integers(0, 99, n).astype(np.int32)
    path = str(tmp_path / "ss.parquet")
    pw.write_file(path, [pw.StructColumn("meta", [
        ("lang", "byte_array", langs, None, True),
        ("q", pw.StructColumn("q", [
            ("score", "double", scores),
            ("n", "int32", ns, nvalid, True),
        ], valid=qvalid)),
    ], valid=ovalid)], n, utf8_columns={"meta.lang"},
        row_group_rows=200, page_rows=80)

    def expect(i):
        if not ovalid[i]:
            return None
        q = ({"score": scores[i],
              "n": int(ns[i]) if nvalid[i] else None}
             if qvalid[i] else None)
        return {"lang": langs[i].decode(), "q": q}

    exp = [expect(i) for i in range(n)]
    assert [r["meta"] for r in pq.read_table(path).to_pylist()] == exp
    assert [r[0] for r in _duck(path)] == exp
    got = spark.read.parquet(path).collect()
    for i, r in enumerate(got):
        e = exp[i]
        if e is None:
            assert r.meta is None
        else:
            d = r.meta.asDict(recursive=True)
            assert d == e

    # engine's own reader: inner-leaf def levels accumulate 3 ancestors
    own = pf.read_file(path)
    nv, ndef, _ = own["meta.q.n"]
    want = np.where(ovalid, 1 + np.where(qvalid, 1 + nvalid, 0), 0)
    assert ndef.tolist() == want.astype(int).tolist()


# ---------------------------------------------------------------------------
# list<struct> and struct-with-list
# ---------------------------------------------------------------------------

def test_list_of_struct_roundtrip_three_readers(tmp_path, spark):
    """list<struct<a:int32, b:string>> with null lists, empty lists, null
    struct elements and null fields (max_def = 4), dict + plain across V1
    and V2 pages: pyarrow, DuckDB and Spark's JVM reader all see
    identical rows — the MapColumn parallel-leaf pattern generalized
    (arrow/writer.cc:305-932 list-of-struct leaf set)."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(41)
    n = 300
    lengths = rng.integers(0, 5, n)
    valid = rng.random(n) > 0.2
    lengths[~valid] = 0
    total = int(lengths.sum())
    evalid = rng.random(total) > 0.15       # null struct elements
    avalid = rng.random(total) > 0.25       # null field a
    avals = rng.integers(0, 40, total).astype(np.int32)
    bvals = [b"w-%d" % (i % 13) for i in range(total)]

    def expect():
        out, k = [], 0
        for i in range(n):
            if not valid[i]:
                out.append(None)
                continue
            row = []
            for _ in range(int(lengths[i])):
                if not evalid[k]:
                    row.append(None)
                else:
                    row.append({"a": int(avals[k]) if avalid[k] else None,
                                "b": bvals[k].decode()})
                k += 1
            out.append(row)
        return out

    exp = expect()
    for ver in (1, 2):
        path = str(tmp_path / f"los{ver}.parquet")
        pw.write_file(path, [pw.ListStructColumn("items", [
            ("a", "int32", avals, avalid, True),
            ("b", "byte_array", bvals, None, ver == 1),
        ], lengths, valid=valid, element_valid=evalid)], n,
            utf8_columns={"items.b"}, row_group_rows=120, page_rows=50,
            data_page_version=ver, compression="zstd")
        assert [r["items"] for r in pq.read_table(path).to_pylist()] == exp
        assert [r[0] for r in _duck(path)] == exp
        got = []
        for r in spark.read.parquet(path).collect():
            if r.items is None:
                got.append(None)
            else:
                got.append([None if e is None else e.asDict()
                            for e in r.items])
        assert got == exp

    # engine's own reader: both leaves share rep levels; def classes are
    # 0 null-list / 1 empty / 2 null-struct / 3 field-null / 4 value
    own = pf.read_file(path)
    a_vals, a_def, a_rep = own["items.list.element.a"]
    assert len(a_vals) == int((evalid & avalid).sum())
    assert int((a_def == 2).sum()) == int((~evalid).sum())


def test_struct_with_list_field_roundtrip(tmp_path, spark):
    """struct<x:int32, tags:list<string>>: the REPEATED leaf's def levels
    start below the optional struct ancestor (null struct -> 0, null
    list -> 1, empty -> 2, value -> 3); three readers agree."""
    import pyarrow.parquet as pq

    svalid = np.array([1, 0, 1, 1, 1], bool)
    xs = np.array([1, 0, 3, 4, 5], np.int32)
    tl = np.array([2, 0, 0, 1, 0])
    tv = np.array([1, 1, 0, 1, 1], bool)   # row 2: null list in a valid struct
    tvals = [b"t1", b"t2", b"t3"]
    path = str(tmp_path / "swl.parquet")
    pw.write_file(path, [pw.StructColumn("meta", [
        ("x", "int32", xs),
        ("tags", pw.ListColumn("tags", "byte_array", tvals, tl,
                               use_dictionary=True, valid=tv)),
    ], valid=svalid)], 5, utf8_columns={"meta.tags"})
    exp = [{"x": 1, "tags": ["t1", "t2"]}, None,
           {"x": 3, "tags": None}, {"x": 4, "tags": ["t3"]},
           {"x": 5, "tags": []}]
    assert [r["meta"] for r in pq.read_table(path).to_pylist()] == exp
    assert [r[0] for r in _duck(path)] == exp
    got = spark.read.parquet(path).collect()
    for i, r in enumerate(got):
        if exp[i] is None:
            assert r.meta is None
        else:
            d = r.meta.asDict()
            d["tags"] = None if d["tags"] is None else list(d["tags"])
            assert d == exp[i]

    own = pf.read_file(path)
    _tv, tdef, trep = own["meta.tags.list.element"]
    assert tdef.tolist() == [3, 3, 0, 1, 3, 2]
    assert trep.tolist() == [0, 1, 0, 0, 0, 0]


# ---------------------------------------------------------------------------
# Map columns
# ---------------------------------------------------------------------------

def test_map_roundtrip_three_readers(tmp_path, spark):
    """map<string,int32> with null maps, empty maps and null values:
    MAP/MAP_KEY_VALUE converted types (schema.cc map path), two parallel
    REPEATED leaves sharing one lengths array."""
    import pyarrow.parquet as pq

    lengths = np.array([1, 0, 0, 2, 3])
    valid = np.array([1, 1, 0, 1, 1], bool)
    keys = [b"a", b"b", b"c", b"x", b"y", b"z"]
    vv = np.array([1, 0, 3, 4, 5, 6], np.int32)
    vvalid = np.array([1, 0, 1, 1, 1, 1], bool)
    path = str(tmp_path / "m.parquet")
    pw.write_file(path, [pw.MapColumn(
        "m", "byte_array", keys, "int32", vv, lengths,
        valid=valid, value_valid=vvalid, key_use_dictionary=True)],
        5, utf8_columns={"m.key"})
    exp = [{"a": 1}, {}, None, {"b": None, "c": 3},
           {"x": 4, "y": 5, "z": 6}]
    t = [r["m"] for r in pq.read_table(path).to_pylist()]
    assert [None if x is None else dict(x) for x in t] == exp
    got = {i: r.m for i, r in enumerate(
        spark.read.parquet(path).collect())}
    # Spark returns maps unordered; compare as dicts (row order preserved
    # for a single parquet file scanned by one task)
    assert [got[i] for i in range(5)] == exp


# ---------------------------------------------------------------------------
# LZ4 / BROTLI page codecs
# ---------------------------------------------------------------------------

def test_codec_matrix_lz4_brotli(tmp_path, spark):
    """BROTLI (id 4), Hadoop-framed LZ4 (id 5) and LZ4_RAW (id 7) pages:
    pyarrow reads all three; DuckDB and Spark read what they support
    (lz4_raw / lz4+lz4_raw); the engine's own reader decodes every one
    (types.h:105-116 codec enum, Lz4Codec Hadoop framing)."""
    import pyarrow.parquet as pq

    n = 5000
    vals = (np.arange(n, dtype=np.int32) * 7) % 997
    names = [b"doc-%05d" % (i % 311) for i in range(n)]
    for codec in ("brotli", "lz4", "lz4_raw"):
        path = str(tmp_path / f"{codec}.parquet")
        pw.write_file(path, [("v", "int32", vals, None, True),
                             ("s", "byte_array", names, None, True)],
                      n, compression=codec, page_rows=1000,
                      utf8_columns={"s"})
        t = pq.read_table(path)
        assert t.column("v").to_pylist() == vals.tolist()
        assert t.column("s").to_pylist() == [x.decode() for x in names]
        own = pf.read_file(path)
        assert np.array_equal(np.asarray(own["v"][0]), vals)
        if codec in ("lz4_raw",):
            assert _duck(path, "select count(*), sum(v) from '{p}'") == \
                [(n, int(vals.sum()))]
        if codec in ("lz4", "lz4_raw"):
            row = spark.read.parquet(path).selectExpr(
                "count(*) c", "sum(v) s").collect()[0]
            assert (row.c, row.s) == (n, int(vals.sum()))


# ---------------------------------------------------------------------------
# PageIndex byte_array bound truncation
# ---------------------------------------------------------------------------

def test_index_bound_truncation(tmp_path):
    """ColumnIndex bounds for long strings are truncated — min to a
    64-byte prefix, max increment-truncated — and stay conservative
    (trunc_min <= page min, trunc_max >= page max), so page-skipping
    lookups remain correct while the index stops bloating."""
    n = 200
    vals = [(b"prefix-%03d-" % (i // 50)) + b"x" * 200 for i in range(n)]
    path = str(tmp_path / "t.parquet")
    pw.write_file(path, [("s", "byte_array", vals, None, False)], n,
                  page_rows=50, utf8_columns={"s"})
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    meta = pf.read_footer(mv)
    idx = pf.read_page_index(mv, meta.row_groups[0][0])
    assert idx.mins is not None and len(idx.mins) == 4
    for pg in range(4):
        lo, hi = pg * 50, (pg + 1) * 50
        real_min, real_max = min(vals[lo:hi]), max(vals[lo:hi])
        tmin, tmax = idx.mins[pg], idx.maxs[pg]
        assert len(tmin) <= 64 and len(tmax) <= 65
        assert tmin <= real_min and tmax >= real_max
    # bumping only the truncated prefix keeps ordering: bounds ascending
    assert idx.boundary_order == 1

    # all-0xFF prefix cannot be increment-truncated: full value kept
    assert pw._trunc_max(b"\xff" * 80) == b"\xff" * 80
    assert pw._trunc_max(b"ab" + b"\xff" * 80) == b"ac"
    assert pw._trunc_min(b"ab" + b"\xff" * 80) == (b"ab" + b"\xff" * 62)


# ---------------------------------------------------------------------------
# Distributed sink end-to-end with nested columns
# ---------------------------------------------------------------------------

def test_sink_nested_dataset(tmp_path, spark):
    """emit_parquet_dataset on a DataFrame with struct / map /
    list<string> / nullable-list columns: executors write engine PAR1
    files, Spark's JVM reader scans them back identically, and the
    manifest's encodings tag carries dotted leaf names."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset

    df = (spark.range(600)
          .withColumn("doc_id", F.concat(F.lit("d-"), F.col("id")))
          .withColumn("meta", F.struct(
              F.when(F.col("id") % 7 != 0, F.col("id") % 50)
               .cast("int").alias("bucket"),
              F.concat(F.lit("src"), F.col("id") % 5).alias("origin")))
          .withColumn("tags", F.when(
              F.col("id") % 11 != 0,
              F.array(F.concat(F.lit("t"), F.col("id") % 3),
                      F.lit("common"))))
          .withColumn("scores", F.map_from_arrays(
              F.array(F.lit("a"), F.lit("b")),
              F.array((F.col("id") % 9).cast("int"),
                      F.when(F.col("id") % 4 != 0, F.col("id") % 13)
                       .cast("int"))))
          .drop("id"))
    out = str(tmp_path / "nested_out")
    man = emit_parquet_dataset(df.repartition(3), out).collect()
    assert len(man) == 3
    assert all("meta.bucket=" in r.encodings and "scores.key=" in
               r.encodings for r in man)
    back = spark.read.parquet(out)
    a = {r.doc_id: (r.meta, r.tags, r.scores) for r in df.collect()}
    b = {r.doc_id: (r.meta, r.tags, r.scores) for r in back.collect()}
    assert a == b

    # DuckDB can scan the same directory
    assert _duck(out + "/*.parquet",
                 "select count(*) from '{p}'") == [(600,)]


def test_sink_temporal_decimal_in_nested(tmp_path, spark):
    """date32 / timestamp (tz + NTZ) / decimal128 leaves INSIDE structs
    and timestamps inside lists through the sink: annotations and
    decimal FLBA widths are keyed by the dotted leaf path, and Spark's
    JVM reader surfaces real temporal/decimal types at every depth."""
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa

    from parquet_cpp_spark.sources.parquet_sink import (
        _write_one_file, specs_from_arrow)

    tbl = pa.table({
        "id": pa.array([0, 1, 2], pa.int64()),
        "meta": pa.array([
            {"ts": dt.datetime(2024, 1, 1, 12), "d": dt.date(2024, 1, 1),
             "amt": Decimal("12.34")},
            None,
            {"ts": None, "d": dt.date(2025, 6, 30),
             "amt": Decimal("-0.07")},
        ], pa.struct([("ts", pa.timestamp("us")), ("d", pa.date32()),
                      ("amt", pa.decimal128(9, 2))])),
        "times": pa.array([[dt.datetime(2024, 2, 2)], [], None],
                          pa.list_(pa.timestamp("ms"))),
    })
    _specs, _u, ann, dec = specs_from_arrow(tbl)
    assert ann == {"meta.ts": "timestamp_ntz_us", "meta.d": "date",
                   "times": "timestamp_ntz_ms"}
    assert dec == {"meta.amt": (9, 2)}
    path = str(tmp_path / "td.parquet")
    _write_one_file(tbl, path + ".tmp", path, 100, 50, None, 1)
    rows = sorted(spark.read.parquet(path).collect(),
                  key=lambda r: r.id)
    assert rows[0].meta.d == dt.date(2024, 1, 1)
    assert rows[0].meta.amt == Decimal("12.34")
    assert rows[0].meta.ts == dt.datetime(2024, 1, 1, 12)
    assert rows[0].times == [dt.datetime(2024, 2, 2)]
    assert rows[1].meta is None and rows[1].times == []
    assert rows[2].meta.ts is None
    assert rows[2].meta.amt == Decimal("-0.07")
    assert rows[2].times is None
    assert _duck(path, "select meta.amt from '{p}' order by id") == \
        [(Decimal("12.34"),), (None,), (Decimal("-0.07"),)]
    # decimal under a repeated leaf: FLBA leaves at any depth through
    # the walker (arrow_nested.ArrowColumn)
    from parquet_cpp_spark.sources.arrow_nested import ArrowColumn
    ld, _u, _a, _d = specs_from_arrow(pa.table({"x": pa.array(
        [[Decimal("1.00")]], pa.list_(pa.decimal128(9, 2)))}))
    assert isinstance(ld[0], ArrowColumn)
    tbl2 = pa.table({"id": pa.array([0, 1, 2], pa.int32()),
                     "x": pa.array([[Decimal("1.00"), Decimal("-2.25")],
                                    None, []],
                                   pa.list_(pa.decimal128(9, 2)))})
    path2 = str(tmp_path / "ldec.parquet")
    _write_one_file(tbl2, path2 + ".tmp", path2, 100, 50, None, 1)
    assert _duck(path2, "select x from '{p}' order by id") == \
        [([Decimal("1.00"), Decimal("-2.25")],), (None,), ([],)]


def test_sink_deep_nested_dataset(tmp_path, spark):
    """emit_parquet_dataset with array<array<int>> and struct-in-struct
    columns: the executors walk them with specs_from_arrow's rep/def
    walker and Spark's JVM reader scans the result back identically."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset

    df = (spark.range(400)
          .withColumn("spans", F.when(
              F.col("id") % 17 != 0,
              F.array(F.struct(
                  F.concat(F.lit("w"), F.col("id") % 23).alias("w"),
                  F.when(F.col("id") % 5 != 0, F.col("id") % 29)
                   .cast("int").alias("n")))))
          .withColumn("prof", F.struct(
              (F.col("id") % 3).cast("int").alias("x"),
              F.when(F.col("id") % 7 != 0,
                     F.array(F.concat(F.lit("t"), F.col("id") % 4)))
               .alias("tags")))
          .withColumn("grams", F.when(
              F.col("id") % 13 != 0,
              F.array(F.array((F.col("id") % 5).cast("int"),
                              (F.col("id") % 7).cast("int")),
                      F.when(F.col("id") % 3 != 0,
                             F.array((F.col("id") % 11).cast("int"))),
                      F.array().cast("array<int>"))))
          .withColumn("meta", F.struct(
              F.concat(F.lit("L"), F.col("id") % 4).alias("lang"),
              F.when(F.col("id") % 6 != 0, F.struct(
                  (F.col("id") % 9).cast("double").alias("score"),
                  F.when(F.col("id") % 2 == 0, F.col("id") % 17)
                   .cast("int").alias("n"))).alias("q"))))
    out = str(tmp_path / "deep_out")
    man = emit_parquet_dataset(df.repartition(2), out).collect()
    assert len(man) == 2
    assert all("meta.q.score=" in r.encodings and "grams=" in r.encodings
               and "spans.w=" in r.encodings and "prof.tags=" in r.encodings
               for r in man)
    back = spark.read.parquet(out)
    a = {r.id: (r.grams, r.meta, r.spans, r.prof) for r in df.collect()}
    b = {r.id: (r.grams, r.meta, r.spans, r.prof) for r in back.collect()}
    assert a == b
    assert _duck(out + "/*.parquet",
                 "select count(*), count(grams), count(meta.q.n) "
                 "from '{p}'") == [(400, 369, 133)]
