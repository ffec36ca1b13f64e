"""General-depth nested columns through the PAR1 writer and sink.

``arrow_nested.ArrowColumn`` is the general rep/def walker: one recursive
vectorized pass turning a pyarrow array of ANY supported nesting
(lists / structs / maps stacked to any depth, nulls at every level) into
writer leaves + schema tree. It is the engine's analog of the reference's
recursive Arrow path builder (/root/reference/src/parquet/arrow/
path_internal.cc — per-node rep/def context, one stream per primitive
leaf; schema walk in arrow/schema.cc), re-expressed as whole-column numpy
slot arrays instead of per-value state machines.

The sink hands it every column (parquet_sink.specs_from_arrow) and the
writer's numpy spec classes build on it, so these tests pin the walker's
level semantics (pyarrow + DuckDB read-back equality) and the sink's
routing of every column through it."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _write_and_read(cols, num_rows, tmp_path, **kw):
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_writer as pw
    path = str(tmp_path / "an.parquet")
    pw.write_file(path, cols, num_rows, **kw)
    return path, pq.read_table(path)


def _col(name, data, typ):
    import pyarrow as pa

    from parquet_cpp_spark.sources.arrow_nested import ArrowColumn
    return ArrowColumn(name, pa.array(data, type=typ))


def test_three_deep_list(tmp_path):
    import pyarrow as pa
    data = [[[[1, 2], None, []], []], None, [], [[[3]], None, [[], [4, 5]]]]
    typ = pa.list_(pa.list_(pa.list_(pa.int32())))
    _, t = _write_and_read([_col("d", data, typ)], 4, tmp_path)
    assert t.column("d").to_pylist() == data


def test_list_struct_with_nested_list_and_map(tmp_path):
    import pyarrow as pa
    typ = pa.list_(pa.struct([
        ("a", pa.int32()),
        ("b", pa.list_(pa.string())),
        ("m", pa.map_(pa.string(), pa.int64())),
    ]))
    data = [
        [{"a": 1, "b": ["x", "yz"], "m": [("k1", 10)]}, None,
         {"a": None, "b": [], "m": None}],
        None,
        [],
        [{"a": 7, "b": None, "m": [("k2", 20), ("k3", None)]}],
    ]
    _, t = _write_and_read([_col("c", data, typ)], 4, tmp_path,
                           row_group_rows=2, page_rows=1)
    assert t.column("c").to_pylist() == data


def test_map_with_nested_values_and_struct_of_everything(tmp_path):
    import pyarrow as pa
    mtyp = pa.map_(pa.int32(), pa.list_(pa.float64()))
    mdata = [[(1, [1.5, None]), (2, None)], None, [], [(3, [])]]
    styp = pa.struct([
        ("x", pa.int64()),
        ("inner", pa.struct([("tags", pa.list_(pa.string())),
                             ("deep", pa.list_(pa.list_(pa.int32())))])),
    ])
    sdata = [
        {"x": 1, "inner": {"tags": ["a"], "deep": [[1], None, []]}},
        None,
        {"x": None, "inner": None},
        {"x": 4, "inner": {"tags": None, "deep": [[2, 3]]}},
    ]
    _, t = _write_and_read(
        [_col("m", mdata, mtyp), _col("s", sdata, styp)], 4, tmp_path)
    assert t.column("m").to_pylist() == mdata
    assert t.column("s").to_pylist() == sdata


def test_temporal_decimal_string_leaves_at_depth(tmp_path):
    """Annotation harvesting through pcs_annotations: UTF8, DATE /
    TIMESTAMP converted types and minimal-width BE FLBA decimals must
    survive at any nesting depth (reference: arrow/writer.cc:572-604
    decimal coercion; schema.cc logical-type emission)."""
    import datetime
    import decimal

    import pyarrow as pa
    dt = datetime.date
    typ = pa.list_(pa.struct([
        ("d", pa.date32()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("dec", pa.decimal128(9, 2)),
        ("s", pa.string()),
    ]))
    data = [
        [{"d": dt(2020, 1, 2), "ts": None,
          "dec": decimal.Decimal("12.25"), "s": "héllo"}],
        None,
        [{"d": None,
          "ts": datetime.datetime(2021, 3, 4, 5, 6, 7,
                                  tzinfo=datetime.timezone.utc),
          "dec": None, "s": None}, None],
    ]
    path, t = _write_and_read([_col("c", data, typ)], 3, tmp_path)
    got = t.column("c").to_pylist()
    assert got[1] is None and got[2][1] is None
    assert got[0][0]["d"] == dt(2020, 1, 2)
    assert got[0][0]["dec"] == decimal.Decimal("12.25")
    assert got[0][0]["s"] == "héllo"
    assert got[2][0]["ts"] == data[2][0]["ts"]
    # DuckDB agrees on the schema's logical types
    import duckdb
    (row,) = duckdb.sql(
        f"select c[1].dec + 1, c[1].s from '{path}' where c is not null "
        "and c[1].dec is not null").fetchall()
    assert row == (decimal.Decimal("13.25"), "héllo")


def test_fixed_size_list_casts_to_list(tmp_path):
    import pyarrow as pa
    data = [[1.0, 2.0], None, [3.0, 4.0]]
    typ = pa.list_(pa.float32(), 2)
    _, t = _write_and_read([_col("v", data, typ)], 3, tmp_path)
    assert t.column("v").to_pylist() == data


def test_empty_and_all_null_columns(tmp_path):
    import pyarrow as pa
    typ = pa.list_(pa.struct([("a", pa.int32())]))
    _, t = _write_and_read([_col("e", [], typ)], 0, tmp_path)
    assert t.num_rows == 0
    _, t2 = _write_and_read([_col("e", [None, None], typ)], 2, tmp_path)
    assert t2.column("e").to_pylist() == [None, None]


def test_null_list_slot_with_extent_is_skipped(tmp_path):
    """Arrow permits a null list slot whose offsets still span values;
    parquet must NOT write those values (they're undefined); the
    walker skips them."""
    import pyarrow as pa
    values = pa.array([9, 1, 2, 7], pa.int32())
    offsets = pa.array([0, 1, 3, 4], pa.int32())
    arr = pa.ListArray.from_arrays(offsets, values)
    # null out slot 2 (extent 1) via a validity-carrying rebuild
    arr = pa.ListArray.from_arrays(
        pa.array([0, 1, 3, 4], pa.int32()),
        values, mask=pa.array([False, False, True]))
    from parquet_cpp_spark.sources.arrow_nested import ArrowColumn
    _, t = _write_and_read([ArrowColumn("l", arr)], 3, tmp_path)
    assert t.column("l").to_pylist() == [[9], [1, 2], None]


def test_walker_peak_memory_bounded():
    """The walker's numpy temporaries stay within a fixed multiple of the
    column's value bytes on a ~1M-element list<int32> (1% empty rows):
    child slot indices come from one in-place ramp, index arrays are
    int32 when they fit, and dense offsets come from the few valueless
    slots. Int64 per-element index temporaries take the peak past 10x."""
    import tracemalloc

    import pyarrow as pa

    from parquet_cpp_spark.sources.arrow_nested import ArrowColumn
    rng = np.random.default_rng(0)
    n_rows = 10_000
    lengths = rng.integers(1, 200, n_rows)
    lengths[rng.random(n_rows) < 0.01] = 0
    off = np.zeros(n_rows + 1, np.int32)
    np.cumsum(lengths, out=off[1:])
    vals = rng.integers(0, 1 << 20, int(off[-1])).astype(np.int32)
    arr = pa.ListArray.from_arrays(pa.array(off), pa.array(vals))
    ArrowColumn("t", arr)          # warm imports outside the trace
    tracemalloc.start()
    try:
        col = ArrowColumn("t", arr)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert col.pcs_leaves()[0].dense.nbytes == vals.nbytes
    assert peak <= 6 * vals.nbytes, peak / vals.nbytes


def test_n_values_accounting():
    """pcs_n_values counts slots reaching each leaf (present-or-null
    values, no ancestor-cut markers) — the sink manifest's semantics."""
    import pyarrow as pa

    from parquet_cpp_spark.sources.arrow_nested import ArrowColumn
    typ = pa.list_(pa.struct([("a", pa.int32()), ("b", pa.string())]))
    #       2 elements (incl. 1 null struct) + 0 + marker-only rows
    data = [[{"a": 1, "b": "x"}, None], None, []]
    c = ArrowColumn("c", pa.array(data, type=typ))
    # leaf a: slots 0,1 live at element level -> null struct cuts -> 1+?
    # null struct element still occupies an element slot at the struct
    # node but is CUT for its children, so each leaf sees 1 value slot
    assert c.pcs_n_values() == 2   # leaf a: 1, leaf b: 1
    flat = ArrowColumn("f", pa.array([1, None, 3], pa.int32()))
    assert flat.pcs_n_values() == 3


def test_sink_routes_every_column_through_walker(tmp_path):
    """specs_from_arrow hands every column to ArrowColumn — flat, list,
    struct, 3-deep list and a map of lists — so one level model writes
    them all; the file reads back equal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_sink as sink
    from parquet_cpp_spark.sources.arrow_nested import ArrowColumn
    tbl = pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "tokens": pa.array([[1], []], pa.list_(pa.int32())),
        "st": pa.array([{"a": 1}, None],
                       pa.struct([("a", pa.int32())])),
        "deep": pa.array([[[[1]]], None],
                         pa.list_(pa.list_(pa.list_(pa.int32())))),
        "mm": pa.array([[(1, [2])], None],
                       pa.map_(pa.int32(), pa.list_(pa.int32()))),
    })
    specs, utf8, ann, dec = sink.specs_from_arrow(tbl)
    assert all(type(s) is ArrowColumn for s in specs)
    assert [s.name for s in specs] == tbl.column_names
    assert (utf8, ann, dec) == (set(), {}, {})
    path = str(tmp_path / "r.parquet")
    sink._write_one_file(tbl, path + ".tmp", path, None, None, None, 1)
    assert pq.read_table(path).to_pylist() == tbl.to_pylist()
    # a leaf type the walker does not support still fails loudly
    bad = pa.table({"x": pa.array([[1], None],
                                  pa.list_(pa.duration("s")))})
    with pytest.raises(ValueError):
        sink.specs_from_arrow(bad)


# parquet Encoding ids each pcs.encodings tag may put in a chunk's
# ColumnMetaData encodings: the tag's own id first, then RLE levels (and
# PLAIN pages after a dictionary fallback)
_TAG_ENCODINGS = {"plain": (0, {0, 3}), "dict": (2, {2, 0, 3}),
                  "delta": (5, {5, 3}), "dlba": (6, {6, 3}),
                  "dba": (7, {7, 3})}


def _footer_tags(path):
    """(pcs.encodings as [(leaf, tag)], FileMeta) of a sink file."""
    from parquet_cpp_spark.sources import parquet_format as pf
    with open(path, "rb") as fh:
        meta = pf.read_footer(memoryview(fh.read()))
    tags = [kv.split("=") for kv in
            meta.key_value_metadata["pcs.encodings"].split(",")]
    return tags, meta


def test_auto_encodings_on_walker_leaves(tmp_path):
    """The sink runs the selector per walker leaf: a low-cardinality int
    leaf flips to dictionary, a high-entropy one stays PLAIN; the
    manifest tag reports the dotted leaf names, and on every table
    (that one and both perfbench token profiles) each leaf's tag names
    the encodings its chunks' footer metadata lists."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_sink as sink
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_table
    rng = np.random.RandomState(7)
    n = 2000
    rep = rng.randint(0, 4, n)
    uniq = rng.randint(-2**30, 2**30, n)
    typ = pa.list_(pa.struct([("r", pa.int64()), ("u", pa.int64())]))
    data = [[{"r": int(rep[i]), "u": int(uniq[i])}] for i in range(n)]
    tbl = pa.table({"c": pa.array(data, type=typ)})
    specs = sink.auto_encodings(sink.specs_from_arrow(tbl)[0])
    tag = dict(kv.split("=") for kv in sink._encodings_tag(specs).split(","))
    assert tag["c.r"] == "dict"
    assert tag["c.u"] in ("plain", "delta")
    # and the file still round-trips with the chosen encodings
    dest = str(tmp_path / "f.parquet")
    row = sink._write_one_file(tbl, dest + ".tmp", dest, 500, 100, "zstd", 1)
    assert pq.read_table(dest).column("c").to_pylist() == data
    assert row[2] == 2 * n   # two leaves, one value slot per row each
    files = [(dest, tbl)]
    for avg_len in (256, 16):
        tok = synthesize_tokens_table(25_000, seed=1, avg_len=avg_len)
        path = str(tmp_path / f"tok{avg_len}.parquet")
        sink._write_one_file(tok, path + ".tmp", path, None, 2048, "zstd", 1)
        files.append((path, tok))
    for path, src in files:
        tags, meta = _footer_tags(path)
        assert len(tags) == len(meta.leaves)
        for rg in meta.row_groups:
            for (name, t), chunk in zip(tags, rg):
                first, allowed = _TAG_ENCODINGS[t]
                assert chunk.encodings[0] == first, (path, name, t)
                assert set(chunk.encodings) <= allowed, (path, name, t)
        assert meta.num_rows == src.num_rows


def test_leaf_names_keep_user_fields_named_like_list_parts(tmp_path):
    """Only the parts the walker adds itself (LIST ``list``/``element``,
    MAP ``key_value``) drop out of dotted leaf names: user fields named
    ``list`` or ``element`` keep theirs, so each leaf gets its own
    encoding and annotation key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_sink as sink
    n = 3000
    rng = np.random.default_rng(5)
    s = pa.StructArray.from_arrays(
        [pa.array(rng.integers(0, 1 << 40, n), pa.int64()),
         pa.array([f"doc/{i % 97}/{i}" for i in range(n)], pa.string())],
        names=["list", "element"])
    tbl = pa.table({"s": s,
                    "element": pa.array([f"e{i % 5}" for i in range(n)])})
    dest = str(tmp_path / "names.parquet")
    sink._write_one_file(tbl, dest + ".tmp", dest, None, 512, None, 1)
    assert pq.read_table(dest).equals(tbl)
    tags, _meta = _footer_tags(dest)
    assert [name for name, _t in tags] == ["s.list", "s.element", "element"]
    schema = pq.ParquetFile(dest).schema
    utf8 = {schema.column(i).path: schema.column(i).converted_type
            for i in range(len(schema))}
    assert utf8["s.element"] == utf8["element"] == "UTF8"


def _random_nested(rng, depth):
    """Random arrow type up to ``depth`` nesting levels."""
    import pyarrow as pa
    leaves = [pa.int32(), pa.int64(), pa.float64(), pa.string(),
              pa.bool_(), pa.binary()]
    if depth == 0:
        return leaves[rng.randint(len(leaves))]
    k = rng.randint(4)
    if k == 0:
        return _random_nested(rng, 0)
    if k == 1:
        return pa.list_(_random_nested(rng, depth - 1))
    if k == 2:
        nf = 1 + rng.randint(2)
        return pa.struct([(f"f{i}", _random_nested(rng, depth - 1))
                          for i in range(nf)])
    return pa.map_(pa.string(), _random_nested(rng, depth - 1))


def _random_value(rng, typ, depth):
    import pyarrow as pa
    if rng.rand() < 0.2:
        return None
    if pa.types.is_list(typ):
        return [_random_value(rng, typ.value_type, depth)
                for _ in range(rng.randint(3))]
    if pa.types.is_struct(typ):
        return {typ.field(i).name:
                _random_value(rng, typ.field(i).type, depth)
                for i in range(typ.num_fields)}
    if pa.types.is_map(typ):
        return [(f"k{j}", _random_value(rng, typ.item_type, depth))
                for j in range(rng.randint(3))]
    if pa.types.is_int32(typ) or pa.types.is_int64(typ):
        return int(rng.randint(-1000, 1000))
    if pa.types.is_float64(typ):
        return float(np.round(rng.randn(), 3))
    if pa.types.is_boolean(typ):
        return bool(rng.rand() < 0.5)
    if pa.types.is_binary(typ):
        return bytes(rng.randint(0, 256, rng.randint(4), dtype=np.uint8))
    return f"s{rng.randint(50)}"


@pytest.mark.parametrize("seed", [11, 23, 37, 51])
def test_fuzz_random_shapes(tmp_path, seed):
    """Randomized shape x value fuzz: any 3-deep stack of
    list/struct/map over six leaf types, 20% nulls at every level,
    multi-row-group multi-page files, pyarrow read-back equality."""
    import pyarrow as pa

    from parquet_cpp_spark.sources.arrow_nested import ArrowColumn
    rng = np.random.RandomState(seed)
    cols, names, data_by_name = [], [], {}
    n = 60
    for ci in range(3):
        typ = _random_nested(rng, 3)
        data = [_random_value(rng, typ, 3) for _ in range(n)]
        arr = pa.array(data, type=typ)
        name = f"c{ci}"
        cols.append(ArrowColumn(name, arr))
        names.append(name)
        data_by_name[name] = arr.to_pylist()   # canonical form
    path, t = _write_and_read(cols, n, tmp_path, row_group_rows=17,
                              page_rows=5, compression="snappy")
    for name in names:
        assert t.column(name).to_pylist() == data_by_name[name], name


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-arrow-nested",
                     shuffle_partitions=4)


def test_distributed_sink_deep_nesting(spark, tmp_path):
    """End-to-end: a source parquet with deeply nested columns goes
    through write_parquet_dataset (executors run specs_from_arrow ->
    walker -> engine writer) and Spark's JVM reader reassembles it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources.parquet_sink import write_parquet_dataset
    rng = np.random.RandomState(3)
    n = 400
    deep, spans = [], []
    for i in range(n):
        deep.append(None if i % 11 == 0 else
                    [[int(x) for x in rng.randint(0, 9, rng.randint(3))]
                     for _ in range(rng.randint(3))])
        spans.append(None if i % 7 == 0 else
                     [{"w": f"w{i % 5}", "ks": None if i % 5 == 0 else
                       [int(i % 13)]}])
    tbl = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "deep": pa.array(deep, pa.list_(pa.list_(pa.int32()))),
        "spans": pa.array(spans, pa.list_(pa.struct(
            [("w", pa.string()), ("ks", pa.list_(pa.int32()))]))),
    })
    src = str(tmp_path / "src.parquet")
    pq.write_table(tbl, src, row_group_size=100)
    out = str(tmp_path / "out")
    man = man_rows = write_parquet_dataset(spark, src, out).collect()
    assert len(man_rows) == 4
    back = spark.read.parquet(out).orderBy("id").collect()
    exp_deep = [None if d is None else d for d in deep]
    assert [r.id for r in back] == list(range(n))
    got_deep = [None if r.deep is None else
                [list(x) if x is not None else None for x in r.deep]
                for r in back]
    assert got_deep == exp_deep
    got_spans = [None if r.spans is None else
                 [{"w": s.w, "ks": None if s.ks is None else list(s.ks)}
                  for s in r.spans] for r in back]
    assert got_spans == spans
    # manifests carry the walker's dotted-leaf encoding tags
    assert all("deep=" in r.encodings and "spans.w=" in r.encodings
               for r in man)
