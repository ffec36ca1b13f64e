"""General schema-tree shapes beyond one REQUIRED repeated leaf: nullable
list elements (max_def=2) and list-of-list (max_rep=2), mirroring the
reference's 3-level list encoding (schema.h:43-77) and Arrow nested-list
round-trips (arrow/arrow-reader-writer-test.cc:1137-1928)."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark import chunk as chunkmod
from parquet_cpp_spark import levels as L
from parquet_cpp_spark.properties import WriterProperties

RNG = np.random.default_rng(13)
# the grouped encode in arrival order (no per-part sort)
UNSORTED = WriterProperties(sort_key=None)


def test_nullable_levels_roundtrip():
    lengths = RNG.integers(0, 6, 3000).astype(np.int64)
    valid = RNG.random(int(lengths.sum())) > 0.3
    rep, d = L.levels_from_lengths_nullable(lengths, valid)
    l2, v2 = L.nullable_from_levels(rep, d)
    np.testing.assert_array_equal(l2, lengths)
    np.testing.assert_array_equal(v2, valid)


def test_nested_levels_roundtrip():
    outer = RNG.integers(0, 4, 2000).astype(np.int64)
    inner = RNG.integers(0, 5, int(outer.sum())).astype(np.int64)
    rep, d = L.levels_from_nested_lengths(outer, inner)
    o2, i2 = L.nested_from_levels(rep, d)
    np.testing.assert_array_equal(o2, outer)
    np.testing.assert_array_equal(i2, inner)


@pytest.mark.parametrize("outer,inner", [
    ([0, 0], []), ([1], [0]), ([2], [0, 0]), ([3], [2, 0, 1]), ([], []),
    ([0, 2, 0], [3, 0]),
])
def test_nested_levels_edges(outer, inner):
    o = np.array(outer, np.int64)
    i = np.array(inner, np.int64)
    rep, d = L.levels_from_nested_lengths(o, i)
    o2, i2 = L.nested_from_levels(rep, d)
    np.testing.assert_array_equal(o2, o)
    np.testing.assert_array_equal(i2, i)


@pytest.mark.parametrize("codec", [chunkmod.PLAIN,
                                   chunkmod.DELTA_BINARY_PACKED,
                                   chunkmod.RLE_DICTIONARY])
def test_chunk_nullable_list_elements(codec):
    """array<int32?>: dense values + per-slot validity round-trip."""
    lengths = RNG.integers(0, 8, 4000).astype(np.int64)
    n_slots = int(lengths.sum())
    valid = RNG.random(n_slots) > 0.25
    dense = RNG.integers(0, 500, int(valid.sum())).astype(np.int32)
    enc = chunkmod.encode_chunk(dense, "int32", codec,
                                row_lengths=lengths, elem_valid=valid)
    assert enc.stats.null_count == int((~valid).sum())
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32), dense)
    np.testing.assert_array_equal(dec.row_lengths, lengths)
    np.testing.assert_array_equal(dec.valid_mask, valid)


def test_chunk_list_of_list():
    """array<array<int32>> round-trip, including empty inner/outer lists."""
    outer = RNG.integers(0, 4, 3000).astype(np.int64)
    inner = RNG.integers(0, 6, int(outer.sum())).astype(np.int64)
    flat = RNG.integers(0, 1 << 15, int(inner.sum())).astype(np.int32)
    enc = chunkmod.encode_chunk(flat, "int32",
                                chunkmod.DELTA_BINARY_PACKED,
                                row_lengths=outer, inner_lengths=inner)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(np.asarray(dec.values, np.int32), flat)
    np.testing.assert_array_equal(dec.row_lengths, outer)
    np.testing.assert_array_equal(dec.inner_lengths, inner)


def test_chunk_nullable_byte_array_elements():
    """array<string?> elements through the byte_array kernels."""
    lengths = RNG.integers(0, 5, 1000).astype(np.int64)
    n_slots = int(lengths.sum())
    valid = RNG.random(n_slots) > 0.4
    dense = [f"w{i}".encode() for i in range(int(valid.sum()))]
    enc = chunkmod.encode_chunk(dense, "byte_array", chunkmod.PLAIN,
                                row_lengths=lengths, elem_valid=valid)
    dec = chunkmod.decode_chunk(enc.blob)
    assert dec.values == dense
    np.testing.assert_array_equal(dec.row_lengths, lengths)
    np.testing.assert_array_equal(dec.valid_mask, valid)


# ---- operator-level wiring: struct flattening + list-of-list through the
# Arrow encode/decode operators (round-2 verdict items 2 and 3) ----

@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-nested",
                     shuffle_partitions=4)


def test_expand_column_specs_nested_struct():
    from parquet_cpp_spark.operators.encode_arrow import expand_column_specs
    cols = {"a": "int64",
            "s": "struct<x:int32,y:struct<p:byte_array,q:double>>"}
    got = expand_column_specs(cols)
    assert got == [
        ("a", (), "int64"),
        ("s.x", ("x",), "int32"),
        ("s.y.p", ("y", "p"), "byte_array"),
        ("s.y.q", ("y", "q"), "double"),
    ]


def test_struct_column_operator_roundtrip(spark):
    from pyspark.sql import functions as F

    from parquet_cpp_spark.operators.decode_arrow import decode_chunks_typed
    from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
    rows = [(i, f"t{i % 7}", float(i) / 3, i % 24, f"u{i % 11}")
            for i in range(3000)]
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double, "
              "hour int, user string")
    cols = {"event_id": "int64",
            "attrs": "struct<event_type:byte_array,value:double,"
                     "inner:struct<hour:int32,user:byte_array>>"}
    src = df.select(
        "event_id",
        F.struct("event_type", "value",
                 F.struct("hour", F.col("user")).alias("inner"))
        .alias("attrs")) \
        .withColumn("part_id", F.pmod(F.xxhash64("event_id"), F.lit(4)))
    chunks = encode_df_arrow(src, 4, columns=cols,
                             props=WriterProperties(sort_key="event_id"))
    # flattened leaves carry dotted paths, one chunk column per leaf
    leaf_names = {r.col for r in chunks.select("col").distinct().collect()}
    assert leaf_names == {"event_id", "attrs.event_type", "attrs.value",
                          "attrs.inner.hour", "attrs.inner.user"}
    dec = decode_chunks_typed(chunks, cols)
    got = sorted((r.event_id, r.attrs.event_type, r.attrs.value,
                  r.attrs.inner.hour, r.attrs.inner.user)
                 for r in dec.collect())
    assert got == sorted(rows)


def test_nested_list_operator_roundtrip(spark):
    from pyspark.sql import functions as F

    from parquet_cpp_spark.operators.decode_arrow import decode_chunks_typed
    from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
    rng = np.random.default_rng(7)
    rows = []
    for i in range(2000):
        outer = []
        for _ in range(int(rng.integers(0, 4))):
            outer.append([int(x) for x in
                          rng.integers(0, 1000, int(rng.integers(0, 5)))])
        rows.append((f"d{i}", outer))
    df = spark.createDataFrame(
        rows, "doc_id string, windows array<array<int>>")
    cols = {"doc_id": "byte_array", "windows": "list<list<int32>>"}
    src = df.withColumn("part_id", F.pmod(F.xxhash64("doc_id"), F.lit(4)))
    chunks = encode_df_arrow(src, 4, columns=cols)
    dec = decode_chunks_typed(chunks, cols)
    got = sorted((r.doc_id, [list(w) for w in r.windows])
                 for r in dec.collect())
    assert got == sorted(rows)


def test_struct_with_nullable_leaves_roundtrip(spark):
    """Struct leaves may be OPTIONAL: the flat-nullable machinery composes
    with the SchemaDescriptor flattening (each dotted-path leaf carries its
    own validity def-level stream)."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.operators.decode_arrow import decode_chunks_typed
    from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
    rows = [(i, (None if i % 3 == 0 else i * 2,
                 f"v{i % 5}" if i % 4 else None))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, s struct<x: bigint, y: string>")
    cols = {"id": "int64", "s": "struct<x:int64?,y:byte_array?>"}
    src = df.withColumn("part_id", F.pmod(F.xxhash64("id"), F.lit(4)))
    dec = decode_chunks_typed(
        encode_df_arrow(src, 4, columns=cols, props=UNSORTED), cols)
    got = sorted((r.id, (r.s.x, r.s.y)) for r in dec.collect())
    assert got == sorted(rows)


# ---------------------------------------------------------------------------
# map<K,V>: the parquet 3-level MAP group (reference types.h:63-90 MAP
# converted type; schema.h:43-77) — key/value leaf chunks sharing one
# entries-per-row length stream
# ---------------------------------------------------------------------------

def _map_roundtrip(maps, ktype, vtype, kspec, vspec):
    import pyarrow as pa

    from parquet_cpp_spark.kernels import ba
    from parquet_cpp_spark.operators.encode_arrow import make_arrow_encode_fn

    cols = {"doc_id": "byte_array", "m": f"map<{kspec},{vspec}>"}
    tbl = pa.table({
        "doc_id": pa.array([f"d{i}" for i in range(len(maps))]),
        "m": pa.array(maps, type=pa.map_(ktype, vtype)),
    })
    fn = make_arrow_encode_fn(cols)
    out = pa.Table.from_batches([fn.encode_part(tbl, 1)])
    decs = {r["col"]: chunkmod.decode_chunk(memoryview(r["blob"]))
            for r in out.to_pylist()}
    kd = decs["m.key_value.key"]
    vd = decs["m.key_value.value"]
    assert np.array_equal(kd.row_lengths, vd.row_lengths)
    offsets = np.zeros(len(kd.row_lengths) + 1, dtype=np.int32)
    np.cumsum(kd.row_lengths, out=offsets[1:])

    def arr(dec, spec, typ):
        if spec == "byte_array":
            return pa.array(ba.to_list(dec.values), type=pa.binary()) \
                .cast(typ)
        return pa.array(np.asarray(dec.values), type=typ)

    ma = pa.MapArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                 arr(kd, kspec, ktype), arr(vd, vspec, vtype))
    assert ma.to_pylist() == maps


def test_map_string_int_roundtrip():
    import pyarrow as pa
    maps = [[("a", 1), ("b", 2)], [], [("x", 9)],
            [("k", 3), ("m", 4), ("n", 5)], []]
    _map_roundtrip(maps, pa.string(), pa.int32(), "byte_array", "int32")


def test_map_int_double_roundtrip_large():
    import pyarrow as pa
    rng = np.random.default_rng(0)
    lens = rng.integers(0, 6, 5000)
    tot = int(lens.sum())
    keys = rng.integers(0, 1000, tot)
    vals = rng.standard_normal(tot)
    offs = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    m = pa.MapArray.from_arrays(pa.array(offs, type=pa.int32()),
                                pa.array(keys, type=pa.int64()),
                                pa.array(vals, type=pa.float64()))
    _map_roundtrip(m.to_pylist(), pa.int64(), pa.float64(),
                   "int64", "double")


def test_map_spec_expansion():
    from parquet_cpp_spark.operators.encode_arrow import expand_column_specs
    leaves = expand_column_specs({"m": "map<byte_array,int32>"})
    assert [(n, s) for n, _p, s in leaves] == [
        ("m.key_value.key", "mapkey<byte_array>"),
        ("m.key_value.value", "mapval<int32>")]
