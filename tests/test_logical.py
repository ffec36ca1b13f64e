"""Logical-type coercions (reference arrow/writer.cc:572-604): decimal ->
FLBA big-endian, timestamp/date/time unit coercions, round-tripped through
the chunk encoder."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark import chunk as chunkmod
from parquet_cpp_spark import logical
from parquet_cpp_spark.properties import WriterProperties

RNG = np.random.default_rng(23)
# the grouped encode in arrival order (no per-part sort)
UNSORTED = WriterProperties(sort_key=None)


def test_decimal_byte_width_table():
    # spot-check against the reference's DecimalSize values
    assert logical.decimal_byte_width(1) == 1
    assert logical.decimal_byte_width(2) == 1
    assert logical.decimal_byte_width(3) == 2
    assert logical.decimal_byte_width(9) == 4
    assert logical.decimal_byte_width(18) == 8
    assert logical.decimal_byte_width(38) == 16


@pytest.mark.parametrize("precision", [4, 9, 18, 27])
def test_decimal_flba_roundtrip(precision):
    hi = 10 ** min(precision, 18) - 1
    vals = RNG.integers(-hi, hi, 5000).astype(np.int64)
    flba, w = logical.decimal_to_flba(vals, precision)
    assert all(len(b) == w for b in flba[:10])
    back = logical.flba_to_decimal(flba, w)
    np.testing.assert_array_equal(back, vals)


def test_decimal_through_chunk_encoder():
    vals = RNG.integers(-10**9, 10**9, 3000).astype(np.int64)
    flba, w = logical.decimal_to_flba(vals, 9 + 9)
    enc = chunkmod.encode_chunk(flba, f"flba:{w}", chunkmod.PLAIN)
    dec = chunkmod.decode_chunk(enc.blob)
    back = logical.flba_to_decimal(dec.values, w)
    np.testing.assert_array_equal(back, vals)


def test_timestamp_coercions():
    base = np.datetime64("2024-01-15T12:34:56.789123456")
    ts = base + RNG.integers(0, 10**9, 2000).astype("timedelta64[us]")
    for unit in ("ms", "us"):
        ints = logical.timestamp_to_int64(ts, unit)
        back = logical.int64_to_timestamp(ints, unit)
        # round-trips exactly at the unit's granularity
        np.testing.assert_array_equal(
            logical.timestamp_to_int64(back, unit), ints)
    # through the encoder as INT64
    ints = logical.timestamp_to_int64(ts, "us")
    enc = chunkmod.encode_chunk(ints, "int64", chunkmod.DELTA_BINARY_PACKED)
    dec = chunkmod.decode_chunk(enc.blob)
    np.testing.assert_array_equal(np.asarray(dec.values), ints)


def test_date_and_time_coercions():
    days = RNG.integers(0, 30000, 1000)
    dates = days.astype("datetime64[D]")
    d32 = logical.date32_to_int32(dates)
    np.testing.assert_array_equal(d32, days.astype(np.int32))
    np.testing.assert_array_equal(logical.int32_to_date32(d32), dates)

    tod = RNG.integers(0, 86_400_000_000, 1000).astype("timedelta64[us]")
    for unit, dt in (("ms", np.int32), ("us", np.int64)):
        t = logical.time_to_int(tod, unit)
        assert t.dtype == dt
        back = logical.int_to_time(t, unit)
        np.testing.assert_array_equal(logical.time_to_int(back, unit), t)


def test_logical_specs_through_operators():
    """decimal(p,s)/timestamp/date32 column specs encode through the Arrow
    operator (FLBA / TIMESTAMP_MICROS / date32 physical) and decode back to
    the original Arrow logical types."""
    import datetime as dt
    from decimal import Decimal

    import pytest
    pytest.importorskip("pyspark")
    from pyspark.sql import functions as F

    from parquet_cpp_spark.operators.decode_arrow import decode_chunks_typed
    from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
    from parquet_cpp_spark.session import get_spark
    spark = get_spark(master="local[4]", app_name="pcs-logical",
                      shuffle_partitions=4)
    rows = [(i, Decimal(i * 7919 % 1000000) / 100,
             dt.datetime(2021, 3, 4, 5, 6, 7, i % 1000000),
             dt.date(2021, 3, 1) + dt.timedelta(days=i % 400))
            for i in range(4000)]
    df = spark.createDataFrame(
        rows, "id bigint, price decimal(12,2), ts timestamp_ntz, d date")
    cols = {"id": "int64", "price": "decimal(12,2)",
            "ts": "timestamp", "d": "date32"}
    src = df.withColumn("part_id", F.pmod(F.xxhash64("id"), F.lit(4)))
    dec = decode_chunks_typed(
        encode_df_arrow(src, 4, columns=cols, props=UNSORTED), cols)
    got = sorted((r.id, r.price, r.ts, r.d) for r in dec.collect())
    assert got == sorted(rows)


def test_decimal_spec_rejects_overflow():
    import numpy as np
    import pyarrow as pa

    from parquet_cpp_spark.operators.encode_arrow import _decimal_unscaled
    big = pa.array([10 ** 25], type=pa.decimal128(30, 2))
    import pytest
    with pytest.raises(ValueError, match="exceeds int64"):
        _decimal_unscaled(big)


def test_nullable_flat_specs_through_operators():
    """'int64?'/'double?'/'byte_array?'/'boolean?'/'decimal?'/'timestamp?'
    specs: values spaced through a validity mask (PutSpaced/DecodeSpaced,
    encoding.h:68-76/110-131) round-trip with nulls intact; a non-nullable
    spec fed nulls must raise, never cast NaN placeholders silently."""
    import datetime as dt
    from decimal import Decimal

    import pytest
    pytest.importorskip("pyspark")
    from pyspark.sql import functions as F

    from parquet_cpp_spark.operators.decode_arrow import decode_chunks_typed
    from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
    from parquet_cpp_spark.session import get_spark
    spark = get_spark(master="local[4]", app_name="pcs-logical",
                      shuffle_partitions=4)
    rows = []
    for i in range(3000):
        rows.append((
            i,
            None if i % 7 == 0 else i * 3,
            None if i % 5 == 0 else float(i) / 4,
            None if i % 11 == 0 else f"s{i % 13}",
            None if i % 13 == 0 else (i % 2 == 0),
            None if i % 17 == 0 else Decimal(i * 97 % 10000) / 100,
            None if i % 19 == 0 else dt.datetime(2022, 1, 1, 0, 0,
                                                 i % 60, i % 1000000)))
    df = spark.createDataFrame(
        rows, "id bigint, a bigint, b double, c string, d boolean, "
              "e decimal(10,2), f timestamp_ntz")
    cols = {"id": "int64", "a": "int64?", "b": "double?",
            "c": "byte_array?", "d": "boolean?", "e": "decimal(10,2)?",
            "f": "timestamp?"}
    src = df.withColumn("part_id", F.pmod(F.xxhash64("id"), F.lit(4)))
    dec = decode_chunks_typed(
        encode_df_arrow(src, 4, columns=cols, props=UNSORTED), cols)
    got = sorted((r.id, r.a, r.b, r.c, r.d, r.e, r.f)
                 for r in dec.collect())
    assert got == sorted(rows)

    cols2 = {"id": "int64", "a": "int64"}
    with pytest.raises(Exception, match="has nulls"):
        encode_df_arrow(src.select("part_id", "id", "a"), 4,
                        columns=cols2, props=UNSORTED).collect()
