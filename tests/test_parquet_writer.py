"""PAR1 writer interop: engine-write -> pyarrow/DuckDB/own-reader read.

The reference writes files other implementations read
(``/root/reference/src/parquet/file_writer.cc:270-280``); this is that
contract for the engine's writer — every value written with the engine's
own kernels must come back identically through pyarrow's independent C++
reader, DuckDB's independent reader, AND the engine's own golden-file
reader (sources.parquet_format)."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark.sources import parquet_format, parquet_writer as pw


@pytest.fixture()
def alltypes(tmp_path):
    n = 2000
    rng = np.random.default_rng(11)
    valid = rng.random(n) > 0.25
    cols = {
        "i32": rng.integers(-10**6, 10**6, n).astype(np.int32),
        "i64": rng.integers(-10**15, 10**15, n),
        "f32": rng.standard_normal(n).astype(np.float32),
        "f64": rng.standard_normal(n),
        "ba": [f"doc-{i % 211}".encode() for i in range(n)],
        "ba_dict": [f"src{i % 13}".encode() for i in range(n)],
        "i32_opt": rng.integers(0, 500, n).astype(np.int32),
        "i32_opt_dict": rng.integers(0, 40, n).astype(np.int32),
        "flag": rng.random(n) > 0.5,
    }
    path = str(tmp_path / "alltypes.parquet")
    pw.write_file(path, [
        ("i32", "int32", cols["i32"]),
        ("i64", "int64", cols["i64"]),
        ("f32", "float", cols["f32"]),
        ("f64", "double", cols["f64"]),
        ("ba", "byte_array", cols["ba"]),
        ("ba_dict", "byte_array", cols["ba_dict"], None, True),
        ("i32_opt", "int32", cols["i32_opt"], valid),
        ("i32_opt_dict", "int32", cols["i32_opt_dict"], valid, True),
        ("flag", "boolean", cols["flag"]),
    ], n)
    return path, cols, valid, n


def test_pyarrow_reads_back_every_value(alltypes):
    import pyarrow.parquet as pq
    path, cols, valid, n = alltypes
    t = pq.read_table(path)
    assert t.num_rows == n
    assert t.column("i32").to_numpy().tolist() == cols["i32"].tolist()
    assert t.column("i64").to_numpy().tolist() == cols["i64"].tolist()
    assert t.column("f32").to_numpy().tolist() == cols["f32"].tolist()
    assert t.column("f64").to_numpy().tolist() == cols["f64"].tolist()
    assert t.column("ba").to_pylist() == cols["ba"]
    assert t.column("ba_dict").to_pylist() == cols["ba_dict"]
    exp_opt = [int(v) if ok else None
               for v, ok in zip(cols["i32_opt"], valid)]
    assert t.column("i32_opt").to_pylist() == exp_opt
    exp_optd = [int(v) if ok else None
                for v, ok in zip(cols["i32_opt_dict"], valid)]
    assert t.column("i32_opt_dict").to_pylist() == exp_optd
    assert t.column("flag").to_pylist() == cols["flag"].tolist()


def test_duckdb_reads_back(alltypes):
    import duckdb
    path, cols, valid, n = alltypes
    got = duckdb.sql(
        f"SELECT count(*), sum(i32), count(i32_opt), sum(i64) "
        f"FROM read_parquet('{path}')").fetchone()
    assert got[0] == n
    assert got[1] == int(cols["i32"].sum())
    assert got[2] == int(valid.sum())
    assert got[3] == int(cols["i64"].sum())


def test_own_reader_round_trip(alltypes):
    """Symmetry: the engine's golden-file READER decodes the engine's
    writer output (writer and reader share no code above the kernels)."""
    from parquet_cpp_spark.kernels import ba
    path, cols, valid, n = alltypes
    got = parquet_format.read_file(path)
    assert got["i32"][0].tolist() == cols["i32"].tolist()
    assert ba.to_list(got["ba_dict"][0]) == cols["ba_dict"]
    vals, deflev, _ = got["i32_opt"]
    assert deflev.tolist() == valid.astype(int).tolist()
    assert vals.tolist() == cols["i32_opt"][valid].tolist()


def test_writer_rejects_out_of_scope(tmp_path):
    # (flba:12 / int96 graduated into scope in r6 — see
    # test_flba_decimal_and_int96_round_trip)
    with pytest.raises(ValueError, match="writer supports"):
        pw.write_file(str(tmp_path / "x.parquet"),
                      [("a", "uuid", [b"x" * 16])], 1)
    with pytest.raises(ValueError, match="slots, expected"):
        pw.write_file(str(tmp_path / "y.parquet"),
                      [("a", "int32", np.arange(3, dtype=np.int32))], 4)


@pytest.mark.parametrize("codec", [None, "snappy", "gzip", "zstd"])
def test_row_groups_pages_compression(tmp_path, codec):
    """Multi-row-group, multi-page, compressed files read back identically
    through pyarrow AND respect the requested structure."""
    import pyarrow.parquet as pq
    n = 5000
    rng = np.random.default_rng(3)
    ints = rng.integers(0, 10**6, n).astype(np.int32)
    strs = [f"w{i % 97}".encode() for i in range(n)]
    valid = rng.random(n) > 0.3
    opt = rng.integers(0, 30, n).astype(np.int32)
    path = str(tmp_path / f"multi_{codec}.parquet")
    pw.write_file(path, [
        ("i", "int32", ints),
        ("s", "byte_array", strs, None, True),
        ("o", "int32", opt, valid),
    ], n, row_group_rows=1500, page_rows=400, compression=codec)
    pf = pq.ParquetFile(path)
    assert pf.metadata.num_row_groups == 4  # ceil(5000/1500)
    got_codec = pf.metadata.row_group(0).column(0).compression
    assert got_codec.lower() == (codec or "uncompressed")
    t = pf.read()
    assert t.column("i").to_numpy().tolist() == ints.tolist()
    assert t.column("s").to_pylist() == strs
    assert t.column("o").to_pylist() == \
        [int(v) if ok else None for v, ok in zip(opt, valid)]


def test_footer_statistics_match_pyarrow_view(tmp_path):
    """Chunk statistics (min/max/null_count) land in the footer and agree
    with what pyarrow recomputes from the values."""
    import pyarrow.parquet as pq
    n = 3000
    rng = np.random.default_rng(5)
    ints = rng.integers(-500, 500, n).astype(np.int32)
    valid = rng.random(n) > 0.4
    strs = [f"k{i % 19:03d}".encode() for i in range(n)]
    path = str(tmp_path / "stats.parquet")
    pw.write_file(path, [
        ("i", "int32", ints, valid),
        ("s", "byte_array", strs),
    ], n, row_group_rows=1000)
    pf = pq.ParquetFile(path)
    for rg in range(pf.metadata.num_row_groups):
        lo, hi = rg * 1000, min((rg + 1) * 1000, n)
        st_i = pf.metadata.row_group(rg).column(0).statistics
        seg_valid = valid[lo:hi]
        seg = ints[lo:hi][seg_valid]
        assert st_i.null_count == int((~seg_valid).sum())
        assert st_i.min == int(seg.min())
        assert st_i.max == int(seg.max())
        st_s = pf.metadata.row_group(rg).column(1).statistics
        seg_s = strs[lo:hi]
        assert st_s.min == min(seg_s)
        assert st_s.max == max(seg_s)


def test_nan_poisoned_float_stats_omitted(tmp_path):
    """The reference's NaN rule: float chunks containing NaN write
    null_count but no min/max (a NaN extreme would poison pruning)."""
    import pyarrow.parquet as pq
    vals = np.array([1.0, float("nan"), 3.0], dtype=np.float64)
    path = str(tmp_path / "nan.parquet")
    pw.write_file(path, [("d", "double", vals)], 3)
    st = pq.ParquetFile(path).metadata.row_group(0).column(0).statistics
    assert st is None or not st.has_min_max


def test_delta_binary_packed_pages_cross_decoders(tmp_path):
    """DELTA_BINARY_PACKED data pages written straight from kernels/delta
    must decode identically through pyarrow, DuckDB, and the engine's own
    file reader — three independent implementations cross-checking the
    delta kernel's byte stream, sorted and unsorted, int32 and int64,
    nullable, across row-group and page splits."""
    import duckdb
    import pyarrow.parquet as pq
    n = 4000
    rng = np.random.default_rng(13)
    sorted32 = np.sort(rng.integers(0, 1 << 30, n)).astype(np.int32)
    wild64 = rng.integers(-(10**17), 10**17, n)
    valid = rng.random(n) > 0.35
    opt32 = rng.integers(-1000, 1000, n).astype(np.int32)
    path = str(tmp_path / "delta.parquet")
    pw.write_file(path, [
        ("s32", "int32", sorted32),
        ("w64", "int64", wild64),
        ("o32", "int32", opt32, valid),
    ], n, row_group_rows=1300, page_rows=500,
        encodings={"s32": "delta", "w64": "delta", "o32": "delta"})

    t = pq.read_table(path)
    assert t.column("s32").to_numpy().tolist() == sorted32.tolist()
    assert t.column("w64").to_numpy().tolist() == wild64.tolist()
    exp_o = [int(v) if ok else None for v, ok in zip(opt32, valid)]
    assert t.column("o32").to_pylist() == exp_o

    got = duckdb.sql(f"SELECT sum(s32), sum(w64), count(o32), sum(o32) "
                     f"FROM read_parquet('{path}')").fetchone()
    assert got[0] == int(sorted32.astype(np.int64).sum())
    assert got[1] == int(wild64.sum())
    assert got[2] == int(valid.sum())
    assert got[3] == int(opt32[valid].astype(np.int64).sum())

    own = parquet_format.read_file(path)
    assert own["s32"][0].tolist() == sorted32.tolist()
    assert own["w64"][0].tolist() == wild64.tolist()
    vals, deflev, _ = own["o32"]
    assert vals.tolist() == opt32[valid].tolist()
    assert deflev.tolist() == valid.astype(int).tolist()

    with pytest.raises(ValueError, match="int32/int64"):
        pw.write_file(str(tmp_path / "bad.parquet"),
                      [("d", "double", np.ones(3))], 3,
                      encodings={"d": "delta"})


@pytest.mark.parametrize("codec", [None, "snappy"])
def test_data_page_v2(tmp_path, codec):
    """DataPageV2 files (levels unprefixed, outside the compressed region)
    read back identically through pyarrow and DuckDB, with and without
    compression, PLAIN + dict + delta encodings, nullable columns."""
    import duckdb
    import pyarrow.parquet as pq
    n = 3000
    rng = np.random.default_rng(17)
    ints = rng.integers(0, 10**6, n).astype(np.int32)
    strs = [f"v{i % 41}".encode() for i in range(n)]
    valid = rng.random(n) > 0.3
    opt = np.sort(rng.integers(0, 10**6, n)).astype(np.int64)
    path = str(tmp_path / f"v2_{codec}.parquet")
    pw.write_file(path, [
        ("i", "int32", ints),
        ("s", "byte_array", strs, None, True),
        ("o", "int64", opt, valid),
    ], n, row_group_rows=1000, page_rows=300, compression=codec,
        encodings={"o": "delta"}, data_page_version=2)
    t = pq.read_table(path)
    assert t.column("i").to_numpy().tolist() == ints.tolist()
    assert t.column("s").to_pylist() == strs
    assert t.column("o").to_pylist() == \
        [int(v) if ok else None for v, ok in zip(opt, valid)]
    got = duckdb.sql(f"SELECT count(*), sum(i), count(o) "
                     f"FROM read_parquet('{path}')").fetchone()
    assert got == (n, int(ints.astype(np.int64).sum()), int(valid.sum()))


def test_own_reader_reads_v2_pages(tmp_path):
    """Reader/writer symmetry for V2: the engine's file reader decodes the
    V2 pages its writer emits (levels unprefixed, values compressed
    separately), nullable + delta + compression."""
    n = 1500
    rng = np.random.default_rng(23)
    ints = np.sort(rng.integers(0, 10**7, n)).astype(np.int64)
    valid = rng.random(n) > 0.4
    path = str(tmp_path / "v2own.parquet")
    pw.write_file(path, [("o", "int64", ints, valid)], n,
                  row_group_rows=600, page_rows=250, compression="snappy",
                  encodings={"o": "delta"}, data_page_version=2)
    got = parquet_format.read_file(path)
    vals, deflev, _ = got["o"]
    assert deflev.tolist() == valid.astype(int).tolist()
    assert vals.tolist() == ints[valid].tolist()


from hypothesis import given, settings, strategies as st  # noqa: E402


@st.composite
def _file_spec(draw):
    n = draw(st.integers(min_value=1, max_value=400))
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    cols = []
    for ci in range(draw(st.integers(1, 4))):
        phys = draw(st.sampled_from(
            ["int32", "int64", "double", "byte_array", "boolean"]))
        nullable = draw(st.booleans())
        dict_ok = phys in ("int32", "int64", "double", "byte_array")
        use_dict = dict_ok and draw(st.booleans())
        delta = (phys in ("int32", "int64") and not use_dict
                 and draw(st.booleans()))
        if phys == "int32":
            vals = rng.integers(-(2**31), 2**31, n).astype(np.int32)
        elif phys == "int64":
            vals = rng.integers(-(2**62), 2**62, n)
        elif phys == "double":
            vals = rng.standard_normal(n)
        elif phys == "boolean":
            vals = rng.random(n) > 0.5
        else:
            vals = [bytes(rng.integers(0, 256, rng.integers(0, 12),
                                       dtype=np.uint8)) for _ in range(n)]
        valid = (rng.random(n) > 0.3) if nullable else None
        cols.append((f"c{ci}", phys, vals, valid, use_dict, delta))
    rg = draw(st.sampled_from([None, 64, 150]))
    pg = draw(st.sampled_from([None, 33, 100]))
    codec = draw(st.sampled_from([None, "snappy", "zstd"]))
    v2 = draw(st.booleans())
    return n, cols, rg, pg, codec, v2


@settings(max_examples=40, deadline=None)
@given(_file_spec())
def test_fuzz_writer_pyarrow_roundtrip(tmp_path_factory, spec):
    """Random flat schemas / encodings / page-structure / compression:
    pyarrow must read back every value the writer emits."""
    import pyarrow.parquet as pq
    n, cols, rg, pg, codec, v2 = spec
    path = str(tmp_path_factory.mktemp("fz") / "f.parquet")
    pw.write_file(
        path, [(nm, ph, v, va, ud) for nm, ph, v, va, ud, _d in cols], n,
        row_group_rows=rg, page_rows=pg, compression=codec,
        encodings={nm: "delta" for nm, _p, _v, _va, _ud, d in cols if d},
        data_page_version=2 if v2 else 1)
    t = pq.read_table(path)
    assert t.num_rows == n
    for nm, phys, vals, valid, _ud, _d in cols:
        got = t.column(nm).to_pylist()
        if phys == "byte_array":
            ref = list(vals)
        elif phys == "boolean":
            ref = [bool(x) for x in vals]
        elif phys == "double":
            ref = [float(x) for x in vals]
        else:
            ref = [int(x) for x in vals]
        if valid is not None:
            ref = [r if ok else None for r, ok in zip(ref, valid)]
        assert got == ref, nm


def test_writer_edge_cases_zero_rows_and_all_null(tmp_path):
    """Zero-row files (one empty data page keeps data_page_offset valid)
    and all-null columns (empty dense payloads, dict/delta included) must
    read back through pyarrow, DuckDB, and the engine's own reader."""
    import duckdb
    import pyarrow.parquet as pq
    z = str(tmp_path / "zero.parquet")
    pw.write_file(z, [("a", "int32", np.zeros(0, np.int32))], 0)
    assert pq.read_table(z).num_rows == 0
    assert duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{z}')").fetchone()[0] == 0
    assert len(parquet_format.read_file(z)["a"][0]) == 0

    an = str(tmp_path / "allnull.parquet")
    none5 = [None] * 5
    pw.write_file(an, [
        ("d", "int32", np.zeros(5, np.int32), np.zeros(5, bool), True),
        ("e", "int64", np.zeros(5, np.int64), np.zeros(5, bool)),
    ], 5, encodings={"e": "delta"})
    t = pq.read_table(an)
    assert t.column("d").to_pylist() == none5
    assert t.column("e").to_pylist() == none5


def test_delta_int32_coerces_wide_inputs(tmp_path):
    """Declared-int32 delta columns fed int64 arrays or Python lists must
    become real int32 before kernels/delta (wrap32 + miniblock widths
    <= 32) — previously the wide dtype slipped through and the file's
    delta pages carried widths > 32, which pyarrow rejects ('delta bit
    width larger than integer bit width'). In-range wide inputs now write
    readably; out-of-range values raise instead of writing a broken file."""
    import pyarrow.parquet as pq

    vals64 = np.array([-(2**31) + 5, 2**31 - 7, 0, 123], dtype=np.int64)
    path = str(tmp_path / "wide32.parquet")
    pw.write_file(path, [("a", "int32", vals64),
                         ("b", "int32", [3, 1, 2, 10])],
                  4, encodings={"a": "delta", "b": "delta"})
    t = pq.read_table(path)
    assert t.column("a").to_pylist() == vals64.tolist()
    assert t.column("b").to_pylist() == [3, 1, 2, 10]

    with pytest.raises(ValueError, match="do not fit"):
        pw.write_file(str(tmp_path / "bad.parquet"),
                      [("a", "int32", np.array([2**31], dtype=np.int64))], 1)


# ---------------------------------------------------------------------------
# REPEATED (list) columns — the engine's own headline tokens array<int32>
# column as real parquet (reference: column_writer.cc:616-629 rep levels,
# arrow/writer.cc:71-262 offsets->levels, pinned by
# column_writer-test.cc:387-460 REPEATED round-trips)
# ---------------------------------------------------------------------------

def _token_fixture(n_rows=800, seed=5):
    rng = np.random.default_rng(seed)
    lengths = rng.integers(0, 12, size=n_rows).astype(np.int64)
    lengths[::37] = 0                       # empty lists incl. row 0
    lengths[0] = 0
    vals = rng.integers(0, 32768, size=int(lengths.sum())).astype(np.int32)
    ofs = np.zeros(n_rows + 1, np.int64)
    np.cumsum(lengths, out=ofs[1:])
    rows = [vals[ofs[i]:ofs[i + 1]].tolist() for i in range(n_rows)]
    return lengths, vals, rows


@pytest.mark.parametrize("wkw", [
    dict(),
    dict(row_group_rows=300, page_rows=64, compression="zstd"),
    dict(row_group_rows=128, page_rows=17, compression="snappy"),
    dict(data_page_version=2, page_rows=33, compression="gzip"),
])
@pytest.mark.parametrize("enc", ["plain", "dict", "delta"])
def test_list_column_reads_back_everywhere(tmp_path, wkw, enc):
    """list<int32> round-trips through pyarrow AND DuckDB for every
    encoding x paging x codec x page-version combination; page splits land
    mid-list-run and on empty-list markers."""
    import duckdb
    import pyarrow.parquet as pq

    lengths, vals, rows = _token_fixture()
    spec = pw.ListColumn("tokens", "int32", vals, lengths,
                         use_dictionary=enc == "dict")
    path = str(tmp_path / f"list_{enc}.parquet")
    pw.write_file(path, [("doc_id", "int64", np.arange(800, dtype=np.int64)),
                         spec], 800,
                  encodings={"tokens": "delta"} if enc == "delta" else None,
                  **wkw)
    t = pq.read_table(path)
    assert t.column("tokens").to_pylist() == rows
    assert t.column("doc_id").to_pylist() == list(range(800))
    got = duckdb.sql(
        f"SELECT sum(t)::BIGINT, count(*) FROM (SELECT unnest(tokens) t "
        f"FROM read_parquet('{path}'))").fetchone()
    assert got == (int(vals.sum()), len(vals))


def test_list_column_own_reader_round_trip(tmp_path):
    """Reader/writer symmetry for REPEATED leaves: the engine's own file
    reader decodes rep+def levels and lengths_from_levels re-delimits the
    exact per-row lists (RecordReader delimiting)."""
    from parquet_cpp_spark import levels

    lengths, vals, rows = _token_fixture(500, 9)
    path = str(tmp_path / "own.parquet")
    pw.write_file(path, [pw.ListColumn("t", "int32", vals, lengths)], 500,
                  row_group_rows=200, page_rows=43, compression="gzip")
    v, d, r = parquet_format.read_file(path)["t.list.element"]
    assert levels.lengths_from_levels(r, d).tolist() == lengths.tolist()
    assert np.asarray(v).tolist() == vals.tolist()


def test_list_column_footer_shape_and_stats(tmp_path):
    """The 3-level schema shape (group LIST / repeated group / leaf), the
    leaf path, num_values = level slots (empty lists carry a marker slot),
    and chunk stats (null_count = empty lists, min/max over elements) all
    match what pyarrow's metadata view reports."""
    import pyarrow.parquet as pq

    lengths = np.array([3, 0, 2, 0, 1], dtype=np.int64)
    vals = np.array([7, 5, 9, 1, 3, 8], dtype=np.int32)
    path = str(tmp_path / "meta.parquet")
    pw.write_file(path, [pw.ListColumn("tokens", "int32", vals, lengths)], 5)
    md = pq.ParquetFile(path).metadata
    col = md.row_group(0).column(0)
    assert col.path_in_schema == "tokens.list.element"
    assert col.num_values == 8          # 6 elements + 2 empty-list markers
    st = col.statistics
    assert st.null_count == 2
    assert st.min == 1 and st.max == 9
    sch = pq.ParquetFile(path).schema_arrow
    assert str(sch.field("tokens").type) in ("list<element: int32>",
                                             "list<element: int32 not null>")


def test_list_column_spark_jvm_read_back(tmp_path, ):
    """Spark's JVM vectorized reader — a third independent decoder — scans
    the engine-written list file; token-array equality per row (the north
    rule's per-row invariant) via a full collect comparison."""
    pytest.importorskip("pyspark")
    from parquet_cpp_spark.session import get_spark

    lengths, vals, rows = _token_fixture(300, 13)
    path = str(tmp_path / "spark.parquet")
    pw.write_file(path, [
        ("doc_id", "int64", np.arange(300, dtype=np.int64)),
        pw.ListColumn("tokens", "int32", vals, lengths, use_dictionary=True),
    ], 300, row_group_rows=100, page_rows=32, compression="zstd")
    spark = get_spark(master="local[2]", app_name="pcs-list-writer",
                      shuffle_partitions=2)
    got = {r.doc_id: list(r.tokens)
           for r in spark.read.parquet(path).collect()}
    assert got == {i: rows[i] for i in range(300)}


def test_list_column_rejects_out_of_scope(tmp_path):
    # a NULL list slot must have a zero extent (r7: lists may be OPTIONAL,
    # but a null row carrying elements is still malformed)
    with pytest.raises(ValueError, match="length 0"):
        pw.write_file(str(tmp_path / "x.parquet"),
                      [pw.ListColumn("t", "int32", np.zeros(1, np.int32),
                                     np.array([1]),
                                     valid=np.array([False]))], 1)
    with pytest.raises(ValueError, match="negative"):
        pw.write_file(str(tmp_path / "y.parquet"),
                      [pw.ListColumn("t", "int32", np.zeros(0, np.int32),
                                     np.array([-1]))], 1)
    with pytest.raises(ValueError, match="elements but lengths"):
        pw.write_file(str(tmp_path / "z.parquet"),
                      [pw.ListColumn("t", "int32", np.zeros(3, np.int32),
                                     np.array([1, 1]))], 2)


# ---------------------------------------------------------------------------
# Dictionary -> PLAIN fallback (reference column_writer.cc:498-510, pinned
# by column_writer-test.cc:478-506 at 400K values)
# ---------------------------------------------------------------------------

def test_dict_fallback_400k_values(tmp_path):
    """The reference's fallback pin: 400K high-cardinality values overflow
    the 1 MiB dictionary limit mid-chunk; early pages stay dict-coded,
    later pages are PLAIN, the encodings list carries both, and pyarrow
    reads every value back."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(17)
    vals = rng.integers(0, 2**30, 400_000).astype(np.int64)
    path = str(tmp_path / "fb.parquet")
    pw.write_file(path, [("v", "int64", vals, None, True)], 400_000,
                  page_rows=50_000)
    md = pq.ParquetFile(path).metadata.row_group(0).column(0)
    assert set(md.encodings) == {"PLAIN_DICTIONARY", "PLAIN", "RLE"}
    assert pq.read_table(path).column("v").to_pylist() == vals.tolist()


def test_dict_fallback_shapes(tmp_path):
    """Fallback across column shapes: byte_array, nullable flat (zstd,
    multi row group — each chunk re-decides), and a dict-coded list leaf
    where the encoding switch must land on a ROW boundary (records never
    straddle encodings). The engine's own reader decodes the mixed
    dict+PLAIN page sequence too."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(2)
    n = 20_000
    svals = [f"s{int(v):07d}".encode()
             for v in rng.integers(0, 8000, n)]
    p1 = str(tmp_path / "s.parquet")
    pw.write_file(p1, [("s", "byte_array", svals, None, True)], n,
                  page_rows=2500, dict_size_limit=40_000,
                  utf8_columns={"s"})
    assert pq.read_table(p1).column("s").to_pylist() == \
        [v.decode() for v in svals]

    iv = rng.integers(0, 10**9, n).astype(np.int32)
    valid = rng.random(n) > 0.3
    p2 = str(tmp_path / "i.parquet")
    pw.write_file(p2, [("i", "int32", iv, valid, True)], n,
                  page_rows=3000, dict_size_limit=30_000,
                  compression="zstd", row_group_rows=9000)
    exp = [int(v) if ok else None for v, ok in zip(iv, valid)]
    assert pq.read_table(p2).column("i").to_pylist() == exp

    lengths = rng.integers(0, 30, 3000).astype(np.int64)
    lv = rng.integers(0, 10**8, int(lengths.sum())).astype(np.int32)
    p3 = str(tmp_path / "l.parquet")
    pw.write_file(p3, [pw.ListColumn("t", "int32", lv, lengths,
                                     use_dictionary=True)],
                  3000, page_rows=500, dict_size_limit=25_000)
    ofs = np.zeros(3001, np.int64)
    np.cumsum(lengths, out=ofs[1:])
    assert pq.read_table(p3).column("t").to_pylist() == \
        [lv[ofs[i]:ofs[i + 1]].tolist() for i in range(3000)]
    v, d, r = parquet_format.read_file(p3)["t.list.element"]
    assert np.asarray(v).tolist() == lv.tolist()


def test_dict_fallback_degenerate_first_row(tmp_path):
    """If the very first values already overflow the dict limit the chunk
    degrades to pure PLAIN — no zero-entry dictionary page."""
    import pyarrow.parquet as pq

    vals = [b"x" * 4000, b"y" * 4000, b"z" * 4000]
    path = str(tmp_path / "d.parquet")
    pw.write_file(path, [("b", "byte_array", vals, None, True)], 3,
                  dict_size_limit=100)
    md = pq.ParquetFile(path).metadata.row_group(0).column(0)
    assert "PLAIN_DICTIONARY" not in set(md.encodings)
    assert pq.read_table(path).column("b").to_pylist() == vals


# ---------------------------------------------------------------------------
# FLBA + INT96: the writer now covers all 8 reference physical types
# (types.h:49-60); DECIMAL-annotated FLBA carries logical.py's
# two's-complement big-endian layout (arrow/writer.cc:572-604)
# ---------------------------------------------------------------------------

def test_flba_decimal_and_int96_round_trip(tmp_path):
    import decimal

    import duckdb
    import pyarrow.parquet as pq

    from parquet_cpp_spark import logical

    n = 500
    rng = np.random.default_rng(3)
    unscaled = rng.integers(-10**8, 10**8, n)
    dec_vals, width = logical.decimal_to_flba(unscaled, precision=9)
    int96_vals = [bytes(rng.integers(0, 256, 12, dtype=np.uint8))
                  for _ in range(n)]
    valid = rng.random(n) > 0.3
    path = str(tmp_path / "flba.parquet")
    pw.write_file(path, [
        ("d", f"flba:{width}", dec_vals),
        ("dn", f"flba:{width}", dec_vals, valid),
        ("raw", f"flba:{width}", dec_vals),        # un-annotated FLBA
        ("t96", "int96", int96_vals),
    ], n, page_rows=100, compression="zstd",
        decimal_columns={"d": (9, 2), "dn": (9, 2)})

    t = pq.read_table(path)
    assert [int(v.scaleb(2)) for v in t.column("d").to_pylist()] == \
        unscaled.tolist()
    expn = [decimal.Decimal(int(u)).scaleb(-2) if ok else None
            for u, ok in zip(unscaled, valid)]
    assert t.column("dn").to_pylist() == expn
    assert t.column("raw").to_pylist() == dec_vals  # fixed_size_binary
    # INT96 raw bytes through the engine's own reader (pyarrow surfaces
    # them as timestamps; byte identity is the stronger check)
    own = parquet_format.read_file(path)
    assert own["t96"][0] == int96_vals
    assert own["d"][0] == dec_vals
    s = duckdb.sql(
        f"SELECT sum(d) FROM read_parquet('{path}')").fetchone()[0]
    assert int(s.scaleb(2)) == int(unscaled.sum())
    # FLBA chunks write null_count-only stats (ordering is type-defined,
    # not byte-lexicographic) and no ColumnIndex
    md = pq.ParquetFile(path).metadata.row_group(0)
    st = md.column(1).statistics
    assert st is None or not st.has_min_max
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    ch = parquet_format.read_footer(mv).row_groups[0][0]
    assert ch.column_index is None and ch.offset_index is not None


def test_flba_rejections(tmp_path):
    with pytest.raises(ValueError, match="dictionary encoding is"):
        pw.write_file(str(tmp_path / "a.parquet"),
                      [("x", "flba:4", [b"abcd"], None, True)], 1)
    with pytest.raises(ValueError, match="expected 4"):
        pw.write_file(str(tmp_path / "b.parquet"),
                      [("x", "flba:4", [b"abc"])], 1)
    with pytest.raises(ValueError, match="decimal annotation"):
        pw.write_file(str(tmp_path / "c.parquet"),
                      [("x", "int64", np.zeros(1, np.int64))], 1,
                      decimal_columns={"x": (9, 2)})
    with pytest.raises(ValueError, match="bad FLBA width"):
        pw.write_file(str(tmp_path / "d.parquet"),
                      [("x", "flba:0", [])], 0)


def test_key_value_metadata_roundtrip(tmp_path):
    """FileMetaData.key_value_metadata (field 5): written by the engine,
    visible to pyarrow AND the engine's own reader."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "kv.parquet")
    pw.write_file(path, [("a", "int32", np.arange(3, dtype=np.int32))], 3,
                  key_value_metadata={"pcs.test": "hello",
                                      "other": "world"})
    kv = pq.read_metadata(path).metadata
    assert kv[b"pcs.test"] == b"hello" and kv[b"other"] == b"world"
    with open(path, "rb") as f:
        meta = parquet_format.read_footer(memoryview(f.read()))
    assert meta.key_value_metadata == {"pcs.test": "hello",
                                       "other": "world"}


def test_flba_matrix_values_round_trip(tmp_path):
    """FLBA values as an (n, W) uint8 matrix (the sink's vectorized
    decimal form): identical bytes to the list-of-bytes spelling, row
    slicing across pages/row groups works, nullable masks drop rows, and
    a wrong-shape matrix fails loudly."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    mat = rng.integers(0, 256, size=(600, 4), dtype=np.uint8)
    as_list = [bytes(r) for r in mat]
    valid = rng.random(600) > 0.2
    pa_ = pytest.importorskip("pyarrow")
    p1 = str(tmp_path / "m.parquet")
    p2 = str(tmp_path / "l.parquet")
    for p, vals in ((p1, mat), (p2, as_list)):
        pw.write_file(p, [("x", "flba:4", vals),
                          ("xn", "flba:4", vals, valid)], 600,
                      row_group_rows=250, page_rows=100)
    with open(p1, "rb") as a, open(p2, "rb") as b:
        assert a.read() == b.read()
    t = pq.read_table(p1)
    assert t.column("x").to_pylist() == as_list
    assert t.column("xn").to_pylist() == \
        [v if ok else None for v, ok in zip(as_list, valid)]
    with pytest.raises(ValueError, match="uint8"):
        pw.write_file(str(tmp_path / "bad.parquet"),
                      [("x", "flba:4", mat.astype(np.int32))], 600)
    with pytest.raises(ValueError, match=r"\(n, 8\) uint8"):
        pw.write_file(str(tmp_path / "bad2.parquet"),
                      [("x", "flba:8", mat)], 600)


def test_decimal_flba_from_arrow_overflow_guard():
    """A decimal128 whose unscaled magnitude exceeds the byte width
    implied by its declared precision must fail loudly, not truncate."""
    import pyarrow as pa

    from parquet_cpp_spark import logical

    # forge a decimal128(1,0) array carrying 10 (needs 2 digits): build
    # at precision 2 then cast the TYPE ONLY via pa.Array.from_buffers
    import decimal
    src = pa.array([decimal.Decimal(200)], pa.decimal128(3, 0))
    forged = pa.Array.from_buffers(pa.decimal128(1, 0), 1, src.buffers())
    with pytest.raises(ValueError, match="exceeds"):
        logical.decimal_flba_from_arrow(forged)


def test_delta_byte_array_pages_cross_decoders(tmp_path):
    """DELTA_BYTE_ARRAY / DELTA_LENGTH_BYTE_ARRAY data pages (the
    parquet-format framing from kernels/bytearray_codecs, reference
    decoders encoding-internal.h:883-975) must decode identically through
    pyarrow, DuckDB, and the engine's own reader — V1 and V2 pages,
    nullable, across row-group and page splits, compressed and not."""
    import duckdb
    import pyarrow.parquet as pq

    from parquet_cpp_spark.kernels import ba

    n = 4000
    docs = [f"corpus/shard{i % 7:03d}/doc-{i:012d}".encode()
            for i in range(n)]
    rng = np.random.default_rng(29)
    words = [f"w{int(v)}".encode() for v in rng.integers(0, 40, n)]
    valid = rng.random(n) > 0.3
    for v, codec in [(1, None), (1, "zstd"), (2, None), (2, "snappy")]:
        path = str(tmp_path / f"dba_v{v}_{codec}.parquet")
        pw.write_file(path, [
            ("doc_id", "byte_array", docs),
            ("word", "byte_array", words, valid),
        ], n, row_group_rows=1300, page_rows=500, compression=codec,
            utf8_columns={"doc_id", "word"},
            encodings={"doc_id": "dba", "word": "dlba"},
            data_page_version=v)

        t = pq.read_table(path)
        assert t.column("doc_id").to_pylist() == [d.decode() for d in docs]
        exp_w = [w.decode() if ok else None for w, ok in zip(words, valid)]
        assert t.column("word").to_pylist() == exp_w
        encs = {c.path_in_schema: c.encodings
                for c in (pq.ParquetFile(path).metadata.row_group(0)
                          .column(i) for i in range(2))}
        assert "DELTA_BYTE_ARRAY" in encs["doc_id"]
        assert "DELTA_LENGTH_BYTE_ARRAY" in encs["word"]

        got = duckdb.sql(
            f"SELECT count(*), count(word), min(doc_id), max(doc_id) "
            f"FROM read_parquet('{path}')").fetchone()
        assert got == (n, int(valid.sum()),
                       min(d.decode() for d in docs),
                       max(d.decode() for d in docs))

        own = parquet_format.read_file(path)
        assert ba.to_list(own["doc_id"][0]) == docs
        vals, deflev, _ = own["word"]
        assert ba.to_list(vals) == [w for w, ok in zip(words, valid) if ok]
        assert deflev.tolist() == valid.astype(int).tolist()


def test_delta_byte_array_page_skip_lookup(tmp_path):
    """The PageIndex is encoding-agnostic: a point lookup over a
    DELTA_BYTE_ARRAY column must still decode only the page whose
    [min, max] bounds contain the key."""
    n = 2000
    docs = [f"doc-{i:08d}".encode() for i in range(n)]
    path = str(tmp_path / "skip.parquet")
    pw.write_file(path, [("doc_id", "byte_array", docs)], n,
                  page_rows=100, utf8_columns={"doc_id"},
                  encodings={"doc_id": "dba"})
    rows, decoded, total = parquet_format.lookup_rows(
        path, "doc_id", b"doc-00001234")
    assert rows == [1234] and decoded == 1 and total == 20
    rows, decoded, total = parquet_format.lookup_rows(
        path, "doc_id", b"nope")
    assert rows == [] and decoded == 0


def test_delta_byte_array_rejections(tmp_path):
    """Fail-loudly surface: non-byte_array phys, unknown column, unknown
    tag, and dict+delta on the same column."""
    n = 10
    docs = [f"d{i}".encode() for i in range(n)]
    ints = np.arange(n, dtype=np.int32)
    with pytest.raises(ValueError, match="byte_array, not int32"):
        pw.write_file(str(tmp_path / "a.parquet"),
                      [("x", "int32", ints)], n,
                      encodings={"x": "dba"})
    with pytest.raises(ValueError, match="not in schema"):
        pw.write_file(str(tmp_path / "b.parquet"),
                      [("d", "byte_array", docs)], n,
                      encodings={"nope": "dlba"})
    with pytest.raises(ValueError, match="unknown encoding"):
        pw.write_file(str(tmp_path / "c.parquet"),
                      [("d", "byte_array", docs)], n,
                      encodings={"d": "fsst"})
    with pytest.raises(ValueError, match="mutually exclusive"):
        pw.write_file(str(tmp_path / "d.parquet"),
                      [("d", "byte_array", docs, None, True)], n,
                      encodings={"d": "dba"})


def test_delta_byte_array_spark_jvm_read_back(tmp_path):
    """parquet-mr (Spark's vectorized reader) is the third independent
    decoder of the engine's byte-array delta pages."""
    pytest.importorskip("pyspark")
    from parquet_cpp_spark.session import get_spark
    n = 1500
    docs = [f"corpus/shard{i % 5}/doc-{i:09d}".encode() for i in range(n)]
    words = [f"tok{i % 30}".encode() for i in range(n)]
    path = str(tmp_path / "spark_dba.parquet")
    pw.write_file(path, [
        ("doc_id", "byte_array", docs),
        ("word", "byte_array", words),
    ], n, page_rows=400, utf8_columns={"doc_id", "word"},
        encodings={"doc_id": "dba", "word": "dlba"})
    spark = get_spark(master="local[2]", app_name="pcs-dba-writer",
                      shuffle_partitions=2)
    rows = spark.read.parquet(path).orderBy("doc_id").collect()
    assert [(r.doc_id, r.word) for r in rows] == \
        sorted((d.decode(), w.decode()) for d, w in zip(docs, words))
