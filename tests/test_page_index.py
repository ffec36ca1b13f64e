"""Parquet PageIndex (ColumnIndex + OffsetIndex): written by the engine's
PAR1 writer between data and footer, parsed back by the engine's reader,
and driving page-skipping point lookups — the parquet analog of the chunk
format's per-page min/max pruning (plans.lookup / chunk.page_index;
reference TypedColumnReader::Skip, column_reader.h:268-281).

Cross-validation triangle: the engine's index PARSER also reads indexes
written by PYARROW (an independent C++ implementation), and pyarrow reads
every engine file that carries an index."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark.sources import parquet_format as pf, parquet_writer as pw


def _write_sorted(path, n=10_000, **kw):
    ids = np.arange(n, dtype=np.int64) * 3
    strs = [f"k{i:06d}".encode() for i in range(n)]
    pw.write_file(path, [("id", "int64", ids),
                         ("s", "byte_array", strs, None, True)],
                  n, row_group_rows=4000, page_rows=500,
                  utf8_columns={"s"}, **kw)
    return ids


def test_lookup_skips_pages(tmp_path):
    """A point lookup on a 20-page column decodes exactly ONE page when the
    key exists, ZERO when it falls outside every page's [min, max]."""
    path = str(tmp_path / "f.parquet")
    _write_sorted(path, compression="zstd", encodings={"id": "delta"})
    hits, dec, tot = pf.lookup_rows(path, "id", 3 * 7777)
    assert (hits, dec, tot) == ([7777], 1, 20)
    hits, dec, tot = pf.lookup_rows(path, "s", "k000123")
    assert (hits, dec) == ([123], 1)
    # in-range miss: at most the one straddling page
    hits, dec, _ = pf.lookup_rows(path, "id", 4)
    assert hits == [] and dec <= 1
    # out-of-range miss: pure index pruning, no page touched
    hits, dec, _ = pf.lookup_rows(path, "id", 10**9)
    assert (hits, dec) == ([], 0)


def test_index_structure_and_boundary_order(tmp_path):
    """OffsetIndex first_row_index/offset agree with the page layout;
    sorted columns get ASCENDING boundary_order (binary-searchable),
    shuffled ones UNORDERED; null pages and null_counts are recorded."""
    path = str(tmp_path / "f.parquet")
    _write_sorted(path)
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    meta = pf.read_footer(mv)
    idx = pf.read_page_index(mv, meta.row_groups[0][0])
    assert [loc[2] for loc in idx.locations] == \
        [i * 500 for i in range(8)]           # 4000 rows / 500-row pages
    assert idx.boundary_order == 1            # ASCENDING
    leaf = meta.leaves[0]
    assert pf.stat_typed(idx.mins[0], leaf) == 0
    assert pf.stat_typed(idx.maxs[-1], leaf) == 3 * 3999

    rng = np.random.default_rng(7)
    vals = rng.permutation(2000).astype(np.int32)
    valid = np.ones(2000, bool)
    valid[::5] = False
    p2 = str(tmp_path / "g.parquet")
    pw.write_file(p2, [("v", "int32", vals, valid)], 2000, page_rows=250)
    with open(p2, "rb") as f:
        mv2 = memoryview(f.read())
    m2 = pf.read_footer(mv2)
    i2 = pf.read_page_index(mv2, m2.row_groups[0][0])
    assert i2.boundary_order == 0             # UNORDERED
    assert i2.null_counts == [50] * 8         # every 5th slot null
    assert not any(i2.null_pages)


def test_nan_poisoned_float_chunk_skips_column_index(tmp_path):
    """The NaN stats rule extends to the PageIndex: a float chunk holding
    NaN gets an OffsetIndex (locations are always safe) but NO
    ColumnIndex — readers must not prune on NaN bounds."""
    vals = np.array([1.0, float("nan"), 3.0, 4.0], dtype=np.float64)
    path = str(tmp_path / "nan.parquet")
    pw.write_file(path, [("d", "double", vals)], 4, page_rows=2)
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    meta = pf.read_footer(mv)
    ch = meta.row_groups[0][0]
    assert ch.offset_index is not None and ch.column_index is None
    idx = pf.read_page_index(mv, ch)
    assert idx.mins is None and len(idx.locations) == 2


def test_parser_reads_pyarrow_written_index(tmp_path):
    """Cross-implementation check: pyarrow's own page-index writer
    (write_page_index=True) produces structures the engine's parser reads,
    and the pruned lookup skips pages over pyarrow's file too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.arange(10_000, dtype=np.int64) * 3
    path = str(tmp_path / "pa.parquet")
    pq.write_table(pa.table({"id": ids}), path, write_page_index=True,
                   row_group_size=4000, data_page_size=4000,
                   use_dictionary=False, compression="snappy")
    hits, dec, tot = pf.lookup_rows(path, "id", 3 * 2222)
    assert hits == [2222] and dec == 1 and tot >= 6


def test_lookup_unsigned_column_uses_unsigned_order(tmp_path):
    """A UINT32 column's page bounds and values compare unsigned: 3e9 is
    stored as a negative int32, so a signed read of the bounds pruned the
    only page and a signed compare of the values missed 3e9 itself. Both
    keys find pyarrow's 250 rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    vals = np.array([1, 3_000_000_000, 7, 2_000_000_000] * 250, np.uint32)
    path = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"u": vals}), path, write_page_index=True)
    col = pq.read_table(path).column("u")
    for key in (7, 3_000_000_000):
        want = pc.indices_nonzero(pc.equal(col, key)).to_pylist()
        hits, dec, tot = pf.lookup_rows(path, "u", key)
        assert len(want) == 250 and hits == want and dec == tot == 1, key


@pytest.mark.parametrize("phys,conv,dtype,key", [
    ("int32", 13, np.uint32, 3_000_000_000),
    ("int64", 14, np.uint64, 2 ** 63 + 5)])
def test_lookup_unsigned_bloom_key(tmp_path, phys, conv, dtype, key):
    """A bloom-carrying UINT32/UINT64 column hashes a key past the signed
    range by its stored bit pattern: the key finds pyarrow's rows with
    NumPy's out-of-bound conversion warning turned into an error (the
    bloom check built the key with ``np.array([key], np.int32)``), and an
    absent key inside the page bounds is skipped by the bloom. The
    engine writer has no unsigned annotation, so the file is written
    over the bit patterns and its footer's SchemaElement gains the UINT
    converted type by hand; every value is past the signed range, where
    the writer's signed bounds order as the unsigned ones."""
    import warnings

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    vals = np.array([key, key - 4, key + 1, key - 5] * 250, dtype)
    path = str(tmp_path / "u.parquet")
    pw.write_file(path, [("u", phys, vals.view(phys))], len(vals),
                  bloom_filter_columns={"u"})
    data = open(path, "rb").read()
    flen = int.from_bytes(data[-8:-4], "little")
    footer = data[-8 - flen:-8]
    # name field (delta 1, binary) then STOP -> add field 6 (delta 2,
    # i32) = zigzag(conv) before the STOP
    name_end = b"\x18\x01u\x00"
    assert footer.count(name_end) == 1
    footer = footer.replace(name_end, name_end[:-1]
                            + bytes([0x25, 2 * conv, 0]))
    with open(path, "wb") as fh:
        fh.write(data[:-8 - flen] + footer
                 + len(footer).to_bytes(4, "little") + b"PAR1")
    col = pq.read_table(path).column("u")
    assert col.type == pa.from_numpy_dtype(dtype)
    want = pc.indices_nonzero(pc.equal(col, pa.scalar(key, col.type))) \
        .to_pylist()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        hits, dec, tot = pf.lookup_rows(path, "u", key)
        assert len(want) == 250 and hits == want and dec == tot == 1
        assert pf.lookup_rows(path, "u", key - 2) == ([], 0, 1)


def test_pyarrow_reads_engine_index_files(tmp_path):
    """Files carrying the engine's PageIndex stay readable by pyarrow and
    DuckDB (the index region sits between data and footer; ColumnChunk
    fields 4-7 link it)."""
    import duckdb
    import pyarrow.parquet as pq

    path = str(tmp_path / "f.parquet")
    ids = _write_sorted(path, compression="snappy")
    assert pq.read_table(path).column("id").to_numpy().tolist() == \
        ids.tolist()
    assert duckdb.sql(f"SELECT sum(id)::BIGINT FROM "
                      f"read_parquet('{path}')").fetchone()[0] == ids.sum()


def test_write_page_index_off(tmp_path):
    """write_page_index=False files have no index links; lookup_rows fails
    loudly instead of silently scanning."""
    path = str(tmp_path / "f.parquet")
    _write_sorted(path, write_page_index=False)
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    ch = pf.read_footer(mv).row_groups[0][0]
    assert ch.offset_index is None and ch.column_index is None
    with pytest.raises(ValueError, match="no PageIndex"):
        pf.lookup_rows(path, "id", 3)


def test_candidate_pages_binary_search_matches_linear(tmp_path):
    """ASCENDING boundary_order turns page pruning into a binary search;
    its candidate set must equal the linear range scan's for every key
    position (before, between, inside, after), and shuffled columns take
    the linear path with identical semantics."""
    path = str(tmp_path / "f.parquet")
    _write_sorted(path)                      # ids = 3 * range(10000)
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    meta = pf.read_footer(mv)
    idx = pf.read_page_index(mv, meta.row_groups[0][0])
    leaf = meta.leaves[0]
    assert idx.boundary_order == 1

    def linear(key):
        out = []
        for i in range(len(idx.locations)):
            if idx.null_pages[i]:
                continue
            mn = pf.stat_typed(idx.mins[i], leaf)
            mx = pf.stat_typed(idx.maxs[i], leaf)
            if mn <= key <= mx:
                out.append(i)
        return out

    for key in (-5, 0, 1, 3 * 499, 3 * 500, 3 * 1250, 3 * 3999,
                3 * 3999 + 1, 10**9):
        assert pf._candidate_pages(idx, leaf, key) == linear(key), key

    # a point key on a sorted column always hits <= 1 page per row group
    assert len(pf._candidate_pages(idx, leaf, 3 * 1250)) == 1


def test_lookup_rows_list_leaf_contains_token(tmp_path):
    """Inverted point lookup on the REPEATED tokens leaf: 'which rows
    contain token X' decodes only the pages whose element range may hold
    X, and rep levels re-delimit the hit rows exactly — token-level
    search over the engine's own headline column without a scan."""
    rng = np.random.default_rng(31)
    lengths = rng.integers(1, 8, 2000).astype(np.int64)
    # tokens clustered by row block => selective per-page element ranges
    base = np.repeat(np.arange(2000, dtype=np.int32) * 10, lengths)
    vals = base + rng.integers(0, 10, len(base)).astype(np.int32)
    path = str(tmp_path / "tok.parquet")
    pw.write_file(path, [pw.ListColumn("tokens", "int32", vals, lengths)],
                  2000, row_group_rows=1000, page_rows=100)

    ofs = np.zeros(2001, np.int64)
    np.cumsum(lengths, out=ofs[1:])
    target = int(vals[ofs[1500]])            # a token in row 1500
    exp_rows = sorted({int(r) for r in range(2000)
                       if target in vals[ofs[r]:ofs[r + 1]]})
    hits, dec, tot = pf.lookup_rows(path, "tokens.list.element", target)
    assert hits == exp_rows and 1500 in hits
    assert tot == 20 and dec <= 2            # clustered: ~1 page survives
    # absent token beyond every range: zero pages decoded
    hits2, dec2, _ = pf.lookup_rows(path, "tokens.list.element", 10**8)
    assert hits2 == [] and dec2 == 0


def test_descending_boundary_order_binary_search(tmp_path):
    """A descending-sorted column records boundary_order=DESCENDING and
    the bisect pruning path mirrors correctly (flip to ascending)."""
    ids = (np.arange(10_000, dtype=np.int64)[::-1] * 3).copy()
    path = str(tmp_path / "desc.parquet")
    pw.write_file(path, [("id", "int64", ids)], 10_000,
                  row_group_rows=5000, page_rows=500)
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    meta = pf.read_footer(mv)
    idx = pf.read_page_index(mv, meta.row_groups[0][0])
    assert idx.boundary_order == 2
    hits, dec, tot = pf.lookup_rows(path, "id", 3 * 7777)
    assert hits == [10_000 - 1 - 7777] and dec == 1 and tot == 20
    hits, dec, _ = pf.lookup_rows(path, "id", 10**12)
    assert hits == [] and dec == 0


def test_lookup_rows_list_leaf_v2_pages(tmp_path):
    """The inverted token lookup works identically over DataPageV2 list
    pages (levels outside the compressed region)."""
    lengths = np.full(1000, 4, dtype=np.int64)
    vals = np.repeat(np.arange(1000, dtype=np.int32) * 100, 4) + \
        np.tile(np.arange(4, dtype=np.int32), 1000)
    path = str(tmp_path / "v2tok.parquet")
    pw.write_file(path, [pw.ListColumn("t", "int32", vals, lengths)],
                  1000, page_rows=100, data_page_version=2,
                  compression="zstd")
    hits, dec, tot = pf.lookup_rows(path, "t.list.element", 77702)
    assert hits == [777] and dec == 1 and tot == 10


def test_lookup_and_bloom_on_nested_leaves(tmp_path):
    """Page-skip lookups + footer blooms work on the round-7 nested
    leaves exactly as on flat columns: a ``list<struct>`` field leaf
    (max_rep 1 — rep levels re-delimit rows), a struct-in-struct scalar
    leaf, and a ``list<scalar>`` leaf inside a struct. Pins that the
    PageIndex and BloomFilterHeader links survive the nested schema
    emission (leaf names are the dotted paths with list/element
    stripped) and that ``lookup_rows``'s leaf resolution, candidate-page
    bisect and rep-level row re-delimiting are schema-shape-agnostic."""
    n = 2000
    rng = np.random.default_rng(7)
    lengths = rng.integers(1, 5, n).astype(np.int64)
    ns = int(lengths.sum())
    # evt.code: clustered by row block => selective per-page ranges
    code = np.repeat(np.arange(n, dtype=np.int64) * 10, lengths) + \
        rng.integers(0, 10, ns)
    kind = np.tile(np.arange(4, dtype=np.int32), (ns + 3) // 4)[:ns]
    # meta.inner.score: sorted scalar under two struct levels
    score = np.arange(n, dtype=np.int64) * 7
    # meta.ids: list<int32> inside a struct, clustered like evt.code
    id_len = np.full(n, 3, dtype=np.int64)
    ids = (np.repeat(np.arange(n, dtype=np.int64) * 100, 3)
           + np.tile(np.arange(3), n)).astype(np.int32)
    path = str(tmp_path / "nested_lookup.parquet")
    pw.write_file(path, [
        pw.ListStructColumn("evt", [("code", "int64", code),
                                    ("kind", "int32", kind)], lengths),
        pw.StructColumn("meta", [
            ("inner", pw.StructColumn("_", [("score", "int64", score)])),
            ("ids", pw.ListColumn("_", "int32", ids, id_len)),
        ]),
    ], n, row_group_rows=1000, page_rows=100,
        bloom_filter_columns={"evt.code", "meta.inner.score"})

    ofs = np.zeros(n + 1, np.int64)
    np.cumsum(lengths, out=ofs[1:])
    target = int(code[ofs[1500]])          # a code present in row 1500
    exp = sorted({r for r in range(n)
                  if target in code[ofs[r]:ofs[r + 1]]})
    hits, dec, tot = pf.lookup_rows(path, "evt.list.element.code", target)
    assert hits == exp and 1500 in hits
    assert tot == 20 and dec <= 2          # clustered: ~1 page survives
    # bloom: an IN-RANGE absent key (a digit row 1500 never drew) —
    # page min/max alone would decode the covering page; dec == 0 proves
    # the chunk bloom pruned first
    present = {int(c) - 15000 for c in code[ofs[1500]:ofs[1501]]}
    absent = 15000 + min(set(range(10)) - present)
    hits, dec, _ = pf.lookup_rows(path, "evt.list.element.code", absent)
    assert hits == [] and dec == 0

    # struct-in-struct scalar leaf: sorted -> exactly one page decoded
    hits, dec, tot = pf.lookup_rows(path, "meta.inner.score", 7 * 777)
    assert hits == [777] and dec == 1 and tot == 20
    # absent key that falls between present values: bloom prunes to zero
    hits, dec, _ = pf.lookup_rows(path, "meta.inner.score", 7 * 777 + 1)
    assert hits == [] and dec == 0

    # list-in-struct REPEATED leaf (no bloom): PageIndex pruning only
    hits, dec, tot = pf.lookup_rows(path, "meta.ids.list.element", int(888 * 100 + 2))
    assert hits == [888] and dec == 1 and tot == 20
    hits, dec, _ = pf.lookup_rows(path, "meta.ids.list.element", 10**8)
    assert hits == [] and dec == 0
