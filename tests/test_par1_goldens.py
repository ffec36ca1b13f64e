"""Pinned PAR1 writer bytes: the sha256 of whole files written by
``parquet_writer.write_file`` for every column spec kind (the five nested
spec classes with and without each mask and dictionary flag, flat tuples
including FLBA and INT96) and by the sink's ``_write_one_file`` on the
two perfbench token profiles. Every file is uncompressed, so its bytes
depend on the engine's encoders alone; compression is covered by the
round-trip tests.

``tests/golden/par1_writer_hashes.json`` holds the hashes. Regenerate it
only for a deliberate format change, and say which hashes moved and why:
``PYTHONPATH=. python tests/test_par1_goldens.py``."""

import hashlib
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark.sources import parquet_writer as pw  # noqa: E402

PATH = os.path.join(os.path.dirname(__file__), "golden",
                    "par1_writer_hashes.json")
N = 60


def _strings(rng, n, card=12):
    return [b"v%d" % k * (1 + k % 3) for k in rng.integers(0, card, n)]


def _ints(rng, n, phys="int32"):
    return rng.integers(-50, 50, n).astype(phys)


def _lengths(rng, n, valid=None, hi=4):
    lengths = rng.integers(0, hi, n).astype(np.int64)
    if valid is not None:
        lengths[~valid] = 0
    return lengths


def _masks(rng, n, p=0.2):
    return rng.random(n) > p


def _list_cases(rng):
    valid = _masks(rng, N)
    for lv in (None, valid):
        lengths = _lengths(rng, N, lv)
        m = int(lengths.sum())
        ev = _masks(rng, m)
        for ev_ in (None, ev):
            for d in (False, True):
                key = (f"list/int32/valid={lv is not None}/"
                       f"elem={ev_ is not None}/dict={d}")
                yield key, [pw.ListColumn("t", "int32", _ints(rng, m),
                                          lengths, use_dictionary=d,
                                          valid=lv, element_valid=ev_)]
        yield (f"list/byte_array/valid={lv is not None}/elem=True/dict=True",
               [pw.ListColumn("s", "byte_array", _strings(rng, m), lengths,
                              use_dictionary=True, valid=lv,
                              element_valid=ev)])
    lengths = _lengths(rng, N)
    m = int(lengths.sum())
    for phys, vals in (("int64", _ints(rng, m, "int64")),
                       ("double", rng.random(m)),
                       ("float", rng.random(m).astype(np.float32)),
                       ("boolean", rng.random(m) > 0.5)):
        yield f"list/{phys}", [pw.ListColumn("x", phys, vals, lengths)]


def _nested_list_cases(rng):
    for mask in ("none", "valid", "inner", "elem", "all"):
        valid = _masks(rng, N) if mask in ("valid", "all") else None
        outer = _lengths(rng, N, valid, 3)
        n_inner = int(outer.sum())
        inner_valid = _masks(rng, n_inner) \
            if mask in ("inner", "all") else None
        inner = _lengths(rng, n_inner, inner_valid)
        m = int(inner.sum())
        ev = _masks(rng, m) if mask in ("elem", "all") else None
        for d in (False, True):
            yield (f"nested_list/{mask}/dict={d}",
                   [pw.NestedListColumn("nl", "int32", _ints(rng, m), outer,
                                        inner, use_dictionary=d,
                                        valid=valid, inner_valid=inner_valid,
                                        element_valid=ev)])


def _struct_cases(rng):
    for sv in (None, _masks(rng, N)):
        for fv in (None, _masks(rng, N)):
            for d in (False, True):
                fields = [("a", "int32", _ints(rng, N), fv, d),
                          ("b", "byte_array", _strings(rng, N), fv, d),
                          ("c", "double", rng.random(N), fv)]
                yield (f"struct/valid={sv is not None}/"
                       f"field={fv is not None}/dict={d}",
                       [pw.StructColumn("st", fields, valid=sv)])
    # struct-in-struct and a list field, each optional layer masked
    sv, qv = _masks(rng, N), _masks(rng, N)
    lv = _masks(rng, N)
    lengths = _lengths(rng, N, lv & sv)
    m = int(lengths.sum())
    inner = pw.StructColumn("q", [("x", "int64", _ints(rng, N, "int64"),
                                   _masks(rng, N), True),
                                  ("y", "byte_array", _strings(rng, N))],
                            valid=qv)
    tags = pw.ListColumn("tags", "byte_array", _strings(rng, m), lengths,
                         use_dictionary=True, valid=lv,
                         element_valid=_masks(rng, m))
    yield "struct/nested", [pw.StructColumn(
        "meta", [("id", "int32", _ints(rng, N)), ("q", inner),
                 ("tags", tags)], valid=sv)]
    plain_inner = pw.StructColumn("q", [("x", "int64",
                                         _ints(rng, N, "int64"))])
    ids = pw.ListColumn("ids", "int32", _ints(rng, int(lengths.sum())),
                        lengths)
    yield "struct/nested_required", [pw.StructColumn(
        "meta", [("q", plain_inner), ("ids", ids)])]


def _map_cases(rng):
    for mv in (None, _masks(rng, N)):
        lengths = _lengths(rng, N, mv)
        m = int(lengths.sum())
        for vv in (None, _masks(rng, m)):
            for kd, vd in ((False, False), (True, False), (False, True)):
                yield (f"map/valid={mv is not None}/"
                       f"value={vv is not None}/dict={kd},{vd}",
                       [pw.MapColumn("m", "byte_array", _strings(rng, m),
                                     "int32", _ints(rng, m), lengths,
                                     valid=mv, value_valid=vv,
                                     key_use_dictionary=kd,
                                     value_use_dictionary=vd)])


def _list_struct_cases(rng):
    for lv in (None, _masks(rng, N)):
        lengths = _lengths(rng, N, lv)
        m = int(lengths.sum())
        for ev in (None, _masks(rng, m)):
            for fv in (None, _masks(rng, m)):
                for d in (False, True):
                    fields = [("code", "int64", _ints(rng, m, "int64"), fv,
                               d),
                              ("tag", "byte_array", _strings(rng, m), fv,
                               d),
                              ("w", "float",
                               rng.random(m).astype(np.float32))]
                    yield (f"list_struct/valid={lv is not None}/"
                           f"elem={ev is not None}/field={fv is not None}/"
                           f"dict={d}",
                           [pw.ListStructColumn("evt", fields, lengths,
                                                valid=lv, element_valid=ev)])


def _flat_cases(rng):
    valid = _masks(rng, N)
    for v in (None, valid):
        for d in (False, True):
            yield (f"flat/valid={v is not None}/dict={d}", [
                ("i32", "int32", _ints(rng, N), v, d),
                ("i64", "int64", _ints(rng, N, "int64"), v, d),
                ("f", "float", rng.random(N).astype(np.float32), v, d),
                ("d", "double", rng.random(N), v, d),
                ("s", "byte_array", _strings(rng, N), v, d),
                ("b", "boolean", rng.random(N) > 0.5, v)])
        yield f"flat/fixed/valid={v is not None}", [
            ("dec", "flba:6", [b"%06d" % k for k in rng.integers(0, 999, N)],
             v),
            ("ts96", "int96", [bytes(rng.integers(0, 256, 12, np.uint8))
                               for _ in range(N)], v)]


def _file_cases(rng):
    """(key, columns, write_file kwargs) for every spec-level case, each
    written once unpaged and once with row groups and small pages."""
    gens = (_list_cases, _nested_list_cases, _struct_cases, _map_cases,
            _list_struct_cases, _flat_cases)
    for gen in gens:
        for key, cols in gen(rng):
            kw = {"decimal_columns": {"dec": (12, 2)}} \
                if key.startswith("flat/fixed") else {}
            yield key, cols, kw
            yield key + "/paged", cols, dict(kw, row_group_rows=25,
                                             page_rows=7)


def _hashes(tmp_dir):
    from parquet_cpp_spark.sources import parquet_sink as sink
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_table

    out = {}
    rng = np.random.default_rng(12)
    path = os.path.join(tmp_dir, "g.parquet")
    for key, cols, kw in _file_cases(rng):
        assert key not in out, key
        pw.write_file(path, cols, N, **kw)
        with open(path, "rb") as f:
            out[key] = hashlib.sha256(f.read()).hexdigest()
    for avg_len in (256, 16):
        tbl = synthesize_tokens_table(25_000, seed=1, avg_len=avg_len)
        row = sink._write_one_file(tbl, path + ".tmp", path, None, 2048,
                                   None, 1)
        out[f"sink/tokens_avg{avg_len}"] = row[4]
    return out


def test_par1_writer_bytes_stable(tmp_path):
    with open(PATH) as f:
        frozen = json.load(f)
    got = _hashes(str(tmp_path))
    assert sorted(got) == sorted(frozen)
    moved = [k for k in sorted(got) if got[k] != frozen[k]]
    assert not moved, f"{len(moved)} files changed, e.g. {moved[:5]}"


if __name__ == "__main__":
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        hashes = _hashes(d)
    with open(PATH, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
