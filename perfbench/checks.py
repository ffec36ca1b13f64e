"""Output checks, made apart from the engine and outside the timed runs.

- Digests: an order-free digest (per-row Spark ``xxhash64`` over the four
  columns, summed as a decimal, plus the row count) of the input as Spark's
  JVM reader sees it must equal that of the ``decode`` output, the decoded
  ``shuffle_encode`` output, the committed PAR1 files read by the JVM
  reader, and the ``scan`` output.
- Lookups: each lookup returned exactly the input rows pyarrow finds for
  its key, and none for absent keys.
- Size: the chunk blobs total no more bytes than pyarrow's writer produces
  on the same input with the reference defaults (dictionary on,
  uncompressed, 1 MiB pages).
"""

from __future__ import annotations

import os

from ops import log

COLUMNS = ("doc_id", "tokens", "n_tok", "source")


def digest(df) -> "tuple[int, str]":
    """(rows, order-free digest) of a DataFrame with the token schema."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c) for c in COLUMNS]).cast("decimal(38,0)")
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d")).first()
    return int(row["n"]), str(row["d"])


def _row_key(r) -> tuple:
    return (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])


def expected_lookups(path: str, keys) -> "dict[str, list[tuple]]":
    """Rows of the input file per key, found by pyarrow."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    hit = pq.read_table(path, columns=list(COLUMNS),
                        filters=pc.field("doc_id").isin(sorted(set(keys))))
    out: "dict[str, list[tuple]]" = {k: [] for k in keys}
    for r in hit.to_pylist():
        out[r["doc_id"]].append(_row_key(r))
    return out


def lookups_match(got: "dict[str, list]", want: "dict[str, list]") \
        -> "dict[str, bool]":
    """Per key: the engine's rows equal pyarrow's, as multisets."""
    return {k: sorted(_row_key(r) for r in rows) == sorted(want.get(k, []))
            for k, rows in got.items()}


def blob_bytes(chunks_dir: str) -> int:
    """Total blob length in a directory of chunk files, read by pyarrow."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    blobs = ds.dataset(chunks_dir, format="parquet").to_table(
        columns=["blob"]).column("blob")
    return int(pc.sum(pc.binary_length(blobs)).as_py() or 0)


def reference_bytes(path: str) -> int:
    """Size of the input rewritten by pyarrow with the reference defaults,
    row group for row group (counted, not stored)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    out = pa.MockOutputStream()
    with pq.ParquetWriter(out, pf.schema_arrow, compression="NONE",
                          use_dictionary=True,
                          data_page_size=1 << 20) as wr:
        for i in range(pf.metadata.num_row_groups):
            wr.write_table(pf.read_row_group(i))
    return out.size()


def _attempt(fn, *args):
    """``fn(*args)``, or None when it raises: an output that cannot be
    read fails its check instead of ending the run."""
    try:
        return fn(*args)
    except Exception as exc:
        log(f"check could not run: {exc!r}")
        return None


def digests_match(want, got: dict) -> "dict[str, bool]":
    """Per output: its digest equals the input's."""
    ok = {}
    for name, d in got.items():
        ok[name] = want is not None and d == want
        if not ok[name]:
            log(f"check failed: {name} digest {d} != input {want}")
    return ok


def size_ok(chunk_bytes: int, reference: int) -> bool:
    """The encoded output is no larger than the reference writer's."""
    if chunk_bytes > reference:
        log(f"check failed: chunk blobs {chunk_bytes} B > "
             f"pyarrow {reference} B")
    return chunk_bytes <= reference


def run_checks(spark, ops, inp) -> dict:
    """Every check once; ``ops`` maps operation -> all its outputs passed."""
    from concurrent.futures import ThreadPoolExecutor

    # the pyarrow checks release the GIL: they run beside the Spark jobs
    side = ThreadPoolExecutor(3)
    want_rows = side.submit(expected_lookups, inp.path,
                            list(ops.lookup_rows))
    chunk_bytes = side.submit(blob_bytes, ops.chunks)
    ref = side.submit(reference_bytes, inp.path)
    side.shutdown(wait=False)
    frames = {
        "input": lambda: spark.read.parquet(inp.path),
        "decode": ops.decode_df,
        "shuffle_encode": lambda: ops.decode_df(ops.shuffle_chunks),
        "sink": lambda: spark.read.parquet(*ops.committed_files()),
        "scan": ops.scan_df,
    }
    # independent Spark jobs: submitted together they share the cores
    with ThreadPoolExecutor(len(frames)) as pool:
        futs = {k: pool.submit(_attempt, lambda f=f: digest(f()))
                for k, f in frames.items()}
        got = {k: f.result() for k, f in futs.items()}
    want = got.pop("input")
    ok = digests_match(want, got)

    lk = lookups_match(ops.lookup_rows, want_rows.result())
    bad_keys = [k for k, good in lk.items() if not good]
    if bad_keys:
        log(f"check failed: lookups {bad_keys}")
    ok["lookup"] = not bad_keys

    chunk_bytes, ref = chunk_bytes.result(), ref.result()
    ok["encode"] = size_ok(chunk_bytes, ref)
    par1 = sum(os.path.getsize(f) for f in ops.committed_files())
    return {"correct": all(ok.values()), "ops": ok,
            "chunk_bytes": chunk_bytes, "par1_bytes": par1,
            "reference_bytes": ref}
