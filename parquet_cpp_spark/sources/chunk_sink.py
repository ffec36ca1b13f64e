"""Direct chunk sink: encode tasks write their own chunk parquet files and
ship ONLY manifest rows through the JVM.

The standard pipeline returns chunk rows (blob column included) to Spark and
writes them with the JVM parquet writer — at 10^12-sequence scale that moves
the entire ~370 TB encoded payload through Arrow IPC into the JVM heap and
back out, twice the necessary traffic. This sink is the write-side mirror of
``sources.parquet_direct``: the task that encoded a row group writes its
chunk set to ``out_dir`` itself (pyarrow, atomic rename), and only the
per-chunk metadata (sizes, codecs, stats, checksum, file) crosses to the
JVM — a few hundred bytes per chunk instead of the payload.

File naming is content-derived (the part_id the encode already derives from
content), so task retries overwrite with identical bytes instead of
duplicating — the same idempotency contract as the manifest
(plans.encode_job).
"""

from __future__ import annotations

import os

from ..properties import WriterProperties

MANIFEST_SCHEMA = (
    "part_id bigint, col string, codec string, n_rows bigint, "
    "n_values bigint, raw_bytes bigint, enc_bytes bigint, "
    "null_count bigint, min_val string, max_val string, "
    "distinct_count bigint, checksum string, file string"
)


def encode_parquet_direct_sink(spark, path: str, out_dir: str,
                               columns: dict[str, str] | None = None,
                               props: WriterProperties | None = None):
    """Encode a parquet token table and WRITE chunk files worker-side;
    ``props`` as in ``make_arrow_encode_fn``.

    Returns the manifest DataFrame (MANIFEST_SCHEMA — no blob column ever
    crosses the JVM)."""
    from ..shipping import ensure_shipped
    ensure_shipped(spark)

    from ..operators.encode_arrow import make_arrow_encode_fn
    from .parquet_direct import SLICES_PER_CORE, list_row_groups, task_source

    os.makedirs(out_dir, exist_ok=True)
    splits = list_row_groups(path)
    cores = spark.sparkContext.defaultParallelism
    n_parts = min(len(splits), max(1, cores * SLICES_PER_CORE))
    splits_df = task_source(spark, splits, n_parts, "file string, rg int")

    encode_fn = make_arrow_encode_fn(columns, props)

    def task(batches):
        import hashlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        for batch in batches:
            files = batch.column("file").to_pylist()
            rgs = batch.column("rg").to_pylist()
            for f, rg in zip(files, rgs):
                # the filename carries BOTH the content-derived part_id and
                # a source tag (file, rg): retries of the same split still
                # overwrite with identical bytes (idempotent), but two
                # DISTINCT row groups that happen to share a part_id
                # (duplicate first doc_id + equal row count) can no longer
                # silently shadow each other's chunk file
                src_tag = hashlib.sha256(
                    f"{f}#{rg}".encode()).hexdigest()[:12]
                tbl = pq.ParquetFile(f).read_row_group(rg,
                                                       use_threads=False)
                for chunk_batch in encode_fn(tbl.to_batches()):
                    pid = chunk_batch.column("part_id")[0].as_py()
                    dest = os.path.join(
                        out_dir, f"part-{pid:020d}-{src_tag}.parquet")
                    tmp = dest + ".inprogress"
                    pq.write_table(pa.Table.from_batches([chunk_batch]),
                                   tmp, compression="zstd")
                    os.replace(tmp, dest)  # atomic; retries overwrite
                    names = [f.split(" ", 1)[0]
                             for f in MANIFEST_SCHEMA.split(", ")[:-1]]
                    arrays = [chunk_batch.column(n) for n in names]
                    arrays.append(pa.array([dest] * chunk_batch.num_rows,
                                           type=pa.string()))
                    yield pa.RecordBatch.from_arrays(
                        arrays, names=names + ["file"])

    return splits_df.mapInArrow(task, schema=MANIFEST_SCHEMA)
