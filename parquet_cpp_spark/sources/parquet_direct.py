"""Direct-parquet encode source: Spark runs one task per slice of
row-group descriptors; each task pyarrow-reads its own row groups and
encodes them.

Rationale: the default scan path decodes parquet in the JVM, serializes the
decoded rows over Arrow IPC to the Python worker, which re-materializes them
— on a memory-bandwidth-bound host that doubles the traffic of the entire
job for no benefit, because the encode kernels live in Python anyway. Here
the JVM only generates tiny (path, row_group) descriptor rows; the token
payload is read once, in the worker, straight from the (page-cached) parquet
file. This is the same division of labor as the reference's
column-chunk-granular reads (``/root/reference/src/parquet/file_reader.cc:63-135``)
and is exactly how a custom DataSource scan partitions work.

part_id = sha256(file, row_group) — stable across reruns, so the resume
manifest's anti-join works over this source too.
"""

from __future__ import annotations

import json
import os

from ..operators.encode_arrow import CHUNK_SCHEMA
from ..properties import WriterProperties


def list_row_groups(path: str) -> list[tuple[str, int]]:
    """(file, row_group_index) descriptors for a parquet file or directory."""
    import pyarrow.parquet as pq

    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files.extend(os.path.join(root, f) for f in sorted(names)
                         if f.endswith(".parquet"))
    else:
        files = [path]
    out: list[tuple[str, int]] = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        out.extend((f, i) for i in range(md.num_row_groups))
    return out


# Python tasks are not free: over ``task_source`` each mapInArrow task adds
# ~25 ms of wall time at local[4] on a 4-core host (measured: a no-op job
# over 4/16/64 slices of 8 descriptors runs 0.21/0.50/1.73 s, medians of
# 7; a ``parallelize`` source pays ~50 ms: 0.28/0.84/3.34 s), and task
# launch is largely serialized. Slices therefore AMORTIZE:
# a slice should carry at least this many input units before extra slices
# (beyond one per core) pay for themselves. Scale-adaptive, not a local[32]
# constant: with many units per core (a real cluster's file counts) the cap
# SLICES_PER_CORE wins and keeps fine-grained balance/straggler recovery.
MIN_UNITS_PER_SLICE = 8
# tasks per core of the encode and sink sources over row-group descriptors
SLICES_PER_CORE = 4


def plan_slices(n_units: int, cores: int, slices_per_core: int) -> int:
    """Slice count for ``n_units`` work units: amortize python-task
    dispatch, but never below TWO waves per core (floor 2*cores when units
    allow) — the slice count is also the partition count a downstream
    ``.write`` materializes, so over-coarsening starves consumers of file
    parallelism (measured: 32 chunk files instead of 128 pushed the decode
    leg from ~4 to 7-11 s) and leaves single-wave straggler exposure."""
    amortized = max(n_units // MIN_UNITS_PER_SLICE, 2 * cores)
    return max(1, min(n_units, cores * slices_per_core, amortized))


def task_source(spark, descriptors, n_parts: int, ddl: str):
    """``descriptors`` (tuples laid out as ``ddl``) as a JVM-only DataFrame
    (``Generate inline <- Range``: no Python RDD, no exchange) whose
    partition ``i`` holds ``descriptors[i*n//n_parts:(i+1)*n//n_parts]``,
    in order (contiguous: a task's row groups of one file share one footer
    parse and the page cache). Each slice is one JSON string of arrays in a
    folded literal array; a task parses only its own, casting to ``ddl``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    n = len(descriptors)
    slices = [json.dumps(descriptors[i * n // n_parts:(i + 1) * n // n_parts],
                         separators=(",", ":")) for i in range(n_parts)]
    rows = F.from_json(F.element_at(F.array(*map(F.lit, slices)),
                                    F.col("id").cast("int") + 1),
                       "array<array<string>>")
    fields = StructType.fromDDL(ddl).fields
    return spark.range(0, n_parts, 1, n_parts).select(F.inline(F.transform(
        rows, lambda r: F.struct(*[r[j].cast(f.dataType).alias(f.name)
                                   for j, f in enumerate(fields)]))))


def encode_parquet_direct(spark, path: str,
                          columns: dict[str, str] | None = None,
                          props: WriterProperties | None = None):
    """Encode a parquet token table without moving row data through the JVM;
    ``props`` as in ``make_arrow_encode_fn``.

    Returns the chunk DataFrame (``CHUNK_SCHEMA``)."""
    from ..shipping import ensure_shipped
    ensure_shipped(spark)

    from ..operators.encode_arrow import make_arrow_encode_fn

    splits = list_row_groups(path)
    cores = spark.sparkContext.defaultParallelism
    n_parts = plan_slices(len(splits), cores, SLICES_PER_CORE)
    splits_df = task_source(spark, splits, n_parts, "file string, rg int")

    encode_fn = make_arrow_encode_fn(columns, props)

    def task(batches):
        import pyarrow.parquet as pq

        descs: list[tuple[str, int]] = []
        for batch in batches:
            descs.extend(zip(batch.column("file").to_pylist(),
                             batch.column("rg").to_pylist()))
        i = 0
        while i < len(descs):
            # one ParquetFile + one iter_batches stream per run of row
            # groups from the same file: reopening per row group re-parses
            # the full footer each time, and the streaming reader is ~12%
            # faster than per-row-group read_row_group calls — per-task
            # overhead the 1-core legs pay n_row_groups times over.
            # use_threads=False: one task = one core (letting pyarrow fan
            # out across the node's global pool makes tasks steal each
            # other's cores and low-parallelism benches lie).
            f = descs[i][0]
            j = i
            rgs: list[int] = []
            while j < len(descs) and descs[j][0] == f:
                rgs.append(descs[j][1])
                j += 1
            i = j
            pf = pq.ParquetFile(f, memory_map=True)
            md = pf.metadata
            sizes = [md.row_group(r).num_rows for r in rgs]
            rgs = [r for r, s in zip(rgs, sizes) if s]
            sizes = [s for s in sizes if s]
            if not rgs:
                continue
            # batch_size >= every selected row group's rows => the reader
            # yields EXACTLY one batch per row group (it never merges
            # across row-group boundaries), preserving the one-chunk-set-
            # per-row-group contract (stable content-derived part_ids)
            it = pf.iter_batches(batch_size=max(sizes), row_groups=rgs,
                                 use_threads=False)
            for want, b in zip(sizes, it):
                if len(b) != want:
                    raise RuntimeError(
                        f"row-group batch misalignment in {f!r}: got "
                        f"{len(b)} rows, expected {want}")
                yield from encode_fn([b])

    out = splits_df.mapInArrow(task, schema=CHUNK_SCHEMA)
    out._pcs_colocated = True  # one part's whole chunk set per task
    return out
