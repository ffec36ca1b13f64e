"""Distributed PAR1 emission: executors write the engine's own parquet.

The write-side completion of the file-format story. ``parquet_writer``
proved the engine can emit a readable PAR1 file; this sink makes that a
first-class *distributed* output: every task writes its own row group's
worth of data as one engine-written parquet file directly into ``out_dir``
(atomic dot-prefixed temp + rename, the ``chunk_sink`` idempotency
contract), and only a manifest row — file, rows, values, bytes, checksum —
crosses to the JVM. The result directory is a plain parquet dataset that
``spark.read.parquet`` / DuckDB / pyarrow scan with zero engine code,
mirroring the reference's ``RowGroupSerializer``/``FileSerializer`` split
(``/root/reference/src/parquet/file_writer.cc:60-236``: per-row-group
column serialization under a shared file writer contract).

Scale shape (the 100-TB plan): the JVM ships only ``(file, row_group)``
descriptors to tasks; each task streams its row group through pyarrow,
encodes with the engine's kernels, and writes to shared storage itself —
the encoded payload never transits the JVM, and file names are
content+source tagged so task retries overwrite with identical bytes
instead of duplicating.

Column mapping is derived from the Arrow schema: every column goes
through the one vectorized rep/def walker (``arrow_nested.ArrowColumn``)
— flat int32/int64/float/double/bool/string/binary leaves, date32 /
timestamp[ms|us] (stored as annotated ints), decimal128 (FLBA), and
lists / structs / maps stacked to any depth with nulls at every level,
strings extracted zero-copy from the Arrow buffers. Leaf types it does
not support fail loudly.

Every file's encodings come from the engine's codec selector, per leaf
per file (``auto_encodings``): a low-cardinality leaf gets dictionary
pages, a token stream that DELTA_BINARY_PACKED encodes smaller gets
delta pages and never builds a dictionary, a path-like string column
gets DELTA_BYTE_ARRAY pages. The reference writer instead
dictionary-encodes every int32/int64/byte_array leaf
(``properties.h:83``); the sink has no such mode. ``resume=True``
rebuilds manifest rows for already-committed files from their footer
metadata instead of re-encoding (checkpoint resume for the parquet
output).
"""

from __future__ import annotations

import os

MANIFEST_SCHEMA = ("file string, n_rows bigint, n_values bigint, "
                   "bytes bigint, checksum string, encodings string, "
                   "stats string")

def specs_from_arrow(tbl):
    """Arrow table -> (specs, utf8 keys, temporal annotations, decimals).

    The bridge between ``mapInArrow`` batches and ``parquet_writer``:
    every column becomes ``arrow_nested.ArrowColumn(name, col,
    nullable)``, the one rep/def walker, whatever its nesting (flat,
    lists, structs, maps, stacked to any depth, nulls at every level).
    Its leaves carry their values zero-copy from the Arrow buffers.
    Strings get the UTF8 annotation (dotted keys — ``s.f``, ``m.key`` —
    for nested leaves), date32/timestamp leaves store as annotated
    int32/int64 (DATE / TIMESTAMP, NTZ-aware) and decimal128 leaves as
    minimal-width big-endian FLBA with ``decimals[key] = (p, s)``; the
    walker harvests these keys and ``write_file`` merges them, so the
    returned sets are a summary. Unsupported leaf types (ns/s
    timestamps, durations, extension types) raise ``ValueError``. Leaves
    start PLAIN: ``auto_encodings`` sets their encodings."""
    from .arrow_nested import ArrowColumn

    specs = [ArrowColumn(name, tbl.column(name),
                         tbl.schema.field(name).nullable)
             for name in tbl.column_names]
    utf8, annotations, decimals = set(), {}, {}
    for s in specs:
        s_utf8, s_ann, s_dec = s.pcs_annotations()
        utf8 |= s_utf8
        annotations.update(s_ann)
        decimals.update(s_dec)
    return specs, utf8, annotations, decimals


def auto_encodings(specs) -> list:
    """Set each walker leaf's ``encoding`` from the engine's codec
    selector run over its dense (null-free) values: int32/int64 leaves
    from ``select_int_codec`` (RLE / RLE_DICTIONARY -> ``dict``), byte_array
    leaves from ``select_bytes_codec(parquet_expressible=True)``, which
    ranks only codecs parquet pages can carry; float/boolean/FLBA leaves
    stay ``plain``. The same decision the chunk format makes, one per
    leaf per file, so each output file is independently optimal like
    each chunk is. Returns the specs."""
    import numpy as np

    from .. import chunk as chunkmod, selector

    tags = {chunkmod.RLE: "dict", chunkmod.RLE_DICTIONARY: "dict",
            chunkmod.DELTA_BINARY_PACKED: "delta",
            chunkmod.DELTA_LENGTH_BYTE_ARRAY: "dlba",
            chunkmod.DELTA_BYTE_ARRAY: "dba"}
    for s in specs:
        for leaf in s.pcs_leaves():
            if leaf.phys in ("int32", "int64"):
                codec = selector.select_int_codec(np.asarray(leaf.dense),
                                                  leaf.phys)
            elif leaf.phys == "byte_array":
                codec = selector.select_bytes_codec(
                    leaf.dense, parquet_expressible=True)
            else:
                continue
            leaf.encoding = tags.get(codec, "plain")
    return list(specs)


def _encodings_tag(specs) -> str:
    """Human/manifest-readable per-leaf encoding summary."""
    return ",".join(f"{leaf.name}={leaf.encoding}"
                    for s in specs for leaf in s.pcs_leaves())


def hive_segment(col: str, value) -> str:
    """One ``col=value`` path segment for a partition directory. Values
    are percent-encoded (``urllib.parse.quote`` with no safe chars) so
    separators, spaces, '=' and unicode survive the path round-trip —
    the same escaping Hive/Spark apply to partition directory names.
    Partition values must be non-null str/int/bool — the layout contract
    is that the SEGMENT states the column's value for every row in the
    file, which a lossy str() of floats or binary would break."""
    from urllib.parse import quote
    if value is None or isinstance(value, float) \
            or not isinstance(value, (str, int, bool)):
        raise ValueError(
            f"partition column {col!r}: value {value!r} out of scope "
            "(non-null str/int/bool only — floats and binary don't "
            "round-trip through a path segment)")
    return f"{col}={quote(str(value), safe='')}"


def partition_values(root: str, path: str) -> dict:
    """Parse ``col=value`` directory segments out of a data-file path
    relative to the dataset root — the read-side inverse of
    ``hive_segment`` (values percent-decoded, returned as strings)."""
    from urllib.parse import unquote
    vals: dict = {}
    rel = os.path.relpath(path, root)
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            vals[k] = unquote(v)
    return vals


def _partition_groups(tbl, partition_by):
    """Split one Arrow table by its distinct partition-column combos:
    yields (subdir-relative-path, sub-table). Vectorized: one group_by
    for the distinct combos (bounded by the partition cardinality a task
    sees — the caller repartitions by the partition columns so this is
    normally 1), then one filter per combo. Null partition values fail
    loudly — a null can't state itself in a path segment."""
    import pyarrow.compute as pc

    for c in partition_by:
        if c not in tbl.column_names:
            raise ValueError(f"partition column {c!r} not in "
                             f"{tbl.column_names}")
        if tbl.column(c).null_count:
            raise ValueError(f"partition column {c!r} has null values")
    combos = tbl.select(list(partition_by)) \
        .group_by(list(partition_by)).aggregate([])
    for i in range(combos.num_rows):
        vals = [combos.column(c)[i].as_py() for c in partition_by]
        mask = None
        for c, v in zip(partition_by, vals):
            m = pc.equal(tbl.column(c), v)
            mask = m if mask is None else pc.and_(mask, m)
        subdir = os.path.join(*[hive_segment(c, v)
                                for c, v in zip(partition_by, vals)])
        yield subdir, tbl.filter(mask)


def _attempt_tag() -> str:
    """Unique-per-task-attempt suffix for temp names: two attempts of the
    same task (speculation, zombie executors on shared storage) must NEVER
    share a temp file — interleaved writes would commit a corrupt file
    whose checksum still 'matches' (it hashes the corrupt bytes)."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    if ctx is None:
        import os as _os
        return f"drv{_os.getpid()}"
    return f"a{ctx.taskAttemptId()}"


def _manifest_batch(row):
    """One manifest tuple -> a single-row Arrow batch (MANIFEST_SCHEMA)."""
    import pyarrow as pa
    return pa.RecordBatch.from_arrays(
        [pa.array([row[0]], pa.string()),
         pa.array([row[1]], pa.int64()),
         pa.array([row[2]], pa.int64()),
         pa.array([row[3]], pa.int64()),
         pa.array([row[4]], pa.string()),
         pa.array([row[5]], pa.string()),
         pa.array([row[6] if len(row) > 6 else None], pa.string())],
        names=["file", "n_rows", "n_values", "bytes", "checksum",
               "encodings", "stats"])


def file_stats_json(meta) -> "str | None":
    """File-level per-column stats for the manifest/snapshot — the
    engine's analog of an Iceberg manifest entry's column bounds. For
    every FLAT leaf (max_rep 0) whose chunk Statistics are complete
    across all row groups: ``{col: {"min": v, "max": v, "nulls": n,
    "n": num_values}}`` with values JSON-typed (ints/floats/bools as-is,
    byte_array bounds as utf-8 text — UTF-8 byte order equals code-point
    order, so string comparison downstream matches the writer's
    lexicographic byte order). Columns with missing/NaN/FLBA/INT96 or
    non-utf8 bounds are omitted (pruning then falls through to the
    footer layer); all-null columns keep their null counts without
    bounds. Returns None when nothing is representable."""
    import json
    import math

    from . import parquet_format as pf

    cols = {}
    for lf in meta.leaves:
        if lf.max_rep:
            continue
        mn = mx = None
        nulls = nvals = 0
        ok = True
        for rg in meta.row_groups:
            chunk = next((c for c in rg if c.path == lf.name), None)
            if chunk is None or chunk.stats is None \
                    or chunk.stats[2] is None:
                ok = False
                break
            cmn, cmx, cn = chunk.stats
            nvals += chunk.num_values
            nulls += cn
            if chunk.num_values == cn:
                continue                       # all-null chunk: no bounds
            tmn, tmx = pf.stat_typed(cmn, lf), pf.stat_typed(cmx, lf)
            if tmn is None or tmx is None or tmn != tmn or tmx != tmx:
                ok = False
                break
            mn = tmn if mn is None else min(mn, tmn)
            mx = tmx if mx is None else max(mx, tmx)
        if not ok:
            continue
        ent: dict = {"nulls": int(nulls), "n": int(nvals)}
        if mn is not None:
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue                   # binary bounds: omit
            elif isinstance(mn, bool):
                pass
            elif isinstance(mx, float) or hasattr(mn, "dtype") \
                    and mn.dtype.kind == "f":
                mn, mx = float(mn), float(mx)
                if not (math.isfinite(mn) and math.isfinite(mx)):
                    continue
            else:
                mn, mx = int(mn), int(mx)
            ent["min"], ent["max"] = mn, mx
        cols[lf.name] = ent
    return json.dumps(cols, separators=(",", ":")) if cols else None


def _write_one_file(tbl, tmp: str, dest: str, row_group_rows, page_rows,
                    compression, data_page_version,
                    bloom_filter_columns=frozenset(),
                    field_ids: "dict | None" = None):
    """Write one Arrow table as one engine PAR1 file (dot-prefixed temp +
    atomic rename), encodings picked by ``auto_encodings``, and return
    its manifest tuple."""
    import hashlib

    from . import parquet_writer as pw
    specs = auto_encodings(specs_from_arrow(tbl)[0])
    n_values = sum(s.pcs_n_values() for s in specs)
    enc_tag = _encodings_tag(specs)
    # manifest fields ride in the footer's key_value_metadata so a
    # resumed job can rebuild its manifest row WITHOUT re-encoding;
    # pcs.params records the writer knobs so resume can detect a rerun
    # with DIFFERENT parameters and re-encode instead of trusting stale
    # files
    params = _params_tag(row_group_rows, page_rows, compression,
                         data_page_version, bloom_filter_columns)
    pw.write_file(tmp, specs, tbl.num_rows,
                  row_group_rows=row_group_rows, page_rows=page_rows,
                  compression=compression,
                  data_page_version=data_page_version,
                  bloom_filter_columns=frozenset(bloom_filter_columns),
                  field_ids=field_ids,
                  key_value_metadata={"pcs.n_values": str(n_values),
                                      "pcs.encodings": enc_tag,
                                      "pcs.params": params})
    with open(tmp, "rb") as fh:
        data = fh.read()
    sha = hashlib.sha256(data).hexdigest()
    # file-level column bounds for the manifest/snapshot (Iceberg-style
    # manifest pruning): one footer parse of the bytes already in hand
    from . import parquet_format as pf
    stats = file_stats_json(pf.read_footer(memoryview(data)))
    # literal-sentinel substitution, NOT str.format: an out_dir containing
    # '{'/'}' must pass through untouched (str.format on the whole path
    # raised KeyError / mangled destinations with no placeholder at all)
    dest = dest.replace("{sha}", sha[:16])
    os.replace(tmp, dest)  # atomic; retries overwrite
    return (dest, tbl.num_rows, n_values, len(data), sha, enc_tag, stats)


def _params_tag(row_group_rows, page_rows, compression, data_page_version,
                bloom_filter_columns=frozenset()) -> str:
    # "d=;e=auto" marks selector-encoded files: older selector files
    # carry the same tag and stay resumable, while files of the former
    # dictionary-everywhere default (e=default) re-encode
    tag = (f"rg={row_group_rows};pg={page_rows};c={compression};"
           f"d=;e=auto;v={data_page_version}")
    if bloom_filter_columns:
        # appended only when set: files written before blooms existed
        # keep their tag and stay resumable
        tag += f";bf={','.join(sorted(bloom_filter_columns))}"
    return tag


def _manifest_from_existing(dest: str, expected_params: "str | None" = None):
    """Manifest tuple for an already-committed engine file (resume path):
    n_rows from the footer, n_values/encodings from the embedded
    key_value_metadata, checksum re-hashed from the bytes on disk.
    Returns None when the file is absent, truncated, or not ours —
    the caller then re-encodes."""
    import hashlib

    from . import parquet_format as pf
    try:
        with open(dest, "rb") as fh:
            data = fh.read()
        if len(data) < 12 or data[:4] != b"PAR1" or data[-4:] != b"PAR1":
            return None
        meta = pf.read_footer(memoryview(data))
        kv = meta.key_value_metadata
        if "pcs.n_values" not in kv:
            return None
        if expected_params is not None and \
                kv.get("pcs.params") != expected_params:
            return None   # written with different knobs: re-encode
        return (dest, meta.num_rows, int(kv["pcs.n_values"]), len(data),
                hashlib.sha256(data).hexdigest(), kv["pcs.encodings"],
                file_stats_json(meta))
    except Exception:
        return None


def emit_parquet_dataset(df, out_dir: str,
                         name_prefix: str = "",
                         row_group_rows: "int | None" = None,
                         page_rows: "int | None" = 2048,
                         compression: "str | None" = "zstd",
                         data_page_version: int = 1,
                         bloom_filter_columns: "frozenset | set"
                         = frozenset(),
                         partition_by: "list | tuple | None" = None,
                         field_ids: "dict | None" = None):
    """DataFrame-in variant of ``write_parquet_dataset``: each task writes
    its partition's rows as ONE engine-format parquet file named by its
    CONTENT hash (``{prefix}part-{sha16}.parquet``) — a retried task that
    reproduces the same partition content overwrites the same file with
    identical bytes. Content-hash naming alone does NOT make retries
    idempotent: callers must make partition content deterministic —
    hash-partition AND sort within partitions (shuffle fetch order is
    nondeterministic; the streaming sink does both) — or a retried task
    can emit the same rows in a different order under a different name,
    duplicating data. Returns the manifest DataFrame (lazy: files are
    written when the manifest is consumed). Identical bytes also need the
    same writer: a version whose encoder choices differ (the selector
    replaced dictionary-everywhere pages as the only mode) writes the
    same rows under another name, so drain or commit in-flight batches
    before upgrading.

    ``partition_by``: ICEBERG-style partitioned layout — each task splits
    its rows by the distinct values of these columns and writes one file
    per combo under ``col=value/`` directories (values percent-encoded;
    non-null str/int/bool only). Unlike Hive, the partition columns STAY
    in the data files, so every file remains self-describing and any
    plain parquet reader sees the full schema; the directory segments
    are a pruning index, not the storage of record —
    ``record_assembly.read_parquet_dataset`` drops whole files on
    partition predicates before any footer I/O. At scale, repartition by
    the partition columns first (``df.repartition(*partition_by)``) or
    each task fans out one file per combo it happens to hold
    (tasks x values small files)."""
    from ..shipping import ensure_shipped
    ensure_shipped(df.sparkSession)
    os.makedirs(out_dir, exist_ok=True)
    part_cols = list(partition_by) if partition_by else None

    def task(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        batch_list = [b for b in batches if b.num_rows]
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        pid = TaskContext.get().partitionId()
        groups = [("", tbl)] if part_cols is None \
            else _partition_groups(tbl, part_cols)
        for gi, (subdir, sub) in enumerate(groups):
            d = os.path.join(out_dir, subdir) if subdir else out_dir
            if subdir:
                os.makedirs(d, exist_ok=True)
            # temp lives in the FINAL directory: os.replace must never
            # cross a filesystem boundary
            tmp = os.path.join(
                d, f".emit-{name_prefix}{pid}-{gi}-"
                   f"{_attempt_tag()}.inprogress")
            dest = os.path.join(d, name_prefix + "part-{sha}.parquet")
            row = _write_one_file(sub, tmp, dest, row_group_rows,
                                  page_rows, compression, data_page_version,
                                  frozenset(bloom_filter_columns),
                                  field_ids)
            yield _manifest_batch(row)

    return df.mapInArrow(task, MANIFEST_SCHEMA)


def write_parquet_dataset(spark, src_path: str, out_dir: str,
                          row_group_rows: "int | None" = None,
                          page_rows: "int | None" = 2048,
                          compression: "str | None" = "zstd",
                          data_page_version: int = 1,
                          resume: bool = False,
                          bloom_filter_columns: "frozenset | set"
                          = frozenset()):
    """Encode ``src_path`` (parquet file/dir) into a directory of
    ENGINE-written PAR1 files, one per source row group, written by the
    executors themselves. Returns the manifest DataFrame
    (``MANIFEST_SCHEMA``); the output dir is a normal parquet dataset.

    Atomicity/idempotency: tasks write ``.name.inprogress`` (dot-prefixed,
    so a concurrent ``spark.read.parquet(out_dir)`` ignores partial
    files) then ``os.replace`` — a retried task overwrites with identical
    bytes. The manifest checksum is the sha256 of the final file.

    Each file's encodings come from the engine's codec auto-selector,
    per column per file, mapped onto parquet's encoding surface via
    ``auto_encodings``; the manifest's ``encodings`` column records each
    file's choices.

    ``resume=True`` is the checkpoint-resume mode (the manifest
    anti-join's analog for the parquet output): a split whose destination
    file already exists with valid PAR1 magic and the engine's embedded
    footer metadata is SKIPPED — its manifest row is rebuilt from the
    footer (``pcs.n_values`` / ``pcs.encodings`` key_value_metadata) and
    a re-hash of the bytes on disk, no re-encode. Names are source-tagged
    per (file, row_group), so resume trusts that the SOURCE split is
    unchanged; truncated or foreign files re-encode, and so do files
    written with other knobs, including the dictionary-everywhere pages
    the sink wrote before the selector was its only mode
    (``e=default`` in ``pcs.params``)."""
    from ..shipping import ensure_shipped
    from .parquet_direct import SLICES_PER_CORE, list_row_groups, task_source
    ensure_shipped(spark)

    os.makedirs(out_dir, exist_ok=True)
    splits = list_row_groups(src_path)
    cores = spark.sparkContext.defaultParallelism
    n_parts = max(1, min(len(splits), cores * SLICES_PER_CORE))
    splits_df = task_source(spark, splits, n_parts, "file string, rg int")
    bloom_cols = frozenset(bloom_filter_columns)

    def task(batches):
        import hashlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        for batch in batches:
            for f, rg in zip(batch.column("file").to_pylist(),
                             batch.column("rg").to_pylist()):
                # name carries the SOURCE tag (file, rg): a retried split
                # overwrites its own file, two distinct splits never share
                tag = hashlib.sha256(f"{f}#{rg}".encode()).hexdigest()[:16]
                dest = os.path.join(out_dir, f"part-{tag}.parquet")
                if resume:
                    # BEFORE reading the source: a resumed split costs one
                    # footer parse + hash, zero source I/O, zero encode;
                    # a file written under different writer knobs fails
                    # the pcs.params check and re-encodes
                    row = _manifest_from_existing(
                        dest, _params_tag(row_group_rows, page_rows,
                                          compression, data_page_version,
                                          bloom_cols))
                    if row is not None:
                        yield _manifest_batch(row)
                        continue
                tbl = pq.ParquetFile(f).read_row_group(rg, use_threads=False)
                row = _write_one_file(
                    tbl,
                    os.path.join(
                        out_dir,
                        f".part-{tag}-{_attempt_tag()}.inprogress"),
                    dest,
                    row_group_rows, page_rows, compression,
                    data_page_version, bloom_cols)
                yield _manifest_batch(row)

    return splits_df.mapInArrow(task, schema=MANIFEST_SCHEMA)
