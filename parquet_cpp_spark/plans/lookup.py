"""Point lookup and selective decode with chunk pruning: min/max stats +
bloom filters.

The reference emits filter-support metadata (min/max statistics
``statistics.h:34-82``, split-block blooms ``bloom_filter.h:119-240``) so
scanners can skip chunks; Catalyst does the same with parquet footers. Here
the chunk DataFrame *is* the metadata table, and ``prune_parts`` prunes on
the driver through the engine scan's one pruning rule
(``record_assembly._may_match``) and the blooms, from one pyarrow read of
a bare local parquet relation's stats (no Spark job) or one collect of
any other DataFrame's. The lookup or decode then runs ONE Python job over
the surviving parts only (a lookup over local files: one task per part),
zero tasks when none survive. Every encode path writes a doc_id bloom
(``properties.DEFAULT_BLOOM_COLUMNS``); within a part, doc_ids match
without a decode where they can and only hit rows' pages decode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def may_contain(rows, keys) -> list[int]:
    """part_ids of ``(part_id, bloom)`` rows whose split-block bloom may
    hold at least one of ``keys`` (bytes); a row without a bloom cannot be
    pruned and is kept. The one bloom check behind ``prune_parts``; a
    corrupt bloom raises ``ValueError`` naming its part."""
    from ..kernels.bloom import BlockSplitBloomFilter, murmur3_64_view

    hashes = murmur3_64_view(list(keys))
    keep = []
    for pid, bloom in rows:
        if bloom is None or BlockSplitBloomFilter.deserialize(
                bloom, f"part_id={pid}").check_hashes(hashes).any():
            keep.append(pid)
    return keep


def _part_filter(parts: list[int]) -> Column:
    """``part_id IN parts``; a literal ``False`` when nothing survives, so
    the plan runs zero tasks."""
    return F.col("part_id").isin(parts) if parts else F.lit(False)


def _stat_value(s: "str | None", v):
    """A ``min_val``/``max_val`` string in the domain of predicate value
    ``v`` (``compute_stats`` spells booleans ``"True"``/``"False"``);
    None, which keeps the part, when absent or unparsable."""
    from ..sources.record_assembly import _segment_value
    if s is None or isinstance(v, bool):
        return {"True": True, "False": False}.get(s)
    return _segment_value(s, v)


def _local_chunk_files(chunks_df: DataFrame) -> "list[str] | None":
    """Paths of the ``file:`` URIs behind a bare parquet relation of chunk
    rows (``spark.read.parquet(dir)``: not cached, filtered, projected or
    hive-partitioned); None for any other DataFrame."""
    from urllib.parse import unquote, urlparse
    plan = chunks_df._jdf.queryExecution().withCachedData()
    rel = plan.relation() \
        if plan.getClass().getSimpleName() == "LogicalRelation" else None
    if rel is None or rel.getClass().getSimpleName() != "HadoopFsRelation" \
            or rel.fileFormat().shortName() != "parquet" \
            or not rel.partitionSchema().isEmpty() \
            or not {"part_id", "col", "blob"} <= set(chunks_df.columns):
        return None
    uris = chunks_df.inputFiles()
    return [unquote(urlparse(u).path) for u in uris] \
        if uris and all(u.startswith("file:") for u in uris) else None


def _prune(chunks_df: DataFrame, predicate) -> tuple:
    """(``prune_parts``' answer, its stat dicts, with local ``__filename``)."""
    from ..sources.record_assembly import _PRED_OPS, _may_match

    terms = []
    for term in predicate:
        try:
            col, op, v = term
        except (TypeError, ValueError):
            raise ValueError(f"predicate term {term!r} is not "
                             "(column, op, value)")
        op = "==" if op == "=" else op
        if op not in _PRED_OPS:
            raise ValueError(f"unsupported predicate op {op!r} "
                             f"(one of {_PRED_OPS})")
        if op == "in":
            if not isinstance(v, (list, tuple, set, frozenset)) or not v:
                raise ValueError(f"'in' predicate on {col!r} needs a "
                                 "non-empty list/tuple/set of values")
            v = tuple(v)
        terms.append((col, op, v))
    if not terms:
        raise ValueError("empty predicate")
    fields = ["part_id", "col", "min_val", "max_val", "null_count",
              "n_rows"] + (["bloom"] if "bloom" in chunks_df.columns else [])
    cols = sorted({col for col, _op, _v in terms})
    files = _local_chunk_files(chunks_df)
    if files is None:
        rows = [r.asDict() for r in chunks_df.filter(F.col("col").isin(cols))
                .select(*fields).collect()]
    else:
        import pyarrow.dataset as ds
        rows = ds.dataset(files, format="parquet").to_table(
            columns=["__filename"] + fields,
            filter=ds.field("col").isin(cols)).to_pylist()
    by_col: dict = {}
    for r in rows:
        by_col.setdefault(r["col"], []).append(r)
    parts = None
    for col, op, v in terms:
        if col not in by_col:
            # a typo'd column must fail loudly, not prune everything
            raise ValueError(f"predicate column {col!r} has no chunk "
                             "metadata rows")
        vals = v if op == "in" else (v,)
        probe = vals[0]
        kept = [r for r in by_col[col] if _may_match(
            op, v, r["null_count"], r["n_rows"],
            _stat_value(r["min_val"], probe),
            _stat_value(r["max_val"], probe))]
        if op in ("==", "in") and "bloom" in fields \
                and all(isinstance(x, (str, bytes)) for x in vals):
            keys = [x.encode() if isinstance(x, str) else x for x in vals]
            ids = may_contain([(r["part_id"], r["bloom"]) for r in kept],
                              keys)
        else:
            ids = [r["part_id"] for r in kept]
        parts = set(ids) if parts is None else parts & set(ids)
    return sorted(parts), rows


def prune_parts(chunks_df: DataFrame, predicate) -> list[int]:
    """Sorted part_ids that may satisfy a conjunction of ``(column, op,
    value)`` terms (ops ``record_assembly._PRED_OPS``, ``=`` meaning
    ``==``), from the chunk rows' own stats columns for the predicate's
    columns -- no blob is touched: one pyarrow read of a bare local
    parquet relation's files (``_local_chunk_files``), else one collect
    (``inputFiles()`` outside ``file:`` included). Each term is decided by
    ``record_assembly._may_match``, the rule behind every engine-scan
    prune, over the stat strings read in the value's domain
    (``_stat_value``): a part with NULL stats is kept, an all-null part
    (``null_count == n_rows``) is pruned for every comparison. String
    ``==``/``in`` terms then consult the stats survivors' blooms
    (``may_contain``). A part lacking a chunk row for a term's column is
    pruned. The manifest-level analog of the reference's stats-based
    filtering (``statistics.h:34-82``)."""
    return _prune(chunks_df, predicate)[0]


def _find_rows(blob, key: bytes):
    """Row indices whose doc_id == key, decoding only the pages whose
    [min, max] may contain it (the Skip analog, column_reader.h:268-281).
    A one-page FSST chunk is not decoded: the key, coded with the blob's
    table, is compared with each string's stored codes. Greedy coding
    depends only on the string and the table, so this is exact for every
    blob ``fsst.encode`` writes, not for a hand-made non-greedy stream."""
    import pyarrow.compute as pc

    from .. import chunk as chunkmod
    from ..kernels import ba, fsst
    from ..sources.record_assembly import _may_match

    mv = memoryview(blob)
    if mv.format != "B":
        mv = mv.cast("B")
    hits: list[int] = []
    if mv[4] == chunkmod.VERSION_PAGED:
        for p in chunkmod.page_index(mv):
            if not _may_match("==", key, None, None, p["min"], p["max"]):
                continue
            dec = chunkmod.decode_chunk_rows(mv, p["row_start"],
                                             p["row_end"])
            eq = pc.indices_nonzero(pc.equal(ba.to_arrow(dec.values), key))
            hits.extend(p["row_start"] + int(i) for i in eq.to_pylist())
        return hits
    if mv[4] == chunkmod.VERSION and mv[5] == chunkmod.FSST and mv[8] == 0:
        body = mv[chunkmod._HEADER_LEN:]
        if mv[7] != chunkmod.UNCOMPRESSED:
            body = memoryview(chunkmod._decompress(bytes(body), mv[7]))
        symbols, values, _end = fsst.code_view(body, 4)
        n_values = int.from_bytes(mv[13:17], "little")
        if len(values) != n_values:
            raise chunkmod._count_error(n_values, len(values))
        key = fsst.encode_with_table([key], symbols)[1]   # its codes
    else:
        values = chunkmod.decode_chunk(mv).values
    eq = pc.indices_nonzero(pc.equal(ba.to_arrow(values), key))
    return [int(i) for i in eq.to_pylist()]


def selective_decode(chunks_df: DataFrame, predicate,
                     verify_checksums: bool = False) -> DataFrame:
    """Predicate-pushdown decode of a chunk dataset: partitions whose
    chunk stats or blooms disprove the conjunction are NEVER decoded
    (``prune_parts`` on the driver, then a ``part_id`` filter -- one
    metadata collect, no join or shuffle), and the survivors get an exact
    Catalyst residual filter after decode. The chunk-format twin of
    ``record_assembly.read_parquet_dataset(predicate=...)``; at 100 TB a
    selective predicate over a range-clustered layout decodes only the
    matching slice."""
    from ..sources.record_assembly import predicate_column
    from .encode_job import decode_pipeline
    parts = prune_parts(chunks_df, predicate)
    out = decode_pipeline(chunks_df.filter(_part_filter(parts)),
                          verify_checksums=verify_checksums)
    return out.filter(predicate_column(predicate))


def point_lookup(chunks_df: DataFrame, doc_id: str) -> DataFrame:
    """Return the rows matching ``doc_id``, decoding as little as possible:
    the driver prunes parts on stats + bloom (``_prune``). Over a bare
    local parquet relation one ``task_source`` row and task per surviving
    ``(file, part_id)`` reads that part's chunk rows itself: no Spark job
    runs before the action. Any other DataFrame (cached, filtered,
    unioned, ``inputFiles()`` outside ``file:``, ...) maps over
    ``chunks_df.filter(part_id IN survivors)``; a miss over a literal
    False, zero tasks. Within a part ``_find_rows`` matches the doc_id
    chunk and only the hit rows' pages of the other columns are decoded.
    The stats read carries every part's bloom: hash-partitioned doc ids
    (perfbench's, SCALE.md's) put the key in every part's range anyway."""
    from ..operators.decode_arrow import DECODED_SCHEMA
    from ..shipping import ensure_shipped
    from ..sources.parquet_direct import task_source
    ensure_shipped(chunks_df.sparkSession)

    parts, stats = _prune(chunks_df, [("doc_id", "==", doc_id)])
    source = chunks_df.filter(_part_filter(parts))
    if parts and "__filename" in stats[0]:
        descs = sorted({(r["__filename"], r["part_id"]) for r in stats
                        if r["part_id"] in parts})
        source = task_source(chunks_df.sparkSession, descs, len(descs),
                             "file string, part_id bigint")
    key = doc_id.encode("utf-8")

    def task(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from .. import chunk as chunkmod
        from ..kernels import ba

        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if "blob" not in tbl.column_names:   # (file, part_id) rows
            tables = []
            for f, p in zip(*tbl.to_pydict().values()):
                with pq.ParquetFile(f) as pf:
                    t = pf.read(columns=["part_id", "col", "blob"])
                tables.append(t.filter(pc.equal(t.column("part_id"), p)))
            tbl = pa.concat_tables(tables)
        pids = tbl.column("part_id").to_numpy(zero_copy_only=False)
        cols = tbl.column("col").to_pylist()
        blob_col = ba.one_chunk(tbl.column("blob"))
        by_part: dict[int, dict] = {}
        for i, (pid, c) in enumerate(zip(pids.tolist(), cols)):
            by_part.setdefault(pid, {})[c] = \
                memoryview(blob_col[i].as_buffer())
        for pid, blobs in sorted(by_part.items()):
            rows = _find_rows(blobs["doc_id"], key)
            if not rows:
                continue
            toks, n_toks, sources = [], [], []
            for r in rows:
                t = chunkmod.decode_chunk_rows(blobs["tokens"], r, r + 1)
                toks.append(np.asarray(t.values, dtype=np.int32))
                n = chunkmod.decode_chunk_rows(blobs["n_tok"], r, r + 1)
                n_toks.append(int(np.asarray(n.values)[0]))
                s = chunkmod.decode_chunk_rows(blobs["source"], r, r + 1)
                sources.append(s.values[0].decode("utf-8"))
            yield pa.RecordBatch.from_arrays([
                pa.array([pid] * len(rows), type=pa.int64()),
                pa.array([doc_id] * len(rows), type=pa.string()),
                pa.array([t.tolist() for t in toks],
                         type=pa.list_(pa.int32())),
                pa.array(n_toks, type=pa.int32()),
                pa.array(sources, type=pa.string()),
            ], names=["part_id", "doc_id", "tokens", "n_tok", "source"])

    return source.mapInArrow(task, DECODED_SCHEMA)


def _delete_leaf_path(path: str) -> str:
    """The single leaf column of an equality-delete key file (stored
    name — key files are one-column by construction)."""
    from ..sources import parquet_format as pf
    with open(path, "rb") as fh:
        meta = pf.read_footer(memoryview(fh.read()))
    return meta.leaves[0].name


def point_lookup_parquet(spark, dataset_dir: str, column: str, key):
    """Distributed point lookup over an ENGINE-WRITTEN parquet dataset
    (sources.parquet_sink output): tasks receive file paths, prune data
    pages through each file's PageIndex (ColumnIndex min/max — zero page
    headers touched for non-matching ranges), and decode only surviving
    pages. Returns (file, row_index, pages_decoded, pages_total) — the
    audit columns make the pruning observable, the same no-silent-work
    contract as the chunk-format point_lookup above.

    At 100 TB: file-level pruning comes free from the manifest/footer
    min-max (Catalyst does it for real predicates); this adds the
    page-level skip WITHIN each surviving file — reference
    TypedColumnReader::Skip (column_reader.h:268-281) on the interchange
    format."""
    import os

    from ..shipping import ensure_shipped
    from ..sources.parquet_direct import task_source
    from ..sources.record_assembly import _list_dataset
    ensure_shipped(spark)

    schema = ("file string, row_index bigint, pages_decoded int, "
              "pages_total int")
    if not os.path.isdir(dataset_dir):
        raise FileNotFoundError(f"not a dataset dir: {dataset_dir}")
    files, doc = _list_dataset(dataset_dir)
    lookup_names = [column]
    if doc is not None:
        # snapshot-logged dataset: look up against the committed cut —
        # uncommitted/pre-compaction files are invisible, and a key on
        # the kill list resolves to NO rows (merge-on-read applies to
        # point lookups too; one stats/bloom-pruned pass over the tiny
        # key files decides membership before any data file is touched)
        from ..sources import snapshots as snap
        snap_renames = doc.get("renames", {})
        # kill-list consultation happens in the CURRENT-name namespace:
        # the caller names the current column, and the deletes group by
        # current name exactly as the readers group them (entries
        # committed pre-rename carry a stored name the map sends to its
        # current name; post-rename entries already carry the current
        # name, which by the no-reintroduction rule never collides with a
        # renamed-away stored name). Deletes keyed on a DIFFERENT column
        # are not applied here: this lookup answers "which physical rows
        # carry this key", and filtering them would require reading the
        # other delete column at each hit — read_snapshot /
        # read_parquet_dataset are the logical-row-set readers.
        from ..sources import parquet_format as pf
        for path in snap._delete_groups(dataset_dir, doc).get(column, []):
            rows, _d, _t = pf.lookup_rows(path, _delete_leaf_path(path),
                                          key)
            if rows:
                return spark.createDataFrame([], schema)
        # data-file scan: a file stores the current name (appended after
        # the rename) or ANY stored chain member mapping to it — resolve
        # per file by trying each candidate, like record_assembly's
        # per-file remap
        lookup_names += sorted(
            k for k, v in snap_renames.items() if v == column)
    if not files:
        # dir exists but holds no committed files (sink not yet run, or
        # only .inprogress temps): an empty result, not a crash
        return spark.createDataFrame([], schema)
    n_parts = min(len(files), spark.sparkContext.defaultParallelism)
    files_df = task_source(spark, [(f,) for f in files], n_parts,
                           "file string")

    def task(batches):
        import pyarrow as pa

        from ..sources import parquet_format as pf

        def lookup_any(fpath):
            last = None
            for name in lookup_names:
                try:
                    return pf.lookup_rows(fpath, name, key)
                except ValueError as exc:
                    if "no leaf column" not in str(exc):
                        raise
                    last = exc
            raise last  # none of the chain's names exists: truly unknown

        for batch in batches:
            for fpath in batch.column("file").to_pylist():
                rows, dec, tot = lookup_any(fpath)
                yield pa.RecordBatch.from_arrays([
                    pa.array([fpath] * max(len(rows), 1), pa.string()),
                    pa.array(rows or [-1], pa.int64()),
                    pa.array([dec] * max(len(rows), 1), pa.int32()),
                    pa.array([tot] * max(len(rows), 1), pa.int32()),
                ], names=["file", "row_index", "pages_decoded",
                          "pages_total"])

    return files_df.mapInArrow(task, schema)
