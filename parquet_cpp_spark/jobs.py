"""Job entry points for spark-submit deployment.

The north rule's deployment mode is ``spark-submit --py-files`` on a
multi-executor cluster; these mains are the artifacts you submit:

    spark-submit --py-files parquet_cpp_spark.zip \
        -m parquet_cpp_spark.jobs encode \
        --input /data/tokens --out /data/encoded --resume

    python -m parquet_cpp_spark.jobs encode --input ... --out ...   # local
    python -m parquet_cpp_spark.jobs decode --chunks ... --out ...
    python -m parquet_cpp_spark.jobs verify --input ... --chunks ...
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    """Job session. When a SparkSession is already active (a test or
    notebook embedding a job via ``main(argv)``), reuse it and DON'T
    stop it on job exit — ``_stop`` is a no-op then."""
    from pyspark.sql import SparkSession

    from .session import get_spark
    pre = SparkSession.getActiveSession()
    spark = pre if pre is not None else get_spark(master=args.master)
    spark._pcs_job_owns_session = pre is None
    return spark


def _stop(spark) -> None:
    if getattr(spark, "_pcs_job_owns_session", True):
        spark.stop()


def cmd_encode(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F
    from .plans import encode_job
    from .properties import WriterProperties
    from .sources.parquet_direct import encode_parquet_direct
    from .sources.tokens import read_tokens

    # one configuration for both modes
    props = WriterProperties(
        codec_overrides=dict(kv.split("=") for kv in (args.codec or [])),
        dictionary_enabled=not args.no_dictionary,
        compression=args.compression,
        data_pagesize=args.pagesize,
        format_version=args.format_version)
    if args.resume or args.shuffle:
        df = read_tokens(spark, args.input)
        num_parts = args.parts or encode_job.plan_num_parts(df.count())
        out = encode_job.run_checkpointed(spark, df, args.out, num_parts,
                                          props=props)
        print(json.dumps({"mode": "checkpointed", **out}))
    else:
        chunks = encode_parquet_direct(spark, args.input, props=props)
        chunks.write.mode("overwrite").parquet(args.out + "/chunks")
        stats = spark.read.parquet(args.out + "/chunks").agg(
            F.sum("raw_bytes").alias("raw"),
            F.sum("enc_bytes").alias("enc")).collect()[0]
        print(json.dumps({"mode": "direct", "chunks_path": args.out + "/chunks",
                          "raw_bytes": stats.raw, "enc_bytes": stats.enc,
                          "ratio": round(stats.enc / max(1, stats.raw), 4)}))
    _stop(spark)


def cmd_decode(args) -> None:
    spark = _spark(args)
    from .operators.decode_arrow import decode_parquet_direct
    dec = decode_parquet_direct(spark, args.chunks,
                                verify_checksums=args.verify_checksums)
    dec.drop("part_id").write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                      "out": args.out}))
    _stop(spark)


def cmd_verify(args) -> None:
    """Round-trip verification job: decode chunks, join back to the input on
    doc_id, assert token-array equality per row (the reference's oracle)."""
    spark = _spark(args)
    from pyspark.sql import functions as F
    from .operators.decode_arrow import decode_parquet_direct
    from .sources.tokens import read_tokens

    src = read_tokens(spark, args.input)
    dec = decode_parquet_direct(spark, args.chunks) \
        .select(F.col("doc_id").alias("d_doc_id"),
                F.col("tokens").alias("d_tokens"))
    joined = src.join(dec, src.doc_id == dec.d_doc_id, "full_outer")
    # eqNullSafe: missing rows and null-vs-value rows all count as mismatch
    bad = joined.filter(
        ~F.col("tokens").eqNullSafe(F.col("d_tokens"))).count()
    total = src.count()
    print(json.dumps({"rows": total, "mismatches": bad,
                      "bit_identical": bad == 0}))
    _stop(spark)
    if bad:
        sys.exit(1)


def _parse_where(terms):
    """``--where "col>=value"`` / ``--where "col in a,b,c"`` strings ->
    (col, op, value) conjuncts for the engine scan's predicate pushdown.
    Value typing: int, then float, then bare string (quotes optional)."""
    import re

    def typed(raw):
        raw = raw.strip().strip("'\"")
        try:
            return int(raw)
        except ValueError:
            try:
                return float(raw)
            except ValueError:
                return raw

    out = []
    for t in terms:
        mnull = re.fullmatch(
            r"\s*([\w.]+)\s+is\s+(not\s+)?null\s*", t, re.IGNORECASE)
        if mnull:
            out.append((mnull.group(1),
                        "not_null" if mnull.group(2) else "is_null", None))
            continue
        m = re.fullmatch(
            r"\s*([\w.]+)\s*(==|=|!=|<=|>=|<|>|\s[iI][nN]\s)\s*(.+?)\s*", t)
        if not m:
            raise SystemExit(f"bad --where term {t!r} "
                             "(expected col OP value)")
        col, op, raw = m.groups()
        op = op.strip().lower()
        if op == "in":
            out.append((col, "in", tuple(typed(x)
                                         for x in raw.split(","))))
        else:
            out.append((col, "==" if op == "=" else op, typed(raw)))
    return out


def cmd_verify_parquet(args) -> None:
    """Independent-read verification of a parquet dataset: scan the
    directory with the ENGINE's own reader (record assembly from
    rep/def levels — zero shared code with the JVM reader) AND with
    Spark's JVM reader, and require identical row counts and full-row
    xxhash digests. Exit 1 on any divergence. This is the operational
    form of the test suite's five-writer assembly pins: any corruption,
    writer bug, or reader disagreement on files in the directory shows
    up as a digest mismatch between two unrelated decoders.

    ``--where`` conjuncts exercise BOTH filter implementations — the
    engine's pushdown (stats-pruned row groups + bloom + Arrow residual)
    vs Catalyst's parquet filter pushdown — and the output reports how
    many row groups the engine plan pruned."""
    spark = _spark(args)
    from pyspark.sql import functions as F

    from .sources.record_assembly import predicate_column, \
        read_parquet_dataset

    def digest(df):
        h = F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
        row = df.agg(F.sum(h).alias("h"),
                     F.count("*").alias("n")).collect()[0]
        return row.h, row.n

    pred = _parse_where(args.where) if args.where else None
    plan: dict = {}
    eng = read_parquet_dataset(spark, args.dir, predicate=pred,
                               plan_out=plan if pred else None)
    from .sources import snapshots as snapmod
    if snapmod.list_versions(args.dir):
        # like-for-like: the engine scan plans from the snapshot (and
        # applies its equality deletes) — the JVM side must read the
        # same version's files with the same deletes, not a raw
        # directory listing that would also sweep up uncommitted or
        # pre-compaction files. Renamed datasets raise loudly here (the
        # JVM reader cannot union mixed stored names).
        jvm = snapmod.read_snapshot(spark, args.dir)
    else:
        jvm = spark.read.parquet(args.dir)
    if pred:
        # dotted paths = struct access, like the engine side
        jvm = jvm.filter(predicate_column(pred))
    eng_h, eng_n = digest(eng)
    jvm_h, jvm_n = digest(jvm)
    ok = (eng_h, eng_n) == (jvm_h, jvm_n)
    out = {"rows_engine": eng_n, "rows_jvm": jvm_n,
           "digest_match": bool(ok)}
    if pred:
        out["predicate"] = [list(p) for p in pred]
        out["rg_kept"] = plan.get("rg_kept")
        out["rg_total"] = plan.get("rg_total")
    print(json.dumps(out))
    _stop(spark)
    if not ok:
        sys.exit(1)


def cmd_scan(args) -> None:
    """Selective extraction: engine-pushdown read of a parquet dataset
    (stats-pruned row groups, bloom/dictionary split skips, exact Arrow
    residual) re-emitted as engine parquet by the executors — the
    'extract a filtered slice of a 100-TB table' job, engine-native in
    BOTH directions. Prints the pruning audit and output manifest
    summary."""
    spark = _spark(args)
    from .sources.parquet_sink import emit_parquet_dataset
    from .sources.record_assembly import read_parquet_dataset

    pred = _parse_where(args.where) if args.where else None
    cols = args.columns.split(",") if args.columns else None
    part_by = args.partition_by.split(",") if args.partition_by else None
    plan: dict = {}
    df = read_parquet_dataset(spark, args.dir, columns=cols,
                              predicate=pred,
                              plan_out=plan if pred else None)
    if part_by:
        # co-locate each partition value's rows so the layout gets one
        # file per (value, task) instead of values x tasks fan-out
        df = df.repartition(*part_by)
    manifest = emit_parquet_dataset(df, args.out,
                                    partition_by=part_by).collect()
    rows = sum(r.n_rows for r in manifest)
    out = {"files": len(manifest), "rows": int(rows), "out": args.out}
    if pred:
        out["predicate"] = [list(p) for p in pred]
        out["rg_kept"] = plan.get("rg_kept")
        out["rg_total"] = plan.get("rg_total")
        out["files_partition_pruned"] = plan.get("files_partition_pruned")
    if args.snapshot:
        from .sources import snapshots as snapmod
        out["snapshot_version"] = snapmod.commit_snapshot(
            args.out, manifest)["version"]
    print(json.dumps(out))
    _stop(spark)


def cmd_compact(args) -> None:
    """Small-file compaction of an engine parquet dataset: read the
    current snapshot's listing (or the directory when no log exists),
    rewrite the rows as ~target-size files via the distributed sink,
    and commit the result as a snapshot OVERWRITE — readers flip to the
    compacted layout atomically while time travel to the pre-compaction
    version keeps working until ``--vacuum`` expires it. Partitioning
    is deterministic (range on the first column + sort within) so a
    retried task rewrites identical bytes under the identical
    content-hash name."""
    spark = _spark(args)
    from .sources import snapshots as snapmod
    from .sources.parquet_sink import emit_parquet_dataset

    has_log = bool(snapmod.list_versions(args.dir))
    if has_log:
        cur = snapmod.load_snapshot(args.dir)
        if cur.get("renames"):
            # mixed stored names: only the engine scan unions them; the
            # rewrite then stores CURRENT names and the overwrite
            # snapshot drops the rename map (like it consumes deletes)
            from .sources.record_assembly import read_parquet_dataset
            df = read_parquet_dataset(spark, args.dir)
        else:
            df = snapmod.read_snapshot(spark, args.dir)
        total_bytes = cur["total_bytes"]
    else:
        df = spark.read.parquet(args.dir)
        total_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(args.dir) for f in fs
            if f.endswith(".parquet") and not f.startswith("."))
    n_files = args.files or \
        max(1, round(total_bytes / (args.target_mb * (1 << 20))))
    # --sort-by: rewrite range-clustered on these columns (Iceberg's
    # rewrite-with-sort-order) so per-file stats bounds get TIGHT and
    # the scan's snapshot/footer pruning layers actually prune; default
    # is the first column (stable deterministic order for idempotency)
    sort_cols = args.sort_by.split(",") if args.sort_by \
        else [df.columns[0]]
    part_by = args.partition_by.split(",") if args.partition_by else None
    if part_by:
        # preserve (or introduce) the partitioned layout: co-locate each
        # partition value, keep row order deterministic for content-hash
        # idempotency
        out = (df.repartition(n_files, *part_by)
                 .sortWithinPartitions(*part_by, *sort_cols))
    else:
        out = (df.repartitionByRange(n_files, *sort_cols)
                 .sortWithinPartitions(*sort_cols))
    man = emit_parquet_dataset(out, args.dir,
                               name_prefix="compact-",
                               partition_by=part_by).collect()
    # parent pins the snapshot this rewrite was planned FROM: a commit
    # racing in between (append, kill list) fails the compaction loudly
    # via the optimistic-concurrency check instead of being silently
    # dropped from the overwrite listing (appends vanishing, freshly
    # committed deletes resurrected)
    doc = snapmod.commit_snapshot(
        args.dir, man, operation="overwrite",
        parent=cur["version"] if has_log else None)
    res = {"snapshot_version": doc["version"],
           "files": doc["total_files"], "rows": doc["total_rows"],
           "bytes": doc["total_bytes"]}
    if args.vacuum:
        res["vacuum"] = snapmod.vacuum(args.dir, keep_versions=1)
    print(json.dumps(res))
    _stop(spark)


def cmd_delete(args) -> None:
    """Equality-delete commit (Iceberg v2 merge-on-read as a kill list):
    select the keys — by scanning the dataset itself under ``--where``,
    or from an external ``--keys`` parquet (e.g. a dedup pass's loser
    list) — write them as engine key files under ``_deletes/`` and
    commit a snapshot version that excludes them from every read, with
    ZERO data-file rewrites. ``jobs compact`` later applies the kill
    list physically and drops it."""
    spark = _spark(args)
    from .sources import snapshots as snapmod
    from .sources.record_assembly import read_parquet_dataset

    pred = _parse_where(args.where) if args.where else None
    if pred is None and not args.keys:
        raise SystemExit("jobs delete needs --where or --keys")
    if args.keys:
        keys = spark.read.parquet(args.keys).select(args.column)
    else:
        keys = read_parquet_dataset(spark, args.dir,
                                    columns=[args.column],
                                    predicate=pred)
    doc = snapmod.commit_equality_deletes(args.dir, keys, args.column)
    dels = doc.get("deletes", [])
    print(json.dumps({"snapshot_version": doc["version"],
                      "delete_files": len(dels),
                      "delete_keys": sum(e["rows"] for e in dels),
                      "column": args.column}))
    _stop(spark)


def cmd_rename(args) -> None:
    """Metadata-only column rename: one snapshot commit, zero file
    rewrites (no Spark session needed). Old files keep their stored
    names; the engine scan presents every file under the current
    names."""
    from .sources import snapshots as snapmod
    doc = snapmod.rename_column(args.dir, getattr(args, "from"), args.to)
    print(json.dumps({"snapshot_version": doc["version"],
                      "renames": doc["renames"]}))


def cmd_snapshot(args) -> None:
    """Inspect a dataset's Iceberg-style snapshot log (no Spark
    session): list versions, show one listing, or diff two."""
    from .sources import snapshots as snap
    if args.show is not None:
        print(json.dumps(snap.load_snapshot(args.dir, args.show)))
    elif args.diff is not None:
        a, b = args.diff
        print(json.dumps(snap.changed_files(
            args.dir, None if a == 0 else a, b)))
    else:
        rows = []
        for v in snap.list_versions(args.dir):
            s = snap.load_snapshot(args.dir, v)
            row = {"version": v, "parent": s["parent"],
                   "operation": s["operation"],
                   "files": s["total_files"],
                   "rows": s["total_rows"],
                   "bytes": s["total_bytes"],
                   "committed_at": s["committed_at"]}
            dels = s.get("deletes", [])
            if dels:
                row["delete_files"] = len(dels)
                row["delete_keys"] = sum(e["rows"] for e in dels)
            rows.append(row)
        print(json.dumps(rows))


def main(argv=None) -> None:
    from .chunk import DEFAULT_PAGE_SIZE

    ap = argparse.ArgumentParser(prog="parquet_cpp_spark.jobs")
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode")
    enc.add_argument("--input", required=True)
    enc.add_argument("--out", required=True)
    enc.add_argument("--parts", type=int, default=None)
    enc.add_argument("--codec", action="append",
                     help="col=CODEC override, repeatable")
    enc.add_argument("--compression", default="UNCOMPRESSED",
                     help="block codec over assembled chunk sections")
    enc.add_argument("--no-dictionary", action="store_true",
                     help="disable dictionary encoding (reference "
                          "enable_dictionary(false))")
    enc.add_argument("--pagesize", type=int, default=DEFAULT_PAGE_SIZE,
                     help="page flush threshold in bytes (reference "
                          "DEFAULT_PAGE_SIZE = 1 MiB)")
    enc.add_argument("--format-version", default="V1", choices=["V1", "V2"],
                     help="data page layout (V2: levels outside the "
                          "compressed block)")
    enc.add_argument("--resume", action="store_true",
                     help="checkpointed mode with manifest resume")
    enc.add_argument("--shuffle", action="store_true",
                     help="explicit repartition pipeline instead of "
                          "scan-local")
    enc.set_defaults(fn=cmd_encode)

    dec = sub.add_parser("decode")
    dec.add_argument("--chunks", required=True)
    dec.add_argument("--out", required=True)
    dec.add_argument("--verify-checksums", action="store_true",
                     help="re-hash every blob against its chunk-row sha256 "
                          "before decoding (turns payload bit flips into "
                          "loud errors)")
    dec.set_defaults(fn=cmd_decode)

    vpq = sub.add_parser("verify-parquet")
    vpq.add_argument("--dir", required=True,
                     help="parquet dataset directory to cross-verify "
                          "(engine record-assembly read vs JVM read)")
    vpq.add_argument("--where", action="append", default=[],
                     help="predicate conjunct 'col OP value' (repeatable);"
                          " pushed into the engine scan (stats/bloom"
                          " pruning) and applied to the JVM read")
    vpq.set_defaults(fn=cmd_verify_parquet)

    ver = sub.add_parser("verify")
    ver.add_argument("--input", required=True)
    ver.add_argument("--chunks", required=True)
    ver.set_defaults(fn=cmd_verify)

    scn = sub.add_parser("scan")
    scn.add_argument("--dir", required=True,
                     help="parquet dataset to extract from")
    scn.add_argument("--out", required=True,
                     help="output directory (engine parquet)")
    scn.add_argument("--where", action="append", default=[],
                     help="predicate conjunct 'col OP value' (repeatable)")
    scn.add_argument("--columns", default=None,
                     help="comma-separated projection")
    scn.add_argument("--partition-by", default=None,
                     help="comma-separated columns: write the output as "
                          "an Iceberg-style col=value/ partitioned layout "
                          "(engine scans prune on it before footer I/O)")
    scn.add_argument("--snapshot", action="store_true",
                     help="commit the output manifest as a new snapshot "
                          "version of the output dataset")
    scn.set_defaults(fn=cmd_scan)

    ren = sub.add_parser("rename")
    ren.add_argument("--dir", required=True,
                     help="snapshot-logged dataset directory")
    ren.add_argument("--from", required=True,
                     help="current column name to rename")
    ren.add_argument("--to", required=True, help="new column name")
    ren.set_defaults(fn=cmd_rename)

    dele = sub.add_parser("delete")
    dele.add_argument("--dir", required=True,
                      help="snapshot-logged dataset directory")
    dele.add_argument("--column", default="doc_id",
                      help="equality-delete key column")
    dele.add_argument("--where", action="append", default=[],
                      help="predicate conjunct 'col OP value' selecting "
                           "the rows to kill (repeatable)")
    dele.add_argument("--keys", default=None,
                      help="parquet file/dir of pre-computed keys "
                           "(e.g. a dedup pass's loser list)")
    dele.set_defaults(fn=cmd_delete)

    cmp = sub.add_parser("compact")
    cmp.add_argument("--dir", required=True,
                     help="dataset directory to compact in place")
    cmp.add_argument("--target-mb", type=int, default=128,
                     help="target output file size (MiB of current "
                          "encoded bytes per file)")
    cmp.add_argument("--partition-by", default=None,
                     help="comma-separated columns: keep (or introduce) "
                          "an Iceberg-style col=value/ layout in the "
                          "compacted files")
    cmp.add_argument("--sort-by", default=None,
                     help="comma-separated columns to range-cluster the "
                          "rewrite on (tightens per-file stats bounds "
                          "so snapshot/footer pruning prunes); default: "
                          "first column")
    cmp.add_argument("--files", type=int, default=None,
                     help="explicit output file count (overrides "
                          "--target-mb sizing)")
    cmp.add_argument("--vacuum", action="store_true",
                     help="after committing the compacted snapshot, "
                          "expire prior versions and delete their "
                          "now-unreferenced files")
    cmp.set_defaults(fn=cmd_compact)

    snp = sub.add_parser("snapshot")
    snp.add_argument("--dir", required=True,
                     help="dataset directory with a _snapshots/ log")
    snp.add_argument("--show", type=int, default=None,
                     help="print one snapshot document (full file list)")
    snp.add_argument("--diff", type=int, nargs=2, default=None,
                     metavar=("FROM", "TO"),
                     help="added/removed/replaced files between two "
                          "versions (FROM=0 means the empty table)")
    snp.set_defaults(fn=cmd_snapshot)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
