"""Iceberg-style snapshot log over engine-written parquet datasets.

A dataset directory gains a ``_snapshots/`` subdirectory holding one
JSON document per committed version (``v0000000001.json``, ...). The
commit point is a single atomic exclusive link of a fully-written temp
file into its version slot — readers either see a complete snapshot or
none (the Apache Iceberg spec's atomic metadata-pointer swap, reduced
to a filesystem primitive; concepts from the public Iceberg table
format spec, implementation original). Each snapshot carries the
COMPLETE file listing — path relative to the dataset root plus the
sink's manifest fields (rows, value slots, bytes, sha256, per-column
encodings tag) — its parent version, and aggregate totals, so:

- ``read_snapshot(spark, dir, version)`` plans a scan over exactly that
  version's files: a consistent cut even while a writer is appending
  (new files are invisible until their snapshot commits, and the sink's
  dot-prefixed ``.inprogress`` temps were never visible at all);
- ``changed_files(dir, a, b)`` diffs two versions for incremental
  consumers;
- planning is metadata-only: one small JSON read per version instead of
  listing millions of data files at 100 TB — the listing IS the
  snapshot, which is the property that makes Iceberg-style tables
  plannable at that scale.

Reference analog: the per-file footer metadata the reference
accumulates on write (``file_writer.cc:60-236``,
``metadata.cc`` FileMetaData), lifted one level to a versioned
dataset listing. The sink's per-file manifest rows
(``parquet_sink.MANIFEST_SCHEMA``) are the input.
"""
from __future__ import annotations

import json
import os
import time

SNAP_DIR = "_snapshots"
_FMT = "v{:010d}.json"


def _snap_dir(out_dir: str) -> str:
    return os.path.join(out_dir, SNAP_DIR)


def list_versions(out_dir: str) -> list[int]:
    d = _snap_dir(out_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def current_version(out_dir: str) -> "int | None":
    vs = list_versions(out_dir)
    return vs[-1] if vs else None


def load_snapshot(out_dir: str, version: "int | None" = None) -> dict:
    """The snapshot document for ``version`` (default: current)."""
    if version is None:
        version = current_version(out_dir)
        if version is None:
            raise FileNotFoundError(
                f"no snapshots under {out_dir!r} ({SNAP_DIR}/ is empty "
                "or absent)")
    path = os.path.join(_snap_dir(out_dir), _FMT.format(version))
    with open(path, "r", encoding="utf-8") as f:
        snap = json.load(f)
    if snap.get("version") != version:
        raise ValueError(f"snapshot file {path} claims version "
                         f"{snap.get('version')}, expected {version}")
    return snap


def _entry(out_dir: str, row) -> dict:
    """One sink manifest row (Row/tuple/dict in MANIFEST_SCHEMA order) ->
    a snapshot file entry with a root-relative path."""
    if isinstance(row, dict):
        file, n_rows, n_values = row["file"], row["n_rows"], row["n_values"]
        nbytes, sha = row["bytes"], row["checksum"]
        enc = row.get("encodings")
        stats = row.get("stats")
    else:
        file, n_rows, n_values, nbytes, sha = row[0], row[1], row[2], \
            row[3], row[4]
        enc = row[5] if len(row) > 5 else None
        stats = row[6] if len(row) > 6 else None
    rel = os.path.relpath(file, out_dir)
    if rel.startswith(".."):
        raise ValueError(f"manifest file {file!r} is outside the dataset "
                         f"root {out_dir!r}")
    entry = {"path": rel, "rows": int(n_rows), "values": int(n_values),
             "bytes": int(nbytes), "sha256": sha, "encodings": enc}
    if stats:
        # Iceberg-manifest-style column bounds: parsed into the snapshot
        # document so planners prune files from the listing alone
        entry["stats"] = json.loads(stats) if isinstance(stats, str) \
            else stats
    return entry


def commit_snapshot(out_dir: str, manifest_rows,
                    operation: str = "append",
                    parent: "int | None" = None,
                    delete_manifest_rows=None,
                    delete_column: "str | None" = None,
                    renames: "dict | None" = None) -> dict:
    """Commit the sink manifest rows of one finished write as a new
    snapshot version and return the committed document.

    ``operation='append'``: the new listing is the parent's files plus
    the new ones (a re-written path replaces its parent entry — the
    sink's resume/retry overwrite case). ``operation='overwrite'``: the
    listing is exactly ``manifest_rows`` (a compaction or full rewrite).

    EQUALITY DELETES (the Iceberg v2 merge-on-read shape, applied as a
    whole-table kill list — exactly what a dedup pass produces):
    ``delete_manifest_rows`` are sink manifest rows for key files
    written under ``{out_dir}/_deletes/`` (single ``delete_column``
    each); readers of the committed version exclude every data row
    whose ``delete_column`` value appears in any delete file — no data
    file is rewritten. ``append`` carries the parent's delete entries
    forward and adds the new ones; ``overwrite`` DROPS the parent's
    deletes (the rewrite is expected to have applied them — compaction
    consumes the kill list) and records only newly-passed ones. NOTE
    one deliberate simplification vs Iceberg sequence numbers: deletes
    here apply to ALL data files of the version, including ones
    appended after the delete committed — a kill-listed key stays dead,
    which is the dedup contract.

    The commit is atomic and lock-free: the document is fully written
    to a temp file, then ``os.link``-ed into its version slot —
    exclusive on POSIX, so two racing committers can't both claim one
    version; the loser retries against the next number with its parent
    listing re-read (optimistic concurrency, like Iceberg's
    commit-retry loop)."""
    if operation not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot operation {operation!r}")
    new = [_entry(out_dir, r) for r in manifest_rows]
    new_deletes = []
    for r in (delete_manifest_rows or []):
        if not delete_column:
            raise ValueError("delete_manifest_rows needs delete_column")
        e = _entry(out_dir, r)
        if not e["path"].startswith("_deletes" + os.sep):
            raise ValueError(f"delete file {e['path']!r} must live under "
                             f"{out_dir}/_deletes/")
        e["column"] = delete_column
        new_deletes.append(e)
    if not new and not new_deletes and renames is None \
            and operation == "append":
        raise ValueError("refusing to commit an empty append snapshot")
    sd = _snap_dir(out_dir)
    os.makedirs(sd, exist_ok=True)

    for _attempt in range(100):
        cur = current_version(out_dir)
        if parent is not None and cur is not None and cur != parent:
            raise RuntimeError(
                f"snapshot conflict: expected parent {parent}, current "
                f"is {cur} (another writer committed); re-read and retry")
        version = (cur or 0) + 1
        prev = load_snapshot(out_dir, cur) if cur is not None else None
        if operation == "append" and prev is not None:
            base = {e["path"]: e for e in prev["files"]}
            for e in new:
                base[e["path"]] = e
            files = [base[p] for p in sorted(base)]
            dbase = {e["path"]: e for e in prev.get("deletes", [])}
            for e in new_deletes:
                dbase[e["path"]] = e
            deletes = [dbase[p] for p in sorted(dbase)]
        else:
            files = sorted(new, key=lambda e: e["path"])
            deletes = sorted(new_deletes, key=lambda e: e["path"])
        ren = dict(prev.get("renames", {})) if prev is not None \
            and operation == "append" else {}
        if renames is not None:
            ren = dict(renames)
        if prev is not None and files == prev["files"] \
                and deletes == prev.get("deletes", []) \
                and ren == prev.get("renames", {}):
            # idempotent replay (a retried micro-batch re-emitting the
            # same bytes under the same content-hash names): the table
            # state is unchanged — return the current snapshot instead
            # of minting a new identical version
            return prev
        doc = {
            "version": version,
            "parent": cur,
            "operation": operation,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                          time.gmtime()),
            "total_files": len(files),
            "total_rows": sum(e["rows"] for e in files),
            "total_values": sum(e["values"] for e in files),
            "total_bytes": sum(e["bytes"] for e in files),
            "files": files,
        }
        if deletes:
            doc["deletes"] = deletes
        if ren:
            doc["renames"] = ren
        tmp = os.path.join(sd, f".commit-{os.getpid()}-{version}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(sd, _FMT.format(version))
        try:
            os.link(tmp, final)      # atomic-exclusive claim
            return doc
        except FileExistsError:
            continue                 # lost the race: recompute and retry
        finally:
            os.unlink(tmp)
    raise RuntimeError("snapshot commit contention: 100 straight "
                       "version-claim losses")


def read_snapshot(spark, out_dir: str, version: "int | None" = None,
                  apply_deletes: bool = True):
    """Plan a Spark scan over EXACTLY one snapshot's files — no
    directory listing, so files committed by later snapshots (or still
    being written) are invisible: Iceberg-style read isolation. When the
    snapshot carries equality-delete entries, kill-listed keys are
    excluded via a left-anti join per delete column (Catalyst/AQE picks
    broadcast vs shuffle from the kill list's actual size);
    ``apply_deletes=False`` reads the raw data files."""
    snap = load_snapshot(out_dir, version)
    paths = [os.path.join(out_dir, e["path"]) for e in snap["files"]]
    if not paths:
        raise ValueError(f"snapshot {version} of {out_dir!r} lists no "
                         "files")
    if snap.get("renames"):
        # files store mixed pre/post-rename names; the JVM reader would
        # silently drop or misalign them — the engine scan remaps per
        # file and is the supported reader for renamed datasets
        raise ValueError(
            f"snapshot of {out_dir!r} carries column renames "
            f"({snap['renames']}); read it with "
            "record_assembly.read_parquet_dataset, which remaps stored "
            "names per file")
    df = spark.read.parquet(*paths)
    if apply_deletes:
        df = _apply_deletes(spark, _delete_groups(out_dir, snap), df)
    return df


def _delete_groups(out_dir: str, snap: dict) -> dict:
    """The snapshot's equality deletes as {key column: key-file paths},
    keyed by each column's CURRENT name (a delete's column may have been
    renamed since its commit)."""
    ren = snap.get("renames", {})
    by_col: dict = {}
    for e in snap.get("deletes", []):
        col = ren.get(e["column"], e["column"])
        by_col.setdefault(col, []).append(
            os.path.join(out_dir, e["path"]))
    return by_col


def _apply_deletes(spark, delete_groups: dict, df):
    """Left-anti join equality-delete keys out of ``df``, one join per
    column of ``delete_groups`` (``_delete_groups``; no-op when empty;
    Catalyst/AQE picks broadcast vs shuffle from the kill list's real
    size). Key files are single-column by construction; they're read
    positionally (``toDF``) so a delete committed under a pre-rename
    column name still joins after the data column was renamed."""
    for column, paths in sorted(delete_groups.items()):
        keys = spark.read.parquet(*paths).toDF(column).distinct()
        df = df.join(keys, on=column, how="left_anti")
    return df


def rename_column(out_dir: str, old: str, new: str) -> dict:
    """Rename a top-level column with ZERO file rewrites: commit a new
    snapshot version whose ``renames`` map sends every STORED name that
    currently reads as ``old`` to ``new`` (Iceberg rename semantics,
    tracked by name chains in the snapshot instead of field ids —
    metadata-only, one JSON commit at any table size). Readers planning
    from the snapshot remap each file's stored columns to their current
    names before the union, so old files keep working untouched.

    By-name tracking has one honest limitation field ids would not: a
    name that was ever renamed AWAY can never be reintroduced for a
    different column (the scan could not tell a file's stored column
    apart from the reintroduced one) — that commit is refused here, and
    the scan fails loudly if a file somehow carries both a stored name
    and its current name."""
    cur = load_snapshot(out_dir)            # raises when no log exists
    if old == new:
        raise ValueError("rename to the same name")
    ren = dict(cur.get("renames", {}))
    if new in ren:
        raise ValueError(
            f"column name {new!r} was previously renamed away "
            f"(-> {ren[new]!r}); by-name rename cannot reintroduce it")
    for k, v in list(ren.items()):
        if v == old:            # chain: stored k read as old, now as new
            ren[k] = new
    ren[old] = new
    return commit_snapshot(out_dir, [], renames=ren)


def commit_equality_deletes(out_dir: str, keys_df, column: str,
                            **emit_kw) -> dict:
    """The dedup-to-table-format bridge: write ``keys_df``'s distinct
    ``column`` values as engine parquet under ``{out_dir}/_deletes/``
    (executors write, same sink contract as data files) and commit them
    as a new snapshot version's equality-delete entries. Readers of
    that version exclude the keys with ZERO data-file rewrites — at
    100 TB a dedup pass's kill list lands as a few key files + one JSON
    commit instead of a full-table rewrite. Returns the committed
    snapshot document."""
    from .parquet_sink import emit_parquet_dataset
    if current_version(out_dir) is None:
        # without a parent listing the new version would list NO data
        # files and silently hide the directory's contents
        raise ValueError(f"{out_dir!r} has no committed snapshot; commit "
                         "the data files first, then the deletes")
    ddir = os.path.join(out_dir, "_deletes")
    man = emit_parquet_dataset(
        keys_df.select(column).distinct(), ddir,
        name_prefix="del-", **emit_kw).collect()
    return commit_snapshot(out_dir, [], delete_manifest_rows=man,
                           delete_column=column)


def vacuum(out_dir: str, keep_versions: int = 1,
           orphan_grace_seconds: float = 24 * 3600.0) -> dict:
    """Expire data files no retained snapshot references (Iceberg's
    expire-snapshots + orphan-file cleanup, folded into one op).

    Keeps the newest ``keep_versions`` snapshot documents; deletes (a)
    older snapshot documents, (b) ``*.parquet`` files an EXPIRED
    snapshot referenced but no retained one does (committed history —
    safe to reclaim immediately, time travel to them stops working by
    design), and (c) orphan ``*.parquet`` files no snapshot ever
    listed, but ONLY when older than ``orphan_grace_seconds`` (mtime):
    a writer that has finished its sink write but not yet called
    ``commit_snapshot`` looks exactly like an orphan, and deleting its
    files would make the subsequent commit mint a snapshot of missing
    files — the same race Iceberg's orphan-file cleanup guards with a
    retention threshold. Non-parquet files, dotfiles (in-flight
    ``.inprogress`` temps), and the ``_snapshots`` dir itself are never
    touched. Returns ``{"removed_files": [...], "removed_versions":
    [...], "kept_version": N}``."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    versions = list_versions(out_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {out_dir!r}")
    keep = versions[-keep_versions:]
    referenced: set = set()
    ever_referenced: set = set()
    for v in versions:
        snap = load_snapshot(out_dir, v)
        paths = {e["path"] for e in snap["files"]}
        paths.update(e["path"] for e in snap.get("deletes", []))
        ever_referenced |= paths
        if v in keep:
            referenced |= paths
    import time as _time
    orphan_cutoff = _time.time() - orphan_grace_seconds
    removed_files = []
    for root, dirs, files in os.walk(out_dir):
        dirs[:] = [d for d in dirs if d != SNAP_DIR and
                   not d.startswith(".")]
        for name in files:
            if not name.endswith(".parquet") or name.startswith("."):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, out_dir)
            if rel in referenced:
                continue
            if rel not in ever_referenced and \
                    os.path.getmtime(full) > orphan_cutoff:
                continue  # possible in-flight write: grace period
            os.unlink(full)
            removed_files.append(rel)
    # prune partition directories (col=value/) the deletions emptied —
    # deepest first so nested layouts collapse; rmdir refuses non-empty
    # dirs, which is exactly the conservative behavior wanted
    part_dirs = []
    for root, dirs, _files in os.walk(out_dir):
        dirs[:] = [d for d in dirs if d != SNAP_DIR
                   and not d.startswith(".")]
        part_dirs += [os.path.join(root, d) for d in dirs if "=" in d]
    for d in sorted(part_dirs, key=len, reverse=True):
        try:
            os.rmdir(d)
        except OSError:
            pass
    removed_versions = [v for v in versions if v not in keep]
    for v in removed_versions:
        os.unlink(os.path.join(_snap_dir(out_dir), _FMT.format(v)))
    return {"removed_files": sorted(removed_files),
            "removed_versions": removed_versions,
            "kept_version": keep[-1]}


def changed_files(out_dir: str, from_version: "int | None",
                  to_version: "int | None" = None) -> dict:
    """Diff two snapshots for incremental consumers: files added,
    removed, or replaced (same path, different sha) between
    ``from_version`` (None = empty table) and ``to_version``
    (None = current). ``deletes_added``/``deletes_removed`` surface
    equality-delete key files the interval committed or consumed — an
    incremental consumer must re-apply its copy of the kill list (or
    reprocess) when these are non-empty, since killed keys change the
    live row set without touching any data file."""
    old_doc = None if from_version is None else \
        load_snapshot(out_dir, from_version)
    new_doc = load_snapshot(out_dir, to_version)
    old = {} if old_doc is None else {e["path"]: e
                                      for e in old_doc["files"]}
    new = {e["path"]: e for e in new_doc["files"]}
    old_del = set() if old_doc is None else \
        {e["path"] for e in old_doc.get("deletes", [])}
    new_del = {e["path"] for e in new_doc.get("deletes", [])}
    return {
        "added": sorted(p for p in new if p not in old),
        "removed": sorted(p for p in old if p not in new),
        "replaced": sorted(p for p in new
                           if p in old and new[p]["sha256"]
                           != old[p]["sha256"]),
        "deletes_added": sorted(new_del - old_del),
        "deletes_removed": sorted(old_del - new_del),
    }
