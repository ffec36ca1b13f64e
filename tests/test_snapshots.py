"""Iceberg-style snapshot log over sink-written datasets: atomic
versioned commits, read isolation (a scan of snapshot N never sees
files committed after N), append/overwrite listings, incremental diffs,
and the optimistic commit-retry loop."""
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_cpp_spark.sources import snapshots as snap  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-snapshots",
                     shuffle_partitions=4)


def _write_file(out_dir: str, name: str, lo: int, hi: int) -> tuple:
    """One engine-written parquet file of ids [lo, hi) -> manifest row."""
    import pyarrow as pa

    from parquet_cpp_spark.sources import parquet_sink as sink
    tbl = pa.table({"id": pa.array(range(lo, hi), pa.int64())})
    dest = os.path.join(out_dir, name)
    return sink._write_one_file(tbl, dest + ".inprogress", dest,
                                None, None, None, 1)


def test_read_snapshot_routes_plain_datasets_to_jvm_reader(spark, tmp_path):
    """``read_snapshot`` reads a committed dataset without renames with
    Spark's JVM parquet reader over exactly the snapshot's files: the plan
    is a ``FileScan parquet`` with no Python ``MapInArrow``. A renamed
    dataset, whose files mix stored names, still refuses the JVM reader
    and names the engine scan."""
    out = str(tmp_path / "ds")
    os.makedirs(out)
    snap.commit_snapshot(out, [_write_file(out, "a.parquet", 0, 40),
                               _write_file(out, "b.parquet", 40, 50)])
    df = snap.read_snapshot(spark, out)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan and "MapInArrow" not in plan, plan
    assert sorted(os.path.basename(f) for f in df.inputFiles()) == \
        ["a.parquet", "b.parquet"]
    snap.rename_column(out, "id", "key")
    with pytest.raises(ValueError, match="read it with "
                       "record_assembly.read_parquet_dataset"):
        snap.read_snapshot(spark, out)


def test_commit_read_isolation_and_diff(spark, tmp_path):
    out = str(tmp_path / "ds")
    os.makedirs(out)
    r1 = _write_file(out, "a.parquet", 0, 100)
    doc1 = snap.commit_snapshot(out, [r1])
    assert (doc1["version"], doc1["parent"]) == (1, None)
    assert doc1["total_rows"] == 100 and doc1["total_files"] == 1

    # a later, uncommitted file is INVISIBLE to snapshot 1 but a naive
    # directory scan sees it — that's the isolation property
    r2 = _write_file(out, "b.parquet", 100, 150)
    assert snap.read_snapshot(spark, out, 1).count() == 100
    assert spark.read.parquet(out).count() == 150

    doc2 = snap.commit_snapshot(out, [r2])
    assert (doc2["version"], doc2["parent"]) == (2, 1)
    assert doc2["total_rows"] == 150 and doc2["total_files"] == 2
    assert snap.current_version(out) == 2
    got = snap.read_snapshot(spark, out).orderBy("id").collect()
    assert [r.id for r in got] == list(range(150))
    # time travel back to v1 still works after v2 exists
    assert snap.read_snapshot(spark, out, 1).count() == 100

    d = snap.changed_files(out, 1, 2)
    assert d == {"added": ["b.parquet"], "removed": [], "replaced": [],
                 "deletes_added": [], "deletes_removed": []}
    d0 = snap.changed_files(out, None, 1)
    assert d0["added"] == ["a.parquet"]


def test_append_replaces_rewritten_path(tmp_path):
    out = str(tmp_path / "ds")
    os.makedirs(out)
    snap.commit_snapshot(out, [_write_file(out, "a.parquet", 0, 10)])
    # the sink's retry/resume overwrite: same destination, new content
    r = _write_file(out, "a.parquet", 0, 20)
    doc = snap.commit_snapshot(out, [r])
    assert doc["total_files"] == 1 and doc["total_rows"] == 20
    assert snap.changed_files(out, 1, 2) == {
        "added": [], "removed": [], "replaced": ["a.parquet"],
        "deletes_added": [], "deletes_removed": []}


def test_replay_recommit_is_a_noop(tmp_path):
    """A retried micro-batch re-emits identical bytes under identical
    content-hash names; re-committing the same rows must return the
    CURRENT snapshot instead of minting an identical new version."""
    out = str(tmp_path / "ds")
    os.makedirs(out)
    r = _write_file(out, "a.parquet", 0, 25)
    d1 = snap.commit_snapshot(out, [r])
    d2 = snap.commit_snapshot(out, [r])      # replay
    assert d2["version"] == d1["version"] == 1
    assert snap.list_versions(out) == [1]
    # and an overwrite with the identical listing is also a no-op
    d3 = snap.commit_snapshot(out, [r], operation="overwrite")
    assert d3["version"] == 1


def test_overwrite_drops_parent_listing(tmp_path):
    out = str(tmp_path / "ds")
    os.makedirs(out)
    snap.commit_snapshot(out, [_write_file(out, "a.parquet", 0, 10)])
    r = _write_file(out, "compacted.parquet", 0, 10)
    doc = snap.commit_snapshot(out, [r], operation="overwrite")
    assert [e["path"] for e in doc["files"]] == ["compacted.parquet"]
    assert snap.changed_files(out, 1, 2)["removed"] == ["a.parquet"]


def test_commit_race_retries_to_next_version(tmp_path):
    out = str(tmp_path / "ds")
    os.makedirs(out)
    snap.commit_snapshot(out, [_write_file(out, "a.parquet", 0, 10)])
    # another committer claims v2 between our read and our link
    sd = os.path.join(out, snap.SNAP_DIR)
    rogue = os.path.join(sd, snap._FMT.format(2))
    with open(rogue, "w") as f:
        json.dump({"version": 2, "parent": 1, "operation": "overwrite",
                   "files": [], "total_files": 0, "total_rows": 0,
                   "total_values": 0, "total_bytes": 0}, f)
    doc = snap.commit_snapshot(
        out, [_write_file(out, "b.parquet", 0, 5)], operation="overwrite")
    assert doc["version"] == 3
    assert not [n for n in os.listdir(sd) if n.startswith(".commit")]


def test_parent_conflict_raises(tmp_path):
    out = str(tmp_path / "ds")
    os.makedirs(out)
    snap.commit_snapshot(out, [_write_file(out, "a.parquet", 0, 10)])
    snap.commit_snapshot(out, [_write_file(out, "b.parquet", 0, 10)])
    with pytest.raises(RuntimeError, match="conflict"):
        snap.commit_snapshot(out, [_write_file(out, "c.parquet", 0, 1)],
                             parent=1)


def test_guards(tmp_path):
    out = str(tmp_path / "ds")
    os.makedirs(out)
    with pytest.raises(ValueError, match="empty append"):
        snap.commit_snapshot(out, [])
    with pytest.raises(ValueError, match="outside"):
        snap.commit_snapshot(
            out, [("/elsewhere/x.parquet", 1, 1, 1, "00", None)])
    with pytest.raises(FileNotFoundError):
        snap.load_snapshot(out)
    with pytest.raises(ValueError, match="operation"):
        snap.commit_snapshot(out, [], operation="merge")


def test_relative_paths_survive_dataset_move(spark, tmp_path):
    out = str(tmp_path / "ds")
    os.makedirs(out)
    snap.commit_snapshot(out, [_write_file(out, "a.parquet", 0, 30)])
    moved = str(tmp_path / "ds_moved")
    os.rename(out, moved)
    assert snap.read_snapshot(spark, moved).count() == 30


def test_jobs_scan_snapshot_and_cli_inspection(spark, tmp_path, capsys):
    """`jobs scan --snapshot` commits the extracted dataset's manifest
    as v1; `jobs snapshot --dir` lists it; `--diff 0 1` shows the
    initial add set."""
    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    srcdir = tmp_path / "srcds"
    srcdir.mkdir()
    synthesize_tokens_parquet(str(srcdir / "tok.parquet"),
                              600, 37, row_group_size=300)
    out = str(tmp_path / "extract")
    jobs.main(["scan", "--dir", str(srcdir), "--out", out,
               "--where", "n_tok>=20", "--snapshot"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["snapshot_version"] == 1 and res["files"] >= 1

    jobs.main(["snapshot", "--dir", out])
    listing = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert listing[0]["version"] == 1
    assert listing[0]["rows"] == res["rows"]

    jobs.main(["snapshot", "--dir", out, "--diff", "0", "1"])
    diff = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(diff["added"]) == res["files"]
    assert snap.read_snapshot(spark, out).count() == res["rows"]


def test_engine_scan_is_snapshot_aware(spark, tmp_path):
    """Once a dataset carries a _snapshots/ log, the ENGINE scan
    (record_assembly.read_parquet_dataset) plans from the committed
    listing automatically: an uncommitted decoy file is invisible,
    snapshot_version=N time-travels, and snapshot_version=0 forces the
    raw directory glob (which does see the decoy)."""
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out = str(tmp_path / "ds")
    os.makedirs(out)
    snap.commit_snapshot(out, [_write_file(out, "a.parquet", 0, 40)])
    snap.commit_snapshot(out, [_write_file(out, "b.parquet", 40, 60)])
    _write_file(out, "decoy.parquet", 1000, 1010)   # never committed

    assert read_parquet_dataset(spark, out).count() == 60
    assert read_parquet_dataset(spark, out,
                                snapshot_version=1).count() == 40
    assert read_parquet_dataset(spark, out,
                                snapshot_version=0).count() == 70


def test_compact_overwrite_and_vacuum(spark, tmp_path, capsys):
    """`jobs compact` rewrites a many-small-files dataset as ~target-size
    files and commits a snapshot OVERWRITE: the table contents are
    unchanged, time travel to the pre-compaction version still works,
    and `vacuum` then expires old versions and deletes exactly the
    now-unreferenced data files (a directory scan agrees with the
    snapshot again afterwards)."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources.parquet_sink import write_parquet_dataset
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    src = synthesize_tokens_parquet(str(tmp_path / "tok.parquet"),
                                    1200, 41, row_group_size=200)
    out = str(tmp_path / "ds")
    man = write_parquet_dataset(spark, src, out).collect()
    assert len(man) == 6            # six small files
    snap.commit_snapshot(out, man)

    def _sig(df):
        return df.agg(
            F.sum(F.xxhash64("doc_id", "tokens", "n_tok", "source")
                  .cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n")).collect()[0]

    before = _sig(snap.read_snapshot(spark, out))
    jobs.main(["compact", "--dir", out, "--target-mb", "128"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["snapshot_version"] == 2
    assert res["files"] < 6 and res["rows"] == 1200
    after = _sig(snap.read_snapshot(spark, out))
    assert (before.s, before.n) == (after.s, after.n)
    # pre-compaction version still readable (old files not deleted yet)
    assert snap.read_snapshot(spark, out, 1).count() == 1200
    # the directory now holds BOTH layouts — only the snapshot is truth
    n_parquet = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_parquet == 6 + res["files"]

    vac = snap.vacuum(out, keep_versions=1)
    assert len(vac["removed_files"]) == 6
    assert vac["removed_versions"] == [1]
    # snapshot read unchanged; a plain directory scan agrees again
    assert _sig(snap.read_snapshot(spark, out)) == (after.s, after.n)
    assert _sig(spark.read.parquet(out)) == (after.s, after.n)
    # the log itself survives vacuum
    assert snap.current_version(out) == 2
    with pytest.raises(FileNotFoundError):
        snap.load_snapshot(out, 1)


def test_sink_manifest_rows_commit_end_to_end(spark, tmp_path):
    """The real pipeline: write_parquet_dataset manifest rows feed
    commit_snapshot directly; read_snapshot equals the directory scan
    while nothing newer is in flight."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources.parquet_sink import write_parquet_dataset
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    src = synthesize_tokens_parquet(str(tmp_path / "tok.parquet"),
                                    800, 31, row_group_size=400)
    out = str(tmp_path / "ds")
    man = write_parquet_dataset(spark, src, out).collect()
    doc = snap.commit_snapshot(out, man)
    assert doc["total_files"] == len(man) == 2
    assert doc["total_rows"] == 800
    a = snap.read_snapshot(spark, out).orderBy("doc_id").collect()
    b = spark.read.parquet(out).orderBy("doc_id").collect()
    assert a == b
    # snapshot bytes/sha match the files on disk
    for e in doc["files"]:
        assert os.path.getsize(os.path.join(out, e["path"])) == e["bytes"]
        assert pq.ParquetFile(os.path.join(out, e["path"])).metadata \
                 .num_rows == e["rows"]
