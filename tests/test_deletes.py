"""Equality delete files (Iceberg v2 merge-on-read as a kill list): a
dedup pass's loser list commits as key files under ``_deletes/`` + one
snapshot version; every reader of that version excludes the keys with
zero data-file rewrites; compaction applies the kill list physically and
drops it.

Reference parity: the reference has no table format (single-file
library); semantics follow the public Iceberg v2 spec's equality deletes,
simplified to whole-version kill lists (documented in
``snapshots.commit_snapshot``).
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-deletes",
                     shuffle_partitions=4)


@pytest.fixture()
def dataset(spark, tmp_path):
    """Snapshot-logged token dataset + a doc_id kill list (every 7th)."""
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.tokens import tokens_from_documents

    src = tokens_from_documents(spark, "/root/testdata/sf0.01", 8) \
        .select("doc_id", "tokens", "n_tok", "source")
    out = str(tmp_path / "ds")
    man = emit_parquet_dataset(
        src.repartition(4, "doc_id").sortWithinPartitions("doc_id"),
        out).collect()
    snap.commit_snapshot(out, man)
    kill = src.filter("CAST(doc_id AS BIGINT) % 7 = 0").select("doc_id")
    return out, src, kill


def test_commit_and_scan_excludes_keys(spark, dataset):
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, src, kill = dataset
    doc = snap.commit_equality_deletes(out, kill, "doc_id")
    assert doc["version"] == 2 and len(doc["deletes"]) >= 1
    assert all(e["path"].startswith("_deletes" + os.sep)
               and e["column"] == "doc_id" for e in doc["deletes"])

    n_live = src.count() - kill.count()
    assert read_parquet_dataset(spark, out).count() == n_live
    assert snap.read_snapshot(spark, out).count() == n_live
    # opt-outs and time travel see the raw rows
    assert read_parquet_dataset(spark, out,
                                apply_deletes=False).count() == src.count()
    assert read_parquet_dataset(spark, out,
                                snapshot_version=1).count() == src.count()
    assert snap.read_snapshot(spark, out,
                              apply_deletes=False).count() == src.count()


def test_projection_and_predicate_compose_with_deletes(spark, dataset):
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, src, kill = dataset
    snap.commit_equality_deletes(out, kill, "doc_id")
    n_live = src.count() - kill.count()
    # projection excluding the key column: key rides the task output,
    # dropped after the anti-join
    d = read_parquet_dataset(spark, out, columns=["n_tok", "source"])
    assert d.columns == ["n_tok", "source"] and d.count() == n_live
    # predicate + deletes
    d2 = read_parquet_dataset(spark, out,
                              predicate=[("source", "==", "src7")])
    exp = src.filter(
        "source='src7' AND CAST(doc_id AS BIGINT) % 7 != 0").count()
    assert d2.count() == exp


def test_raw_glob_never_reads_delete_files_as_data(spark, dataset):
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, src, kill = dataset
    snap.commit_equality_deletes(out, kill, "doc_id")
    raw = read_parquet_dataset(spark, out, snapshot_version=0)
    assert raw.count() == src.count()
    assert sorted(raw.columns) == sorted(src.columns)


def test_incremental_deletes_accumulate(spark, dataset):
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, src, kill = dataset
    snap.commit_equality_deletes(out, kill, "doc_id")
    more = src.filter("CAST(doc_id AS BIGINT) % 5 = 0").select("doc_id")
    doc = snap.commit_equality_deletes(out, more, "doc_id")
    assert doc["version"] == 3 and len(doc["deletes"]) >= 2
    exp = src.filter("CAST(doc_id AS BIGINT) % 7 != 0 AND "
                     "CAST(doc_id AS BIGINT) % 5 != 0").count()
    assert read_parquet_dataset(spark, out).count() == exp


def test_compact_applies_and_drops_the_kill_list(spark, dataset, capsys):
    """Compaction = merge-on-read made physical: the rewrite excludes
    killed keys, the overwrite snapshot carries NO delete entries, and
    vacuum reclaims the consumed key files."""
    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, src, kill = dataset
    snap.commit_equality_deletes(out, kill, "doc_id")
    jobs.main(["compact", "--dir", out, "--target-mb", "1", "--vacuum"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_live = src.count() - kill.count()
    assert res["rows"] == n_live
    cur = snap.load_snapshot(out)
    assert "deletes" not in cur
    assert read_parquet_dataset(spark, out).count() == n_live
    # the consumed key files are gone from disk
    ddir = os.path.join(out, "_deletes")
    assert not os.path.isdir(ddir) or not any(
        f.endswith(".parquet") for f in os.listdir(ddir))


def test_jobs_delete_cli_where_and_dedup_keys(spark, dataset, tmp_path,
                                              capsys):
    """`jobs delete --where` kills by predicate; `--keys` commits an
    external loser list (the exact_dedup composition)."""
    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out, src, kill = dataset
    jobs.main(["delete", "--dir", out, "--column", "doc_id",
               "--where", "source==src3"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_src3 = src.filter("source='src3'").count()
    assert res["delete_keys"] == n_src3
    assert read_parquet_dataset(spark, out).count() == \
        src.count() - n_src3

    keys_path = str(tmp_path / "losers")
    kill.write.parquet(keys_path)
    jobs.main(["delete", "--dir", out, "--column", "doc_id",
               "--keys", keys_path])
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["snapshot_version"] == res["snapshot_version"] + 1
    exp = src.filter("source != 'src3' AND "
                     "CAST(doc_id AS BIGINT) % 7 != 0").count()
    assert read_parquet_dataset(spark, out).count() == exp


def test_exact_dedup_losers_feed_the_kill_list(spark, tmp_path):
    """The literal pipeline: token-content dedup losers -> equality
    deletes -> the scan serves exactly one copy per content group, no
    data file rewritten."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    # 90 docs over 30 distinct token streams -> 60 losers
    df = spark.range(0, 90).selectExpr(
        "cast(id as string) doc_id",
        "array(cast(id % 30 as int), cast((id % 30) * 2 as int)) tokens",
        "cast(2 as int) n_tok", "cast('web' as string) source")
    out = str(tmp_path / "ds")
    man = emit_parquet_dataset(
        df.repartition(3, "doc_id").sortWithinPartitions("doc_id"),
        out).collect()
    snap.commit_snapshot(out, man)

    content = F.md5(F.array_join(
        F.transform("tokens", lambda x: x.cast("string")), " "))
    keepers = (df.groupBy(content.alias("h"))
               .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    losers = df.select("doc_id").exceptAll(keepers)
    doc = snap.commit_equality_deletes(out, losers, "doc_id")
    assert sum(e["rows"] for e in doc["deletes"]) == 60

    live = read_parquet_dataset(spark, out)
    assert live.count() == 30
    assert live.select(content.alias("h")).distinct().count() == 30


def test_changed_files_surfaces_delete_diffs(spark, dataset, capsys):
    """Incremental consumers see kill-list changes between versions,
    and the CLI listing reports delete file/key counts."""
    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources import snapshots as snap

    out, src, kill = dataset
    snap.commit_equality_deletes(out, kill, "doc_id")
    diff = snap.changed_files(out, 1, 2)
    assert len(diff["deletes_added"]) >= 1 and not diff["added"]
    assert all(p.startswith("_deletes") for p in diff["deletes_added"])

    jobs.main(["snapshot", "--dir", out])
    listing = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    v2 = [r for r in listing if r["version"] == 2][0]
    assert v2["delete_keys"] == kill.count()
    assert "delete_keys" not in [r for r in listing
                                 if r["version"] == 1][0]


def test_verify_parquet_like_for_like_under_deletes(spark, dataset,
                                                    capsys):
    """jobs verify-parquet on a snapshot-logged dataset with a kill list
    compares the engine scan against the SNAPSHOT's delete-aware JVM
    read (not the raw directory) — digests match."""
    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources import snapshots as snap

    out, src, kill = dataset
    snap.commit_equality_deletes(out, kill, "doc_id")
    jobs.main(["verify-parquet", "--dir", out])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["digest_match"] is True
    assert res["rows_engine"] == src.count() - kill.count()


def test_point_lookup_respects_snapshot_and_kill_list(spark, dataset):
    """point_lookup_parquet on a snapshot-logged dataset: a killed key
    resolves to NO rows (membership decided on the tiny key files before
    any data file is touched); a live key still resolves."""
    from parquet_cpp_spark.plans.lookup import point_lookup_parquet
    from parquet_cpp_spark.sources import snapshots as snap

    out, src, kill = dataset
    snap.commit_equality_deletes(out, kill, "doc_id")
    dead = kill.first().doc_id
    live = src.filter("CAST(doc_id AS BIGINT) % 7 != 0") \
        .select("doc_id").first().doc_id
    assert point_lookup_parquet(spark, out, "doc_id", dead) \
        .filter("row_index >= 0").count() == 0
    assert point_lookup_parquet(spark, out, "doc_id", live) \
        .filter("row_index >= 0").count() == 1


def test_guards(spark, dataset, tmp_path):
    from parquet_cpp_spark.sources import snapshots as snap

    out, src, kill = dataset
    # no snapshot yet -> loud error instead of hiding the data
    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    with pytest.raises(ValueError, match="no committed snapshot"):
        snap.commit_equality_deletes(bare, kill, "doc_id")
    # delete rows without a column -> loud error
    with pytest.raises(ValueError, match="delete_column"):
        snap.commit_snapshot(out, [], delete_manifest_rows=[
            ("x", 1, 1, 1, "sha", "tag", None)])
