"""Column rename evolution via the snapshot log: one metadata commit,
zero file rewrites — old files keep their stored names, the engine scan
presents every file under the current names (Iceberg rename semantics
tracked by name chains; the by-name limitation — no reintroducing a
renamed-away name — is enforced loudly).
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-rename",
                     shuffle_partitions=4)


@pytest.fixture()
def dataset(spark, tmp_path):
    """40 rows committed with column ``src``; then renamed to
    ``source``; then 20 more rows written under the NEW name."""
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset

    out = str(tmp_path / "ds")
    v1 = spark.range(0, 40).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "cast(1 as int) n_tok", "cast('web' as string) src")
    snap.commit_snapshot(
        out, emit_parquet_dataset(v1.coalesce(2), out,
                                  name_prefix="v1-").collect())
    snap.rename_column(out, "src", "source")
    v2 = spark.range(40, 60).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "cast(2 as int) n_tok", "cast('api' as string) source")
    snap.commit_snapshot(
        out, emit_parquet_dataset(v2.coalesce(1), out,
                                  name_prefix="v2-").collect())
    return out


def test_scan_presents_current_names(spark, dataset):
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    df = read_parquet_dataset(spark, dataset)
    assert df.columns == ["doc_id", "tokens", "n_tok", "source"]
    assert df.count() == 60
    got = dict(df.groupBy("source").count().collect())
    assert got == {"web": 40, "api": 20}


def test_predicate_and_projection_on_renamed_column(spark, dataset):
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    d = read_parquet_dataset(spark, dataset,
                             predicate=[("source", "==", "web")])
    assert d.count() == 40
    d2 = read_parquet_dataset(spark, dataset, columns=["doc_id", "source"])
    assert d2.columns == ["doc_id", "source"] and d2.count() == 60


def test_rename_chain_and_deletes_survive(spark, dataset):
    """source -> origin after a kill list committed under 'doc_id':
    the chain resolves and deletes still apply."""
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    kill = spark.createDataFrame([(str(i),) for i in range(5)],
                                 "doc_id string")
    snap.commit_equality_deletes(dataset, kill, "doc_id")
    doc = snap.rename_column(dataset, "source", "origin")
    assert doc["renames"] == {"src": "origin", "source": "origin"}
    df = read_parquet_dataset(spark, dataset)
    assert "origin" in df.columns and df.count() == 55
    assert df.filter("origin = 'web'").count() == 35


def test_reintroduction_refused_and_jvm_guard(spark, dataset):
    from parquet_cpp_spark.sources import snapshots as snap

    with pytest.raises(ValueError, match="renamed away"):
        snap.rename_column(dataset, "n_tok", "src")
    with pytest.raises(ValueError, match="renames"):
        snap.read_snapshot(spark, dataset)


def test_ambiguous_file_fails_loudly(spark, dataset):
    """A file carrying BOTH the stored and current name cannot be
    disambiguated by name — plan-time error naming the file."""
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    bad = spark.range(60, 70).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "cast(3 as int) n_tok", "cast('x' as string) src",
        "cast('y' as string) source")
    snap.commit_snapshot(
        dataset, emit_parquet_dataset(bad.coalesce(1), dataset,
                                      name_prefix="bad-").collect())
    with pytest.raises(Exception, match="both stored column"):
        read_parquet_dataset(spark, dataset).count()


def test_compact_materializes_current_names(spark, dataset, capsys):
    """Compaction of a renamed dataset rewrites under current names and
    the overwrite snapshot drops the rename map (consumed, like
    deletes); read_snapshot works again afterwards."""
    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources import snapshots as snap

    jobs.main(["compact", "--dir", dataset, "--target-mb", "1",
               "--vacuum"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 60
    cur = snap.load_snapshot(dataset)
    assert "renames" not in cur
    df = snap.read_snapshot(spark, dataset)
    assert "source" in df.columns and df.count() == 60


def test_all_pruned_on_renamed_dataset_returns_empty(spark, dataset):
    """A predicate that prunes every file of a RENAMED dataset at plan
    time still returns an empty frame with the current-name schema
    (the schema probe presents stored names under the rename map)."""
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    plan = {}
    d = read_parquet_dataset(spark, dataset,
                             predicate=[("doc_id", ">", "zzzz")],
                             plan_out=plan)
    assert d.count() == 0 and "source" in d.columns
    assert plan["plan_mode"] == "plan_pruned"
    d2 = read_parquet_dataset(spark, dataset, columns=["doc_id", "source"],
                              predicate=[("doc_id", ">", "zzzz")])
    assert d2.columns == ["doc_id", "source"] and d2.count() == 0


def test_jobs_rename_cli(spark, dataset, capsys):
    from parquet_cpp_spark import jobs
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    jobs.main(["rename", "--dir", dataset, "--from", "n_tok",
               "--to", "token_count"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["renames"]["n_tok"] == "token_count"
    df = read_parquet_dataset(spark, dataset)
    assert "token_count" in df.columns
    assert df.filter("token_count = 2").count() == 20


def test_point_lookup_after_rename_and_append(spark, dataset):
    """Files appended AFTER the rename store the CURRENT name while older
    files store the chain member: the lookup resolves the stored name PER
    FILE (r7 resolved one stored name globally and raised ValueError on
    every post-rename file)."""
    from parquet_cpp_spark.plans.lookup import point_lookup_parquet

    # 'api' rows live only in the v2 file (stored CURRENT name: source);
    # v1 files (stored name: src) yield their no-hit marker rows instead
    # of failing the whole job
    hits = point_lookup_parquet(spark, dataset, "source", "api").collect()
    found = [r for r in hits if r.row_index >= 0]
    assert found and all("v2-" in os.path.basename(r.file) for r in found)
    # 'web' rows live only in v1 files (stored name: src)
    hits = point_lookup_parquet(spark, dataset, "source", "web").collect()
    found = [r for r in hits if r.row_index >= 0]
    assert found and all("v1-" in os.path.basename(r.file) for r in found)


def test_point_lookup_kill_list_committed_after_rename(spark, dataset):
    """A kill list committed AFTER a rename carries the CURRENT column
    name; the lookup must compare in the current-name namespace (r7
    compared a current name against a stored name and silently skipped
    the kill list, returning kill-listed rows)."""
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.plans.lookup import point_lookup_parquet

    kill = spark.createDataFrame([("api",)], "source string")
    snap.commit_equality_deletes(dataset, kill, "source")
    assert point_lookup_parquet(spark, dataset, "source", "api") \
        .count() == 0
    # non-killed keys still resolve
    assert point_lookup_parquet(spark, dataset, "source", "web") \
        .count() > 0


def test_vacuum_orphan_grace(spark, dataset, tmp_path):
    """An unreferenced final .parquet younger than the orphan grace
    window survives vacuum (it may be a finished sink write whose
    commit_snapshot hasn't landed yet); grace 0 reclaims it."""
    from parquet_cpp_spark.sources import snapshots as snap

    orphan = os.path.join(dataset, "inflight-0000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1stub")
    res = snap.vacuum(dataset, keep_versions=1)
    assert "inflight-0000.parquet" not in res["removed_files"]
    assert os.path.exists(orphan)
    res = snap.vacuum(dataset, keep_versions=1, orphan_grace_seconds=0)
    assert "inflight-0000.parquet" in res["removed_files"]
    assert not os.path.exists(orphan)


def test_delimiter_column_names_in_evolved_and_renamed_scans(spark,
                                                              tmp_path):
    """Column names holding ',' or ':' scan like any other name on an
    evolved dataset (a later file adds one) and after a rename to such
    a name — equal to the JVM reader's mergeSchema read of the files."""
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    out = str(tmp_path / "ds")
    v1 = spark.range(0, 10).selectExpr("cast(id as string) doc_id",
                                       "cast(id as int) `a:b`")
    v2 = spark.range(10, 20).selectExpr("cast(id as string) doc_id",
                                        "cast(id as int) `a:b`",
                                        "cast(id % 3 as string) `x,y`")
    rows = []
    for i, df in enumerate((v1, v2)):
        rows += emit_parquet_dataset(df.coalesce(1), out,
                                     name_prefix=f"v{i}-").collect()
    jvm = spark.read.option("mergeSchema", "true").parquet(out)

    def same(eng, exp):
        exp = exp.select(eng.columns)
        assert sorted(map(tuple, eng.collect())) == \
            sorted(map(tuple, exp.collect()))

    eng = read_parquet_dataset(spark, out)
    assert sorted(eng.columns) == ["a:b", "doc_id", "x,y"]
    same(eng, jvm)
    same(read_parquet_dataset(spark, out, columns=["doc_id"],
                              predicate=[("x,y", "is_null", None)]),
         jvm.filter("`x,y` is null").select("doc_id"))
    snap.commit_snapshot(out, rows)
    snap.rename_column(out, "a:b", "p:q,r")
    eng = read_parquet_dataset(spark, out)
    assert "p:q,r" in eng.columns and eng.count() == 20
    same(eng, jvm.withColumnRenamed("a:b", "p:q,r"))
