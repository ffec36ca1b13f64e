"""The descriptor source under every Python job: ``task_source`` returns a
JVM-only DataFrame (``Generate inline`` over a ``Range``) whose partitions
are the contiguous slices ``parallelize`` would make, so a ``mapInArrow``
over it runs no Python RDD and no exchange first."""

import os

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-task-source",
                     shuffle_partitions=4)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _slice(descs, i, n_parts):
    n = len(descs)
    return descs[i * n // n_parts:(i + 1) * n // n_parts]


@pytest.mark.parametrize("n", [1, 4, 40])
@pytest.mark.parametrize("n_parts", [1, 4, 16])
def test_task_source_slices_in_order(spark, n, n_parts):
    """Exactly ``n_parts`` partitions; ``toArrow`` returns every descriptor
    once, in order; partition ``i`` holds slice ``i`` contiguously."""
    from parquet_cpp_spark.sources.parquet_direct import task_source

    n_parts = min(n_parts, n)
    descs = [(f"/data/f{i // 3}.parquet", i % 3) for i in range(n)]
    df = task_source(spark, descs, n_parts, "file string, rg int")
    assert df.rdd.getNumPartitions() == n_parts
    tbl = df.toArrow()
    assert list(zip(tbl.column("file").to_pylist(),
                    tbl.column("rg").to_pylist())) == descs
    tagged = df.select("file", "rg",
                       F.spark_partition_id().alias("p")).toArrow()
    got = [[] for _ in range(n_parts)]
    for f, rg, p in zip(*(tagged.column(c).to_pylist()
                          for c in ("file", "rg", "p"))):
        got[p].append((f, rg))
    assert got == [_slice(descs, i, n_parts) for i in range(n_parts)]


def test_task_source_types_and_awkward_strings(spark):
    """Quotes, commas, colons, backslashes, newlines, non-ASCII, empty
    strings and nulls survive; every column has the DDL's type."""
    from pyspark.sql.types import StructType

    from parquet_cpp_spark.sources.parquet_direct import task_source

    ddl = "path string, rg int, n_rg bigint, miss string, ren string"
    descs = [
        ('/d/a "b", c:d.parquet', 0, 1 << 40, "", "old:new,x:y"),
        ("/d/naïve/日本語/😀.parquet", 2147483647, 3, "a,b", ""),
        ("C:\\dir\\'q'\n\ttab.parquet", -1, 0, None, "k:v"),
        ("", 7, -5, "{not json}", "[1,2]"),
    ]
    df = task_source(spark, descs, 3, ddl)
    want = StructType.fromDDL(ddl)
    assert [(f.name, f.dataType) for f in df.schema.fields] == \
        [(f.name, f.dataType) for f in want.fields]
    tbl = df.toArrow()
    assert [tuple(r.values()) for r in tbl.to_pylist()] == descs


def _under_map_in_arrow(plan: str) -> str:
    """The MapInArrow node and its subtree, as printed by the plan."""
    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if "MapInArrow" in ln)
    depth = len(lines[i]) - len(lines[i].lstrip(" +-:*()0123456789"))
    sub = [lines[i]]
    for ln in lines[i + 1:]:
        if len(ln) - len(ln.lstrip(" +-:*()0123456789")) <= depth:
            break
        sub.append(ln)
    return "\n".join(sub)


def _assert_jvm_source(df):
    plan = _plan(df)
    sub = _under_map_in_arrow(plan)
    assert "Generate inline" in sub and "Range (0, " in sub, plan
    assert "ExistingRDD" not in plan and "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def _one_job_one_stage(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, (group, jobs)
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1, group


def test_every_caller_uses_the_jvm_source(spark, tmp_path):
    """All six descriptor sources plan ``Generate <- Range`` under their
    ``MapInArrow``, with no ``ExistingRDD`` and no ``Exchange``, and each
    runs as one job of one stage (``decode_parquet_direct`` over a 4-file
    directory among them)."""
    from parquet_cpp_spark.operators.decode_arrow import \
        decode_parquet_direct
    from parquet_cpp_spark.plans.lookup import point_lookup_parquet
    from parquet_cpp_spark.sources.chunk_sink import \
        encode_parquet_direct_sink
    from parquet_cpp_spark.sources.parquet_direct import \
        encode_parquet_direct
    from parquet_cpp_spark.sources.parquet_sink import write_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    src = synthesize_tokens_parquet(str(tmp_path / "tok.parquet"), 2000, 5,
                                    row_group_size=500)
    chunks, out = str(tmp_path / "chunks"), str(tmp_path / "par1")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    key = spark.read.parquet(src).first().doc_id
    callers = [
        ("encode", lambda: encode_parquet_direct(spark, src),
         lambda df: df.write.parquet(chunks)),
        ("decode", lambda: decode_parquet_direct(spark, chunks), noop),
        ("chunk_sink", lambda: encode_parquet_direct_sink(
            spark, src, str(tmp_path / "chunk_sink")), noop),
        ("sink", lambda: write_parquet_dataset(spark, src, out),
         lambda df: df.collect()),
        ("scan", lambda: read_parquet_dataset(spark, out), noop),
        ("lookup", lambda: point_lookup_parquet(spark, out, "doc_id", key),
         lambda df: df.collect()),
    ]
    for name, build, run in callers:
        df = build()
        _assert_jvm_source(df)
        _one_job_one_stage(spark, f"task-source-{name}", lambda: run(df))
        if name == "encode":
            assert len([f for f in os.listdir(chunks)
                        if f.endswith(".parquet")]) == 4
    assert any(r.row_index >= 0 for r in
               point_lookup_parquet(spark, out, "doc_id", key).collect())
