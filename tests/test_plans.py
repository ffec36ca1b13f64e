"""Physical-plan shape assertions — the .explain() discipline as tests:
filters push to the parquet scan, metadata queries prune the blob column,
small sides broadcast, and the direct source shuffles only descriptors."""

import os

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master="local[4]", app_name="pcs-plans",
                     shuffle_partitions=4)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    q = docs.filter(F.col("doc_id") == 42).select("doc_id", "source")
    plan = _plan(q)
    assert "PushedFilters" in plan and "doc_id" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    q = docs.select("doc_id").groupBy().count()
    plan = _plan(q)
    # ReadSchema must not include the wide text column
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" not in read_schema


def test_chunk_metadata_query_prunes_blob(spark, tmp_path):
    from parquet_cpp_spark.operators.encode_arrow import encode_scan_local
    from parquet_cpp_spark.sources import tokens as T
    src = T.tokens_from_documents(spark, SF_DIR, 4)
    p = str(tmp_path / "chunks")
    encode_scan_local(src).write.parquet(p)
    meta = (spark.read.parquet(p)
            .groupBy("col", "codec").agg(F.sum("enc_bytes").alias("b")))
    plan = _plan(meta)
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "blob" not in read_schema  # stats queries never touch payloads
    assert meta.count() > 0


def _jobs_in_group(spark, group, action):
    """(the action's result, [(job id, tasks)] of the jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return out, [(j, sum(tracker.getStageInfo(s).numTasks
                         for s in tracker.getJobInfo(j).stageIds))
                 for j in tracker.getJobIdsForGroup(group)]


def test_point_lookup_prunes_on_driver(spark, tmp_path):
    """Over a bare local parquet relation, stats + bloom pruning runs on
    the driver with no Spark job: a hit plans one MapInArrow over a
    ``Generate <- Range`` source of one row per surviving part, with no
    file scan, Python pruning stage or exchange, and its collect is one
    job of one task per surviving part; when no part survives, the
    source is a literal False filter and the single mapInArrow runs over
    an empty relation (zero tasks)."""
    from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
    from parquet_cpp_spark.plans import lookup
    from parquet_cpp_spark.sources import tokens as T
    src = T.tokens_from_documents(spark, SF_DIR, 8)
    path = str(tmp_path / "chunks")
    encode_df_arrow(src, 8).write.parquet(path)   # default doc_id bloom
    chunks = spark.read.parquet(path)
    key = src.select("doc_id").first().doc_id
    parts = lookup.prune_parts(chunks, [("doc_id", "==", key)])
    n_parts = chunks.select("part_id").distinct().count()
    assert 1 <= len(parts) < n_parts
    hit, jobs = _jobs_in_group(spark, "pcs-lookup-build",
                               lambda: lookup.point_lookup(chunks, key))
    assert jobs == []
    plan = _plan(hit)
    assert plan.count("MapInArrow") == 1, plan
    assert "Generate inline" in plan and "Range (0, " in plan, plan
    assert all(f",{p}]" in plan for p in parts), plan
    for stage in ("FileScan", "EvalPython", "Exchange", "Broadcast"):
        assert stage not in plan, plan
    assert hit._jdf.queryExecution().toRdd().getNumPartitions() \
        == len(parts)
    rows, jobs = _jobs_in_group(spark, "pcs-lookup-hit", hit.collect)
    assert [r.doc_id for r in rows] == [key]
    assert len(jobs) == 1 and jobs[0][1] == len(parts), jobs
    miss = lookup.point_lookup(chunks, key + "zz")
    plan = _plan(miss)
    assert "LocalTableScan <empty>" in plan, plan
    assert miss._jdf.queryExecution().toRdd().getNumPartitions() == 0
    assert miss.count() == 0
    # a filtered relation is no bare relation: it takes the DataFrame
    # path, whose filter hides the hit part's rows
    hit_part = rows[0].part_id
    other = chunks.filter(F.col("part_id") != hit_part)
    assert lookup._local_chunk_files(other) is None
    assert lookup.point_lookup(other, key).collect() == []


def test_encode_paths_write_doc_id_bloom(spark, tmp_path):
    """Every encode path takes its whole configuration from one
    WriterProperties: the direct, scan-local, grouped, pipeline,
    checkpointed and chunk-sink paths write a doc_id bloom holding every
    doc_id of the part by default, honour ``props.bloom_columns`` (the
    direct and scan-local paths used to drop it and write NULL blooms),
    and honour a non-default compression, page layout, codec override and
    sort key."""
    import itertools

    from parquet_cpp_spark import chunk as chunkmod
    from parquet_cpp_spark.kernels.bloom import BlockSplitBloomFilter
    from parquet_cpp_spark.operators.encode_arrow import (encode_df_arrow,
                                                          encode_scan_local)
    from parquet_cpp_spark.plans import encode_job
    from parquet_cpp_spark.properties import WriterProperties
    from parquet_cpp_spark.sources import tokens as T
    from parquet_cpp_spark.sources.chunk_sink import \
        encode_parquet_direct_sink
    from parquet_cpp_spark.sources.parquet_direct import encode_parquet_direct

    src = T.tokens_from_documents(spark, SF_DIR, 4) \
        .select("doc_id", "tokens", "n_tok", "source")
    path = str(tmp_path / "tokens.parquet")
    src.coalesce(2).write.parquet(path)
    keyed = encode_job.add_part_id(src, 4)
    ids = {r.doc_id.encode() for r in src.select("doc_id").collect()}
    on = WriterProperties(bloom_columns=frozenset({"doc_id"}))
    off = WriterProperties(bloom_columns=frozenset())
    custom = WriterProperties(compression="GZIP", format_version="V2",
                              data_pagesize=4096, sort_key="n_tok",
                              codec_overrides={"tokens": "PLAIN"})
    fresh = (str(tmp_path / f"out{i}") for i in itertools.count())

    def checkpointed(p):
        out = encode_job.run_checkpointed(spark, keyed, next(fresh), 4,
                                          props=p)
        return spark.read.parquet(out["chunks_path"])

    def sink(p):
        out = next(fresh)
        encode_parquet_direct_sink(spark, path, out, props=p).collect()
        return spark.read.parquet(out)

    for name, make, grouped in [
            ("direct", lambda p: encode_parquet_direct(spark, path, props=p),
             False),
            ("scan_local", lambda p: encode_scan_local(src, props=p), False),
            ("grouped", lambda p: encode_df_arrow(keyed, 4, props=p), True),
            ("pipeline", lambda p: encode_job.encode_pipeline(
                src, 4, props=p), True),
            ("checkpointed", checkpointed, True),
            ("sink", sink, False)]:
        for props in (None, on):
            rows = make(props).select("col", "bloom", "blob").collect()
            blooms = [r.bloom for r in rows if r.col == "doc_id"]
            assert blooms and all(b is not None for b in blooms), name
            assert all(r.bloom is None for r in rows if r.col != "doc_id")
            found = set()
            for r in rows:
                if r.col == "doc_id":
                    vals = list(chunkmod.decode_chunk(r.blob).values)
                    bf = BlockSplitBloomFilter.deserialize(r.bloom)
                    assert bf.check_bytes(vals).all(), name
                    found.update(vals)
            assert found == ids, name
        rows = make(off).select("bloom").collect()
        assert all(r.bloom is None for r in rows), name

        rows = make(custom).select("col", "codec", "blob").collect()
        assert rows and all(r.blob[7] == chunkmod.GZIP for r in rows), name
        tok = [r for r in rows if r.col == "tokens"]
        assert tok and {r.codec for r in tok} == {"PLAIN"}, name
        for r in tok:
            mv = memoryview(r.blob)
            assert mv[4] == chunkmod.VERSION_PAGED, name
            *_, n_pages, pos, _dict = chunkmod._parse_paged_header(mv)
            flags = [pg[3] for pg in chunkmod._iter_pages(mv, n_pages, pos)]
            assert len(flags) > 1 and set(flags) == {1}, name  # V2 pages
        if grouped:
            for r in rows:
                if r.col == "n_tok":
                    n_tok = chunkmod.decode_chunk(r.blob).values
                    assert (n_tok[1:] >= n_tok[:-1]).all(), name


def test_similarity_broadcasts_probes(spark):
    from parquet_cpp_spark.functions import similarity
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = similarity.topk_inner_product_quantized(emb, [0, 1], k=3)
    assert "Broadcast" in _plan(q)


def test_direct_source_shuffles_only_descriptors(spark):
    """The direct source must never move row data through an exchange, and
    it moves nothing through one: ``task_source`` generates each task's
    slice of descriptors inside its own ``Range`` partition, so the plan
    is exchange-free."""
    from parquet_cpp_spark.sources.parquet_direct import encode_parquet_direct
    chunks = encode_parquet_direct(
        spark, os.path.join(SF_DIR, "documents.parquet"),
        columns={"text": "byte_array"})
    plan = _plan(chunks)
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("num_parts", [4, 16])
def test_shuffled_encode_routes_by_part_id(spark, tmp_path, num_parts):
    """The shuffled encode sends each row to the task whose index is its
    part id: the exchange passes the id through instead of hashing it
    again, every output partition holds exactly the part equal to its
    index, the write leaves one chunk file per part, and the whole
    pipeline runs as two jobs (AQE's map stage, then the write)."""
    from parquet_cpp_spark.plans.encode_job import encode_pipeline
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

    src = synthesize_tokens_parquet(str(tmp_path / "tok.parquet"), 2000, 3)
    chunks = encode_pipeline(spark.read.parquet(src), num_parts)
    assert "shufflepartitionidpassthrough" in _plan(chunks)
    held = {}
    for r in chunks.select(F.spark_partition_id().alias("task"),
                           "part_id").distinct().collect():
        held.setdefault(r.task, set()).add(r.part_id)
    assert held == {i: {i} for i in range(num_parts)}

    out = str(tmp_path / "chunks")
    sc = spark.sparkContext
    group = f"shuffled-encode-{num_parts}"
    sc.setJobGroup(group, group)
    try:
        chunks.write.parquet(out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert len([f for f in os.listdir(out)
                if f.endswith(".parquet")]) == num_parts


def test_minhash_signatures_zero_shuffle(spark):
    """MinHash signatures are row-local array expressions: the plan must
    contain NO Exchange (the old explode+groupBy shuffled O(words) rows)."""
    from parquet_cpp_spark.functions import dedup
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(dedup.minhash_signatures(docs))
    assert "Exchange" not in plan, plan


def test_simhash_zero_shuffle(spark):
    """SimHash is a row-local fold over the word array: no Exchange."""
    from parquet_cpp_spark.functions import dedup
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(dedup.simhash(docs))
    assert "Exchange" not in plan, plan


def test_bucketed_join_colocates(spark, tmp_path):
    """Bucketed tables joined on the bucket key need NO exchange: the
    100-TB co-located-join strategy (bucketBy at write time amortizes the
    shuffle across every later join). Broadcast is disabled so the plan
    can't cheat around the sort-merge path."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
        cust = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
        (orders.write.mode("overwrite").bucketBy(8, "o_custkey")
         .sortBy("o_custkey").saveAsTable("t_orders_b"))
        (cust.write.mode("overwrite").bucketBy(8, "c_custkey")
         .sortBy("c_custkey").saveAsTable("t_cust_b"))
        j = (spark.table("t_orders_b")
             .join(spark.table("t_cust_b"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("c_custkey").count())
        plan = _plan(j)
        join_part = plan.split("SortMergeJoin")[0] \
            if "SortMergeJoin" in plan else plan
        assert "Exchange hashpartitioning(o_custkey" not in plan, plan
        assert "Exchange hashpartitioning(c_custkey" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_neardup_jaccard_bucket_cap(spark):
    """The LSH band gate must bound per-bucket candidates: a hot bucket
    (here: many near-identical docs) is SKIPPED, not exploded into
    O(bucket^2) pairs, and the skip is enumerable via the dropped-buckets
    audit — no silent truncation."""
    from parquet_cpp_spark.functions import dedup

    rows = [(i, "common words shared by every doc in the hot cluster")
            for i in range(50)]           # one hot band bucket of 50 docs
    rows += [(100 + i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f")
             for i in range(10)]      # pairwise-disjoint word sets
    rows += [(200, "twin pair one two three"), (201, "twin pair one two three")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    pairs = dedup.neardup_jaccard(docs, bucket_cap=32).collect()
    ids = {r.a_id for r in pairs} | {r.b_id for r in pairs}
    # the hot cluster (0..49) is capped out; the twin pair survives
    assert not any(i < 100 for i in ids)
    assert {(r.a_id, r.b_id) for r in pairs} == {(200, 201)}

    dropped = dedup.neardup_jaccard_dropped_buckets(
        docs, bucket_cap=32).collect()
    assert dropped and all(r.n_docs == 50 for r in dropped)

    # raising the cap re-admits the cluster: the gate, not the scorer,
    # was the bound
    pairs_hi = dedup.neardup_jaccard(docs, bucket_cap=64).collect()
    assert sum(1 for r in pairs_hi if r.a_id < 100) == 50 * 49 // 2


def test_decontaminate_broadcasts_bench_and_flags_verbatim(spark):
    """Decontamination: the benchmark shingle set is broadcast (corpus side
    streams), a verbatim inclusion is flagged with a hit per shingle
    position, and clean docs are absent."""
    from parquet_cpp_spark.functions import dedup
    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog", "eval")],
        "doc_id bigint, text string, source string")
    docs = spark.createDataFrame(
        [(1, "intro text then the quick brown fox jumps over it", "web"),
         (2, "totally unrelated words without any overlap here", "web"),
         (3, "the quick brown fox jumps over the lazy dog", "web")],
        "doc_id bigint, text string, source string")
    out = dedup.decontaminate(docs, bench)
    assert "Broadcast" in _plan(out)
    got = {r.doc_id: r.n_hits for r in out.collect()}
    # doc 3 is verbatim: 9 words -> 7 shingles, all colliding
    assert got[3] == 7
    # doc 1 shares "the quick brown fox jumps over" (6 words) -> 4 shingles
    assert got[1] == 4
    assert 2 not in got


def test_decontaminate_shuffle_path_identical_and_no_broadcast(spark):
    """Big-eval-corpus path: when the bench shingle set exceeds
    broadcast_limit (auto) or strategy='shuffle' is forced, both sides
    hash-partition on the shingle — no broadcast of the bench side — and
    results are IDENTICAL to the broadcast path on the same inputs."""
    from parquet_cpp_spark.functions import dedup
    rows = [(1000 + i,
             f"sequence alpha {i} beta gamma delta common tail phrase",
             "eval") for i in range(40)]
    bench = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    docs = spark.createDataFrame(
        [(1, "sequence alpha 7 beta gamma delta common tail phrase", "web"),
         (2, "no overlap with anything at all in this one", "web"),
         (3, "ends with delta common tail phrase", "web")],
        "doc_id bigint, text string, source string")
    base = {(r.doc_id, r.n_hits)
            for r in dedup.decontaminate(docs, bench).collect()}
    forced = dedup.decontaminate(docs, bench, strategy="shuffle")
    assert "Broadcast" not in _plan(forced)
    assert {(r.doc_id, r.n_hits) for r in forced.collect()} == base
    # auto flips to shuffle once the shingle count passes the limit
    auto = dedup.decontaminate(docs, bench, broadcast_limit=10)
    assert "Broadcast" not in _plan(auto)
    assert {(r.doc_id, r.n_hits) for r in auto.collect()} == base
    with pytest.raises(ValueError, match="unknown strategy"):
        dedup.decontaminate(docs, bench, strategy="bogus")


def test_selective_decode_prunes_parts(spark):
    """Chunk-format predicate pushdown: partitions whose chunk stats
    disprove the conjunction are never decoded (prune_parts over the
    metadata projection, then a part_id filter), and the residual
    Catalyst filter makes the result exact — identical to filtering the
    full decode."""
    from parquet_cpp_spark.plans import encode_job, lookup
    from parquet_cpp_spark.sources import tokens as T_

    src = T_.tokens_from_documents(spark, SF_DIR, 4)
    # part_id by n_tok band -> disjoint per-part n_tok stats, provably
    # prunable (the range-clustered layout a selective table would use)
    src = src.withColumn("part_id",
                         (F.col("n_tok") / F.lit(25)).cast("long"))
    chunks = encode_job.encode_pipeline(src, 4).cache()
    try:
        n_parts = chunks.select("part_id").distinct().count()
        pred = [("n_tok", "<", 30), ("source", "!=", "src3")]
        kept = len(lookup.prune_parts(chunks, pred))
        assert 0 < kept < n_parts          # stats actually pruned
        got = sorted(r.doc_id for r in
                     lookup.selective_decode(chunks, pred)
                     .select("doc_id").collect())
        want_df = encode_job.decode_pipeline(chunks).filter(
            (F.col("n_tok") < 30) & (F.col("source") != "src3"))
        want = sorted(r.doc_id for r in want_df.select("doc_id").collect())
        assert got == want and got
        # in-op + impossible conjunct
        assert lookup.prune_parts(chunks, [("n_tok", ">", 10 ** 6)]) == []
        got_in = lookup.selective_decode(
            chunks, [("source", "in", ["src1", "src5"]),
                     ("n_tok", ">=", 90)]).count()
        want_in = encode_job.decode_pipeline(chunks).filter(
            F.col("source").isin("src1", "src5")
            & (F.col("n_tok") >= 90)).count()
        assert got_in == want_in
        with pytest.raises(ValueError, match="unsupported predicate op"):
            lookup.prune_parts(chunks, [("n_tok", "~", 1)])
    finally:
        chunks.unpersist()


def test_selective_decode_bloom_layer(spark):
    """String == terms consult the per-chunk blooms: a doc_id inside
    every chunk's [min,max] but absent from the corpus prunes ALL
    partitions via the bloom, while a present doc_id keeps its
    partition and decodes to exactly that row."""
    from parquet_cpp_spark.operators import encode_arrow
    from parquet_cpp_spark.plans import encode_job, lookup
    from parquet_cpp_spark.sources import tokens as T_

    src = T_.tokens_from_documents(spark, SF_DIR, 4)
    src = encode_job.add_part_id(src, 4)
    chunks = encode_arrow.encode_df_arrow(src, 4).cache()
    try:
        n_parts = chunks.select("part_id").distinct().count()
        present = src.select("doc_id").first().doc_id
        # absent key lexicographically inside the stats range
        absent = present + "zz"
        kept = len(lookup.prune_parts(chunks,
                                      [("doc_id", "==", absent)]))
        assert kept == 0                      # bloom pruned everything
        kept_p = len(lookup.prune_parts(chunks,
                                        [("doc_id", "==", present)]))
        assert 1 <= kept_p < n_parts
        rows = lookup.selective_decode(
            chunks, [("doc_id", "==", present)]).collect()
        assert len(rows) == 1 and rows[0].doc_id == present
    finally:
        chunks.unpersist()


def test_prune_parts_predicate_edges(spark):
    """Review-pinned edges: (a) unknown predicate column fails loudly
    instead of silently pruning everything; (b) strict bounds on int64
    stats past 2^53 compare exactly (decimal path) instead of wrongly
    pruning after a double round."""
    from parquet_cpp_spark.plans import lookup

    big = 9007199254740992                        # 2^53
    meta = spark.createDataFrame(
        [(0, "x", str(big), str(big), 0, 10, None),
         (1, "x", "1", "5", 0, 10, None)],
        "part_id long, col string, min_val string, max_val string, "
        "null_count long, n_rows long, bloom binary")
    with pytest.raises(ValueError, match="no chunk metadata"):
        lookup.prune_parts(meta, [("nope", "==", 1)])
    # x < 2^53+1 is satisfiable in part 0 (x == 2^53); double rounding
    # would collapse both sides and prune it
    kept = set(lookup.prune_parts(meta, [("x", "<", big + 1)]))
    assert kept == {0, 1}
    kept = set(lookup.prune_parts(meta, [("x", ">", big)]))
    assert kept == set()                          # exactly nothing above
    kept = set(lookup.prune_parts(meta, [("x", "==", big)]))
    assert kept == {0}


def _old_translator_keeps(op, vals, row):
    """The chunk-stats rule ``plans/lookup`` applied through Catalyst
    before ``prune_parts``, as a Python model: null tests on
    ``null_count``; comparisons drop all-null parts, keep NULL stats,
    and compare numbers as doubles, OR-ing an exact compare when every
    value is an int and the stats parse as ints; anything else compares
    the stat strings (booleans as "True"/"False"). Its bloom layer is
    applied by the caller."""
    _pid, _col, mn, mx, nulls, n_rows, _bloom = row
    if op == "is_null":
        return nulls > 0
    if op == "not_null":
        return nulls < n_rows
    if nulls >= n_rows:
        return False
    if mn is None:
        return True

    def rng(lo, hi, x):
        return {"==": lo <= x <= hi, "in": lo <= x <= hi,
                "!=": not (lo == hi == x), "<": lo < x, "<=": lo <= x,
                ">": hi > x, ">=": hi >= x}[op]

    if isinstance(vals[0], (int, float)) and not isinstance(vals[0], bool):
        if any(rng(float(mn), float(mx), float(x)) for x in vals):
            return True
        if all(isinstance(x, int) for x in vals):
            try:
                lo, hi = int(mn), int(mx)
            except ValueError:
                return False
            return any(rng(lo, hi, x) for x in vals)
        return False
    return any(rng(mn, mx, str(x)) for x in vals)


_META_PARTS = 120


def _chunk_meta(rng):
    """Generated chunk metadata rows ``(part_id, col, min_val, max_val,
    null_count, n_rows, bloom)`` over ``_META_PARTS`` parts and columns
    i (int64), f (double), s (strings with blooms) and b (booleans), with
    NULL stats and all-null parts; returns (rows, {(part, col): values,
    None for a null}, a value drawer for a column)."""
    import numpy as np

    from parquet_cpp_spark import chunk as chunkmod
    from parquet_cpp_spark.kernels import bloom as bloom_mod

    n_parts = _META_PARTS
    big = 2 ** 53
    centers = {"i": [big, -big, 0, 1000],
               "f": [0.0, 1.5, -2.25, 1e20, float(big)],
               "s": ["10", "9", "doc-0", "doc-9", "é", "zz"],
               "b": [False, True]}

    def draw(col):
        c = centers[col][rng.integers(len(centers[col]))]
        if col == "i":
            return c + int(rng.integers(-3, 4))
        if col == "f":
            return c + float(rng.choice([-1.0, -0.5, 0.0, 0.25, 2.0]))
        if col == "s":
            return c + str(rng.choice(["", "0", "1", "a", "~"]))
        return bool(rng.integers(2)) if rng.random() < 0.3 else c

    phys = {"i": "int64", "f": "double", "s": "byte_array",
            "b": "boolean"}
    held: dict = {}                 # (part, col) -> values (None = null)
    rows = []
    for pid in range(n_parts):
        for col in "ifsb":
            n_null = int(rng.integers(0, 3))
            n_val = 0 if rng.random() < 0.1 else int(rng.integers(1, 5))
            vals = [draw(col) for _ in range(n_val)]
            held[pid, col] = vals + [None] * n_null
            if col == "s":
                arr = [v.encode() for v in vals]
            else:
                arr = np.array(vals, dtype={"i": np.int64, "f": np.float64,
                                            "b": bool}[col])
            st = chunkmod.compute_stats(arr, phys[col])
            mn, mx = st.min_val, st.max_val
            if rng.random() < 0.1:
                mn = mx = None                    # stats not written
            bloom = None
            if col == "s" and vals:
                bf = bloom_mod.BlockSplitBloomFilter(
                    bloom_mod.optimal_num_bytes(len(vals), 0.01))
                bf.insert_bytes(arr)
                bloom = bf.serialize()
            rows.append((pid, col, mn, mx, n_null, n_val + n_null, bloom))
    return rows, held, draw


def test_prune_parts_differential(spark):
    """Seeded differential test of ``prune_parts`` over generated chunk
    metadata: ints around +-2^53, floats, digit-like and non-ASCII
    strings with blooms, booleans, parts with NULL stats and all-null
    parts, under every ``_PRED_OPS`` op. ``prune_parts`` never drops a
    part holding a matching value, and it prunes every part the old
    Catalyst translator pruned unless that part holds a match (the
    double compare can round a bound across the value)."""
    import numpy as np
    import pandas as pd

    from parquet_cpp_spark.plans import lookup
    from parquet_cpp_spark.sources.record_assembly import _PRED_OPS

    rng = np.random.default_rng(16)
    n_parts = _META_PARTS
    rows, held, draw = _chunk_meta(rng)
    # from pandas: a LocalRelation, so each prune_parts collect runs no job
    meta = spark.createDataFrame(
        pd.DataFrame(rows, columns=["part_id", "col", "min_val", "max_val",
                                    "null_count", "n_rows", "bloom"]),
        "part_id long, col string, min_val string, max_val string, "
        "null_count long, n_rows long, bloom binary")

    def holds(pid, col, op, vals):
        xs = held[pid, col]
        if op == "is_null":
            return None in xs
        if op == "not_null":
            return any(x is not None for x in xs)
        cmp = {"==": lambda x, v: x == v, "in": lambda x, v: x == v,
               "!=": lambda x, v: x != v, "<": lambda x, v: x < v,
               "<=": lambda x, v: x <= v, ">": lambda x, v: x > v,
               ">=": lambda x, v: x >= v}[op]
        return any(x is not None and cmp(x, v) for x in xs for v in vals)

    by_col = {}
    for r in rows:
        by_col.setdefault(r[1], []).append(r)
    n_terms = n_old_pruned = 0
    for col in "ifsb":
        pool = [x for p in range(n_parts) for x in held[p, col]
                if x is not None]
        for op in _PRED_OPS:
            for _ in range(1 if op in ("is_null", "not_null") else 2):
                vals = [pool[rng.integers(len(pool))]
                        if rng.random() < 0.6 else draw(col)
                        for _ in range(int(rng.integers(1, 4))
                                       if op == "in" else 1)]
                if col == "i" and rng.random() < 0.3:
                    vals = [float(v) for v in vals]   # float vs int stats
                if col == "f" and rng.random() < 0.3:
                    vals = [int(v) for v in vals]     # int vs float stats
                v = None if op in ("is_null", "not_null") else \
                    (tuple(vals) if op == "in" else vals[0])
                got = set(lookup.prune_parts(meta, [(col, op, v)]))
                truth = {p for p in range(n_parts)
                         if holds(p, col, op, vals)}
                assert truth <= got, (col, op, v, truth - got)
                old = [r for r in by_col[col]
                       if _old_translator_keeps(op, vals, r)]
                if col == "s" and op in ("==", "in"):
                    old_kept = set(lookup.may_contain(
                        [(r[0], r[6]) for r in old],
                        [x.encode() for x in vals]))
                else:
                    old_kept = {r[0] for r in old}
                old_pruned = set(range(n_parts)) - old_kept - truth
                assert not (got & old_pruned), (col, op, v,
                                                got & old_pruned)
                n_terms += 1
                n_old_pruned += len(old_pruned)
    assert n_terms == 4 * (7 * 2 + 2)
    assert n_old_pruned > n_terms * n_parts // 4      # the terms do prune
    # a conjunction keeps the intersection of its terms' parts
    a, b = ("i", ">=", 2 ** 53 - 1), ("b", "==", True)
    assert lookup.prune_parts(meta, [a, b]) == sorted(
        set(lookup.prune_parts(meta, [a]))
        & set(lookup.prune_parts(meta, [b])))


def test_prune_parts_file_backed_equals_cached(spark, tmp_path):
    """``prune_parts`` reads a bare local parquet relation's stats with
    one pyarrow read and runs no Spark job; any other DataFrame pays a
    collect. Over generated chunk metadata (``_chunk_meta``) written as
    four parquet files, the file-backed relation and the same rows cached
    in memory give the same parts for terms of every ``_PRED_OPS`` op on
    every column, and for a conjunction."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.plans import lookup
    from parquet_cpp_spark.sources.record_assembly import _PRED_OPS

    rng = np.random.default_rng(17)
    rows, held, draw = _chunk_meta(rng)
    names = ["part_id", "col", "min_val", "max_val", "null_count",
             "n_rows", "bloom"]
    tbl = pa.table({n: list(c) for n, c in zip(names, zip(*rows))}
                   | {"blob": [b""] * len(rows)},
                   schema=pa.schema([
                       ("part_id", pa.int64()), ("col", pa.string()),
                       ("min_val", pa.string()), ("max_val", pa.string()),
                       ("null_count", pa.int64()), ("n_rows", pa.int64()),
                       ("bloom", pa.binary()), ("blob", pa.binary())]))
    path = tmp_path / "meta"
    path.mkdir()
    step = -(-len(rows) // 4)
    for i in range(4):
        pq.write_table(tbl.slice(i * step, step),
                       str(path / f"part-{i}.parquet"))
    files = spark.read.parquet(str(path))
    cached = spark.createDataFrame(
        pd.DataFrame(rows, columns=names),
        "part_id long, col string, min_val string, max_val string, "
        "null_count long, n_rows long, bloom binary").cache()
    assert len(lookup._local_chunk_files(files)) == 4
    assert lookup._local_chunk_files(cached) is None
    terms = []
    for col in "ifsb":
        pool = [x for p in range(_META_PARTS) for x in held[p, col]
                if x is not None]
        for op in _PRED_OPS:
            for _ in range(1 if op in ("is_null", "not_null") else 3):
                vals = [pool[rng.integers(len(pool))]
                        if rng.random() < 0.6 else draw(col)
                        for _ in range(int(rng.integers(1, 4))
                                       if op == "in" else 1)]
                v = None if op in ("is_null", "not_null") else \
                    (tuple(vals) if op == "in" else vals[0])
                terms.append([(col, op, v)])
    terms.append([("i", ">=", 2 ** 53 - 1), ("s", "in", ("9a", "zz~"))])
    try:
        want = [lookup.prune_parts(cached, t) for t in terms]
        got, jobs = _jobs_in_group(
            spark, "pcs-prune-files",
            lambda: [lookup.prune_parts(files, t) for t in terms])
    finally:
        cached.unpersist()
    assert jobs == []
    assert got == want
    assert sum(map(len, got)) < len(terms) * _META_PARTS * 3 // 4


def test_duplicated_token_spans_one_shuffle_and_winnow_guarantee(spark):
    """Span dedup shuffles exactly once (the fingerprint groupBy — the
    shingle/winnow stage is row-local HOFs, no UDFs), and winnowing's
    guarantee holds: two docs sharing a run of >= k+w-1 tokens always
    share a fingerprint; docs shorter than k produce none."""
    from parquet_cpp_spark.functions import dedup

    # shared 11-token run (k=8, w=4 -> guaranteed hit) inside different
    # contexts, plus a short doc and an unrelated doc
    shared = list(range(100, 111))
    rows = [("a", [1, 2, 3] + shared + [4, 5]),
            ("b", [9, 8] + shared + [7]),
            ("c", [1, 2, 3]),                      # shorter than k
            ("d", [i * 3 for i in range(40)])]     # no shared span
    docs = spark.createDataFrame(
        [(i, t, len(t), "s") for i, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string")
    res = dedup.duplicated_token_spans(docs, k=8, w=4)
    plan = _plan(res)
    assert plan.count("Exchange") == 1, plan
    got = res.collect()
    assert got and all(r.n_docs == 2 and {r.first_doc, r.last_doc}
                       == {"a", "b"} for r in got)
    # the shared-run guarantee: at least one fingerprint from the run
    assert dedup.duplicated_token_spans(
        docs.filter("doc_id in ('c', 'd')"), k=8, w=4).count() == 0


def test_pack_documents_invariants(spark):
    """Boundary-respecting packing: no bin exceeds capacity unless it
    holds exactly one flagged oversize doc; bin ids are contiguous per
    partition; every doc appears exactly once; one shuffle."""
    from pyspark.sql import functions as F

    from parquet_cpp_spark.functions.packing import pack_documents
    from parquet_cpp_spark.sources import tokens as T

    src = T.tokens_from_documents(spark, SF_DIR, 4)
    res = pack_documents(src, 128).cache()
    try:
        assert res.count() == src.count()
        agg = res.groupBy("part_id", "bin_id").agg(
            F.sum("n_tok").alias("s"), F.max("oversize").alias("o"),
            F.count("*").alias("c"))
        assert agg.filter("s > 128 and not (o = 1 and c = 1)").count() == 0
        # oversize docs are ALWAYS alone in their bin
        assert agg.filter("o = 1 and c > 1").count() == 0
        # contiguous bin ids from 0 per partition
        bad = res.groupBy("part_id").agg(
            F.min("bin_id").alias("lo"), F.max("bin_id").alias("hi"),
            F.countDistinct("bin_id").alias("n"))
        assert bad.filter("lo != 0 or n != hi + 1").count() == 0
    finally:
        res.unpersist()
