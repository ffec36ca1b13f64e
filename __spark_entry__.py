"""Driver contract for the spark-graft builder (PySpark target).

Engine: ``parquet_cpp_spark`` — a PySpark-native per-column lightweight
compression engine reproducing wesm/parquet-cpp's encoding semantics
(SURVEY.md §2). The round-trip queries below run the full pipeline
(deterministic tokenization -> repartition -> applyInPandas encode ->
chunk DataFrame -> applyInPandas decode) and are checked against a DuckDB
*identity* oracle: if any codec corrupts a single token, the value hash
mismatches. This is the per-row token-array-equality bar from
/root/reference/src/parquet/encoding-test.cc:218-229 expressed as a query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_cpp_spark.plans import encode_job
from parquet_cpp_spark.properties import WriterProperties
from parquet_cpp_spark.sources import tokens as tokens_src

NUM_PARTS = 8


def _parts(sf: str) -> int:
    """Partition count pinned to data volume: ~256 MiB of raw document
    payload per partition (encode_job.plan_num_parts' sizing rule), with a
    floor of NUM_PARTS so tiny sf dirs still exercise multi-partition
    paths.

    Invariant the static oracles rely on: at every driver test scale
    (sf0.001-sf0.1, documents.parquet far under 256 MiB) this returns
    exactly NUM_PARTS — the value baked into the part-id-exposing oracle
    SQL (`doc_id % 8`). Dynamic sizing only engages past oracle-checked
    scales, where no oracle exists to desync."""
    try:
        size = os.path.getsize(os.path.join(sf, "documents.parquet"))
    except OSError:
        return NUM_PARTS
    return max(NUM_PARTS, -(-size // (256 << 20)))


# rt_nullable's token derivation: every token divisible by 7 becomes NULL
# (mirrors the Spark-side transform in the query)
_NULLABLE_TOKEN_EXPR_DUCKDB = (
    f"list_transform({tokens_src._TOKEN_EXPR_DUCKDB}, "
    "x -> CASE WHEN x % 7 <> 0 THEN x END)")


def _ann_ip_lsh_oracle_sql(probe_ids=(0, 1, 2, 3, 4), k: int = 10,
                           n_planes: int = 6, dim: int = 64,
                           seed: int = 7) -> str:
    """DuckDB replica of similarity.topk_inner_product_lsh: the quantized
    hyperplanes are baked into the SQL as integer list literals, so bucket
    bits and rescoring are exact in both engines."""
    from parquet_cpp_spark.functions.similarity import quantized_planes
    planes = quantized_planes(dim, n_planes, seed)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(qe, "
        f"{[int(x) for x in planes[i]]}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes))
    ids = ", ".join(str(int(p)) for p in probe_ids)
    return f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS qe
            FROM embeddings),
        b AS (SELECT vec_id, qe, {bucket} AS bucket FROM q),
        p AS (SELECT vec_id AS probe_id, qe AS qp, bucket AS pb FROM b
              WHERE vec_id IN ({ids})),
        s AS (SELECT probe_id, vec_id,
                     CAST(list_dot_product(qe, qp) AS BIGINT) AS score
              FROM b JOIN p ON bucket = pb AND vec_id <> probe_id),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
              FROM s)
        SELECT probe_id, vec_id, score, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= {k}
    """


_COS_SCORE_SQL = ("CASE WHEN dot >= 0 "
                  "THEN (1000000 * dot * dot) // (na2 * nb2) "
                  "ELSE -((1000000 * dot * dot) // (na2 * nb2)) END")

# embeddings quantized to the cosine-family integer grid (scale 100); BIGINT
# elements so 1e6*dot^2 stays exact (list_dot_product returns DOUBLE, exact
# only below 2^53 — every dot is CAST to BIGINT before multiplying)
_COS_QE_SQL = ("list_transform(embedding, "
               "x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))")


def _cos_bucket_sql(n_planes: int, dim: int = 64, seed: int = 7) -> str:
    """Sign-bit bucket over integer planes, evaluated on the scale-100 qe."""
    from parquet_cpp_spark.functions.similarity import quantized_planes
    planes = quantized_planes(dim, n_planes, seed)
    return " + ".join(
        f"(CASE WHEN list_dot_product(qe, "
        f"{[int(x) for x in planes[i]]}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes))


def _ann_cosine_topk_oracle_sql(probe_ids=(0, 1, 2), k: int = 5) -> str:
    """DuckDB replica of similarity.topk_cosine (exact integer cosine-ppm)."""
    ids = ", ".join(str(int(p)) for p in probe_ids)
    return f"""
        WITH e AS (SELECT vec_id, {_COS_QE_SQL} AS qe FROM embeddings),
        q AS (SELECT vec_id, qe,
                     CAST(list_dot_product(qe, qe) AS BIGINT) AS n2 FROM e),
        p AS (SELECT vec_id AS probe_id, qe AS qp, n2 AS nb2 FROM q
              WHERE vec_id IN ({ids})),
        s AS (SELECT probe_id, vec_id,
                     CAST(list_dot_product(qe, qp) AS BIGINT) AS dot,
                     n2 AS na2, nb2
              FROM q, p WHERE vec_id <> probe_id),
        sc AS (SELECT probe_id, vec_id, {_COS_SCORE_SQL} AS score
               FROM s WHERE na2 > 0 AND nb2 > 0),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
              FROM sc)
        SELECT probe_id, vec_id, score, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= {k}
    """


def _ann_cosine_lsh_oracle_sql(probe_ids=(0, 1, 2), k: int = 5,
                               n_planes: int = 6) -> str:
    """DuckDB replica of similarity.topk_cosine_lsh: integer-plane buckets
    gate the candidates, exact integer cosine-ppm rescoring."""
    ids = ", ".join(str(int(p)) for p in probe_ids)
    return f"""
        WITH e AS (SELECT vec_id, {_COS_QE_SQL} AS qe FROM embeddings),
        q AS (SELECT vec_id, qe,
                     CAST(list_dot_product(qe, qe) AS BIGINT) AS n2 FROM e),
        b AS (SELECT vec_id, qe, n2,
                     {_cos_bucket_sql(n_planes)} AS bucket FROM q),
        p AS (SELECT vec_id AS probe_id, qe AS qp, n2 AS nb2,
                     bucket AS pb FROM b WHERE vec_id IN ({ids})),
        s AS (SELECT probe_id, vec_id,
                     CAST(list_dot_product(qe, qp) AS BIGINT) AS dot,
                     n2 AS na2, nb2
              FROM b JOIN p ON bucket = pb AND vec_id <> probe_id),
        sc AS (SELECT probe_id, vec_id, {_COS_SCORE_SQL} AS score
               FROM s WHERE na2 > 0 AND nb2 > 0),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
              FROM sc)
        SELECT probe_id, vec_id, score, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= {k}
    """


def _media_fixture_path() -> str:
    """Deterministic media fixture (payloads + ground-truth features),
    synthesized once under the repo's data dir; both the Spark query and
    the DuckDB oracle read this same file."""
    from parquet_cpp_spark.functions import multimodal
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "media_96_42.parquet")
    return multimodal.synthesize_media_parquet(path, n_rows=96, seed=42)


def _media_features_oracle_sql() -> str:
    """The media oracle compares against the persisted ground truth: every
    row must decode (decode_ok) to exactly the stored features
    (feats_match), with the stored dimension."""
    return f"""
        SELECT media_id, kind,
               CAST(expected_feat_dim AS INTEGER) AS feat_dim,
               TRUE AS decode_ok, TRUE AS feats_match
        FROM read_parquet('{_media_fixture_path()}')
        ORDER BY media_id
    """


def _emb_auto_n_planes(sf_dir: str = "/root/testdata/sf0.01") -> int:
    """The SAME corpus-scaled plane count the Spark path resolves from
    emb.count(), computed from the parquet row-count metadata (auto_n_planes
    is deterministic in n_rows, so both engines bake identical planes)."""
    import pyarrow.parquet as _pq

    from parquet_cpp_spark.functions.similarity import auto_n_planes
    n = _pq.ParquetFile(
        os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    return auto_n_planes(n)


def _neardup_cosine_lsh_oracle_sql(tau_sq_x10000: int = 900,
                                   n_planes: "int | None" = None,
                                   bucket_cap: int = 64) -> str:
    """DuckDB replica of similarity.neardup_cosine_lsh: bucket-gated pairs
    (buckets above ``bucket_cap`` dropped — the capped recall contract is
    itself oracle-checked), exact integer cosine-squared predicate."""
    if n_planes is None:
        n_planes = _emb_auto_n_planes()
    return f"""
        WITH e AS (SELECT vec_id, {_COS_QE_SQL} AS qe FROM embeddings),
        b AS (SELECT vec_id, qe,
                     {_cos_bucket_sql(n_planes)} AS bucket FROM e),
        ok AS (SELECT bucket FROM b GROUP BY bucket
               HAVING COUNT(*) BETWEEN 2 AND {bucket_cap}),
        s AS (SELECT a.vec_id AS a_id, c.vec_id AS b_id,
                     CAST(list_dot_product(a.qe, c.qe) AS BIGINT) AS dot,
                     CAST(list_dot_product(a.qe, a.qe) AS BIGINT) AS na2,
                     CAST(list_dot_product(c.qe, c.qe) AS BIGINT) AS nb2
              FROM b a JOIN ok USING (bucket) JOIN b c
                ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
        SELECT a_id, b_id FROM s
        WHERE dot > 0 AND 10000 * dot * dot >= {tau_sq_x10000} * na2 * nb2
    """


def _neardup_cosine_dropped_oracle_sql(n_planes: "int | None" = None,
                                       bucket_cap: int = 64) -> str:
    """DuckDB replica of similarity.neardup_cosine_dropped_buckets: the
    buckets the cap rule skipped, so truncation is oracle-auditable."""
    if n_planes is None:
        n_planes = _emb_auto_n_planes()
    return f"""
        WITH e AS (SELECT vec_id, {_COS_QE_SQL} AS qe FROM embeddings),
        b AS (SELECT vec_id, {_cos_bucket_sql(n_planes)} AS bucket FROM e)
        SELECT bucket, COUNT(*) AS n_vecs FROM b
        GROUP BY bucket HAVING COUNT(*) > {bucket_cap}
    """


def _ann_cosine_ivf_oracle_sql(probe_ids=(0, 1, 2), k: int = 5,
                               n_centroids: int = 16, nprobe: int = 4,
                               sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB replica of similarity.topk_cosine_ivf. The k-means centroids
    are trained by the SAME numpy Lloyd loop on the SAME deterministic
    lowest-vec_id sample (ivf_centroids_from_parquet reads the parquet the
    driver's oracle runs on), quantized to integers, and baked in as VALUES
    literals; assignment, probe-cell ranking, and rescoring are then exact
    integer arithmetic in both engines."""
    import os as _os

    from parquet_cpp_spark.functions.similarity import (
        ivf_centroids_from_parquet, quantized_centroids)
    cents = ivf_centroids_from_parquet(
        _os.path.join(sf_dir, "embeddings.parquet"), n_centroids)
    qc = quantized_centroids(cents)
    rows = ", ".join(
        f"({c}, CAST({[int(x) for x in qc[c]]} AS BIGINT[]), "
        f"CAST({int((qc[c] * qc[c]).sum())} AS BIGINT))"
        for c in range(n_centroids))
    ids = ", ".join(str(int(p)) for p in probe_ids)
    return f"""
        WITH cents(cell, qc, nc2) AS (VALUES {rows}),
        e AS (SELECT vec_id, {_COS_QE_SQL} AS qe FROM embeddings),
        q AS (SELECT vec_id, qe,
                     CAST(list_dot_product(qe, qe) AS BIGINT) AS n2 FROM e),
        d AS (SELECT vec_id, cell,
                     n2 - 2 * CAST(list_dot_product(qe, qc) AS BIGINT) + nc2
                         AS d2
              FROM q CROSS JOIN cents),
        assign AS (SELECT vec_id, cell FROM (
                       SELECT vec_id, cell, row_number() OVER (
                           PARTITION BY vec_id ORDER BY d2, cell) AS rn
                       FROM d) WHERE rn = 1),
        pcell AS (SELECT vec_id AS probe_id, cell FROM (
                      SELECT vec_id, cell, row_number() OVER (
                          PARTITION BY vec_id ORDER BY d2, cell) AS rn
                      FROM d WHERE vec_id IN ({ids}))
                  WHERE rn <= {nprobe}),
        p AS (SELECT vec_id AS probe_id, qe AS qp, n2 AS nb2 FROM q
              WHERE vec_id IN ({ids})),
        cand AS (SELECT p.probe_id, q.vec_id,
                        CAST(list_dot_product(q.qe, p.qp) AS BIGINT) AS dot,
                        q.n2 AS na2, p.nb2
                 FROM q JOIN assign a ON q.vec_id = a.vec_id
                 JOIN pcell pc ON a.cell = pc.cell
                 JOIN p ON p.probe_id = pc.probe_id
                 WHERE q.vec_id <> p.probe_id),
        sc AS (SELECT probe_id, vec_id, {_COS_SCORE_SQL} AS score
               FROM cand WHERE na2 > 0 AND nb2 > 0),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
              FROM sc)
        SELECT probe_id, vec_id, score, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= {k}
    """


def _ann_ip_lsh_mp_oracle_sql(probe_ids=(0, 1, 2, 3, 4), k: int = 10,
                              n_planes: int = 6, dim: int = 64,
                              seed: int = 7) -> str:
    """DuckDB replica of the 2-probe multi-probe LSH MIPS: each probe also
    searches the bucket reached by flipping its weakest sign bit (smallest
    |plane dot|, ties to the lowest plane index)."""
    from parquet_cpp_spark.functions.similarity import quantized_planes
    planes = quantized_planes(dim, n_planes, seed)
    dots = ", ".join(
        f"CAST(list_dot_product(qe, {[int(x) for x in planes[i]]}) "
        f"AS BIGINT) AS d{i}" for i in range(n_planes))
    bucket = " + ".join(
        f"(CASE WHEN d{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes))
    whens = []
    for i in range(n_planes - 1):
        rest = ", ".join(f"abs(d{j})" for j in range(i + 1, n_planes))
        bound = f"least({rest})" if i + 1 < n_planes - 1 else rest
        whens.append(f"WHEN abs(d{i}) <= {bound} THEN {1 << i}")
    flip = ("CASE " + " ".join(whens)
            + f" ELSE {1 << (n_planes - 1)} END")
    ids = ", ".join(str(int(p)) for p in probe_ids)
    return f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS qe
            FROM embeddings),
        d AS (SELECT vec_id, qe, {dots} FROM q),
        b AS (SELECT vec_id, qe, {bucket} AS bucket,
                     {flip} AS fbit FROM d),
        p0 AS (SELECT vec_id AS probe_id, qe AS qp, bucket, fbit FROM b
               WHERE vec_id IN ({ids})),
        p AS (SELECT probe_id, qp, bucket AS pb FROM p0
              UNION ALL
              SELECT probe_id, qp, xor(bucket, fbit) AS pb FROM p0),
        s AS (SELECT probe_id, vec_id,
                     CAST(list_dot_product(qe, qp) AS BIGINT) AS score
              FROM b JOIN p ON bucket = pb AND vec_id <> probe_id),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
              FROM s)
        SELECT probe_id, vec_id, score, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= {k}
    """


def _md5_hex8_int_sql(arg_sql: str) -> str:
    """DuckDB expression: integer value of the first 8 hex chars of
    md5(arg) (nibble arithmetic, same trick as the simhash oracle)."""
    nib = ("(strpos('0123456789abcdef', "
           f"substr(md5({arg_sql}), {{i}}, 1)) - 1)")
    return "(" + " + ".join(
        f"{nib.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8)) + ")"


def _simhash_oracle_sql(bits: int = 16) -> str:
    """DuckDB replica of functions/dedup.simhash: bit b of the signature is
    the majority vote over words of bit b of the first 16 bits of md5(word)
    (hex nibble -> int via strpos arithmetic; both engines emit lowercase
    md5 hex)."""
    nib = ("(strpos('0123456789abcdef', substr(md5(w), {i}, 1)) - 1)")
    h16 = " + ".join(f"{nib.format(i=i + 1)} * {16 ** (3 - i)}"
                     for i in range(4))
    votes = ", ".join(
        f"SUM(2 * ((h >> {b}) & 1) - 1) AS v{b}" for b in range(bits))
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits))
    return f"""
        WITH words AS (
            SELECT doc_id, CAST({h16} AS BIGINT) AS h
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)),
        v AS (SELECT doc_id, {votes} FROM words GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v
    """


def _digest(df: DataFrame) -> DataFrame:
    """Project the decoded token array to a per-row md5 digest so the driver
    correctness harness (which sorts column values to canonicalize) can hash
    the result — a raw array<int32> column is unsortable in pandas. The
    digest keeps full round-trip sensitivity: any single corrupted token
    changes tok_hash."""
    tok_str = F.array_join(
        F.transform("tokens", lambda x: x.cast("string")), " ")
    return df.select("doc_id", F.md5(tok_str).alias("tok_hash"),
                     "n_tok", "source")


def _roundtrip(spark: SparkSession, sf_dir: str,
               codec_overrides: dict[str, str] | None = None) -> DataFrame:
    src = tokens_src.tokens_from_documents(spark, sf_dir, _parts(sf_dir))
    chunks = encode_job.encode_pipeline(
        src, NUM_PARTS,
        props=WriterProperties(codec_overrides=codec_overrides or {}))
    return _digest(encode_job.decode_pipeline(chunks))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full auto-selected encode->decode round-trip on sf0.001."""
    return _roundtrip(spark, "/root/testdata/sf0.001")


def _chunks(spark: SparkSession, sf_dir: str,
            codec_overrides: dict[str, str] | None = None) -> DataFrame:
    src = tokens_src.tokens_from_documents(spark, sf_dir, _parts(sf_dir))
    return encode_job.encode_pipeline(
        src, NUM_PARTS,
        props=WriterProperties(codec_overrides=codec_overrides or {}))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- core engine: encode->decode identity, one per codec path ---
    q["rt_auto"] = lambda spark, sf: _roundtrip(spark, sf)
    q["rt_plain"] = lambda spark, sf: _roundtrip(
        spark, sf, {"tokens": "PLAIN", "doc_id": "PLAIN", "source": "PLAIN"})
    q["rt_rle"] = lambda spark, sf: _roundtrip(spark, sf, {"tokens": "RLE"})
    q["rt_delta"] = lambda spark, sf: _roundtrip(
        spark, sf, {"tokens": "DELTA_BINARY_PACKED"})
    q["rt_dict"] = lambda spark, sf: _roundtrip(
        spark, sf, {"tokens": "RLE_DICTIONARY", "doc_id": "RLE_DICTIONARY",
                    "source": "RLE_DICTIONARY"})
    q["rt_fsst"] = lambda spark, sf: _roundtrip(
        spark, sf, {"doc_id": "FSST", "source": "FSST"})
    q["rt_delta_byte_array"] = lambda spark, sf: _roundtrip(
        spark, sf, {"doc_id": "DELTA_BYTE_ARRAY",
                    "source": "DELTA_BYTE_ARRAY"})
    q["rt_delta_length_byte_array"] = lambda spark, sf: _roundtrip(
        spark, sf, {"doc_id": "DELTA_LENGTH_BYTE_ARRAY",
                    "source": "DELTA_LENGTH_BYTE_ARRAY"})

    def rt_paged(spark: SparkSession, sf: str) -> DataFrame:
        """Round-trip through multi-page chunks: a 64 KiB page flush forces
        several pages per chunk (reference 1 MiB policy scaled to the sf
        data; column_writer.cc:645-650)."""
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        chunks = encode_job.encode_pipeline(
            src, NUM_PARTS, props=WriterProperties(data_pagesize=64 << 10))
        return _digest(encode_job.decode_pipeline(chunks))
    q["rt_paged"] = rt_paged

    def rt_nullable(spark: SparkSession, sf: str) -> DataFrame:
        """Round-trip of a list column with NULLABLE elements (max_def=2,
        the reference's 3-level list encoding, schema.h:43-77): every token
        divisible by 7 becomes NULL before encoding; the digest re-includes
        nulls, so dropping or misplacing one flips the hash."""
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        src = src.withColumn(
            "tokens",
            F.transform("tokens", lambda x: F.when(x % 7 != 0, x)))
        chunks = encode_job.encode_pipeline(
            src, NUM_PARTS,
            columns={"doc_id": "byte_array", "tokens": "list<int32?>",
                     "n_tok": "int32", "source": "byte_array"})
        dec = encode_job.decode_pipeline(chunks)
        tok_str = F.array_join(
            F.transform("tokens",
                        lambda x: F.coalesce(x.cast("string"), F.lit("N"))),
            " ")
        return dec.select("doc_id", F.md5(tok_str).alias("tok_hash"),
                          "n_tok", "source")
    q["rt_nullable"] = rt_nullable

    def rt_typed(spark: SparkSession, sf: str) -> DataFrame:
        """General flat-table round-trip: int64 / timestamp-as-int64 /
        boolean / double / string columns derived from the events table
        encode through the same pipeline and decode via the generic typed
        operator — the engine is not token-table-specific."""
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_chunks_typed
        cols = {"event_id": "int64", "ts_us": "int64",
                "event_type": "byte_array", "value": "double",
                "is_high": "boolean"}
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        # tz-free int64 from the NTZ timestamp: micros since a fixed epoch
        ts_us = F.expr("timestampdiff(MICROSECOND, "
                       "TIMESTAMP_NTZ '2020-01-01 00:00:00', ts)")
        src = (ev.select(
                   "event_id",
                   ts_us.alias("ts_us"),
                   "event_type",
                   "value",
                   (F.col("value") > 0.5).alias("is_high"))
               .withColumn("part_id",
                           F.pmod(F.xxhash64("event_id"), F.lit(NUM_PARTS))))
        chunks = encode_df_arrow(
            src, NUM_PARTS, columns=cols,
            props=WriterProperties(sort_key="event_id"))
        return (decode_chunks_typed(chunks, cols)
                .select("event_id", "ts_us", "event_type", "value",
                        "is_high"))
    q["rt_typed"] = rt_typed

    def rt_struct(spark: SparkSession, sf: str) -> DataFrame:
        """Struct-column round-trip via schema flattening: each struct leaf
        encodes as its own chunk column with a dotted path (the reference's
        SchemaDescriptor flattening, schema.h:332-448) and the decode
        reassembles the struct. The digest projects the struct fields back
        out, so a swapped or corrupted leaf flips the hash."""
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_chunks_typed
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        cols = {"event_id": "int64",
                "attrs": "struct<event_type:byte_array,value:double,"
                         "hour:int32>"}
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        src = (ev.select(
                   "event_id",
                   F.struct(
                       F.col("event_type"),
                       F.col("value"),
                       F.hour("ts").cast("int").alias("hour"))
                   .alias("attrs"))
               .withColumn("part_id",
                           F.pmod(F.xxhash64("event_id"), F.lit(NUM_PARTS))))
        dec = decode_chunks_typed(
            encode_df_arrow(src, NUM_PARTS, columns=cols,
                            props=WriterProperties(sort_key="event_id")),
            cols)
        return dec.select("event_id",
                          F.col("attrs.event_type").alias("event_type"),
                          F.col("attrs.value").alias("value"),
                          F.col("attrs.hour").alias("hour"))
    q["rt_struct"] = rt_struct

    def rt_map(spark: SparkSession, sf: str) -> DataFrame:
        """map<string,int> round-trip via the parquet 3-level MAP group
        (reference types.h:63-90 MAP converted type, schema.h:43-77): the
        key and value leaves encode as separate chunks sharing one
        entries-per-row length stream and reassemble to a MapArray. Rows
        cycle through 0/2/3-entry maps, so the length stream (incl. the
        empty-map def-0 marker) is exercised; the digest serializes entries
        in stored order, so any corrupted key, value, or boundary flips it."""
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_chunks_typed
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        cols = {"doc_id": "byte_array", "props": "map<byte_array,int32>"}
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        n_tok = F.size(F.split("text", " "))
        empty = F.map_from_arrays(F.array().cast("array<string>"),
                                  F.array().cast("array<int>"))
        m2 = F.map_from_arrays(
            F.array(F.lit("n"), F.lit("h")),
            F.array(n_tok, F.floor(n_tok / 2).cast("int")))
        m3 = F.map_from_arrays(
            F.array(F.lit("n"), F.lit("h"), F.lit("x")),
            F.array(n_tok, F.floor(n_tok / 2).cast("int"),
                    (n_tok * 3).cast("int")))
        props = F.when(n_tok % 5 == 0, empty) \
            .when(n_tok % 2 == 0, m2).otherwise(m3)
        src = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            props.alias("props"),
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                   F.lit(NUM_PARTS)).alias("part_id"))
        dec = decode_chunks_typed(
            encode_df_arrow(src, NUM_PARTS, columns=cols),
            cols)
        digest = F.md5(F.array_join(
            F.transform(F.map_entries("props"),
                        lambda e: F.concat(e.key, F.lit(":"),
                                           e.value.cast("string"))), "|"))
        return dec.select("doc_id", digest.alias("map_hash"))
    q["rt_map"] = rt_map

    def rt_unsigned(spark: SparkSession, sf: str) -> DataFrame:
        """uint32/uint64 round-trip (reference UINT_32/UINT_64 logical
        annotations, types.h:63-90): Spark carries them as bigint /
        decimal(20,0); the engine encodes true unsigned value spaces —
        uid64 sits ABOVE 2^63, so any signed temp or signed stats compare
        (SortOrder::UNSIGNED, types.h:125-136) corrupts it. uid64 is
        projected as a string because pandas/DuckDB lack a common uint64
        dtype; the digest keeps full sensitivity."""
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_chunks_typed
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        cols = {"doc_id": "byte_array", "uid32": "uint32", "uid64": "uint64"}
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        uid64 = (F.lit("18446744073709551615").cast("decimal(20,0)")
                 - F.col("doc_id").cast("decimal(20,0)") * 1000) \
            .cast("decimal(20,0)")
        src = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            (F.lit(4294967295) - F.col("doc_id")).alias("uid32"),
            uid64.alias("uid64"),
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                   F.lit(NUM_PARTS)).alias("part_id"))
        dec = decode_chunks_typed(
            encode_df_arrow(src, NUM_PARTS, columns=cols),
            cols)
        return dec.select("doc_id", "uid32",
                          F.col("uid64").cast("string").alias("uid64"))
    q["rt_unsigned"] = rt_unsigned

    def rt_annotations(spark: SparkSession, sf: str) -> DataFrame:
        """Remaining converted-type annotations (types.h:63-90): UINT_8 /
        UINT_16 (INT32 storage, unsigned range-check), ENUM and JSON
        (byte_array storage). INTERVAL and BSON ride the same paths and are
        pinned by unit tests (12-byte FLBA / binary)."""
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_chunks_typed
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        cols = {"doc_id": "byte_array", "u8": "uint8", "u16": "uint16",
                "enum_c": "enum", "json_c": "json"}
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        src = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            (F.col("doc_id") % 200).cast("int").alias("u8"),
            (F.col("doc_id") % 60000).cast("int").alias("u16"),
            F.col("source").alias("enum_c"),
            F.to_json(F.struct(F.size(F.split("text", " "))
                               .alias("n_tok"))).alias("json_c"),
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                   F.lit(NUM_PARTS)).alias("part_id"))
        dec = decode_chunks_typed(
            encode_df_arrow(src, NUM_PARTS, columns=cols),
            cols)
        return dec.select("doc_id", "u8", "u16", "enum_c", "json_c")
    q["rt_annotations"] = rt_annotations

    def rt_nested_list(spark: SparkSession, sf: str) -> DataFrame:
        """list-of-list round-trip (max_rep=2, reference schema.h:43-77,
        arrow-reader-writer-test.cc:1137ff): tokens regrouped into windows
        of 5 encode as array<array<int32>> through the two-level length
        streams and decode back; the digest flattens both levels with
        distinct separators, so a shifted inner boundary flips the hash."""
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_chunks_typed
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        cols = {"doc_id": "byte_array", "windows": "list<list<int32>>"}
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        nwin = F.ceil(F.size("tokens") / 5.0).cast("int")
        windows = F.when(F.size("tokens") == 0, F.array().cast(
            "array<array<int>>")).otherwise(
            F.transform(F.sequence(F.lit(1), nwin),
                        lambda i: F.slice("tokens", (i - 1) * 5 + 1, 5)))
        src = src.select("part_id", "doc_id", windows.alias("windows"))
        dec = decode_chunks_typed(
            encode_df_arrow(src, NUM_PARTS, columns=cols),
            cols)
        nested_str = F.array_join(
            F.transform("windows", lambda a: F.array_join(
                F.transform(a, lambda x: x.cast("string")), "-")), "|")
        return dec.select("doc_id", F.md5(nested_str).alias("win_hash"))
    q["rt_nested_list"] = rt_nested_list

    def rt_nullable_flat(spark: SparkSession, sf: str) -> DataFrame:
        """OPTIONAL flat columns (the reference's PutSpaced/DecodeSpaced
        contract, encoding.h:68-76): int64/double/string columns with
        deterministically injected nulls encode through the validity-mask
        def-level stream and decode with nulls intact."""
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_chunks_typed
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        cols = {"event_id": "int64", "user_n": "int64?",
                "value_n": "double?", "type_n": "byte_array?"}
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        src = (ev.select(
                   "event_id",
                   F.when(F.col("user_id") % 7 != 0, F.col("user_id"))
                   .alias("user_n"),
                   F.when(F.col("value") >= 0.1, F.col("value"))
                   .alias("value_n"),
                   F.when(F.col("event_id") % 9 != 0, F.col("event_type"))
                   .alias("type_n"))
               .withColumn("part_id",
                           F.pmod(F.xxhash64("event_id"), F.lit(NUM_PARTS))))
        dec = decode_chunks_typed(
            encode_df_arrow(src, NUM_PARTS, columns=cols,
                            props=WriterProperties(sort_key="event_id")),
            cols)
        return dec.select("event_id", "user_n", "value_n", "type_n")
    q["rt_nullable_flat"] = rt_nullable_flat

    def rt_logical(spark: SparkSession, sf: str) -> DataFrame:
        """Logical-type round-trip through the operators: DECIMAL(12,2) as
        big-endian FLBA (reference arrow/writer.cc:572-604), TIMESTAMP as
        TIMESTAMP_MICROS int64, DATE as date32 — encoded, decoded, and
        re-emitted as canonical strings so both engines hash identically."""
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_chunks_typed
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        cols = {"l_orderkey": "int64", "l_linenumber": "int32",
                "price": "decimal(12,2)", "ship_ts": "timestamp",
                "ship_date": "date32"}
        li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
        src = (li.select(
                   "l_orderkey", "l_linenumber",
                   F.col("l_extendedprice").cast("decimal(12,2)")
                   .alias("price"),
                   F.col("l_shipdate").cast("timestamp_ntz")
                   .alias("ship_ts"),
                   F.to_date("l_shipdate").alias("ship_date"))
               .withColumn("part_id", F.pmod(F.xxhash64("l_orderkey",
                                                        "l_linenumber"),
                                             F.lit(NUM_PARTS))))
        dec = decode_chunks_typed(
            encode_df_arrow(src, NUM_PARTS, columns=cols,
                            props=WriterProperties(sort_key=None)),
            cols)
        return dec.select(
            "l_orderkey", "l_linenumber",
            F.col("price").cast("string").alias("price_str"),
            F.date_format("ship_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("ship_ts_str"),
            F.col("ship_date").cast("string").alias("ship_date_str"))
    q["rt_logical"] = rt_logical

    def rt_salted(spark: SparkSession, sf: str) -> DataFrame:
        """Round-trip through the skew-aware salted partitioning path."""
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf)) \
            .drop("part_id")
        spread = encode_job.plan_salted_parts(src, NUM_PARTS * 2)
        salted = encode_job.add_salted_part_id(src, spread)
        chunks = encode_job.encode_pipeline(salted, NUM_PARTS * 2)
        return _digest(encode_job.decode_pipeline(chunks))
    q["rt_salted"] = rt_salted

    def rt_gzip(spark: SparkSession, sf: str) -> DataFrame:
        """Block-compressed chunks (GZIP over assembled sections) round-trip."""
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        chunks = encode_df_arrow(
            src, NUM_PARTS, props=WriterProperties(compression="GZIP"))
        return _digest(encode_job.decode_pipeline(chunks))
    q["rt_gzip"] = rt_gzip

    def rt_zstd(spark: SparkSession, sf: str) -> DataFrame:
        """ZSTD-compressed round-trip (pyarrow's bundled codec — with
        SNAPPY/BROTLI/LZ4 this covers every reference codec but LZO,
        types.h:106-118)."""
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        chunks = encode_df_arrow(
            src, NUM_PARTS, props=WriterProperties(compression="ZSTD"))
        return _digest(encode_job.decode_pipeline(chunks))
    q["rt_zstd"] = rt_zstd

    def rt_v2(spark: SparkSession, sf: str) -> DataFrame:
        """DataPageV2 round-trip: rep/def levels stay OUTSIDE the
        compressed region (reference format v2 pages / properties.h:363-377)
        — SNAPPY-compressed so the layout difference is actually exercised."""
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        chunks = encode_df_arrow(
            src, NUM_PARTS, props=WriterProperties(
                compression="SNAPPY", format_version="V2"))
        return _digest(encode_job.decode_pipeline(chunks))
    q["rt_v2"] = rt_v2

    # --- chunk statistics vs SQL aggregation (stats oracle) ---
    def chunk_stats_tokens(spark: SparkSession, sf: str) -> DataFrame:
        ch = _chunks(spark, sf).filter(F.col("col") == "tokens")
        return ch.select(
            "part_id",
            F.col("n_values").cast("bigint").alias("n_values"),
            F.col("min_val").cast("bigint").alias("min_val"),
            F.col("max_val").cast("bigint").alias("max_val"),
        ).orderBy("part_id")
    q["chunk_stats_tokens"] = chunk_stats_tokens

    def codec_selection(spark: SparkSession, sf: str) -> DataFrame:
        """Per-column codec histogram of the auto-selector — as of r6 the
        LAST formerly-rows-only query is fully oracle-checked: selection
        and encoded sizes are deterministic functions of the data
        (identical histograms measured at local[2] and local[8]), so the
        oracle is the reviewed golden histogram at the driver's sf0.01,
        embedded as a SQL VALUES list; the pytest golden
        (test_codec_selection_pinned_choices) pins the choices too. A
        selector regression that flips a codec OR a kernel change that
        alters encoded bytes flips the value hash."""
        ch = _chunks(spark, sf)
        return (ch.groupBy("col", "codec")
                .agg(F.count("*").alias("n_chunks"),
                     F.sum("enc_bytes").alias("enc_bytes"))
                .orderBy("col", "codec"))
    q["codec_selection"] = codec_selection

    def compression_manifest(spark: SparkSession, sf: str) -> DataFrame:
        """Per-partition lineage manifest projected to its oracle-derivable
        fields (part_id, n_rows, raw_bytes) — now FULLY oracle-checked: the
        oracle recomputes raw_bytes from first principles (byte_array =
        bytes + 4/value, int32 = 4/value, list levels = 2/value). The map
        columns (codecs, distinct_counts) and checksum stay in the real
        manifest (plans.encode_job.manifest_from_chunks, covered by pytest)
        but are projected out here: the driver canonicalizer sorts column
        values and cannot hash map values (the r4 regression)."""
        return (encode_job.manifest_from_chunks(_chunks(spark, sf))
                .select("part_id", "n_rows", "raw_bytes")
                .orderBy("part_id"))
    q["compression_manifest"] = compression_manifest

    # --- training-data pipeline operators over `documents` ---
    def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
        # groups on md5(text), never on raw text: at 100 TB the shuffle keys
        # must be fixed-width (functions/dedup.exact_dedup)
        from parquet_cpp_spark.functions import dedup as dedup_fn
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return dedup_fn.exact_dedup(docs)
    q["dedup_exact"] = dedup_exact

    def dedup_tokens(spark: SparkSession, sf: str) -> DataFrame:
        """Exact dedup over the token table itself: documents collapse by
        md5 of their token stream (fixed-width shuffle keys; the
        training-pipeline dedup runs on tokens, not raw text)."""
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        tok_str = F.array_join(
            F.transform("tokens", lambda x: x.cast("string")), " ")
        return (src.groupBy(F.md5(tok_str).alias("content_hash"))
                .agg(F.min(F.col("doc_id").cast("long")).alias("keep_id"))
                .select(F.col("keep_id").cast("string").alias("doc_id")))
    q["dedup_tokens"] = dedup_tokens

    def dedup_token_spans(spark: SparkSession, sf: str) -> DataFrame:
        """ExactSubstr-style duplicated TOKEN-SPAN detection (r7): every
        8-token span shared verbatim by >= 2 documents, winnow-sampled
        (w=4, so any shared run >= 11 tokens is guaranteed a hit) — the
        Lee et al. 'Deduplicating Training Data' recipe re-expressed as
        row-local array HOFs + ONE fingerprint shuffle. DuckDB replays
        the identical shingle/winnow grammar over the same token
        expression."""
        from parquet_cpp_spark.functions.dedup import \
            duplicated_token_spans
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        return duplicated_token_spans(src, k=8, w=4)
    q["dedup_token_spans"] = dedup_token_spans

    def vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
        """Vocabulary histogram over the token table: the 100 most frequent
        token ids (count desc, id asc) — the first statistic any training
        pipeline computes; one explode + hash aggregation."""
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        return (src.select(F.explode("tokens").alias("token"))
                .groupBy("token").agg(F.count("*").alias("n"))
                .orderBy(F.desc("n"), F.asc("token")).limit(100))
    q["vocab_topk"] = vocab_topk

    def training_subset(spark: SparkSession, sf: str) -> DataFrame:
        """Composed curation pipeline: exact-dedup survivors that pass a
        quality window (stopword ratio, length) and a language gate — the
        selection step every training-data pipeline runs before
        tokenization. One shuffle (dedup) + scan-side filters."""
        from parquet_cpp_spark.functions import dedup as dedup_fn
        from parquet_cpp_spark.functions import text as text_fn
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        keep = dedup_fn.exact_dedup(docs)  # canonical doc per content group
        feats = text_fn.quality_features(docs)
        lang = text_fn.lang_id(docs)
        return (docs.join(keep, "doc_id")
                .join(feats, "doc_id").join(lang, "doc_id")
                .filter((F.col("stopword_pct") >= 5)
                        & (F.col("n_words") >= 20)
                        & (F.col("lang_pred") == "en"))
                .select("doc_id", "n_words", "stopword_pct"))
    q["training_subset"] = training_subset

    def token_count(spark: SparkSession, sf: str) -> DataFrame:
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("int").alias("n_words"))
    q["token_count"] = token_count

    def quality_stats(spark: SparkSession, sf: str) -> DataFrame:
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        words = F.split("text", " ")
        return docs.select(
            "doc_id",
            F.length("text").cast("int").alias("n_chars"),
            F.size(words).cast("int").alias("n_words"),
            F.array_max(F.transform(words, lambda w: F.length(w)))
            .cast("int").alias("max_word_len"))
    q["quality_stats"] = quality_stats

    def lang_profile(spark: SparkSession, sf: str) -> DataFrame:
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        return (docs.groupBy("lang", "source")
                .agg(F.count("*").cast("bigint").alias("n_docs"),
                     F.sum("n_chars").cast("bigint").alias("sum_chars"))
                .orderBy("lang", "source"))
    q["lang_profile"] = lang_profile

    # --- point lookup via stats+bloom chunk pruning ---
    def point_lookup(spark: SparkSession, sf: str) -> DataFrame:
        from parquet_cpp_spark.operators.encode_arrow import encode_df_arrow
        from parquet_cpp_spark.plans import lookup
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        chunks = encode_df_arrow(src, NUM_PARTS)  # default doc_id bloom
        return (lookup.point_lookup(chunks, "42")
                .select("doc_id", "n_tok", "source"))
    q["point_lookup"] = point_lookup

    # --- relational coverage over the TPC-H-ish tables ---
    # money sums use integer cents (floor(x*100+0.5)) so both engines sum
    # exactly — double summation order is engine-specific
    def _cents(col):
        return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("bigint")

    def pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
        li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
        disc = F.floor((F.col("l_extendedprice") *
                        (1 - F.col("l_discount"))) * 100 + F.lit(0.5)) \
            .cast("bigint")
        return (li.filter(F.col("l_shipdate") <= "1998-09-02")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum(_cents("l_quantity")).alias("sum_qty_cents"),
                     F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
                     F.sum(disc).alias("sum_disc_cents"),
                     F.count("*").alias("count_order"))
                .orderBy("l_returnflag", "l_linestatus"))
    q["pricing_summary"] = pricing_summary

    def top_customers(spark: SparkSession, sf: str) -> DataFrame:
        orders = spark.read.parquet(os.path.join(sf, "orders.parquet"))
        cust = spark.read.parquet(os.path.join(sf, "customer.parquet"))
        return (orders.join(F.broadcast(cust),
                            orders.o_custkey == cust.c_custkey)
                .groupBy("c_custkey", "c_name")
                .agg(F.sum(_cents("o_totalprice")).alias("total_cents"),
                     F.count("*").alias("n_orders"))
                .orderBy(F.desc("total_cents"), "c_custkey").limit(10))
    q["top_customers"] = top_customers

    def events_hourly(spark: SparkSession, sf: str) -> DataFrame:
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return (ev.groupBy(F.date_trunc("hour", "ts").cast("string")
                           .alias("hour"), "event_type")
                .agg(F.count("*").alias("n"),
                     F.countDistinct("user_id").alias("n_users"),
                     F.min("event_id").alias("first_event"))
                .orderBy("hour", "event_type"))
    q["events_hourly"] = events_hourly

    def sessionization(spark: SparkSession, sf: str) -> DataFrame:
        """Gap-based sessionization of the events stream (30-min gap):
        lag + running-sum window then session aggregation — one exchange
        on user_id (the window and groupBy share the partitioning)."""
        from parquet_cpp_spark.functions.sessions import sessionize
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return sessionize(ev, gap_minutes=30)
    q["sessionization"] = sessionization

    # --- training-batch shaping: sequence packing + mixture sampling ---
    def seq_packing(spark: SparkSession, sf: str) -> DataFrame:
        """Pack documents into fixed-length 512-token training sequences
        ([BOS, *tokens] per doc, concatenated in doc_id order per
        partition, remainder dropped) — the canonical pre-training reshape.
        One shuffle; numpy packing per partition task."""
        from parquet_cpp_spark.functions import packing
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        packed = packing.pack_sequences(src, seq_len=512)
        tok_str = F.array_join(
            F.transform("tokens", lambda x: x.cast("string")), " ")
        return packed.select("part_id", "seq_id",
                             F.md5(tok_str).alias("seq_hash"))
    q["seq_packing"] = seq_packing

    def training_mixture(spark: SparkSession, sf: str) -> DataFrame:
        """Deterministic per-source mixture sampling: stable md5 bucket of
        doc_id decides membership, so the sample is identical across
        engines, re-runs, and cluster layouts (no RNG). Row-local filter —
        zero shuffle."""
        from parquet_cpp_spark.functions import packing
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        out = packing.sample_mixture(
            docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1})
        return out.select("doc_id", "source")
    q["training_mixture"] = training_mixture

    def pq_writer_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
        """The engine's PAR1 file WRITER under the driver oracle:
        documents-derived columns are written driver-side with
        sources.parquet_writer (dictionary + nullable def levels + ZSTD
        pages + multiple row groups/pages + UTF8 annotation) and read back
        by Spark's OWN JVM parquet reader — an independent third decoder
        beside pyarrow and DuckDB. The oracle recomputes the same
        projection from documents, so any writer byte-layout bug either
        breaks the JVM read or flips the value hash."""
        import numpy as np
        import pyarrow.parquet as pq

        from parquet_cpp_spark.sources import parquet_writer as pw
        docs = pq.read_table(os.path.join(sf, "documents.parquet"),
                             columns=["doc_id", "source", "text"])
        ids = docs.column("doc_id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        srcs = [s.encode() for s in
                np.asarray(docs.column("source").to_pylist())[order]]
        n_chars = np.fromiter(
            (len(t) for t in
             np.asarray(docs.column("text").to_pylist(),
                        dtype=object)[order]),
            dtype=np.int32, count=len(ids))
        valid = ids % 7 != 0
        # system temp dir, NOT the repo data/ dir: the artifact is a
        # scratch file for this read-back, and writing it under the repo
        # left litter in git status at every sf (r5 verdict nit). The name
        # is row-count-keyed so repeated runs overwrite idempotently.
        import tempfile
        # uid-keyed: /tmp is world-shared and sticky — a fixed name owned
        # by another user would fail the overwrite with PermissionError
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_writer_rt_{len(ids)}.parquet")
        pw.write_file(out, [
            ("doc_id", "int64", ids),
            ("source", "byte_array", srcs, None, True),
            ("n_chars", "int32", n_chars, valid),
        ], len(ids), row_group_rows=200, page_rows=64,
            compression="zstd", utf8_columns={"source"})
        return spark.read.parquet(out) \
            .select("doc_id", "source", "n_chars").orderBy("doc_id")
    q["pq_writer_roundtrip"] = pq_writer_roundtrip

    def pq_writer_tokens(spark: SparkSession, sf: str) -> DataFrame:
        """The engine's PAR1 writer emitting its own HEADLINE column —
        ``tokens array<int32>`` — as a REPEATED leaf (rep/def levels,
        3-level list encoding; reference column_writer.cc:616-629 /
        arrow/writer.cc:71-262), then read back by Spark's JVM parquet
        reader. All four input-hint columns are written by the engine:
        doc_id (PLAIN utf8), tokens (dict-encoded list leaf), n_tok
        (DELTA_BINARY_PACKED), source (dict utf8); ZSTD pages, multiple
        row groups and pages (page splits land mid-list). The oracle is
        the token-table identity: any rep-level, dict, delta, or footer
        byte bug breaks the JVM read or flips tok_hash."""
        import tempfile

        import numpy as np

        from parquet_cpp_spark.sources import parquet_writer as pw
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        # bounded driver collect BY DESIGN: like pq_writer_roundtrip, this
        # query is an oracle harness for the file writer, not the scale
        # path (that is plans.encode_job.write_parquet_dataset)
        pdf = (src.select("doc_id", "tokens", "n_tok", "source")
               .orderBy(F.col("doc_id").cast("long")).toPandas())
        n = len(pdf)
        lengths = np.fromiter((len(t) for t in pdf["tokens"]),
                              dtype=np.int64, count=n)
        assert (lengths == pdf["n_tok"].to_numpy(np.int64)).all()
        vals = (np.concatenate([np.asarray(t, dtype=np.int32)
                                for t in pdf["tokens"]])
                if n else np.zeros(0, np.int32))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_writer_tokens_{n}.parquet")
        pw.write_file(out, [
            ("doc_id", "byte_array", [s.encode() for s in pdf["doc_id"]]),
            pw.ListColumn("tokens", "int32", vals, lengths,
                          use_dictionary=True),
            ("n_tok", "int32", pdf["n_tok"].to_numpy(np.int32)),
            ("source", "byte_array",
             [s.encode() for s in pdf["source"]], None, True),
        ], n, row_group_rows=200, page_rows=64, compression="zstd",
            utf8_columns={"doc_id", "source"}, encodings={"n_tok": "delta"})
        return _digest(spark.read.parquet(out))
    q["pq_writer_tokens"] = pq_writer_tokens

    def pq_writer_struct(spark: SparkSession, sf: str) -> DataFrame:
        """NESTED GROUP nodes through the engine's PAR1 writer (r7):
        an OPTIONAL struct (optional + required fields, combined def
        levels) and a map<string,int32> (MAP/MAP_KEY_VALUE converted
        types, two REPEATED leaves sharing one lengths array, nullable
        values) — the reference's arrow/schema.cc group emission and
        arrow/writer.cc:305-932 nested bridges, pinned by
        arrow-reader-writer-test.cc:595-1928. Spark's JVM reader
        re-assembles the struct/map; the query flattens them to scalar
        columns so the oracle can recompute each from ``documents``.
        Any def-level, group-schema, or key_value layout bug breaks the
        JVM read or flips a flattened value."""
        import tempfile

        import numpy as np
        import pyarrow.parquet as pq

        from parquet_cpp_spark.sources import parquet_writer as pw
        docs = pq.read_table(os.path.join(sf, "documents.parquet"),
                             columns=["doc_id", "source", "text"])
        ids = docs.column("doc_id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        n = len(ids)
        srcs = [s.encode() for s in
                np.asarray(docs.column("source").to_pylist())[order]]
        texts = np.asarray(docs.column("text").to_pylist(),
                           dtype=object)[order]
        n_chars = np.fromiter((len(t) for t in texts),
                              dtype=np.int32, count=n)
        n_words = np.fromiter((len(t.split(" ")) for t in texts),
                              dtype=np.int32, count=n)
        svalid = ids % 5 != 0          # struct-null rows
        fvalid = ids % 7 != 0          # field-null rows (inside structs)
        mvalid = ids % 11 != 0         # map-null rows
        lengths = np.where(mvalid, 2, 0).astype(np.int64)
        keys = [k for ok in mvalid if ok for k in (b"a", b"b")]
        mvals = np.column_stack([n_words, ids % 100]) \
            .astype(np.int32)[mvalid].reshape(-1)
        vvalid = np.column_stack(
            [np.ones(n, bool), ids % 3 != 0])[mvalid].reshape(-1)
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_writer_struct_{n}.parquet")
        pw.write_file(out, [
            ("doc_id", "int64", ids),
            pw.StructColumn("meta", [
                ("n_chars", "int32", n_chars, fvalid, True),
                ("origin", "byte_array", srcs, None, True),
            ], valid=svalid),
            pw.MapColumn("tags", "byte_array", keys, "int32", mvals,
                         lengths, valid=mvalid, value_valid=vvalid,
                         key_use_dictionary=True,
                         value_use_dictionary=True),
        ], n, row_group_rows=200, page_rows=64, compression="zstd",
            utf8_columns={"meta.origin", "tags.key"})
        df = spark.read.parquet(out)
        return df.select(
            "doc_id",
            F.col("meta.n_chars").alias("m_chars"),
            F.col("meta.origin").alias("m_origin"),
            F.col("tags").getItem("a").alias("t_a"),
            F.col("tags").getItem("b").alias("t_b")).orderBy("doc_id")
    q["pq_writer_struct"] = pq_writer_struct

    def pq_sink_dataset(spark: SparkSession, sf: str) -> DataFrame:
        """The DISTRIBUTED sink under the driver oracle (r7): executors
        write the token table as engine PAR1 files (emit_parquet_dataset
        — per-task atomic rename, selector-driven encodings, manifest-only
        JVM traffic; the reference's RowGroupSerializer/FileSerializer
        split, file_writer.cc:60-236), then Spark's JVM reader scans the
        directory back under the token-table identity oracle. This puts
        the executor-write path itself — not a driver-side harness —
        under the DuckDB hash check."""
        import shutil
        import tempfile

        from parquet_cpp_spark.sources.parquet_sink import \
            emit_parquet_dataset
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        df = (src.select("doc_id", "tokens", "n_tok", "source")
              .repartition(4, "doc_id")
              .sortWithinPartitions("doc_id"))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_sink_dataset")
        # fresh dir: stale files from an earlier run with different data
        # or partitioning would read back as duplicate rows
        shutil.rmtree(out, ignore_errors=True)
        emit_parquet_dataset(df, out).collect()
        return _digest(spark.read.parquet(out))
    q["pq_sink_dataset"] = pq_sink_dataset

    def pq_snapshot_read(spark: SparkSession, sf: str) -> DataFrame:
        """Iceberg-style snapshot isolation over the sink (r7): the
        executors write the token table, the manifest rows commit as
        snapshot v1 (sources/snapshots.py — atomic version-file link,
        complete root-relative file listing, the public Iceberg spec's
        metadata-swap concept), and then a DECOY parquet file of junk
        rows lands in the same directory UNCOMMITTED. The query reads
        snapshot v1, not the directory — the identity oracle only
        matches because read_snapshot plans over exactly the committed
        listing (a directory scan would pick up the decoy and break the
        hash)."""
        import shutil
        import tempfile

        from parquet_cpp_spark.sources import snapshots as snapmod
        from parquet_cpp_spark.sources.parquet_sink import \
            emit_parquet_dataset
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        df = (src.select("doc_id", "tokens", "n_tok", "source")
              .repartition(4, "doc_id")
              .sortWithinPartitions("doc_id"))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_snapshot_ds")
        shutil.rmtree(out, ignore_errors=True)
        man = emit_parquet_dataset(df, out).collect()
        snapmod.commit_snapshot(out, man)
        # uncommitted decoy: same schema, garbage content
        (df.limit(7)
           .withColumn("doc_id", F.concat(F.lit("decoy/"), F.col("doc_id")))
           .coalesce(1).write.mode("append").parquet(out))
        return _digest(snapmod.read_snapshot(spark, out, version=1))
    q["pq_snapshot_read"] = pq_snapshot_read

    def pq_engine_scan(spark: SparkSession, sf: str) -> DataFrame:
        """The FULL engine loop distributed in BOTH directions (r7):
        executors write the token table as engine PAR1 files
        (emit_parquet_dataset), then OTHER executors scan the directory
        back with the engine's own reader — read_parquet_dataset
        assembles Arrow batches from rep/def levels per task (the
        reference's FileReader column-parallel reads,
        file_reader.cc:63-135 + arrow/reader.cc, with Spark tasks as
        the thread pool); no Spark JVM parquet reader and no
        pyarrow.parquet anywhere in the decode. The result must hash
        identically to the token-table identity oracle."""
        import shutil
        import tempfile

        from parquet_cpp_spark.sources.parquet_sink import \
            emit_parquet_dataset
        from parquet_cpp_spark.sources.record_assembly import \
            read_parquet_dataset
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        df = (src.select("doc_id", "tokens", "n_tok", "source")
              .repartition(4, "doc_id")
              .sortWithinPartitions("doc_id"))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_engine_scan")
        shutil.rmtree(out, ignore_errors=True)
        emit_parquet_dataset(df, out).collect()
        return _digest(read_parquet_dataset(spark, out))
    q["pq_engine_scan"] = pq_engine_scan

    def pq_scan_pushdown(spark: SparkSession, sf: str) -> DataFrame:
        """Predicate pushdown INSIDE the engine scan (r7): the token
        table is engine-written range-clustered on n_tok, then
        read_parquet_dataset pushes ``n_tok >= 20 AND n_tok < 90 AND
        source == 'src7'`` three layers deep — plan-time row-group
        pruning on footer chunk Statistics (pruned groups never become
        tasks), task-time bloom consult for the == term, and an exact
        vectorized Arrow residual filter. The scan-side analog of the
        reference's stats-based filtering (statistics.cc comparators +
        bloom_filter.cc), proven against DuckDB running the same WHERE
        clause."""
        import shutil
        import tempfile

        from parquet_cpp_spark.sources.parquet_sink import \
            emit_parquet_dataset
        from parquet_cpp_spark.sources.record_assembly import \
            read_parquet_dataset
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        df = (src.select("doc_id", "tokens", "n_tok", "source")
              .repartitionByRange(4, "n_tok", "doc_id")
              .sortWithinPartitions("n_tok", "doc_id"))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_scan_pushdown")
        shutil.rmtree(out, ignore_errors=True)
        emit_parquet_dataset(df, out,
                             bloom_filter_columns={"source"}).collect()
        return _digest(read_parquet_dataset(
            spark, out, predicate=[("n_tok", ">=", 20),
                                   ("n_tok", "<", 90),
                                   ("source", "==", "src7")]))
    q["pq_scan_pushdown"] = pq_scan_pushdown

    def pq_partitioned_scan(spark: SparkSession, sf: str) -> DataFrame:
        """Iceberg-style partitioned layout end-to-end (r7): executors
        write the token table partitioned by source (one file per
        col=value/ directory per task; partition columns STAY in the
        data so every file is self-describing, per the public Iceberg
        spec's identity-partition semantics), then read_parquet_dataset
        prunes whole files on the partition predicate BEFORE any footer
        I/O (layer 0 of the pushdown stack) and residual-filters the
        value term exactly. At 10^12 sequences this is the layout
        decision that turns a full-directory plan into a per-source
        plan; proven against DuckDB running the same WHERE clause."""
        import shutil
        import tempfile

        from parquet_cpp_spark.sources.parquet_sink import \
            emit_parquet_dataset
        from parquet_cpp_spark.sources.record_assembly import \
            read_parquet_dataset
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        df = (src.select("doc_id", "tokens", "n_tok", "source")
              .repartition(4, "source")
              .sortWithinPartitions("source", "doc_id"))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_partitioned")
        shutil.rmtree(out, ignore_errors=True)
        emit_parquet_dataset(df, out, partition_by=["source"]).collect()
        return _digest(read_parquet_dataset(
            spark, out, predicate=[("source", "in", ["src3", "src7"]),
                                   ("n_tok", ">=", 50)]))
    q["pq_partitioned_scan"] = pq_partitioned_scan

    def pq_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
        """Add-column schema evolution end-to-end (r7): half the token
        table is written WITHOUT the source column (v1 files), half with
        it (v2 files), and the engine scan plans the by-name union —
        v1 rows read back with source null-filled, no rewrite of v1
        files (the public Iceberg spec's add-column rule). Nulls are
        projected to an explicit sentinel so the cross-engine value
        hash is representation-stable; DuckDB reproduces the union with
        a CASE on the same deterministic split."""
        import shutil
        import tempfile

        from parquet_cpp_spark.sources.parquet_sink import \
            emit_parquet_dataset
        from parquet_cpp_spark.sources.record_assembly import \
            read_parquet_dataset
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        base = (src.select("doc_id", "tokens", "n_tok", "source")
                .repartition(2, "doc_id").sortWithinPartitions("doc_id"))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_schema_evo")
        shutil.rmtree(out, ignore_errors=True)
        v1 = base.filter("CAST(doc_id AS BIGINT) % 2 = 0") \
            .drop("source")
        v2 = base.filter("CAST(doc_id AS BIGINT) % 2 = 1")
        emit_parquet_dataset(v1, out, name_prefix="v1-").collect()
        emit_parquet_dataset(v2, out, name_prefix="v2-").collect()
        uni = read_parquet_dataset(spark, out)
        tok_str = F.array_join(
            F.transform("tokens", lambda x: x.cast("string")), " ")
        return uni.select(
            "doc_id", F.md5(tok_str).alias("tok_hash"), "n_tok",
            F.coalesce("source", F.lit("__none__")).alias("source"))
    q["pq_schema_evolution"] = pq_schema_evolution

    def pq_dedup_deletes(spark: SparkSession, sf: str) -> DataFrame:
        """Equality delete files end-to-end (r7): the token table is
        snapshot-committed, a dedup-style kill list (every 7th doc_id)
        lands as engine key files under _deletes/ + one snapshot commit
        (snapshots.commit_equality_deletes — the public Iceberg v2
        merge-on-read shape), and the engine scan excludes the keys via
        a left-anti join with ZERO data-file rewrites. At 10^12
        sequences this is how a dedup pass's losers die without
        rewriting 100 TB; DuckDB reproduces the survivors with the same
        modulus filter."""
        import shutil
        import tempfile

        from parquet_cpp_spark.sources import snapshots as snap
        from parquet_cpp_spark.sources.parquet_sink import \
            emit_parquet_dataset
        from parquet_cpp_spark.sources.record_assembly import \
            read_parquet_dataset
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        df = (src.select("doc_id", "tokens", "n_tok", "source")
              .repartition(4, "doc_id").sortWithinPartitions("doc_id"))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_dedup_deletes")
        shutil.rmtree(out, ignore_errors=True)
        man = emit_parquet_dataset(df, out).collect()
        snap.commit_snapshot(out, man)
        kill = df.filter("CAST(doc_id AS BIGINT) % 7 = 0") \
            .select("doc_id")
        snap.commit_equality_deletes(out, kill, "doc_id")
        return _digest(read_parquet_dataset(spark, out))
    q["pq_dedup_deletes"] = pq_dedup_deletes

    def pq_rename_evolution(spark: SparkSession, sf: str) -> DataFrame:
        """Column rename without rewrites (r7): the token table commits
        under column name `source`, a metadata-only snapshot commit
        renames it to `origin` (snapshots.rename_column — Iceberg rename
        semantics via name chains), and the engine scan presents the
        UNTOUCHED old files under the new name. DuckDB reproduces it
        with a column alias. Runs past the driver's 50-query cap; pinned
        by test_query_matches_oracle + tests/test_rename_evolution.py."""
        import shutil
        import tempfile

        from parquet_cpp_spark.sources import snapshots as snap
        from parquet_cpp_spark.sources.parquet_sink import \
            emit_parquet_dataset
        from parquet_cpp_spark.sources.record_assembly import \
            read_parquet_dataset
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        df = (src.select("doc_id", "tokens", "n_tok", "source")
              .repartition(4, "doc_id").sortWithinPartitions("doc_id"))
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_rename_evo")
        shutil.rmtree(out, ignore_errors=True)
        man = emit_parquet_dataset(df, out).collect()
        snap.commit_snapshot(out, man)
        snap.rename_column(out, "source", "origin")
        uni = read_parquet_dataset(spark, out)
        tok_str = F.array_join(
            F.transform("tokens", lambda x: x.cast("string")), " ")
        return uni.select("doc_id", F.md5(tok_str).alias("tok_hash"),
                          "n_tok", "origin")
    q["pq_rename_evolution"] = pq_rename_evolution

    def doc_packing(spark: SparkSession, sf: str) -> DataFrame:
        """Boundary-respecting document packing plan (r7): whole docs
        assigned greedily to 512-token bins, never split — the
        complement of the in-window seq_packing's stream slicing;
        oversize docs isolated in flagged single-doc bins, nothing
        silently truncated. The greedy recurrence is replayed exactly by
        a DuckDB RECURSIVE CTE, so every (doc, bin) assignment is
        oracle-checked. Runs past the driver cap (the packing family's
        window slot belongs to seq_packing); pinned by
        test_query_matches_oracle."""
        from parquet_cpp_spark.functions.packing import pack_documents
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        return pack_documents(src, 512)
    q["doc_packing"] = doc_packing

    def rt_selective(spark: SparkSession, sf: str) -> DataFrame:
        """Predicate pushdown on the CHUNK format (r7): the token table is
        encoded with part_id banded on n_tok (the range-clustered layout a
        selective table uses), then plans.lookup.selective_decode prunes
        partitions whose chunk stats (min_val/max_val/null_count manifest
        columns) disprove ``n_tok >= 30 AND n_tok < 60 AND source !=
        'src3'`` — pruned partitions are never decoded (broadcast semi
        join on the metadata projection, no shuffle) — and applies the
        exact Catalyst residual filter after decode. Manifest-level
        stats-based filtering, statistics.h:34-82 analog."""
        from parquet_cpp_spark.plans import lookup as lookup_mod
        src = tokens_src.tokens_from_documents(spark, sf, _parts(sf))
        src = src.withColumn("part_id",
                             (F.col("n_tok") / F.lit(25)).cast("long"))
        chunks = encode_job.encode_pipeline(src, NUM_PARTS)
        return _digest(lookup_mod.selective_decode(
            chunks, [("n_tok", ">=", 30), ("n_tok", "<", 60),
                     ("source", "!=", "src3")]))
    q["rt_selective"] = rt_selective

    def pq_writer_nested(spark: SparkSession, sf: str) -> DataFrame:
        """DEEP nesting through the engine's PAR1 writer (r7, second
        wave): list<list<int32>> (max_rep 2, nullable inner lists),
        list<struct<w,n>> (parallel REPEATED leaves, null struct
        elements), struct-in-struct (def accumulation across optional
        ancestors) and a list inside a struct — the reference's
        recursive Arrow writer bridges (arrow/writer.cc:71-932,
        schema.cc group emission). Spark's JVM reader re-assembles all
        four; the query flattens them to scalars the oracle recomputes
        from ``documents``. Bounded driver-side construction BY DESIGN
        (like pq_writer_struct: the harness builds the nested arrays;
        the distributed write path is pq_sink_dataset's job)."""
        import tempfile

        import numpy as np
        import pyarrow.parquet as pq

        from parquet_cpp_spark.sources import parquet_writer as pw
        docs = pq.read_table(os.path.join(sf, "documents.parquet"),
                             columns=["doc_id", "source", "text"])
        ids = docs.column("doc_id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        n = len(ids)
        srcs = [s.encode() for s in
                np.asarray(docs.column("source").to_pylist())[order]]
        texts = np.asarray(docs.column("text").to_pylist(),
                           dtype=object)[order]
        c7 = np.fromiter((len(t) % 7 for t in texts),
                         dtype=np.int32, count=n)
        n_chars = np.fromiter((len(t) for t in texts),
                              dtype=np.float64, count=n)
        i13 = (ids % 13).astype(np.int32)
        i17 = (ids % 17).astype(np.int32)

        # grams: list<list<int32>> — null row / 1-2 inner lists / null
        # inner list (every def class a two-deep list has, minus element
        # nulls which pytest covers)
        gvalid = ids % 5 != 0
        two = gvalid & (ids % 3 != 0)
        g_outer = np.where(gvalid, np.where(ids % 3 != 0, 2, 1), 0)
        g_inner, g_ivalid, g_vals = [], [], []
        for i in range(n):
            if not gvalid[i]:
                continue
            g_inner.append(2)
            g_ivalid.append(True)
            g_vals += [c7[i], i13[i]]
            if two[i]:
                if ids[i] % 7 == 0:
                    g_inner.append(0)
                    g_ivalid.append(False)
                else:
                    g_inner.append(1)
                    g_ivalid.append(True)
                    g_vals.append(i17[i])

        # spans: list<struct<w:string, n:int32>> — null row / null
        # struct element / null field
        spvalid = ids % 11 != 0
        sp_lengths = np.where(spvalid, 2, 0)
        sp_evalid, sp_w, sp_nv, sp_nvalid = [], [], [], []
        for i in range(n):
            if not spvalid[i]:
                continue
            sp_evalid.append(True)
            sp_w.append(srcs[i])
            sp_nv.append(c7[i])
            sp_nvalid.append(True)
            if ids[i] % 13 == 0:
                sp_evalid.append(False)
                sp_w.append(b"")
                sp_nv.append(0)
                sp_nvalid.append(True)
            else:
                sp_evalid.append(True)
                sp_w.append(b"k%d" % (ids[i] % 4))
                sp_nv.append(i17[i])
                sp_nvalid.append(ids[i] % 2 != 0)

        # meta: struct<lang, q: struct<score, cnt>> — optional at both
        # depths plus an optional inner leaf
        mvalid = ids % 7 != 0
        qvalid = ids % 3 != 0
        cntvalid = ids % 2 != 0

        # prof: struct<x, tags: list<string>> — list under an optional
        # struct ancestor (null struct / null list / 1-2 elements)
        pvalid = ids % 13 != 0
        tvalid = ids % 5 != 0
        p_lengths = np.where(pvalid & tvalid,
                             np.where(ids % 2 == 0, 1, 2), 0)
        p_tags = []
        for i in range(n):
            if pvalid[i] and tvalid[i]:
                p_tags.append(srcs[i])
                if ids[i] % 2 != 0:
                    p_tags.append(b"z")

        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_writer_nested_{n}.parquet")
        pw.write_file(out, [
            ("doc_id", "int64", ids),
            pw.NestedListColumn(
                "grams", "int32", np.asarray(g_vals, np.int32), g_outer,
                np.asarray(g_inner, np.int64), use_dictionary=True,
                valid=gvalid, inner_valid=np.asarray(g_ivalid, bool)),
            pw.ListStructColumn("spans", [
                ("w", "byte_array", sp_w, None, True),
                ("n", "int32", np.asarray(sp_nv, np.int32),
                 np.asarray(sp_nvalid, bool), True),
            ], sp_lengths, valid=spvalid,
                element_valid=np.asarray(sp_evalid, bool)),
            pw.StructColumn("meta", [
                ("lang", "byte_array", srcs, None, True),
                ("q", pw.StructColumn("q", [
                    ("score", "double", n_chars),
                    ("cnt", "int32", i13, cntvalid, True),
                ], valid=qvalid)),
            ], valid=mvalid),
            pw.StructColumn("prof", [
                ("x", "int32", (ids % 9).astype(np.int32)),
                ("tags", pw.ListColumn(
                    "tags", "byte_array", p_tags, p_lengths,
                    use_dictionary=True, valid=tvalid)),
            ], valid=pvalid),
        ], n, row_group_rows=200, page_rows=64, compression="zstd",
            utf8_columns={"spans.w", "meta.lang", "prof.tags"})
        df = spark.read.parquet(out)
        # F.get, not getItem: ANSI mode (Spark 4 default) makes getItem
        # throw on out-of-bounds; get returns NULL like the oracle's CASE
        g = F.col("grams")
        return df.select(
            "doc_id",
            F.get(F.get(g, 0), 0).alias("g00"),
            F.get(F.get(g, 0), 1).alias("g01"),
            F.get(F.get(g, 1), 0).alias("g10"),
            F.when(g.isNotNull(), F.size("grams")).alias("g_n"),
            F.get(F.col("spans"), 0).getField("w").alias("s0_w"),
            F.get(F.col("spans"), 0).getField("n").alias("s0_n"),
            F.get(F.col("spans"), 1).getField("w").alias("s1_w"),
            F.get(F.col("spans"), 1).getField("n").alias("s1_n"),
            F.col("meta.lang").alias("m_lang"),
            F.col("meta.q.score").alias("m_score"),
            F.col("meta.q.cnt").alias("m_cnt"),
            F.col("prof.x").alias("p_x"),
            F.get(F.col("prof.tags"), 0).alias("p_t0"),
            F.when(F.col("prof.tags").isNotNull(),
                   F.size("prof.tags")).alias("p_tn"),
        ).orderBy("doc_id")
    q["pq_writer_nested"] = pq_writer_nested

    def _write_any_depth_file(sf: str, tag: str) -> str:
        """Build the any-depth nested table (deterministic from
        ``documents`` doc_ids) and write it as ONE engine PAR1 file via
        the sink's rep/def walker; returns the file path. Shared by
        pq_writer_any_depth (Spark JVM read-back) and pq_read_assembly
        (engine record-assembly read-back)."""
        import tempfile

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from parquet_cpp_spark.sources.parquet_sink import _write_one_file
        docs = pq.read_table(os.path.join(sf, "documents.parquet"),
                             columns=["doc_id", "source"])
        raw = docs.column("doc_id").to_numpy()
        order = np.argsort(raw)
        ids = raw[order]
        srcs = np.asarray(docs.column("source").to_pylist(),
                          dtype=object)[order]
        n = len(ids)
        g3, ml, lsl = [], [], []
        for k in range(n):
            i = int(ids[k])
            # g3: null row / empty outer / [mid0, [[]]] where mid0 is
            # null or [[i%7], [i%11, i%13]] — every cut class at depth 3
            if i % 5 == 0:
                g3.append(None)
            elif i % 4 == 0:
                g3.append([])
            else:
                mid0 = None if i % 3 == 0 else [[i % 7], [i % 11, i % 13]]
                g3.append([mid0, [[]]])
            # ml: null map / 'a'->list / 'b'->empty list / 'c'->NULL value
            if i % 7 == 0:
                ml.append(None)
            else:
                m = [("a", [i % 9, i % 5])]
                if i % 2 == 0:
                    m.append(("b", []))
                if i % 3 == 0:
                    m.append(("c", None))
                ml.append(m)
            # lsl: null row / [full struct, null-struct | struct with
            # null field + null-or-1-elem inner list]
            if i % 11 == 0:
                lsl.append(None)
            else:
                e0 = {"a": i % 17, "t": [srcs[k]]}
                if i % 13 == 0:
                    e1 = None
                else:
                    e1 = {"a": i % 19 if i % 2 == 0 else None,
                          "t": None if i % 3 == 0 else ["k%d" % (i % 4)]}
                lsl.append([e0, e1])
        tbl = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "g3": pa.array(g3, pa.list_(pa.list_(pa.list_(pa.int32())))),
            "ml": pa.array(ml, pa.map_(pa.string(), pa.list_(pa.int32()))),
            "lsl": pa.array(lsl, pa.list_(pa.struct(
                [("a", pa.int32()), ("t", pa.list_(pa.string()))]))),
        })
        out = os.path.join(tempfile.gettempdir(),
                           f"pcs_{os.getuid()}_{tag}_{n}.parquet")
        _write_one_file(tbl, out + ".tmp", out, 200, 64, "zstd", 1)
        return out

    def pq_writer_any_depth(spark: SparkSession, sf: str) -> DataFrame:
        """ANY-depth nesting through the sink's rep/def walker: three
        column shapes deeper than the numpy spec classes express —
        list<list<list<int32>>> (3-deep), map<string, list<int32>>
        (nested map value, incl. a NULL value), and
        list<struct<a:int32, t:list<string>>> (a list inside a
        list<struct> element) — go through ``specs_from_arrow`` →
        ``arrow_nested.ArrowColumn`` (the vectorized analog of the
        reference's recursive path builder,
        ``arrow/path_internal.cc``/``arrow/schema.cc``) and out as one
        engine PAR1 file. Spark's JVM reader re-assembles the trees; the
        query flattens them to scalars the oracle recomputes from
        ``documents``. Bounded driver-side construction BY DESIGN (the
        harness builds the nested arrays; distributed writes are
        pq_sink_dataset's job)."""
        out = _write_any_depth_file(sf, "writer_anydepth")
        df = spark.read.parquet(out)
        g = F.col("g3")
        e1 = F.get(F.col("lsl"), 1)
        return df.select(
            "doc_id",
            F.when(g.isNotNull(), F.size(g)).alias("g_n"),
            F.get(F.get(F.get(g, 0), 0), 0).alias("g000"),
            F.get(F.get(F.get(g, 0), 1), 0).alias("g010"),
            F.get(F.get(F.get(g, 0), 1), 1).alias("g011"),
            F.when(F.get(g, 1).isNotNull(),
                   F.size(F.get(g, 1))).alias("g1_n"),
            F.when(F.get(F.get(g, 1), 0).isNotNull(),
                   F.size(F.get(F.get(g, 1), 0))).alias("g10_n"),
            F.when(F.col("ml").isNotNull(),
                   F.concat_ws(",", F.array_sort(F.map_keys("ml"))))
            .alias("m_keys"),
            F.get(F.try_element_at("ml", F.lit("a")), 0).alias("m_a0"),
            F.get(F.try_element_at("ml", F.lit("a")), 1).alias("m_a1"),
            F.when(F.try_element_at("ml", F.lit("b")).isNotNull(),
                   F.size(F.try_element_at("ml", F.lit("b"))))
            .alias("m_b_n"),
            F.when(F.col("lsl").isNotNull(),
                   F.size("lsl")).alias("l_n"),
            F.get(F.col("lsl"), 0).getField("a").alias("l_a0"),
            F.get(F.get(F.col("lsl"), 0).getField("t"), 0).alias("l_t00"),
            F.when(F.col("lsl").isNotNull(),
                   e1.isNull()).alias("l_e1null"),
            e1.getField("a").alias("l_a1"),
            F.get(e1.getField("t"), 0).alias("l_t10"),
            F.when(e1.getField("t").isNotNull(),
                   F.size(e1.getField("t"))).alias("l_t1n"),
        ).orderBy("doc_id")
    q["pq_writer_any_depth"] = pq_writer_any_depth

    def pq_read_assembly(spark: SparkSession, sf: str) -> DataFrame:
        """Dremel record ASSEMBLY under the oracle: the same any-depth
        nested file as pq_writer_any_depth, but read back by the
        ENGINE'S OWN reader (``sources/record_assembly.assemble_file``
        — rep/def levels to whole nested Arrow trees, the reference's
        ``arrow/reader.cc`` read path; no pyarrow.parquet, no Spark JVM
        reader anywhere in the decode). The assembled trees are
        flattened to the identical 18 scalars and compared against the
        same documents-derived oracle. Bounded driver-side loop BY
        DESIGN: the harness walks 500 assembled rows; the distributed
        read path is pq_sink_dataset/point_lookup's job."""
        from parquet_cpp_spark.sources.record_assembly import \
            assemble_file

        out = _write_any_depth_file(sf, "read_assembly")
        tbl = assemble_file(out)
        rows = []
        ids = tbl.column("doc_id").to_pylist()
        g3s = tbl.column("g3").to_pylist()
        mls = tbl.column("ml").to_pylist()
        lsls = tbl.column("lsl").to_pylist()

        def _get(seq, *idx):
            cur = seq
            for i in idx:
                if cur is None or not isinstance(cur, (list, tuple)) \
                        or i >= len(cur):
                    return None
                cur = cur[i]
            return cur

        for did, g3, ml, lsl in zip(ids, g3s, mls, lsls):
            md = dict(ml) if ml is not None else None
            e1 = _get(lsl, 1)
            t1 = e1.get("t") if isinstance(e1, dict) else None
            rows.append((
                did,
                len(g3) if g3 is not None else None,
                _get(g3, 0, 0, 0), _get(g3, 0, 1, 0), _get(g3, 0, 1, 1),
                len(g3[1]) if _get(g3, 1) is not None else None,
                len(g3[1][0]) if _get(g3, 1, 0) is not None else None,
                ",".join(sorted(md)) if md is not None else None,
                _get(md.get("a"), 0) if md is not None else None,
                _get(md.get("a"), 1) if md is not None else None,
                len(md["b"]) if md is not None
                and md.get("b") is not None else None,
                len(lsl) if lsl is not None else None,
                _get(lsl, 0) and lsl[0].get("a"),
                _get(lsl[0].get("t"), 0) if _get(lsl, 0) else None,
                (e1 is None) if lsl is not None else None,
                e1.get("a") if isinstance(e1, dict) else None,
                _get(t1, 0),
                len(t1) if t1 is not None else None,
            ))
        sdf = spark.createDataFrame(
            rows,
            schema="doc_id bigint, g_n int, g000 int, g010 int, "
                   "g011 int, g1_n int, g10_n int, m_keys string, "
                   "m_a0 int, m_a1 int, m_b_n int, l_n int, l_a0 int, "
                   "l_t00 string, l_e1null boolean, l_a1 int, "
                   "l_t10 string, l_t1n int")
        return sdf.orderBy("doc_id")
    q["pq_read_assembly"] = pq_read_assembly

    # --- multimodal: real pure-numpy decode (PPM/WAV/concat-PPM video) ---
    def media_features(spark: SparkSession, sf: str) -> DataFrame:
        """Feature extraction over persisted real media payloads (binary
        column + typed metadata; byte-capped mapInPandas batches), now
        FULLY oracle-checked: the synthesizer stored ground-truth features
        beside each payload (it built the bytes, so it knows them), the
        query compares decoded-vs-expected with exact float32 equality,
        and the SQL oracle reads the persisted truth — SQL never parses
        PPM/WAV, it only compares."""
        from parquet_cpp_spark.functions import multimodal
        media = spark.read.parquet(_media_fixture_path())
        feats = multimodal.extract_features(
            media.select("media_id", "kind", "payload", "width", "height",
                         "sample_rate", "n_frames"))
        exp = media.select("media_id",
                           F.col("expected_features").alias("ef"))
        return (feats.join(exp, "media_id")
                .select("media_id", "kind", "feat_dim", "decode_ok",
                        (F.col("features") == F.col("ef"))
                        .alias("feats_match"))
                .orderBy("media_id"))
    q["media_features"] = media_features

    # --- dedup / text-analysis / similarity operators ---
    from parquet_cpp_spark.functions import dedup, similarity, text

    def _docs(spark, sf):
        return spark.read.parquet(os.path.join(sf, "documents.parquet"))

    def _emb(spark, sf):
        return spark.read.parquet(os.path.join(sf, "embeddings.parquet"))

    q["minhash_signatures"] = lambda spark, sf: dedup.minhash_signatures(
        _docs(spark, sf))
    q["dedup_minhash"] = lambda spark, sf: dedup.minhash_dedup(
        _docs(spark, sf))
    q["simhash"] = lambda spark, sf: dedup.simhash(_docs(spark, sf))
    q["token_stats"] = lambda spark, sf: text.token_stats(_docs(spark, sf))
    q["quality_features"] = lambda spark, sf: text.quality_features(
        _docs(spark, sf))
    q["lang_id"] = lambda spark, sf: text.lang_id(_docs(spark, sf))
    q["fingerprints"] = lambda spark, sf: text.fingerprints(_docs(spark, sf))
    # Gopher-style repetition gates (dup-word / dup-3gram / top-word
    # shares as integer ppm): row-local HOFs, zero shuffle
    q["repetition_stats"] = lambda spark, sf: text.repetition_stats(
        _docs(spark, sf))
    q["shingle_fingerprints"] = lambda spark, sf: text.shingle_fingerprints(
        _docs(spark, sf))
    q["ann_ip_topk"] = lambda spark, sf: similarity.topk_inner_product_quantized(
        _emb(spark, sf), probe_ids=[0, 1, 2, 3, 4], k=10)
    # LSH scale path with a FULL oracle: integer-quantized hyperplane
    # buckets + exact integer rescoring (no float fold anywhere)
    q["ann_ip_lsh"] = lambda spark, sf: similarity.topk_inner_product_lsh(
        _emb(spark, sf), probe_ids=[0, 1, 2, 3, 4], k=10)
    # 2-probe multi-probe LSH: the weakest sign bit is also flipped,
    # lifting recall at the same plan shape — still fully oracle-checked
    q["ann_ip_lsh_mp"] = lambda spark, sf: similarity.topk_inner_product_lsh(
        _emb(spark, sf), probe_ids=[0, 1, 2, 3, 4], k=10, nprobe=2)
    # neardup_cosine runs the LSH SCALE path (bucket join, never the O(n^2)
    # cross join) with corpus-scaled planes (auto_n_planes) and the default
    # bucket cap; neardup_cosine_exact survives as the pytest baseline that
    # pins the LSH path's precision (tests/test_similarity.py)
    q["neardup_cosine"] = lambda spark, sf: similarity.neardup_cosine_lsh(
        _emb(spark, sf))
    q["neardup_jaccard"] = lambda spark, sf: dedup.neardup_jaccard(
        _docs(spark, sf))
    # benchmark decontamination: docs with doc_id % 97 == 0 stand in for
    # the eval corpus; every other doc sharing any 3-word shingle with it
    # is flagged with its collision count (broadcast bench-shingle set)
    q["decontamination"] = lambda spark, sf: dedup.decontaminate(
        _docs(spark, sf).filter(F.col("doc_id") % 97 != 0),
        _docs(spark, sf).filter(F.col("doc_id") % 97 == 0))
    # audit companion: the hot band buckets the cap rule skipped — the
    # no-silent-truncation contract for the capped LSH gate
    q["neardup_jaccard_dropped"] = \
        lambda spark, sf: dedup.neardup_jaccard_dropped_buckets(
            _docs(spark, sf))
    # the cosine family is integer-quantized end-to-end (the ann_ip_lsh
    # pattern): approximate operators (LSH gating, IVF cells) with EXACT
    # reproducible arithmetic, so every variant has a full SQL oracle.
    # neardup_cosine_lsh pins a TIGHT cap (32) at fixed planes so the cap
    # rule actually drops hot buckets at driver scale — both the capped
    # result AND the dropped-bucket audit are oracle-checked
    q["neardup_cosine_lsh"] = lambda spark, sf: similarity.neardup_cosine_lsh(
        _emb(spark, sf), n_planes=4, bucket_cap=32)
    q["neardup_cosine_dropped"] = \
        lambda spark, sf: similarity.neardup_cosine_dropped_buckets(
            _emb(spark, sf), n_planes=4, bucket_cap=32)
    q["ann_cosine_ivf"] = lambda spark, sf: similarity.topk_cosine_ivf(
        _emb(spark, sf), probe_ids=[0, 1, 2], k=5)
    q["ann_cosine_topk"] = lambda spark, sf: similarity.topk_cosine(
        _emb(spark, sf), probe_ids=[0, 1, 2], k=5)
    q["ann_cosine_lsh"] = lambda spark, sf: similarity.topk_cosine_lsh(
        _emb(spark, sf), probe_ids=[0, 1, 2], k=5)

    # The driver correctness-checks only the FIRST 50 entries. Rotate a
    # fixed set of long-stable codec variants past the cap so every query
    # that lacks a driver row (the ANN/near-dup family) sits inside the
    # checked window. The rotated-out kernels stay fully pinned by pytest
    # golden-blob round-trips (tests/test_chunk.py,
    # tests/test_types_compression.py, tests/test_golden_reference_files.py)
    # and remain runnable here past position 50.
    rotated_past_cap = [
        "rt_gzip", "rt_zstd", "rt_salted", "rt_paged", "rt_v2",
        "rt_delta_byte_array", "rt_delta_length_byte_array",
        "rt_nullable_flat", "rt_logical", "rt_annotations", "rt_struct",
        # r6: rt_nested_list joins the rotation to make window room for
        # pq_writer_tokens — its list-of-list level machinery stays pinned
        # by tests/test_nested.py AND the driver now exercises rep levels
        # end-to-end through a THIRD decoder (Spark's JVM reader) via
        # pq_writer_tokens; like every rotated query it keeps its oracle
        # and runs in test_query_matches_oracle.
        "rt_nested_list",
        # r7: rt_map and rt_unsigned rotate out to make window room for
        # pq_writer_struct + pq_sink_dataset. The chunk-format MAP shape
        # stays pinned by pytest goldens AND maps are now driven
        # end-to-end through Spark's JVM reader (pq_writer_struct);
        # unsigned sort order stays pinned by tests/test_chunk.py and
        # test_types_compression.py. Both keep their oracles and run in
        # test_query_matches_oracle.
        "rt_map", "rt_unsigned",
        # r7 (late): rt_nullable rotates out to make window room for
        # pq_snapshot_read. Its max_def=2 null back-fill stays pinned by
        # tests/test_nested.py and the golden blobs, and nullable levels
        # are driven end-to-end through three independent readers by the
        # in-window pq_writer_nested (null list slots + null elements).
        "rt_nullable",
        # r7 (late): rt_rle rotates out to make window room for
        # pq_partitioned_scan. The RLE/bit-packed hybrid core stays
        # exercised by EVERY in-window query (all rep/def level streams)
        # and by rt_dict's indices, and stays golden-pinned by
        # tests/test_rle.py + test_chunk.py round-trips.
        "rt_rle",
        # r7 (late): the pq_* additions had silently pushed six ANN /
        # near-dup queries past the 50-entry cap. Rebalanced explicitly:
        # rotate out queries whose machinery an in-window twin drives —
        # pq_writer_roundtrip (flat-table writer harness; the same
        # writer+JVM-read loop runs in-window via pq_writer_tokens and
        # the distributed pq_sink_dataset), token_count (subset of
        # token_stats' aggregate family), lang_profile (lang family
        # driven by lang_id + quality_features), the two dropped-bucket
        # AUDIT variants (their primary queries stay in-window), and the
        # cosine top-k/LSH twins of the in-window ann_ip_* shapes
        # (cosine scoring itself stays driver-checked via
        # ann_cosine_ivf's exact integer rescoring). This brings
        # neardup_cosine_lsh + ann_cosine_ivf back INSIDE the window and
        # makes room for pq_schema_evolution. All seven keep their
        # oracles and run in test_query_matches_oracle.
        "pq_writer_roundtrip", "token_count", "lang_profile",
        "neardup_jaccard_dropped", "neardup_cosine_dropped",
        "ann_cosine_topk", "ann_cosine_lsh",
        # r7 (late): events_hourly rotates out to make window room for
        # pq_dedup_deletes. The relational family stays driver-checked
        # via pricing_summary + top_customers + sessionization (whose
        # window/lag plan subsumes the hourly groupBy shape); the query
        # keeps its oracle in test_query_matches_oracle.
        "events_hourly",
        # r7 (late): dedup_tokens rotates out to make window room for
        # dedup_token_spans — both are md5-groupBy exact dedups and the
        # in-window dedup_exact drives the identical machinery on the
        # text column; the span query adds NEW machinery (array-HOF
        # shingling + winnowing + fingerprint shuffle) and takes the
        # checked slot. dedup_tokens keeps its oracle in
        # test_query_matches_oracle.
        "dedup_tokens",
        # r7 (late): fingerprints rotates out to make window room for
        # repetition_stats (a NEW quality-gate family — Gopher
        # repetition filters — vs fingerprints' md5 projections, whose
        # machinery the in-window shingle_fingerprints also drives);
        # keeps its oracle in test_query_matches_oracle.
        "fingerprints",
        # r7 (late): doc_packing is born past the cap — the packing
        # family's window slot belongs to seq_packing (stream slicing),
        # and the boundary-respecting plan keeps its full recursive-CTE
        # oracle in test_query_matches_oracle.
        "doc_packing",
        # r7 (late): pq_rename_evolution is born past the cap — the
        # window is full and its scan machinery (snapshot planning +
        # per-file remap) is driven in-window by pq_dedup_deletes /
        # pq_snapshot_read; oracle runs in test_query_matches_oracle
        # and tests/test_rename_evolution.py pins the semantics.
        "pq_rename_evolution",
    ]
    ordered = {k: v for k, v in q.items() if k not in rotated_past_cap}
    for k in rotated_past_cap:
        ordered[k] = q[k]
    return ordered


def oracle_sql() -> dict[str, str]:
    identity = tokens_src.tokens_oracle_sql(NUM_PARTS)
    o = {
        "rt_auto": identity,
        # codec_selection: the selector's choices and encoded sizes are
        # deterministic functions of the data (pinned across parallelism
        # in pytest), so the oracle is the reviewed golden histogram at
        # sf0.01 — the driver's correctness scale — expressed as VALUES.
        # Changing the selector or a kernel's byte layout deliberately
        # means updating this pin (same contract as the pytest golden).
        "codec_selection": """
            SELECT * FROM (VALUES
                ('doc_id', 'DELTA_BYTE_ARRAY', CAST(8 AS BIGINT),
                 CAST(1563 AS BIGINT)),
                ('n_tok', 'RLE', CAST(8 AS BIGINT), CAST(672 AS BIGINT)),
                ('source', 'RLE_DICTIONARY', CAST(8 AS BIGINT),
                 CAST(820 AS BIGINT)),
                ('tokens', 'RLE_DICTIONARY', CAST(8 AS BIGINT),
                 CAST(20448 AS BIGINT))
            ) AS t(col, codec, n_chunks, enc_bytes)
        """,
        "pq_writer_tokens": identity,
        "rt_plain": identity,
        "rt_rle": identity,
        "rt_delta": identity,
        "rt_dict": identity,
        "rt_fsst": identity,
        "rt_delta_byte_array": identity,
        "rt_delta_length_byte_array": identity,
        "rt_gzip": identity,
        "rt_zstd": identity,
        "rt_v2": identity,
        "rt_paged": identity,
        "rt_nullable": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   md5(coalesce(array_to_string(list_transform(
                       {_NULLABLE_TOKEN_EXPR_DUCKDB},
                       t -> coalesce(CAST(t AS VARCHAR), 'N')), ' '), ''))
                       AS tok_hash,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
                   source
            FROM documents
        """,
        "rt_salted": identity,
        "rt_nullable_flat": """
            SELECT event_id,
                   CASE WHEN user_id % 7 <> 0 THEN user_id END AS user_n,
                   CASE WHEN value >= 0.1 THEN value END AS value_n,
                   CASE WHEN event_id % 9 <> 0 THEN event_type END
                       AS type_n
            FROM events
        """,
        "rt_logical": """
            SELECT l_orderkey, l_linenumber,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
                       AS price_str,
                   strftime(l_shipdate, '%Y-%m-%d %H:%M:%S.%f')
                       AS ship_ts_str,
                   CAST(CAST(l_shipdate AS DATE) AS VARCHAR)
                       AS ship_date_str
            FROM lineitem
        """,
        "rt_struct": """
            SELECT event_id, event_type, value,
                   CAST(hour(ts) AS INTEGER) AS hour
            FROM events
        """,
        "rt_annotations": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(doc_id % 200 AS INT) AS u8,
                   CAST(doc_id % 60000 AS INT) AS u16,
                   source AS enum_c,
                   '{"n_tok":' ||
                       CAST(len(string_split(text, ' ')) AS INT) || '}'
                       AS json_c
            FROM documents
        """,
        "rt_unsigned": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(4294967295 - doc_id AS BIGINT) AS uid32,
                   CAST(CAST('18446744073709551615' AS HUGEINT)
                        - doc_id * 1000 AS VARCHAR) AS uid64
            FROM documents
        """,
        "rt_map": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   md5(CASE
                       WHEN n % 5 = 0 THEN ''
                       WHEN n % 2 = 0 THEN
                           'n:' || n || '|h:' || CAST(n // 2 AS INT)
                       ELSE 'n:' || n || '|h:' || CAST(n // 2 AS INT) ||
                            '|x:' || (n * 3)
                       END) AS map_hash
            FROM (SELECT doc_id,
                         CAST(len(string_split(text, ' ')) AS INT) AS n
                  FROM documents)
        """,
        "rt_nested_list": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   md5(coalesce(array_to_string(list_transform(
                       list_transform(
                           range(1, CAST(ceil(len(t) / 5.0) AS INT) + 1),
                           i -> t[(i-1)*5+1 : i*5]),
                       w -> array_to_string(list_transform(w,
                           x -> CAST(x AS VARCHAR)), '-')), '|'), ''))
                       AS win_hash
            FROM (SELECT doc_id, {tokens_src._TOKEN_EXPR_DUCKDB} AS t
                  FROM documents)
        """,
        "rt_typed": """
            SELECT event_id,
                   date_diff('microsecond',
                             TIMESTAMP '2020-01-01 00:00:00', ts) AS ts_us,
                   event_type,
                   value,
                   value > 0.5 AS is_high
            FROM events
        """,
        "chunk_stats_tokens": f"""
            SELECT doc_id % {NUM_PARTS} AS part_id,
                   COUNT(t) AS n_values,
                   CAST(MIN(t) AS BIGINT) AS min_val,
                   CAST(MAX(t) AS BIGINT) AS max_val
            FROM (SELECT doc_id,
                         unnest(list_transform(string_split(text, ' '),
                             w -> CAST((length(w) * 2654435761 + ascii(w))
                                       % 32768 AS INTEGER))) AS t
                  FROM documents)
            GROUP BY 1 ORDER BY 1
        """,
        # manifest raw_bytes from first principles, mirroring the chunk
        # encoder's raw-size accounting (chunk.py): byte_array columns
        # (doc_id, source) = string bytes + 4 B length/value; int32 columns
        # (n_tok) = 4 B/value; the tokens list column = 4 B/value + 2 B of
        # rep+def level raw per value slot (empty lists still carry one
        # level slot — greatest(n_tok, 1))
        "compression_manifest": f"""
            SELECT doc_id % {NUM_PARTS} AS part_id,
                   COUNT(*) AS n_rows,
                   CAST(SUM(length(CAST(doc_id AS VARCHAR)))
                        + SUM(length(source))
                        + 12 * COUNT(*)
                        + 4 * SUM(len(string_split(text, ' ')))
                        + 2 * SUM(greatest(len(string_split(text, ' ')), 1))
                        AS BIGINT) AS raw_bytes
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "dedup_exact":
            "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)",
        "dedup_tokens": f"""
            SELECT CAST(min(doc_id) AS VARCHAR) AS doc_id
            FROM (SELECT doc_id,
                         md5(coalesce(array_to_string(
                             {tokens_src._TOKEN_EXPR_DUCKDB}, ' '), ''))
                             AS content_hash
                  FROM documents)
            GROUP BY content_hash
        """,
        # duplicated token spans: the same k=8 shingle md5 + w=4 winnow
        # grammar replayed over the identical token expression
        "dedup_token_spans": f"""
            WITH tok AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     {tokens_src._TOKEN_EXPR_DUCKDB} AS tokens
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_transform(generate_series(1, len(tokens) - 7),
                        i -> md5(array_to_string(
                               list_transform(tokens[i:i+7],
                                              x -> CAST(x AS VARCHAR)),
                               ' '))) AS hashes
              FROM tok WHERE len(tokens) >= 8
            ), fp AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(hashes) - 3, 1)),
                       j -> list_min(hashes[j:j+3]))) AS fps
              FROM sh
            ), x AS (SELECT doc_id, unnest(fps) AS fp FROM fp)
            SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
            FROM x GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
        """,
        "training_subset": """
            WITH keep AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            feats AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS INTEGER)
                           AS n_words,
                       CAST(floor(100 * len(list_filter(
                           string_split(text, ' '),
                           w -> list_contains(['the','a','of','and','to'],
                                              w)))
                           / len(string_split(text, ' '))) AS INTEGER)
                           AS stopword_pct,
                       CASE WHEN contains(' ' || text || ' ', ' the ')
                            THEN 'en'
                            WHEN contains(' ' || text || ' ', ' der ')
                            THEN 'de'
                            WHEN contains(' ' || text || ' ', ' le ')
                            THEN 'fr'
                            WHEN contains(' ' || text || ' ', ' el ')
                            THEN 'es'
                            WHEN contains(' ' || text || ' ', ' de ')
                            THEN 'zh'
                            ELSE 'und' END AS lang_pred
                FROM documents)
            SELECT f.doc_id, f.n_words, f.stopword_pct
            FROM feats f JOIN keep k ON f.doc_id = k.doc_id
            WHERE f.stopword_pct >= 5 AND f.n_words >= 20
              AND f.lang_pred = 'en'
        """,
        "vocab_topk": f"""
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT unnest({tokens_src._TOKEN_EXPR_DUCKDB}) AS token
                  FROM documents)
            GROUP BY token ORDER BY n DESC, token LIMIT 100
        """,
        "token_count": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
            FROM documents
        """,
        "quality_stats": """
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
                   CAST(list_max(list_transform(string_split(text, ' '),
                        w -> length(w))) AS INTEGER) AS max_word_len
            FROM documents
        """,
        "lang_profile": """
            SELECT lang, source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang, source ORDER BY lang, source
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS sum_qty_cents,
                   CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS
                       BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount))
                       * 100 + 0.5) AS BIGINT)) AS BIGINT)
                       AS sum_disc_cents,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            SELECT c_custkey, c_name,
                   CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS
                       BIGINT)) AS BIGINT) AS total_cents,
                   COUNT(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY total_cents DESC, c_custkey LIMIT 10
        """,
        "events_hourly": """
            SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
                   event_type,
                   COUNT(*) AS n,
                   COUNT(DISTINCT user_id) AS n_users,
                   MIN(event_id) AS first_event
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "point_lookup": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
                   source
            FROM documents WHERE doc_id = 42
        """,
        "minhash_signatures": """
            SELECT doc_id,
                   min(md5(w || ':0')) AS sig0, min(md5(w || ':1')) AS sig1,
                   min(md5(w || ':2')) AS sig2, min(md5(w || ':3')) AS sig3
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY doc_id
        """,
        "dedup_minhash": """
            WITH sig AS (
                SELECT doc_id,
                       min(md5(w || ':0')) s0, min(md5(w || ':1')) s1,
                       min(md5(w || ':2')) s2, min(md5(w || ':3')) s3
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY doc_id),
            b1 AS (SELECT s0, s1, min(doc_id) keep1 FROM sig GROUP BY s0, s1),
            b2 AS (SELECT s2, s3, min(doc_id) keep2 FROM sig GROUP BY s2, s3)
            SELECT sig.doc_id AS doc_id
            FROM sig JOIN b1 USING (s0, s1) JOIN b2 USING (s2, s3)
            WHERE sig.doc_id = b1.keep1 AND sig.doc_id = b2.keep2
        """,
        "token_stats": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                        w -> greatest(CAST(ceil(length(w) / 4.0) AS INTEGER),
                                      1))) AS INTEGER) AS n_subwords
            FROM documents
        """,
        "quality_features": """
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
                   CAST(list_max(list_transform(string_split(text, ' '),
                        w -> length(w))) AS INTEGER) AS max_word_len,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> list_contains(['the','a','of','and','to'], w)))
                        AS INTEGER) AS stopword_hits,
                   CAST(floor(100 * len(list_filter(string_split(text, ' '),
                        w -> list_contains(['the','a','of','and','to'], w)))
                        / len(string_split(text, ' '))) AS INTEGER)
                        AS stopword_pct
            FROM documents
        """,
        "lang_id": """
            SELECT doc_id,
                   CASE WHEN contains(' ' || text || ' ', ' the ') THEN 'en'
                        WHEN contains(' ' || text || ' ', ' der ') THEN 'de'
                        WHEN contains(' ' || text || ' ', ' le ') THEN 'fr'
                        WHEN contains(' ' || text || ' ', ' el ') THEN 'es'
                        WHEN contains(' ' || text || ' ', ' de ') THEN 'zh'
                        ELSE 'und' END AS lang_pred
            FROM documents
        """,
        "fingerprints": """
            SELECT doc_id, md5(text) AS fp_full,
                   md5(array_to_string(string_split(text, ' ')[1:8], ' '))
                       AS fp_prefix
            FROM documents
        """,
        # Gopher repetition gates: same word/3-gram grammars, integer ppm
        # via truncating division (// here, div on the Spark side)
        "repetition_stats": """
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ), g AS (
              SELECT doc_id, ws,
                     list_transform(
                       generate_series(1, greatest(len(ws) - 2, 0)),
                       i -> array_to_string(ws[i:i+2], ' ')) AS g3
              FROM w
            )
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CASE WHEN len(ws) > 0 THEN
                     (CAST(1000000 AS BIGINT)
                      * (len(ws) - len(list_distinct(ws)))) // len(ws)
                   ELSE 0 END AS dup_word_ppm,
                   CASE WHEN len(g3) > 0 THEN
                     (CAST(1000000 AS BIGINT)
                      * (len(g3) - len(list_distinct(g3)))) // len(g3)
                   ELSE 0 END AS dup_3gram_ppm,
                   CASE WHEN len(ws) > 0 THEN
                     (CAST(1000000 AS BIGINT) * coalesce(list_max(
                        list_transform(list_distinct(ws),
                          ww -> len(list_filter(ws, x -> x = ww)))), 0))
                     // len(ws)
                   ELSE 0 END AS top_word_ppm
            FROM g
        """,
        # LSH scale path oracle (the exact cross-join baseline lives in
        # tests/test_similarity.py, not in the driver set)
        # the writer round trip: SQL recomputes the written projection from
        # the source table; the parquet file itself is exercised by the
        # Spark JVM read on the query side
        "pq_writer_roundtrip": """
            SELECT doc_id, source,
                   CASE WHEN doc_id % 7 <> 0
                        THEN CAST(length(text) AS INTEGER) END AS n_chars
            FROM documents ORDER BY doc_id
        """,
        # nested writer round trip: SQL recomputes each FLATTENED struct
        # field / map entry from documents; the null pattern encodes the
        # combined def levels (struct-null beats field-null, map-null
        # beats value-null) the parquet file must reproduce
        "pq_writer_struct": """
            SELECT doc_id,
                   CASE WHEN doc_id % 5 <> 0 AND doc_id % 7 <> 0
                        THEN CAST(length(text) AS INTEGER) END AS m_chars,
                   CASE WHEN doc_id % 5 <> 0 THEN source END AS m_origin,
                   CASE WHEN doc_id % 11 <> 0
                        THEN CAST(len(string_split(text, ' ')) AS INTEGER)
                        END AS t_a,
                   CASE WHEN doc_id % 11 <> 0 AND doc_id % 3 <> 0
                        THEN CAST(doc_id % 100 AS INTEGER) END AS t_b
            FROM documents ORDER BY doc_id
        """,
        "pq_sink_dataset": identity,
        "pq_snapshot_read": identity,
        "pq_engine_scan": identity,
        # pushdown scan: DuckDB applies the SAME WHERE clause to the
        # identity token table the engine scan filtered via stats-pruned
        # row groups + bloom + residual Arrow filter
        "pq_scan_pushdown": f"""
            SELECT * FROM ({identity}) t
            WHERE n_tok >= 20 AND n_tok < 90 AND source = 'src7'
        """,
        # partitioned layout: DuckDB applies the same WHERE the engine
        # scan answered via partition-segment pruning + residual filter
        "pq_partitioned_scan": f"""
            SELECT * FROM ({identity}) t
            WHERE source IN ('src3', 'src7') AND n_tok >= 50
        """,
        # schema evolution: v1 files (even doc_id) were written without
        # source; the engine union null-fills them (projected to the
        # sentinel), v2 rows keep their value
        "pq_schema_evolution": f"""
            SELECT doc_id, tok_hash, n_tok,
                   CASE WHEN CAST(doc_id AS BIGINT) % 2 = 0
                        THEN '__none__' ELSE source END AS source
            FROM ({identity}) t
        """,
        # equality deletes: the survivors after the kill list (every 7th
        # doc_id) is committed as delete files and anti-joined by the scan
        "pq_dedup_deletes": f"""
            SELECT * FROM ({identity}) t
            WHERE CAST(doc_id AS BIGINT) % 7 != 0
        """,
        # rename evolution: the untouched files read under the new name
        "pq_rename_evolution": f"""
            SELECT doc_id, tok_hash, n_tok, source AS origin
            FROM ({identity}) t
        """,
        # boundary-respecting packing: the greedy per-partition bin
        # recurrence (open bin b with fill f; oversize -> own bin;
        # overflow -> fresh bin) replayed as a recursive CTE
        "doc_packing": f"""
            WITH RECURSIVE base AS (
              SELECT doc_id % {NUM_PARTS} AS part_id,
                     CAST(doc_id AS VARCHAR) AS doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT)
                         AS n_tok,
                     ROW_NUMBER() OVER (PARTITION BY doc_id % {NUM_PARTS}
                                        ORDER BY doc_id) AS rn
              FROM documents
            ), r AS (
              SELECT part_id, doc_id, n_tok, rn,
                     CAST(0 AS BIGINT) AS bin_id,
                     CASE WHEN n_tok > 512 THEN CAST(1 AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END AS b,
                     CASE WHEN n_tok > 512 THEN CAST(0 AS BIGINT)
                          ELSE n_tok END AS f
              FROM base WHERE rn = 1
              UNION ALL
              SELECT q.part_id, q.doc_id, q.n_tok, q.rn,
                     CASE WHEN q.n_tok > 512
                          THEN r.b + CASE WHEN r.f > 0 THEN 1 ELSE 0 END
                          WHEN r.f + q.n_tok <= 512 THEN r.b
                          ELSE r.b + 1 END AS bin_id,
                     CASE WHEN q.n_tok > 512
                          THEN r.b + CASE WHEN r.f > 0 THEN 1 ELSE 0 END
                               + 1
                          WHEN r.f + q.n_tok <= 512 THEN r.b
                          ELSE r.b + 1 END AS b,
                     CASE WHEN q.n_tok > 512 THEN CAST(0 AS BIGINT)
                          WHEN r.f + q.n_tok <= 512 THEN r.f + q.n_tok
                          ELSE q.n_tok END AS f
              FROM base q JOIN r ON q.part_id = r.part_id
                                AND q.rn = r.rn + 1
            )
            SELECT part_id, doc_id, bin_id, n_tok,
                   CASE WHEN n_tok > 512 THEN 1 ELSE 0 END AS oversize
            FROM r
        """,
        # chunk-format selective decode: same WHERE semantics in DuckDB
        "rt_selective": f"""
            SELECT * FROM ({identity}) t
            WHERE n_tok >= 30 AND n_tok < 60 AND source <> 'src3'
        """,
        # deep-nested writer round trip: SQL recomputes every flattened
        # leaf from documents; each CASE chain mirrors one def-level
        # accumulation path (null ancestors beat null fields/lists)
        "pq_writer_nested": """
            SELECT doc_id,
                   CASE WHEN doc_id % 5 <> 0
                        THEN CAST(length(text) % 7 AS INTEGER) END AS g00,
                   CASE WHEN doc_id % 5 <> 0
                        THEN CAST(doc_id % 13 AS INTEGER) END AS g01,
                   CASE WHEN doc_id % 5 <> 0 AND doc_id % 3 <> 0
                             AND doc_id % 7 <> 0
                        THEN CAST(doc_id % 17 AS INTEGER) END AS g10,
                   CASE WHEN doc_id % 5 <> 0
                        THEN CAST(CASE WHEN doc_id % 3 <> 0 THEN 2
                                       ELSE 1 END AS INTEGER) END AS g_n,
                   CASE WHEN doc_id % 11 <> 0 THEN source END AS s0_w,
                   CASE WHEN doc_id % 11 <> 0
                        THEN CAST(length(text) % 7 AS INTEGER) END AS s0_n,
                   CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0
                        THEN 'k' || CAST(doc_id % 4 AS VARCHAR)
                        END AS s1_w,
                   CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0
                             AND doc_id % 2 <> 0
                        THEN CAST(doc_id % 17 AS INTEGER) END AS s1_n,
                   CASE WHEN doc_id % 7 <> 0 THEN source END AS m_lang,
                   CASE WHEN doc_id % 7 <> 0 AND doc_id % 3 <> 0
                        THEN CAST(length(text) AS DOUBLE) END AS m_score,
                   CASE WHEN doc_id % 7 <> 0 AND doc_id % 3 <> 0
                             AND doc_id % 2 <> 0
                        THEN CAST(doc_id % 13 AS INTEGER) END AS m_cnt,
                   CASE WHEN doc_id % 13 <> 0
                        THEN CAST(doc_id % 9 AS INTEGER) END AS p_x,
                   CASE WHEN doc_id % 13 <> 0 AND doc_id % 5 <> 0
                        THEN source END AS p_t0,
                   CASE WHEN doc_id % 13 <> 0 AND doc_id % 5 <> 0
                        THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 1
                                       ELSE 2 END AS INTEGER) END AS p_tn
            FROM documents ORDER BY doc_id
        """,
        "pq_writer_any_depth": """
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        WHEN doc_id % 4 = 0 THEN CAST(0 AS INTEGER)
                        ELSE CAST(2 AS INTEGER) END AS g_n,
                   CASE WHEN doc_id % 5 <> 0 AND doc_id % 4 <> 0
                             AND doc_id % 3 <> 0
                        THEN CAST(doc_id % 7 AS INTEGER) END AS g000,
                   CASE WHEN doc_id % 5 <> 0 AND doc_id % 4 <> 0
                             AND doc_id % 3 <> 0
                        THEN CAST(doc_id % 11 AS INTEGER) END AS g010,
                   CASE WHEN doc_id % 5 <> 0 AND doc_id % 4 <> 0
                             AND doc_id % 3 <> 0
                        THEN CAST(doc_id % 13 AS INTEGER) END AS g011,
                   CASE WHEN doc_id % 5 <> 0 AND doc_id % 4 <> 0
                        THEN CAST(1 AS INTEGER) END AS g1_n,
                   CASE WHEN doc_id % 5 <> 0 AND doc_id % 4 <> 0
                        THEN CAST(0 AS INTEGER) END AS g10_n,
                   CASE WHEN doc_id % 7 <> 0
                        THEN 'a'
                             || CASE WHEN doc_id % 2 = 0
                                     THEN ',b' ELSE '' END
                             || CASE WHEN doc_id % 3 = 0
                                     THEN ',c' ELSE '' END
                        END AS m_keys,
                   CASE WHEN doc_id % 7 <> 0
                        THEN CAST(doc_id % 9 AS INTEGER) END AS m_a0,
                   CASE WHEN doc_id % 7 <> 0
                        THEN CAST(doc_id % 5 AS INTEGER) END AS m_a1,
                   CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 0
                        THEN CAST(0 AS INTEGER) END AS m_b_n,
                   CASE WHEN doc_id % 11 <> 0
                        THEN CAST(2 AS INTEGER) END AS l_n,
                   CASE WHEN doc_id % 11 <> 0
                        THEN CAST(doc_id % 17 AS INTEGER) END AS l_a0,
                   CASE WHEN doc_id % 11 <> 0 THEN source END AS l_t00,
                   CASE WHEN doc_id % 11 <> 0
                        THEN (doc_id % 13 = 0) END AS l_e1null,
                   CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0
                             AND doc_id % 2 = 0
                        THEN CAST(doc_id % 19 AS INTEGER) END AS l_a1,
                   CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0
                             AND doc_id % 3 <> 0
                        THEN 'k' || CAST(doc_id % 4 AS VARCHAR)
                        END AS l_t10,
                   CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0
                             AND doc_id % 3 <> 0
                        THEN CAST(1 AS INTEGER) END AS l_t1n
            FROM documents ORDER BY doc_id
        """,
        "media_features": _media_features_oracle_sql(),
        "neardup_cosine": _neardup_cosine_lsh_oracle_sql(),
        "neardup_cosine_dropped": _neardup_cosine_dropped_oracle_sql(
            n_planes=4, bucket_cap=32),
        "neardup_jaccard_dropped": """
            WITH sig AS (
                SELECT doc_id,
                       min(md5(w || ':0')) s0, min(md5(w || ':1')) s1,
                       min(md5(w || ':2')) s2, min(md5(w || ':3')) s3
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY doc_id)
            SELECT 0 AS band, s0 AS bi, s1 AS bj,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM sig GROUP BY s0, s1 HAVING count(*) > 32
            UNION ALL
            SELECT 1 AS band, s2 AS bi, s3 AS bj,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM sig GROUP BY s2, s3 HAVING count(*) > 32
        """,
        "decontamination": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
            sh AS (SELECT doc_id,
                          unnest(list_transform(range(1, len(w) - 1),
                              i -> md5(w[i] || '|' || w[i+1] || '|'
                                       || w[i+2]))) AS s
                   FROM w),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
            SELECT sh.doc_id, count(*) AS n_hits
            FROM sh JOIN bench USING (s)
            WHERE sh.doc_id % 97 <> 0
            GROUP BY sh.doc_id
        """,
        "neardup_jaccard": """
            WITH sig AS (
                SELECT doc_id,
                       min(md5(w || ':0')) s0, min(md5(w || ':1')) s1,
                       min(md5(w || ':2')) s2, min(md5(w || ':3')) s3
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY doc_id),
            ok0 AS (SELECT s0, s1 FROM sig GROUP BY s0, s1
                    HAVING count(*) BETWEEN 2 AND 32),
            ok1 AS (SELECT s2, s3 FROM sig GROUP BY s2, s3
                    HAVING count(*) BETWEEN 2 AND 32),
            cand AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                  AND ((a.s0 = b.s0 AND a.s1 = b.s1
                        AND EXISTS (SELECT 1 FROM ok0
                                    WHERE ok0.s0 = a.s0 AND ok0.s1 = a.s1))
                    OR (a.s2 = b.s2 AND a.s3 = b.s3
                        AND EXISTS (SELECT 1 FROM ok1
                                    WHERE ok1.s2 = a.s2 AND ok1.s3 = a.s3)))),
            ws AS (SELECT doc_id,
                          list_distinct(string_split(text, ' ')) AS wset
                   FROM documents)
            SELECT a_id, b_id,
                   CAST(floor(100.0 * len(list_intersect(wa.wset, wb.wset)) /
                        (len(wa.wset) + len(wb.wset) -
                         len(list_intersect(wa.wset, wb.wset))))
                        AS INTEGER) AS jaccard_pct
            FROM cand
            JOIN ws wa ON wa.doc_id = a_id
            JOIN ws wb ON wb.doc_id = b_id
            WHERE floor(100.0 * len(list_intersect(wa.wset, wb.wset)) /
                  (len(wa.wset) + len(wb.wset) -
                   len(list_intersect(wa.wset, wb.wset)))) >= 30
        """,
        "shingle_fingerprints": """
            SELECT doc_id,
                   list_min(sh) AS fp_min,
                   coalesce(array_to_string(list_sort(sh)[1:4], ','), '')
                       AS fp_set
            FROM (SELECT doc_id,
                         list_transform(range(1, len(w) - 1),
                             i -> md5(w[i] || '|' || w[i+1] || '|' || w[i+2]))
                             AS sh
                  FROM (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents))
        """,
        "sessionization": """
            WITH g AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR date_diff('microsecond',
                                              lag(ts) OVER w, ts)
                                    > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
                SELECT user_id, ts, event_id,
                       SUM(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS session_id
                FROM g)
            SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
                   strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f')
                       AS session_start,
                   strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f')
                       AS session_end,
                   COUNT(*) AS n_events,
                   MIN(event_id) AS first_event
            FROM s GROUP BY user_id, session_id
        """,
        "seq_packing": f"""
            WITH d AS (SELECT doc_id % {NUM_PARTS} AS part_id, doc_id,
                              list_prepend(1, {tokens_src._TOKEN_EXPR_DUCKDB})
                                  AS toks
                       FROM documents),
            c AS (SELECT *, coalesce(SUM(len(toks)) OVER (
                      PARTITION BY part_id ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum
                  FROM d),
            f AS (SELECT part_id, cum + u.o - 1 AS pos, u.t AS tok
                  FROM (SELECT part_id, cum,
                               unnest(list_transform(
                                   range(1, len(toks) + 1),
                                   i -> {{'o': i, 't': toks[i]}})) AS u
                        FROM c))
            SELECT part_id, CAST(pos // 512 AS INTEGER) AS seq_id,
                   md5(array_to_string(
                       list(CAST(tok AS VARCHAR) ORDER BY pos), ' '))
                       AS seq_hash
            FROM f GROUP BY 1, 2 HAVING count(*) = 512
        """,
        "training_mixture": f"""
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       CAST({_md5_hex8_int_sql(
                           "CAST(doc_id AS VARCHAR) || ':mix'")} AS BIGINT)
                           % 10000 AS b,
                       CASE source WHEN 'src0' THEN 1.0
                                   WHEN 'src1' THEN 0.5
                                   WHEN 'src2' THEN 0.25
                                   WHEN 'src3' THEN 0.1
                                   ELSE 0.0 END AS r
                FROM documents)
            WHERE b < r * 10000
        """,
        "simhash": _simhash_oracle_sql(),
        "ann_ip_lsh": _ann_ip_lsh_oracle_sql(),
        "ann_ip_lsh_mp": _ann_ip_lsh_mp_oracle_sql(),
        "ann_cosine_topk": _ann_cosine_topk_oracle_sql(),
        "ann_cosine_lsh": _ann_cosine_lsh_oracle_sql(),
        "ann_cosine_ivf": _ann_cosine_ivf_oracle_sql(),
        "neardup_cosine_lsh": _neardup_cosine_lsh_oracle_sql(
            n_planes=4, bucket_cap=32),
        "ann_ip_topk": """
            WITH q AS (
                SELECT vec_id,
                       list_transform(embedding,
                           x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS qe
                FROM embeddings),
            p AS (SELECT vec_id AS probe_id, qe AS qp FROM q
                  WHERE vec_id IN (0, 1, 2, 3, 4)),
            s AS (SELECT probe_id, vec_id,
                         CAST(list_dot_product(qe, qp) AS BIGINT) AS score
                  FROM q, p WHERE vec_id <> probe_id),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY probe_id ORDER BY score DESC, vec_id)
                      AS rank FROM s)
            SELECT probe_id, vec_id, score, CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 10
        """,
    }
    # the engine's record-assembly read of the any-depth file flattens
    # to the IDENTICAL scalars as the Spark-JVM read — same oracle
    o["pq_read_assembly"] = o["pq_writer_any_depth"]
    return o
