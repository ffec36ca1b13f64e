"""The encode job: partitioning strategy, lineage manifest, checkpoint/resume.

Pipeline (SURVEY §7 step 4-6): assign ``part_id`` -> route each row to the
task whose index is its part id (``repartitionById``) -> ``mapInArrow``
encode (``operators.encode_arrow``) -> chunk DataFrame + manifest. This is
the engine's only shuffle; everything else is embarrassingly parallel.

Scale design (100 TB / 10^12 sequences):
- ``part_id = pmod(xxhash64(doc_id), P)`` gives uniform, deterministic
  partitions regardless of input layout. P is chosen so one partition's
  token payload is ~``target_partition_bytes`` (default 256 MiB raw, well
  under executor memory after the in-flight overhead of the encode task).
- Skew: dense ids put exactly part ``i`` in task ``i`` (a hash exchange
  would hash them again and pile parts together), and a hash of a
  high-cardinality key (doc_id) cannot skew by key frequency, only by
  payload variance (jumbo docs). ``add_salted_part_id`` covers the
  alternative layout where the input arrives partitioned by the
  Zipf-skewed ``source`` column — the hot source is split across
  ``pmod(xxhash64(doc_id), spread)`` sub-keys (explicit salting per the
  north rule) while tiny sources coalesce; its 64-bit ids share tasks by
  ``pmod(id, P)``, as under a hash exchange.
- Resume: the manifest (one row per completed partition, written atomically
  *after* its chunks) is anti-joined against the partition domain on rerun,
  so a killed job redoes only missing partitions (FIXTURES F5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..operators import decode_arrow as decode_arrow_op
from ..operators import encode_arrow as encode_arrow_op
from ..properties import WriterProperties

DEFAULT_TARGET_PARTITION_BYTES = 256 << 20


def _written_part_ids(spark, chunks_path: str) -> "DataFrame | None":
    """part_ids already present in the (hive-partitioned) chunks dataset,
    or None if the dataset doesn't exist yet.

    Local filesystem paths read the ``part_id=*`` directory names — no scan
    of the (at 100 TB, enormous) parquet footprint. Non-local URIs (s3a://,
    hdfs://) and any directory whose partition names don't parse as ints
    (e.g. ``__HIVE_DEFAULT_PARTITION__``) fall back to a Spark
    partition-pruned distinct read, which is Hadoop-filesystem-agnostic."""
    is_local = "://" not in chunks_path or chunks_path.startswith("file://")
    local = chunks_path.removeprefix("file://")
    if is_local:
        if not os.path.exists(local):
            return None
        try:
            have_ids = sorted(
                int(d.split("=", 1)[1]) for d in os.listdir(local)
                if d.startswith("part_id="))
        except ValueError:
            have_ids = None  # non-numeric partition dir: use the Spark path
        if have_ids is not None:
            return spark.createDataFrame([(p,) for p in have_ids],
                                         "part_id bigint")
    from pyspark.errors import AnalysisException
    try:
        return (spark.read.parquet(chunks_path)
                .select("part_id").distinct())
    except AnalysisException as exc:
        # ONLY dataset-absent disengages the orphan guard. Any other read
        # failure (transient remote-FS error, permission, corrupt footer)
        # must abort the job: treating it as "absent" would re-encode and
        # re-APPEND crash-window partitions whose chunks already landed —
        # duplicated chunk rows, the exact corruption the guard prevents.
        cls = ""
        try:
            cls = exc.getErrorClass() or ""
        except Exception:
            pass
        if "PATH_NOT_FOUND" in cls or "Path does not exist" in str(exc):
            return None  # dataset absent
        if "UNABLE_TO_INFER_SCHEMA" in cls or \
                "Unable to infer schema" in str(exc):
            # The dir exists but Spark found no readable data files. That
            # is "absent" ONLY if a listing confirms zero committed files
            # (crash between makedirs and the first rename — e.g. on a
            # non-local URI, or a local dir whose partition names didn't
            # parse, which is how we got to the Spark read). A dir that
            # DOES hold files but still fails inference is corrupt state:
            # abort, same as any other read failure.
            if _listing_has_no_data_files(spark, chunks_path):
                return None
        raise


def _listing_has_no_data_files(spark, path: str) -> bool:
    """True when a recursive listing of ``path`` shows no data files
    (committed chunk files are parquet; ``*.inprogress`` temp files from a
    crashed writer don't count — they were never renamed in)."""
    is_local = "://" not in path or path.startswith("file://")
    if is_local:
        local = path.removeprefix("file://")
        for root, _dirs, files in os.walk(local):
            if any(f.endswith(".parquet") for f in files):
                return False
        return True
    # remote URI: ask the JVM Hadoop filesystem for a recursive listing
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return True
    it = fs.listFiles(p, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return False
    return True


def plan_num_parts(total_rows: int, avg_tokens_per_row: float = 256.0,
                   target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
                   min_parts: int = 1) -> int:
    """Partition count so raw token payload per part ~= target bytes."""
    raw = total_rows * avg_tokens_per_row * 4
    return max(min_parts, int(raw // target_partition_bytes) + 1)


def add_part_id(df: DataFrame, num_parts: int,
                key: str = "doc_id") -> DataFrame:
    """Deterministic uniform partition key."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(num_parts)))


def plan_salted_parts(df: DataFrame, total_parts: int,
                      source_col: str = "source",
                      weight_col: str = "n_tok") -> dict[str, int]:
    """Proportional salt spread per source: a source carrying p% of the
    token payload gets ~p% of the partitions (>=1). One cheap aggregation
    over (source, sum(weight)) — at 100 TB this scans only two columns."""
    totals = (df.groupBy(source_col)
              .agg(F.sum(weight_col).alias("w")).collect())
    grand = sum(r.w for r in totals) or 1
    return {r[source_col]: max(1, round(total_parts * r.w / grand))
            for r in totals}


def add_salted_part_id(df: DataFrame, parts_per_source: dict[str, int],
                       source_col: str = "source",
                       key: str = "doc_id") -> DataFrame:
    """Skew-aware partitioning for source-partitioned layouts: each source
    gets ``parts_per_source[source]`` sub-partitions (proportional to its
    frequency), salted by a doc_id hash. part_id is a dense string key
    ``{source}#{salt}`` hashed to a long for the groupBy."""
    mapping = F.create_map(*[F.lit(x) for kv in parts_per_source.items()
                             for x in kv])
    spread = F.coalesce(mapping[F.col(source_col)], F.lit(1))
    salt = F.pmod(F.xxhash64(F.col(key)), spread)
    return df.withColumn(
        "part_id",
        F.xxhash64(F.concat_ws("#", F.col(source_col), salt.cast("string"))))


def encode_pipeline(df: DataFrame, num_parts: int,
                    columns: dict[str, str] | None = None,
                    props: WriterProperties | None = None) -> DataFrame:
    """tokens DataFrame -> chunk DataFrame through the shuffled encode
    (``encode_df_arrow``), adding a doc_id-hashed part_id if the input has
    none. ``props`` (default ``WriterProperties()``) sets every encode
    knob."""
    if "part_id" not in df.columns:
        df = add_part_id(df, num_parts)
    return encode_arrow_op.encode_df_arrow(df, num_parts, columns=columns,
                                           props=props)


def decode_pipeline(chunks_df: DataFrame,
                    verify_checksums: bool = False) -> DataFrame:
    """Arrow-native decode. Pipelined encode->decode runs shuffle-free (the
    encode operators mark their output colocated); chunks re-read from disk
    take one repartition on part_id. ``verify_checksums`` re-hashes every
    blob against its manifest sha256 before decoding (integrity layer for
    blobs that crossed storage)."""
    return decode_arrow_op.decode_chunks_arrow(
        chunks_df, verify_checksums=verify_checksums)


def manifest_from_chunks(chunks_df: DataFrame) -> DataFrame:
    """Per-partition lineage row: codecs, sizes, checksum, status."""
    return (chunks_df.groupBy("part_id").agg(
        F.max("n_rows").alias("n_rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.map_from_entries(F.sort_array(F.collect_list(
            F.struct("col", "codec")))).alias("codecs"),
        # exact per-column cardinality where the dict build saw every value
        # (chunk.ChunkStats.distinct_count); columns without dictionary
        # encoding are absent from the map, never guessed
        F.map_from_entries(F.sort_array(F.collect_list(
            F.when(F.col("distinct_count").isNotNull(),
                   F.struct("col", "distinct_count"))))).alias(
            "distinct_counts"),
        F.sha2(F.concat_ws("|", F.sort_array(F.collect_list("checksum"))),
               256).alias("checksum"))
        .withColumn("status", F.lit("committed")))


def run_checkpointed(spark, df: DataFrame, out_dir: str, num_parts: int,
                     props: WriterProperties | None = None,
                     fail_after_parts: int | None = None) -> dict:
    """``encode_pipeline`` with checkpoint/resume: ``props`` (default
    ``WriterProperties()``) configures the encode of every partition.

    Completed partitions are read from ``{out_dir}/manifest`` and skipped via
    an anti-join; chunks and manifest rows for newly processed partitions are
    appended (parquet append per partition directory keeps the write atomic
    enough for the sandbox; on a real deployment this is an Iceberg append
    snapshot). ``fail_after_parts`` processes only the first k missing
    partitions — the test hook that simulates a mid-job kill (FIXTURES F5).
    """
    chunks_path = os.path.join(out_dir, "chunks")
    manifest_path = os.path.join(out_dir, "manifest")

    if "part_id" not in df.columns:
        df = add_part_id(df, num_parts)

    done = None
    if os.path.exists(manifest_path):
        done = spark.read.parquet(manifest_path).select("part_id").distinct()
        todo_df = df.join(F.broadcast(done), "part_id", "left_anti")
    else:
        todo_df = df
    # Crash-window idempotency: a partition whose chunks were appended but
    # whose manifest row never landed must NOT be re-encoded (a blind
    # re-append would duplicate its chunk rows, inflating manifest sums and
    # changing the partition checksum). Such orphans are skipped here and
    # adopted into the manifest below.
    orphan_ok = None
    have = _written_part_ids(spark, chunks_path)
    if have is not None:
        todo_df = todo_df.join(F.broadcast(have), "part_id", "left_anti")
        orphan_ok = have

    if fail_after_parts is not None:
        keep = [r.part_id for r in
                todo_df.select("part_id").distinct()
                .orderBy("part_id").limit(fail_after_parts).collect()]
        todo_df = todo_df.filter(F.col("part_id").isin(keep))

    n_todo = todo_df.select("part_id").distinct().count()
    if n_todo:
        chunks = encode_arrow_op.encode_df_arrow(todo_df, num_parts,
                                                 props=props)
        chunks.write.mode("append").partitionBy("part_id").parquet(chunks_path)
    if n_todo or orphan_ok is not None:
        # manifest rows for every chunk-complete partition not yet recorded:
        # the freshly encoded ones plus any orphans from a prior crash
        written = spark.read.parquet(chunks_path)
        if done is not None:
            written = written.join(F.broadcast(done), "part_id", "left_anti")
        new_rows = manifest_from_chunks(written)
        if n_todo or not new_rows.isEmpty():
            new_rows.write.mode("append").parquet(manifest_path)

    return {"chunks_path": chunks_path, "manifest_path": manifest_path,
            "parts_processed": n_todo}
