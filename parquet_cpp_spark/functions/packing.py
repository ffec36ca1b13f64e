"""Training-batch shaping operators: sequence packing and mixture sampling.

``pack_sequences`` is the canonical pre-training reshape: documents are
concatenated (each prefixed with a BOS separator) in deterministic doc_id
order within their partition and sliced into fixed-length sequences;
incomplete tails are dropped. One shuffle (the groupBy on part_id), numpy
throughout the packing task — at 100 TB this is the same single reshape
any packing job must pay, with partitions sized by the encode planner.

``sample_mixture`` is deterministic per-source rate sampling (the mixture
step of a training-data recipe): keep a doc iff a stable hash bucket of
its id falls under the source's rate. The bucket is md5-derived, so the
decision is reproducible across engines (SQL-oracle-able), re-runs, and
cluster sizes — no RNG, no sampleBy seed drift.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

PACKED_SCHEMA = "part_id bigint, seq_id int, tokens array<int>"

BOS_ID = 1
MIX_BUCKETS = 10000


def pack_sequences(tokens_df: DataFrame, seq_len: int,
                   bos_id: int = BOS_ID, part_col: str = "part_id",
                   order_col: str = "doc_id") -> DataFrame:
    """tokens table -> packed fixed-length sequences per partition.

    Each partition's docs are sorted by integer ``order_col``, streamed as
    ``[bos, *tokens]`` per doc, and sliced into ``seq_len`` windows
    (remainder dropped). Deterministic: same input -> same sequences on
    any cluster layout."""
    from ..shipping import ensure_shipped
    ensure_shipped(tokens_df.sparkSession)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf[order_col].astype(np.int64).to_numpy()
        idx = np.argsort(order, kind="stable")
        toks = pdf["tokens"].to_numpy()[idx]
        lens = np.array([len(t) for t in toks], dtype=np.int64)
        total = int((lens + 1).sum())
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=starts[1:])
        stream = np.empty(total, dtype=np.int32)
        stream[starts] = bos_id
        mask = np.ones(total, dtype=bool)
        mask[starts] = False
        if total - len(lens):
            stream[mask] = np.concatenate(
                [np.asarray(t, dtype=np.int32) for t in toks])
        n_seq = total // seq_len
        part = int(pdf[part_col].iloc[0])
        windows = stream[: n_seq * seq_len].reshape(n_seq, seq_len)
        return pd.DataFrame({
            "part_id": np.full(n_seq, part, dtype=np.int64),
            "seq_id": np.arange(n_seq, dtype=np.int32),
            "tokens": [w for w in windows],
        })

    return tokens_df.groupBy(part_col).applyInPandas(pack, PACKED_SCHEMA)


def _mix_bucket(id_col: str):
    """Stable bucket in [0, MIX_BUCKETS): integer value of the first 8 hex
    chars of md5(doc_id || ':mix'), mod MIX_BUCKETS — md5 is computable
    identically in Spark and ANSI-ish SQL, unlike engine-native hashes."""
    h8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":mix"))), 1, 8)
    return F.conv(h8, 16, 10).cast("long") % MIX_BUCKETS


def sample_mixture(docs: DataFrame, rates: dict[str, float],
                   id_col: str = "doc_id",
                   source_col: str = "source") -> DataFrame:
    """Keep each doc iff its stable hash bucket < rate[source] * buckets.
    Sources absent from ``rates`` are dropped. Row-local filter: zero
    shuffle, pushes to the scan."""
    mapping = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    thresh = F.coalesce(mapping[F.col(source_col)], F.lit(0.0)) \
        * MIX_BUCKETS
    return docs.filter(_mix_bucket(id_col) < thresh)


DOC_PACK_SCHEMA = ("part_id bigint, doc_id string, bin_id bigint, "
                   "n_tok bigint, oversize int")


def pack_documents(tokens_df: DataFrame, seq_len: int,
                   part_col: str = "part_id",
                   order_col: str = "doc_id") -> DataFrame:
    """Boundary-respecting packing PLAN: assign whole documents to
    fixed-capacity bins without ever splitting a document (the
    complement of ``pack_sequences``, which slices the stream). Within
    each partition, docs in integer ``order_col`` order fill the open
    bin greedily; a doc that would overflow opens a fresh bin; a doc
    LONGER than ``seq_len`` gets a bin of its own, flagged ``oversize``
    (kept whole — truncation/splitting is an explicit downstream
    choice, never silent). Deterministic: same input -> same assignment
    on any cluster layout. Returns one row per doc (part_id, doc_id,
    bin_id, n_tok, oversize) — the assignment IS the packing decision;
    materializing token bins is a groupBy away.

    Scale shape: one shuffle on ``part_col``; the greedy recurrence is
    inherently sequential per partition, so it runs as a single linear
    pass over two int64 arrays per task (a planner row per doc, no
    token bytes touched)."""
    from ..shipping import ensure_shipped
    ensure_shipped(tokens_df.sparkSession)

    def plan(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf[order_col].astype(np.int64).to_numpy()
        idx = np.argsort(order, kind="stable")
        doc = pdf[order_col].to_numpy()[idx]
        n = pdf["n_tok"].astype(np.int64).to_numpy()[idx]
        bins = np.empty(len(n), dtype=np.int64)
        b, f = 0, 0
        for i, ln in enumerate(n):
            ln = int(ln)
            if ln > seq_len:
                bid = b + (1 if f > 0 else 0)
                bins[i] = bid
                b, f = bid + 1, 0
            elif f + ln <= seq_len:
                bins[i] = b
                f += ln
            else:
                b += 1
                bins[i] = b
                f = ln
        part = int(pdf[part_col].iloc[0])
        return pd.DataFrame({
            "part_id": np.full(len(n), part, dtype=np.int64),
            "doc_id": doc,
            "bin_id": bins,
            "n_tok": n,
            "oversize": (n > seq_len).astype(np.int32),
        })

    return tokens_df.groupBy(part_col).applyInPandas(plan,
                                                     DOC_PACK_SCHEMA)
