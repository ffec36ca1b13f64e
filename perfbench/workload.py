"""The two workloads: seeded token tables and the lookup keys drawn for them.

Both tables come from ``parquet_cpp_spark.sources.tokens`` (the repo's
bench generator: four element profiles by source, 1% empty rows, one
25k-token row per 10k rows) and are written in 25k-row row groups, so one
row group is one encode task.

``long_docs`` (~256 tokens per row) puts ~95% of the raw bytes in int32
tokens: the token kernels and the selector dominate. ``short_docs`` (~16
tokens per row) puts about a third of the bytes in doc_id strings and
per-row levels and has ~16x more rows and tasks per token: FSST, the
byte-array codecs, levels, chunk framing and per-task Spark cost dominate.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

ROW_GROUP = 25_000


@dataclass(frozen=True)
class Workload:
    name: str
    n_rows: int
    avg_len: int


WORKLOADS = {
    "long_docs": Workload("long_docs", n_rows=100_000, avg_len=256),
    "short_docs": Workload("short_docs", n_rows=100_000, avg_len=16),
}

# Lookups per timed round. The last key of every such group is absent, so
# most keys are present and every round has one miss.
LOOKUPS_PER_ROUND = 3
N_KEYS = 48


@dataclass
class Input:
    path: str
    n_rows: int
    n_row_groups: int
    tokens: int
    raw_bytes: int
    keys: "list[str]"
    present: "list[bool]"


def doc_id(i: int) -> str:
    """The generator's doc_id for row ``i``."""
    return f"corpus/shard{i % 997:03d}/doc-{i:012d}"


def make_input(w: Workload, seed: int, path: str) -> Input:
    """Write ``w``'s table for ``seed`` to ``path`` and draw its lookup keys.

    Raw bytes are the bytes of the input values: 4 per token and per
    ``n_tok``, plus the UTF-8 bytes of ``doc_id`` and ``source``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources.tokens import synthesize_tokens_table

    tbl = synthesize_tokens_table(w.n_rows, seed=seed, avg_len=w.avg_len)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, row_group_size=ROW_GROUP)
    tokens = int(pc.sum(tbl.column("n_tok")).as_py())
    raw = 4 * tokens + 4 * w.n_rows
    for c in ("doc_id", "source"):
        raw += int(pc.sum(pc.binary_length(tbl.column(c))).as_py())

    # Absent keys use row numbers past the table with the shard the
    # generator would give them, so they sort inside every chunk's doc_id
    # range: hits and misses then take the same path (no stats pruning),
    # and the median lookup time does not mix two modes.
    rng = np.random.default_rng(seed ^ 0x5EED)
    keys, present = [], []
    for j in range(N_KEYS):
        if j % LOOKUPS_PER_ROUND == LOOKUPS_PER_ROUND - 1:
            # shards 000 and 996 hold each chunk's min and max doc_id
            i = w.n_rows + int(rng.integers(1, 10 * w.n_rows))
            while i % 997 in (0, 996):
                i += 1
            keys.append(doc_id(i))
            present.append(False)
        else:
            keys.append(doc_id(int(rng.integers(0, w.n_rows))))
            present.append(True)
    return Input(path, w.n_rows, -(-w.n_rows // ROW_GROUP), tokens, raw,
                 keys, present)
