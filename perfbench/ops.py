"""The six timed operations. Each calls only the package's public functions
and consumes its whole result inside the call, so a timing covers the work.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

from workload import LOOKUPS_PER_ROUND

# The operations over the whole dataset; the sixth, lookup, runs
# LOOKUPS_PER_ROUND times per round with a key each.
OPS = ("encode", "shuffle_encode", "decode", "sink", "scan")

# Warm-up is two rounds. Measured on a 4-core host: an operation's first
# run pays one-time costs (Python worker start, imports, JIT) and takes 2-6x
# its warm time; its second run is still 10-25% slow; its third and fourth
# runs agree within the 5-10% run-to-run noise. Timed runs therefore start
# with the third.
WARM_ROUNDS = 2


def timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Operations:
    """Binds the operations to one session, one input and one work dir.

    ``encode`` and ``shuffle_encode`` overwrite their chunk directories;
    ``decode`` and ``lookup`` read the ``encode`` chunks, ``scan`` reads the
    snapshot the last ``sink`` committed."""

    def __init__(self, spark, inp, work: str):
        self.spark = spark
        self.inp = inp
        self.chunks = os.path.join(work, "chunks")
        self.shuffle_chunks = os.path.join(work, "shuffle_chunks")
        self.sink_root = os.path.join(work, "sink")
        self.sink_dir = None
        self._sink_n = 0
        self.lookup_rows: "dict[str, list]" = {}

    def encode(self) -> None:
        from parquet_cpp_spark.sources.parquet_direct import (
            encode_parquet_direct)
        encode_parquet_direct(self.spark, self.inp.path) \
            .write.mode("overwrite").parquet(self.chunks)

    def shuffle_encode(self) -> None:
        from parquet_cpp_spark.plans.encode_job import encode_pipeline
        df = self.spark.read.parquet(self.inp.path)
        # one part per input row group, as the direct encode makes
        encode_pipeline(df, self.inp.n_row_groups) \
            .write.mode("overwrite").parquet(self.shuffle_chunks)

    def decode_df(self, chunks=None):
        from parquet_cpp_spark.operators.decode_arrow import (
            decode_parquet_direct)
        return decode_parquet_direct(self.spark, chunks or self.chunks)

    def decode(self) -> None:
        self.decode_df().write.format("noop").mode("overwrite").save()

    def prepare_sink(self) -> str:
        """Untimed: remove the snapshot before last and name a fresh dir."""
        self._sink_n += 1
        if self._sink_n > 2:
            shutil.rmtree(os.path.join(self.sink_root,
                                       str(self._sink_n - 2)),
                          ignore_errors=True)
        return os.path.join(self.sink_root, str(self._sink_n))

    def sink(self, out: str) -> None:
        from parquet_cpp_spark.sources.parquet_sink import (
            write_parquet_dataset)
        from parquet_cpp_spark.sources.snapshots import commit_snapshot
        rows = write_parquet_dataset(self.spark, self.inp.path, out).collect()
        commit_snapshot(out, rows)
        self.sink_dir = out

    def scan_df(self):
        from parquet_cpp_spark.sources.record_assembly import (
            read_parquet_dataset)
        return read_parquet_dataset(self.spark, self.sink_dir)

    def scan(self) -> None:
        self.scan_df().write.format("noop").mode("overwrite").save()

    def lookup(self, key: str) -> list:
        from parquet_cpp_spark.plans.lookup import point_lookup
        rows = point_lookup(self.spark.read.parquet(self.chunks), key) \
            .drop("part_id").collect()
        self.lookup_rows[key] = rows
        return rows

    def committed_files(self) -> "list[str]":
        from parquet_cpp_spark.sources.snapshots import load_snapshot
        snap = load_snapshot(self.sink_dir)
        return [os.path.join(self.sink_dir, e["path"]) for e in snap["files"]]


class Runner:
    """Runs the operations in a fixed interleaved order and keeps count of
    the ones that raise. Lookup keys are taken in order from the input's
    key list; warm-up takes its keys from the far end of it."""

    def __init__(self, ops):
        self.ops = ops
        self._taken = {False: 0, True: 0}   # keys taken, by warm-up or not
        self.failed: "dict[str, int]" = {}

    def _next_key(self, warm: bool) -> str:
        keys = self.ops.inp.keys
        i = self._taken[warm] % len(keys)
        self._taken[warm] += 1
        return keys[-1 - i] if warm else keys[i]

    def run(self, name: str, warm: bool = False) -> "float | None":
        """Time one operation; ``None`` if it raised."""
        o = self.ops
        try:
            if name == "sink":
                return timed(o.sink, o.prepare_sink())
            if name == "lookup":
                return timed(o.lookup, self._next_key(warm))
            return timed(getattr(o, name))
        except Exception as exc:  # counted, reported, and the run goes on
            log(f"{name} failed: {exc!r}")
            self.failed[name] = self.failed.get(name, 0) + 1
            return None

    def round(self) -> "dict[str, list]":
        """One timed round: each operation once, then the lookups."""
        times = {name: [self.run(name)] for name in OPS}
        times["lookup"] = [self.run("lookup")
                           for _ in range(LOOKUPS_PER_ROUND)]
        return times

    def warm(self) -> None:
        """WARM_ROUNDS rounds with one lookup each."""
        for _ in range(WARM_ROUNDS):
            t = {name: self.run(name, warm=True)
                 for name in list(OPS) + ["lookup"]}
            log("warm " + " ".join(f"{k}={v:.2f}" for k, v in t.items()
                                    if v is not None))
        self.failed.clear()
