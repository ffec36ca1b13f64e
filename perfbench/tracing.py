"""The traced run: per-layer numbers from an in-process replay.

The end-to-end run installs nothing. This run first times every operation
end to end (as the end-to-end run does, one round after warm-up) and reads
Spark's task counts and shuffle bytes, then replays each operation's task
body in this one process on a fixed subset of row groups. The task bodies
are the package's own closures: while an operation is planned, a shim on
``DataFrame.mapInArrow`` keeps the function Spark would ship and the
DataFrame that feeds it; the replay collects that input for the subset and
calls the function directly.

During a replay, timing shims replace the public functions of each layer
module (module attributes, in this process only; the package's files are
not touched) and record spans (name, start, end, parent) and counts in
memory. A span's self time is its duration minus the time its child spans
cover. Time in a task body that no shimmed function covers (decode's Arrow
rebuild, the sink's file naming, ...) is the operator's own self time,
through the root span named after the operator. The spans are written to
``.perfbench_traces/`` when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import time
from collections import Counter

from ops import OPS
from workload import LOOKUPS_PER_ROUND

# Root span of each operation's replayed task body: the operator module.
ROOT = {"encode": "parquet_direct.task",
        "shuffle_encode": "encode_arrow.task",
        "decode": "decode_arrow.task",
        "sink": "parquet_sink.task",
        "scan": "record_assembly.task",
        "lookup": "lookup.task"}

# module -> {attribute: span name}. A kernel's span name ends in .encode or
# .decode, which is how its time is booked.
_ENC, _DEC = "encode", "decode"
SHIMS = {
    "parquet_cpp_spark.kernels.delta": {"encode": _ENC, "decode": _DEC},
    "parquet_cpp_spark.kernels.bitpack": {
        "pack": _ENC, "pack_rows": _ENC, "pack_rows32": _ENC,
        "bits_of": _ENC, "unpack": _DEC, "unpack_padded": _DEC,
        "values_from_bits": _DEC},
    "parquet_cpp_spark.kernels.rle": {
        "encode": _ENC, "encode_bit1_ones_with_zeros": _ENC,
        "encode_length_prefixed": _ENC, "decode": _DEC,
        "decode_length_prefixed": _DEC, "decode_bit1": _DEC,
        "bit1_zero_positions": _DEC},
    "parquet_cpp_spark.kernels.dictionary": {"encode": _ENC,
                                             "decode": _DEC},
    "parquet_cpp_spark.kernels.fsst": {"train": _ENC, "encode": _ENC,
                                       "decode": _DEC, "decode_view": _DEC},
    "parquet_cpp_spark.kernels.bytearray_codecs": {
        "encode_delta_length": _ENC, "encode_delta_byte_array": _ENC,
        "encode_delta_length_spec": _ENC,
        "encode_delta_byte_array_spec": _ENC,
        "decode_delta_length_view": _DEC, "decode_delta_length": _DEC,
        "decode_delta_byte_array_view": _DEC,
        "decode_delta_byte_array": _DEC, "decode_delta_length_spec": _DEC,
        "decode_delta_byte_array_spec": _DEC},
    "parquet_cpp_spark.kernels.plain": {
        "encode_fixed": _ENC, "encode_boolean": _ENC,
        "encode_byte_array": _ENC, "encode_flba": _ENC,
        "decode_fixed": _DEC, "decode_boolean": _DEC,
        "decode_byte_array_view": _DEC, "decode_byte_array": _DEC,
        "decode_flba": _DEC},
    "parquet_cpp_spark.levels": {
        n: "self" for n in ("levels_from_lengths", "lengths_from_bit1_streams",
                            "lengths_from_levels",
                            "levels_from_lengths_nullable",
                            "nullable_from_levels",
                            "levels_from_nested_lengths",
                            "nested_from_levels")},
    "parquet_cpp_spark.selector": {
        n: "self" for n in ("encode_best", "candidates",
                            "estimate_int_sizes", "estimate_bytes_sizes",
                            "select_int_codec", "select_bytes_codec")},
    "parquet_cpp_spark.chunk": {
        "encode_chunk": _ENC, "build_levels_sections": _ENC,
        "compute_stats": _ENC, "decode_chunk": _DEC,
        "page_index": "page_index",
        "decode_chunk_rows": "decode_chunk_rows"},
    "parquet_cpp_spark.sources.parquet_writer": {"write_file": "write_file"},
    "parquet_cpp_spark.sources.parquet_format": {
        "read_footer": "read_footer", "read_column": "read_column",
        "read_file": "read_column", "read_page_index": "read_footer",
        "lookup_rows": "read_column"},
    "parquet_cpp_spark.sources.record_assembly": {
        "assemble_file": "assemble_file", "footer_meta": "assemble_file",
        "file_schema": "assemble_file"},
    "parquet_cpp_spark.sources.parquet_sink": {
        "specs_from_arrow": "self", "auto_encodings": "self",
        "file_stats_json": "self"},
    "parquet_cpp_spark.sources.snapshots": {"commit_snapshot": "commit",
                                            "load_snapshot": "load"},
    "parquet_cpp_spark.plans.lookup": {"_find_rows": "find_rows"},
}


def _short(module: str) -> str:
    m = module.removeprefix("parquet_cpp_spark.")
    m = m.removeprefix("sources.").removeprefix("plans.")
    return m.removeprefix("operators.")


class Tracer:
    """Spans and counts, kept in memory."""

    def __init__(self):
        self.spans: "list[tuple]" = []   # (id, parent, name, start, end)
        self.counts: Counter = Counter()
        self._stack: "list[int]" = []
        self._next = 0
        self.read_layer = "pyarrow"

    def begin(self, name: str) -> tuple:
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else -1
        self._stack.append(sid)
        return sid, parent, name, time.perf_counter()

    def end(self, tok: tuple) -> None:
        t = time.perf_counter()
        self._stack.pop()
        self.spans.append((tok[0], tok[1], tok[2], tok[3], t))
        self.counts[tok[2] + ".calls"] += 1

    @contextlib.contextmanager
    def span(self, name: str):
        tok = self.begin(name)
        try:
            yield
        finally:
            self.end(tok)

    def iterate(self, it, name: str):
        """Yields from ``it``, timing each step as ``name``."""
        while True:
            with self.span(name):
                try:
                    item = next(it)
                except StopIteration:
                    return
            yield item

    def wrap(self, fn, name: str):
        """``fn`` timed as ``name``; a generator function is timed per
        resumption, since its work happens while it is iterated."""
        tracer = self
        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_shim(*args, **kwargs):
                return tracer.iterate(fn(*args, **kwargs), name)
            return gen_shim

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return shim

    def self_times(self, spans=None) -> "dict[str, float]":
        """name -> summed self time (children are properly nested: this
        process is single-threaded while replaying)."""
        spans = self.spans if spans is None else spans
        child = Counter()
        for sid, parent, _n, s, e in spans:
            if parent >= 0:
                child[parent] += e - s
        out: Counter = Counter()
        for sid, _p, name, s, e in spans:
            out[name] += (e - s) - child[sid]
        return dict(out)


class Shims:
    """Installs and removes the timing shims (module attributes only)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: "list[tuple]" = []

    def install(self) -> None:
        import importlib

        import pyarrow.parquet as pq

        t = self.tracer
        for module, attrs in SHIMS.items():
            mod = importlib.import_module(module)
            for attr, kind in attrs.items():
                fn = getattr(mod, attr)
                name = f"{_short(module)}.{kind}"
                if module.endswith(".selector") and attr == "encode_best":
                    fn = self._count_trials(fn)
                self._saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, t.wrap(fn, name))
        from parquet_cpp_spark.operators import encode_arrow
        self._saved.append((encode_arrow, "make_arrow_encode_fn",
                            encode_arrow.make_arrow_encode_fn))
        encode_arrow.make_arrow_encode_fn = self._traced_encode_fn(
            encode_arrow.make_arrow_encode_fn)
        self._saved.append((pq, "ParquetFile", pq.ParquetFile))
        pq.ParquetFile = _traced_parquet_file(t, pq.ParquetFile)

    def remove(self) -> None:
        while self._saved:
            mod, attr, fn = self._saved.pop()
            setattr(mod, attr, fn)

    def _count_trials(self, encode_best):
        """Counts the full-size chunk encodes each selector pick runs."""
        from parquet_cpp_spark import chunk
        counts = self.tracer.counts

        @functools.wraps(encode_best)
        def counted(values, phys, **kw):
            orig = chunk.encode_chunk

            def trial(*a, **k):
                if k.get("with_stats", True):   # sample runoffs pass False
                    counts["selector.trials"] += 1
                return orig(*a, **k)
            chunk.encode_chunk = trial
            try:
                return encode_best(values, phys, **kw)
            finally:
                chunk.encode_chunk = orig
                counts["selector.chunks"] += 1
        return counted

    def _traced_encode_fn(self, make):
        t = self.tracer

        @functools.wraps(make)
        def traced(*a, **kw):
            fn = make(*a, **kw)
            wrapped = t.wrap(fn, "encode_arrow.encode_part")
            wrapped.encode_part = t.wrap(fn.encode_part,
                                         "encode_arrow.encode_part")
            return wrapped
        return traced


def _traced_parquet_file(t: Tracer, base):
    """pyarrow's ParquetFile with its opens and reads booked to the
    operator that reads (``t.read_layer``)."""

    class TracedParquetFile(base):
        def __init__(self, *a, **kw):
            with t.span(t.read_layer + ".read"):
                super().__init__(*a, **kw)

        def read(self, *a, **kw):
            with t.span(t.read_layer + ".read"):
                return super().read(*a, **kw)

        def read_row_group(self, *a, **kw):
            with t.span(t.read_layer + ".read"):
                return super().read_row_group(*a, **kw)

        def iter_batches(self, *a, **kw):
            return t.iterate(super().iter_batches(*a, **kw),
                             t.read_layer + ".read")

    return TracedParquetFile


class _Capture:
    """Keeps the (input DataFrame, function) of every ``mapInArrow`` call
    planned while installed; the call itself goes through unchanged."""

    def __init__(self, spark):
        # the session's concrete DataFrame class defines its own mapInArrow
        self._cls = type(spark.range(0))
        self.calls: "list[tuple]" = []

    def __enter__(self):
        self._orig = self._cls.mapInArrow
        orig, calls = self._orig, self.calls

        def capture(df, func, schema, *a, **kw):
            calls.append((df, func))
            return orig(df, func, schema, *a, **kw)
        self._cls.mapInArrow = capture
        return self

    def __exit__(self, *exc):
        self._cls.mapInArrow = self._orig
        return False

    def last(self):
        return self.calls[-1]


def _batches(tbl, rows: int = 10_000):
    return tbl.to_batches(max_chunksize=rows)


class Replays:
    """Each operation's task body, with its input for the subset collected
    once (untimed), ready to be called in this process."""

    def __init__(self, ops, work: str, subset_rgs: "list[int]"):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from parquet_cpp_spark.plans.encode_job import (add_part_id,
                                                        encode_pipeline)
        from parquet_cpp_spark.plans.lookup import point_lookup
        from parquet_cpp_spark.sources.parquet_direct import (
            encode_parquet_direct)
        from parquet_cpp_spark.sources.parquet_sink import (
            write_parquet_dataset)
        from parquet_cpp_spark.sources.record_assembly import (
            read_parquet_dataset)

        spark, inp = ops.spark, ops.inp
        self.spark = spark
        self.subset = subset_rgs
        sub = set(subset_rgs)
        md = pq.ParquetFile(inp.path).metadata
        self.rows = sum(md.row_group(i).num_rows for i in subset_rgs)
        self.share = self.rows / inp.n_rows
        self.fn: dict = {}
        self.input: dict = {}

        with _Capture(spark) as cap:
            encode_parquet_direct(spark, inp.path)
            df, self.fn["encode"] = cap.last()
            tbl = df.toArrow()
            self.input["encode"] = tbl.filter(
                pc.is_in(tbl.column("rg"), value_set=_arr(sub)))

            keyed = add_part_id(spark.read.parquet(inp.path),
                                inp.n_row_groups)
            encode_pipeline(keyed, inp.n_row_groups)
            _df, self.fn["shuffle_encode"] = cap.last()
            # the parts whose row count best matches the subset's share
            n_parts = max(1, round(inp.n_row_groups * self.share))
            parts = list(range(n_parts))
            self.input["shuffle_encode"] = keyed.where(
                keyed.part_id.isin(parts)).toArrow()
            self.shuffle_share = (self.input["shuffle_encode"].num_rows
                                  / inp.n_rows)

            # decode: the chunk files holding the subset's parts
            files = sorted(os.path.join(r, f)
                           for r, _d, fs in os.walk(ops.chunks)
                           for f in fs if f.endswith(".parquet"))
            ops.decode_df()
            _df, self.fn["decode"] = cap.last()
            pick, rows = [], 0
            for f in files:
                if rows >= self.rows:
                    break
                n = pq.ParquetFile(f).read(columns=["n_rows", "col"])
                tok = n.filter(pc.equal(n.column("col"), "doc_id"))
                rows += int(pc.sum(tok.column("n_rows")).as_py() or 0)
                pick.append(f)
            self.decode_share = rows / inp.n_rows
            self.input["decode"] = pa.table({"file": pick})

            self.sink_out = os.path.join(work, "replay_sink")
            write_parquet_dataset(spark, inp.path, self.sink_out)
            df, self.fn["sink"] = cap.last()
            tbl = df.toArrow()
            self.input["sink"] = tbl.filter(
                pc.is_in(tbl.column("rg"), value_set=_arr(sub)))

            # lookup: every part, for the first present and the first
            # absent key (a lookup's task closes over its key and parts)
            self.lookups = []
            for hit in (True, False):
                key = inp.keys[inp.present.index(hit)]
                point_lookup(spark.read.parquet(ops.chunks), key)
                df, fn = cap.last()
                self.lookups.append((fn, df.toArrow()))
            self._read_parquet_dataset = read_parquet_dataset

    def run_sink(self) -> None:
        import shutil
        shutil.rmtree(self.sink_out, ignore_errors=True)
        os.makedirs(self.sink_out)
        rows = []
        for b in self.fn["sink"](iter(_batches(self.input["sink"]))):
            rows.extend(b.to_pylist())
        from parquet_cpp_spark.sources import snapshots
        snapshots.commit_snapshot(self.sink_out, rows)

    def prepare_scan(self) -> None:
        """Plan the scan over the replayed sink's snapshot (untimed)."""
        with _Capture(self.spark) as cap:
            self._read_parquet_dataset(self.spark, self.sink_out)
            df, self.fn["scan"] = cap.last()
            self.input["scan"] = df.toArrow()

    def run(self, op: str) -> int:
        """Replay ``op``; returns the number of output rows."""
        if op == "sink":
            self.run_sink()
            return 0
        if op == "scan":
            # the scan plans from the snapshot log before its tasks run
            from parquet_cpp_spark.sources import snapshots
            snapshots.load_snapshot(self.sink_out)
        calls = self.lookups if op == "lookup" else \
            [(self.fn[op], self.input[op])]
        n = 0
        for fn, tbl in calls:
            for b in fn(iter(_batches(tbl))):
                n += b.num_rows
        return n


def _arr(values):
    import pyarrow as pa
    return pa.array(sorted(values))


def _layer_metrics(tracer: Tracer, counts: Counter, n_lookups: int,
                   chunk_pages: int) -> "dict[str, tuple]":
    st = tracer.self_times()

    def s(*names):
        return sum(st.get(n, 0.0) for n in names)

    def prefixed(prefix):
        return sum(v for k, v in st.items() if k.startswith(prefix))

    m = {
        "parquet_direct.read_s": (s("parquet_direct.read"), "s"),
        "encode_arrow.self_s": (prefixed("encode_arrow."), "s"),
        "selector.self_s": (s("selector.self"), "s"),
        "selector.trials_per_chunk": (
            counts["selector.trials"] / max(1, counts["selector.chunks"]),
            "count"),
        "chunk.encode_self_s": (s("chunk.encode"), "s"),
        "chunk.decode_self_s": (s("chunk.decode", "chunk.page_index"), "s"),
        "chunk.pages": (chunk_pages, "count"),
        "levels.self_s": (s("levels.self"), "s"),
    }
    for k in ("delta", "bitpack", "rle", "dictionary", "fsst",
              "bytearray_codecs", "plain"):
        for d in ("encode", "decode"):
            m[f"kernels.{k}.{d}_s"] = (s(f"kernels.{k}.{d}"), "s")
    m.update({
        "decode_arrow.self_s": (s("decode_arrow.task"), "s"),
        "decode_arrow.read_s": (s("decode_arrow.read"), "s"),
        "parquet_writer.write_file_s": (s("parquet_writer.write_file"), "s"),
        "parquet_sink.self_s": (s("parquet_sink.task", "parquet_sink.self"),
                                "s"),
        "parquet_sink.read_s": (s("parquet_sink.read"), "s"),
        "record_assembly.assemble_file_s": (
            s("record_assembly.assemble_file", "record_assembly.task"), "s"),
        "parquet_format.read_footer_s": (s("parquet_format.read_footer"),
                                         "s"),
        "parquet_format.read_column_s": (s("parquet_format.read_column"),
                                         "s"),
        "snapshots.commit_s": (s("snapshots.commit"), "s"),
        "snapshots.load_s": (s("snapshots.load"), "s"),
        "lookup.parts_decoded": (
            counts["lookup.find_rows.calls"] / max(1, n_lookups), "count"),
        "lookup.pages_decoded": (
            counts["lookup.pages_decoded"] / max(1, n_lookups), "count"),
        "chunk.decode_chunk_rows_s": (s("chunk.decode_chunk_rows"), "s"),
    })
    return m


def _codec_counts(chunks_dir: str) -> "dict[str, tuple]":
    """Exact chunk count and blob bytes per codec in the encode output."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from parquet_cpp_spark.chunk import CODEC_NAMES

    tbl = ds.dataset(chunks_dir, format="parquet").to_table(
        columns=["codec", "blob"])
    codecs = tbl.column("codec").to_pylist()
    lens = pc.binary_length(tbl.column("blob")).to_pylist()
    out = {}
    for name in sorted(CODEC_NAMES.values()):
        sel = [n for c, n in zip(codecs, lens) if c == name]
        out[f"codec.{name}.chunks"] = (len(sel), "count")
        out[f"codec.{name}.bytes"] = (sum(sel), "B")
    return out


def _pages(chunks_dir: str) -> int:
    """Pages in the encode output: a paged chunk's page index, else one."""
    import pyarrow.dataset as ds

    from parquet_cpp_spark import chunk

    blobs = ds.dataset(chunks_dir, format="parquet").to_table(
        columns=["blob"]).column("blob")
    n = 0
    for b in blobs.to_pylist():
        n += len(chunk.page_index(b)) if b[4] == chunk.VERSION_PAGED else 1
    return n


def _spark_stage_stats(spark, group: str) -> "tuple[int, float]":
    """(tasks run, shuffle bytes written) by the jobs of one job group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    tasks, shuffle = 0, 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is None:
                continue
            tasks += si.numCompletedTasks
            try:
                shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Exception:  # stage skipped or evicted from the store
                pass
    return tasks, shuffle


def run_traced(args, ops, k: int) -> dict:
    from ops import Runner, median, timed

    spark, inp = ops.spark, ops.inp
    sc = spark.sparkContext
    runner = Runner(ops)
    runner.warm()

    # one end-to-end round, each operation in its own job group
    wall: "dict[str, float]" = {}
    for name in OPS:
        sc.setJobGroup(name, name)
        wall[name] = runner.run(name)
    sc.setJobGroup("lookup", "lookup")
    n_keys = LOOKUPS_PER_ROUND
    wall["lookup"] = median([runner.run("lookup") for _ in range(n_keys)])
    metrics: "dict[str, tuple]" = {}
    for name in ROOT:
        tasks, shuffle = _spark_stage_stats(spark, name)
        if name == "lookup":
            tasks = tasks / n_keys
        metrics[f"spark.{name}.tasks"] = (tasks, "count")
        if name == "shuffle_encode":
            metrics["spark.shuffle_write_mb"] = (shuffle / 1e6, "MB")
    sc.setJobGroup("untraced", "untraced")

    # engine scan vs Spark's JVM reader on the same committed files
    files = ops.committed_files()
    jvm = lambda: spark.read.parquet(*files).write.format("noop") \
        .mode("overwrite").save()  # noqa: E731
    eng, ref = [], []
    for _ in range(3):
        eng.append(timed(ops.scan))
        ref.append(timed(jvm))
    metrics["scan.jvm_ratio"] = (median(eng) / median(ref), "ratio")

    n_sub = max(1, -(-inp.n_row_groups // 4))
    rp = Replays(ops, os.path.dirname(ops.chunks), list(range(n_sub)))
    order = ("encode", "shuffle_encode", "decode", "sink", "scan", "lookup")
    tracer = Tracer()
    shims = Shims(tracer)
    plain_s: "dict[str, float]" = {}
    traced_s: "dict[str, float]" = {}
    coverage: "dict[str, float]" = {}
    for op in order:
        if op == "scan":
            rp.prepare_scan()
        rp.run(op)                               # warm this process
        plain_s[op] = timed(rp.run, op)
        before = len(tracer.spans)
        tracer.read_layer = ROOT[op].split(".")[0]
        shims.install()
        try:
            t0 = time.perf_counter()
            with tracer.span(ROOT[op]):
                rp.run(op)
            traced_s[op] = time.perf_counter() - t0
        finally:
            shims.remove()
        if op == "lookup":
            # a page decode is a decode_chunk or decode_chunk_rows call
            # made by the lookup itself, not by another chunk function
            names = {sp[0]: sp[2] for sp in tracer.spans[before:]}
            tracer.counts["lookup.pages_decoded"] += sum(
                1 for _sid, parent, name, _s, _e in tracer.spans[before:]
                if name in ("chunk.decode", "chunk.decode_chunk_rows")
                and not names.get(parent, "").startswith("chunk."))
        op_self = sum(tracer.self_times(tracer.spans[before:]).values())
        coverage[op] = op_self / traced_s[op]

    share = {"encode": rp.share, "shuffle_encode": rp.shuffle_share,
             "decode": rp.decode_share, "sink": rp.share,
             "scan": rp.share, "lookup": 1.0}
    for op in order:
        full_task_s = plain_s[op] / share[op]
        metrics[f"spark.{op}.overhead_s"] = (wall[op] - full_task_s / k, "s")
        metrics[f"trace.{op}.coverage"] = (coverage[op], "ratio")
    metrics["trace.overhead_share"] = (
        sum(traced_s.values()) / sum(plain_s.values()) - 1, "ratio")
    metrics.update(_layer_metrics(tracer, tracer.counts, len(rp.lookups),
                                  _pages(ops.chunks)))
    metrics.update(_codec_counts(ops.chunks))

    out_dir = os.path.join(os.getcwd(), ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir,
                        f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "subset_row_groups": rp.subset, "wall_s": wall,
                   "replay_s": plain_s, "traced_s": traced_s,
                   "counts": dict(tracer.counts),
                   "spans": [list(s) for s in tracer.spans]}, f)
    good = all(abs(c - 1) <= 0.05 for c in coverage.values())
    return {"correct": good, "attempted": len(order), "failed": 0,
            "metrics": metrics, "samples": {"trace_file": path}}
