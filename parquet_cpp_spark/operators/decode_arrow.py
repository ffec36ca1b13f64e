"""The decode operator: chunk rows -> original rows, one batch per part.

Inverse of ``operators.encode_arrow``, mirroring the reference's read path
(``src/parquet/file_reader.cc:322-374`` ScanFileContents +
``arrow/record_reader.cc:144`` record delimiting): each column blob is
decoded, then rebuilt as one Arrow array straight from the decoded buffers —
a list column becomes a single ``pa.ListArray.from_arrays(offsets, values)``
(two buffer writes), as the reference's Arrow layer reconstructs list
columns from rep levels + values (``record_reader.cc:384-420``).

``_decode_table`` is the one task body. ``decode_chunks_typed`` (any column
set) and ``decode_chunks_arrow`` (the token table) run it over a chunk
DataFrame; ``decode_parquet_direct`` runs it over chunk files read in the
task. Grouping: a hash repartition on part_id guarantees every partition's
chunk rows land in one task; the task then decodes each part it holds.
"""

from __future__ import annotations

import numpy as np

from .. import chunk as chunkmod
from ..kernels import ba
from .encode_arrow import (TOKEN_TABLE_COLUMNS, parse_decimal_spec,
                           parse_map_spec, parse_struct_spec)

_SPARK_TYPES = {"int32": "int", "int64": "bigint", "float": "float",
                "double": "double", "boolean": "boolean",
                "byte_array": "string", "list<int32>": "array<int>",
                "list<int32?>": "array<int>",
                "list<list<int32>>": "array<array<int>>",
                # Spark has no unsigned types; these are the lossless
                # widenings Spark's own parquet reader uses for UINT_*
                "int8": "int", "int16": "int",
                "uint8": "int", "uint16": "int",
                "uint32": "bigint", "uint64": "decimal(20,0)",
                # annotation types over byte_array / flba:12 storage
                "enum": "string", "json": "string", "bson": "binary",
                "interval": "binary"}


def _spark_type(spec: str) -> str:
    """Physical spec -> Spark SQL type, flattened structs re-nested."""
    if spec.startswith("struct<"):
        inner = ", ".join(f"{f}: {_spark_type(leaf)}"
                          for f, leaf in parse_struct_spec(spec))
        return f"struct<{inner}>"
    if spec.startswith("map<"):
        k, v = parse_map_spec(spec)
        return f"map<{_spark_type(k)}, {_spark_type(v)}>"
    if spec.endswith("?") and not spec.startswith("list<"):
        return _spark_type(spec[:-1])   # Spark types are always nullable
    if spec.startswith("decimal("):
        return spec
    if spec == "timestamp":
        return "timestamp_ntz"
    if spec == "date32":
        return "date"
    return _SPARK_TYPES[spec]


def _spark_schema(columns: dict[str, str]) -> str:
    """Column specs -> the Spark schema of the decoded rows."""
    return "part_id bigint, " + ", ".join(
        f"{c} {_spark_type(p)}" for c, p in columns.items())


DECODED_SCHEMA = _spark_schema(TOKEN_TABLE_COLUMNS)


def _offsets(lengths):
    """Per-row lengths -> int32 Arrow list offsets. 32-bit offsets cap one
    partition's list column at 2^31 elements."""
    import pyarrow as pa

    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if int(offsets[-1]) >= (1 << 31):
        raise ValueError("partition too large for int32 list offsets; "
                         "lower the partition size")
    return pa.array(offsets.astype(np.int32), type=pa.int32())


def _binary(values):
    """byte_array view/list -> Arrow binary (zero-copy from a view)."""
    import pyarrow as pa

    if isinstance(values, ba.ByteArrayView):
        return ba.to_arrow(values)
    return pa.array(list(values), type=pa.binary())


def _column_array(dec, phys):
    """One decoded leaf chunk -> one Arrow array of its Spark type."""
    import pyarrow as pa

    if phys.endswith("?") and not phys.startswith("list<"):
        # OPTIONAL flat column: dense stored values re-spaced through
        # the decoded validity mask (DecodeSpaced, encoding.h:110-131)
        inner = phys[:-1]
        valid = dec.valid_mask
        if valid is None:   # chunk had no nulls -> REQUIRED layout
            return _column_array(dec, inner)
        dense_arr = _column_array(
            type(dec)(dec.values, None, dec.codec, dec.phys,
                      int(valid.sum()), dec.n_values), inner)
        idx = np.zeros(len(valid), dtype=np.int64)
        idx[valid] = np.arange(int(valid.sum()), dtype=np.int64)
        # a null take-index yields a null output slot
        return dense_arr.take(pa.array(idx, mask=~valid))
    if phys in ("byte_array", "enum", "json"):
        return _binary(dec.values).cast(pa.string())
    if phys in ("bson", "interval"):
        return _binary(dec.values)
    if phys in ("int8", "int16", "uint8", "uint16"):
        return pa.array(np.asarray(dec.values, dtype=np.int32),
                        type=pa.int32())
    if phys == "boolean":
        return pa.array(np.asarray(dec.values, dtype=bool),
                        type=pa.bool_())
    if phys.startswith("decimal("):
        from ..logical import decimal_byte_width, flba_to_decimal
        p, s = parse_decimal_spec(phys)
        unscaled = flba_to_decimal(dec.values, decimal_byte_width(p))
        # decimal128 storage is 16-byte little-endian two's complement:
        # low word = the int64, high word = its sign extension
        words = np.empty((len(unscaled), 2), dtype="<i8")
        words[:, 0] = unscaled
        words[:, 1] = unscaled >> 63
        return pa.Array.from_buffers(
            pa.decimal128(p, s), len(unscaled),
            [None, pa.py_buffer(words.tobytes())])
    if phys == "timestamp":
        return pa.array(np.asarray(dec.values, np.int64),
                        type=pa.int64()).cast(pa.timestamp("us"))
    if phys == "date32":
        return pa.array(np.asarray(dec.values, np.int32),
                        type=pa.int32()).cast(pa.date32())
    if phys == "list<list<int32>>":
        inner = pa.ListArray.from_arrays(
            _offsets(dec.inner_lengths),
            pa.array(np.asarray(dec.values, np.int32), type=pa.int32()))
        return pa.ListArray.from_arrays(_offsets(dec.row_lengths), inner)
    if phys in ("list<int32>", "list<int32?>"):
        flat = np.asarray(dec.values, np.int32)
        if dec.valid_mask is not None:
            # nullable elements: re-space the dense values, attach validity
            spaced = np.zeros(len(dec.valid_mask), dtype=np.int32)
            spaced[dec.valid_mask] = flat
            elem = pa.array(spaced, type=pa.int32(), mask=~dec.valid_mask)
        else:
            elem = pa.array(flat, type=pa.int32())
        return pa.ListArray.from_arrays(_offsets(dec.row_lengths), elem)
    if phys == "uint32":
        # Spark has no unsigned types: uint32 widens losslessly to long
        return pa.array(np.asarray(dec.values, dtype=np.uint32)
                        .astype(np.int64), type=pa.int64())
    if phys == "uint64":
        # uint64 -> decimal(20,0), the same lossless mapping Spark's own
        # parquet reader uses for UINT_64
        return pa.array(np.asarray(dec.values, dtype=np.uint64),
                        type=pa.uint64()).cast(pa.decimal128(20, 0))
    pa_t = {"int32": pa.int32(), "int64": pa.int64(),
            "float": pa.float32(), "double": pa.float64()}[phys]
    dt = {"int32": np.int32, "int64": np.int64,
          "float": np.float32, "double": np.float64}[phys]
    return pa.array(np.asarray(dec.values, dtype=dt), type=pa_t)


def _assemble(decs, name, phys):
    """Decoded chunks -> one Arrow array; structs recurse over their
    flattened dotted-path leaves (the SchemaDescriptor inverse)."""
    import pyarrow as pa

    if phys.startswith("struct<"):
        fields = parse_struct_spec(phys)
        children = [_assemble(decs, f"{name}.{f}", leaf)
                    for f, leaf in fields]
        return pa.StructArray.from_arrays(
            children, names=[f for f, _ in fields])
    if phys.startswith("map<"):
        # reassemble the 3-level MAP group: both leaves decoded their
        # own copy of the shared entries-per-row length stream; a
        # mismatch means a corrupt/mixed chunk set — fail loudly
        kspec, vspec = parse_map_spec(phys)
        kd = decs[f"{name}.key_value.key"]
        vd = decs[f"{name}.key_value.value"]
        if not np.array_equal(kd.row_lengths, vd.row_lengths):
            raise ValueError(
                f"map column {name!r}: key/value length streams differ")
        return pa.MapArray.from_arrays(
            _offsets(kd.row_lengths),
            _column_array(kd, kspec), _column_array(vd, vspec))
    return _column_array(decs[name], phys)


def _decode_table(tbl, verify_checksums: bool = False,
                  columns: dict[str, str] = TOKEN_TABLE_COLUMNS):
    """Chunk-row Arrow table -> decoded record batches, one per part in
    ascending part_id order: ``part_id`` then ``columns`` (name -> spec).

    ``verify_checksums`` re-hashes every blob against the chunk row's
    sha256 before decoding: structural corruption always raises from the
    decoders, but a bit flip INSIDE a value payload is undetectable at the
    blob level (the format, like the reference's pages, carries no payload
    CRC) — the checksum column is the integrity layer. Opt-in because the
    hash pass costs ~0.5 GB/s/core on top of decode."""
    import hashlib

    import pyarrow as pa

    part_ids = tbl.column("part_id").to_numpy(zero_copy_only=False)
    cols = tbl.column("col").to_pylist()
    blob_col = ba.one_chunk(tbl.column("blob"))
    checksums = (tbl.column("checksum").to_pylist()
                 if verify_checksums and "checksum" in tbl.column_names
                 else None)
    if verify_checksums and checksums is None:
        raise ValueError("verify_checksums=True but no checksum column")
    by_part: dict[int, dict] = {}
    for i, (pid, col) in enumerate(zip(part_ids.tolist(), cols)):
        # zero-copy view of the blob (to_pylist would copy every blob
        # into a Python bytes object before decode even starts)
        blob = memoryview(blob_col[i].as_buffer())
        try:
            if checksums is not None:
                got = hashlib.sha256(blob).hexdigest()
                if got != checksums[i]:
                    raise ValueError(
                        f"checksum mismatch ({got[:12]} != "
                        f"{str(checksums[i])[:12]})")
            by_part.setdefault(pid, {})[col] = chunkmod.decode_chunk(blob)
        except Exception as exc:
            raise ValueError(
                f"corrupt chunk: part_id={pid} col={col!r}: {exc}"
            ) from exc
    names = ["part_id", *columns]
    for pid in sorted(by_part):
        decs = by_part[pid]
        n = next(iter(decs.values())).n_rows
        arrays = [pa.array(np.full(n, pid, dtype=np.int64), type=pa.int64())]
        arrays.extend(_assemble(decs, c, phys) for c, phys in columns.items())
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def decode_chunks_typed(chunks_df, columns: dict[str, str],
                        part_col: str = "part_id",
                        assume_colocated: bool | None = None,
                        verify_checksums: bool = False):
    """Generic table decode: ``columns`` maps column name -> physical spec
    (the same specs the encode operators take). The engine is not
    token-table-specific — any column set the encoders accept decodes back
    through this (byte_array re-emerges as string, boolean/float/double/int
    via their numpy dtypes, ``struct<...>`` reassembled from its flattened
    dotted-path leaf chunks, ``list<list<int32>>`` from outer+inner
    lengths).

    ``assume_colocated=True`` skips the blob shuffle entirely: valid when
    the chunk rows of each partition are adjacent in one input split, which
    our encode operators guarantee (one part's chunk set per task) and our
    sinks preserve (one task's chunk set per file). With the default
    ``None``, colocation is taken from the ``_pcs_colocated`` marker the
    encode operators set on the DataFrame they return — a pipelined
    encode->decode runs shuffle-free, while chunks re-read from disk (no
    marker) take the repartition path. At 100 TB the marker is the
    difference between zero shuffle and re-shuffling the entire compressed
    dataset once. The assumption is self-checking — a split partition
    decodes with a missing column and fails loudly (KeyError on a column
    name) rather than producing wrong rows, so callers can fall back to the
    shuffled path."""
    from ..shipping import ensure_shipped
    ensure_shipped(chunks_df.sparkSession)

    if assume_colocated is None:
        assume_colocated = getattr(chunks_df, "_pcs_colocated", False)

    def task(batches):
        import pyarrow as pa

        batch_list = list(batches)
        if not batch_list:
            return
        yield from _decode_table(pa.Table.from_batches(batch_list),
                                 verify_checksums, columns)

    src = chunks_df if assume_colocated else chunks_df.repartition(part_col)
    return src.mapInArrow(task, schema=_spark_schema(columns))


def decode_chunks_arrow(chunks_df, part_col: str = "part_id",
                        assume_colocated: bool | None = None,
                        verify_checksums: bool = False):
    """Chunk DataFrame -> reconstructed token table (``DECODED_SCHEMA``);
    see ``decode_chunks_typed`` for colocation and checksums."""
    return decode_chunks_typed(chunks_df, TOKEN_TABLE_COLUMNS, part_col,
                               assume_colocated, verify_checksums)


# tasks per core of decode_parquet_direct (whole chunk files per task)
DECODE_SLICES_PER_CORE = 2


def decode_parquet_direct(spark, chunks_path: str,
                          verify_checksums: bool = False):
    """Scale-shaped decode of chunk files on disk: the JVM generates only
    file-path descriptors (``task_source``); each task pyarrow-reads whole
    chunk files and decodes the parts it finds — the decode mirror of
    ``sources.parquet_direct`` (reference column-chunk-granular reads,
    ``file_reader.cc:63-135``). Whole files per task keep every part's
    chunk set colocated by construction (each part is written by exactly
    one encode task into one file), so no blob ever moves through a shuffle
    or the JVM."""
    import os

    from ..shipping import ensure_shipped
    from ..sources.parquet_direct import task_source
    ensure_shipped(spark)

    files = []
    for root, _dirs, names in os.walk(chunks_path):
        files.extend(os.path.join(root, f) for f in sorted(names)
                     if f.endswith(".parquet"))
    if not files:
        raise ValueError(f"no chunk files under {chunks_path}")
    cores = spark.sparkContext.defaultParallelism
    n_parts = min(len(files), max(1, cores * DECODE_SLICES_PER_CORE))
    # whole files per task, NOT amortized like plan_slices: a decode task
    # streams a whole table back through Arrow, so straggler smoothing
    # beats dispatch cost (128 tasks beat 32 in three interleaved A/Bs:
    # 6.7 vs 10.5, 5.3 vs 6.7, 4.8 vs 5.3 s)
    files_df = task_source(spark, [(f,) for f in files], n_parts,
                           "file string")

    def task(batches):
        import re

        import pyarrow as pa
        import pyarrow.parquet as pq

        for batch in batches:
            for f in batch.column("file").to_pylist():
                pf = pq.ParquetFile(f)
                names = pf.schema_arrow.names
                wanted = ("part_id", "col", "blob", "checksum") \
                    if verify_checksums else ("part_id", "col", "blob")
                want = [c for c in wanted if c in names]
                # one task = one core (see sources.parquet_direct)
                tbl = pf.read(columns=want, use_threads=False)
                if "part_id" not in want:
                    # hive-partitioned layout: part_id lives in the dir name
                    m = re.search(r"part_id=(-?\d+)", f)
                    if m is None:
                        raise ValueError(f"no part_id column or dir in {f}")
                    pid = np.full(len(tbl), int(m.group(1)), dtype=np.int64)
                    tbl = tbl.append_column("part_id",
                                            pa.array(pid, type=pa.int64()))
                yield from _decode_table(tbl, verify_checksums)

    return files_df.mapInArrow(task, schema=DECODED_SCHEMA)
