"""The encode operator: Arrow batches -> chunk rows, one chunk per column.

The reference's write path (``src/parquet/file_writer.cc:60-236``:
RowGroupSerializer -> per-column ColumnWriter -> pages) maps to: one
partition's Arrow table -> per-column numpy kernel encode -> one chunk row
per (partition, column) carrying the blob and its metadata, our
``ColumnChunkMetaData`` analog (``metadata.h:90-117``). Values are pulled
straight out of the Arrow buffers (offsets + values — no per-row Python).

Two task shapes share ``make_arrow_encode_fn``'s ``encode_part``:

- ``encode_scan_local``: each scan task's batches become one "row group",
  with NO shuffle. The reference likewise encodes values in arrival order
  (``file_writer.cc:60-143``). part_id is content-derived (sha256 of the
  first doc_id + row count), so a re-run over the same input produces the
  same partition ids — the property the resume manifest needs.
- ``encode_df_arrow``: the engine's single shuffle sends each row to the
  task whose index is ``pmod(part_col, num_parts)``, so a task holds one
  whole part (or none) when part ids are dense; it is sorted by
  ``props.sort_key`` and encoded — for co-location by an explicit key or to
  rebalance a skewed layout (plans.encode_job handles salting there).
"""

from __future__ import annotations

import hashlib

import numpy as np

from .. import chunk as chunkmod
from .. import selector
from ..kernels.ba import one_chunk
from ..properties import WriterProperties

# One row per (partition, column) — the lineage/metrics record.
CHUNK_SCHEMA = (
    "part_id bigint, col string, codec string, encodings array<string>, "
    "n_rows bigint, n_values bigint, raw_bytes bigint, enc_bytes bigint, "
    "null_count bigint, min_val string, max_val string, "
    "distinct_count bigint, "
    "checksum string, bloom binary, blob binary"
)

# Column specs for the north-rule input table.
TOKEN_TABLE_COLUMNS = {
    "doc_id": "byte_array",
    "tokens": "list<int32>",
    "n_tok": "int32",
    "source": "byte_array",
}


def list_int32_values(column, nullable: bool = False):
    """Arrow list<int32> array -> (dense values, slot lengths per row,
    element validity or None), straight from Arrow buffers. With
    ``nullable`` the values are the DENSE non-null elements and the mask is
    per slot — the layout chunk.encode_chunk(elem_valid=...) consumes."""
    import pyarrow.compute as pc

    lengths = pc.list_value_length(column).to_numpy(
        zero_copy_only=False).astype(np.int64)
    # flatten() honors slicing, so values correspond 1:1 to the lengths
    flat = column.flatten()
    if nullable and flat.null_count:
        valid = flat.is_valid().to_numpy(zero_copy_only=False)
        dense = flat.drop_null().to_numpy(zero_copy_only=False) \
            .astype(np.int32, copy=False)
        return dense, lengths, valid
    vals = flat.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    if nullable:
        return vals, lengths, np.ones(len(vals), dtype=bool)
    return vals, lengths, None


def _split_top_level(s: str) -> list[str]:
    """Split a struct field list on commas, honoring nested <> brackets."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return [f for f in (p.strip() for p in out) if f]


def parse_struct_spec(spec: str) -> list[tuple[str, str]]:
    """``struct<a:int64,b:byte_array,...>`` -> [(field, leaf_spec), ...]."""
    body = spec[len("struct<"):-1]
    fields = []
    for f in _split_top_level(body):
        name, _, leaf = f.partition(":")
        if not leaf:
            raise ValueError(f"bad struct field spec {f!r} in {spec!r}")
        fields.append((name.strip(), leaf.strip()))
    return fields


def expand_column_specs(columns: dict[str, str]) \
        -> list[tuple[str, tuple[str, ...], str]]:
    """Flatten struct specs into leaf chunk columns with dotted paths —
    the reference's SchemaDescriptor flattening (each leaf of the group
    tree becomes its own column chunk, /root/reference/src/parquet/
    schema.h:332-448). Returns (chunk_col_name, field_path, leaf_spec)
    per leaf; non-struct specs pass through with an empty path."""
    out: list[tuple[str, tuple[str, ...], str]] = []

    def walk(name: str, path: tuple[str, ...], spec: str):
        if spec.startswith("struct<"):
            for field, leaf in parse_struct_spec(spec):
                walk(f"{name}.{field}", path + (field,), leaf)
        elif spec.startswith("map<"):
            # parquet's 3-level MAP group (reference types.h:63-90 MAP
            # converted type; schema.h:43-77 group encoding): a repeated
            # key_value group with a key leaf and a value leaf. Both leaf
            # chunks carry the SAME entries-per-row length stream, the map
            # analog of the list length stream.
            k, v = parse_map_spec(spec)
            out.append((f"{name}.key_value.key", (), f"mapkey<{k}>"))
            out.append((f"{name}.key_value.value", (), f"mapval<{v}>"))
        else:
            out.append((name, path, spec))

    for col, spec in columns.items():
        walk(col, (), spec)
    return out


def _nested_list_int32_values(column):
    """Arrow list<list<int32>> -> (dense values, outer lengths = inner
    lists per row, inner lengths = elements per inner list), straight from
    the two levels of list buffers."""
    import pyarrow.compute as pc

    outer = pc.list_value_length(column).to_numpy(
        zero_copy_only=False).astype(np.int64)
    inner_arr = column.flatten()
    inner = pc.list_value_length(inner_arr).to_numpy(
        zero_copy_only=False).astype(np.int64)
    vals = inner_arr.flatten().to_numpy(zero_copy_only=False) \
        .astype(np.int32, copy=False)
    return vals, outer, inner


def parse_decimal_spec(spec: str) -> tuple[int, int]:
    """``decimal(p,s)`` -> (precision, scale)."""
    body = spec[len("decimal("):-1]
    p, _, s = body.partition(",")
    return int(p), int(s)


def parse_map_spec(spec: str) -> tuple[str, str]:
    """``map<K,V>`` -> (key_spec, value_spec)."""
    body = spec[len("map<"):-1]
    parts = _split_top_level(body)
    if len(parts) != 2:
        raise ValueError(f"bad map spec {spec!r}")
    return parts[0], parts[1]


def kernel_phys(phys: str) -> str:
    """Column spec -> the physical type the chunk kernels see (the
    reference's logical->physical mapping, arrow/writer.cc:572-604).
    A trailing ``?`` (nullable flat column, the PutSpaced contract)
    does not change the physical type."""
    if phys.startswith("list<"):
        return "int32"
    if phys.startswith(("mapkey<", "mapval<")):
        return kernel_phys(phys[phys.index("<") + 1:-1])
    phys = phys.removesuffix("?")
    if phys.startswith("decimal("):
        from ..logical import decimal_byte_width
        p, _s = parse_decimal_spec(phys)
        return f"flba:{decimal_byte_width(p)}"
    if phys == "timestamp":
        return "int64"   # TIMESTAMP_MICROS
    if phys == "date32":
        return "int32"   # DATE days-since-epoch
    # remaining converted-type annotations (types.h:63-90): storage type
    # per the parquet mapping, annotation only changes interpretation
    if phys in ("int8", "int16", "uint8", "uint16"):
        return "int32"   # INT_8/16 and UINT_8/16 ride INT32 storage
    if phys in ("enum", "json", "bson"):
        return "byte_array"
    if phys == "interval":
        return "flba:12"  # INTERVAL: months/days/millis u32 triple
    return phys


def _decimal_unscaled(column) -> np.ndarray:
    """Arrow decimal128 -> unscaled int64, straight from the 16-byte buffer
    (raises if any value exceeds int64, mirroring logical.flba_to_decimal)."""
    import pyarrow as pa

    n = len(column)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    if column.null_count:
        raise ValueError("null decimals not supported in encode")
    buf = column.buffers()[1]
    words = np.frombuffer(buf, dtype="<i8",
                          count=2 * (column.offset + n))[2 * column.offset:]
    lo = words[0::2]
    hi = words[1::2]
    if np.any(hi != (lo >> 63)):
        raise ValueError("decimal unscaled value exceeds int64")
    return np.ascontiguousarray(lo)


def _arrow_column_values(tbl, col: str, phys: str,
                         path: tuple[str, ...] = ()):
    """(values, row_lengths, elem_valid, inner_lengths[, valid_mask])
    straight from Arrow buffers. ``path`` drills into struct children
    (zero-copy .field()).

    A flat spec ending in ``?`` returns a fifth element: the row validity
    mask, with values SPACED (nulls hold a zero placeholder) — the
    reference's PutSpaced contract (encoding.h:68-76). A flat spec WITHOUT
    ``?`` raises on nulls rather than silently casting NaN placeholders
    into garbage values."""
    import pyarrow as pa

    if phys.startswith(("mapkey<", "mapval<")):
        # map leaf: the base column is a MapArray; both leaves share the
        # entries-per-row length stream (the repeated key_value group)
        import pyarrow.compute as pc
        base = col.split(".", 1)[0]
        column = one_chunk(tbl.column(base))
        if column.null_count:
            raise ValueError(f"null maps in column {base!r}  not supported")
        # entries per row straight from the map's list offsets (pyarrow has
        # no list_value_length kernel for maps). `.keys`/`.items` ignore
        # slicing (like ListArray.values), so the child is sliced to the
        # offset window explicitly.
        offs = np.frombuffer(column.buffers()[1], dtype=np.int32,
                             count=len(column) + 1 + column.offset)
        offs = offs[column.offset:].astype(np.int64)
        lengths = np.diff(offs)
        child = column.keys if phys.startswith("mapkey<") else column.items
        child = child.slice(int(offs[0]), int(offs[-1] - offs[0]))
        if child.null_count:
            raise ValueError(
                f"null map {'keys' if phys.startswith('mapkey<') else 'values'}"
                f" in column {base!r} not supported")
        inner = phys[phys.index("<") + 1:-1]
        vals, _rl, _ev, _il = _arrow_column_values_dense(child, inner)
        return vals, lengths, None, None, None

    base = col.split(".", 1)[0] if path else col
    column = one_chunk(tbl.column(base))
    for field in path:
        column = column.field(field)
    if phys.endswith("?") and not phys.startswith("list<"):
        inner = phys[:-1]
        if column.null_count:
            valid = column.is_valid().to_numpy(zero_copy_only=False)
            if inner == "timestamp":
                fill = pa.scalar(0, type=pa.timestamp("us"))
            elif inner == "date32":
                fill = pa.scalar(0, type=pa.date32())
            elif inner.startswith("decimal("):
                from decimal import Decimal
                fill = Decimal(0)
            elif inner == "byte_array":
                fill = b""
            elif inner == "boolean":
                fill = False
            else:
                fill = 0
            column = pa.compute.fill_null(column, fill)
        else:
            valid = np.ones(len(column), dtype=bool)
        vals, rl, ev, il = _arrow_column_values_dense(column, inner)
        return vals, rl, ev, il, valid
    if column.null_count and not phys.startswith("list<"):
        raise ValueError(
            f"column {col!r} has nulls; declare the spec as {phys!r}+'?' "
            "to encode it as OPTIONAL")
    vals, rl, ev, il = _arrow_column_values_dense(column, phys)
    return vals, rl, ev, il, None


def _arrow_column_values_dense(column, phys: str):
    import pyarrow as pa

    if phys == "list<list<int32>>":
        vals, outer, inner = _nested_list_int32_values(column)
        return vals, outer, None, inner
    if phys in ("list<int32>", "list<int32?>"):
        vals, lengths, elem_valid = list_int32_values(
            column, nullable=phys.endswith("?>"))
        return vals, lengths, elem_valid, None
    if phys == "byte_array":
        from ..kernels import ba
        return ba.from_arrow(column), None, None, None
    if phys.startswith("decimal("):
        from ..kernels import ba
        from ..logical import decimal_to_flba
        p, _s = parse_decimal_spec(phys)
        flba, _w = decimal_to_flba(_decimal_unscaled(column), p)
        return ba.from_list(flba), None, None, None
    if phys == "timestamp":
        return (column.cast(pa.int64()).to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False), None, None, None)
    if phys == "date32":
        return (column.cast(pa.int32()).to_numpy(zero_copy_only=False)
                .astype(np.int32, copy=False), None, None, None)
    if phys in ("uint32", "uint64"):
        # Spark carries unsigned columns as bigint (uint32) / decimal(20,0)
        # (uint64); the arrow cast range-checks and yields the unsigned
        # numpy dtype the kernels/stats need (UNSIGNED sort order)
        target = pa.uint32() if phys == "uint32" else pa.uint64()
        return (column.cast(target).to_numpy(zero_copy_only=False),
                None, None, None)
    if phys in ("int8", "int16", "uint8", "uint16"):
        # INT_8/16 / UINT_8/16 annotations: range-check through the arrow
        # cast of the annotated width, then widen to the INT32 storage type
        target = {"int8": pa.int8(), "int16": pa.int16(),
                  "uint8": pa.uint8(), "uint16": pa.uint16()}[phys]
        return (column.cast(target).to_numpy(zero_copy_only=False)
                .astype(np.int32), None, None, None)
    if phys in ("enum", "json", "bson"):
        from ..kernels import ba
        return ba.from_arrow(column.cast(pa.binary())), None, None, None
    if phys == "interval":
        from ..kernels import ba
        # the fixed_size_binary(12) cast IS the length check (it raises on
        # any other width); the binary view is zero-copy — no per-value
        # Python list round-trip
        return (ba.from_arrow(column.cast(pa.binary(12)).cast(pa.binary())),
                None, None, None)
    dt = {"int32": np.int32, "int64": np.int64, "float": np.float32,
          "double": np.float64, "boolean": bool}[phys]
    return (column.to_numpy(zero_copy_only=False).astype(dt, copy=False),
            None, None, None)


def make_arrow_encode_fn(columns: dict[str, str] | None = None,
                         props: WriterProperties | None = None):
    """Build the scan-local ``mapInArrow`` task; its ``encode_part``
    attribute encodes one partition's Arrow table. ``props`` (default
    ``WriterProperties()``) sets every encode knob: per-column codec
    overrides (unset columns use the auto-selector), dictionary on/off and
    page limit, page size and version, compression and bloom columns."""
    import pyarrow as pa

    if props is None:
        props = WriterProperties()
    columns = columns or TOKEN_TABLE_COLUMNS
    overrides = {k: chunkmod.CODEC_IDS[v]
                 for k, v in props.codec_overrides.items()}
    bloom_columns = props.bloom_columns
    knobs = dict(dict_size_limit=props.dictionary_pagesize_limit,
                 compression=props.compression_id,
                 allow_dictionary=props.dictionary_enabled,
                 page_size=props.data_pagesize,
                 data_page_version=props.data_page_version)
    out_schema = pa.schema([
        ("part_id", pa.int64()), ("col", pa.string()),
        ("codec", pa.string()), ("encodings", pa.list_(pa.string())),
        ("n_rows", pa.int64()), ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
        ("null_count", pa.int64()), ("min_val", pa.string()),
        ("max_val", pa.string()), ("distinct_count", pa.int64()), ("checksum", pa.string()),
        ("bloom", pa.binary()), ("blob", pa.binary()),
    ])

    leaves = expand_column_specs(columns)

    def encode_part(tbl, part_id: int):
        """One partition's Arrow table -> one chunk-row RecordBatch (one
        chunk per LEAF column; struct leaves carry dotted-path names)."""
        rows = {k: [] for k in out_schema.names}
        n_rows_seen = set()
        for col, path, phys in leaves:
            values, row_lengths, elem_valid, inner_lengths, valid_mask = \
                _arrow_column_values(tbl, col, phys, path)
            enc = selector.encode_best(
                values, kernel_phys(phys), row_lengths=row_lengths,
                codec_override=overrides.get(col),
                elem_valid=elem_valid,
                inner_lengths=inner_lengths,
                valid_mask=valid_mask, **knobs)
            bloom_blob = None
            if col in bloom_columns and phys == "byte_array":
                # per-chunk split-block bloom for point-lookup pruning
                # (reference: bloom_filter.h:119-240)
                from ..kernels import bloom as bloom_mod
                bf = bloom_mod.BlockSplitBloomFilter(
                    bloom_mod.optimal_num_bytes(len(values), 0.01))
                bf.insert_bytes(values)
                bloom_blob = bf.serialize()
            st = enc.stats
            rows["part_id"].append(part_id)
            rows["col"].append(col)
            rows["codec"].append(enc.codec_name)
            rows["encodings"].append(enc.encodings)
            rows["n_rows"].append(enc.n_rows)
            rows["n_values"].append(enc.n_values)
            rows["raw_bytes"].append(enc.raw_bytes)
            rows["enc_bytes"].append(enc.enc_bytes)
            rows["null_count"].append(st.null_count if st else 0)
            rows["min_val"].append(st.min_val if st else None)
            rows["max_val"].append(st.max_val if st else None)
            rows["distinct_count"].append(st.distinct_count if st else None)
            rows["checksum"].append(hashlib.sha256(enc.blob).hexdigest())
            rows["bloom"].append(bloom_blob)
            rows["blob"].append(enc.blob)
            n_rows_seen.add(enc.n_rows)
        if len(n_rows_seen) > 1:
            # cross-column row-count consistency, as the reference enforces
            # per row group (file_writer.cc:129-140)
            raise ValueError(
                f"row-count mismatch across columns: {n_rows_seen}")
        return pa.RecordBatch.from_pydict(rows, schema=out_schema)

    def encode_task(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        first_id = tbl.column("doc_id")[0].as_py()
        digest = hashlib.sha256(
            f"{first_id}|{tbl.num_rows}".encode()).digest()
        part_id = int.from_bytes(digest[:8], "little", signed=False) >> 1
        yield encode_part(tbl, part_id)

    encode_task.encode_part = encode_part
    return encode_task


def encode_scan_local(df, columns: dict[str, str] | None = None,
                      props: WriterProperties | None = None):
    """DataFrame -> chunk DataFrame with no shuffle (one chunk set per scan
    task)."""
    from ..shipping import ensure_shipped
    ensure_shipped(df.sparkSession)
    fn = make_arrow_encode_fn(columns, props)
    out = df.mapInArrow(fn, schema=CHUNK_SCHEMA)
    out._pcs_colocated = True  # one part's whole chunk set per scan task
    return out


def make_grouped_arrow_encode_fn(columns: dict[str, str] | None = None,
                                 props: WriterProperties | None = None):
    """mapInArrow task for the explicit-partitioning pipeline: the input was
    routed by part_id, so a task holds whole partitions (one when ids are
    dense, several when sparse ids such as salted hashes share a residue);
    each is sorted by ``props.sort_key`` (deterministic blobs across
    retries) and encoded straight from Arrow buffers."""
    import pyarrow as pa

    if props is None:
        props = WriterProperties()
    sort_key = props.sort_key
    base = make_arrow_encode_fn(columns, props)

    def task(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        # ONE sort by (part_id, sort_key), then zero-copy contiguous
        # slices per partition — the previous per-pid filter + per-pid
        # sort paid one full-payload copy per partition held by the task
        # (tasks holding a single partition still paid the filter copy).
        # Per-partition row order is identical (same key set, same
        # sort_key order), so blobs stay deterministic across retries.
        keys = [("part_id", "ascending")]
        if sort_key is not None and sort_key in tbl.column_names:
            keys.append((sort_key, "ascending"))
        pids_np = tbl.column("part_id").to_numpy(zero_copy_only=False)
        if len(np.unique(pids_np)) > 1 or len(keys) > 1:
            tbl = tbl.sort_by(keys)
            pids_np = tbl.column("part_id").to_numpy(zero_copy_only=False)
        bounds = np.flatnonzero(np.diff(pids_np)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(pids_np)]))
        for s, e in zip(starts.tolist(), ends.tolist()):
            yield base.encode_part(tbl.slice(s, e - s), int(pids_np[s]))

    return task


def encode_df_arrow(df, num_parts: int, part_col: str = "part_id",
                    columns: dict[str, str] | None = None,
                    props: WriterProperties | None = None):
    """Arrow-native grouped encode: the engine's single shuffle sends each
    row to task ``pmod(part_col, num_parts)``, so dense ids
    (``encode_job.add_part_id``) put part ``i`` alone in task ``i``; a hash
    repartition would pile parts into one task while others stay empty."""
    from pyspark.sql import functions as F

    from ..shipping import ensure_shipped
    ensure_shipped(df.sparkSession)
    fn = make_grouped_arrow_encode_fn(columns, props)
    target = F.pmod(F.col(part_col), F.lit(num_parts)).cast("int")
    out = df.repartitionById(num_parts, target).mapInArrow(
        fn, schema=CHUNK_SCHEMA)
    out._pcs_colocated = True  # whole partitions per task
    return out
