"""Debugging CLI — analog of the reference's tools
(``/root/reference/tools/parquet_reader.cc``, ``parquet-dump-schema``,
``parquet-scan.cc``):

    python -m parquet_cpp_spark.inspect <chunks parquet file/dir>          # metadata
    python -m parquet_cpp_spark.inspect <chunks parquet file/dir> --scan   # decode-all
    python -m parquet_cpp_spark.inspect <blob.bin> --blob                  # one chunk

Reads the chunk DataFrame's parquet directly via pyarrow (no Spark session
needed for debugging).
"""

from __future__ import annotations

import argparse
import sys
import time

import numpy as np

from . import chunk as chunkmod


def _load(path: str):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet").to_table()


def cmd_meta(path: str) -> None:
    tbl = _load(path)
    cols = ["part_id", "col", "codec", "n_rows", "n_values", "raw_bytes",
            "enc_bytes", "min_val", "max_val"]
    if "distinct_count" in tbl.column_names:
        cols.append("distinct_count")
    data = {c: tbl.column(c).to_pylist() for c in cols}
    hdr = (f"{'part_id':>20} {'col':<8} {'codec':<22} {'n_rows':>9} "
           f"{'n_values':>11} {'raw':>12} {'enc':>12} {'ratio':>6}  min..max")
    print(hdr)
    print("-" * len(hdr))
    for i in range(tbl.num_rows):
        raw, enc = data["raw_bytes"][i], data["enc_bytes"][i]
        ratio = enc / raw if raw else 0.0
        print(f"{data['part_id'][i]:>20} {data['col'][i]:<8} "
              f"{data['codec'][i]:<22} {data['n_rows'][i]:>9} "
              f"{data['n_values'][i]:>11} {raw:>12} {enc:>12} {ratio:>6.3f}  "
              f"{data['min_val'][i]}..{data['max_val'][i]}"
              + (f" ndv={data['distinct_count'][i]}"
                 if data.get("distinct_count") and
                 data['distinct_count'][i] is not None else ""))
    total_raw = sum(data["raw_bytes"])
    total_enc = sum(data["enc_bytes"])
    print(f"\n{tbl.num_rows} chunks; raw={total_raw:,} enc={total_enc:,} "
          f"ratio={total_enc / max(1, total_raw):.3f}")


def cmd_scan(path: str) -> None:
    """Decode-everything scan (ScanFileContents analog,
    ``file_reader.cc:322-374``): per-partition cross-column row-count check
    plus values/sec."""
    tbl = _load(path)
    by_part: dict[int, dict[str, bytes]] = {}
    for pid, col, blob in zip(tbl.column("part_id").to_pylist(),
                              tbl.column("col").to_pylist(),
                              tbl.column("blob").to_pylist()):
        by_part.setdefault(pid, {})[col] = blob
    t0 = time.perf_counter()
    total_rows = 0
    total_values = 0
    for pid, cols in by_part.items():
        n_rows = set()
        for col, blob in cols.items():
            dec = chunkmod.decode_chunk(blob)
            n_rows.add(dec.n_rows)
            total_values += dec.n_values
        if len(n_rows) != 1:
            print(f"ERROR: row-count mismatch in part {pid}: {n_rows}")
            sys.exit(1)
        total_rows += n_rows.pop()
    dt = time.perf_counter() - t0
    print(f"{total_rows} rows ({total_values} values) scanned in {dt:.3f} s "
          f"({total_values / max(dt, 1e-9) / 1e6:.1f} M values/s)")


def cmd_blob(path: str) -> None:
    with open(path, "rb") as f:
        blob = f.read()
    dec = chunkmod.decode_chunk(blob)
    print(f"codec={chunkmod.CODEC_NAMES[dec.codec]} "
          f"phys={chunkmod.PHYS_NAMES[dec.phys]} n_rows={dec.n_rows} "
          f"n_values={dec.n_values}")
    vals = dec.values
    head = vals[:10].tolist() if isinstance(vals, np.ndarray) \
        else list(vals[:10])
    print(f"first values: {head}")
    if blob[4] == chunkmod.VERSION_PAGED:
        print("pages:")
        for p in chunkmod.page_index(blob):
            print(f"  rows [{p['row_start']}, {p['row_end']})  "
                  f"n_values={p['n_values']}  "
                  f"codec={chunkmod.CODEC_NAMES[p['codec']]}  "
                  f"min={p['min']!r} max={p['max']!r}")


def cmd_parquet(path: str, scan: bool) -> None:
    """PAR1 file dump through the ENGINE'S OWN format layer
    (sources.parquet_format) — the parquet-dump-schema / parquet_reader
    parity path; works on the reference's golden files and on files this
    engine's writer emits."""
    from .sources import parquet_format as pf
    with open(path, "rb") as f:
        mv = memoryview(f.read())
    meta = pf.read_footer(mv)
    print(f"{path}: {meta.num_rows} rows, "
          f"{len(meta.row_groups)} row group(s), {len(meta.leaves)} leaves")
    for k, v in meta.key_value_metadata.items():
        # truncate: pyarrow files carry multi-KB ARROW:schema blobs
        shown = v if len(v) <= 80 else f"{v[:77]}... ({len(v)} chars)"
        print(f"  kv: {k} = {shown}")
    print("schema:")
    for lf in meta.leaves:
        opt = "REPEATED" if lf.max_rep else \
            ("OPTIONAL" if lf.max_def else "REQUIRED")
        conv = f" converted={lf.converted_type}" \
            if lf.converted_type is not None else ""
        print(f"  {lf.name}: {lf.phys} {opt}"
              f" max_def={lf.max_def} max_rep={lf.max_rep}{conv}")
    for gi, rg in enumerate(meta.row_groups):
        print(f"row group {gi}:")
        for ch in rg:
            dict_s = f" dict@{ch.dictionary_page_offset}" \
                if ch.dictionary_page_offset else ""
            print(f"  {ch.path}: {ch.phys} codec={ch.codec} "
                  f"n={ch.num_values} data@{ch.data_page_offset}"
                  f"{dict_s} bytes={ch.total_compressed_size}")
            leaf = next(lf for lf in meta.leaves if lf.name == ch.path)
            if ch.stats is not None:
                # parquet-tools chunk-statistics dump analog: the bounds
                # the scan's plan-time row-group pruning runs on
                mn = pf.stat_typed(ch.stats[0], leaf)
                mx = pf.stat_typed(ch.stats[1], leaf)
                print(f"    stats: min={mn!r} max={mx!r} "
                      f"nulls={ch.stats[2]}")
            if ch.bloom_filter is not None:
                # parquet-tools bloom-filter dump analog
                bf = pf.read_bloom(mv, ch)
                if bf is None:
                    print(f"    bloom: @{ch.bloom_filter[0]} "
                          "(foreign/corrupt variant - not consulted)")
                else:
                    import numpy as np
                    nb = bf.num_blocks * 32
                    fill = int(np.unpackbits(
                        bf.words.view(np.uint8)).sum()) / (nb * 8)
                    print(f"    bloom: @{ch.bloom_filter[0]} {nb}B "
                          f"({bf.num_blocks} blocks, XXH64/BLOCK, "
                          f"fill {fill:.1%})")
            idx = pf.read_page_index(mv, ch)
            if idx is None:
                continue
            # parquet-tools column-index dump analog
            order = {0: "UNORDERED", 1: "ASC", 2: "DESC"}.get(
                idx.boundary_order, "?")
            stats = "" if idx.mins is None else f" boundary={order}"
            print(f"    page-index: {len(idx.locations)} page(s){stats}")
            for pi, (off, sz, first_row) in enumerate(idx.locations):
                if idx.mins is None:
                    print(f"      page {pi}: @{off} {sz}B row{first_row}+")
                elif idx.null_pages[pi]:
                    print(f"      page {pi}: @{off} {sz}B row{first_row}+ "
                          f"NULL-PAGE")
                else:
                    mn = pf.stat_typed(idx.mins[pi], leaf)
                    mx = pf.stat_typed(idx.maxs[pi], leaf)
                    nc = idx.null_counts[pi] if idx.null_counts else 0
                    print(f"      page {pi}: @{off} {sz}B row{first_row}+ "
                          f"min={mn!r} max={mx!r} nulls={nc}")
    if scan:
        by_path = {lf.name: lf for lf in meta.leaves}
        t0 = time.perf_counter()
        total = 0
        for rg in meta.row_groups:
            for ch in rg:
                vals, _dl, _rl = pf.read_column(mv, by_path[ch.path], ch)
                total += len(vals)
        w = time.perf_counter() - t0
        print(f"scan: {total} values in {w:.3f}s "
              f"({total / max(w, 1e-9) / 1e6:.1f} M values/s)")


def cmd_assemble(path: str, head: int = 10) -> None:
    """Whole-record assembly dump: engine-read the file into a full
    nested Arrow table (sources/record_assembly) and print schema +
    first rows — the reference printer.cc DebugPrint analog, with zero
    pyarrow.parquet in the decode."""
    import time

    from .sources.record_assembly import assemble_file
    t0 = time.perf_counter()
    tbl = assemble_file(path)
    dt = time.perf_counter() - t0
    print(tbl.schema)
    print(f"-- {tbl.num_rows} rows x {tbl.num_columns} cols "
          f"assembled in {dt:.3f}s; first {min(head, tbl.num_rows)}:")
    for row in tbl.slice(0, head).to_pylist():
        print(row)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="parquet_cpp_spark.inspect")
    ap.add_argument("path")
    ap.add_argument("--scan", action="store_true",
                    help="decode everything and report M values/s")
    ap.add_argument("--blob", action="store_true",
                    help="path is a single raw chunk blob")
    ap.add_argument("--parquet", action="store_true",
                    help="path is a PAR1 file: dump schema/chunks through "
                         "the engine's own format layer (parquet-dump-"
                         "schema/parquet_reader analog)")
    ap.add_argument("--assemble", action="store_true",
                    help="path is a PAR1 file: re-assemble whole nested "
                         "records from rep/def levels with the engine's "
                         "own reader and print the first rows "
                         "(printer.cc DebugPrint analog, zero "
                         "pyarrow.parquet)")
    args = ap.parse_args(argv)
    if args.blob:
        cmd_blob(args.path)
    elif args.assemble:
        cmd_assemble(args.path)
    elif args.parquet:
        cmd_parquet(args.path, args.scan)
    elif args.scan:
        cmd_scan(args.path)
    else:
        cmd_meta(args.path)


if __name__ == "__main__":
    main()
