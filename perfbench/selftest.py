"""Tests the benchmark's output checks on a tiny input: each check must
pass on a correct output and report a failure on a broken one.

    python3 perfbench/selftest.py

Exits 0 when every case behaves, 1 otherwise. Uses ``local[1]`` and
writes only under ``.perfbench_selftest/`` in the current directory.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
from run import start_spark, stop_spark  # noqa: E402


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_cpp_spark.operators.decode_arrow import decode_parquet_direct
    from parquet_cpp_spark.sources.parquet_direct import encode_parquet_direct
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_table

    work = os.path.join(os.getcwd(), ".perfbench_selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    src = os.path.join(work, "input.parquet")
    tbl = synthesize_tokens_table(400, seed=7, avg_len=16)
    pq.write_table(tbl, src, row_group_size=200)

    def variant(name: str, t) -> str:
        path = os.path.join(work, name + ".parquet")
        pq.write_table(t, path)
        return path

    # one token flipped in one row with tokens, and one row dropped
    rows = tbl.to_pylist()
    r = next(i for i, row in enumerate(rows) if row["tokens"])
    flipped = [dict(row) for row in rows]
    flipped[r]["tokens"] = [flipped[r]["tokens"][0] ^ 1] + \
        flipped[r]["tokens"][1:]
    flip_path = variant("flipped", pa.Table.from_pylist(flipped, tbl.schema))
    drop_path = variant("dropped", tbl.slice(1))

    results: "list[tuple[str, bool]]" = []
    spark = start_spark(1, work)
    try:
        want = checks.digest(spark.read.parquet(src))
        chunks = os.path.join(work, "chunks")
        encode_parquet_direct(spark, src).write.mode("overwrite") \
            .parquet(chunks)
        decoded = decode_parquet_direct(spark, chunks)
        got = {"decode": checks.digest(decoded),
               "flipped": checks.digest(spark.read.parquet(flip_path)),
               "dropped": checks.digest(spark.read.parquet(drop_path))}
        ok = checks.digests_match(want, got)
        results += [("engine round trip passes", ok["decode"]),
                    ("flipped token fails", not ok["flipped"]),
                    ("dropped row fails", not ok["dropped"])]

        key = rows[r]["doc_id"]
        absent = "corpus/shard001/doc-999999999999"
        expect = checks.expected_lookups(src, [key, absent])
        row = {c: rows[r][c] for c in checks.COLUMNS}
        bad_row = dict(row, n_tok=row["n_tok"] + 1)
        good = checks.lookups_match({key: [row], absent: []}, expect)
        results += [
            ("lookup hit passes", good[key]),
            ("lookup miss passes", good[absent]),
            ("lookup missing row fails",
             not checks.lookups_match({key: []}, expect)[key]),
            ("lookup wrong row fails",
             not checks.lookups_match({key: [bad_row]}, expect)[key]),
            ("lookup row for absent key fails",
             not checks.lookups_match({absent: [row]}, expect)[absent]),
        ]

        blobs = checks.blob_bytes(chunks)
        ref = checks.reference_bytes(src)
        results += [("engine blobs within reference passes",
                     checks.size_ok(blobs, ref)),
                    ("oversized blob total fails",
                     not checks.size_ok(ref + 1, ref))]
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, good in results:
        print(f"{'ok  ' if good else 'FAIL'} {name}")
    return 0 if all(good for _n, good in results) else 1


if __name__ == "__main__":
    sys.exit(main())
