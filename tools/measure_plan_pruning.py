"""Idle-box measurement: plan-time pruning layers + merge-on-read cost.

Builds a 600-file engine dataset (2M rows / 512M tokens, range-clustered
on n_tok) with a snapshot, then measures:
  - plan time for a selective predicate: FOOTER planning (the driver
    reads every listed footer) vs SNAPSHOT-STATS planning (zero file
    I/O). Scan planning is driver-only: no Spark job runs before an
    action;
  - full-scan wall with and without a 1%-of-keys equality-delete kill
    list (the merge-on-read anti-join cost).
Writes the two sections into BENCH_local.json (keys ``plan_pruning`` and
``merge_on_read``) so bench.py embeds them into the per-round artifact.

Run on an IDLE box: python tools/measure_plan_pruning.py
"""

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from parquet_cpp_spark.session import get_spark
    spark = get_spark(master="local[32]", app_name="pcs-plan-pruning",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    from parquet_cpp_spark.sources import snapshots as snap
    from parquet_cpp_spark.sources.parquet_sink import emit_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    src_path = os.path.join(REPO, "data", "bench_tokens_2000000_42.parquet")
    if not os.path.exists(src_path):
        from parquet_cpp_spark.sources.tokens import \
            synthesize_tokens_parquet
        synthesize_tokens_parquet(src_path, 2_000_000, 42)
    src = spark.read.parquet(src_path)
    out = "/tmp/pcs_plan_pruning_measure"
    shutil.rmtree(out, ignore_errors=True)
    man = emit_parquet_dataset(
        src.repartitionByRange(600, "n_tok", "doc_id")
           .sortWithinPartitions("n_tok", "doc_id"),
        out).collect()
    snap.commit_snapshot(out, man)

    pred = [("n_tok", ">=", 950)]
    prune: dict = {"files": len(man)}
    for name, kw in [("footer_plan", dict(snapshot_version=0)),
                     ("snapshot_plan", dict())]:
        ts, plan = [], {}
        for _ in range(3):
            plan = {}
            t0 = time.time()
            read_parquet_dataset(spark, out, predicate=pred,
                                 plan_out=plan, **kw)
            ts.append(round(time.time() - t0, 3))
        prune[name] = {"plan_s": ts,
                       "files_kept": plan.get("files_kept"),
                       "files_snapshot_pruned":
                           plan.get("files_snapshot_pruned"),
                       "rg_kept": plan.get("rg_kept"),
                       "rg_total": plan.get("rg_total")}

    kill = src.selectExpr("doc_id").where("hash(doc_id) % 100 = 0")
    doc = snap.commit_equality_deletes(out, kill, "doc_id")
    mor: dict = {"delete_keys": sum(e["rows"] for e in doc["deletes"])}
    for name, kw in [("raw", dict(apply_deletes=False)),
                     ("with_deletes", dict())]:
        ts, n = [], 0
        for _ in range(3):
            t0 = time.time()
            n = read_parquet_dataset(spark, out, **kw).count()
            ts.append(round(time.time() - t0, 2))
        mor[name] = {"scan_s": ts, "rows": n}

    bl = os.path.join(REPO, "BENCH_local.json")
    with open(bl) as f:
        rec = json.load(f)
    rec["plan_pruning"] = prune
    rec["merge_on_read"] = mor
    with open(bl, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({"plan_pruning": prune, "merge_on_read": mor}))


if __name__ == "__main__":
    main()
