"""Planning-cost rehearsal at 10x the fuzz corpus's file count
(VERDICT r8 ask #7).

The fuzz matrix certifies inline-SQL pruning SOUNDNESS on tables of a
few dozen files; this script measures planning COST — manifest scans,
distinct-key collection jobs, relation builds — as the file count
grows 10x, because at 100 TB the manifest is the hot metadata path:
a planner that re-lists or re-scans per query turns O(files) planning
into the bottleneck long before execution does.

Builds the same partitioned shape at ~200 and ~2,000 files (bucket
transform x category partition; ``8 100`` gives 200 and 2,500), then
times, per query shape:

- t_plan  — the ``eng.sql(...)`` call itself: statement parse, manifest
  prune, join-filter key collection, the scan relation (everything that
  happens BEFORE Spark runs the query), warm: each shape runs once
  before it is timed;
- t_exec  — one noop-sink execution of the returned frame;
- scanned/pruned file counts from ScanMetrics (planning_ms included).

Usage:  python scripts/planning_stress.py [buckets_small] [buckets_big]
Prints a markdown table for PERF.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CATS = ["A", "B", "C", "D", "E"]


def build_table(eng, spark, name: str, buckets: int, inserts: int):
    """~(5 cats x buckets x inserts) small files."""
    schema = "id BIGINT, cat STRING, v DOUBLE, k BIGINT"
    eng.catalog.create_table(
        name, schema, partition_spec=["cat", f"bucket({buckets}, id)"])
    n = buckets * 40
    for i in range(inserts):
        rows = [(r + i * n, CATS[r % 5], float(r % 97), r % 100)
                for r in range(n)]
        eng.insert_into(name).dataframe(
            spark.createDataFrame(rows, schema=schema)).execute()
    t = eng.catalog.table(name)
    return t.files().count()


def main() -> int:
    from swiftlake_spark.config import EngineConfig
    from swiftlake_spark.engine import SwiftLakeEngine
    from swiftlake_spark.session import build_session

    buckets_small = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    buckets_big = int(sys.argv[2]) if len(sys.argv) > 2 else 80

    spark = build_session(EngineConfig(app_name="planning-stress"))
    warehouse = tempfile.mkdtemp(prefix="planstress_")
    try:
        return run(spark, SwiftLakeEngine(spark, warehouse=warehouse),
                   buckets_small, buckets_big)
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


def run(spark, eng, buckets_small: int, buckets_big: int) -> int:
    from swiftlake_spark.plans.metrics import ScanMetrics

    # small dim for the join-filter pushdown shape
    dim_schema = "k BIGINT, tag STRING"
    eng.catalog.create_table("db.dim", dim_schema)
    eng.insert_into("db.dim").dataframe(spark.createDataFrame(
        [(i, "hot" if i < 3 else "cold") for i in range(100)],
        schema=dim_schema)).execute()

    shapes = [
        ("partition filter",
         "SELECT id, v FROM {T} WHERE cat = 'B' AND id < 2000"),
        ("bucket-key filter",
         "SELECT id, v FROM {T} WHERE id = 1234"),
        ("join-filter pushdown",
         "SELECT f.id, f.v FROM {T} f JOIN db.dim d ON f.k = d.k "
         "WHERE d.tag = 'hot'"),
        ("agg over all",
         "SELECT cat, COUNT(*) AS n FROM {T} GROUP BY cat"),
    ]

    print("| files | shape | t_plan s | t_exec s | scanned | pruned |")
    print("|---|---|---|---|---|---|")
    results = []
    for label, buckets in (("small", buckets_small), ("big", buckets_big)):
        name = f"db.fact_{label}"
        nfiles = build_table(eng, spark, name, buckets, inserts=5)
        seen: list[ScanMetrics] = []
        eng.add_metric_collector(
            lambda m, s=seen: s.append(m) if isinstance(m, ScanMetrics)
            else None)
        for shape, q in shapes:
            sql = q.replace("{T}", name)
            eng.sql(sql).write.format("noop").mode("overwrite").save()  # warm
            seen.clear()
            t0 = time.perf_counter()
            df = eng.sql(sql)
            t_plan = time.perf_counter() - t0
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_exec = time.perf_counter() - t1
            fact = [m for m in seen if m.table.endswith(name.split(".")[1])]
            scanned = fact[-1].scanned_files if fact else -1
            pruned = fact[-1].pruned_files if fact else -1
            print(f"| {nfiles} | {shape} | {t_plan:.3f} | {t_exec:.3f} "
                  f"| {scanned} | {pruned} |", flush=True)
            results.append((nfiles, shape, t_plan, t_exec, scanned, pruned))

    # scaling summary: plan-time ratio big/small per shape
    small = {r[1]: r for r in results if r[0] == results[0][0]}
    big = {r[1]: r for r in results if r[0] != results[0][0]}
    print()
    for shape in small:
        r = big[shape][2] / max(small[shape][2], 1e-9)
        f = big[shape][0] / small[shape][0]
        print(f"plan-time x{r:.1f} at x{f:.1f} files — {shape}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
