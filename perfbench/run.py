"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md).  A ``{"context": ...}`` line before
it records the machine probes.  Exits non-zero, printing no result, if
the program is missing or the run fails.
"""

from __future__ import annotations

import argparse
import importlib
import itertools
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# naive datetimes sent to and read from Spark are UTC, like the session
os.environ["TZ"] = "UTC"
time.tzset()

import common  # noqa: E402
from spans import Tracer, counting_fileio, self_times  # noqa: E402

WORKLOADS = {
    "lookup": ("lookup", "Lookup"),
    "batch": ("batch", "Batch"),
}

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (the same set on every
    workload; a layer a workload does not exercise reads 0)."""
    from batch import OPERATORS, QUERIES

    u = {
        "engine.sql_ms": "ms", "engine.collect_ms": "ms", "engine.execute_ms": "ms",
        "engine.jobs_per_op": "count", "engine.tasks_per_op": "count",
        "engine.self_ms": "ms",
        "tables.resolve_sql_ms": "ms", "tables.load_metadata_ms": "ms",
        "tables.read_manifest_ms": "ms", "tables.manifest_entries_read": "count",
        "tables.plan_ms": "ms", "tables.prune_ms": "ms", "tables.files_scanned": "count",
        "tables.prune_ratio": "ratio", "tables.row_selectivity": "ratio",
        "tables.commit_ms": "ms", "tables.write_files_ms": "ms",
        "tables.files_added_per_commit": "count", "tables.files_removed_per_commit": "count",
        "tables.rewrite_efficiency": "ratio", "tables.write_amp": "ratio",
        "tables.stored_bytes_per_row": "B", "tables.self_ms": "ms",
        "dml.insert_ms": "ms", "dml.update_ms": "ms", "dml.delete_ms": "ms",
        "dml.merge_ms": "ms", "dml.scd2_ms": "ms", "dml.write_ms": "ms",
        "dml.append_p50_ms": "ms", "dml.rewrite_p50_ms": "ms", "dml.merge_p50_ms": "ms",
        "dml.scd2_p50_ms": "ms", "dml.rows_written_per_s": "1/s", "dml.self_ms": "ms",
        "fileio.read_ops": "count", "fileio.read_bytes": "B", "fileio.write_ops": "count",
        "fileio.write_bytes": "B", "fileio.read_ms": "ms",
        "operators.lsh_candidate_precision": "ratio", "operators.self_ms": "ms",
        "queries.self_ms": "ms",
        "trace.overhead_ms": "ms", "trace.spans_per_op": "count",
    }
    for fn in OPERATORS:
        u[f"operators.{fn}_ms"] = "ms"
    for q in QUERIES:
        u[f"queries.{q}_ms"] = "ms"
    return u


class Ctx:
    def __init__(self, spark, tracer: Tracer, run_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.engine = None

    def new_engine(self, rep: int):
        from swiftlake_spark.engine import SwiftLakeEngine

        wh = os.path.join(self.run_dir, f"wh{rep}")
        self.engine = SwiftLakeEngine(self.spark, warehouse=wh)
        self.engine.add_metric_collector(self._collect)
        self.warehouse = self.engine.catalog.warehouse
        return self.engine

    def _collect(self, m) -> None:
        """Scan and commit metrics, counted against the current op."""
        from swiftlake_spark.plans.metrics import CommitMetrics, ScanMetrics

        c = self.tracer.count
        if isinstance(m, ScanMetrics):
            c("scans")
            c("total_files", m.total_files)
            c("scanned_files", m.scanned_files)
            c("pruned_files", m.pruned_files)
            c("scanned_records", m.scanned_records)
        elif isinstance(m, CommitMetrics):
            c("commits")
            c("commit_ms", m.duration_ms)
            c("added_files", m.added_files)
            c("removed_files", m.removed_files)
            c("added_records", m.added_records)
            c("removed_records", m.removed_records)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args) -> None:
        self.args = args
        mod, cls = WORKLOADS[args.workload]
        self.run_dir = common.run_dir(args.workload, args.seed, args.trace)
        self.wl = getattr(importlib.import_module(mod), cls)(
            args.seed, self.run_dir, tiny=args.tiny)
        self.tracer = Tracer()
        self._seq = itertools.count()

    # -- one operation -------------------------------------------------
    def run_op(self, client: int, op):
        op_id = f"{client}.{next(self._seq)}"
        traced = self.tracer.enabled
        if traced:
            self.ctx.spark.sparkContext.setJobGroup(op_id, "perfbench op")
        with self.tracer.op(op_id, op[0]):
            kind, info = self.wl.run_op(self.ctx, client, op)
        info["op_id"] = op_id
        info["traced"] = traced
        return kind, info

    def after_op(self, rec) -> None:
        """Jobs and tasks of a traced op, from its job group."""
        op_id = rec.info.get("op_id")
        if not rec.info.get("traced") or op_id is None:
            return
        st = self.ctx.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(op_id)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        self.tracer.count("jobs", len(jobs), op=op_id)
        self.tracer.count("tasks", tasks, op=op_id)

    def loop(self, seconds: float, warm: bool = False):
        """The closed loop.  Warm-up sends ``warmup_ops`` per client; a
        workload with ``pass_seconds`` runs a fixed number of whole passes."""
        wl = self.wl
        if warm:
            left = [wl.warmup_ops] * wl.clients

            def next_op(c):
                if left[c] == 0:
                    return None
                left[c] -= 1
                return wl.next_op(c)

            return common.closed_loop(wl.clients, 1e9, next_op, self.run_op)
        if wl.pass_seconds is None:
            return common.closed_loop(wl.clients, seconds, wl.next_op, self.run_op,
                                      self.after_op)
        passes_left = [max(1, round(seconds / wl.pass_seconds))]
        started = [False]

        def next_pass_op(c):
            if started[0] and wl.pass_done():
                wl.end_pass(self.ctx)
                passes_left[0] -= 1
                if passes_left[0] == 0:
                    return None
            started[0] = True
            return wl.next_op(c)

        return common.closed_loop(wl.clients, 1e9, next_pass_op, self.run_op, self.after_op)

    # -- the run -------------------------------------------------------
    def phase(self, what: str) -> None:
        print(f"[{time.perf_counter() - self.t_start:7.2f}s] {what}", file=sys.stderr, flush=True)

    def run(self) -> dict:
        args = self.args
        t0 = self.t_start = time.perf_counter()
        spark = common.start_session(self.run_dir)
        session_s = time.perf_counter() - t0
        self.phase("session started")
        self.ctx = Ctx(spark, self.tracer, self.run_dir)
        try:
            builds = []
            for rep in range(self.wl.setup_reps):
                t = time.perf_counter()
                self.wl.generate(rep)
                self.ctx.new_engine(rep)
                self.wl.build(self.ctx, rep)
                builds.append(time.perf_counter() - t)
            setup_s = session_s + _median(builds)
            self.phase("set up")
            context = common.machine_context(spark)
            context.update(workload=args.workload, seed=args.seed, trace=args.trace,
                           session_s=round(session_s, 3),
                           build_s=[round(b, 3) for b in builds])
            common.emit({"context": context})

            self.loop(0, warm=True)
            self.wl.start_measure(self.ctx)
            self.phase("warmed up")
            if args.trace:
                records, elapsed = self._traced_loop(args.seconds)
            else:
                res = self.loop(args.seconds)
                records, elapsed = res.records, res.elapsed_s
            self.phase(f"measured {len(records)} ops")
            errors = self.wl.check(self.ctx, records)
            self.phase("checked")
            for e in errors[:5]:
                print(f"check failed: {e}", file=sys.stderr)
            for r in records:
                if not r.ok:
                    print(f"op failed: {r.kind}: {r.info.get('error')}", file=sys.stderr)
            failed = sum(1 for r in records if not r.ok) + len(errors)
            attempted = len(records)
            if args.trace:
                metrics = self._layer_metrics(records, elapsed)
                units = layer_units()
            else:
                metrics = self._e2e(records, elapsed, setup_s, failed)
                units = E2E_UNITS
            out = {
                "correct": failed == 0 and attempted > 0,
                "attempted": attempted,
                "failed": failed,
                "checks": self.wl.counted_checks(records),
            }
            if args.trace:
                self._dump(records)
        finally:
            common.stop_session(spark)
            shutil.rmtree(self.run_dir, ignore_errors=True)
        common.emit({"checks_run": out.pop("checks")})
        out["metrics"] = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                          for k, u in units.items()}
        return out

    def _e2e(self, records, elapsed: float, setup_s: float, failed: int) -> dict:
        lat = [r.ms for r in records if r.ok]
        return {
            "setup_s": setup_s,
            "op_p50_ms": common.quantile(lat, 0.5),
            "op_p90_ms": common.quantile(lat, 0.9),
            "ops_per_s": len(lat) / elapsed if elapsed > 0 else 0.0,
            "success_rate": max(0.0, 1.0 - failed / max(1, len(records))),
            "peak_rss_mb": common.peak_rss_mb(self.ctx.spark),
        }

    # -- traced run ----------------------------------------------------
    def _traced_loop(self, seconds: float):
        """Untraced (A) and traced (B) stretches in the order A B B A, so
        drift over the run falls evenly on both; whole-pass workloads run
        A B, one pass each."""
        extra = self.wl.trace_targets()
        from swiftlake_spark import fileio

        fileio.register_fileio(self.ctx.warehouse, counting_fileio(self.tracer))
        records, elapsed = [], 0.0
        order = (False, True) if self.wl.pass_seconds else (False, True, True, False)
        try:
            for traced in order:
                if traced:
                    self.tracer.install(extra)
                try:
                    res = self.loop(seconds / len(order))
                finally:
                    self.tracer.uninstall()
                records += res.records
                elapsed += res.elapsed_s
        finally:
            fileio.unregister_fileio(self.ctx.warehouse)
        return records, elapsed

    def _layer_metrics(self, records, elapsed: float) -> dict:
        tr = self.tracer
        ok = [r for r in records if r.ok]
        traced = [r for r in ok if r.info["traced"]]
        plain = [r for r in ok if not r.info["traced"]]
        n = max(1, len(traced))
        ids = {r.info["op_id"] for r in traced}
        spans = [s for s in tr.spans if s[2] in ids]
        selfs = self_times(spans)
        dur: dict[tuple, float] = {}
        calls: dict[tuple, int] = {}
        layer_self: dict[str, float] = {}
        for s in spans:
            key = (s[3], s[4])
            dur[key] = dur.get(key, 0.0) + (s[6] - s[5]) * 1000
            calls[key] = calls.get(key, 0) + 1
            layer_self[s[3]] = layer_self.get(s[3], 0.0) + selfs[s[0]][0] * 1000
        cnt: dict[str, float] = {}
        for i in ids:
            for k, v in tr.op_counts.get(i, {}).items():
                cnt[k] = cnt.get(k, 0.0) + v

        def per_op(layer, name):
            return dur.get((layer, name), 0.0) / n

        def per_call(layer, name):
            return dur.get((layer, name), 0.0) / max(1, calls.get((layer, name), 0))

        def ratio(a, b):
            return cnt.get(a, 0.0) / cnt[b] if cnt.get(b) else 0.0

        m = {
            "engine.sql_ms": per_op("engine", "sql"),
            "engine.collect_ms": per_op("engine", "collect"),
            "engine.execute_ms": per_op("engine", "execute"),
            "engine.jobs_per_op": cnt.get("jobs", 0.0) / n,
            "engine.tasks_per_op": cnt.get("tasks", 0.0) / n,
            "tables.resolve_sql_ms": per_op("tables", "resolve_sql"),
            "tables.load_metadata_ms": per_op("tables", "load_metadata"),
            "tables.read_manifest_ms": per_op("tables", "read_manifest"),
            "tables.manifest_entries_read": cnt.get("manifest_entries_read", 0.0) / n,
            "tables.plan_ms": per_op("tables", "plan"),
            "tables.prune_ms": per_op("tables", "prune"),
            "tables.files_scanned": cnt.get("scanned_files", 0.0) / n,
            "tables.prune_ratio": ratio("pruned_files", "total_files"),
            "tables.row_selectivity": ratio("rows_matched", "scanned_records"),
            "tables.commit_ms": ratio("commit_ms", "commits"),
            "tables.write_files_ms": per_call("tables", "write_files") if calls.get(("tables", "write_files")) else 0.0,
            "tables.files_added_per_commit": ratio("added_files", "commits"),
            "tables.files_removed_per_commit": ratio("removed_files", "commits"),
            "tables.rewrite_efficiency": ratio("rows_changed", "rewritten_records"),
            "trace.overhead_ms": (common.quantile([r.ms for r in traced], 0.5)
                                  - common.quantile([r.ms for r in plain], 0.5)),
            "trace.spans_per_op": len(spans) / n,
        }
        for layer in ("engine", "tables", "dml", "operators", "queries"):
            m[f"{layer}.self_ms"] = layer_self.get(layer, 0.0) / n
        dml_calls, dml_ms = 0, 0.0
        for op in ("insert", "update", "delete", "merge", "scd2"):
            m[f"dml.{op}_ms"] = per_call("dml", op) if calls.get(("dml", op)) else 0.0
            dml_calls += calls.get(("dml", op), 0)
            dml_ms += dur.get(("dml", op), 0.0)
        if dml_calls:
            m["dml.write_ms"] = (dml_ms - dur.get(("tables", "commit"), 0.0)) / dml_calls
        for k in ("read_ops", "read_bytes", "write_ops", "write_bytes", "read_ms"):
            m[f"fileio.{k}"] = cnt.get(f"fileio.{k}", 0.0) / n
        m.update(self.wl.layer_metrics(self.ctx, records, elapsed))
        return m

    def _dump(self, records) -> None:
        d = os.path.join(common.WORK, "spans")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.args.workload}-s{self.args.seed}.json")
        ops = [{"op": r.info.get("op_id"), "kind": r.kind, "ms": r.ms, "ok": r.ok,
                "traced": r.info.get("traced", False)} for r in records]
        self.tracer.dump(path, {"workload": self.args.workload, "seed": self.args.seed,
                                "ops": ops})
        print(f"spans written to {os.path.relpath(path, common.ROOT)}", file=sys.stderr)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="sf0.001-sized inputs (the self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not common.program_present():
        print("perfbench: swiftlake_spark/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, common.ROOT)
    try:
        result = Runner(args).run()
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    common.emit(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
