"""Shared plumbing: paths, the Spark session, latency statistics, memory
and machine probes, and the closed client loop."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "1g"  # the Spark JVM's heap, initial and maximum


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "swiftlake_spark", "__init__.py"))


def cpus() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def run_dir(workload: str, seed: int, trace: bool) -> str:
    """A fresh per-run scratch tree inside the checkout; TMPDIR points
    into it so Python temp files (worker zips, artifact dirs) stay in."""
    d = os.path.join(WORK, f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    os.environ["TMPDIR"] = os.path.join(d, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return d


def start_session(d: str):
    """One local Spark session sized for a shared 4-core box."""
    from swiftlake_spark.config import EngineConfig
    from swiftlake_spark.session import build_session

    n = cpus()
    tmp = os.path.join(d, "tmp")
    # the short-lived JVM that spark-submit runs first to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cfg = EngineConfig(
        app_name="perfbench",
        cpus=n,
        shuffle_partitions=n,
        driver_memory=HEAP,
        extra_conf={
            "spark.local.dir": os.path.join(d, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(d, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # -XX:-UsePerfData: no hsperfdata files in the system temp
            # directory; -Xms = -Xmx: the heap never resizes, so peak RSS
            # does not swing with G1's resizing decisions
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}",
        },
    )
    return build_session(cfg)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid(spark)
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def machine_context(spark) -> dict:
    """bench.py's machine probes, shortened: the per-job floor (median of
    a ``spark.range`` noop job) and a fixed CPU-bound job."""
    floor = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(10).write.format("noop").mode("overwrite").save()
        floor.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id % 7)", "sum(xxhash64(id))").collect()
    cpu_probe = time.perf_counter() - t0
    return {
        "nproc": os.cpu_count(),
        "spark_cpus": cpus(),
        "job_floor_ms": round(statistics.median(floor) * 1000, 3),
        "cpu_probe_s": round(cpu_probe, 4),
    }


def _beta_cdf(a: float, b: float, grid: int = 4000) -> list[float]:
    """CDF of Beta(a, b) at k / grid, k = 0..grid (midpoint rule)."""
    lnorm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    cdf, acc = [0.0], 0.0
    for k in range(grid):
        x = (k + 0.5) / grid
        acc += math.exp(lnorm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)) / grid
        cdf.append(acc)
    return [c / acc for c in cdf]


def quantile(xs: list[float], q: float) -> float:
    """Harrell–Davis estimate of the q-quantile (q in (0, 1)): a weighted
    mean of all order statistics.  Operation kinds have distinct latency
    levels, and the plain sample quantile jumps from one level to the
    next when noise reorders two neighbouring samples; this estimate
    moves smoothly instead."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        return s[0] if s else 0.0
    grid = 4000
    cdf = _beta_cdf(q * (n + 1), (1 - q) * (n + 1), grid)
    at = lambda i: cdf[round(i * grid / n)]  # noqa: E731 — CDF at i / n
    return sum((at(i + 1) - at(i)) * v for i, v in enumerate(s))


@dataclass
class OpRecord:
    kind: str
    client: int
    start: float
    end: float
    ok: bool
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class LoopResult:
    records: list[OpRecord]
    elapsed_s: float


def closed_loop(n_clients: int, seconds: float, next_op, run_op, after_op=None) -> LoopResult:
    """``n_clients`` threads, each sending its next operation only after
    the previous one returned, until ``seconds`` have passed.

    ``next_op(client)`` returns the client's next operation (or None when
    its stream is exhausted); ``run_op(client, op)`` performs it and
    returns ``(kind, info)``.  Operations are tuples whose first item is
    their kind.  A raising operation is recorded as failed.
    ``after_op(record)`` runs after the operation's end time is taken."""
    records: list[OpRecord] = []
    lock = threading.Lock()
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client(c: int) -> None:
        while time.perf_counter() < deadline:
            op = next_op(c)
            if op is None:
                return
            t0 = time.perf_counter()
            try:
                kind, info = run_op(c, op)
                ok = True
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                kind, info, ok = op[0], {"error": repr(exc)}, False
            rec = OpRecord(kind, c, t0, time.perf_counter(), ok, info)
            if after_op is not None:
                after_op(rec)
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}")
               for c in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = max([r.end for r in records], default=time.perf_counter()) - t_start
    return LoopResult(sorted(records, key=lambda r: r.start), elapsed)


def emit(obj: dict) -> None:
    print(json.dumps(obj, sort_keys=False), flush=True)
