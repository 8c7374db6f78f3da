"""Scale-adaptive scan-parallelism restore (r14 "spread", moved to the
operator layer in r15 so operators themselves can use it without
importing the query package)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, when: bool | None = None) -> DataFrame:
    """Scale-adaptive parallelism restore ahead of a heavy per-row stage
    (char/token explodes, regex chains, decode folds) — r14, guide §2.5
    "input skew: one huge unsplittable file".

    Parquet scans parallelize at ROW-GROUP granularity; a source whose
    files carry a single row group (the local test fixtures) serializes
    the whole scan stage — and every expression fused into it — onto one
    core, no matter what ``maxPartitionBytes`` says.  When the scan
    yields fewer splits than the session's parallelism, a round-robin
    repartition (tiny here: the narrow projected columns of a small
    file) unblocks the downstream compute; when the source already
    scans wide (any production-scale table: thousands of row groups),
    this returns the input UNCHANGED, so no shuffle is ever added at
    scale.  Results are partitioning-independent (all declared queries
    are aggregates/joins/sorts certified against the DuckDB oracle).

    MEASURED scope (r14, guide §1.1): the added exchange + scheduler
    stage only pays for itself where the per-row stage is EXTREME —
    the langid regex chain (q45: 1.04→0.64 s) and the 16-way md5
    MinHash folds (q155 probe: 2.47→1.88 s; banded-signature build).
    Applied to the moderate explode→partial-agg family it measured
    SLOWER (q30/q32/q43/q104/q109/q116/q124/q125/q127/q147/q153/q154
    all +0.1–0.9 s, +1 job each, min-of-3 at sf0.1/local[32]) — the
    map-side partial aggregation already collapses those streams before
    the exchange, so the serialized scan stage is cheaper than an extra
    shuffle.  Those call sites were reverted; do not re-add without a
    measurement.

    ``when`` is a :func:`needs_spread` verdict the caller already holds
    (None: decide here), so a caller that acts on the same decision
    elsewhere never re-evaluates it.
    """
    if not (needs_spread(df) if when is None else when):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def needs_spread(df: DataFrame) -> bool:
    """True iff ``df`` currently yields fewer partitions than the
    session's parallelism floor — the condition under which
    :func:`spread` repartitions (and under which a caller may want to
    re-collapse a spread-widened relation before persisting it; at any
    production scan width this is False and both are no-ops)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    return df.rdd.getNumPartitions() < min(target, 16)
