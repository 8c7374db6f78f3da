"""``batch``: one closed-loop client running whole passes, each a seeded
shuffle of

- five commits, one of each kind (``ingest.py``: append, CoW update,
  CoW delete, bounded merge, SCD2 apply) on freshly built tables;
- three TPC-H-shaped registry queries over raw parquet, ``noop`` sink;
- two corpus operator calls (``corpus.py``), ``noop`` sink.

Queries and operators never touch the lakehouse catalog (the bypass
case for ``tables`` read optimisations); the commits are the write path,
whose metadata grows through the run.

The first pass is untimed: every commit kind, query and operator runs
once, one seeded query is checked with
``scripts/check_oracle.check_query`` and the corpus recall and
exact-dedup count are checked.  Commits are
checked by ``ingest.py`` (row delta per commit, DuckDB mirror at the
end).  Cached artifacts and persisted frames are released between
passes, so no pass is served from a memoized result.
"""

from __future__ import annotations

import os
import random
import sys

import datagen
from common import ROOT
from corpus import Corpus, write_corpus
from ingest import KINDS, Commits
from workload import Workload

QUERIES = ["q01_pricing_summary", "q03_shipping_priority", "q86_min_cost_supplier"]
OPERATORS = ["exact_dedup", "minhash_lsh_dedup"]


class Batch(Workload):
    scale = 0.002
    n_docs = 600
    pass_seconds = 7.5  # a pass takes 7-11 s on a 4-core box
    warmup_ops = 0  # the untimed first pass warms every plan

    def __init__(self, seed: int, run_dir: str, tiny: bool = False) -> None:
        super().__init__(seed, run_dir, tiny)
        if tiny:
            self.scale, self.n_docs = 0.001, 200
        self.commits = Commits(seed, tiny)
        self._rng = random.Random(seed)
        self._pass: list = []

    # -- set-up ----------------------------------------------------------
    def generate(self, rep: int) -> None:
        self.data_dir = os.path.join(self.run_dir, f"data{rep}")
        datagen.write_star(self.data_dir, self.seed, self.scale)
        self.planted = write_corpus(self.data_dir, self.seed, self.n_docs)
        self.commits.generate()

    def build(self, ctx, rep: int) -> None:
        from swiftlake_spark.queries import REGISTRY, _load_all

        _load_all()
        self.registry = REGISTRY
        self.corpus = Corpus(ctx.spark, self.data_dir)
        self.commits.build(ctx)

    def trace_targets(self) -> list[tuple]:
        """The registry query functions, as the ``queries`` layer."""
        return [(self.registry[q], "fn", "queries", q) for q in QUERIES]

    # -- passes ----------------------------------------------------------
    def next_op(self, client: int):
        if not self._pass:
            self._pass = ([("commit", k) for k in KINDS] + [("query", q) for q in QUERIES]
                          + [("operator", f) for f in OPERATORS])
            self._rng.shuffle(self._pass)
        kind, name = self._pass.pop()
        return self.commits.next_op() if kind == "commit" else (name, kind)

    def pass_done(self) -> bool:
        return not self._pass

    def end_pass(self, ctx) -> None:
        from swiftlake_spark.artifacts import registry

        registry.clear()
        ctx.spark.catalog.clearCache()

    def run_op(self, ctx, client: int, op):
        if op[0] in KINDS:
            return self.commits.run_op(ctx, op)
        name, kind = op
        if kind == "query":
            df = self.registry[name].fn(ctx.spark, self.data_dir)
        else:
            df = self.corpus.frame(name)
        with ctx.tracer.span("engine", "collect"):
            df.write.format("noop").mode("overwrite").save()
        return name, {}

    # -- first pass and checks -------------------------------------------
    def start_measure(self, ctx) -> None:
        """The untimed first pass, with its checks."""
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from check_oracle import check_query, make_oracle_con

        checked = random.Random(self.seed + 1).choice(QUERIES)
        con = make_oracle_con(self.data_dir)
        errors = []
        for q in QUERIES:
            if q == checked:
                err, _ = check_query(ctx.spark, con, self.registry[q], self.data_dir)
                if err:
                    errors.append(f"{q}: {err}")
            else:
                self.registry[q].fn(ctx.spark, self.data_dir).write.format("noop") \
                    .mode("overwrite").save()
        con.close()
        errors += self.corpus.check(self.data_dir, self.planted)  # runs both operators
        for _ in KINDS:
            self.commits.run_op(ctx, self.commits.next_op())
        self.end_pass(ctx)
        self.first_pass_errors = errors
        self.n_checked = 3  # the query and the two corpus checks
        self.commits.start_measure(ctx)

    def _commits(self, records):
        return [r for r in records if r.kind in KINDS]

    def check(self, ctx, records) -> list[str]:
        return self.first_pass_errors + self.commits.check(ctx, self._commits(records))

    def counted_checks(self, records) -> int:
        return self.n_checked + self.commits.counted_checks(self._commits(records))

    def layer_metrics(self, ctx, records, elapsed_s: float) -> dict[str, float]:
        out = self.commits.layer_metrics(ctx, self._commits(records), elapsed_s)
        traced = [r for r in records if r.ok and r.info["traced"]]
        for layer, names in (("queries", QUERIES), ("operators", OPERATORS)):
            for name in names:
                ms = [r.ms for r in traced if r.kind == name]
                out[f"{layer}.{name}_ms"] = sum(ms) / len(ms) if ms else 0.0
        out["operators.lsh_candidate_precision"] = self.corpus.lsh_candidate_precision()
        return out
