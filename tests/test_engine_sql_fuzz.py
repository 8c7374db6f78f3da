"""Differential SQL fuzz THROUGH THE ENGINE's table format.

tests/test_sql_fuzz.py certifies the corpus over plain parquet views —
it exercises Spark, not us.  This harness loads the same fixture data
into PARTITIONED native tables, runs each shape via ``engine.sql`` (name
resolution + WHERE-conjunct extraction from Spark's parsed plan +
manifest pruning, tables/sqlextract.py), and compares against DuckDB
running the original text over the raw parquet.  An unsound extraction
— a conjunct attributed to the wrong table, a mis-parsed literal, an
over-eager prune on a partition transform — shows up as a row diff
here.

The corpus-health check asserts pruning genuinely fired across the run:
a fuzz where every scan reads every file would certify nothing about
the prune path.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from scripts.check_oracle import canon_rows, make_oracle_con  # noqa: E402
from tests.sql_fuzz import SCHEMA, generate_corpus, sample_pools  # noqa: E402

SF_DIR = os.environ.get("SWIFTLAKE_FUZZ_SF_DIR", "/root/testdata/sf0.001")
N_TOTAL = 200
BATCH = 25

# partition specs chosen so the corpus' predicate families (int equality,
# timestamp ranges, string IN-lists) each hit at least one prunable layout
PARTITION_SPECS = {
    "orders": ["year(o_orderdate)"],
    "lineitem": ["month(l_shipdate)"],
    "customer": ["bucket(4, c_custkey)"],
    "part": ["p_brand"],
    "documents": ["lang"],
}

_TABLES = list(SCHEMA)
_NAME_RE = re.compile(r"\b(" + "|".join(_TABLES) + r")\b")


def to_engine_sql(sql: str) -> str:
    """Point the corpus at the native tables: bare fixture names become
    ``fuzz.<name>`` (correlation qualifiers included), outside literals."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    return "".join(
        p if i % 2 else _NAME_RE.sub(r"fuzz.\1", p) for i, p in enumerate(parts)
    )


@pytest.fixture(scope="module")
def engine_fuzz_env(spark, tmp_path_factory):
    from swiftlake_spark.engine import SwiftLakeEngine
    from swiftlake_spark.plans.metrics import ScanMetrics
    from swiftlake_spark.queries.base import load

    eng = SwiftLakeEngine(
        spark, warehouse=str(tmp_path_factory.mktemp("fuzz_wh"))
    )
    for t in _TABLES:
        df = load(spark, SF_DIR, t)
        eng.catalog.create_table(
            f"fuzz.{t}", df.schema, partition_spec=PARTITION_SPECS.get(t)
        )
        eng.insert_into(f"fuzz.{t}").dataframe(df).execute()
    scans: list = []
    eng.add_metric_collector(
        lambda m: scans.append(m) if isinstance(m, ScanMetrics) else None
    )
    con = make_oracle_con(SF_DIR)
    queries = generate_corpus(N_TOTAL, sample_pools(con))
    yield eng, con, queries, scans
    con.close()


@pytest.mark.parametrize("batch", range(N_TOTAL // BATCH))
def test_engine_sql_fuzz_batch(engine_fuzz_env, batch):
    eng, con, queries, _scans = engine_fuzz_env
    failures = []
    for k in range(batch * BATCH, (batch + 1) * BATCH):
        sql = queries[k]
        sdf = eng.sql(to_engine_sql(sql))
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        res = con.execute(sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        sc, sr = canon_rows(s_cols, s_rows)
        dc, dr = canon_rows([c.lower() for c in d_cols], d_rows)
        sc = [c.lower() for c in sc]
        if sc != dc:
            failures.append(f"seed {k}: columns engine={sc} duckdb={dc}\n  {sql}")
            continue
        if len(sr) != len(dr):
            failures.append(
                f"seed {k}: rowcount engine={len(sr)} duckdb={len(dr)}\n  {sql}"
            )
            continue
        bad = [(a, b) for a, b in zip(sr, dr) if a != b]
        if bad:
            failures.append(
                f"seed {k}: {len(bad)}/{len(sr)} rows differ; "
                f"first engine={bad[0][0]} duckdb={bad[0][1]}\n  {sql}"
            )
    assert not failures, "\n".join(failures)


def test_pruning_fired_across_corpus(engine_fuzz_env):
    """The run must have exercised the prune path, not just survived it:
    a meaningful share of scans skipped at least one file."""
    _eng, _con, _queries, scans = engine_fuzz_env
    assert scans, "no scans recorded — fuzz batches must run before this"
    pruned = sum(1 for m in scans if m.pruned_files > 0)
    total_pruned_files = sum(m.pruned_files for m in scans)
    assert pruned >= 20, f"only {pruned}/{len(scans)} scans pruned anything"
    assert total_pruned_files >= 200
