"""SwiftLakeEngine — the user-facing engine object.

The Spark-first counterpart of the reference's ``SwiftLakeEngine``
(``core/.../SwiftLakeEngine.java:82-151``): owns the session, resolves
table names, runs SQL, and hands out DML builders.  Where the reference
rewrites SQL so Iceberg tables become DuckDB ``read_parquet`` subqueries,
here each table name becomes a placeholder for a pruned DataFrame that
PySpark binds for that one statement, and Catalyst does the rest.

Tables come from the engine's catalog (the snapshot-based lakehouse
format in ``swiftlake_spark.tables``) or from raw parquet directories
registered with :meth:`register_parquet`.
"""

from __future__ import annotations

import os
import threading
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession

from swiftlake_spark.config import EngineConfig
from swiftlake_spark.session import build_session


class QueryTimeout(Exception):
    """Query exceeded the engine's timeout and its Spark jobs were
    cancelled (reference: statement queryTimeout,
    SwiftLakeEngine.java:626-672)."""


class EngineBusy(Exception):
    """No query slot became free within query_acquire_timeout_s
    (reference: connection semaphore cap)."""


class SwiftLakeEngine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        config: EngineConfig | None = None,
        warehouse: str | None = None,
    ) -> None:
        self.config = config or EngineConfig()
        self.spark = spark or build_session(self.config)
        self.warehouse = warehouse
        self._catalog = None
        # metric collector seam (≙ reference metrics/MetricCollector.java,
        # MetricCollectorProvider): callables receiving every ScanMetrics
        # and CommitMetrics produced by this engine's tables
        self.metric_collectors: list = []
        self._query_sem = (
            threading.Semaphore(self.config.max_concurrent_queries)
            if self.config.max_concurrent_queries
            else None
        )

    # -- catalog ----------------------------------------------------------
    @property
    def catalog(self):
        if self._catalog is None:
            if self.warehouse is None:
                raise ValueError("engine has no warehouse; pass warehouse= to use tables")
            from swiftlake_spark.plans.guards import ScanGuard
            from swiftlake_spark.tables.catalog import Catalog

            guard = ScanGuard(
                allow_full_table_scan=self.config.allow_full_table_scan,
                total_scan_size_limit_mib=self.config.total_scan_size_limit_mib,
            )
            self._catalog = Catalog(
                self.spark,
                self.warehouse,
                guard=guard,
                metric_collectors=self.metric_collectors,
            )
        return self._catalog

    def add_metric_collector(self, collector) -> None:
        """Register a callable ``collector(metrics)`` that receives every
        ScanMetrics and CommitMetrics (with per-partition rollups) the
        engine produces (reference MetricCollector.collectMetrics).  The
        list is shared by reference with all table handles, so
        registration order vs. table creation does not matter."""
        self.metric_collectors.append(collector)

    def batch_transaction(self, table_name: str, branch: str = "main"):
        """Accumulate multiple appends into one commit (reference A22)."""
        from swiftlake_spark.tables.batch import TableBatchTransaction

        return TableBatchTransaction(self.catalog.table(table_name), branch)

    def table(self, name: str) -> DataFrame:
        """Load a lakehouse table (supports time-travel suffix sugar —
        ``db.t$timestamp_<ms>``, ``$snapshot_<id>``, ``$branch_<b>``,
        ``$tag_<t>`` — mirroring the reference's name grammar,
        sql/SqlQueryProcessor.java:371-402)."""
        return self.catalog.load(name)

    def register_parquet(self, view: str, path: str) -> DataFrame:
        df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(view)
        return df

    def register_iceberg(self, view: str, location: str, **scan_kw) -> DataFrame:
        """Expose an EXISTING Apache Iceberg table (v1/v2 directory) as a
        SQL view — read through sources/iceberg.py (no Iceberg runtime
        needed; field-ID column resolution, time travel via
        ``snapshot_id=``/``as_of_ms=`` scan kwargs).  Reference parity:
        SwiftLakeEngine.java:374-402 resolves Iceberg tables by name."""
        from swiftlake_spark.sources.iceberg import IcebergTable

        df = IcebergTable(self.spark, location).scan(**scan_kw)
        df.createOrReplaceTempView(view)
        return df

    def register_testdata(self, sf_dir: str) -> None:
        from swiftlake_spark.queries.base import TABLES, load

        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                # load() handles quirks like events' nanos timestamps
                load(self.spark, sf_dir, t).createOrReplaceTempView(t)

    # -- query ------------------------------------------------------------
    def sql(
        self,
        sql: str,
        args: dict | list | None = None,
        transform=None,
    ) -> DataFrame:
        """Run SQL.  Lakehouse tables referenced as ``db.t`` (with optional
        time-travel suffix) are resolved to pruned DataFrames scoped to
        this query: nothing is left in the session catalog, and the
        statement reads one snapshot per table.  ``args`` binds named
        (``:name``) or positional (``?``) parameter markers — the
        Spark-native counterpart of the reference's typed JDBC prepared
        statements (sql/SwiftLakePreparedStatement.java:179-500, A25).

        ``transform`` (a ``str -> str`` callable) and the engine-level
        ``config.sql_transformers`` list rewrite the statement text
        BEFORE DDL/DML routing and table resolution — the reference's
        pluggable QueryTransformer seam (sql/QueryTransformer.java:23,
        applied in SwiftLakeConnection.prepareStatement:119-137 before
        table processing).  Order: the per-call ``transform`` first (the
        reference's statement-scoped form), then the config list in
        order.  Parameter markers survive transforms untouched unless a
        transformer rewrites them deliberately.

        Lakehouse CREATE / ALTER / DROP TABLE route from the text first
        (sqldml.ddl_route).  Any other statement is parsed once by Spark's
        parser (tables/sqlextract.py ``parse``): INSERT / UPDATE / DELETE
        FROM / MERGE INTO on a LAKEHOUSE table route to the builders
        (dml/sqldml.py — beyond the reference's read-only SQL surface)
        and return a one-row commit receipt ``(operation, snapshot_id)``;
        the rest has its tables resolved from the same parse and runs on
        ``spark.sql``, which also reports statements Spark cannot parse."""
        from swiftlake_spark.dml import sqldml
        from swiftlake_spark.tables import sqlextract

        for t in ([transform] if transform else []) + list(
            self.config.sql_transformers
        ):
            out = t(sql)
            if not isinstance(out, str) or not out.strip():
                raise ValueError(
                    f"SQL transformer {t!r} must return a non-empty string"
                )
            sql = out

        if self.warehouse is None:
            return self.spark.sql(sql, args=args)
        if sqldml.ddl_route(self, sql):
            return sqldml.execute_ddl(self, sql, args)
        root = sqlextract.parse(self.spark, sql)
        if root is None:
            return self.spark.sql(sql, args=args)
        table = sqldml.dml_table(root)
        if table is not None and self.catalog.table_exists(table):
            return sqldml.execute_dml(self, sql, root, table, args)
        sql, frames = self.catalog.resolve_sql(sql, root)
        return self.spark.sql(sql, args=args, **frames)

    def execute(
        self,
        query: str | DataFrame,
        args: dict | list | None = None,
        timeout_s: float | None = None,
    ) -> list:
        """Run a query to completion under the engine's ergonomics knobs
        and return the collected rows (contract-small result sets — large
        outputs should be written, not collected).

        - ``timeout_s`` (or config.query_timeout_s): the query's Spark
          jobs run in a cancellable job group; on expiry they are
          cancelled and :class:`QueryTimeout` raises.
        - config.max_concurrent_queries: a semaphore caps in-flight
          ``execute`` calls; waiting longer than query_acquire_timeout_s
          for a slot raises :class:`EngineBusy`.

        Spark-native translation of the reference's statement timeout +
        connection-duplication semaphore (SwiftLakeEngine.java:626-672).
        """
        df = self.sql(query, args) if isinstance(query, str) else query
        timeout = timeout_s if timeout_s is not None else self.config.query_timeout_s
        if self._query_sem is not None:
            if not self._query_sem.acquire(timeout=self.config.query_acquire_timeout_s):
                raise EngineBusy(
                    f"no query slot within {self.config.query_acquire_timeout_s}s "
                    f"(max_concurrent_queries={self.config.max_concurrent_queries})"
                )
        try:
            if timeout is None:
                return df.collect()
            group = f"swiftlake-{_uuid.uuid4().hex[:8]}"
            sc = self.spark.sparkContext
            out: dict = {}

            def run() -> None:
                try:
                    # job-group properties are thread-local: set in the
                    # thread that triggers the jobs so cancelJobGroup
                    # finds them (inside the try — a py4j failure here
                    # must surface as the real error, not KeyError)
                    sc.setJobGroup(
                        group, "SwiftLakeEngine.execute", interruptOnCancel=True
                    )
                    out["rows"] = df.collect()
                except Exception as exc:  # noqa: BLE001 — reraised below
                    out["err"] = exc

            th = threading.Thread(target=run, daemon=True)
            th.start()
            th.join(timeout)
            if th.is_alive():
                sc.cancelJobGroup(group)
                th.join(10)
                raise QueryTimeout(f"query exceeded {timeout}s; jobs cancelled")
            if "err" in out:
                raise out["err"]
            return out["rows"]
        finally:
            if self._query_sem is not None:
                self._query_sem.release()

    # -- DML builders (wired to the table format) -------------------------
    def insert_into(self, table):
        """``table``: a ``db.t`` name, or a :class:`TableBatchTransaction`
        to accumulate this insert into one deferred commit (reference
        ``insertInto(TableBatchTransaction)``, SwiftLakeEngine.java:763)."""
        from swiftlake_spark.dml.insert import InsertBuilder

        name, batch = self._name_or_batch(table)
        return InsertBuilder(self, name, overwrite=False, batch=batch)

    def insert_overwrite(self, table):
        from swiftlake_spark.dml.insert import InsertBuilder

        name, batch = self._name_or_batch(table)
        if batch is not None:
            # the reference has no insertOverwrite(TableBatchTransaction)
            # overload either — the strict-overwrite file replacement is
            # a standalone commit by design
            raise ValueError(
                "insert_overwrite does not accept a batch transaction"
            )
        return InsertBuilder(self, name, overwrite=True)

    def _name_or_batch(self, table):
        """Factories accept a ``db.t`` name or a TableBatchTransaction
        (reference DML overloads on TableBatchTransaction —
        SwiftLakeEngine.java:763,815,845,876)."""
        from swiftlake_spark.tables.batch import TableBatchTransaction

        if isinstance(table, TableBatchTransaction):
            return None, table
        return table, None

    def update(self, table):
        from swiftlake_spark.dml.update import UpdateBuilder

        name, batch = self._name_or_batch(table)
        return UpdateBuilder(self, name, batch=batch)

    def delete_from(self, table):
        from swiftlake_spark.dml.delete import DeleteBuilder

        name, batch = self._name_or_batch(table)
        return DeleteBuilder(self, name, batch=batch)

    def merge_into(self, table):
        """Generic SQL:2003 MERGE (beyond the reference surface — SwiftLake
        only ships SCD1/SCD2 apply): ``engine.merge_into("db.t").using(src)
        .key_columns([...]).table_filter_sql(...).when_matched_update(...)
        .when_matched_delete(...).when_not_matched_insert(...).execute()``."""
        from swiftlake_spark.dml.merge import MergeIntoBuilder

        name, batch = self._name_or_batch(table)
        return MergeIntoBuilder(self, name, batch=batch)

    def apply_changes_as_scd1(self, table):
        from swiftlake_spark.dml.scd1 import SCD1Builder

        name, batch = self._name_or_batch(table)
        return SCD1Builder(self, name, mode="changes", batch=batch)

    def apply_snapshot_as_scd1(self, table):
        from swiftlake_spark.dml.scd1 import SCD1Builder

        name, batch = self._name_or_batch(table)
        return SCD1Builder(self, name, mode="snapshot", batch=batch)

    def apply_changes_as_scd2(self, table):
        from swiftlake_spark.dml.scd2 import SCD2Builder

        name, batch = self._name_or_batch(table)
        return SCD2Builder(self, name, mode="changes", batch=batch)

    def apply_snapshot_as_scd2(self, table):
        from swiftlake_spark.dml.scd2 import SCD2Builder

        name, batch = self._name_or_batch(table)
        return SCD2Builder(self, name, mode="snapshot", batch=batch)

    def close(self) -> None:
        """Release session-scoped cached artifacts (persisted DataFrames,
        fixture tempdirs) registered under this engine's Spark
        application — the bounded-lifecycle half of the artifact registry
        (swiftlake_spark/artifacts.py).  Does NOT stop the SparkSession:
        the session is caller-owned (several engines may share it)."""
        from swiftlake_spark.artifacts import registry

        try:
            app_id = self.spark.sparkContext.applicationId
        except Exception:
            app_id = None
        registry.clear(app_id=app_id)
