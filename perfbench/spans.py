"""Span tracing from the outside: the benchmark wraps the public calls
into each layer of ``swiftlake_spark`` and records a span per call.

A span is ``(id, parent, op, layer, name, t0, t1, cpu_s, thread)``:
``parent`` is the enclosing span on the same thread, ``op`` the
benchmark operation it belongs to, ``cpu_s`` the thread CPU time spent
inside it.  Spans stay in memory and are written once, when the run
ends.  Per-operation counters (scan and commit metrics, storage I/O)
are kept beside the spans of the operation that produced them.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (dotted owner, attribute, layer, span name); owners are modules or
# classes under swiftlake_spark.  Module functions are also replaced in
# every swiftlake_spark module that imported them by name.
LAYER_CALLS = [
    ("swiftlake_spark.engine.SwiftLakeEngine", "sql", "engine", "sql"),
    ("swiftlake_spark.engine.SwiftLakeEngine", "execute", "engine", "execute"),
    ("swiftlake_spark.engine.SwiftLakeEngine", "insert_into", "engine", "dml_factory"),
    ("swiftlake_spark.engine.SwiftLakeEngine", "update", "engine", "dml_factory"),
    ("swiftlake_spark.engine.SwiftLakeEngine", "delete_from", "engine", "dml_factory"),
    ("swiftlake_spark.engine.SwiftLakeEngine", "merge_into", "engine", "dml_factory"),
    ("swiftlake_spark.engine.SwiftLakeEngine", "apply_changes_as_scd2", "engine", "dml_factory"),
    ("swiftlake_spark.tables.catalog.Catalog", "resolve_sql", "tables", "resolve_sql"),
    ("swiftlake_spark.tables.catalog.Catalog", "table", "tables", "catalog_table"),
    ("swiftlake_spark.tables.metadata", "load_metadata", "tables", "load_metadata"),
    ("swiftlake_spark.tables.metadata.TableMetadata", "read_manifest", "tables", "read_manifest"),
    ("swiftlake_spark.tables.metadata", "write_new_version", "tables", "write_metadata"),
    ("swiftlake_spark.tables.metadata", "write_manifest", "tables", "write_manifest"),
    ("swiftlake_spark.tables.table.Table", "scan", "tables", "plan"),
    ("swiftlake_spark.tables.table.Table", "prune", "tables", "prune"),
    ("swiftlake_spark.tables.table.Table", "_commit", "tables", "commit"),
    ("swiftlake_spark.tables.table.Table", "_write_files", "tables", "write_files"),
    ("swiftlake_spark.dml.insert.InsertBuilder", "execute", "dml", "insert"),
    ("swiftlake_spark.dml.update.UpdateBuilder", "execute", "dml", "update"),
    ("swiftlake_spark.dml.delete.DeleteBuilder", "execute", "dml", "delete"),
    ("swiftlake_spark.dml.merge.MergeIntoBuilder", "execute", "dml", "merge"),
    ("swiftlake_spark.dml.scd2.SCD2Builder", "execute", "dml", "scd2"),
    ("swiftlake_spark.operators.dedup", "exact_dedup", "operators", "exact_dedup"),
    ("swiftlake_spark.operators.dedup", "minhash_lsh_dedup", "operators", "minhash_lsh_dedup"),
    ("swiftlake_spark.operators.dedup", "lsh_candidate_pairs", "operators", "lsh_candidate_pairs"),
]


def _resolve(dotted: str):
    """Import the longest module prefix of ``dotted`` and walk the rest."""
    import importlib

    parts = dotted.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ImportError(dotted)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.op_counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op_kind: dict[str, str] = {}
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.enabled = False

    # -- operation context ---------------------------------------------
    @property
    def current_op(self) -> str | None:
        return getattr(self._tls, "op", None)

    @contextmanager
    def op(self, op_id: str, kind: str):
        """Mark the calling thread as working on ``op_id``; when tracing
        is on, the operation itself is the root span (layer ``op``)."""
        self._tls.op = op_id
        self._tls.stack = []
        self.op_kind[op_id] = kind
        try:
            if self.enabled:
                with self.span("op", kind):
                    yield
            else:
                yield
        finally:
            self._tls.op = None

    def count(self, key: str, value: float = 1.0, op: str | None = None) -> None:
        """Add ``value`` to counter ``key`` of ``op`` (default: the
        calling thread's current operation; outside one, nothing)."""
        op = op or self.current_op
        if op is not None:
            with self._lock:
                self.op_counts[op][key] += value

    @contextmanager
    def span(self, layer: str, name: str):
        stack = getattr(self._tls, "stack", None)
        if not self.enabled or stack is None:
            yield
            return
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        c0 = time.thread_time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            c1 = time.thread_time()
            stack.pop()
            rec = (sid, parent, self._tls.op, layer, name, t0, t1, c1 - c0,
                   threading.get_ident())
            with self._lock:
                self.spans.append(rec)

    # -- patching ------------------------------------------------------
    def _wrapper(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                out = fn(*args, **kwargs)
            if name == "read_manifest" and isinstance(out, list):
                tracer.count("manifest_entries_read", len(out))
            return out

        traced.__perfbench_original__ = fn
        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def patch(self, owner, attr: str, layer: str, name: str) -> None:
        orig = getattr(owner, attr)
        wrapped = self._wrapper(orig, layer, name)
        self._set(owner, attr, wrapped)
        if isinstance(owner, type(sys)):
            # functions imported by name elsewhere (``from m import f``)
            for mod_name, mod in list(sys.modules.items()):
                if (mod is not owner and mod_name.startswith("swiftlake_spark")
                        and mod.__dict__.get(attr) is orig):
                    self._set(mod, attr, wrapped)

    def install(self, extra: list[tuple] = ()) -> None:
        """Wrap every layer call in LAYER_CALLS plus ``extra`` entries of
        ``(owner object, attribute, layer, name)``."""
        for dotted, attr, layer, name in LAYER_CALLS:
            self.patch(_resolve(dotted), attr, layer, name)
        for owner, attr, layer, name in extra:
            self.patch(owner, attr, layer, name)
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- output --------------------------------------------------------
    def dump(self, path: str, meta: dict) -> None:
        fields = ["id", "parent", "op", "layer", "name", "t0", "t1", "cpu_s", "thread"]
        with open(path, "w") as f:
            json.dump({
                "meta": meta,
                "fields": fields,
                "spans": self.spans,
                "op_kind": self.op_kind,
                "op_counts": {k: dict(v) for k, v in self.op_counts.items()},
            }, f)


def self_times(spans: list[tuple]) -> dict[int, tuple[float, float]]:
    """span id → (self wall seconds, self cpu seconds): the span's own
    interval minus what its child spans cover."""
    child_wall: dict[int, float] = defaultdict(float)
    child_cpu: dict[int, float] = defaultdict(float)
    for s in spans:
        if s[1] is not None:
            child_wall[s[1]] += s[6] - s[5]
            child_cpu[s[1]] += s[7]
    return {s[0]: (s[6] - s[5] - child_wall[s[0]], s[7] - child_cpu[s[0]]) for s in spans}


def counting_fileio(tracer: Tracer):
    """A LocalFileIO that counts storage calls against the current
    operation (registered for the benchmark's warehouse prefix)."""
    from swiftlake_spark.fileio import LocalFileIO

    class CountingFileIO(LocalFileIO):
        def read_bytes(self, path: str) -> bytes:
            t0 = time.perf_counter()
            data = super().read_bytes(path)
            tracer.count("fileio.read_ms", (time.perf_counter() - t0) * 1000)
            tracer.count("fileio.read_ops")
            tracer.count("fileio.read_bytes", len(data))
            return data

        def write_bytes(self, path: str, data: bytes) -> None:
            super().write_bytes(path, data)
            tracer.count("fileio.write_ops")
            tracer.count("fileio.write_bytes", len(data))

        def try_claim(self, path: str, data: str) -> None:
            super().try_claim(path, data)
            tracer.count("fileio.write_ops")
            tracer.count("fileio.write_bytes", len(data.encode()))

        def replace_text(self, path: str, data: str) -> None:
            super().replace_text(path, data)
            tracer.count("fileio.write_ops")
            tracer.count("fileio.write_bytes", len(data.encode()))

    return CountingFileIO()
