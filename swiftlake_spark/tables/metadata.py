"""Table metadata: versioned JSON + snapshot log + manifests.

Layout (``warehouse/db/table/``)::

    metadata/v<N>.json        table metadata (schema, spec, snapshot log)
    metadata/manifest-<snapshot_id>-<uuid>.json   full file list of that
                              snapshot (written once, never rewritten)
    metadata/version-hint.txt current N (advisory; vN claim is the commit)
    data/<commit-uuid>/...    parquet data files

Commit protocol: write ``v<N+1>.json`` with O_CREAT|O_EXCL — the create
IS the atomic claim (same shape as Iceberg's hadoop catalog rename
protocol; reference commits via Iceberg writer/Transaction.java:198-298).
Losers reload, re-validate against the new current snapshot, retry.

Scale note: manifests are one JSON per snapshot holding (path, records,
size, partition tuple, per-column min/max/nulls) — the same content
Iceberg keeps in avro manifests.  The interfaces hand out iterators, so
swapping to a columnar manifest format touches only this module.
"""

from __future__ import annotations

import functools
import json
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

from swiftlake_spark import fileio as _io
from swiftlake_spark.tables.expressions import FileStatsView

# parsed manifests kept process-wide (≙ the reference's 256 MiB manifest
# ContentCache, bounded here by count rather than bytes)
MANIFEST_CACHE_CAP = 32


class CommitConflict(Exception):
    """Another writer committed an incompatible change."""


class ValidationError(Exception):
    """Engine-level validation failure (reference ValidationException)."""


@dataclass(frozen=True)
class ManifestEntry:
    path: str  # relative to table root
    records: int
    size_bytes: int
    partition: dict[str, Any] = field(default_factory=dict)
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    # file column name → field ID at write time (rename-safe resolution,
    # ≙ the reference's Iceberg field IDs, SchemaEvolution.java:328-404).
    # Empty for pre-field-ID files: their names are read as-written.
    column_ids: dict[str, int] = field(default_factory=dict)

    def stats_view(self, rename: dict[str, str] | None = None) -> FileStatsView:
        """``rename`` maps file-time column names → current names so
        stats pruning keeps working across renames.  Opaque ``#u…``
        indirection tokens (>150-char partition values,
        transforms.encode_partition_path_col) carry no comparable value —
        they are dropped so pruning falls back to the file's own column
        min/max stats (inclusive, never over-prunes)."""
        from swiftlake_spark.tables.transforms import is_opaque_pvalue

        part = self.partition
        # opaque values exist only in legacy manifests (new writes resolve
        # them at harvest); skip the per-entry dict copy on the hot path
        if any(is_opaque_pvalue(v) for v in part.values()):
            part = {k: v for k, v in part.items() if not is_opaque_pvalue(v)}
        stats = self.stats
        if rename:
            stats = {rename.get(k, k): v for k, v in stats.items()}
        return FileStatsView(part, stats, self.records)

    def to_json(self) -> dict:
        out = {
            "path": self.path,
            "records": self.records,
            "size_bytes": self.size_bytes,
            "partition": self.partition,
            "stats": self.stats,
        }
        if self.column_ids:
            out["column_ids"] = self.column_ids
        return out

    @staticmethod
    def from_json(d: dict) -> "ManifestEntry":
        return ManifestEntry(
            d["path"], d["records"], d["size_bytes"], d.get("partition", {}),
            d.get("stats", {}), d.get("column_ids", {}),
        )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | overwrite | delete | replace
    manifest: str  # metadata/manifest-<id>.json
    summary: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifest": self.manifest,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"], d.get("parent_id"), d["timestamp_ms"],
            d["operation"], d["manifest"], d.get("summary", {}),
        )


@dataclass
class TableMetadata:
    table_uuid: str
    location: str  # absolute table root
    schema_json: dict  # Spark StructType json
    partition_spec: list[dict]  # [{"name","source","param"}]
    sort_order: list[dict]  # [{"col","asc","nulls_first"}]
    properties: dict[str, str]
    snapshots: list[Snapshot]
    refs: dict[str, int]  # "main" / "branch:x" / "tag:x" → snapshot_id
    version: int = 0
    # current column name → stable field ID (never reused).  Renames keep
    # the ID; resolution of old files goes through ManifestEntry.column_ids.
    field_ids: dict[str, int] = field(default_factory=dict)
    next_field_id: int = 0
    # catalog-cas protocol only: the metadata file this instance was
    # loaded from (the CAS expected-value).  Runtime state, not persisted.
    pointer_file: str | None = None

    def __post_init__(self) -> None:
        # IDs cover every struct-field *path* (nested fields included,
        # keyed "a.b", arrays via ".element", maps via ".key"/".value" —
        # see tables/evolution.py).  Fresh tables get a full assignment;
        # metadata persisted before nested tracking backfills missing
        # nested paths deterministically (same schema + same
        # next_field_id → same assignment on every load, so concurrent
        # loaders agree without a commit).
        from pyspark.sql import types as _T

        from swiftlake_spark.tables.evolution import iter_struct_paths

        if not self.next_field_id:
            self.next_field_id = max(self.field_ids.values(), default=0) + 1
        schema = _T.StructType.fromJson(self.schema_json)
        for path, _f in iter_struct_paths(schema):
            if path not in self.field_ids:
                self.field_ids[path] = self.next_field_id
                self.next_field_id += 1

    # ------------------------------------------------------------------ io
    @property
    def metadata_dir(self) -> str:
        return _io.join(self.location, "metadata")

    def snapshot_by_id(self, sid: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        raise ValueError(f"unknown snapshot {sid}")

    def current_snapshot(self, branch: str = "main") -> Snapshot | None:
        key = branch if branch == "main" else f"branch:{branch}"
        sid = self.refs.get(key)
        return None if sid is None else self.snapshot_by_id(sid)

    def snapshot_as_of(self, ts_ms: int, branch: str = "main") -> Snapshot | None:
        """Latest ancestor of the branch head with timestamp <= ts_ms."""
        s = self.current_snapshot(branch)
        by_id = {x.snapshot_id: x for x in self.snapshots}
        while s is not None and s.timestamp_ms > ts_ms:
            s = by_id.get(s.parent_id) if s.parent_id is not None else None
        return s

    def read_manifest(self, snapshot: Snapshot | None) -> list[ManifestEntry]:
        """The snapshot's entries, parsed once per process: manifest names
        carry a uuid and are never rewritten, so the name is the cache
        key.  Each caller gets its own list of the shared (frozen)
        entries."""
        if snapshot is None:
            return []
        return list(_parse_manifest(self.location, snapshot.manifest))

    def to_json(self) -> dict:
        return {
            "format_version": 1,
            "table_uuid": self.table_uuid,
            "location": self.location,
            "schema": self.schema_json,
            "partition_spec": self.partition_spec,
            "sort_order": self.sort_order,
            "properties": self.properties,
            "snapshots": [s.to_json() for s in self.snapshots],
            "refs": self.refs,
            "field_ids": self.field_ids,
            "next_field_id": self.next_field_id,
        }

    @staticmethod
    def from_json(d: dict, version: int) -> "TableMetadata":
        return TableMetadata(
            table_uuid=d["table_uuid"],
            location=d["location"],
            schema_json=d["schema"],
            partition_spec=d["partition_spec"],
            sort_order=d.get("sort_order", []),
            properties=d.get("properties", {}),
            snapshots=[Snapshot.from_json(s) for s in d.get("snapshots", [])],
            refs=d.get("refs", {}),
            version=version,
            field_ids=d.get("field_ids", {}),
            next_field_id=d.get("next_field_id", 0),
        )


# ---------------------------------------------------------------------- io

_CAS_FILE_RE = re.compile(r"^v(\d+)-[0-9a-f]{8}\.json$")


def load_metadata(location: str) -> TableMetadata:
    io = _io.fileio_for(location)
    mdir = _io.join(location, "metadata")
    # catalog-CAS tables: the catalog service owns the current pointer
    # (≙ Glue/JDBC-catalog Iceberg; see catalog_service module docstring)
    from swiftlake_spark.catalog_service import default_catalog_service

    ptr = default_catalog_service().current(location)
    if ptr is not None:
        meta = TableMetadata.from_json(
            json.loads(io.read_text(_io.join(mdir, ptr))),
            int(ptr[1:].split("-", 1)[0]),
        )
        meta.pointer_file = ptr
        return meta
    version = _current_version(io, mdir)
    if version is not None:
        data = io.read_text(_io.join(mdir, f"v{version}.json"))
        return TableMetadata.from_json(json.loads(data), version)
    # CAS recovery: the (in-process) catalog service lost its pointers —
    # e.g. a fresh process opening a catalog-cas table.  The hint written
    # after every successful CAS names the pointer file; failing that,
    # the highest version number wins (mtime tie-break).  A lost race at
    # the same version is indistinguishable here — which is exactly why
    # the protocol requires a DURABLE catalog service in production; this
    # path restores best-effort access for the fake.
    ptr = _recover_cas_pointer(io, mdir)
    if ptr is None:
        raise FileNotFoundError(f"no table at {location}")
    meta = TableMetadata.from_json(
        json.loads(io.read_text(_io.join(mdir, ptr))),
        int(ptr[1:].split("-", 1)[0]),
    )
    meta.pointer_file = ptr
    return meta


def _recover_cas_pointer(io: "_io.FileIO", mdir: str) -> str | None:
    try:
        hint = io.read_text(_io.join(mdir, "version-hint.txt")).strip()
        if _CAS_FILE_RE.match(hint) and io.exists(_io.join(mdir, hint)):
            return hint
    except FileNotFoundError:
        pass
    cands = [n for n in io.list(mdir) if _CAS_FILE_RE.match(n)]
    if not cands:
        return None

    def key(n: str):
        try:
            mt = io.mtime(_io.join(mdir, n))
        except (FileNotFoundError, OSError):
            mt = 0.0
        return (int(_CAS_FILE_RE.match(n).group(1)), mt, n)

    return max(cands, key=key)


def _current_version(io: "_io.FileIO", mdir: str) -> int | None:
    """Highest vN.json present (version-hint is advisory only)."""
    try:
        hint = int(io.read_text(_io.join(mdir, "version-hint.txt")).strip())
    except (FileNotFoundError, ValueError):
        hint = 0
    v = hint
    while io.exists(_io.join(mdir, f"v{v + 1}.json")):
        v += 1
    return v if io.exists(_io.join(mdir, f"v{v}.json")) else None


def write_new_version(meta: TableMetadata) -> TableMetadata:
    """Commit the next metadata version.  Two protocols:

    - storage claim (default): create-if-absent of ``v<N+1>.json``
      (LocalFileIO: O_CREAT|O_EXCL; object stores: conditional put —
      see fileio module docstring).
    - ``commit.protocol = catalog-cas``: write a uniquely-named
      ``v<N+1>-<uuid>.json`` with a PLAIN put (no storage atomicity
      needed), then CAS the catalog service's pointer — the Glue/JDBC
      Iceberg commit shape (catalog_service module).

    Raises CommitConflict if someone else got there first."""
    io = _io.fileio_for(meta.location)
    mdir = meta.metadata_dir
    next_v = meta.version + 1
    body = json.dumps(meta.to_json(), indent=1, default=str)

    if meta.properties.get("commit.protocol") == "catalog-cas":
        from swiftlake_spark.catalog_service import default_catalog_service

        svc = default_catalog_service()
        fname = f"v{next_v}-{uuid.uuid4().hex[:8]}.json"
        io.write_text(_io.join(mdir, fname), body)
        if meta.version == 0 and meta.pointer_file is None:
            try:
                svc.register(meta.location, fname)
            except FileExistsError as exc:
                raise CommitConflict(
                    f"table already registered: {meta.location}"
                ) from exc
        elif svc.current(meta.location) is None and meta.pointer_file is not None:
            # service lost its pointers (in-process fake after restart) —
            # this loader recovered the pointer from storage; re-seat it.
            # A durable catalog backend never reaches this branch.
            try:
                svc.register(meta.location, fname)
            except FileExistsError as exc:
                raise CommitConflict(
                    f"catalog pointer re-seated concurrently: {meta.location}"
                ) from exc
        elif not svc.cas(meta.location, meta.pointer_file, fname):
            raise CommitConflict(
                f"catalog pointer moved for {meta.location} "
                f"(expected {meta.pointer_file})"
            )
        # hint = pointer FILE NAME (recovery anchor; the claim protocol's
        # hint holds a bare number, contents disambiguate)
        io.replace_text(_io.join(mdir, "version-hint.txt"), fname)
        meta.pointer_file = fname
        meta.version = next_v
        return meta

    path = _io.join(mdir, f"v{next_v}.json")
    try:
        io.try_claim(path, body)
    except FileExistsError as exc:
        raise CommitConflict(f"metadata version v{next_v} already committed") from exc
    io.replace_text(_io.join(mdir, "version-hint.txt"), str(next_v))
    meta.version = next_v
    return meta


@functools.lru_cache(maxsize=MANIFEST_CACHE_CAP)
def _parse_manifest(location: str, manifest: str) -> tuple[ManifestEntry, ...]:
    io = _io.fileio_for(location)
    data = io.read_text(_io.join(location, manifest))
    return tuple(ManifestEntry.from_json(d) for d in json.loads(data))


def write_manifest(location: str, snapshot_id: int, entries: Iterable[ManifestEntry]) -> str:
    # the uuid keeps concurrent committers from clobbering each other's
    # manifest when they race for the same snapshot id (the loser's
    # metadata write fails, but its manifest file must not damage the
    # winner's)
    io = _io.fileio_for(location)
    rel = f"metadata/manifest-{snapshot_id}-{uuid.uuid4().hex[:8]}.json"
    io.write_text(
        _io.join(location, rel), json.dumps([e.to_json() for e in entries], default=str)
    )
    return rel


def new_snapshot_id(meta: TableMetadata) -> int:
    return (max((s.snapshot_id for s in meta.snapshots), default=0)) + 1


def now_ms() -> int:
    return int(time.time() * 1000)
