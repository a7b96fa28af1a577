"""Versioned snapshot metadata with atomic, conflict-detecting commits.

Reimagines the reference's idempotent sink primitives — whole-partition
S3 object overwrite (``panorama_datalake.py:215-258``) and the Athena
``ClientRequestToken`` idempotency token (``panorama_datalake.py:117``)
— as an Iceberg-style snapshot log:

* A table's state is one small immutable JSON document
  ``_meta/v{N}.json`` holding the field-id schema (plus all historical
  schema versions for reading old files), the last applied LSN, the set
  of committed batch ids, lineage rows, and a pointer to a *manifest
  list* (``_meta/manifests/ml-*.json``) that names the immutable
  *manifest files* (``m-*.json``), each listing the live data files of
  a bounded group of buckets — the Iceberg manifest-list shape.
* Commit cost is O(touched buckets), never O(table files): a commit
  writes new manifests for the buckets it touched (plus rewrites of the
  survivor manifests those buckets shared a group with — bounded by the
  ``MANIFEST_SPAN`` group size in ``table.py``), one manifest-list file that
  mostly *references* untouched manifests, and the fixed-size snapshot
  document. At the 100 TB design point (~16k buckets, minute batches)
  the driver no longer serializes an O(table) file inventory per batch.
* Commit = exclusive-create of ``v{N+1}.json`` (``open(..., 'x')`` —
  two racing committers cannot both win) followed by an atomic
  ``os.replace`` of the version-hint pointer. Readers resolve the hint,
  falling back to a scan of ``v*.json`` if the hint write was lost.
* Exactly-once: the batch id is recorded *inside the same snapshot
  document* as the data-file change and the checkpoint LSN, so data,
  checkpoint and lineage commit atomically (SURVEY.md §7.4(1)); a
  replayed batch is detected by id and skipped.

On object stores without atomic rename the same protocol maps to a
conditional PUT (If-None-Match) or a catalog CAS — the storage
primitives live behind the ``FileIO`` seam (fileio.py): POSIX and the
in-memory fake object store implement the identical contract, and the
commit/CAS/recovery tests run against both.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field as dc_field

from .fileio import FileIO, LocalFileIO
from .schema import TableSchema


# format 3: every data file carries the ``__op``/``__lsn`` system columns
# (lakehouse/fold.py), so no reader has to invent them for old files
FORMAT_VERSION = 3


class CommitConflict(RuntimeError):
    """Another writer committed the same version first."""


class UnsupportedFormatVersion(ValueError):
    """A snapshot document older than ``FORMAT_VERSION``."""


def diff_candidate_buckets(snap_from: "Snapshot", snap_to: "Snapshot") -> set[int]:
    """Manifest-level pruning for snapshot diffs: manifests are
    immutable, so a bucket can only differ if some manifest covering it
    appears on one side and not the other. Returns the candidate bucket
    set — O(manifest-list compare), no manifest reads. Pure metadata:
    the first level of ``plan_changes``, which runs without a
    SparkSession."""
    paths_from = {m.path for m in snap_from.manifests}
    paths_to = {m.path for m in snap_to.manifests}
    candidates: set[int] = set()
    for m in snap_from.manifests:
        if m.path not in paths_to:
            candidates |= set(m.buckets)
    for m in snap_to.manifests:
        if m.path not in paths_from:
            candidates |= set(m.buckets)
    return candidates


def snapshot_file_delta(
    snap_from: "Snapshot", snap_to: "Snapshot"
) -> tuple[list["DataFile"], list["DataFile"]]:
    """(removed, added) data files between two snapshots, computed over
    the manifest-pruned candidate buckets only."""
    candidates = diff_candidate_buckets(snap_from, snap_to)
    if not candidates:
        return [], []
    f_from = {f.path: f for f in snap_from.files_in_buckets(candidates)}
    f_to = {f.path: f for f in snap_to.files_in_buckets(candidates)}
    removed = [f for p, f in f_from.items() if p not in f_to]
    added = [f for p, f in f_to.items() if p not in f_from]
    return removed, added


def is_delta_append_range(removed: list["DataFile"], added: list["DataFile"]) -> bool:
    """Whether a ``snapshot_file_delta`` result is a pure delta-append
    range: no file removed (no copy-on-write rewrite, no compaction),
    some added, and every added file a merge-on-read delta. Such a
    range's change feed can be derived from its delta files alone."""
    return not removed and bool(added) and all(f.kind == "delta" for f in added)


def newer_schema(snap_from: "Snapshot", snap_to: "Snapshot") -> "Snapshot":
    """The snapshot a change feed between the two projects onto: the one
    with the newer schema version (``snap_to`` on a tie)."""
    if snap_to.schema.schema_version >= snap_from.schema.schema_version:
        return snap_to
    return snap_from


def plan_changes(
    snap_from: "Snapshot", snap_to: "Snapshot"
) -> tuple["Snapshot", bool, list[tuple[int, list["DataFile"], list["DataFile"]]]]:
    """The one change-feed plan both engines execute (``LakeTable.changes``
    in the JVM, the ``panorama`` data source's batch and stream feeds in
    Arrow): ``(proj, mor, rows)``. ``proj`` is the snapshot whose schema
    both sides project onto (``newer_schema``). Metadata-only pruning
    picks the buckets: manifest-list compare, then the file-set diff.
    Each row is ``(bucket, old_files, new_files)``, sorted by bucket.
    ``mor`` marks a pure delta-append range (``is_delta_append_range``):
    its ``new_files`` are the range's delta files, classified as LWW
    winners against the old state. Any other range diffs the two states
    of each changed bucket, and ``new_files`` are the bucket's files in
    ``snap_to``."""
    removed, added = snapshot_file_delta(snap_from, snap_to)
    mor = is_delta_append_range(removed, added)
    if mor:
        buckets, new = {f.bucket for f in added}, added
    else:
        buckets = snapshot_changed_buckets(snap_from, snap_to)
        new = snap_to.files_in_buckets(buckets)

    def by_bucket(files: list[DataFile]) -> dict[int, list[DataFile]]:
        out: dict[int, list[DataFile]] = {b: [] for b in buckets}
        for f in files:
            out[f.bucket].append(f)
        return out

    old_of, new_of = by_bucket(snap_from.files_in_buckets(buckets)), by_bucket(new)
    rows = [(b, old_of[b], new_of[b]) for b in sorted(buckets)]
    return newer_schema(snap_from, snap_to), mor, rows


def snapshot_changed_buckets(snap_from: "Snapshot", snap_to: "Snapshot") -> set[int]:
    """Buckets whose file set differs between two snapshots. Data files
    are immutable, so an identical file set ⇒ identical rows — the exact
    pruning set for a change-feed scan."""
    candidates = diff_candidate_buckets(snap_from, snap_to)
    if not candidates:
        return set()

    def by_bucket(snap) -> dict[int, tuple[str, ...]]:
        d: dict[int, list[str]] = {}
        for f in snap.files_in_buckets(candidates):
            d.setdefault(f.bucket, []).append(f.path)
        return {b: tuple(sorted(ps)) for b, ps in d.items()}

    a, b = by_bucket(snap_from), by_bucket(snap_to)
    return {k for k in set(a) | set(b) if a.get(k) != b.get(k)}


@dataclass
class DataFile:
    path: str  # relative to table root
    bucket: int
    rows: int
    schema_version: int
    # "base" = compacted row state; "delta" = merge-on-read change file
    # (folded into reads until compaction); both carry __op/__lsn
    kind: str = "base"
    # zone map: stats_key -> [lower, upper, null_count] (see
    # lakehouse/filestats.py; keys are str(field_id) or "__lsn"; absent
    # or None = no skipping on this file). Lives in the immutable
    # manifest files only — the snapshot document never inlines it.
    stats: dict | None = None

    def to_dict(self) -> dict:
        d = {
            "path": self.path,
            "bucket": self.bucket,
            "rows": self.rows,
            "schema_version": self.schema_version,
            "kind": self.kind,
        }
        if self.stats:
            d["stats"] = self.stats
        return d

    @staticmethod
    def from_dict(d: dict) -> "DataFile":
        return DataFile(
            d["path"],
            d["bucket"],
            d["rows"],
            d["schema_version"],
            d.get("kind", "base"),
            d.get("stats"),
        )


@dataclass
class ManifestEntry:
    """One row of the manifest list: an immutable manifest file covering
    a bounded group of buckets, with summary stats so bucket pruning,
    row totals and delta discovery never read the manifest itself."""

    path: str  # relative to table root
    buckets: list[int]
    kinds: list[str]  # sorted set union of member DataFile kinds
    n_files: int
    n_rows: int

    def to_dict(self) -> dict:
        return {
            "path": self.path,
            "buckets": self.buckets,
            "kinds": self.kinds,
            "n_files": self.n_files,
            "n_rows": self.n_rows,
        }

    @staticmethod
    def from_dict(d: dict) -> "ManifestEntry":
        return ManifestEntry(
            d["path"], list(d["buckets"]), list(d["kinds"]), d["n_files"], d["n_rows"]
        )


@dataclass
class Snapshot:
    version: int
    schema: TableSchema
    n_buckets: int
    key_cols: list[str]
    # the manifest list: data files live in immutable manifest files,
    # each covering a bounded bucket group (table.MANIFEST_SPAN)
    manifests: list[ManifestEntry] = dc_field(default_factory=list)
    last_lsn: int = -1
    committed_batches: list[str] = dc_field(default_factory=list)
    lineage: list[dict] = dc_field(default_factory=list)
    # every schema version ever active, for reading old data files
    schema_history: dict[int, TableSchema] = dc_field(default_factory=dict)
    properties: dict = dc_field(default_factory=dict)
    # lineage rows spilled out of the document (oldest-first parquet
    # files under _meta/lineage/, listed here so readers never pick up
    # orphans from failed commits); the in-doc `lineage` list holds only
    # the most recent rows — the snapshot document stays O(retention),
    # not O(table lifetime)
    lineage_files: list[str] = dc_field(default_factory=list)
    # committed batch ids beyond the recent in-document window, spilled
    # oldest-first to immutable files under _meta/batchids/ — the
    # exactly-once guard consults them only when the recent window
    # misses (LakeTable.is_batch_committed), so the document carries
    # O(recent) ids regardless of table lifetime and no id is ever lost
    batchid_files: list[str] = dc_field(default_factory=list)
    # commit wall-clock (unix seconds), stamped at serialization time
    # and parsed back for history(); None until first serialized
    committed_at: float | None = None
    # set by SnapshotLog.commit when it writes the manifest-list file
    manifest_list_path: str | None = None
    # lazy-load context, bound by SnapshotLog (never serialized)
    _io: object = dc_field(default=None, repr=False, compare=False)
    _root: str | None = dc_field(default=None, repr=False, compare=False)
    _manifest_cache: dict = dc_field(default_factory=dict, repr=False, compare=False)

    def __post_init__(self) -> None:
        self.schema_history.setdefault(self.schema.schema_version, self.schema)

    # ------------------------------------------------------- file access

    def bind(self, io, root: str) -> "Snapshot":
        self._io, self._root = io, root
        return self

    def load_manifest(self, entry: ManifestEntry) -> list[DataFile]:
        cached = self._manifest_cache.get(entry.path)
        if cached is None:
            assert self._io is not None and self._root is not None, (
                "snapshot not bound to storage — cannot load manifests"
            )
            doc = json.loads(self._io.read_text(os.path.join(self._root, entry.path)))
            cached = [DataFile.from_dict(f) for f in doc["entries"]]
            self._manifest_cache[entry.path] = cached
        return cached

    @property
    def files(self) -> list[DataFile]:
        """EVERY live data file — loads all manifests (full-scan /
        maintenance path). Incremental paths should use
        ``files_in_buckets`` so a batch only reads O(touched) metadata."""
        return [f for m in self.manifests for f in self.load_manifest(m)]

    def files_in_buckets(self, buckets: set[int]) -> list[DataFile]:
        """Files of the named buckets, reading only the manifests whose
        bucket group intersects them — the merge's metadata pruning."""
        out: list[DataFile] = []
        for m in self.manifests:
            if any(b in buckets for b in m.buckets):
                out.extend(f for f in self.load_manifest(m) if f.bucket in buckets)
        return out

    def total_rows(self) -> int:
        """Row total from manifest summaries alone (no manifest reads)."""
        return sum(m.n_rows for m in self.manifests)

    def total_files(self) -> int:
        return sum(m.n_files for m in self.manifests)

    def delta_buckets(self) -> set[int]:
        """Buckets holding merge-on-read delta files; reads only the
        manifests whose summary says they hold deltas."""
        out: set[int] = set()
        for m in self.manifests:
            if "delta" in m.kinds:
                out |= {f.bucket for f in self.load_manifest(m) if f.kind == "delta"}
        return out

    # ------------------------------------------------------ serialization

    def to_json(self) -> str:
        doc = {
            "format_version": FORMAT_VERSION,
            "version": self.version,
            "schema": self.schema.to_dict(),
            "n_buckets": self.n_buckets,
            "key_cols": self.key_cols,
            "manifest_list": self.manifest_list_path,
            "total_files": self.total_files(),
            "total_rows": self.total_rows(),
            "last_lsn": self.last_lsn,
            "committed_batches": self.committed_batches,
            "lineage": self.lineage,
            "schema_history": {str(v): s.to_dict() for v, s in self.schema_history.items()},
            "properties": self.properties,
            "lineage_files": self.lineage_files,
            "batchid_files": self.batchid_files,
            "committed_at_unix": time.time(),
        }
        return json.dumps(doc, indent=1)

    def manifest_list_json(self) -> str:
        return json.dumps(
            {"entries": [m.to_dict() for m in self.manifests]}, indent=1
        )

    @staticmethod
    def from_json(text: str) -> "Snapshot":
        d = json.loads(text)
        fmt = d.get("format_version", 1)
        if fmt < FORMAT_VERSION:
            raise UnsupportedFormatVersion(
                f"snapshot v{d.get('version')} has format_version {fmt}; this "
                f"engine reads only format {FORMAT_VERSION}, where every data "
                "file carries __op/__lsn"
            )
        return Snapshot(
            version=d["version"],
            schema=TableSchema.from_dict(d["schema"]),
            n_buckets=d["n_buckets"],
            key_cols=d["key_cols"],
            last_lsn=d["last_lsn"],
            committed_batches=d["committed_batches"],
            lineage=d["lineage"],
            schema_history={
                int(v): TableSchema.from_dict(s) for v, s in d.get("schema_history", {}).items()
            },
            properties=d.get("properties", {}),
            lineage_files=d.get("lineage_files", []),
            batchid_files=d.get("batchid_files", []),
            committed_at=d.get("committed_at_unix"),
            manifest_list_path=d.get("manifest_list"),
        )


class SnapshotLog:
    """The ``_meta/`` namespace: version files + atomic current pointer.
    All storage ops go through the ``FileIO`` seam — POSIX by default,
    object-store semantics via any other implementation."""

    def __init__(self, table_root: str, io: FileIO | None = None):
        self.io = io or LocalFileIO()
        self.root = table_root
        self.meta_dir = os.path.join(table_root, "_meta")
        self.manifest_dir = os.path.join("_meta", "manifests")  # root-relative
        self.hint_path = os.path.join(self.meta_dir, "version-hint.txt")
        self.refs_path = os.path.join(self.meta_dir, "refs.json")

    def _version_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.json")

    def exists(self) -> bool:
        return self.current_version() is not None

    def current_version(self) -> int | None:
        try:
            hinted = int(self.io.read_text(self.hint_path).strip())
        except (FileNotFoundError, NotADirectoryError, ValueError):
            # NotADirectoryError: the "table root" is a plain file
            # (list_tables probes every child of the base dir)
            hinted = -1
        # the hint is advisory: a crash between publish steps can leave it
        # stale, so trust the highest committed version file.
        best = max([hinted, *self.versions()])
        return best if best >= 0 else None

    def versions(self) -> list[int]:
        """The versions whose ``v{N}.json`` document is in ``_meta/``."""
        out = []
        for name in self.io.list_dir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    pass
        return out

    def read_current(self) -> Snapshot | None:
        v = self.current_version()
        if v is None:
            return None
        return self.read_version(v)

    def resolve(self, version: int | None = None, ref: str | None = None) -> Snapshot:
        """The snapshot a read names: a numeric ``version``, a tag ``ref``
        (``refs()``), or the current one when neither is given. Raises
        ``ValueError`` for both, ``KeyError`` for an unknown ref and
        ``FileNotFoundError`` when there is no table."""
        if ref is not None:
            if version is not None:
                raise ValueError("pass version or ref, not both")
            version = self.resolve_ref(ref)
        if version is not None:
            return self.read_version(int(version))
        snap = self.read_current()
        if snap is None:
            raise FileNotFoundError(f"no lake table at {self.root}")
        return snap

    def read_version(self, version: int) -> Snapshot:
        snap = Snapshot.from_json(self.io.read_text(self._version_path(version)))
        snap.bind(self.io, self.root)
        if snap.manifest_list_path:
            ml = json.loads(
                self.io.read_text(os.path.join(self.root, snap.manifest_list_path))
            )
            snap.manifests = [ManifestEntry.from_dict(e) for e in ml["entries"]]
        return snap

    def refs(self) -> dict[str, int]:
        """Named snapshot refs (tags, ``LakeTable.tag``): ``{name: version}``
        from the ``_meta/refs.json`` document; none written yet = ``{}``."""
        try:
            return {
                k: int(v) for k, v in json.loads(self.io.read_text(self.refs_path)).items()
            }
        except (FileNotFoundError, NotADirectoryError):
            return {}

    def resolve_ref(self, ref: str) -> int:
        refs = self.refs()
        if ref not in refs:
            raise KeyError(f"unknown ref {ref!r}; known: {sorted(refs)}")
        return refs[ref]

    def commit(self, snapshot: Snapshot, expected_parent: int | None) -> None:
        """Write the manifest-list file, then exclusive-create v{N};
        conflict if it already exists. The manifest list carries a
        per-attempt unique name, so a CAS loser's list (and its
        manifests) are simply never referenced — ``vacuum`` reaps them."""
        import uuid

        cur = self.current_version()
        if cur != expected_parent:
            raise CommitConflict(
                f"expected parent version {expected_parent}, found {cur}"
            )
        snapshot.bind(self.io, self.root)
        if snapshot.manifest_list_path is None:
            rel = os.path.join(
                self.manifest_dir,
                f"ml-v{snapshot.version}-{uuid.uuid4().hex[:12]}.json",
            )
            self.io.write_text(os.path.join(self.root, rel), snapshot.manifest_list_json())
            snapshot.manifest_list_path = rel
        path = self._version_path(snapshot.version)
        try:
            # the CAS: O_EXCL on POSIX, conditional PUT on object stores
            self.io.write_text_if_absent(path, snapshot.to_json())
        except FileExistsError as exc:
            raise CommitConflict(f"version {snapshot.version} already committed") from exc
        self._publish(snapshot.version)

    def _publish(self, version: int) -> None:
        self.io.write_text(self.hint_path, str(version))
