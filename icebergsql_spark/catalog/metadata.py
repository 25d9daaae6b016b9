"""Table metadata model: snapshots, manifests, data files, column stats.

Pure-Python re-expression of the reference's Iceberg metadata integration:
  - TableMetadata JSON tree + optimistic commit —
    /root/reference/src/main/scala/org/apache/spark/sql/iceberg/table/
    SparkTableOperations.scala:43-160 (stale-base reject at :96-99)
  - Snapshot with added/deleted file accounting —
    InsertIntoIcebergTable.createSnapShot (InsertIntoIcebergTable.scala:142-179)
  - DataFile with per-column parquet stats —
    utils/DataFileUtils.scala:32-56 + utils/ParquetMetrics.scala:38-117
  - snapshot view schema (incl. the reference's `numdDeletedFiles` typo,
    kept for output parity) — utils/TableUtils.scala:48-89

Scale design: a snapshot references a LIST of manifest JSON files; appends
add one manifest and reuse the parent's list (commit cost O(new files), not
O(table files)); overwrites rewrite only the manifests that contain deleted
files. This is the Iceberg manifest-reuse pattern, so planning cost stays
proportional to live manifests even after thousands of commits. Manifests at
real 100 TB scale would be parquet+zstd rather than JSON — the structure is
the same, noted in Manifest.write.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from decimal import Decimal
from functools import cached_property
from typing import Any


# ------------------------------------------------------- value (de)serde --


def encode_value(v) -> Any:
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, Decimal):
        return {"t": "dec", "v": str(v)}
    if isinstance(v, bytes):
        return {"t": "bin", "v": v.hex()}
    raise TypeError(f"cannot encode stat value of type {type(v)}")


def decode_value(v):
    if isinstance(v, dict) and "t" in v:
        t, raw = v["t"], v["v"]
        if t == "ts":
            return _dt.datetime.fromisoformat(raw)
        if t == "date":
            return _dt.date.fromisoformat(raw)
        if t == "dec":
            return Decimal(raw)
        if t == "bin":
            return bytes.fromhex(raw)
    return v


@dataclass
class ColStats:
    min: Any = None
    max: Any = None
    null_count: int | None = None
    value_count: int | None = None
    # optional per-file Bloom filter (base64 bit array, catalog/stats.py
    # BLOOM_M_BITS/BLOOM_K layout) — equality/IN skipping beyond min/max
    bloom: str | None = None

    def to_json(self):
        d = {
            "min": encode_value(self.min),
            "max": encode_value(self.max),
            "nulls": self.null_count,
            "count": self.value_count,
        }
        if self.bloom is not None:
            d["bloom"] = self.bloom
        return d

    @classmethod
    def from_json(cls, d):
        return cls(
            min=decode_value(d.get("min")),
            max=decode_value(d.get("max")),
            null_count=d.get("nulls"),
            value_count=d.get("count"),
            bloom=d.get("bloom"),
        )


@dataclass
class DataFile:
    path: str
    partition: dict[str, str]  # partition column → string value (as written)
    record_count: int
    file_size: int
    stats: dict[str, ColStats] = field(default_factory=dict)
    # schema version (index into TableMetadata.schemas) the file was written
    # under; column names in `stats`/`partition` are THAT era's names, and
    # readers translate via field ids (Iceberg's name-independent columns)
    schema_id: int = 0
    # data sequence number (commit counter at write): equality deletes
    # mask only rows from files with seq LOWER than the delete's seq
    seq: int = 0
    # Hive-layout import: the file physically LACKS the table's partition
    # columns; their values live only in `partition` (parsed from the
    # `col=value` path segments at add_files time) and the read path
    # materializes them as literals. Rewrites/compactions emit normal
    # files, so the flag dissolves on the first rewrite.
    path_partition: bool = False

    def to_json(self):
        d = {
            "path": self.path,
            "partition": self.partition,
            "records": self.record_count,
            "bytes": self.file_size,
            "stats": {c: s.to_json() for c, s in self.stats.items()},
            "sid": self.schema_id,
        }
        if self.seq:
            d["seq"] = self.seq
        if self.path_partition:
            d["pp"] = 1
        return d

    @classmethod
    def from_json(cls, d):
        return cls(
            path=d["path"],
            partition=d.get("partition", {}),
            record_count=d["records"],
            file_size=d["bytes"],
            stats={c: ColStats.from_json(s) for c, s in d.get("stats", {}).items()},
            schema_id=d.get("sid", 0),
            seq=d.get("seq", 0),
            path_partition=bool(d.get("pp", 0)),
        )


# Above this many entries a manifest is written as parquet+zstd instead of
# JSON: columnar, compressed, and readable in one vectorized pass, so driver
# planning stays metadata-bounded when a single commit lands 10^4-10^6 files
# (the 100× scale path). Below it, JSON keeps small commits human-debuggable.
PARQUET_MANIFEST_THRESHOLD = 1024


class Manifest:
    """A list of DataFile entries stored as one JSON or parquet file.

    Format is chosen at write time by entry count (PARQUET_MANIFEST_THRESHOLD)
    and carried in the file extension; readers dispatch on it, so a
    snapshot's manifest list can mix formats freely (e.g. a huge initial
    backfill manifest in parquet + small incremental appends in JSON).
    The parquet write is a driver-local pyarrow write, not a Spark job —
    manifests are metadata (a few MB even at 10^5 entries) and a per-commit
    Spark job would cost more than it saves; beyond ~10^6 entries the same
    schema can be fanned out via Spark without changing readers.
    """

    def __init__(self, path: str, files: list[DataFile] | None = None):
        self.path = path
        self._files = files

    def files(self) -> list[DataFile]:
        if self._files is None:
            if self.path.endswith(".parquet"):
                import pyarrow.parquet as pq

                t = pq.read_table(self.path)
                cols = [t.column(c).to_pylist() for c in ("path", "partition", "records", "bytes", "stats")]
                sids = (
                    t.column("sid").to_pylist()
                    if "sid" in t.column_names
                    else [0] * t.num_rows
                )
                seqs = (
                    t.column("seq").to_pylist()
                    if "seq" in t.column_names
                    else [0] * t.num_rows
                )
                pps = (
                    t.column("pp").to_pylist()
                    if "pp" in t.column_names
                    else [0] * t.num_rows
                )
                self._files = [
                    DataFile(
                        path=p,
                        partition=json.loads(part),
                        record_count=rec,
                        file_size=byt,
                        stats={
                            c: ColStats.from_json(s)
                            for c, s in json.loads(st).items()
                        },
                        schema_id=sid,
                        seq=sq,
                        path_partition=bool(pp),
                    )
                    for p, part, rec, byt, st, sid, sq, pp in zip(
                        *cols, sids, seqs, pps
                    )
                ]
            else:
                with open(self.path) as f:
                    self._files = [
                        DataFile.from_json(d) for d in json.load(f)["files"]
                    ]
        return self._files

    @classmethod
    def write(cls, path: str, files: list[DataFile]) -> "Manifest":
        """Write entries to ``path``; MAY change the extension (.json ↔
        .parquet) depending on entry count — callers must use the returned
        manifest's ``.path``, not the one they passed in."""
        base = path[: -len(".json")] if path.endswith(".json") else path
        if len(files) >= PARQUET_MANIFEST_THRESHOLD:
            import pyarrow as pa
            import pyarrow.parquet as pq

            path = f"{base}.parquet"
            tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
            table = pa.table(
                {
                    "path": [f.path for f in files],
                    "partition": [json.dumps(f.partition) for f in files],
                    "records": pa.array(
                        [f.record_count for f in files], type=pa.int64()
                    ),
                    "bytes": pa.array(
                        [f.file_size for f in files], type=pa.int64()
                    ),
                    "stats": [
                        json.dumps({c: s.to_json() for c, s in f.stats.items()})
                        for f in files
                    ],
                    "sid": pa.array(
                        [f.schema_id for f in files], type=pa.int32()
                    ),
                    "seq": pa.array(
                        [f.seq for f in files], type=pa.int64()
                    ),
                    "pp": pa.array(
                        [int(f.path_partition) for f in files],
                        type=pa.int8(),
                    ),
                }
            )
            pq.write_table(table, tmp, compression="zstd")
        else:
            path = f"{base}.json"
            tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump({"files": [df.to_json() for df in files]}, f)
        os.rename(tmp, path)
        return cls(path, list(files))


@dataclass
class DeleteVectorEntry:
    """One merge-on-read position-delete vector: ``dv_path`` is a parquet
    file set with columns ``(path string, pos bigint)`` naming deleted row
    positions of ``data_path`` (Iceberg v2's position-delete file, scoped
    per data file). ``count`` is the number of DISTINCT deleted positions —
    writers subtract already-deleted positions before writing, so counts
    are additive and metadata-level ``record_count - Σcount`` stays exact."""

    data_path: str
    dv_path: str
    count: int

    def to_json(self):
        return {"data": self.data_path, "dv": self.dv_path, "count": self.count}

    @classmethod
    def from_json(cls, d):
        return cls(data_path=d["data"], dv_path=d["dv"], count=d["count"])


class DVManifest:
    """A list of DeleteVectorEntry stored as one JSON file. DV manifests
    stay JSON-only: entries are per *churned* data file (bounded by delete
    activity, not table size), and compaction/rewrites retire them."""

    def __init__(
        self, path: str, entries: list[DeleteVectorEntry] | None = None
    ):
        self.path = path
        self._entries = entries

    def entries(self) -> list[DeleteVectorEntry]:
        if self._entries is None:
            with open(self.path) as f:
                self._entries = [
                    DeleteVectorEntry.from_json(d)
                    for d in json.load(f)["deletes"]
                ]
        return self._entries

    @classmethod
    def write(cls, path: str, entries: list[DeleteVectorEntry]) -> "DVManifest":
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"deletes": [e.to_json() for e in entries]}, f)
        os.rename(tmp, path)
        return cls(path, list(entries))


@dataclass
class EqualityDeleteEntry:
    """One equality-delete file (Iceberg v2): ``eq_path`` is a parquet
    rowset of KEY VALUES over ``key_cols``; a data row is masked iff its
    key appears here AND its data file's sequence number is LOWER than
    ``seq`` (rows written in the same or a later commit are untouched —
    the rule that lets a CDC upsert append the new image and delete the
    old in one commit with zero read-before-write)."""

    eq_path: str
    key_cols: list[str]
    seq: int
    count: int

    def to_json(self):
        return {
            "eq": self.eq_path,
            "keys": self.key_cols,
            "seq": self.seq,
            "count": self.count,
        }

    @classmethod
    def from_json(cls, d):
        return cls(
            eq_path=d["eq"],
            key_cols=list(d["keys"]),
            seq=d["seq"],
            count=d["count"],
        )


class EqManifest:
    """A list of EqualityDeleteEntry stored as one JSON file (same
    lifecycle mechanics as DVManifest: reuse when untouched, consolidate
    on change, bounded by delete churn)."""

    def __init__(
        self, path: str, entries: list[EqualityDeleteEntry] | None = None
    ):
        self.path = path
        self._entries = entries

    def entries(self) -> list[EqualityDeleteEntry]:
        if self._entries is None:
            with open(self.path) as f:
                self._entries = [
                    EqualityDeleteEntry.from_json(d)
                    for d in json.load(f)["eq_deletes"]
                ]
        return self._entries

    @classmethod
    def write(
        cls, path: str, entries: list[EqualityDeleteEntry]
    ) -> "EqManifest":
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"eq_deletes": [e.to_json() for e in entries]}, f)
        os.rename(tmp, path)
        return cls(path, list(entries))


class DeleteSet:
    """The merge-on-read deletes of one snapshot that apply to one file set
    (Iceberg v2) — the one home of the rule every reader, DV writer,
    converter and count uses. A DV applies to the file it names, and its
    ``count`` is additive; an equality delete masks only rows of files
    with a LOWER seq than its own. Each side reads its manifests on first
    use, so a caller that decides on one side never pays for the other."""

    def __init__(self, snapshot: "Snapshot", files: list[DataFile]):
        self._snapshot = snapshot
        self._files = files

    @cached_property
    def dvs(self) -> list[DeleteVectorEntry]:
        if not self._files:
            return []
        paths = {f.path for f in self._files}
        return [e for e in self._snapshot.dv_entries() if e.data_path in paths]

    @cached_property
    def eqs(self) -> list[EqualityDeleteEntry]:
        if not self._files:
            return []
        low = min(f.seq for f in self._files)
        return [e for e in self._snapshot.eq_entries() if e.seq > low]

    @cached_property
    def dv_counts(self) -> dict[str, int]:
        """data path → deleted row count (Σ over its DVs)."""
        counts: dict[str, int] = {}
        for e in self.dvs:
            counts[e.data_path] = counts.get(e.data_path, 0) + e.count
        return counts

    def eqs_masking(self, f: DataFile) -> list[EqualityDeleteEntry]:
        """The equality deletes that mask rows of ``f``."""
        return [e for e in self.eqs if e.seq > f.seq]

    def live_rows(self) -> int | None:
        """Live rows of the file set from metadata alone: each file's
        ``record_count`` minus its DV counts (writers de-duplicate
        positions, so counts are additive). None when an equality delete
        applies: how many rows it masks is unknown without a scan."""
        if self.eqs:
            return None
        counts = self.dv_counts
        return sum(f.record_count - counts.get(f.path, 0) for f in self._files)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # 'append' | 'overwrite' | 'delete'
    manifest_paths: list[str]
    num_added_files: int
    num_deleted_files: int
    summary: dict[str, str] = field(default_factory=dict)
    # merge-on-read position deletes in effect for this snapshot's files
    dv_manifest_paths: list[str] = field(default_factory=list)
    # merge-on-read equality deletes (seq-scoped) in effect
    eq_manifest_paths: list[str] = field(default_factory=list)
    # data sequence number of this commit (files added here carry it);
    # 0 for pre-sequence metadata (every eq delete outranks seq 0)
    sequence_number: int = 0
    # table schema id in effect when this snapshot committed (Iceberg
    # spec's snapshot `schema-id`); None for pre-field metadata.  Lets an
    # AS OF clone resolve the schema ERA of a snapshot with zero live
    # files, where per-file schema ids give no signal.
    schema_id: int | None = None

    def manifests(self) -> list[Manifest]:
        return [Manifest(p) for p in self.manifest_paths]

    def live_files(self) -> list[DataFile]:
        out: list[DataFile] = []
        for m in self.manifests():
            out.extend(m.files())
        return out

    def dv_entries(self) -> list[DeleteVectorEntry]:
        out: list[DeleteVectorEntry] = []
        for p in self.dv_manifest_paths:
            out.extend(DVManifest(p).entries())
        return out

    def eq_entries(self) -> list[EqualityDeleteEntry]:
        out: list[EqualityDeleteEntry] = []
        for p in self.eq_manifest_paths:
            out.extend(EqManifest(p).entries())
        return out

    def deletes(self, files: list[DataFile]) -> DeleteSet:
        return DeleteSet(self, files)

    def to_json(self):
        d = {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifests": self.manifest_paths,
            "added_files": self.num_added_files,
            "deleted_files": self.num_deleted_files,
            "summary": self.summary,
        }
        if self.dv_manifest_paths:
            d["dv_manifests"] = self.dv_manifest_paths
        if self.eq_manifest_paths:
            d["eq_manifests"] = self.eq_manifest_paths
        if self.sequence_number:
            d["seq"] = self.sequence_number
        if self.schema_id is not None:
            d["schema-id"] = self.schema_id
        return d

    @classmethod
    def from_json(cls, d):
        return cls(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            manifest_paths=d.get("manifests", []),
            num_added_files=d.get("added_files", 0),
            num_deleted_files=d.get("deleted_files", 0),
            summary=d.get("summary", {}),
            dv_manifest_paths=d.get("dv_manifests", []),
            eq_manifest_paths=d.get("eq_manifests", []),
            sequence_number=d.get("seq", 0),
            schema_id=d.get("schema-id"),
        )


class CommitConflict(Exception):
    """Another writer committed first (stale base metadata) — mirrors the
    reference's reject at SparkTableOperations.scala:96-99."""


@dataclass
class TableMetadata:
    location: str  # table root directory
    table_uuid: str
    schema_json: str  # Spark StructType JSON (preserves timestamp_ntz etc.)
    partition_cols: list[str]
    properties: dict[str, str]
    snapshots: list[Snapshot] = field(default_factory=list)
    current_snapshot_id: int | None = None
    version: int = 0
    last_updated_ms: int = 0
    # named refs (Iceberg-style): name -> {"snapshot_id", "type"} with
    # type 'tag' (immutable anchor) or 'branch' (writable head); referenced
    # snapshots are pinned against expire_snapshots GC
    refs: dict[str, dict] = field(default_factory=dict)
    # schema evolution (Iceberg-style name-independent columns): every
    # version ever current, as {"schema_json", "fields": {name: field_id}};
    # index into this list IS the schema_id DataFiles record. Field ids are
    # never reused, so a dropped-then-readded name is a NEW column — old
    # files' values and stats do not leak into it.
    schemas: list[dict] = field(default_factory=list)
    last_field_id: int = 0

    def __post_init__(self):
        if not self.schemas:
            # fresh create or pre-evolution metadata: schema v0 from the
            # top-level schema_json, ids assigned in field order
            names = [
                f["name"] for f in json.loads(self.schema_json)["fields"]
            ]
            self.schemas = [
                {
                    "schema_json": self.schema_json,
                    "fields": {n: i + 1 for i, n in enumerate(names)},
                }
            ]
            self.last_field_id = max(self.last_field_id, len(names))

    # ------------------------------------------------------------ queries --

    @property
    def current_schema_id(self) -> int:
        return len(self.schemas) - 1

    def field_ids_at(self, schema_id: int) -> dict[str, int]:
        return self.schemas[schema_id]["fields"]

    def schema_json_at(self, schema_id: int) -> str:
        return self.schemas[schema_id]["schema_json"]

    def rename_map(self, schema_id: int) -> dict[str, str] | None:
        """era-name → current-name for field ids alive in both schemas, or
        None when the era IS current (identity). Strictly id-driven: a
        dead id's name never maps, so stats of dropped columns are inert."""
        cur_id = self.current_schema_id
        if schema_id == cur_id:
            return None
        cur_by_id = {i: n for n, i in self.field_ids_at(cur_id).items()}
        return {
            old_name: cur_by_id[fid]
            for old_name, fid in self.field_ids_at(schema_id).items()
            if fid in cur_by_id
        }

    def evolve_schema(self, schema_json: str, fields: dict[str, int]) -> None:
        """Append a new schema version and make it current (caller commits)."""
        self.schemas.append({"schema_json": schema_json, "fields": dict(fields)})
        self.schema_json = schema_json
        self.last_field_id = max([self.last_field_id, *fields.values()])

    def current_snapshot(self) -> Snapshot | None:
        for s in self.snapshots:
            if s.snapshot_id == self.current_snapshot_id:
                return s
        return None

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot | None:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        return None

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot | None:
        """Latest snapshot with timestamp_ms <= t — exactly the reference's
        resolution rule (utils/TableUtils.scala:123-132)."""
        best = None
        for s in self.snapshots:
            if s.timestamp_ms <= timestamp_ms and (
                best is None or s.timestamp_ms > best.timestamp_ms
            ):
                best = s
        return best

    # ------------------------------------------------------------- paths --

    @property
    def metadata_dir(self) -> str:
        return os.path.join(self.location, "metadata")

    @property
    def data_dir(self) -> str:
        return os.path.join(self.location, "data")

    def metadata_file(self, version: int) -> str:
        return os.path.join(self.metadata_dir, f"v{version}.metadata.json")

    # ------------------------------------------------------------ commit --

    def to_json(self):
        return {
            "location": self.location,
            "table_uuid": self.table_uuid,
            "schema_json": self.schema_json,
            "partition_cols": self.partition_cols,
            "properties": self.properties,
            "snapshots": [s.to_json() for s in self.snapshots],
            "current_snapshot_id": self.current_snapshot_id,
            "version": self.version,
            "last_updated_ms": self.last_updated_ms,
            "refs": self.refs,
            "schemas": self.schemas,
            "last_field_id": self.last_field_id,
        }

    @classmethod
    def from_json(cls, d):
        return cls(
            location=d["location"],
            table_uuid=d["table_uuid"],
            schema_json=d["schema_json"],
            partition_cols=list(d["partition_cols"]),
            properties=dict(d.get("properties", {})),
            snapshots=[Snapshot.from_json(s) for s in d.get("snapshots", [])],
            current_snapshot_id=d.get("current_snapshot_id"),
            version=d.get("version", 0),
            last_updated_ms=d.get("last_updated_ms", 0),
            refs={
                k: (v if isinstance(v, dict) else {"snapshot_id": int(v), "type": "tag"})
                for k, v in d.get("refs", {}).items()
            },
            schemas=list(d.get("schemas", [])),
            last_field_id=d.get("last_field_id", 0),
        )

    def commit(self) -> None:
        """Write the next metadata version; optimistic-concurrency via
        exclusive file creation (two writers racing → one gets CommitConflict,
        mirroring SparkTableOperations.commit)."""
        os.makedirs(self.metadata_dir, exist_ok=True)
        next_version = self.version + 1
        path = self.metadata_file(next_version)
        self.version = next_version
        self.last_updated_ms = int(time.time() * 1000)
        payload = json.dumps(self.to_json(), indent=1)
        try:
            with open(path, "x") as f:
                f.write(payload)
        except FileExistsError as e:
            self.version = next_version - 1
            raise CommitConflict(
                f"metadata version v{next_version} already exists at {path}"
            ) from e
        # version-hint: readers resolve latest without listing
        hint_tmp = os.path.join(self.metadata_dir, f".hint-{uuid.uuid4().hex[:8]}")
        with open(hint_tmp, "w") as f:
            f.write(str(next_version))
        os.rename(hint_tmp, os.path.join(self.metadata_dir, "version-hint.text"))

    @classmethod
    def load(cls, location: str) -> "TableMetadata":
        meta_dir = os.path.join(location, "metadata")
        hint = os.path.join(meta_dir, "version-hint.text")
        with open(hint) as f:
            version = int(f.read().strip())
        with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
            return cls.from_json(json.load(f))


def added_files_between(
    meta: TableMetadata,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> list[DataFile]:
    """Data files appended strictly AFTER ``from_snapshot_id`` up to
    ``to_snapshot_id`` (inclusive; default current snapshot) — the file-set
    core of the incremental append scan, shared by ``ManagedTable.changes``
    and the streaming data source (offsets = snapshot ids).

    ``from_snapshot_id=-1`` means "before the first snapshot": the result
    covers every append since table creation. Valid across ``append`` and
    rowset-preserving ``replace`` (compaction/sort) snapshots; an
    overwrite/delete in the range rewrites rows, so this raises ValueError
    and the consumer must fall back to a full diff — same contract as
    Iceberg's incremental append scan.
    """
    to_snap = (
        meta.current_snapshot()
        if to_snapshot_id is None
        else meta.snapshot_by_id(to_snapshot_id)
    )
    from_root = from_snapshot_id == -1
    from_snap = None if from_root else meta.snapshot_by_id(from_snapshot_id)
    if to_snap is None or (not from_root and from_snap is None):
        raise ValueError("unknown snapshot id for incremental read")
    # walk the parent chain to -> from, requiring append-only history
    chain: list[Snapshot] = []
    cur: Snapshot | None = to_snap
    while cur is not None and (from_root or cur.snapshot_id != from_snapshot_id):
        chain.append(cur)
        cur = (
            meta.snapshot_by_id(cur.parent_id)
            if cur.parent_id is not None
            else None
        )
    if cur is None and not from_root:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_snap.snapshot_id} (rollback in between?)"
        )
    bad = [
        s.snapshot_id for s in chain if s.operation not in ("append", "replace")
    ]
    if bad:
        raise ValueError(
            f"incremental read crosses non-append snapshots {bad}; "
            "rows were rewritten — run a full diff instead"
        )
    # Union of per-append added files (live diff vs parent). 'replace'
    # snapshots contribute nothing: they rewrite layout, not rows.
    new_files: list[DataFile] = []
    seen: set[str] = set()
    for s in chain:
        if s.operation != "append":
            continue
        parent = (
            meta.snapshot_by_id(s.parent_id)
            if s.parent_id is not None
            else None
        )
        parent_paths = {f.path for f in parent.live_files()} if parent else set()
        for f in s.live_files():
            if f.path not in parent_paths and f.path not in seen:
                seen.add(f.path)
                new_files.append(f)
    return new_files
