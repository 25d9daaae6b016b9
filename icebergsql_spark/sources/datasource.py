"""PySpark Python Data Source for managed tables.

Exposes the snapshot/manifest layer to a VANILLA SparkSession — no Engine,
no library session wrapper — through Spark's first-class source API:

    spark.dataSource.register(IcebergSQLDataSource)
    df = spark.read.format("icebergsql").load("/warehouse/tbl")        # batch
    st = spark.readStream.format("icebergsql").load("/warehouse/tbl")  # stream

Batch reads plan one ``InputPartition`` per live data file of the pinned
snapshot and honor ``pushFilters``: Spark's typed ``Filter`` objects are
translated to the same predicate AST the native scan uses
(``expressions.Pred``), and files whose footer/partition stats refute the
predicate are pruned BEFORE any executor work. All filters are returned as
un-handled so Spark still applies them row-level — pruning is a strict
subset, never a semantic claim. This mirrors the reference's split planning
(`/root/reference/src/main/scala/org/apache/spark/sql/iceberg/IceTableScanExec.scala:51-163`)
re-expressed through the public PySpark DataSource API instead of a
Catalyst strategy.

The streaming reader treats SNAPSHOT IDS AS OFFSETS: ``latestOffset``
re-loads table metadata from disk, and each micro-batch reads exactly the
files appended between two snapshot ids (``added_files_between`` — the same
chain walk ``ManagedTable.changes`` uses, hopping over rowset-preserving
``replace`` snapshots). Combined with ``streaming.ingest`` this closes the
loop: one managed table is simultaneously an exactly-once streaming sink
and a replayable streaming source — Iceberg's incremental append scan as a
``readStream``.

Scale notes: file listing and pruning are driver-side metadata operations
(no Spark jobs); reads are executor-side Arrow batch streams, one task per
data file, so parallelism tracks file count exactly like the native path.
The native ``ManagedScan`` (JVM parquet scan with explicit file lists)
remains the hot path; this source is the portability/interop path — its
row decode runs in Python workers, which is an Arrow-batched but still
measurably slower pipe at 100 TB.

Parquet-format tables only (pyarrow has no ORC/avro writer parity here);
other formats raise at planning time.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In as DSIn,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not as DSNot,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from icebergsql_spark import expressions as X
from icebergsql_spark.catalog.metadata import (
    DataFile,
    TableMetadata,
    added_files_between,
)


def register_datasource(spark) -> None:
    """Idempotently register the source under the name ``icebergsql``."""
    # pushFilters is rejected at plan time unless this (runtime) conf is on
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(IcebergSQLDataSource)
    except Exception:
        pass  # already registered on this session


# ------------------------------------------------------------------ plan --


class _FileTask(InputPartition):
    """One data file = one Spark task.

    Carries everything the executor needs so the read is metadata-free:
    the file path, the target Arrow schema, and per-target-column source
    names under the file's written-era schema (None = column added after
    this file was written → null-filled), with casts for widened types.
    Merge-on-read extras: ``dv_paths`` (position-delete rowsets that may
    cover this file) and ``eq_tasks`` ((eq_path, current-name key cols)
    for equality deletes whose seq outranks this file's) — both sized by
    delete churn, loaded per task.
    """

    def __init__(
        self,
        path: str,
        columns: list[tuple[str, str | None]],
        arrow_schema_bytes: bytes,
        dv_paths: tuple[str, ...] = (),
        eq_tasks: tuple[tuple[str, tuple[str, ...]], ...] = (),
    ):
        self.path = path
        self.columns = columns
        self.arrow_schema_bytes = arrow_schema_bytes
        self.dv_paths = dv_paths
        self.eq_tasks = eq_tasks


def _era_columns(schema: StructType,
                 rename_map: dict[str, str] | None) -> list[tuple[str, str | None]]:
    """(target_name, source_name_in_file | None) per current-schema field,
    mirroring ManagedTable.read_files' field-id translation."""
    if rename_map is None:
        return [(f.name, f.name) for f in schema.fields]
    inv = {cur: old for old, cur in rename_map.items()}
    return [(f.name, inv.get(f.name)) for f in schema.fields]


def _filters_to_pred(filters: list[Filter]) -> X.Pred:
    """Spark DataSource Filters -> pruning predicate AST. Unsupported
    shapes become Residual (prunes nothing, never unsound — the same
    lenient-degradation contract as expressions.parse_predicate_lenient)."""
    preds: list[X.Pred] = []
    for flt in filters:
        preds.append(_one_filter(flt))
    return X.and_all(preds) if preds else X.AlwaysTrue()


def _col(path) -> str | None:
    # ColumnPath is a tuple of name parts; only top-level columns have stats
    return path[0] if len(path) == 1 else None


def _one_filter(flt: Filter) -> X.Pred:
    if isinstance(flt, EqualTo):
        c = _col(flt.attribute)
        return X.Comparison("=", c, flt.value) if c else X.Residual()
    if isinstance(flt, GreaterThan):
        c = _col(flt.attribute)
        return X.Comparison(">", c, flt.value) if c else X.Residual()
    if isinstance(flt, GreaterThanOrEqual):
        c = _col(flt.attribute)
        return X.Comparison(">=", c, flt.value) if c else X.Residual()
    if isinstance(flt, LessThan):
        c = _col(flt.attribute)
        return X.Comparison("<", c, flt.value) if c else X.Residual()
    if isinstance(flt, LessThanOrEqual):
        c = _col(flt.attribute)
        return X.Comparison("<=", c, flt.value) if c else X.Residual()
    if isinstance(flt, DSIn):
        c = _col(flt.attribute)
        return X.In(c, tuple(flt.value)) if c else X.Residual()
    if isinstance(flt, IsNull):
        c = _col(flt.attribute)
        return X.IsNull(c) if c else X.Residual()
    if isinstance(flt, IsNotNull):
        c = _col(flt.attribute)
        return X.NotNull(c) if c else X.Residual()
    if isinstance(flt, DSNot):
        # Not(Residual) must stay Residual-soft: X.Not handles soundness
        # downstream (may_match(Not(Residual)) is True), so wrap directly.
        return X.Not(_one_filter(flt.child))
    return X.Residual()


def _plan_tasks(meta: TableMetadata, schema: StructType, files: list[DataFile],
                pred: X.Pred, snapshot=None) -> list[_FileTask]:
    from icebergsql_spark.table import pruning_stats

    arrow_bytes = to_arrow_schema(schema).serialize().to_pybytes()
    deletes = snapshot.deletes(files) if snapshot is not None else None
    dv_by_file: dict[str, list[str]] = {}
    for e in deletes.dvs if deletes else []:
        dv_by_file.setdefault(e.data_path, []).append(e.dv_path)
    tasks: list[_FileTask] = []
    for f in files:
        rmap = meta.rename_map(f.schema_id)
        if not isinstance(pred, (X.AlwaysTrue, X.Residual)) and not X.may_match(
            pred, pruning_stats(f, schema, rmap)
        ):
            continue
        tasks.append(
            _FileTask(
                f.path,
                _era_columns(schema, rmap),
                arrow_bytes,
                dv_paths=tuple(sorted(dv_by_file.get(f.path, ()))),
                eq_tasks=tuple(
                    (e.eq_path, tuple(e.key_cols))
                    for e in (deletes.eqs_masking(f) if deletes else ())
                ),
            )
        )
    return tasks


def _load_mor_masks(task: _FileTask):
    """Per-task merge-on-read state: this file's deleted positions (from
    position-delete rowsets) and the equality-delete key sets that outrank
    the file's sequence number. Both are delete-churn-sized."""
    import numpy as np
    import pyarrow.dataset as pads

    deleted_pos = None
    if task.dv_paths:
        # each dv_path is a directory of parquet parts; pyarrow needs one
        # dataset per directory, unioned
        parts = [
            pads.dataset(p, format="parquet").to_table(
                filter=pads.field("path") == task.path, columns=["pos"]
            )
            for p in task.dv_paths
        ]
        pos = np.concatenate(
            [np.asarray(t.column("pos")) for t in parts if t.num_rows]
            or [np.empty(0, dtype=np.int64)]
        )
        if pos.size:
            deleted_pos = np.unique(pos)
    eq_sets = []
    src_of = dict(task.columns)  # current name -> this era's source name
    for eq_path, key_cols in task.eq_tasks:
        srcs = [src_of.get(c) for c in key_cols]
        if any(s is None for s in srcs):
            continue  # a key column this file's era lacks → NULL, no match
        t = pads.dataset(eq_path, format="parquet").to_table(
            columns=list(key_cols)
        )
        keys = (
            {
                tup
                for tup in zip(*[t.column(c).to_pylist() for c in key_cols])
                if None not in tup  # SQL equality: NULL keys never match
            }
            if t.num_rows
            else set()
        )
        if keys:
            eq_sets.append((tuple(srcs), keys))
    return deleted_pos, eq_sets


def _read_task(task: _FileTask) -> Iterator:
    """Executor-side: stream Arrow record batches for one file, projected
    and cast to the CURRENT schema (rename via era map, widened types cast,
    added columns null-filled). Merge-on-read masks are applied HERE so
    the interop path agrees with the native scan: position deletes filter
    by the batch's row-index range; equality deletes filter rows whose key
    tuple appears in a higher-seq delete rowset."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = pa.ipc.read_schema(pa.BufferReader(task.arrow_schema_bytes))
    src_cols = [s for _, s in task.columns if s is not None]
    deleted_pos, eq_sets = _load_mor_masks(task)
    pf = pq.ParquetFile(task.path)
    offset = 0
    for batch in pf.iter_batches(columns=src_cols):
        n = batch.num_rows
        tbl = pa.Table.from_batches([batch]).combine_chunks()
        mask = None
        if deleted_pos is not None:
            lo = np.searchsorted(deleted_pos, offset)
            hi = np.searchsorted(deleted_pos, offset + n)
            if hi > lo:
                mask = np.ones(n, dtype=bool)
                mask[deleted_pos[lo:hi] - offset] = False
        for srcs, keys in eq_sets:
            cols = [tbl.column(s).to_pylist() for s in srcs]
            hit = np.fromiter(
                (t in keys for t in zip(*cols)), dtype=bool, count=n
            )
            if hit.any():
                if mask is None:
                    mask = np.ones(n, dtype=bool)
                mask &= ~hit
        offset += n
        if mask is not None:
            if not mask.any():
                continue
            tbl = tbl.filter(pa.array(mask))
        arrays = []
        for (tname, sname), field in zip(task.columns, target):
            if sname is None:
                arrays.append(pa.nulls(tbl.num_rows, field.type))
            else:
                col = tbl.column(sname).combine_chunks()
                if col.type != field.type:
                    col = col.cast(field.type)
                arrays.append(col)
        for out in pa.table(arrays, schema=target).to_batches():
            yield out


# ----------------------------------------------------------------- batch --


class IcebergSQLBatchReader(DataSourceReader):
    def __init__(self, meta: TableMetadata, schema: StructType, options):
        self.meta = meta
        self.schema_ = schema
        snap_opt = options.get("snapshot")
        self.snapshot = (
            meta.snapshot_by_id(int(snap_opt))
            if snap_opt is not None
            else meta.current_snapshot()
        )
        if snap_opt is not None and self.snapshot is None:
            raise ValueError(f"unknown snapshot id {snap_opt}")
        self.pred: X.Pred = X.AlwaysTrue()

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self.pred = _filters_to_pred(filters)
        # report every filter as NOT fully handled: stats pruning skips
        # whole files but proves nothing row-level, so Spark must re-apply
        yield from filters

    def partitions(self) -> list[InputPartition]:
        files = self.snapshot.live_files() if self.snapshot else []
        return _plan_tasks(
            self.meta, self.schema_, files, self.pred, snapshot=self.snapshot
        )

    def read(self, partition: _FileTask) -> Iterator:
        yield from _read_task(partition)


# ---------------------------------------------------------------- stream --


class IcebergSQLStreamReader(DataSourceStreamReader):
    """Micro-batch source over the snapshot log. Offsets are
    ``{"snapshot_id": <id>}``; -1 = before the first snapshot. Each batch
    is ``added_files_between(start, end)`` — appends (and hops over
    compactions) only; an overwrite/delete in the range raises, the same
    contract as ``ManagedTable.changes``."""

    def __init__(self, location: str, schema: StructType, options):
        self.location = location
        self.schema_ = schema
        self.starting = options.get("startingsnapshot", "earliest").lower()

    def _load(self) -> TableMetadata:
        return TableMetadata.load(self.location)

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            snap = self._load().current_snapshot()
            return {"snapshot_id": snap.snapshot_id if snap else -1}
        return {"snapshot_id": -1}

    def latestOffset(self) -> dict:
        snap = self._load().current_snapshot()
        return {"snapshot_id": snap.snapshot_id if snap else -1}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        s, e = int(start["snapshot_id"]), int(end["snapshot_id"])
        if s == e or e == -1:
            return []
        meta = self._load()
        files = added_files_between(meta, s, e)
        schema = StructType.fromJson(json.loads(meta.schema_json))
        return _plan_tasks(meta, schema, files, X.AlwaysTrue())

    def read(self, partition: _FileTask) -> Iterator:
        yield from _read_task(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing table-side to do


# ----------------------------------------------------------------- entry --


class IcebergSQLDataSource(DataSource):
    """``format("icebergsql")`` — path option = managed table root dir."""

    def __init__(self, options):
        super().__init__(options)
        self.location = options.get("path")
        if not self.location:
            raise ValueError("icebergsql source requires .load(<table location>)")
        self.meta = TableMetadata.load(self.location)
        fmt = self.meta.properties.get("write.format", "parquet")
        if fmt != "parquet":
            raise ValueError(
                f"icebergsql data source supports parquet tables only (got {fmt})"
            )

    @classmethod
    def name(cls) -> str:
        return "icebergsql"

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.meta.schema_json))

    def reader(self, schema: StructType) -> DataSourceReader:
        return IcebergSQLBatchReader(self.meta, schema, self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return IcebergSQLStreamReader(self.location, schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return IcebergSQLBatchWriter(self.location, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return IcebergSQLStreamWriter(self.location, schema)


# ----------------------------------------------------------------- write --


class _TaskFiles(WriterCommitMessage):
    """Per-task commit payload: the DataFile entries (path, partition,
    stats from the parquet footer) this task wrote — the same
    executor-computes/driver-commits split as the reference's
    TaskCommitMessage (IcebergFileCommitProtocol.scala:127-144)."""

    def __init__(self, files: list[DataFile]):
        self.files = files


def _part_str(v) -> str | None:
    """Python value -> partition-dir string, matching Spark's
    cast-to-string closely enough that _parse_partition_value round-trips
    the typed value (the only correctness requirement for pruning)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _detached_table(location: str):
    """A ManagedTable bound to metadata only — no Catalog/SparkSession.
    The snapshot-commit path (_commit_snapshot/refresh) is pure metadata
    code, so the datasource writer reuses it verbatim instead of
    duplicating manifest/retry/cleanup logic."""
    from icebergsql_spark.table import ManagedTable

    t = ManagedTable.__new__(ManagedTable)
    t.catalog = None
    t.name = location.rstrip("/").rsplit("/", 1)[-1]
    t.meta = TableMetadata.load(location)
    return t


def _check_write_schema(table_schema: StructType, df_schema: StructType) -> None:
    want = [(f.name, f.dataType) for f in table_schema.fields]
    got = [(f.name, f.dataType) for f in df_schema.fields]
    if want != got:
        raise ValueError(
            f"write schema {got} does not match table schema {want} "
            "(same names, types, and order required)"
        )


def _write_task(out_root: str, partition_cols: list[str], schema_id: int,
                iterator) -> _TaskFiles:
    """Executor-side: split incoming Arrow batches by partition value,
    write one parquet file per partition key, compute footer stats, and
    return the DataFile entries. Import-local pyarrow keeps the module
    importable on the driver without Spark workers."""
    import os
    import uuid as _uuid
    from collections import defaultdict
    from urllib.parse import quote

    import pyarrow as pa
    import pyarrow.parquet as pq

    from icebergsql_spark.catalog.stats import file_stats
    from icebergsql_spark.table import HIVE_NULL, PART_PREFIX

    try:
        from pyspark import TaskContext

        task_id = TaskContext.get().partitionId()
    except Exception:
        task_id = 0

    writers: dict[tuple, tuple] = {}  # key -> (pq.ParquetWriter, path, partition_dict)

    def _open(key: tuple, batch_schema) -> tuple:
        segs = []
        pdict = {}
        for pc, val in zip(partition_cols, key):
            pdict[pc] = val
            enc = HIVE_NULL if val is None else quote(val, safe="")
            segs.append(f"{PART_PREFIX}{pc}={enc}")
        d = os.path.join(out_root, *segs)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"part-{task_id:05d}-{_uuid.uuid4().hex[:12]}.parquet")
        # pyarrow leaves NaN out of float min/max, but Spark orders NaN
        # above every value: a NaN-free max would let `d > x` prune a
        # file holding a matching NaN, in our planner and in Spark's own
        # row-group filter. A streamed file cannot see its later batches,
        # so no float/double column gets statistics.
        stats_cols = [f.name for f in batch_schema if not pa.types.is_floating(f.type)]
        writer = pq.ParquetWriter(path, batch_schema, write_statistics=stats_cols)
        return writer, path, pdict

    for batch in iterator:
        if batch.num_rows == 0:
            continue
        pcols = [
            [_part_str(v) for v in batch.column(pc).to_pylist()]
            for pc in partition_cols
        ]
        by_key: dict[tuple, list[int]] = defaultdict(list)
        for i, key in enumerate(zip(*pcols)) if pcols else ():
            by_key[key].append(i)
        if not partition_cols:
            by_key[()] = list(range(batch.num_rows))
        tbl = pa.Table.from_batches([batch])
        for key, idxs in by_key.items():
            if key not in writers:
                writers[key] = _open(key, batch.schema)
            w = writers[key][0]
            sub = tbl if len(idxs) == batch.num_rows else tbl.take(idxs)
            w.write_table(sub)

    out: list[DataFile] = []
    for w, path, pdict in writers.values():
        w.close()
        n_rows, size, stats = file_stats(path)
        out.append(
            DataFile(
                path=path,
                partition=pdict,
                record_count=n_rows,
                file_size=size,
                stats=stats,
                schema_id=schema_id,
            )
        )
    return _TaskFiles(out)


class IcebergSQLBatchWriter(DataSourceArrowWriter):
    """``df.write.format("icebergsql").mode("append"|"overwrite")``:
    executors write parquet + footer stats, the driver commits ONE
    snapshot (append, or overwrite = full replace) through the same
    retry/cleanup path as the native insert."""

    def __init__(self, location: str, schema: StructType, overwrite: bool):
        meta = TableMetadata.load(location)
        _check_write_schema(
            StructType.fromJson(json.loads(meta.schema_json)), schema
        )
        self.location = location
        self.overwrite = overwrite
        self.partition_cols = list(meta.partition_cols)
        self.schema_id = meta.current_schema_id
        import uuid as _uuid

        self.out_root = f"{meta.data_dir}/{_uuid.uuid4().hex[:12]}"

    def write(self, iterator):
        return _write_task(
            self.out_root, self.partition_cols, self.schema_id, iterator
        )

    def commit(self, messages) -> None:
        added = [f for m in messages if m is not None for f in m.files]
        t = _detached_table(self.location)
        parent = t.meta.current_snapshot()
        deleted = (
            parent.live_files() if (self.overwrite and parent is not None) else []
        )
        t._commit_snapshot(parent, added, deleted)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.out_root, ignore_errors=True)


class IcebergSQLStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("icebergsql")``: one snapshot per
    micro-batch, exactly-once via the last committed batch id in the
    snapshot summary (the streaming.ingest recipe, natively). Each batch
    writes under its own data subdirectory, so a replayed batch's files
    never alias a committed batch's."""

    def __init__(self, location: str, schema: StructType):
        meta = TableMetadata.load(location)
        _check_write_schema(
            StructType.fromJson(json.loads(meta.schema_json)), schema
        )
        self.location = location
        self.partition_cols = list(meta.partition_cols)
        self.schema_id = meta.current_schema_id
        self.data_dir = meta.data_dir

    def write(self, iterator):
        import uuid as _uuid

        return _write_task(
            f"{self.data_dir}/{_uuid.uuid4().hex[:12]}",
            self.partition_cols,
            self.schema_id,
            iterator,
        )

    def _last_batch_id(self, t) -> int:
        # scan the WHOLE history, not just the head snapshot — an
        # interleaved commit (compaction, VACUUM, manual DML) between the
        # streaming commit and a recovery replay must not hide the marker
        ids = [
            int(s.summary.get("streaming-batch-id", -1))
            for s in t.meta.snapshots
        ]
        return max(ids, default=-1)

    def commit(self, messages, batchId: int) -> None:
        t = _detached_table(self.location)
        if batchId <= self._last_batch_id(t):
            self.abort(messages, batchId)  # replay after recovery: drop files
            return
        added = [f for m in messages if m is not None for f in m.files]
        # ONE metadata commit: the batch-id marker rides in the same
        # snapshot as the data files (extra_summary), so a crash can never
        # record the data without the marker (or vice versa) and metadata
        # churn is one version per micro-batch
        t._commit_snapshot(
            t.meta.current_snapshot(),
            added,
            [],
            extra_summary={"streaming-batch-id": str(batchId)},
        )

    def abort(self, messages, batchId: int) -> None:
        import os

        dirs: set[str] = set()
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                try:
                    os.remove(f.path)
                except OSError:
                    pass
                dirs.add(os.path.dirname(f.path))
        # drop now-empty per-batch data subdirectories (and any empty
        # partition dirs above them) so an aborted batch leaves no debris
        for d in dirs:
            while d and d != self.data_dir:
                try:
                    os.rmdir(d)  # fails (caught) unless empty
                except OSError:
                    break
                d = os.path.dirname(d)
