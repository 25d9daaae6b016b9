"""Managed tables: snapshotting writes, pruned scans, time travel.

The PySpark-native counterpart of the reference's three pillars:

  - managed CREATE TABLE → Catalog.create_table
    (/root/reference/src/main/scala/org/apache/spark/sql/iceberg/
    CreateIcebergTable.scala:28-68, validations from
    planning/IcebergTableValidationChecks.scala:33-47: must be partitioned,
    must not be bucketed, columnDependencies must parse)
  - snapshotting INSERT / INSERT OVERWRITE [PARTITION] → ManagedTable.insert
    (InsertIntoIcebergTable.scala:81-330: matching-file computation :105-120,
    snapshot op selection :142-179, SaveMode/overwrite matrix :206-250)
  - snapshot-pruned SELECT → ManagedTable.scan
    (IceTableScanExec.scala:51-163: fold filters :63-66, derived predicates
    :68-74, planFiles against the chosen snapshot :76-82; our scan returns
    an explicit file list instead of mutating FileSourceScanExec by
    reflection — DSv2-style, no JVM hacks)

Write path: each insert writes to its own ``data/<commit-uuid>/`` directory
(hive-layout dirs per partition), so earlier snapshots' files are never
touched — the reference achieves the same by no-op'ing deleteWithJob
(IcebergFileCommitProtocol.scala:149-151). Partition columns are DUPLICATED
into prefixed dir names (``__p_<col>=v``) while the original columns stay in
the parquet files; scans therefore read explicit file lists with full
schemas and need no partition-value reconstruction.

Scale: pruning runs on the driver over manifests (file counts), the scan
itself is an ordinary distributed parquet read with Catalyst pushdown on
top; commit cost is O(files written), planning cost O(live manifest
entries) — the Iceberg planning model.
"""

from __future__ import annotations

import math
import os
import re
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from icebergsql_spark.catalog.driver_write import driver_write
from icebergsql_spark.catalog.metadata import (
    ColStats,
    CommitConflict,
    DataFile,
    Manifest,
    Snapshot,
    TableMetadata,
    added_files_between,
)
from icebergsql_spark.catalog.stats import collect_stats
from icebergsql_spark.deps import augment_predicate, parse_column_dependencies
from icebergsql_spark.expressions import (
    AlwaysTrue,
    Residual,
    Pred,
    may_match,
    parse_predicate_lenient,
)

PART_PREFIX = "__p_"

# _commit_dv_rowset: per-file DV counts ride the write action as observed
# metrics (one conditional count per candidate file) up to this many
# files; beyond it the expression list would bloat codegen and the count
# falls back to a groupBy job over the written rowset.
_DV_OBSERVE_MAX_FILES = 128
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# DV rowsets are always written as (path string, pos long) — reading them
# back with the schema pinned skips the footer-sampling schema-inference
# job Spark otherwise runs per untyped parquet read (one job per masked
# read / DV commit; pure overhead at any scale).
_DV_ROWSET_SCHEMA = "path string, pos long"


class TableAlreadyExistsError(ValueError):
    """SaveMode.ErrorIfExists target already has data
    (InsertIntoIcebergTable.scala:236-237's AnalysisException)."""


class TableValidationError(ValueError):
    pass


_ATOMIC_OK = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.CharType, T.VarcharType,
    T.DateType, T.TimestampType, T.TimestampNTZType, T.DecimalType,
    T.BinaryType,
)


def validate_schema_types(dtype: T.DataType, path: str = "") -> None:
    """Reject types outside the reference's supported set — mirrors
    TypeConversions.scala:37-100 (/root/reference/src/main/scala/org/apache/
    spark/sql/iceberg/utils/TypeConversions.scala): Atomic, Map, Array, or
    Struct, arbitrarily nested; CalendarInterval / UDT / Null raise."""
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            validate_schema_types(f.dataType, f"{path}.{f.name}" if path else f.name)
        return
    if isinstance(dtype, T.ArrayType):
        validate_schema_types(dtype.elementType, f"{path}[]")
        return
    if isinstance(dtype, T.MapType):
        validate_schema_types(dtype.keyType, f"{path}<key>")
        validate_schema_types(dtype.valueType, f"{path}<value>")
        return
    if isinstance(dtype, _ATOMIC_OK):
        return
    raise TableValidationError(
        f"unsupported column type {dtype.simpleString()} at {path or '<root>'}; "
        "columns must be Atomic, Map, Array, or Struct type"
    )


def _validate_bloom_properties(
    properties: dict,
    schema: T.StructType,
    partition_cols: list[str],
    file_format: str,
) -> None:
    """Shared by CREATE TABLE and ALTER ... SET TBLPROPERTIES: bloom
    columns must be non-partition int/string columns of a parquet table
    (canonical-form soundness, see catalog/stats.py), and the filter size
    a positive multiple of 64 bits."""
    if "bloom.filter.columns" in properties:
        if file_format != "parquet":
            raise TableValidationError(
                "bloom.filter.columns requires parquet tables"
            )
        from icebergsql_spark.catalog.stats import BLOOM_SUPPORTED_SPARK_TYPES

        by_name = {f.name: f for f in schema.fields}
        for bc in properties["bloom.filter.columns"].split(","):
            bc = bc.strip()
            f = by_name.get(bc)
            if f is None:
                raise TableValidationError(
                    f"bloom.filter column {bc!r} not in schema"
                )
            if bc in partition_cols:
                raise TableValidationError(
                    f"bloom.filter column {bc!r} is a partition column "
                    "(already exactly pruned; not stored in data files)"
                )
            if f.dataType.simpleString() not in BLOOM_SUPPORTED_SPARK_TYPES:
                raise TableValidationError(
                    f"bloom.filter column {bc!r} must be integer or "
                    f"string (canonical-form soundness), got "
                    f"{f.dataType.simpleString()}"
                )
    bits = properties.get("bloom.filter.bits")
    if bits is not None and (
        not str(bits).isdigit() or int(bits) < 64 or int(bits) % 64
    ):
        raise TableValidationError(
            "bloom.filter.bits must be a multiple of 64, >= 64"
        )


def _avro_datasource_available(spark: SparkSession) -> bool:
    """True when the external spark-avro module is on the classpath.

    Probed via DataSource.lookupDataSource so no job runs; cached per JVM.
    The reference gets avro support for free from its Spark distribution
    (utils/utils.scala:168-198); pip pyspark ships without the module, so
    the managed-table layer gates avro read/write on this check while
    metadata/stats support (avro_file_stats) works regardless.
    """
    global _AVRO_AVAILABLE
    if _AVRO_AVAILABLE is None:
        try:
            jvm = spark._jvm
            jconf = spark._jsparkSession.sessionState().conf()
            jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", jconf
            )
            _AVRO_AVAILABLE = True
        except Exception:
            _AVRO_AVAILABLE = False
    return _AVRO_AVAILABLE


_AVRO_AVAILABLE: bool | None = None


class Catalog:
    """Warehouse-directory catalog: one subdirectory per managed table.

    Plays the role of the reference's SparkTables/SparkTableOperations
    (table/SparkTables.scala:39-90) with the filesystem, not the Hive
    metastore, as the metadata pointer store.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def table_location(self, name: str) -> str:
        # a renamed table's identifier dir holds only a pointer to the
        # unchanged physical location (Iceberg rename semantics: data and
        # metadata paths never move — only the catalog identifier does)
        p = os.path.join(self.warehouse, name)
        link = os.path.join(p, "link.text")
        if os.path.exists(link):
            with open(link) as f:
                return f.read().strip()
        return p

    def table_exists(self, name: str) -> bool:
        base = os.path.join(self.warehouse, name)
        if os.path.exists(os.path.join(base, "renamed-to.text")):
            # the identifier was renamed away; the physical dir remains
            # (it IS the new name's location) but this name is gone
            return False
        return os.path.exists(
            os.path.join(self.table_location(name), "metadata", "version-hint.text")
        )

    def list_tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.warehouse) if self.table_exists(d)
        )

    def create_table(
        self,
        name: str,
        schema: T.StructType | str,
        partition_cols: list[str],
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
        file_format: str = "parquet",
    ) -> "ManagedTable":
        """Create a managed table (reference CreateIcebergTable.scala:41-51).

        Validations mirror IcebergTableValidationChecks.scala:33-47:
        managed tables must be partitioned and non-bucketed; the
        columnDependencies option must parse and type-check against the
        schema. ``ifExists`` short-circuit mirrors the reference's rejection
        of ignoreIfExists (CreateTableRules.scala:33-50) unless explicitly
        requested here.

        ``file_format``: parquet (full footer stats → min/max pruning), or
        orc / avro (record counts only, partition pruning still applies) —
        the parity analogue of the reference's parquet-else-avro fallback
        (utils/utils.scala:176-191: iceMetrics is None for non-parquet, so
        those files carry no column stats either). Avro record counts come
        from a pure-Python OCF block-header scan (catalog/stats.py); the
        Spark read/write path additionally needs the external spark-avro
        datasource on the classpath and is gated on its presence.
        """
        if self.table_exists(name):
            if if_not_exists:
                return self.load_table(name)
            raise TableValidationError(f"table {name!r} already exists")
        if os.path.exists(
            os.path.join(self.warehouse, name, "renamed-to.text")
        ):
            # the identifier's dir IS the renamed table's physical
            # location — creating here would hijack its metadata line
            raise TableValidationError(
                f"identifier {name!r} was renamed away and its dir is "
                "the renamed table's physical location; choose another "
                "name"
            )
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        validate_schema_types(schema)
        cols = [f.name for f in schema.fields]
        if not partition_cols:
            raise TableValidationError(
                f"managed table {name!r} must be partitioned (reference rejects "
                "non-partitioned managed tables)"
            )
        for pc in partition_cols:
            if pc not in cols:
                raise TableValidationError(f"partition column {pc!r} not in schema")
        properties = dict(properties or {})
        file_format = file_format.lower()
        if file_format not in ("parquet", "orc", "avro"):
            raise TableValidationError(
                f"managed tables support parquet, orc or avro, got {file_format!r}"
            )
        if file_format == "avro" and not _avro_datasource_available(self.spark):
            raise TableValidationError(
                "file_format='avro' needs the spark-avro datasource "
                "(external module, spark.jars.packages "
                "org.apache.spark:spark-avro_2.13); it is not on this "
                "session's classpath. Metadata/stats support is present "
                "(catalog/stats.py:avro_file_stats) — only the Spark "
                "read/write path is missing."
            )
        if file_format != "parquet":
            properties["write.format"] = file_format
        if properties.get("bucketed", "").lower() == "true":
            raise TableValidationError("managed tables must not be bucketed")
        if "columnDependencies" in properties:
            parse_column_dependencies(properties["columnDependencies"], cols)
        _validate_bloom_properties(
            properties, schema, partition_cols, file_format
        )
        meta = TableMetadata(
            location=self.table_location(name),
            table_uuid=str(uuid.uuid4()),
            schema_json=schema.json(),
            partition_cols=list(partition_cols),
            properties=properties,
        )
        os.makedirs(meta.data_dir, exist_ok=True)
        meta.commit()
        return ManagedTable(self, name, meta)

    def load_table(self, name: str) -> "ManagedTable":
        if not self.table_exists(name):
            raise TableValidationError(f"table {name!r} does not exist")
        return ManagedTable(self, name, TableMetadata.load(self.table_location(name)))

    def register_table(self, name: str, location: str) -> "ManagedTable":
        """CALL system.register_table parity: adopt an EXISTING table
        directory (metadata/version-hint.text intact — e.g. built by
        another warehouse/catalog, or orphaned by a lost catalog) under
        a catalog identifier WITHOUT copying anything — the same
        link.text pointer mechanism the rename path uses.  A location a
        LIVE identifier already owns is refused: two identifiers on one
        metadata line would be two optimistic writers racing on every
        commit (CommitConflict would serialize them, but silent aliasing
        is a foot-gun, exactly like Iceberg's duplicate-register
        refusal)."""
        if self.table_exists(name):
            raise TableValidationError(f"table {name!r} already exists")
        if not re.fullmatch(r"\w+", name):
            raise TableValidationError(f"bad table name {name!r}")
        loc = os.path.abspath(location).rstrip(os.sep)
        if not os.path.exists(
            os.path.join(loc, "metadata", "version-hint.text")
        ):
            raise TableValidationError(
                f"no table metadata at {loc!r} "
                "(expected metadata/version-hint.text)"
            )
        for existing in self.list_tables():
            if os.path.abspath(self.table_location(existing)) == loc:
                raise TableValidationError(
                    f"location {loc!r} is already registered "
                    f"as {existing!r}"
                )
        base = os.path.join(self.warehouse, name)
        # a renamed-away identifier's dir IS another table's physical
        # location (the tombstone marks it); adopting that name would
        # plant a pointer inside the other table's dir and a later drop
        # would delete its data — refuse, like the re-create path
        if os.path.exists(os.path.join(base, "renamed-to.text")) or (
            os.path.abspath(base) != loc
            and os.path.exists(
                os.path.join(base, "metadata", "version-hint.text")
            )
        ):
            raise TableValidationError(
                f"identifier {name!r} is the physical location of a "
                "renamed table; choose another name"
            )
        os.makedirs(base, exist_ok=True)
        if os.path.abspath(base) != loc:
            with open(os.path.join(base, "link.text"), "w") as f:
                f.write(loc)
        return self.load_table(name)

    def drop_table(self, name: str) -> None:
        import shutil

        if self.table_exists(name):
            loc = os.path.abspath(self.table_location(name))
            wh = os.path.abspath(self.warehouse) + os.sep
            base = os.path.join(self.warehouse, name)
            if loc.startswith(wh):
                # warehouse-owned data (created here, or renamed within):
                # drop deletes it
                shutil.rmtree(loc)
            # an adopted EXTERNAL location (register_table) is only
            # UNREGISTERED — deleting it would destroy another catalog's
            # table through a zero-copy pointer
            if os.path.abspath(base) != loc and os.path.exists(base):
                shutil.rmtree(base)

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE ... RENAME TO — Iceberg rename semantics: ONLY the
        catalog identifier changes; the table location (and therefore
        every absolute data/manifest path already written into the
        metadata) stays put, so snapshots, time travel, refs, and
        zero-copy clones of the table all survive the rename.  The new
        identifier holds a pointer (``link.text``) to the unchanged
        physical dir; the old identifier is tombstoned
        (``renamed-to.text``) because its dir IS the physical location
        and cannot be removed."""
        import shutil

        if not self.table_exists(old):
            raise TableValidationError(f"table {old!r} does not exist")
        if self.table_exists(new):
            raise TableValidationError(f"table {new!r} already exists")
        if not re.fullmatch(r"\w+", new):
            raise TableValidationError(f"bad table name {new!r}")
        if os.path.exists(
            os.path.join(self.warehouse, new, "renamed-to.text")
        ):
            # the destination identifier's dir IS another (renamed) table's
            # physical location — writing link.text there would make the
            # renamed table unreachable under ANY name (table_exists checks
            # renamed-to.text before link.text); same refusal as
            # create_table/register_table
            raise TableValidationError(
                f"identifier {new!r} was renamed away and its dir is "
                "the renamed table's physical location; choose another "
                "name"
            )
        target = self.table_location(old)
        newdir = os.path.join(self.warehouse, new)
        os.makedirs(newdir, exist_ok=True)
        with open(os.path.join(newdir, "link.text"), "w") as f:
            f.write(target)
        oldbase = os.path.join(self.warehouse, old)
        if os.path.exists(os.path.join(oldbase, "link.text")):
            # old was itself a renamed identifier: just drop its pointer
            shutil.rmtree(oldbase)
        else:
            with open(os.path.join(oldbase, "renamed-to.text"), "w") as f:
                f.write(new)


class ManagedTable:
    def __init__(self, catalog: Catalog, name: str, meta: TableMetadata):
        self.catalog = catalog
        self.name = name
        self.meta = meta

    @property
    def spark(self) -> SparkSession:
        return self.catalog.spark

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(__import__("json").loads(self.meta.schema_json))

    @property
    def file_format(self) -> str:
        return self.meta.properties.get("write.format", "parquet")

    @property
    def bloom_filter_cols(self) -> list[str]:
        opt = self.meta.properties.get("bloom.filter.columns", "")
        return [c.strip() for c in opt.split(",") if c.strip()]

    @property
    def column_dependencies(self):
        opt = self.meta.properties.get("columnDependencies")
        if not opt:
            return {}
        return parse_column_dependencies(opt, [f.name for f in self.schema.fields])

    def refresh(self) -> "ManagedTable":
        self.meta = TableMetadata.load(self.meta.location)
        return self

    # ----------------------------------------------------------- writes --

    def insert(
        self,
        df: DataFrame,
        overwrite: bool = False,
        static_partition: dict[str, str] | None = None,
        dynamic: bool = False,
        if_partition_not_exists: bool = False,
        distribute_by: list[str] | None = None,
        branch: str | None = None,
        extra_summary: dict[str, str] | None = None,
    ) -> Snapshot:
        """Append or overwrite, producing a new snapshot.

        Mirrors InsertIntoIcebergTable._run (InsertIntoIcebergTable.scala:
        181-318): compute the files an overwrite replaces BEFORE writing
        (matchIceDataFiles :105-120), write via Spark, then pick the
        snapshot operation from (added, deleted) like createSnapShot
        (:142-179): both → overwrite/rewrite; add-only → append.

        ``static_partition`` implements INSERT OVERWRITE PARTITION (k=v):
        the partition columns are pinned to literals and only matching files
        are replaced. ``dynamic`` implements dynamic partition overwrite
        (only partitions the source actually writes are replaced —
        partitionOverwriteMode=dynamic, :218-233).

        ``distribute_by`` hash-repartitions the source on the given columns
        before the write (Iceberg's ``write.distribution-mode=hash``): one
        shuffle that co-locates each output partition's rows into one task,
        so a 1000-task source writing 100 partitions produces 100 files, not
        100 × 1000.

        ``branch`` appends onto that branch's head and advances the branch
        pointer; the main table is untouched until ``fast_forward`` — the
        write-audit-publish staging flow. Branch writes are APPEND-only
        (an overwrite's delete set against a non-published lineage has no
        sane merge story — same restriction as the append-only commit
        retry).
        """
        self.refresh()
        if branch is not None:
            bref = self.meta.refs.get(branch)
            if bref is None or bref["type"] != "branch":
                raise ValueError(f"no branch {branch!r} on {self.name}")
            if overwrite or static_partition or dynamic:
                raise TableValidationError(
                    f"branch {branch!r}: only plain appends may target a branch"
                )
        schema = self.schema
        static_partition = {k: str(v) for k, v in (static_partition or {}).items()}
        for pc in static_partition:
            if pc not in self.meta.partition_cols:
                raise TableValidationError(
                    f"PARTITION ({pc}=...) is not a partition column of {self.name}"
                )

        # pin static partition values as literal columns when absent
        for pc, val in static_partition.items():
            field = schema[pc]
            if pc not in df.columns:
                df = df.withColumn(pc, F.lit(val).cast(field.dataType))
            else:
                df = df.withColumn(pc, F.lit(val).cast(field.dataType))

        # most formats don't do well with duplicate columns — reject, like
        # SchemaUtils.checkColumnNameDuplication in the reference
        # (InsertIntoIcebergTable.scala:185-190); Spark SQL is
        # case-insensitive by default, so the check lowercases
        from collections import Counter

        counts = Counter(c.lower() for c in df.columns)
        dups = sorted(c for c, n in counts.items() if n > 1)
        if dups:
            raise TableValidationError(
                f"Found duplicate column(s) when inserting into {self.name}: {dups}"
            )
        missing = [f.name for f in schema.fields if f.name not in df.columns]
        if missing:
            raise TableValidationError(f"insert is missing columns {missing}")
        df = df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])

        if branch is not None:
            parent = self.meta.snapshot_by_id(self.meta.refs[branch]["snapshot_id"])
        else:
            parent = self.meta.current_snapshot()
        parent_files = parent.live_files() if parent else []

        # files an overwrite will delete, computed from the pre-insert
        # snapshot (matchIceDataFiles semantics)
        if overwrite and static_partition:
            deleted = [
                f
                for f in parent_files
                if all(f.partition.get(k) == v for k, v in static_partition.items())
            ]
            if if_partition_not_exists and deleted:
                return parent  # partition exists → no-op (ifPartitionNotExists)
        elif overwrite and not dynamic:
            deleted = list(parent_files)
        else:
            deleted = []  # append; dynamic overwrite resolves after the write

        added = self._distributed_write(df, distribute_by=distribute_by)

        if overwrite and dynamic and not static_partition:
            written_parts = {tuple(sorted(f.partition.items())) for f in added}
            deleted = [
                f
                for f in parent_files
                if tuple(sorted(f.partition.items())) in written_parts
            ]

        return self._commit_snapshot(
            parent, added, deleted, branch=branch, extra_summary=extra_summary
        )

    def write(self, df: DataFrame, mode: str = "append", **kwargs) -> Snapshot | None:
        """DataFrame-writer SaveMode matrix over ``insert`` — the doInsertion
        decision of InsertIntoIcebergTable.scala:236-246, with "path exists"
        meaning "the table already contains data" (our managed layout always
        creates the table directory at CREATE time, so raw path existence
        would make ErrorIfExists unconditionally fail):

          append / overwrite → insert; errorifexists → raise when the table
          has data; ignore → silently skip when the table has data.

        Returns the committed Snapshot, or None when the write was skipped
        (Ignore) — mirroring doInsertion=false.
        """
        m = mode.strip().lower().replace("_", "")
        if m not in ("append", "overwrite", "ignore", "errorifexists"):
            raise TableValidationError(f"unsupported save mode {mode!r}")
        self.refresh()
        snap = self.meta.current_snapshot()
        has_data = bool(snap and snap.live_files())
        if m == "errorifexists" and has_data:
            raise TableAlreadyExistsError(
                f"path {self.meta.data_dir} already exists."
            )
        if m == "ignore" and has_data:
            return None
        return self.insert(df, overwrite=(m == "overwrite"), **kwargs)

    def _distributed_write(
        self, df: DataFrame, distribute_by: list[str] | None = None
    ) -> list[DataFile]:
        """ONE distributed Spark write of schema-aligned rows into a fresh
        per-commit directory (Hive-style partition dirs), returning the
        resulting DataFile entries with stats. Shared by insert and the
        copy-on-write DML paths."""
        commit_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.meta.data_dir, commit_id)
        part_cols = self.meta.partition_cols
        write_df = df
        if distribute_by is None:
            # write.distribution.cols table property = Iceberg's
            # write.distribution-mode=hash as standing config: every writer
            # clusters rows on these columns, which (a) caps small files —
            # one file per (task, partition-dir) instead of every task
            # spraying every dir — and (b) localizes each key to one file,
            # which is what makes per-file bloom skipping decisive
            opt = self.meta.properties.get("write.distribution.cols", "")
            distribute_by = [c.strip() for c in opt.split(",") if c.strip()]
        if distribute_by:
            write_df = write_df.repartition(*[F.col(c) for c in distribute_by])
        for pc in part_cols:
            write_df = write_df.withColumn(PART_PREFIX + pc, F.col(pc).cast("string"))
        # standing sort order (Iceberg write.sort-order): once a clustered
        # rewrite records `sort.order` (plain column list — z-order forms
        # are rewrite-time only), EVERY subsequent write locally sorts its
        # tasks' rows the same way. A local sort cannot make FILE ranges
        # disjoint (that needs the rewrite's range layout), but it keeps
        # each new file internally ordered, so parquet row-group/page
        # min-max indexes stay selective and the next compaction's merge
        # is cheap — the layout decays gracefully instead of instantly
        order = self.meta.properties.get("sort.order", "")
        sort_cols = [
            c.strip()
            for c in order.split(",")
            if c.strip() and "(" not in order
        ]
        declared = {f.name: f.dataType for f in self.schema.fields}
        if sort_cols and all(c in declared for c in sort_cols):
            write_df = write_df.sortWithinPartitions(
                *[F.col(PART_PREFIX + pc) for pc in part_cols],
                *[F.col(c) for c in sort_cols],
            )
        partition_by = [PART_PREFIX + pc for pc in part_cols]
        # a small bounded source is collected once and written by pyarrow
        # on the driver, in the same layout (catalog/driver_write.py)
        if not (
            self.file_format == "parquet"
            and not distribute_by
            and not order
            and driver_write(write_df, out_dir, partition_by, declared)
        ):
            (
                write_df.write.mode("errorifexists")
                .partitionBy(*partition_by)
                .format(self.file_format)
                .save(out_dir)
            )
        return self._build_data_files(out_dir)

    def add_files(
        self,
        source_dir: str,
        partition_values: dict | None = None,
        check_duplicate_files: bool = True,
        paths: list[str] | None = None,
    ) -> Snapshot:
        """Register EXISTING data files into the table (Iceberg's
        ``add_files`` import procedure): per-file footer stats are
        collected, and a plain 'append' snapshot references the files IN
        PLACE — zero data copy, zero rewrite.  The migrate-in-place path
        that turns a directory of raw parquet into a managed table at
        metadata cost only (at 100 TB, the difference between an import
        and a re-ingestion).

        Two layouts import (mirroring the reference's path↔partition
        algebra, PartitioningUtils.scala:57-71, 94-110):

        - **Self-describing files** carrying the table's FULL column set:
          each file's partition membership is INFERRED from its own
          footer stats — it belongs to partition v on column c iff
          min(c) == max(c) == v, the honest stats-driven import.  A file
          that straddles partition values is rejected (registering it
          under any single value would corrupt manifest pruning).  If the
          file's path ALSO names the partition (``c=v`` segment), path
          and footer must agree or the import raises.
        - **Classic Hive directories** where partition columns exist ONLY
          in the ``col=value`` path segments (the most common external
          migration layout): files carry the non-partition columns, every
          partition column's value is parsed from the path (Hive
          percent-escaping decoded, ``__HIVE_DEFAULT_PARTITION__`` →
          NULL), and the DataFile is flagged ``path_partition`` so the
          read path materializes the column as a typed literal.  The
          first rewrite/compaction emits normal self-describing files.

        Every parquet file's footer column set is validated individually
        (a mixed directory where one file deviates fails fast instead of
        surfacing as a broken read later); orc/avro fall back to the
        mergeSchema directory check.  Pass ``partition_values`` to
        additionally ASSERT that every file lands in that one expected
        partition (the Iceberg partition_filter shape).  Re-registering
        a live file raises unless ``check_duplicate_files=False``
        (Iceberg's same-named guard).  Imported files live OUTSIDE the
        table's data dir, so ``remove_orphan_files`` — which only scans
        the table's own tree — never touches them; expire GC deletes by
        manifest reference and applies as usual.
        """
        self.refresh()
        parent = self.meta.current_snapshot()
        fmt = self.file_format
        if paths is None:
            paths = []
            for root, _dirs, files in os.walk(source_dir):
                for fn in files:
                    if fn.endswith(f".{fmt}"):
                        paths.append(os.path.join(root, fn))
        paths = sorted(paths)
        if not paths:
            raise TableValidationError(
                f"add_files: no .{fmt} files under {source_dir!r}"
            )
        if check_duplicate_files and parent is not None:
            live = {f.path for f in parent.live_files()}
            dups = [p for p in paths if p in live]
            if dups:
                raise TableValidationError(
                    f"add_files: {len(dups)} file(s) already registered "
                    f"(first: {dups[0]}); pass check_duplicate_files=False "
                    "to force"
                )
        part_cols = self.meta.partition_cols
        pv = {
            k: (None if v is None else str(v))
            for k, v in (partition_values or {}).items()
        }
        if pv and set(pv) - set(part_cols):
            raise TableValidationError(
                f"add_files: partition_values names non-partition columns "
                f"{sorted(set(pv) - set(part_cols))}"
            )
        # Hive `col=value` segments per file (percent-decoded; the Hive
        # null sentinel maps to None) — used both for path-only partition
        # inference and to cross-check footer-derived values.
        path_parts: dict[str, dict[str, str | None]] = {}
        for p in paths:
            segs: dict[str, str | None] = {}
            for seg in os.path.relpath(p, source_dir).split(os.sep)[:-1]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    val = urllib.parse.unquote(v)
                    segs[k] = (
                        None if val == "__HIVE_DEFAULT_PARTITION__" else val
                    )
            path_parts[p] = segs

        expect = {
            f.name: f.dataType.simpleString() for f in self.schema.fields
        }
        expect_data = {
            k: v for k, v in expect.items() if k not in part_cols
        }
        src_schema = (
            self.spark.read.format(fmt)
            .option("mergeSchema", "true")
            .load(paths)
            .schema
        )
        got = {f.name: f.dataType.simpleString() for f in src_schema.fields}
        if got == expect:
            from_path = False
        elif part_cols and got == expect_data:
            # Hive layout: partition columns live only in the path — every
            # file must name every partition column there
            from_path = True
            for p in paths:
                missing = [pc for pc in part_cols if pc not in path_parts[p]]
                if missing:
                    raise TableValidationError(
                        f"add_files: {p} lacks partition column(s) "
                        f"{missing} in both its data and its path — a "
                        "Hive-layout import needs col=value path segments"
                    )
        else:
            raise TableValidationError(
                f"add_files: file schema {got} != table columns {expect}"
                + (
                    f" (nor the non-partition subset {expect_data})"
                    if part_cols
                    else ""
                )
            )
        stats_map = collect_stats(paths, spark=self.spark, file_format=fmt)
        if fmt == "parquet":
            # per-file footer guard: the directory-level (merged) schema
            # can hide one deviating file — its stats keys can't
            expect_names = set(expect_data if from_path else expect)
            for p in paths:
                names = set(stats_map[p][2])
                if names != expect_names:
                    raise TableValidationError(
                        f"add_files: {p} footer columns {sorted(names)} "
                        f"!= expected {sorted(expect_names)}"
                    )
        bloom_cols = self.bloom_filter_cols if fmt == "parquet" else []
        blooms: dict = {}
        if bloom_cols:
            from icebergsql_spark.catalog.stats import collect_blooms

            present = {f.name for f in src_schema.fields}
            m_bits = int(
                self.meta.properties.get("bloom.filter.bits", 0)
            ) or None
            blooms = collect_blooms(
                self.spark,
                paths,
                [c for c in bloom_cols if c in present],
                **({"m_bits": m_bits} if m_bits else {}),
            )
        added = []
        for p in paths:
            n_rows, size, stats = stats_map[p]
            partition: dict = {}
            for pc in part_cols:
                if from_path:
                    val = path_parts[p][pc]
                else:
                    cs = stats.get(pc)
                    if (
                        cs is None
                        or cs.min is None
                        or cs.max is None
                        or cs.min != cs.max
                        or (cs.null_count or 0) > 0
                    ):
                        raise TableValidationError(
                            f"add_files: {p} straddles partition column "
                            f"{pc!r} (min={getattr(cs, 'min', None)}, "
                            f"max={getattr(cs, 'max', None)}) — import "
                            "requires partition-aligned files"
                        )
                    val = str(cs.min)
                    if pc in path_parts[p] and path_parts[p][pc] != val:
                        raise TableValidationError(
                            f"add_files: {p} path says {pc}="
                            f"{path_parts[p][pc]}, footer stats say "
                            f"{pc}={val} — refusing the conflicted import"
                        )
                if pc in pv and pv[pc] != val:
                    raise TableValidationError(
                        f"add_files: {p} belongs to {pc}={val}, not the "
                        f"asserted {pc}={pv[pc]}"
                    )
                partition[pc] = val
            for c, b64 in (blooms.get(p) or {}).items():
                stats.setdefault(c, ColStats()).bloom = b64
            added.append(
                DataFile(
                    path=p,
                    partition=partition,
                    record_count=n_rows,
                    file_size=size,
                    stats=stats,
                    schema_id=self.meta.current_schema_id,
                    path_partition=from_path,
                )
            )
        return self._commit_snapshot(
            parent,
            added,
            [],
            operation="append",
            # imported files are NOT ours to delete on a failed commit —
            # they exist independently of this table (same rule as
            # cherry-picked files)
            cleanup_on_failure=False,
            extra_summary={"added-files-by-import": str(len(added))},
        )

    def register_data_files(self, files: list[DataFile]) -> Snapshot:
        """Metadata-only import of PREBUILT ``DataFile`` entries — the
        shallow-clone fast path. The entries' stats, bloom sidecars and
        partition values were already collected when the files were first
        committed to their source table, so re-deriving them from the
        footers (``add_files``'s schema probe + stats scan + bloom build
        are Spark jobs over every file) is pure recompute; at scale it is
        the difference between a metadata operation and a data rescan.
        Entries are re-stamped with THIS table's current schema id and a
        fresh data sequence (``_commit_snapshot`` derives it); the caller
        is responsible for schema compatibility — the CREATE TABLE LIKE
        path validates a single matching era before calling.  Misuse
        fails loudly AT COMMIT TIME (round-14 ADVICE): every entry's
        path must exist on disk, and all entries must share ONE source
        schema era — mismatched entries would silently poison
        count_from_stats and bloom pruning."""
        import dataclasses

        missing = [f.path for f in files if not os.path.exists(f.path)]
        if missing:
            raise TableValidationError(
                f"register_data_files: {len(missing)} entry path(s) do "
                f"not exist, e.g. {missing[0]!r}"
            )
        eras = {f.schema_id for f in files}
        if len(eras) > 1:
            raise TableValidationError(
                "register_data_files: entries span several source schema "
                f"eras {sorted(eras)}; stats/bloom columns are only "
                "trustworthy within one era"
            )
        self.refresh()
        parent = self.meta.current_snapshot()
        added = [
            dataclasses.replace(
                f, schema_id=self.meta.current_schema_id, seq=0
            )
            for f in files
        ]
        return self._commit_snapshot(
            parent,
            added,
            [],
            operation="append",
            # imported files are NOT ours to delete on a failed commit —
            # same rule as add_files
            cleanup_on_failure=False,
            extra_summary={"added-files-by-import": str(len(added))},
        )

    def repair_table(self) -> "Snapshot | None":
        """``MSCK REPAIR TABLE`` (reference TestTables.scala:72 — the one
        reference-test statement with no prior spelling here): discover
        partition files dropped EXTERNALLY into the table's data dir via
        directory listing and register them zero-copy through the
        ``add_files`` machinery.

        Discovery rule (deliberately narrow, matching Hive MSCK's
        partition-directory semantics): a file qualifies iff its path
        under the data dir carries a ``col=value`` segment for EVERY
        partition column (the external Hive drop layout — engine-written
        dirs use the ``__p_`` prefix and commit subdirs, so they never
        qualify) AND no snapshot in history references it — expired or
        orphaned engine debris can never be resurrected by a repair.
        Returns the new snapshot, or None when the listing finds nothing
        to register (idempotent)."""
        self.refresh()
        fmt = self.file_format
        referenced: set[str] = set()
        for s in self.meta.snapshots:
            for mp in s.manifest_paths:
                referenced.update(f.path for f in Manifest(mp).files())
        part_cols = self.meta.partition_cols
        new_paths = []
        for root, _dirs, files in os.walk(self.meta.data_dir):
            for fn in files:
                if not fn.endswith(f".{fmt}"):
                    continue
                p = os.path.join(root, fn)
                if p in referenced:
                    continue
                segs = {
                    seg.split("=", 1)[0]
                    for seg in os.path.relpath(
                        p, self.meta.data_dir
                    ).split(os.sep)[:-1]
                    if "=" in seg
                }
                if part_cols and all(pc in segs for pc in part_cols):
                    new_paths.append(p)
        if not new_paths:
            return None
        return self.add_files(self.meta.data_dir, paths=new_paths)

    # ------------------------------------------------------------ DML --
    # Row-level DELETE / UPDATE / MERGE as copy-on-write, the Iceberg v1
    # strategy the reference's snapshot model implies (old files are never
    # mutated, only de-referenced — InsertIntoIcebergTable.scala:142-179):
    # only files that MAY contain affected rows are rewritten (manifest
    # stats pruning decides), everything else keeps its manifests. At
    # 100 TB a point DELETE touches one partition's files, not the table.

    def delete_where(self, predicate_sql: str) -> Snapshot:
        """DELETE FROM ... WHERE — copy-on-write by default, merge-on-read
        when ``write.delete.mode = 'merge-on-read'``.

        Both modes classify files from manifest stats alone:
          - no possible match → untouched (manifest reuse);
          - predicate provably true for ALL rows (must_match_all) → the
            file is DROPPED without being read — a partition-aligned
            DELETE is metadata-only, zero data IO;
          - straddling files: copy-on-write runs ONE distributed job
            rewriting the surviving rows (NULL predicate keeps the row,
            per SQL semantics); merge-on-read instead records the MATCHING
            row positions as a delete vector (Iceberg v2 position
            deletes) — write cost ∝ deleted rows, not file size, the
            trade that makes frequent small deletes affordable at 100 TB
            (reads pay an anti-join until ``rewrite_position_deletes``).
        """
        from icebergsql_spark.expressions import must_match_all

        self.refresh()
        parent = self.meta.current_snapshot()
        scan = self.scan(where=predicate_sql)
        candidates = scan.planned_files
        if not candidates:
            return parent
        drop_whole: list[DataFile] = []
        rewrite: list[DataFile] = []
        for f in candidates:
            if must_match_all(scan.augmented, scan._pruning_stats(f)):
                drop_whole.append(f)
            else:
                rewrite.append(f)
        mor = (
            self.meta.properties.get("write.delete.mode", "copy-on-write")
            == "merge-on-read"
        )
        if mor and rewrite:
            if self.file_format != "parquet":
                raise TableValidationError(
                    "merge-on-read deletes need parquet row positions "
                    f"(_metadata.row_index); table format is {self.file_format}"
                )
            dv_entries = self._write_delete_vectors(
                parent, rewrite, predicate_sql
            )
            return self._commit_snapshot(
                parent,
                [],
                drop_whole,
                operation="delete",
                new_dv_entries=dv_entries,
            )
        added: list[DataFile] = []
        if rewrite:
            survivors = self.read_files_live(rewrite, parent).filter(
                ~F.coalesce(
                    F.expr(predicate_sql).cast("boolean"), F.lit(False)
                )
            )
            added = self._distributed_write(survivors)
        return self._commit_snapshot(parent, added, drop_whole + rewrite)

    def _write_delete_vectors(
        self,
        parent: Snapshot,
        files: list[DataFile],
        predicate_sql: str,
    ) -> list:
        """Predicate-delete DV build: rows MATCHING the predicate (NULL →
        not deleted, per SQL) become the deleted rowset."""
        matched = (
            self.read_files(files, with_pos=True)
            .filter(
                F.coalesce(F.expr(predicate_sql).cast("boolean"), F.lit(False))
            )
            .select("__fp", "__pos")
        )
        return self._commit_dv_rowset(parent, files, matched)

    def _next_seq(self) -> int:
        return (
            max((s.sequence_number for s in self.meta.snapshots), default=0)
            + 1
        )

    def _write_eq_rowset(self, keys_df: DataFrame, key_cols: list[str]):
        """Write a distinct key rowset as the equality-delete payload and
        return an EqualityDeleteEntry stamped with the NEXT commit's
        sequence number (single-writer invariant: the subsequent
        `_commit_snapshot` in the same call derives the same number)."""
        from icebergsql_spark.catalog.metadata import EqualityDeleteEntry

        schema_cols = {f.name for f in self.schema.fields}
        bad = sorted(set(key_cols) - schema_cols)
        if bad:
            raise TableValidationError(f"equality-delete key(s) {bad} not in schema")
        # the payload CASTs keys down to the table types (below); without
        # ANSI an out-of-range key would silently wrap into a real key and
        # mask a row nobody deleted, so refuse instead of writing it
        if self.spark.conf.get("spark.sql.ansi.enabled", "true").lower() != "true":
            raise TableValidationError(
                "equality deletes need spark.sql.ansi.enabled=true: a "
                "non-ANSI cast would wrap an out-of-range key into a "
                "false match"
            )
        eq_dir = os.path.join(
            self.meta.metadata_dir, f"eq-data-{uuid.uuid4().hex[:12]}"
        )
        # keys are CAST to the table schema's types at write time: the mask
        # join compares them against table columns anyway (same coercion),
        # and a type-normalized payload lets every reader pin its schema
        # (no footer-sampling inference job per masked read). A later
        # lossless widening of a key column still reads fine — Spark's
        # parquet reader promotes int32→long / float→double under an
        # explicit schema.
        tschema = self.schema
        payload = keys_df.select(
            *[F.col(c).cast(tschema[c].dataType).alias(c) for c in key_cols]
        ).distinct()
        declared = {c: tschema[c].dataType for c in key_cols}
        if not driver_write(payload, eq_dir, [], declared):
            payload.write.mode("errorifexists").parquet(eq_dir)
        # exact row count from the just-written parquet FOOTERS (driver-side
        # thread pool, same collector as data-file stats) — replaces a full
        # Spark read+count job per equality-delete commit; at CDC commit
        # rates the count job was the dominant per-commit overhead
        from icebergsql_spark.catalog.stats import collect_stats

        paths = []
        for root, _dirs, files in os.walk(eq_dir):
            paths.extend(
                os.path.join(root, fn)
                for fn in files
                if fn.endswith(".parquet")
            )
        count = sum(
            n_rows for n_rows, _size, _stats in collect_stats(paths).values()
        )
        return EqualityDeleteEntry(
            eq_path=eq_dir,
            key_cols=list(key_cols),
            seq=self._next_seq(),
            count=int(count),
        )

    def delete_by_keys(
        self, keys_df: DataFrame, key_cols: list[str] | None = None
    ) -> Snapshot:
        """Equality DELETE (Iceberg v2 equality-delete files): append a
        key rowset; every EXISTING row (data-file seq < this commit's seq)
        whose key matches is masked at read time. ZERO data-file reads and
        zero data-file writes — the only DELETE shape a high-rate CDC
        stream can afford at 100 TB (position deletes need a read to find
        positions; copy-on-write needs a rewrite). Trade: scans pay a
        key-join against the accumulated delete rowsets until
        ``convert_equality_deletes`` folds them into position DVs.

        ``key_cols`` defaults to every column of ``keys_df``."""
        self.refresh()
        parent = self.meta.current_snapshot()
        if parent is None:
            return parent
        entry = self._write_eq_rowset(keys_df, key_cols or list(keys_df.columns))
        return self._commit_snapshot(
            parent, [], [], operation="delete", new_eq_entries=[entry]
        )

    def upsert_by_keys(
        self,
        source: DataFrame,
        key_cols: list[str],
        extra_summary: dict[str, str] | None = None,
        cardinality_check: bool = True,
    ) -> Snapshot:
        """Equality-delete UPSERT (the Flink→Iceberg CDC shape): ONE
        commit appends the new row images AND an equality delete of their
        keys at the same sequence number — old images (strictly lower
        seq) are masked, the new files' own rows are not. No
        read-before-write at all: cost ∝ batch size regardless of table
        size, which is what lets a streaming upsert keep pace at 100 TB.
        Last-writer-wins per key across commits via seq ordering."""
        self.refresh()
        parent = self.meta.current_snapshot()
        schema = self.schema
        missing = [f.name for f in schema.fields if f.name not in source.columns]
        if missing:
            raise TableValidationError(f"upsert needs source columns {missing}")
        aligned = source.select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )
        if cardinality_check:
            # two images of one key at the SAME sequence number would both
            # survive the equality delete (strictly-lower rule) — the same
            # Iceberg cardinality contract MERGE enforces
            dup = (
                aligned.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "upsert source has rows with duplicate keys — reduce "
                    "the batch to one final image per key (or pass "
                    "cardinality_check=False to accept duplicate images)"
                )
        entry = self._write_eq_rowset(aligned, key_cols)
        added = self._distributed_write(aligned)
        return self._commit_snapshot(
            parent,
            added,
            [],
            operation="overwrite",
            new_eq_entries=[entry],
            extra_summary=extra_summary,
        )

    def convert_equality_deletes(self) -> Snapshot | None:
        """Fold accumulated equality deletes into position delete vectors
        (Iceberg's equality→position conversion): one job reads the
        affected files (seq below some entry's seq) WITH positions, finds
        rows whose key matches a higher-seq delete, writes those (file,
        pos) rowsets as DVs, and retires every equality entry. Scans go
        back to paying only the cheap position anti-join;
        ``rewrite_position_deletes`` can then fold further to clean
        files. Run it when the key-join read tax outweighs a maintenance
        pass — the standard Iceberg compaction cadence."""
        self.refresh()
        parent = self.meta.current_snapshot()
        if parent is None or not parent.eq_manifest_paths:
            return None
        if self.file_format != "parquet":
            raise TableValidationError(
                "convert_equality_deletes needs parquet row positions "
                f"(_metadata.row_index); table format is {self.file_format} "
                "— equality deletes stay mask-at-read on this table"
            )
        eqs = parent.eq_entries()
        max_seq = max(e.seq for e in eqs)
        affected = [f for f in parent.live_files() if f.seq < max_seq]
        if not affected:
            return self._commit_snapshot(
                parent, [], [], operation="replace", drop_eq=True
            )
        spark = self.spark
        df = self.read_files(affected, with_pos=True)
        # VALUES LocalRelation, not a Python-RDD createDataFrame: this
        # broadcast build side would otherwise launch a 32-partition
        # Python-runner job per maintenance call (the r10 lesson)
        seq_map = _values_local_df(
            spark, [(f.path, f.seq) for f in affected],
            "__fp string, __fseq long",
        )
        df = df.join(F.broadcast(seq_map), "__fp", "left")
        by_keycols: dict[tuple, list] = {}
        for e in eqs:
            by_keycols.setdefault(tuple(e.key_cols), []).append(e)
        masked_parts = []
        cur_schema = self.schema
        for key_cols, entries in sorted(by_keycols.items()):
            # pinned read schema (current-era types; key renames/drops are
            # guarded, widenings promote) — skips the per-entry
            # schema-inference job
            eq_schema = T.StructType([cur_schema[c] for c in key_cols])
            parts = [
                spark.read.schema(eq_schema)
                .parquet(e.eq_path)
                .select(*key_cols)
                .withColumn("__eqseq", F.lit(e.seq).cast("long"))
                for e in entries
            ]
            eq_df = parts[0]
            for p in parts[1:]:
                eq_df = eq_df.unionByName(p)
            eq_df = eq_df.groupBy(*key_cols).agg(
                F.max("__eqseq").alias("__eqseq")
            )
            masked_parts.append(
                df.join(eq_df, list(key_cols))
                .filter(F.col("__eqseq") > F.col("__fseq"))
                .select("__fp", "__pos")
            )
        masked = masked_parts[0]
        for p in masked_parts[1:]:
            masked = masked.unionByName(p)
        dv_entries = self._commit_dv_rowset(parent, affected, masked)
        return self._commit_snapshot(
            parent,
            [],
            [],
            operation="replace",
            new_dv_entries=dv_entries,
            drop_eq=True,
        )

    def _commit_dv_rowset(
        self,
        parent: Snapshot,
        files: list[DataFile],
        matched: DataFrame,
    ) -> list:
        """One distributed job: take a (``__fp``, ``__pos``) rowset of
        positions to delete within ``files``, subtract positions already
        dead under existing DVs (so per-file counts stay additive/exact),
        and write the surviving rowset as parquet under the metadata dir.
        Only the per-file counts come back to the driver (bounded by file
        count, not row count)."""
        from icebergsql_spark.catalog.metadata import DeleteVectorEntry

        prior = [
            e
            for e in parent.dv_entries()
            if e.data_path in {f.path for f in files}
        ]
        if prior:
            prior_df = (
                self.spark.read.schema(_DV_ROWSET_SCHEMA)
                .parquet(*sorted({e.dv_path for e in prior}))
                .select(F.col("path").alias("__fp"), F.col("pos").alias("__pos"))
            )
            matched = matched.join(prior_df, ["__fp", "__pos"], "left_anti")
        # dedupe HERE, not at call sites: a duplicate (file, pos) — e.g.
        # merge(cardinality_check=False) with duplicate source keys —
        # would inflate DeleteVectorEntry.count and break the exact
        # record_count - Σcount invariant count_from_stats relies on
        matched = matched.distinct()
        dv_dir = os.path.join(
            self.meta.metadata_dir, f"dv-data-{uuid.uuid4().hex[:12]}"
        )
        out = matched.select(
            F.col("__fp").alias("path"), F.col("__pos").alias("pos")
        ).repartition(F.col("path"))
        # r15 (guide §1.2, pass elimination): the per-file counts used to
        # come from a SECOND Spark job re-reading the just-written rowset
        # (~0.3-1.0 s per DV commit locally; a full re-read of the delete
        # rowset per commit at scale). Fold them into the write action as
        # observed metrics — one count(when(path = f)) per candidate file,
        # placed ABOVE the repartition exchange so the metrics aggregate
        # in the RESULT stage (exactly-once accumulator semantics; a
        # metric below an exchange could double-count under stage retry).
        # Bounded: above _DV_OBSERVE_MAX_FILES the expression list would
        # bloat codegen, so the old count job remains as the fallback.
        use_obs = len(files) <= _DV_OBSERVE_MAX_FILES
        if use_obs:
            from pyspark.sql import Observation

            obs = Observation()
            out = out.observe(
                obs,
                *[
                    F.count(F.when(F.col("path") == f.path, 1)).alias(
                        f"c{k}"
                    )
                    for k, f in enumerate(files)
                ],
            )
        out.write.mode("errorifexists").parquet(dv_dir)
        if use_obs:
            got = obs.get
            counts = {
                f.path: got[f"c{k}"] for k, f in enumerate(files)
            }
        else:
            counts = {
                r["path"]: r["n"]
                for r in self.spark.read.schema(_DV_ROWSET_SCHEMA)
                .parquet(dv_dir)
                .groupBy("path")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        return [
            DeleteVectorEntry(
                data_path=f.path, dv_path=dv_dir, count=int(counts[f.path])
            )
            for f in files
            if counts.get(f.path)
        ]

    def update_where(
        self, assignments: dict[str, str], predicate_sql: str | None = None
    ) -> Snapshot:
        """UPDATE ... SET ... WHERE — copy-on-write by default,
        merge-on-read when ``write.update.mode = 'merge-on-read'``.

        Copy-on-write rewrites only files that may contain matching rows;
        within them, non-matching rows pass through unchanged (NULL
        predicate → unchanged, per SQL). Updated rows may move partitions —
        the write path re-partitions by value.

        Merge-on-read records the matching rows' positions as a delete
        vector and APPENDS the updated images (delete+insert, Iceberg v2
        MoR update): write cost ∝ updated rows, untouched rows in the same
        files are never rewritten."""
        self.refresh()
        parent = self.meta.current_snapshot()
        schema = self.schema
        cols = {f.name for f in schema.fields}
        bad = sorted(set(assignments) - cols)
        if bad:
            raise TableValidationError(f"UPDATE of unknown column(s) {bad}")
        scan = self.scan(where=predicate_sql)
        affected = scan.planned_files
        if not affected:
            return parent
        cond = (
            F.coalesce(F.expr(predicate_sql).cast("boolean"), F.lit(False))
            if predicate_sql
            else F.lit(True)
        )
        mor = (
            self.meta.properties.get("write.update.mode", "copy-on-write")
            == "merge-on-read"
        )
        if mor:
            if self.file_format != "parquet":
                raise TableValidationError(
                    "merge-on-read updates need parquet row positions "
                    f"(_metadata.row_index); table format is {self.file_format}"
                )
            # updated images from LIVE pre-update rows; DV masks the old
            # images in place — both sides share one predicate
            updated = self.read_files_live(affected, parent).filter(cond).select(
                *[
                    (
                        F.expr(assignments[f.name])
                        .cast(f.dataType)
                        .alias(f.name)
                        if f.name in assignments
                        else F.col(f.name)
                    )
                    for f in schema.fields
                ]
            )
            added = self._distributed_write(updated)
            dv_entries = self._write_delete_vectors(
                parent, affected, predicate_sql or "true"
            )
            return self._commit_snapshot(
                parent,
                added,
                [],
                operation="overwrite",
                new_dv_entries=dv_entries,
            )
        rewritten = self.read_files_live(affected, parent).select(
            *[
                (
                    F.when(cond, F.expr(assignments[f.name]).cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in assignments
                    else F.col(f.name)
                )
                for f in schema.fields
            ]
        )
        added = self._distributed_write(rewritten)
        return self._commit_snapshot(parent, added, list(affected))

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str = "update",
        set_exprs: dict[str, str] | None = None,
        when_not_matched_insert: bool | dict[str, str] | list = True,
        cardinality_check: bool = True,
        extra_summary: dict[str, str] | None = None,
        matched_clauses: list[tuple[str | None, str, dict[str, str] | None]]
        | None = None,
        not_matched_by_source_clauses: list[
            tuple[str | None, str, dict[str, str] | None]
        ]
        | None = None,
        schema_evolution: bool = False,
    ) -> Snapshot:
        """Copy-on-write MERGE INTO (the CDC-upsert primitive).

        ``on``: equi-join key columns. ``when_matched``: 'update' (apply
        ``set_exprs`` target-col → SQL-expr over the joined scope with the
        target aliased ``t`` and source ``s``; None = take every shared
        source column) or 'delete'. ``when_not_matched_insert``: append
        source rows whose keys match no target row — ``True`` = INSERT *
        (source must carry every target column), or a dict of target-col →
        SQL expression over the source aliased ``s`` (the column-list
        ``INSERT (a, b) VALUES (...)`` form; unlisted columns get NULL).

        ``matched_clauses`` generalizes to the full conditional grammar —
        an ORDERED list of ``(condition_sql | None, 'update' | 'delete',
        set_exprs | None)``; for each matched row the FIRST clause whose
        condition holds (None = always) fires, later clauses are ignored,
        and a matched row firing no clause stays unchanged — standard SQL
        MERGE semantics (`WHEN MATCHED AND cond THEN ...` chains).
        Conditions see the same ``t``/``s`` aliases as set expressions.
        When given, ``when_matched``/``set_exprs`` are ignored.

        ``not_matched_by_source_clauses`` (same shape) fire on TARGET rows
        whose key matches NO source row (`WHEN NOT MATCHED BY SOURCE THEN
        UPDATE/DELETE`, the Spark 3.4/Delta extension that turns MERGE
        into a full snapshot-sync primitive). Conditions/exprs see only
        ``t`` (source columns are NULL there). Scale note: these clauses
        make EVERY live file a rewrite candidate — an unmatched row can
        hide anywhere — so the affected set is the whole table; prefer a
        keyed anti-join delete when the sync set is small.

        Scale shape: the affected-file set comes from joining the target's
        KEY COLUMNS (column-pruned scan + input_file_name) against the
        source — only those files are rewritten in one distributed job;
        the not-matched insert is a single anti-join on the same pruned
        key scan. Equal-key source rows are rejected (the Iceberg MERGE
        cardinality error) unless ``cardinality_check=False``.
        """
        import urllib.parse as _u

        self.refresh()
        if schema_evolution:
            # MERGE WITH SCHEMA EVOLUTION (Spark 4.0 grammar): every
            # source-only column is added to the target schema up front —
            # a metadata-only commit; rows in pre-evolution files read
            # back NULL through the per-era path in ``read_files`` (the
            # same NULL-backfill Iceberg gets from field-id mapping; cf.
            # reference utils/TypeConversions.scala:26-35 where schema
            # conversion assigns fresh field ids for new columns).
            # Under evolution INSERT * also NULL-fills target columns the
            # source lacks (Delta/Iceberg autoMerge semantics) instead of
            # rejecting them.
            existing = {f.name.lower() for f in self.schema.fields}
            for f in source.schema.fields:
                if f.name.lower() not in existing:
                    self.add_column(f.name, f.dataType)
        parent = self.meta.current_snapshot()
        parent_files = parent.live_files() if parent else []
        schema = self.schema
        keys = list(on)
        for k in keys:
            if k not in {f.name for f in schema.fields}:
                raise TableValidationError(f"MERGE key {k!r} not in schema")
            if k not in source.columns:
                raise TableValidationError(f"MERGE key {k!r} not in source")
        if when_matched not in ("update", "delete", None):
            raise TableValidationError(
                f"when_matched must be 'update', 'delete' or None, "
                f"got {when_matched!r}"
            )
        # normalize to the general ordered-clause form, tagged by family:
        # 'm' = WHEN MATCHED, 'n' = WHEN NOT MATCHED BY SOURCE (families
        # are disjoint per row, so cross-family order is immaterial)
        if matched_clauses is None:
            matched_clauses = (
                [(None, when_matched, set_exprs)]
                if when_matched is not None
                else []
            )
        for _cond, act, _se in list(matched_clauses) + list(
            not_matched_by_source_clauses or []
        ):
            if act not in ("update", "delete"):
                raise TableValidationError(
                    f"merge clause action must be 'update'/'delete', got {act!r}"
                )
        all_clauses = [("m", c, a, s) for c, a, s in matched_clauses] + [
            ("n", c, a, s) for c, a, s in (not_matched_by_source_clauses or [])
        ]
        if cardinality_check:
            dup = (
                source.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "MERGE source has rows with duplicate join keys — each "
                    "target row must match at most one source row (Iceberg "
                    "cardinality semantics); pre-aggregate the source or "
                    "pass cardinality_check=False to accept last-write-wins"
                )
        nmbs = [c for c in all_clauses if c[0] == "n"]
        if not parent_files or not all_clauses:
            # insert-only MERGE: matched rows stay untouched, so no file
            # needs rewriting — the whole statement is one anti-join append
            affected: list[DataFile] = []
        elif nmbs:
            # an unmatched target row can hide in ANY file (see docstring)
            affected = list(parent_files)
        else:
            tgt_keys = (
                self.read_files(parent_files)
                .select(*keys)
                .withColumn("__file", F.input_file_name())
            )
            hit_uris = [
                r["__file"]
                for r in tgt_keys.join(
                    source.select(*keys).distinct(), keys, "left_semi"
                )
                .select("__file")
                .distinct()
                .collect()
            ]
            hit_paths = {_u.unquote(_u.urlparse(u).path) for u in hit_uris}
            affected = [f for f in parent_files if f.path in hit_paths]

        # alias AFTER the marker column so `s.<col>` resolves in set_exprs
        s_marked = source.withColumn("__m", F.lit(True)).alias("s")
        mor = (
            self.meta.properties.get("write.merge.mode", "copy-on-write")
            == "merge-on-read"
        )
        if mor and affected and all_clauses:
            if self.file_format != "parquet":
                raise TableValidationError(
                    "merge-on-read MERGE needs parquet row positions "
                    f"(_metadata.row_index); table format is {self.file_format}"
                )
            return self._merge_mor(
                parent,
                affected,
                source,
                s_marked,
                keys,
                all_clauses,
                when_not_matched_insert,
                extra_summary,
                allow_missing=schema_evolution,
            )
        rewritten = None
        if affected:
            t = self.read_files_live(affected, parent).alias("t")
            joined = t.join(
                s_marked, [t[k] == s_marked[k] for k in keys], "left"
            )
            rewritten = self._apply_matched_clauses(
                joined, t, s_marked, source, all_clauses, keep_unfired=True
            )
        inserts = None
        if when_not_matched_insert:
            # live keys: a merge-on-read-deleted row must NOT block the
            # re-insert of its key
            all_keys = (
                self.read_files_live(parent_files, parent).select(*keys)
                if parent_files
                else _empty_typed_df(
                    self.spark, T.StructType([schema[k] for k in keys])
                )
            )
            inserts = self._merge_insert_df(
                source,
                keys,
                when_not_matched_insert,
                all_keys,
                allow_missing=schema_evolution,
            )
        if rewritten is None and inserts is None:
            return parent
        new_df = (
            rewritten.unionByName(inserts)
            if rewritten is not None and inserts is not None
            else (rewritten if rewritten is not None else inserts)
        )
        added = self._distributed_write(new_df)
        if not added and not affected:
            return parent
        return self._commit_snapshot(
            parent, added, list(affected), extra_summary=extra_summary
        )

    def _merge_insert_df(
        self,
        source: DataFrame,
        keys: list[str],
        spec: "bool | dict[str, str] | list",
        live_keys: DataFrame,
        allow_missing: bool = False,
    ) -> DataFrame:
        """Not-matched insert rows: anti-join the source against the live
        target keys, then project per ``spec`` — ``True`` = INSERT *
        (every target column from the same-named source column), dict =
        the column-list ``INSERT (cols) VALUES (exprs)`` form (exprs see
        the source aliased ``s``; unlisted columns become NULL, standard
        SQL insert semantics). A LIST of ``(condition_sql | None, True |
        dict)`` is the full conditional grammar (`WHEN NOT MATCHED AND
        cond THEN INSERT ...` chains): per source row the FIRST clause
        whose condition holds fires, a row firing no clause is not
        inserted — the same ordered-clause rule as the matched side."""
        schema = self.schema
        clauses: list = spec if isinstance(spec, list) else [(None, spec)]

        def project(df: DataFrame, sp) -> DataFrame:
            if sp is True:
                missing = [
                    f.name
                    for f in schema.fields
                    if f.name not in source.columns
                ]
                if missing and not allow_missing:
                    raise TableValidationError(
                        f"MERGE insert needs source columns {missing}"
                    )
                # under schema evolution INSERT * NULL-fills target
                # columns the source lacks (autoMerge semantics)
                return df.select(
                    *[
                        (
                            F.col(f.name)
                            if f.name in source.columns
                            else F.lit(None)
                        )
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in schema.fields
                    ]
                )
            bad = sorted(set(sp) - {f.name for f in schema.fields})
            if bad:
                raise TableValidationError(
                    f"MERGE INSERT of unknown column(s) {bad}"
                )
            return df.select(
                *[
                    (F.expr(sp[f.name]) if f.name in sp else F.lit(None))
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in schema.fields
                ]
            )

        base = source.alias("s").join(live_keys, keys, "left_anti")
        if len(clauses) == 1 and clauses[0][0] is None:
            return project(base, clauses[0][1])
        # first-clause-wins as one codegen-able CASE chain, then one
        # union branch per clause (clause counts are tiny; each branch is
        # a filter+project over the same anti-join, no extra shuffle)
        fired = None
        for i, (cond, _sp) in enumerate(clauses, 1):
            c = (
                F.coalesce(F.expr(cond).cast("boolean"), F.lit(False))
                if cond is not None
                else F.lit(True)
            )
            fired = F.when(c, i) if fired is None else fired.when(c, i)
        base = base.withColumn("__f", fired.otherwise(0))
        out = None
        for i, (_cond, sp) in enumerate(clauses, 1):
            part = project(base.filter(F.col("__f") == i), sp)
            out = part if out is None else out.unionByName(part)
        return out

    def _matched_fired_col(self, all_clauses):
        """1-based index of the FIRST clause whose family predicate
        (matched: ``__m`` not null; not-matched-by-source: ``__m`` null)
        and condition hold for the row (0 = none fires) — the ordered-
        clause rule of SQL MERGE, as one codegen-able CASE chain."""
        expr = None
        for i, (base, cond, _act, _se) in enumerate(all_clauses, 1):
            c = (
                F.col("__m").isNotNull()
                if base == "m"
                else F.col("__m").isNull()
            )
            if cond is not None:
                c = c & F.coalesce(F.expr(cond).cast("boolean"), F.lit(False))
            expr = F.when(c, i) if expr is None else expr.when(c, i)
        return expr.otherwise(0) if expr is not None else F.lit(0)

    def _apply_matched_clauses(
        self,
        joined: DataFrame,
        t: DataFrame,
        s_marked: DataFrame,
        source: DataFrame,
        all_clauses,
        keep_unfired: bool,
    ) -> DataFrame:
        """Evaluate the ordered merge clauses over a t/s-aliased join:
        delete-fired rows drop, update-fired rows take their clause's set
        expressions, unfired rows pass through unchanged (CoW rewrite,
        ``keep_unfired=True``) or drop (MoR new-image build —
        ``keep_unfired=False``, unfired rows were never masked)."""
        schema = self.schema
        joined = joined.withColumn(
            "__fired", self._matched_fired_col(all_clauses)
        )
        delete_idx = [
            i
            for i, (_b, _c, a, _s) in enumerate(all_clauses, 1)
            if a == "delete"
        ]
        if delete_idx:
            joined = joined.filter(~F.col("__fired").isin(delete_idx))
        if not keep_unfired:
            joined = joined.filter(F.col("__fired") > 0)
        out_cols = []
        for f in schema.fields:
            expr = None
            for i, (_b, _c, act, se) in enumerate(all_clauses, 1):
                if act != "update":
                    continue
                if se is not None and f.name in se:
                    upd = F.expr(se[f.name]).cast(f.dataType)
                elif se is None and f.name in source.columns:
                    upd = s_marked[f.name].cast(f.dataType)
                else:
                    upd = t[f.name]
                cnd = F.col("__fired") == i
                expr = F.when(cnd, upd) if expr is None else expr.when(cnd, upd)
            out_cols.append(
                (expr.otherwise(t[f.name]) if expr is not None else t[f.name])
                .alias(f.name)
            )
        return joined.select(*out_cols)

    def _merge_mor(
        self,
        parent: Snapshot,
        affected: list[DataFile],
        source: DataFrame,
        s_marked: DataFrame,
        keys: list[str],
        all_clauses,
        when_not_matched_insert: bool | dict[str, str] | list,
        extra_summary: dict[str, str] | None,
        allow_missing: bool = False,
    ) -> Snapshot:
        """Merge-on-read MERGE: target rows whose clause FIRES are masked
        by a delete vector (positions via a key join + clause evaluation
        on the position-annotated read) and update-fired rows' new images
        are APPENDED alongside the not-matched inserts; untouched/unfired
        rows in the affected files are never rewritten. Write cost ∝
        churned rows (the Iceberg v2 MoR upsert shape, the one a CDC
        stream needs at 100 TB). Not-matched-by-source clauses switch the
        position read to a LEFT join so unmatched rows can fire too."""
        schema = self.schema
        join_how = "left" if any(b == "n" for b, _c, _a, _s in all_clauses) else "inner"
        raw = self.read_files(affected, with_pos=True).alias("t")
        raw_joined = raw.join(
            s_marked, [raw[k] == s_marked[k] for k in keys], join_how
        )
        matched_pos = (
            raw_joined.withColumn(
                "__fired", self._matched_fired_col(all_clauses)
            )
            .filter(F.col("__fired") > 0)
            .select("__fp", "__pos")
        )
        dv_entries = self._commit_dv_rowset(parent, affected, matched_pos)
        new_parts: list[DataFrame] = []
        if any(a == "update" for _b, _c, a, _s in all_clauses):
            t = self.read_files_live(affected, parent).alias("t")
            joined = t.join(
                s_marked, [t[k] == s_marked[k] for k in keys], join_how
            )
            new_parts.append(
                self._apply_matched_clauses(
                    joined, t, s_marked, source, all_clauses,
                    keep_unfired=False,
                )
            )
        if when_not_matched_insert:
            live_keys = self.read_files_live(
                parent.live_files(), parent
            ).select(*keys)
            new_parts.append(
                self._merge_insert_df(
                    source,
                    keys,
                    when_not_matched_insert,
                    live_keys,
                    allow_missing=allow_missing,
                )
            )
        added: list[DataFile] = []
        if new_parts:
            new_df = new_parts[0]
            for p in new_parts[1:]:
                new_df = new_df.unionByName(p)
            added = self._distributed_write(new_df)
        if not added and not dv_entries:
            return parent
        return self._commit_snapshot(
            parent,
            added,
            [],
            operation="overwrite",
            new_dv_entries=dv_entries,
            extra_summary=extra_summary,
        )

    def _build_data_files(self, out_dir: str) -> list[DataFile]:
        fmt = self.file_format
        paths = []
        for root, _dirs, files in os.walk(out_dir):
            for fn in files:
                if fn.endswith(f".{fmt}"):
                    paths.append(os.path.join(root, fn))
        paths.sort()
        stats_map = collect_stats(paths, spark=self.spark, file_format=fmt)
        bloom_cols = self.bloom_filter_cols if fmt == "parquet" else []
        if bloom_cols:
            from icebergsql_spark.catalog.stats import collect_blooms

            # columns may not exist in every era; only build for current
            cur_schema = self.schema
            present = {f.name for f in cur_schema.fields}
            build_cols = [c for c in bloom_cols if c in present]
            m_bits = int(
                self.meta.properties.get("bloom.filter.bits", 0)
            ) or None
            blooms = collect_blooms(
                self.spark,
                paths,
                build_cols,
                # files just written by _distributed_write carry exactly
                # the current schema's types — pin the (pruned) read
                # schema to skip the inference job per write
                schema=T.StructType([cur_schema[c] for c in build_cols]),
                **({"m_bits": m_bits} if m_bits else {}),
            )
            for p, by_col in blooms.items():
                _rows, _size, stats = stats_map[p]
                for c, b64 in by_col.items():
                    stats.setdefault(c, ColStats()).bloom = b64
        out = []
        for p in paths:
            n_rows, size, stats = stats_map[p]
            partition = {}
            for seg in os.path.relpath(p, out_dir).split(os.sep)[:-1]:
                if "=" in seg and seg.startswith(PART_PREFIX):
                    k, v = seg.split("=", 1)
                    val = urllib.parse.unquote(v)
                    partition[k[len(PART_PREFIX):]] = (
                        None if val == HIVE_NULL else val
                    )
            out.append(
                DataFile(
                    path=p,
                    partition=partition,
                    record_count=n_rows,
                    file_size=size,
                    stats=stats,
                    schema_id=self.meta.current_schema_id,
                )
            )
        return out

    @staticmethod
    def _parent_totals(parent: Snapshot | None) -> tuple[int, int, int, int]:
        """(records, data-files, position-deletes, equality-deletes)
        running totals of ``parent`` — O(1) summary carry-forward, with a
        one-time manifest walk only for pre-totals metadata written before
        the summary counters existed. The walk result lands in the child's
        summary, so each legacy parent is paid for at most once per
        lineage, not once per commit."""
        if parent is None:
            return 0, 0, 0, 0
        s = parent.summary
        if "total-records" in s:
            rec, files = int(s["total-records"]), int(s["total-data-files"])
        else:
            base = parent.live_files()
            rec, files = sum(f.record_count for f in base), len(base)
        if "total-position-deletes" in s:
            dv = int(s["total-position-deletes"])
        else:
            dv = sum(e.count for e in parent.dv_entries())
        if "total-equality-deletes" in s:
            eq = int(s["total-equality-deletes"])
        else:
            eq = sum(e.count for e in parent.eq_entries())
        return rec, files, dv, eq

    def _commit_snapshot(
        self,
        parent: Snapshot | None,
        added: list[DataFile],
        deleted: list[DataFile],
        operation: str | None = None,
        branch: str | None = None,
        extra_summary: dict[str, str] | None = None,
        new_dv_entries: list | None = None,
        new_eq_entries: list | None = None,
        drop_eq: bool = False,
        cleanup_on_failure: bool = True,
    ) -> Snapshot:
        # snapshot op selection per createSnapShot (InsertIntoIcebergTable.
        # scala:142-179): add+delete → rewrite ('overwrite'), add-only →
        # 'append', delete-only → 'delete'. ``operation`` overrides for
        # maintenance commits ('replace' = same rows, new file layout).
        if operation is not None:
            op = operation
        elif added and deleted:
            op = "overwrite"
        elif added:
            op = "append"
        elif deleted:
            op = "delete"
        else:
            op = "append"

        snapshot_id = int(time.time() * 1000) * 1000 + len(self.meta.snapshots)
        meta_dir = self.meta.metadata_dir
        manifest_paths: list[str] = []
        deleted_paths = {f.path for f in deleted}
        # monotone data sequence number (Iceberg's sequence-number
        # ordering): files added by this commit carry it; equality deletes
        # mask only rows from files with a STRICTLY LOWER seq
        seq = (
            max((s.sequence_number for s in self.meta.snapshots), default=0)
            + 1
        )
        for f in added:
            f.seq = seq
        if parent is not None:
            for m in parent.manifests():
                files = m.files()
                survivors = [f for f in files if f.path not in deleted_paths]
                if len(survivors) == len(files):
                    manifest_paths.append(m.path)  # untouched manifest: reuse
                elif survivors:
                    rewritten = os.path.join(
                        meta_dir, f"manifest-{uuid.uuid4().hex[:12]}.json"
                    )
                    # write() may switch to parquet above the entry
                    # threshold — track the path it actually used
                    manifest_paths.append(Manifest.write(rewritten, survivors).path)
                # fully-deleted manifest: dropped
        new_manifest: str | None = None
        if added:
            new_manifest = Manifest.write(
                os.path.join(meta_dir, f"manifest-{uuid.uuid4().hex[:12]}.json"),
                added,
            ).path
            manifest_paths.append(new_manifest)

        # -- merge-on-read delete vectors: inherit the parent's entries,
        # MINUS entries whose data file this commit removed/rewrote (a DV
        # dies with its file), PLUS this commit's new position deletes.
        # DV manifests mirror data manifests: untouched files are reused
        # by path; changes consolidate into one new manifest.
        from icebergsql_spark.catalog.metadata import DVManifest

        dv_manifest_paths: list[str] = []
        # incremental running total of position-delete rows: resolved by
        # whichever branch below actually touched the DV set; None means
        # "unchanged from parent" and carries the parent's summary value
        # forward in O(1) (walk fallback only for pre-totals metadata)
        tot_dv: int | None = None
        parent_dv_paths = parent.dv_manifest_paths if parent else []
        if not parent_dv_paths and not new_dv_entries:
            tot_dv = 0
        elif not new_dv_entries and not deleted_paths:
            # nothing can add a DV entry and no data file died, so no DV
            # entry can change — reuse the parent's manifests without
            # reading a single one (the commit-rate hot path: plain
            # appends on a table carrying thousands of delete manifests)
            dv_manifest_paths = list(parent_dv_paths)
        else:
            inherited = [
                e
                for p in parent_dv_paths
                for e in DVManifest(p).entries()
            ]
            survivors_dv = [
                e for e in inherited if e.data_path not in deleted_paths
            ]
            if not new_dv_entries and len(survivors_dv) == len(inherited):
                dv_manifest_paths = list(parent_dv_paths)  # untouched: reuse
                tot_dv = sum(e.count for e in inherited)
            else:
                merged = survivors_dv + list(new_dv_entries or [])
                tot_dv = sum(e.count for e in merged)
                if merged:
                    dv_manifest_paths.append(
                        DVManifest.write(
                            os.path.join(
                                meta_dir,
                                f"dv-manifest-{uuid.uuid4().hex[:12]}.json",
                            ),
                            merged,
                        ).path
                    )

        # -- equality deletes: inherited wholesale (they are seq-scoped,
        # not file-scoped — a rewrite's outputs carry a HIGHER seq, so old
        # entries simply stop matching); drop_eq retires them after a
        # convert/rewrite pass proved no live file has a lower seq.
        from icebergsql_spark.catalog.metadata import EqManifest

        eq_manifest_paths: list[str] = []
        tot_eq: int | None = None  # same carry-forward contract as tot_dv
        if drop_eq:
            tot_eq = 0
        else:
            parent_eq_paths = parent.eq_manifest_paths if parent else []
            if new_eq_entries:
                merged_eq = [
                    e
                    for p in parent_eq_paths
                    for e in EqManifest(p).entries()
                ] + list(new_eq_entries)
                tot_eq = sum(e.count for e in merged_eq)
                eq_manifest_paths.append(
                    EqManifest.write(
                        os.path.join(
                            meta_dir,
                            f"eq-manifest-{uuid.uuid4().hex[:12]}.json",
                        ),
                        merged_eq,
                    ).path
                )
            else:
                eq_manifest_paths = list(parent_eq_paths)
                if not parent_eq_paths:
                    tot_eq = 0

        # strictly-increasing snapshot timestamps so `as of <ts of snapshot N>`
        # always resolves to snapshot N even when commits land in the same ms
        ts_ms = int(time.time() * 1000)
        if parent is not None and ts_ms <= parent.timestamp_ms:
            ts_ms = parent.timestamp_ms + 1
        # Running totals (Iceberg snapshot-summary parity, the counters a
        # table monitor actually reads): total-records / total-data-files
        # count RAW data-file contents (not DV/eq-adjusted — Iceberg
        # semantics; live rows = total-records − masked), maintained
        # incrementally from the parent's totals in O(1) per commit.
        # Delete totals were resolved above from the in-memory merge when
        # the DV/eq set changed; when it was reused untouched they carry
        # forward from the parent's summary here. Only a pre-totals parent
        # (old metadata) pays a manifest walk.
        added_rec = sum(f.record_count for f in added)
        deleted_rec = sum(f.record_count for f in deleted)
        prec, pfiles, pdv, peq = self._parent_totals(parent)
        tot_rec = prec + added_rec - deleted_rec
        tot_files = pfiles + len(added) - len(deleted)
        if tot_dv is None:
            tot_dv = pdv
        if tot_eq is None:
            tot_eq = peq
        snap = Snapshot(
            snapshot_id=snapshot_id,
            parent_id=parent.snapshot_id if parent else None,
            timestamp_ms=ts_ms,
            operation=op,
            manifest_paths=manifest_paths,
            num_added_files=len(added),
            num_deleted_files=len(deleted),
            summary={
                "added-records": str(added_rec),
                "deleted-records": str(deleted_rec),
                "total-records": str(tot_rec),
                "total-data-files": str(tot_files),
                "total-position-deletes": str(tot_dv),
                "total-equality-deletes": str(tot_eq),
                # caller-supplied markers (e.g. streaming-batch-id) land in
                # the SAME atomic commit as the data change — a crash can
                # never leave the change applied but the marker missing
                **(extra_summary or {}),
            },
            dv_manifest_paths=dv_manifest_paths,
            eq_manifest_paths=eq_manifest_paths,
            sequence_number=seq,
            schema_id=self.meta.current_schema_id,
        )
        self.meta.snapshots.append(snap)
        if branch is not None:
            self.meta.refs[branch]["snapshot_id"] = snap.snapshot_id
        else:
            self.meta.current_snapshot_id = snap.snapshot_id
        try:
            self._commit_with_retry(snap, op, new_manifest, branch=branch)
        except Exception:
            # cleanup-on-failure: a commit that cannot land leaves no
            # orphaned data files (mirrors the reference's cleanup,
            # SparkTableOperations.scala:120-149). All of this insert's
            # files live under one data/<commit-id>/ directory. Callers
            # whose 'added' files are re-referenced from EXISTING snapshots
            # (cherry-pick) pass cleanup_on_failure=False — those files
            # must survive the failed commit.
            if added and cleanup_on_failure:
                import shutil

                commit_dir = os.path.join(
                    self.meta.data_dir,
                    os.path.relpath(added[0].path, self.meta.data_dir).split(os.sep)[0],
                )
                shutil.rmtree(commit_dir, ignore_errors=True)
            raise
        return snap

    def _commit_with_retry(
        self,
        snap: Snapshot,
        op: str,
        new_manifest: str | None,
        branch: str | None = None,
    ) -> None:
        try:
            self.meta.commit()
        except CommitConflict:
            # Optimistic retry for APPENDS (the reference's commit is
            # retry-able the same way, SparkTableOperations.scala:91-149):
            # the written data files are untouched; rebase the new manifest
            # onto the current metadata and re-commit. Overwrites cannot be
            # rebased blindly — their delete set was computed against a
            # stale snapshot — so they surface the conflict to the caller.
            if op != "append":
                raise
            for _ in range(5):
                self.refresh()
                if branch is not None:
                    bref = self.meta.refs.get(branch)
                    if bref is None or bref["type"] != "branch":
                        raise  # branch dropped concurrently: surface it
                    parent = self.meta.snapshot_by_id(bref["snapshot_id"])
                else:
                    parent = self.meta.current_snapshot()
                existing_ids = {s.snapshot_id for s in self.meta.snapshots}
                while snap.snapshot_id in existing_ids:
                    snap.snapshot_id += 1
                snap.parent_id = parent.snapshot_id if parent else None
                # rebase = parent's manifests + ONLY the manifest this commit
                # wrote (None for an empty append — rebasing with [-1:] of the
                # stale list would double-count the parent's last manifest)
                snap.manifest_paths = (parent.manifest_paths if parent else []) + (
                    [new_manifest] if new_manifest else []
                )
                if parent is not None and snap.timestamp_ms <= parent.timestamp_ms:
                    snap.timestamp_ms = parent.timestamp_ms + 1
                # merge-on-read state is parent-derived: a stale dv/eq list
                # would silently DROP a concurrent MoR delete's vectors and
                # resurrect its rows. Appends carry no deletes of their
                # own, so the rebase simply adopts the new parent's sets.
                snap.dv_manifest_paths = (
                    list(parent.dv_manifest_paths) if parent else []
                )
                snap.eq_manifest_paths = (
                    list(parent.eq_manifest_paths) if parent else []
                )
                # the summary's running totals were computed against the
                # STALE parent — rebase them too, or every rebased append
                # under-counts the concurrent commits it now sits on top
                # of (and carries the error forward through the O(1)
                # incremental chain). Appends delete nothing, so the new
                # totals are the rebased parent's plus this commit's adds.
                prec, pfiles, pdv, peq = self._parent_totals(parent)
                snap.summary["total-records"] = str(
                    prec + int(snap.summary["added-records"])
                )
                snap.summary["total-data-files"] = str(
                    pfiles + snap.num_added_files
                )
                snap.summary["total-position-deletes"] = str(pdv)
                snap.summary["total-equality-deletes"] = str(peq)
                # re-derive the data sequence number against the CURRENT
                # history and restamp the appended files (rewriting this
                # commit's own manifest — referenced by no one yet), so a
                # concurrent equality delete whose seq outran our original
                # number can never mask rows appended after it
                new_seq = (
                    max(
                        (s.sequence_number for s in self.meta.snapshots),
                        default=0,
                    )
                    + 1
                )
                if new_seq != snap.sequence_number and new_manifest:
                    files = Manifest(new_manifest).files()
                    for f in files:
                        f.seq = new_seq
                    Manifest.write(new_manifest, files)
                snap.sequence_number = new_seq
                self.meta.snapshots.append(snap)
                if branch is not None:
                    self.meta.refs[branch]["snapshot_id"] = snap.snapshot_id
                else:
                    self.meta.current_snapshot_id = snap.snapshot_id
                try:
                    self.meta.commit()
                    break
                except CommitConflict:
                    continue
            else:
                raise

    # ------------------------------------------------------ maintenance --

    def alter_partition_spec(self, partition_cols: list[str]) -> None:
        """Partition evolution (the Iceberg headline feature the reference
        inherits from its Iceberg dependency): future writes lay out data
        under the NEW spec; existing files keep the spec they were written
        with. Scans stay correct because planning is per-file — each
        DataFile carries its own partition tuple (point-range stats) plus
        parquet footer min/max for every data column, so a predicate on an
        old partition column still prunes new-spec files via column stats
        and vice versa. No data rewrite happens here (metadata-only, O(1));
        ``compact()`` rewrites under the current spec, so it doubles as the
        spec-migration tool."""
        self.refresh()
        cols = [f.name for f in self.schema.fields]
        if not partition_cols:
            raise TableValidationError("managed tables must stay partitioned")
        for pc in partition_cols:
            if pc not in cols:
                raise TableValidationError(
                    f"partition column {pc!r} not in schema"
                )
        self.meta.partition_cols = list(partition_cols)
        self.meta.commit()

    # ------------------------------------------------- schema evolution --
    #
    # Iceberg-style name-independent columns: every evolution appends a new
    # schema version; data files keep the schema_id they were written under
    # and scans translate old-era column names/types to current via FIELD
    # IDS (metadata-only, O(1), no data rewrite). Field ids are never
    # reused, so ADD after DROP of the same name is a genuinely new column —
    # old files contribute NULLs and their stats can never mis-prune it.

    def _evolve(self, fields: list[T.StructField], ids: dict[str, int]) -> None:
        schema = T.StructType(fields)
        validate_schema_types(schema)
        self.meta.evolve_schema(schema.json(), ids)
        self.meta.commit()

    def add_column(self, name: str, dtype: T.DataType | str) -> None:
        """ADD COLUMN: existing rows read back NULL (no rewrite)."""
        self.refresh()
        if isinstance(dtype, str):
            dtype = T.StructType.fromDDL(f"`{name}` {dtype}")[name].dataType
        ids = dict(self.meta.field_ids_at(self.meta.current_schema_id))
        if any(n.lower() == name.lower() for n in ids):
            raise TableValidationError(f"column {name!r} already exists")
        ids[name] = self.meta.last_field_id + 1
        self._evolve(
            self.schema.fields + [T.StructField(name, dtype, True)], ids
        )

    def _guard_eq_delete_keys(self, col: str, action: str) -> None:
        """A live equality-delete rowset references key columns BY NAME;
        renaming or dropping such a column would silently break the mask.
        The contract: fold the deletes first (convert_equality_deletes),
        then evolve the schema."""
        self.refresh()
        snap = self.meta.current_snapshot()
        if snap is None:
            return
        for e in snap.eq_entries():
            if col in e.key_cols:
                raise TableValidationError(
                    f"cannot {action} column {col!r}: a live equality "
                    "delete keys on it — run convert_equality_deletes() "
                    "first"
                )

    def drop_column(self, name: str) -> None:
        """DROP COLUMN: metadata-only; the bytes stay in old files but are
        never read (parquet column pruning skips them)."""
        self.refresh()
        self._guard_eq_delete_keys(name, "drop")
        ids = dict(self.meta.field_ids_at(self.meta.current_schema_id))
        if name not in ids:
            raise TableValidationError(f"no column {name!r}")
        if name in self.meta.partition_cols:
            raise TableValidationError(
                f"cannot drop partition column {name!r}; evolve the "
                "partition spec first"
            )
        deps = self.column_dependencies
        if name in deps or any(name in v for v in deps.values()):
            raise TableValidationError(
                f"cannot drop {name!r}: referenced by columnDependencies"
            )
        if len(ids) == 1:
            raise TableValidationError("cannot drop the last column")
        del ids[name]
        self._evolve(
            [f for f in self.schema.fields if f.name != name], ids
        )

    def rename_column(self, old: str, new: str) -> None:
        """RENAME COLUMN: same field id, new name — old files' data and
        stats follow the rename through the id mapping."""
        self.refresh()
        self._guard_eq_delete_keys(old, "rename")
        ids = dict(self.meta.field_ids_at(self.meta.current_schema_id))
        if old not in ids:
            raise TableValidationError(f"no column {old!r}")
        if any(n.lower() == new.lower() for n in ids if n != old):
            raise TableValidationError(f"column {new!r} already exists")
        deps = self.column_dependencies
        if old in deps or any(old in v for v in deps.values()):
            raise TableValidationError(
                f"cannot rename {old!r}: referenced by columnDependencies"
            )
        ids[new] = ids.pop(old)
        fields = [
            T.StructField(new, f.dataType, f.nullable) if f.name == old else f
            for f in self.schema.fields
        ]
        if old in self.meta.partition_cols:
            self.meta.partition_cols = [
                new if c == old else c for c in self.meta.partition_cols
            ]
        self._evolve(fields, ids)

    # lossless widenings (Iceberg's allowed type promotions)
    _WIDENINGS = {
        ("integer", "long"),
        ("float", "double"),
    }

    def alter_column_type(self, name: str, dtype: T.DataType | str) -> None:
        """ALTER COLUMN TYPE: lossless widening only (int→bigint,
        float→double); old files are read with their written type and cast
        on the fly."""
        self.refresh()
        if isinstance(dtype, str):
            dtype = T.StructType.fromDDL(f"`{name}` {dtype}")[name].dataType
        ids = dict(self.meta.field_ids_at(self.meta.current_schema_id))
        if name not in ids:
            raise TableValidationError(f"no column {name!r}")
        cur = self.schema[name].dataType
        if cur != dtype and (
            cur.typeName(),
            dtype.typeName(),
        ) not in self._WIDENINGS:
            raise TableValidationError(
                f"cannot change {name!r} from {cur.simpleString()} to "
                f"{dtype.simpleString()}: only lossless widening "
                "(int->bigint, float->double) is supported"
            )
        fields = [
            T.StructField(f.name, dtype if f.name == name else f.dataType, f.nullable)
            for f in self.schema.fields
        ]
        self._evolve(fields, ids)

    def rename_map_for(self, schema_id: int) -> dict[str, str] | None:
        """era-name → current-name for field ids alive in both schemas, or
        None when the era IS current (identity). Strictly id-driven: a
        dead id's name never maps, so stats of dropped columns are inert."""
        cur_id = self.meta.current_schema_id
        if schema_id == cur_id:
            return None
        old_ids = self.meta.field_ids_at(schema_id)
        cur_by_id = {i: n for n, i in self.meta.field_ids_at(cur_id).items()}
        return {
            old_name: cur_by_id[fid]
            for old_name, fid in old_ids.items()
            if fid in cur_by_id
        }

    def read_files(
        self,
        files: list["DataFile"],
        with_pos: bool = False,
        with_fp: bool = False,
    ) -> DataFrame:
        """Distributed read of an explicit file list, translating each
        file's written-era schema to the current one (rename via field ids,
        widened types cast, added columns NULL-filled). Files of the
        current era take the direct single-read path — evolution costs
        nothing until it is used, and afterwards one extra read+union per
        LIVE historical era (compaction rewrites collapse eras).

        ``with_pos=True`` appends ``__fp`` (normalized file path) and
        ``__pos`` (row position within the file, ``_metadata.row_index``
        — parquet-only) — the coordinates merge-on-read position deletes
        key on. ``with_fp=True`` appends only ``__fp``
        (``_metadata.file_path``, available for every file format) —
        enough for equality-delete masking on orc/avro tables."""
        spark, schema = self.spark, self.schema
        if with_pos and self.file_format != "parquet":
            raise TableValidationError(
                "row positions need parquet (_metadata.row_index); "
                f"table format is {self.file_format}"
            )
        want_meta = with_pos or with_fp
        if not files:
            out_schema = schema
            if want_meta:
                extra = [T.StructField("__fp", T.StringType())]
                if with_pos:
                    extra.append(T.StructField("__pos", T.LongType()))
                out_schema = T.StructType(list(schema.fields) + extra)
            return _empty_typed_df(spark, out_schema)
        # Group by (schema era, path-partition constants): Hive-layout
        # imports (DataFile.path_partition) physically lack the partition
        # columns, so each distinct partition tuple becomes its own read
        # whose partition columns are filled with typed literals — group
        # count is partitions touched (bounded metadata), never file count.
        by_grp: dict[tuple, list[str]] = {}
        for f in files:
            pkey = (
                tuple(sorted(f.partition.items()))
                if f.path_partition
                else None
            )
            by_grp.setdefault((f.schema_id, pkey), []).append(f.path)
        fmt = self.file_format
        pos_cols = []
        if want_meta:
            pos_cols.append(
                _norm_file_path(F.col("_metadata.file_path")).alias("__fp")
            )
        if with_pos:
            pos_cols.append(F.col("_metadata.row_index").alias("__pos"))
        parts: list[DataFrame] = []
        # repr-sort pkey: partition values may be None (Hive default
        # partition), which tuples can't order against strings
        for sid, pkey in sorted(
            by_grp, key=lambda k: (k[0], k[1] is not None, repr(k[1]))
        ):
            grp_paths = by_grp[(sid, pkey)]
            rmap = self.rename_map_for(sid)
            era = T.StructType.fromJson(
                __import__("json").loads(self.meta.schema_json_at(sid))
            )
            part_vals = dict(pkey) if pkey is not None else {}
            if rmap is not None:
                era_alive = [
                    f
                    for f in era.fields
                    if f.name in rmap and f.name not in part_vals
                ]
                identity = pkey is None and [
                    (f.name, f.dataType) for f in era_alive
                ] == [(f.name, f.dataType) for f in schema.fields]
                inv = {v: k for k, v in rmap.items()}
            else:
                era_alive = [
                    f for f in era.fields if f.name not in part_vals
                ]
                identity = pkey is None
                inv = {f.name: f.name for f in era.fields}
            if identity:
                part = spark.read.schema(schema).format(fmt).load(grp_paths)
                if want_meta:
                    part = part.select("*", *pos_cols)
                parts.append(part)
                continue
            raw = (
                spark.read.schema(T.StructType(era_alive))
                .format(fmt)
                .load(grp_paths)
            )
            physical = {f.name for f in era_alive}
            cols = []
            for f in schema.fields:
                era_name = inv.get(f.name)
                if era_name in part_vals:
                    raw_val = part_vals[era_name]
                    typed = (
                        None
                        if raw_val is None
                        else _parse_partition_value(raw_val, f.dataType)
                    )
                    cols.append(F.lit(typed).cast(f.dataType).alias(f.name))
                elif era_name in physical:
                    cols.append(
                        F.col(era_name).cast(f.dataType).alias(f.name)
                    )
                else:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            if want_meta:
                cols.extend(pos_cols)
            parts.append(raw.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        return out

    def read_files_live(
        self, files: list["DataFile"], snapshot: Snapshot | None = None
    ) -> DataFrame:
        """``read_files`` minus merge-on-read position deletes: when any of
        ``files`` carries a delete vector in ``snapshot`` (default:
        current), rows are read WITH file/position coordinates and
        anti-joined against the DV rowset — the Iceberg v2 MoR read path
        as a Spark plan. Tables without DVs take the plain read (zero
        overhead); the anti-join's build side is the DV set, sized by
        delete churn, not table size, so AQE broadcasts it in the common
        case."""
        if snapshot is None:
            snapshot = self.meta.current_snapshot()
        if snapshot is None:
            return self.read_files(files)
        paths = {f.path for f in files}
        dvs = [e for e in snapshot.dv_entries() if e.data_path in paths]
        eqs = [
            e
            for e in snapshot.eq_entries()
            if any(f.seq < e.seq for f in files)
        ]
        if not dvs and not eqs:
            return self.read_files(files)
        # equality-delete-only masking needs just __fp (works on any
        # format); __pos (_metadata.row_index, parquet-only) is requested
        # only when position DVs actually apply
        df = self.read_files(files, with_pos=bool(dvs), with_fp=True)
        if dvs:
            dv_df = (
                self.spark.read.schema(_DV_ROWSET_SCHEMA)
                .parquet(*sorted({e.dv_path for e in dvs}))
                .select(F.col("path").alias("__fp"), F.col("pos").alias("__pos"))
            )
            df = df.join(dv_df, ["__fp", "__pos"], "left_anti")
        if eqs:
            df = self._apply_eq_deletes(df, files, eqs, snapshot.schema_id)
        return df.drop("__fp", "__pos")  # drop ignores an absent __pos

    def _apply_eq_deletes(
        self,
        df: DataFrame,
        files: list["DataFile"],
        eqs: list,
        schema_id: int | None,
    ) -> DataFrame:
        """Mask rows whose key appears in an equality-delete rowset with a
        HIGHER sequence number than the row's data file. Per key-column
        set: union the rowsets (each stamped with its entry's seq), keep
        max seq per key (one row per deleted key — the build side is
        delete churn, broadcastable), left-join on the keys and filter
        ``max_eq_seq <= file_seq`` survivors. SQL equality: NULL keys
        never match (CDC keys are non-null by construction).

        Entries key on the column names of the snapshot's schema era
        (``schema_id``); a key renamed since — legal once conversion
        cleared the entry from the current snapshot — resolves to its
        current name through the field ids."""
        spark = self.spark
        # VALUES LocalRelation (see convert_equality_deletes note): this
        # runs on EVERY masked read with eq entries — a Python-RDD local
        # frame here costs a Python-runner broadcast job per action
        seq_map = _values_local_df(
            spark, [(f.path, f.seq) for f in files],
            "__fp string, __fseq long",
        )
        df = df.join(F.broadcast(seq_map), "__fp", "left")
        by_keycols: dict[tuple, list] = {}
        for e in eqs:
            by_keycols.setdefault(tuple(e.key_cols), []).append(e)
        cur_schema = self.schema
        cur_names = set(cur_schema.names)
        rmap = self.rename_map_for(schema_id) if schema_id is not None else None
        for key_cols, entries in sorted(by_keycols.items()):
            names = [c if rmap is None else rmap.get(c) for c in key_cols]
            gone = [c for c, n in zip(key_cols, names) if n not in cur_names]
            if gone:
                raise TableValidationError(
                    f"equality delete keys {gone} of this snapshot no longer "
                    "exist in the table schema; its masked rows cannot be "
                    "resolved"
                )
            # pinned read schema — see convert_equality_deletes; this path
            # runs on EVERY masked read with eq entries, so the inference
            # job it skips repeated per entry per action
            eq_schema = T.StructType(
                [
                    T.StructField(c, cur_schema[n].dataType)
                    for c, n in zip(key_cols, names)
                ]
            )
            parts = [
                spark.read.schema(eq_schema)
                .parquet(e.eq_path)
                .select(*[F.col(c).alias(n) for c, n in zip(key_cols, names)])
                .withColumn("__eqseq", F.lit(e.seq).cast("long"))
                for e in entries
            ]
            eq_df = parts[0]
            for p in parts[1:]:
                eq_df = eq_df.unionByName(p)
            eq_df = eq_df.groupBy(*names).agg(
                F.max("__eqseq").alias("__eqseq")
            )
            df = df.join(eq_df, names, "left").filter(
                F.col("__eqseq").isNull()
                | (F.col("__eqseq") <= F.col("__fseq"))
            ).drop("__eqseq")
        return df.drop("__fseq")

    def live_row_count(self, snapshot: Snapshot | None = None) -> int:
        """Exact LIVE row count under merge-on-read masks: manifest
        record_count minus position-DV counts (exact by the writer
        dedupe invariant); when unconverted equality deletes could mask
        lower-seq files the count is not metadata-decidable, so fall
        back to one distributed count over the masked read. Used by
        TRUNCATE/DELETE row reporting so deleted_rows never overstates."""
        if snapshot is None:
            snapshot = self.meta.current_snapshot()
        if snapshot is None:
            return 0
        files = snapshot.live_files()
        if not files:
            return 0
        live_paths = {f.path for f in files}
        eqs = snapshot.eq_entries()
        if eqs:
            max_eq = max(e.seq for e in eqs)
            if any(f.seq < max_eq for f in files):
                return self.read_files_live(files, snapshot).count()
        total = sum(f.record_count for f in files)
        dv = sum(
            e.count
            for e in snapshot.dv_entries()
            if e.data_path in live_paths
        )
        return total - dv

    def set_properties(
        self,
        props: dict[str, str] | None = None,
        unset: list[str] | None = None,
    ) -> dict[str, str]:
        """ALTER TABLE SET/UNSET TBLPROPERTIES: metadata-only commit.
        Bloom properties are validated against the current schema;
        newly-enabled bloom columns apply to FUTURE writes (existing files
        gain filters on their next rewrite — compaction or DML), exactly
        like Iceberg's write-config properties. Returns the new map."""
        self.refresh()
        merged = dict(self.meta.properties)
        merged.update(props or {})
        for k in unset or []:
            merged.pop(k, None)
        # immutability is judged on EFFECTIVE values: a table relying on
        # the parquet default may SET write.format='parquet' (no-op), and
        # an explicit 'parquet' may be UNSET back to the default
        defaults = {"write.format": "parquet"}
        for k, dflt in defaults.items():
            if self.meta.properties.get(k, dflt) != merged.get(k, dflt):
                raise TableValidationError(
                    f"property {k!r} is immutable after CREATE"
                )
        if "columnDependencies" in (props or {}):
            parse_column_dependencies(
                merged["columnDependencies"],
                [f.name for f in self.schema.fields],
            )
        _validate_bloom_properties(
            merged, self.schema, self.meta.partition_cols, self.file_format
        )
        self.meta.properties.clear()
        self.meta.properties.update(merged)
        self.meta.commit()
        return dict(merged)

    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Point the table back at an earlier snapshot (Iceberg
        ``rollback_to_snapshot``): pointer move only — history and files
        are untouched, so the rolled-back-over snapshots remain
        time-travelable until expire_snapshots() GCs them."""
        self.refresh()
        snap = self.meta.snapshot_by_id(snapshot_id)
        if snap is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        self.meta.current_snapshot_id = snapshot_id
        self.meta.commit()
        return snap

    def cherrypick_snapshot(
        self,
        snapshot_id: int,
        extra_summary: dict[str, str] | None = None,
    ) -> Snapshot:
        """Apply one APPEND snapshot's added files onto the CURRENT head
        (Iceberg's ``cherrypick_snapshot``): the audit-then-publish move
        for a staged write that is not the head's direct child — e.g. a
        WAP branch commit made while main advanced. Metadata-only (no data
        IO); only 'append' snapshots are pickable, matching Iceberg — an
        overwrite's delete set may be stale against the new head."""
        self.refresh()
        src = self.meta.snapshot_by_id(snapshot_id)
        if src is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        if src.operation != "append":
            raise ValueError(
                f"cherrypick supports append snapshots only, "
                f"{snapshot_id} is {src.operation!r}"
            )
        parent = (
            self.meta.snapshot_by_id(src.parent_id)
            if src.parent_id is not None
            else None
        )
        parent_paths = (
            {f.path for f in parent.live_files()} if parent else set()
        )
        picked = [f for f in src.live_files() if f.path not in parent_paths]
        head = self.meta.current_snapshot()
        head_paths = {f.path for f in head.live_files()} if head else set()
        if any(f.path in head_paths for f in picked):
            raise ValueError(
                f"snapshot {snapshot_id} is already reachable from the "
                "current head (nothing to cherry-pick)"
            )
        return self._commit_snapshot(
            head,
            picked,
            [],
            operation="append",
            extra_summary={
                "cherry-picked-from": str(snapshot_id),
                **(extra_summary or {}),
            },
            cleanup_on_failure=False,  # picked files belong to src snapshot
        )

    def _create_ref(
        self,
        name: str,
        snapshot_id: int | None,
        kind: str,
        min_snapshots_to_keep: int | None = None,
    ) -> None:
        self.refresh()
        sid = (
            snapshot_id if snapshot_id is not None else self.meta.current_snapshot_id
        )
        if sid is None or self.meta.snapshot_by_id(sid) is None:
            raise ValueError(f"unknown snapshot {sid} for {kind} {name!r}")
        if name in self.meta.refs:
            raise ValueError(f"ref {name!r} already exists on {self.name}")
        ref: dict = {"snapshot_id": sid, "type": kind}
        if min_snapshots_to_keep is not None:
            ref["min_snapshots_to_keep"] = int(min_snapshots_to_keep)
        self.meta.refs[name] = ref
        self.meta.commit()

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Tag a snapshot with a stable name (Iceberg ``create_tag``):
        ``as of '<name>'`` resolves to it forever, and expire_snapshots
        will NOT GC it — tags turn time travel from "whatever retention
        hasn't eaten yet" into a durable contract (audit pins, model
        training-set versions)."""
        self._create_ref(name, snapshot_id, "tag")

    def create_branch(
        self,
        name: str,
        snapshot_id: int | None = None,
        min_snapshots_to_keep: int | None = None,
    ) -> None:
        """Create a WRITABLE ref (Iceberg ``create_branch``): appends with
        ``insert(df, branch=name)`` advance the branch head while the main
        pointer is untouched — the write-audit-publish staging pattern
        (write to a branch, validate its scan, ``fast_forward`` to
        publish). Branch heads are pinned against expire GC;
        ``min_snapshots_to_keep`` additionally protects that many
        snapshots of the head's ancestry from ``expire_snapshots``
        (Iceberg's per-ref branch retention policy)."""
        self._create_ref(
            name, snapshot_id, "branch",
            min_snapshots_to_keep=min_snapshots_to_keep,
        )

    def drop_ref(self, name: str) -> None:
        self.refresh()
        if name not in self.meta.refs:
            raise ValueError(f"no ref {name!r} on {self.name}")
        del self.meta.refs[name]
        self.meta.commit()

    def replace_ref(
        self,
        name: str,
        snapshot_id: int | None,
        kind: str,
        create_if_missing: bool = False,
    ) -> None:
        """Retarget an existing tag/branch at another snapshot (Iceberg's
        ``replaceTag``/``replaceBranch``, the SQL ``ALTER TABLE ...
        REPLACE TAG`` verb).  The ref keeps its retention policy fields —
        REPLACE moves the pointer, it does not reset the contract; pass
        retention explicitly via ``set_ref_retention`` to change it.
        ``create_if_missing`` is the CREATE OR REPLACE form.  Replacing a
        ref with one of the OTHER kind is refused — a tag silently
        becoming writable (or a branch becoming frozen) is a semantics
        change, not a retarget."""
        self.refresh()
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.meta.current_snapshot_id
        )
        if sid is None or self.meta.snapshot_by_id(sid) is None:
            raise ValueError(f"unknown snapshot {sid} for {kind} {name!r}")
        ref = self.meta.refs.get(name)
        if ref is None:
            if not create_if_missing:
                raise ValueError(
                    f"no {kind} {name!r} on {self.name} to replace; "
                    "use CREATE OR REPLACE"
                )
            self.meta.refs[name] = {"snapshot_id": sid, "type": kind}
        else:
            if ref.get("type") != kind:
                raise ValueError(
                    f"ref {name!r} is a {ref.get('type')}, not a {kind}"
                )
            ref["snapshot_id"] = sid
        self.meta.commit()

    def set_ref_retention(
        self,
        name: str,
        max_ref_age_ms: int | None = None,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
    ) -> None:
        """Attach Iceberg-style per-ref retention policy fields to a ref.

        ``max_ref_age_ms``: the ref ITSELF expires during
        ``expire_snapshots`` once its head snapshot is older than this
        (tags and branches; Iceberg's ``max-ref-age-ms``).
        ``min_snapshots_to_keep`` / ``max_snapshot_age_ms``: branch-only
        ancestry window — ``expire_snapshots`` keeps an ancestor while
        EITHER fewer than min-snapshots have been kept OR the ancestor is
        younger than max-snapshot-age (Iceberg's branch retention pair).
        Only the fields passed are updated; ``None`` leaves a field as-is.
        """
        self.refresh()
        if name not in self.meta.refs:
            raise ValueError(f"no ref {name!r} on {self.name}")
        ref = self.meta.refs[name]
        if max_ref_age_ms is not None:
            ref["max_ref_age_ms"] = int(max_ref_age_ms)
        if min_snapshots_to_keep is not None:
            if ref.get("type") != "branch":
                raise ValueError(
                    f"min_snapshots_to_keep applies to branches; {name!r} "
                    f"is a {ref.get('type')}"
                )
            ref["min_snapshots_to_keep"] = int(min_snapshots_to_keep)
        if max_snapshot_age_ms is not None:
            if ref.get("type") != "branch":
                raise ValueError(
                    f"max_snapshot_age_ms applies to branches; {name!r} "
                    f"is a {ref.get('type')}"
                )
            ref["max_snapshot_age_ms"] = int(max_snapshot_age_ms)
        self.meta.commit()

    # back-compat alias
    drop_tag = drop_ref

    def fast_forward(self, branch: str) -> Snapshot:
        """Publish a branch: point the main table at the branch head (the
        WAP 'publish' step — pointer move only, like rollback_to).

        Iceberg ``fast_forward`` semantics: the move is legal only while
        the CURRENT main head is an ancestor of the branch head.  If a
        concurrent writer advanced main after the branch forked, the
        pointer move would silently discard that writer's commit — so it
        raises instead (the publisher must rebase/merge, e.g. re-stage on
        a fresh branch).  Reference analogue: the optimistic-commit
        correctness rule of SparkTableOperations.scala:91-149, applied to
        ref pointers."""
        self.refresh()
        ref = self.meta.refs.get(branch)
        if ref is None or ref["type"] != "branch":
            raise ValueError(f"no branch {branch!r} on {self.name}")
        snap = self.meta.snapshot_by_id(ref["snapshot_id"])
        if snap is None:
            raise ValueError(f"branch {branch!r} head missing")
        main_head = self.meta.current_snapshot_id
        if main_head is not None:
            cur: Snapshot | None = snap
            while cur is not None and cur.snapshot_id != main_head:
                cur = (
                    self.meta.snapshot_by_id(cur.parent_id)
                    if cur.parent_id is not None
                    else None
                )
            if cur is None:
                raise ValueError(
                    f"cannot fast-forward: main ({main_head}) is not an "
                    f"ancestor of branch {branch!r} head "
                    f"({snap.snapshot_id}) — a concurrent commit advanced "
                    "main; re-stage the branch on the new head"
                )
        self.meta.current_snapshot_id = snap.snapshot_id
        self.meta.commit()
        return snap

    def compact(
        self,
        target_file_size: int = 128 * 1024 * 1024,
        min_input_files: int = 2,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_rank: bool = False,
        where: str | None = None,
    ) -> Snapshot | None:
        """Bin-pack small data files (Iceberg's ``rewrite_data_files``): per
        partition, every live file below ``target_file_size`` is rewritten
        into ~``target_file_size`` outputs when at least ``min_input_files``
        qualify. Logical content is untouched — the commit is a 'replace'
        snapshot (added = packed files, deleted = their inputs), so time
        travel to pre-compaction snapshots still sees the old layout.

        Why this matters at 100 TB: streaming ingest and per-commit write
        dirs accrete many small files; scan cost is per-file (open + footer
        + row-group seek), so a 10^6-file table that could be 10^4 files
        scans ~100× more metadata. The reference inherits this maintenance
        op from Iceberg rather than implementing it (the snapshot model —
        InsertIntoIcebergTable.scala:142-179 — is what makes it safe: old
        files are never mutated, only de-referenced).

        Scale shape: file selection is driver-side over manifest entries
        (metadata only, no data IO); the rewrite is ONE distributed job —
        read the input files, hash-repartition on the partition columns so
        each output partition is written by one task, and split oversized
        groups via ``maxRecordsPerFile`` computed from the group's observed
        bytes-per-row. Untouched files keep their manifests (manifest-reuse
        commit, same as appends).

        ``sort_by`` additionally CLUSTERS the rewrite (Iceberg
        write.sort-order / Delta OPTIMIZE ZORDER's 1-D case): rows are
        sorted on the given columns within each write task, so with
        ``maxRecordsPerFile`` splitting, consecutive output files cover
        disjoint narrow ranges of the sort key — which turns the existing
        footer-stats min/max pruning into effective file skipping on
        NON-partition columns. With sort_by set, every qualifying
        partition's files are rewritten even when already packed (the
        point is the layout, not the count), and the order is recorded in
        table properties as ``sort.order`` for later writers/auditors.

        ``zorder_by`` (mutually exclusive with sort_by) clusters on the
        INTERLEAVED-BITS Morton curve over 2+ numeric columns, so min/max
        skipping works on EVERY listed column, not just the leading one —
        a lexicographic sort on (a, b) leaves b's per-file ranges as wide
        as the data. Each column is normalized to a 16-bit rank using the
        table's OWN manifest stats (global min/max — metadata-only, no
        extra pass over the data), bits are interleaved into one bigint
        sort key, and the layout machinery is shared with sort_by. The
        normalization affects layout only, never results.

        Returns the 'replace' snapshot, or None when nothing qualified.
        Concurrent appends are safe to retry around; a concurrent overwrite
        surfaces CommitConflict (the delete set may be stale) — rerun.
        """
        if sort_by and zorder_by:
            raise TableValidationError("sort_by and zorder_by are exclusive")
        self.refresh()
        parent = self.meta.current_snapshot()
        if parent is None:
            return None
        schema = self.schema
        cols = {f.name for f in schema.fields}
        for c in (sort_by or []) + (zorder_by or []):
            if c not in cols:
                raise TableValidationError(f"cluster column {c!r} not in schema")
        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType,
        )
        for c in zorder_by or []:
            if not isinstance(schema[c].dataType, numeric):
                raise TableValidationError(
                    f"zorder_by column {c!r} must be numeric "
                    f"(got {schema[c].dataType.simpleString()})"
                )
        if zorder_by and "__zsort" in cols:
            # the rewrite projects its Morton key under this name
            raise TableValidationError(
                "zorder_by needs the column name '__zsort', which this "
                "table already uses"
            )
        cluster = sort_by or zorder_by
        # ``where`` scopes the rewrite (Iceberg rewrite_data_files' filter):
        # only files whose partition/footer stats ADMIT the predicate are
        # candidates — at 100 TB you compact yesterday's partition, not the
        # table. must_match_all additionally guards correctness: a file the
        # predicate only PARTIALLY covers is still rewritten whole (file
        # granularity), so `where` can never split a file's rows.
        candidates = parent.live_files()
        if where is not None:
            probe = self.scan(where=where)
            admitted = {f.path for f in probe.planned_files}
            candidates = [f for f in candidates if f.path in admitted]
        groups: dict[tuple, list[DataFile]] = {}
        for f in candidates:
            key = tuple(sorted(f.partition.items()))
            groups.setdefault(key, []).append(f)
        to_rewrite: list[DataFile] = []
        max_records = 1 << 62
        for files in groups.values():
            if cluster:
                # clustering rewrites the whole partition: the goal is the
                # sorted layout, not the file count
                chosen = files
            else:
                chosen = [f for f in files if f.file_size < target_file_size]
                if len(chosen) < min_input_files:
                    continue
            to_rewrite.extend(chosen)
            rows = sum(f.record_count for f in chosen)
            size = sum(f.file_size for f in chosen)
            if rows and size > target_file_size:
                # cap records-per-file so the packed output lands near the
                # target size (parquet re-encodes, so this is approximate)
                max_records = min(
                    max_records, max(1, int(rows * target_file_size / size))
                )
        if not to_rewrite:
            return None

        # live read: a merge-on-read delete vector on an input file must
        # not resurrect its rows through the rewrite (the DV entry itself
        # retires with the input file in the commit below)
        df = self.read_files_live(to_rewrite, parent)
        commit_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.meta.data_dir, commit_id)
        part_cols = self.meta.partition_cols
        write_df = df.repartition(*[F.col(c) for c in part_cols])
        for pc in part_cols:
            write_df = write_df.withColumn(PART_PREFIX + pc, F.col(pc).cast("string"))
        if cluster:
            # partition dirs first so each dir's rows are contiguous, then
            # the cluster keys: with maxRecordsPerFile splitting, each
            # output file covers a narrow sort-key range → min/max skipping
            if zorder_by and zorder_rank:
                # equi-depth bins: one approxQuantile pass over the rewrite
                # set; see _zvalue_rank_column for why skew wants this
                qs = [i / 256 for i in range(1, 256)]
                bounds = {
                    c: sorted(set(df.approxQuantile(c, qs, 1 / 1024)))
                    for c in zorder_by
                }
                keys = [_zvalue_rank_column(zorder_by, bounds)]
            elif zorder_by:
                keys = [_zvalue_column(zorder_by, _stat_ranges(to_rewrite, zorder_by))]
            else:
                keys = [F.col(c) for c in sort_by]
            if zorder_by:
                # r15 (guide §1.2 per-task work): sorting by the ~16·k-term
                # Morton EXPRESSION makes SortExec re-evaluate it per row
                # (measured 4.8 s vs 1.0 s on a 1.35M-row rewrite at
                # local[32]); project it to a column first, sort on the
                # column, drop it before the write — row order, file
                # boundaries and contents are identical.
                write_df = write_df.withColumn("__zsort", keys[0])
                write_df = write_df.sortWithinPartitions(
                    *[F.col(PART_PREFIX + pc) for pc in part_cols],
                    F.col("__zsort"),
                ).drop("__zsort")
            else:
                write_df = write_df.sortWithinPartitions(
                    *[F.col(PART_PREFIX + pc) for pc in part_cols], *keys
                )
        writer = write_df.write.mode("errorifexists").partitionBy(
            *[PART_PREFIX + pc for pc in part_cols]
        )
        if max_records < (1 << 62):
            writer = writer.option("maxRecordsPerFile", max_records)
        writer.format(self.file_format).save(out_dir)
        added = self._build_data_files(out_dir)
        if sort_by:
            self.meta.properties["sort.order"] = ",".join(sort_by)
        elif zorder_by:
            kind = "zorder_rank" if zorder_rank else "zorder"
            self.meta.properties["sort.order"] = f"{kind}({','.join(zorder_by)})"
        return self._commit_snapshot(parent, added, to_rewrite, operation="replace")

    def rewrite_position_deletes(self) -> Snapshot | None:
        """Fold merge-on-read delete vectors back into the data layout
        (Iceberg's ``rewrite_position_deletes`` + the data-file rewrite it
        enables): every DV'd data file is rewritten to its LIVE rows in one
        distributed job, the commit replaces those files, and the DV
        entries retire with them (``_commit_snapshot`` drops DV entries of
        deleted files). Live rowset is unchanged — the commit is a
        'replace' like compaction, so time travel and incremental readers
        keep their contracts, and subsequent scans are anti-join-free
        again. Run it when accumulated DVs make the read-side anti-join
        noticeable (Iceberg's guidance: deletes > ~10% of rows).

        Returns the 'replace' snapshot, or None when no DVs exist."""
        self.refresh()
        parent = self.meta.current_snapshot()
        if parent is None or not parent.dv_manifest_paths:
            return None
        dvd_paths = {e.data_path for e in parent.dv_entries()}
        targets = [f for f in parent.live_files() if f.path in dvd_paths]
        if not targets:
            return None
        live = self.read_files_live(targets, parent)
        added = self._distributed_write(live)
        return self._commit_snapshot(parent, added, targets, operation="replace")

    def rewrite_manifests(
        self, target_entries: int = 100_000, branch: str | None = None
    ) -> dict[str, int]:
        """Consolidate the current snapshot's manifest list (Iceberg's
        ``rewrite_manifests`` procedure): the live data-file set is
        re-grouped into ~``target_entries``-entry manifests and committed
        as a METADATA-ONLY 'replace' snapshot — zero data IO, identical
        rows, identical per-file sequence numbers (so merge-on-read
        equality-delete masking is unchanged), DV/eq manifests reused.

        ``branch`` scopes the rewrite to a named branch (round 7): the
        branch HEAD's manifest list is consolidated and the branch ref
        advances to the new metadata-only snapshot; main is untouched —
        the maintenance shape for long-lived staging/audit branches that
        accrete commits of their own.

        Why it matters at 100 TB: every commit appends one manifest
        (manifest-reuse keeps commits O(changes)), so a long-lived table
        accretes one manifest PER COMMIT and scan planning reads them
        all — the planning-time analogue of small-file debris that
        ``compact`` fixes for data. Time travel to pre-rewrite snapshots
        still sees the old manifest list (manifests are immutable; expire
        GCs them once unreferenced)."""
        self.refresh()
        if branch is not None:
            ref = self.meta.refs.get(branch)
            if ref is None or ref.get("type") != "branch":
                raise ValueError(f"unknown branch '{branch}'")
            parent = self.meta.snapshot_by_id(ref["snapshot_id"])
        else:
            parent = self.meta.current_snapshot()
        if parent is None:
            return {"rewritten_manifests": 0, "added_manifests": 0}
        old_n = len(parent.manifest_paths)
        files = parent.live_files()
        if old_n <= 1:
            # Iceberg's procedure reports 0/0 for a no-op: nothing was
            # rewritten and no manifest was written, so reporting the
            # surviving manifest as "added" would mislead anyone diffing
            # manifest counts across CALLs.
            return {"rewritten_manifests": 0, "added_manifests": 0}
        meta_dir = self.meta.metadata_dir
        new_paths: list[str] = []
        for i in range(0, max(len(files), 1), target_entries):
            chunk = files[i : i + target_entries]
            if not chunk:
                continue
            new_paths.append(
                Manifest.write(
                    os.path.join(
                        meta_dir, f"manifest-{uuid.uuid4().hex[:12]}.json"
                    ),
                    chunk,
                ).path
            )
        ts_ms = int(time.time() * 1000)
        if ts_ms <= parent.timestamp_ms:
            ts_ms = parent.timestamp_ms + 1
        snap = Snapshot(
            snapshot_id=int(time.time() * 1000) * 1000
            + len(self.meta.snapshots),
            parent_id=parent.snapshot_id,
            timestamp_ms=ts_ms,
            operation="replace",
            manifest_paths=new_paths,
            num_added_files=0,
            num_deleted_files=0,
            summary={
                "rewritten-manifests": str(old_n),
                "added-manifests": str(len(new_paths)),
                # live set unchanged → running totals carry over verbatim
                **{
                    k: parent.summary[k]
                    for k in (
                        "total-records",
                        "total-data-files",
                        "total-position-deletes",
                        "total-equality-deletes",
                    )
                    if k in parent.summary
                },
            },
            dv_manifest_paths=list(parent.dv_manifest_paths),
            eq_manifest_paths=list(parent.eq_manifest_paths),
            # metadata-only: data files keep their own seq values, and no
            # new files exist to need a fresh one — inherit the parent's
            sequence_number=parent.sequence_number,
            schema_id=self.meta.current_schema_id,
        )
        self.meta.snapshots.append(snap)
        if branch is not None:
            self.meta.refs[branch]["snapshot_id"] = snap.snapshot_id
        else:
            self.meta.current_snapshot_id = snap.snapshot_id
        self._commit_with_retry(snap, "replace", None, branch=branch)
        return {
            "rewritten_manifests": old_n,
            "added_manifests": len(new_paths),
        }

    def expire_snapshots(
        self,
        older_than_ms: int | None = None,
        retain_last: int = 1,
        now_ms: int | None = None,
    ) -> dict[str, int]:
        """Expire old snapshots and garbage-collect the files only they
        reference (Iceberg's ``expire_snapshots`` maintenance op).

        Retained: the current snapshot (always), the ``retain_last`` most
        recent, and — when ``older_than_ms`` is given — every snapshot
        newer than it; with ``older_than_ms=None`` the ``retain_last``
        window alone bounds retention. Expired snapshots disappear from the metadata
        (time travel to them now raises); data files and manifests reachable
        ONLY from expired snapshots are deleted from disk.

        GC is reference-counting over manifests, not file listing: the
        kept-set is the union of retained snapshots' manifest paths and
        their entries — an orphan candidate is (all manifests ∪ all data
        files of expired snapshots) − kept. At 100 TB the same set
        difference runs as a Spark anti-join over manifest DataFrames; here
        the driver-side set is bounded by live-metadata size, which the
        manifest-reuse commit model keeps proportional to actual churn.

        Returns counts: {"expired_snapshots", "deleted_data_files",
        "deleted_manifests"}.
        """
        self.refresh()
        meta = self.meta
        if not meta.snapshots:
            return {
                "expired_snapshots": 0,
                "deleted_data_files": 0,
                "deleted_manifests": 0,
            }
        by_ts = sorted(meta.snapshots, key=lambda s: s.timestamp_ms, reverse=True)
        keep_ids = {s.snapshot_id for s in by_ts[: max(retain_last, 1)]}
        if meta.current_snapshot_id is not None:
            keep_ids.add(meta.current_snapshot_id)
        # Per-ref retention FIRST (Iceberg max-ref-age-ms): a ref whose
        # head snapshot is older than its own max age expires WITH this
        # maintenance pass — its pin disappears before the keep-set is
        # built, so the snapshots it protected age out normally below.
        # ``now_ms`` exists so tests/procedures can evaluate age
        # deterministically; default is wall clock, like Iceberg.
        if now_ms is None:
            import time as _time

            now_ms = int(_time.time() * 1000)
        expired_refs = []
        for name, r in meta.refs.items():
            max_age = r.get("max_ref_age_ms")
            head = meta.snapshot_by_id(r["snapshot_id"])
            if (
                max_age is not None
                and head is not None
                and now_ms - head.timestamp_ms > int(max_age)
            ):
                expired_refs.append(name)
        for name in expired_refs:
            del meta.refs[name]
        # tagged/branched snapshots are pinned: a named ref is a durable
        # contract. Branch refs additionally protect their head's ANCESTRY
        # while EITHER fewer than min-snapshots-to-keep have been kept OR
        # the ancestor is younger than max-snapshot-age-ms (Iceberg's
        # branch-retention pair) so a branch keeps a usable history window
        # while unreferenced main-line ancestors still age out.
        for r in meta.refs.values():
            keep_ids.add(r["snapshot_id"])
            if r.get("type") == "branch":
                n_keep = max(int(r.get("min_snapshots_to_keep", 1)), 1)
                max_snap_age = r.get("max_snapshot_age_ms")
                cur = meta.snapshot_by_id(r["snapshot_id"])
                kept_n = 0
                while cur is not None and (
                    kept_n < n_keep
                    or (
                        max_snap_age is not None
                        and now_ms - cur.timestamp_ms <= int(max_snap_age)
                    )
                ):
                    keep_ids.add(cur.snapshot_id)
                    kept_n += 1
                    cur = (
                        meta.snapshot_by_id(cur.parent_id)
                        if cur.parent_id
                        else None
                    )
        if older_than_ms is not None:
            keep_ids |= {
                s.snapshot_id for s in by_ts if s.timestamp_ms > older_than_ms
            }
        retained = [s for s in meta.snapshots if s.snapshot_id in keep_ids]
        expired = [s for s in meta.snapshots if s.snapshot_id not in keep_ids]
        if not expired:
            # ref expiry alone still has to land: the pins are gone even
            # though every snapshot happened to survive this pass
            if expired_refs:
                meta.commit()
            return {
                "expired_snapshots": 0,
                "deleted_data_files": 0,
                "deleted_manifests": 0,
                "expired_refs": len(expired_refs),
            }

        kept_manifests = {p for s in retained for p in s.manifest_paths}
        kept_data = {f.path for s in retained for f in s.live_files()}
        dead_manifests = {
            p for s in expired for p in s.manifest_paths if p not in kept_manifests
        }
        # GC only deletes files WE own (under this table's data dir):
        # files adopted zero-copy via add_files/register_data_files live
        # in the SOURCE table's tree (or out-of-tree), so a clone-side
        # overwrite + expire must never os.remove the source's live data
        # — the cleanup_on_failure=False rule, applied to GC (r14 ADVICE)
        own = os.path.join(os.path.realpath(meta.data_dir), "")
        dead_data = {
            f.path
            for p in dead_manifests
            for f in Manifest(p).files()
            if f.path not in kept_data
            and os.path.realpath(f.path).startswith(own)
        }

        # merge-on-read debris GC: DV/eq MANIFESTS referenced only by
        # expired snapshots die, and their PAYLOADS (parquet rowset dirs —
        # shareable across consolidated manifests) die when no kept
        # manifest entry references them
        from icebergsql_spark.catalog.metadata import DVManifest, EqManifest

        kept_dvm = {p for s in retained for p in s.dv_manifest_paths}
        dead_dvm = {
            p
            for s in expired
            for p in s.dv_manifest_paths
            if p not in kept_dvm
        }
        kept_dv_payloads = {
            e.dv_path for p in kept_dvm for e in DVManifest(p).entries()
        }
        dead_dv_payloads = {
            e.dv_path
            for p in dead_dvm
            for e in DVManifest(p).entries()
            if e.dv_path not in kept_dv_payloads
        }
        kept_eqm = {p for s in retained for p in s.eq_manifest_paths}
        dead_eqm = {
            p
            for s in expired
            for p in s.eq_manifest_paths
            if p not in kept_eqm
        }
        kept_eq_payloads = {
            e.eq_path for p in kept_eqm for e in EqManifest(p).entries()
        }
        dead_eq_payloads = {
            e.eq_path
            for p in dead_eqm
            for e in EqManifest(p).entries()
            if e.eq_path not in kept_eq_payloads
        }

        # metadata first: once the new version lands, no reader can resolve
        # an expired snapshot, so the file deletes below can't break a scan
        # (readers of OLD metadata versions race — same caveat as Iceberg)
        meta.snapshots = retained
        meta.commit()

        deleted_files = 0
        for path in sorted(dead_data):
            try:
                os.remove(path)
                deleted_files += 1
            except FileNotFoundError:
                pass
        deleted_manifests = 0
        for path in sorted(dead_manifests):
            try:
                os.remove(path)
                deleted_manifests += 1
            except FileNotFoundError:
                pass
        import shutil as _shutil

        deleted_delete_files = 0
        for path in sorted(dead_dvm | dead_eqm):
            try:
                os.remove(path)
                deleted_delete_files += 1
            except FileNotFoundError:
                pass
        for d in sorted(dead_dv_payloads | dead_eq_payloads):
            _shutil.rmtree(d, ignore_errors=True)
            deleted_delete_files += 1
        # prune now-empty commit directories so data/ doesn't accrete husks
        for d in os.listdir(meta.data_dir):
            full = os.path.join(meta.data_dir, d)
            for root, dirs, files in os.walk(full, topdown=False):
                if not files and not os.listdir(root):
                    os.rmdir(root)
        return {
            "expired_snapshots": len(expired),
            "deleted_data_files": deleted_files,
            "deleted_manifests": deleted_manifests,
            "deleted_delete_files": deleted_delete_files,
            "expired_refs": len(expired_refs),
        }

    def remove_orphan_files(
        self, older_than_s: float = 3 * 24 * 3600, distributed: bool = False
    ) -> int:
        """Delete data files on disk referenced by NO snapshot (Iceberg's
        ``remove_orphan_files`` maintenance op) — the debris of failed or
        abandoned writes, which commit-then-rename protocols leave behind
        and which ``expire_snapshots`` (reference-counting over metadata)
        can never see.

        Safety: only files older than ``older_than_s`` (mtime grace window,
        default 3 days like Iceberg) are removed, so an in-flight write's
        not-yet-committed files survive. The referenced-set spans ALL
        snapshots (not just live ones) — time travel stays intact.

        ``distributed=True`` runs the 100 TB shape end-to-end: per-commit
        data subdirectories fan out to executors for the walk
        (``mapInPandas`` over the subdir list — file listing is the
        bottleneck on object stores, not the anti-join), the referenced
        set becomes a DataFrame joined ``left_anti`` against the listing,
        and deletion happens executor-side per partition. The default
        driver-side walk remains for small tables, whose directory size
        the per-commit layout keeps proportional to table churn.

        Returns the number of files deleted.
        """
        import time as _time

        self.refresh()
        cutoff = _time.time() - older_than_s
        if distributed:
            # the referenced set is NEVER materialized on the driver: only
            # the manifest-path list (metadata-of-metadata sized) ships;
            # executors parse manifests into the reference DataFrame
            return self._remove_orphans_distributed(cutoff)
        referenced = {
            f.path for s in self.meta.snapshots for f in s.live_files()
        }
        # deleted-but-still-tracked entries (overwritten files kept for
        # time travel) are also referenced: walk every manifest entry
        for s in self.meta.snapshots:
            for p in s.manifest_paths:
                referenced |= {f.path for f in Manifest(p).files()}
        removed = 0
        for root, _dirs, files in os.walk(self.meta.data_dir):
            for fn in files:
                full = os.path.join(root, fn)
                if full in referenced:
                    continue
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue
                    os.remove(full)
                    removed += 1
                except FileNotFoundError:
                    continue
        for root, dirs, files in os.walk(self.meta.data_dir, topdown=False):
            if root != self.meta.data_dir and not files and not os.listdir(root):
                os.rmdir(root)
        return removed

    def _remove_orphans_distributed(self, cutoff: float) -> int:
        """Executor-side orphan sweep: distributed listing → anti-join
        against the manifest-referenced paths → distributed delete.

        The listing fans out one per-commit data subdirectory per input
        row (`os.walk` inside `mapInPandas`). The referenced set is built
        WITHOUT driver materialization: the driver ships only the
        manifest-path list (one row per manifest — metadata-of-metadata
        sized) and executors parse each manifest into its file paths, so
        at 10^8 files no Python set of per-file paths ever exists on the
        driver. The listing↔referenced set difference is a plain
        anti-join; AQE broadcasts the reference side when it is small and
        falls back to a shuffle join when it is not. Deletion runs where
        the listing rows already live.
        """
        import pandas as pd

        subdirs = sorted(
            os.path.join(self.meta.data_dir, d)
            for d in os.listdir(self.meta.data_dir)
            if os.path.isdir(os.path.join(self.meta.data_dir, d))
        )
        if not subdirs:
            return 0
        spark = self.spark

        manifest_paths = sorted(
            {p for s in self.meta.snapshots for p in s.manifest_paths}
        )

        def read_manifests(batches):
            # executors import the metadata layer themselves — the
            # closure must not capture a driver-side Manifest object
            from icebergsql_spark.catalog.metadata import (
                Manifest as _Manifest,
            )

            for pdf in batches:
                rows = []
                for mp in pdf["mpath"]:
                    rows.extend((f.path,) for f in _Manifest(mp).files())
                yield pd.DataFrame(rows, columns=["path"])

        if manifest_paths:
            ref_df = (
                spark.createDataFrame(
                    [(p,) for p in manifest_paths], "mpath string"
                )
                .repartition(min(len(manifest_paths), 32))
                .mapInPandas(read_manifests, "path string")
                .distinct()
            )
        else:
            ref_df = spark.createDataFrame([], "path string")

        def list_files(batches):
            for pdf in batches:
                rows = []
                for root_dir in pdf["root"]:
                    for r, _d, files in os.walk(root_dir):
                        for fn in files:
                            full = os.path.join(r, fn)
                            try:
                                mtime = os.path.getmtime(full)
                            except FileNotFoundError:
                                continue
                            rows.append((full, mtime))
                yield pd.DataFrame(rows, columns=["path", "mtime"])

        listing = (
            spark.createDataFrame([(d,) for d in subdirs], "root string")
            .repartition(min(len(subdirs), 32))
            .mapInPandas(list_files, "path string, mtime double")
        )
        # no broadcast hint: AQE broadcasts the churn-sized reference set
        # itself; at 10^8 referenced files this degrades to a shuffle
        # anti-join instead of OOMing the driver
        orphans = listing.filter(F.col("mtime") <= cutoff).join(
            ref_df, "path", "left_anti"
        )

        def delete_files(batches):
            for pdf in batches:
                n = 0
                for p in pdf["path"]:
                    try:
                        os.remove(p)
                        n += 1
                    except FileNotFoundError:
                        pass
                yield pd.DataFrame({"n": [n]})

        removed = int(
            orphans.mapInPandas(delete_files, "n long")
            .agg(F.coalesce(F.sum("n"), F.lit(0)))
            .collect()[0][0]
        )
        for root, dirs, files in os.walk(self.meta.data_dir, topdown=False):
            if root != self.meta.data_dir and not files and not os.listdir(root):
                os.rmdir(root)
        return removed

    # ------------------------------------------------------------ reads --

    def scan(
        self,
        where: str | None = None,
        as_of_millis: int | None = None,
        snapshot_id: int | None = None,
        ref: str | None = None,
    ) -> "ManagedScan":
        self.refresh()
        if ref is not None:
            if ref not in self.meta.refs:
                raise ValueError(f"no ref {ref!r} on {self.name}")
            snapshot_id = self.meta.refs[ref]["snapshot_id"]
        if snapshot_id is not None:
            snap = self.meta.snapshot_by_id(snapshot_id)
            if snap is None:
                raise ValueError(f"unknown snapshot {snapshot_id}")
        elif as_of_millis is not None:
            snap = self.meta.snapshot_as_of(as_of_millis)
            if snap is None:
                raise ValueError(
                    f"no snapshot at or before {as_of_millis} for {self.name}"
                )
        else:
            snap = self.meta.current_snapshot()
        return ManagedScan(self, snap, where)

    def to_df(self, **scan_kwargs) -> DataFrame:
        return self.scan(**scan_kwargs).dataframe()

    def changes(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Incremental read: the rows appended AFTER ``from_snapshot_id``
        up to ``to_snapshot_id`` (default: current) — Iceberg's incremental
        append scan, the batch twin of streaming ingestion. A consumer
        checkpoints the last snapshot id it processed and reads only the
        delta — at 100 TB this is THE pattern for downstream pipelines
        (dedup refresh, index builds) to avoid full rescans.

        Valid across ``append`` snapshots and rowset-preserving ``replace``
        snapshots (compaction / sort / z-order rewrites): a replace changes
        file layout but not content, so the chain hops over it and the
        delta is the union of each append snapshot's own added files —
        which remain on disk (the commit protocol never deletes data files)
        even after a later compaction absorbed them into new live files.
        An overwrite/delete in the range genuinely rewrites rows, so this
        raises ValueError and the consumer must fall back to a full diff —
        same contract as Iceberg's incremental append scan. The file-set
        logic lives in ``catalog.metadata.added_files_between`` (shared
        with the streaming data source, whose offsets are snapshot ids)."""
        self.refresh()
        return self.read_files(
            added_files_between(self.meta, from_snapshot_id, to_snapshot_id)
        )

    def diff(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """Row-level CDC between two snapshots (Iceberg's changelog scan
        for copy-on-write tables): every row of the ``to`` snapshot's state
        not in ``from``'s, and vice versa, labeled ``_change_type`` in
        {'insert', 'delete', 'update_preimage', 'update_postimage'}.

        Works across ANY history — appends, overwrites, DML, compactions —
        because it diffs STATE, not operations; it is the fallback
        ``changes()`` points to when the snapshot range rewrites rows.

        Scale shape: files live in BOTH snapshots are skipped outright
        (copy-on-write means identical content), so IO is proportional to
        churn, not table size — after one UPDATE on a 100 TB table only
        the rewritten files and their predecessors are read. The compare
        itself is one full outer join: on ``key_cols`` when given (rows
        whose key persists but whose payload changed become update
        pre/post images), else on whole-row identity (pure insert/delete
        semantics, duplicate rows handled by symmetric count difference).
        """
        self.refresh()
        from_snap = self.meta.snapshot_by_id(from_snapshot_id)
        if from_snap is None:
            raise ValueError(f"unknown snapshot {from_snapshot_id}")
        if to_snapshot_id is None:
            to_snap = self.meta.current_snapshot()
        else:
            to_snap = self.meta.snapshot_by_id(to_snapshot_id)
        if to_snap is None:
            raise ValueError(f"unknown snapshot {to_snapshot_id}")
        old_files = {f.path: f for f in from_snap.live_files()}
        new_files = {f.path: f for f in to_snap.live_files()}
        old_only = [f for p, f in sorted(old_files.items()) if p not in new_files]
        new_only = [f for p, f in sorted(new_files.items()) if p not in old_files]
        # a COMMON file whose delete-vector set changed between the two
        # snapshots has different LIVE rows on each side — include it in
        # both reads (each side read under its own snapshot's DVs), else a
        # merge-on-read delete would be invisible to the changelog
        dv_sig_old: dict[str, frozenset] = {}
        dv_sig_new: dict[str, frozenset] = {}
        for snap, sig in ((from_snap, dv_sig_old), (to_snap, dv_sig_new)):
            for e in snap.dv_entries():
                sig[e.data_path] = sig.get(e.data_path, frozenset()) | {
                    (e.dv_path, e.count)
                }
        added_common: set[str] = set()
        for p in sorted(set(old_files) & set(new_files)):
            if dv_sig_old.get(p) != dv_sig_new.get(p):
                old_only.append(old_files[p])
                new_only.append(new_files[p])
                added_common.add(p)
        # equality deletes are seq-scoped, not file-scoped: if the eq set
        # changed, ANY common file below the new max seq may have lost
        # rows — include all of them (conservative; IO ∝ table only when
        # eq deletes landed between the snapshots, churn-bounded otherwise)
        eq_old = {(e.eq_path, e.seq) for e in from_snap.eq_entries()}
        eq_new = {(e.eq_path, e.seq) for e in to_snap.eq_entries()}
        if eq_old != eq_new:
            for p in sorted((set(old_files) & set(new_files)) - added_common):
                old_only.append(old_files[p])
                new_only.append(new_files[p])
        cols = [f.name for f in self.schema.fields]
        old_df = self.read_files_live(old_only, from_snap)
        new_df = self.read_files_live(new_only, to_snap)
        if not key_cols:
            # whole-row diff with multiplicity: count per row each side,
            # emit |delta| copies labeled insert/delete
            oc = old_df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n_old"))
            nc = new_df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n_new"))
            j = oc.join(nc, cols, "full_outer").select(
                *cols,
                F.coalesce(F.col("__n_old"), F.lit(0)).alias("__n_old"),
                F.coalesce(F.col("__n_new"), F.lit(0)).alias("__n_new"),
            )
            delta = j.withColumn("__d", F.col("__n_new") - F.col("__n_old")).filter(
                F.col("__d") != 0
            )
            return delta.select(
                *cols,
                F.when(F.col("__d") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                F.abs(F.col("__d")).alias("_change_count"),
            )
        for k in key_cols:
            if k not in cols:
                raise ValueError(f"diff key {k!r} not in schema")
        # keyed mode assumes key_cols uniquely identify a row per snapshot;
        # a duplicate key would cross-product the full-outer join and emit
        # multiplied pre/post images. Same cardinality rule as merge(),
        # checked in ONE job over only the churned files (side-tagged
        # union), so cost stays proportional to churn.
        dup = (
            old_df.select(*key_cols).withColumn("__side", F.lit("from"))
            .unionByName(
                new_df.select(*key_cols).withColumn("__side", F.lit("to"))
            )
            .groupBy("__side", *key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"diff(key_cols={key_cols}) found duplicate keys in the "
                "changed files — keys must be unique per snapshot for keyed "
                "CDC; use key_cols=None for whole-row multiplicity semantics"
            )
        payload = [c for c in cols if c not in key_cols]
        fp = F.md5(
            F.concat_ws(
                "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x02"))
                          for c in payload]
            )
        )
        o = old_df.withColumn("__fp", fp).alias("o")
        n = new_df.withColumn("__fp", fp).alias("n")
        j = o.join(n, key_cols, "full_outer")
        # all four change types emitted in ONE pass over the join: a
        # 4-way unionAll of filtered selects re-references the join (and
        # the churned-file reads feeding it) once per branch — 4x the IO
        # and the join work. A full-outer row is instead mapped to 0-2
        # output structs (insert | delete | update pre+post | unchanged)
        # and exploded; explode drops the NULL (unchanged) rows. Row set
        # and schema are identical to the union formulation.
        def _img(side: str, label: str):
            return F.struct(
                *[F.col(f"{side}.{c}").alias(c) for c in payload],
                F.lit(label).alias("_change_type"),
            )

        events = (
            F.when(F.col("o.__fp").isNull(), F.array(_img("n", "insert")))
            .when(F.col("n.__fp").isNull(), F.array(_img("o", "delete")))
            .when(
                F.col("o.__fp") != F.col("n.__fp"),
                F.array(
                    _img("o", "update_preimage"),
                    _img("n", "update_postimage"),
                ),
            )
        )
        return j.select(
            *key_cols, F.explode(events).alias("__ev")
        ).select(*key_cols, "__ev.*")

    def snapshots_df(self) -> DataFrame:
        """The `<table>$snapshots` view: the reference's exact 6-column
        legacy schema as a PREFIX — including the `numdDeletedFiles` typo
        and parentId = -1 for the root snapshot
        (utils/TableUtils.scala:48-103) — extended with `schemaId`, the
        table schema id in effect when the snapshot committed (Iceberg
        spec's snapshot `schema-id`; -1 for pre-field metadata written
        before schema ids were recorded).  Joinable against `$history` /
        `$lineage` to audit which commits straddle a schema change."""
        rows = [
            (
                s.snapshot_id,
                s.parent_id if s.parent_id is not None else -1,
                s.timestamp_ms,
                s.num_added_files,
                s.num_deleted_files,
                s.manifest_paths[-1] if s.manifest_paths else "",
                s.schema_id if s.schema_id is not None else -1,
            )
            for s in self.meta.snapshots
        ]
        schema = (
            "id long, parentId long, timeMillis long, numAddedFiles int, "
            "numdDeletedFiles int, manifestListLocation string, "
            "schemaId int"
        )
        return _values_local_df(self.spark, rows, schema)

    def history_df(self) -> DataFrame:
        """The `<table>$history` view (Iceberg ``db.tbl.history``): commit
        log with operation + ancestor flag. ``is_current_ancestor`` tells a
        rolled-over lineage from the published one — the column an auditor
        reads after a rollback."""
        cur = self.meta.current_snapshot_id
        ancestors = set()
        sid = cur
        while sid is not None:
            s = self.meta.snapshot_by_id(sid)
            if s is None or s.snapshot_id in ancestors:
                break
            ancestors.add(s.snapshot_id)
            sid = s.parent_id
        rows = [
            (
                s.timestamp_ms,
                s.snapshot_id,
                s.parent_id if s.parent_id is not None else -1,
                s.operation,
                s.snapshot_id in ancestors,
                int(s.summary.get("total-records", -1)),
                int(s.summary.get("total-data-files", -1)),
                int(s.summary.get("total-position-deletes", -1)),
                int(s.summary.get("total-equality-deletes", -1)),
            )
            for s in self.meta.snapshots
        ]
        return _values_local_df(self.spark, 
            rows,
            "made_current_at long, snapshot_id long, parent_id long, "
            "operation string, is_current_ancestor boolean, "
            # running snapshot-summary totals (round 7): raw data-file
            # records/files plus delete-file record totals per snapshot —
            # the counters a table monitor trends; -1 = pre-totals metadata
            "total_records long, total_data_files long, "
            "total_position_deletes long, total_equality_deletes long",
        )

    def lineage_df(self) -> DataFrame:
        """The `<table>$lineage` view: the ancestor CLOSURE of every
        snapshot — one row per (snapshot, ancestor) pair with the hop
        ``depth`` (0 = the snapshot itself), the ancestor's timestamp,
        and ``is_current`` marking the current head's rows. Filtering
        ``is_current`` reproduces ``CALL ancestors_of`` exactly (same
        walk, sql.py:1333), but as a JOINABLE relation: lineage x
        `$history` answers "which commits feed this snapshot" per
        snapshot in one query — the export an audit pipeline snapshots
        out of the catalog. Bounded metadata: |snapshots| x chain depth
        rows, independent of data volume."""
        cur = self.meta.current_snapshot_id
        by_id = {s.snapshot_id: s for s in self.meta.snapshots}
        rows = []
        for s in self.meta.snapshots:
            sid, depth, seen = s.snapshot_id, 0, set()
            while sid is not None and sid not in seen and sid in by_id:
                seen.add(sid)
                anc = by_id[sid]
                rows.append(
                    (
                        s.snapshot_id,
                        anc.snapshot_id,
                        depth,
                        anc.timestamp_ms,
                        s.snapshot_id == cur,
                    )
                )
                sid, depth = anc.parent_id, depth + 1
        return _values_local_df(self.spark, 
            rows,
            "snapshot_id long, ancestor_id long, depth int, "
            "ancestor_timestamp long, is_current boolean",
        )

    def manifests_df(self) -> DataFrame:
        """The `<table>$manifests` view (Iceberg ``db.tbl.manifests``):
        current snapshot's manifest list with per-manifest file/row
        accounting — the metadata-layer skew check (a manifest with 10^6
        entries is the planning hotspot compaction should fold)."""
        snap = self.meta.current_snapshot()
        rows = []
        for p in snap.manifest_paths if snap else []:
            files = Manifest(p).files()
            rows.append(
                (
                    p,
                    os.path.getsize(p),
                    len(files),
                    sum(f.record_count for f in files),
                    sum(f.file_size for f in files),
                )
            )
        return _values_local_df(self.spark, 
            rows,
            "path string, length long, added_data_files_count int, "
            "record_count long, data_size long",
        )

    def delete_files_df(self) -> DataFrame:
        """The `<table>$delete_files` view (Iceberg ``db.tbl.delete_files``
        metadata table): the current snapshot's merge-on-read delete
        manifests — one row per position-delete vector (content
        'position_deletes', referencing its data file) and per
        equality-delete rowset (content 'equality_deletes', carrying the
        key columns and the sequence number below which data files are
        masked). The MoR debugging surface: ``SELECT content, COUNT(*),
        SUM(record_count) FROM t$delete_files GROUP BY content`` shows how
        much delete debris maintenance should fold."""
        snap = self.meta.current_snapshot()
        rows: list[tuple] = []
        for e in snap.dv_entries() if snap else []:
            rows.append(
                (
                    "position_deletes",
                    e.dv_path,
                    e.data_path,
                    None,
                    e.count,
                    None,
                )
            )
        for e in snap.eq_entries() if snap else []:
            rows.append(
                (
                    "equality_deletes",
                    e.eq_path,
                    None,
                    ",".join(e.key_cols),
                    e.count,
                    e.seq,
                )
            )
        return _values_local_df(self.spark, 
            rows,
            "content string, file_path string, referenced_data_file string, "
            "equality_ids string, record_count long, sequence_number long",
        )

    def refs_df(self) -> DataFrame:
        """The `<table>$refs` view: named refs → pinned snapshot + type,
        plus the per-ref retention policy (min_snapshots_to_keep /
        max_snapshot_age_ms for branches, max_ref_age_ms for any ref;
        NULL where unset — Iceberg's ``refs`` metadata table columns)."""
        rows = [
            (
                name,
                r["snapshot_id"],
                r["type"],
                (
                    int(r["min_snapshots_to_keep"])
                    if "min_snapshots_to_keep" in r
                    else None
                ),
                (
                    int(r["max_snapshot_age_ms"])
                    if "max_snapshot_age_ms" in r
                    else None
                ),
                (
                    int(r["max_ref_age_ms"])
                    if "max_ref_age_ms" in r
                    else None
                ),
            )
            for name, r in sorted(self.meta.refs.items())
        ]
        return _values_local_df(self.spark, 
            rows,
            "name string, snapshotId long, type string, "
            "minSnapshotsToKeep int, maxSnapshotAgeMs long, "
            "maxRefAgeMs long",
        )

    def metadata_log_df(self) -> DataFrame:
        """The `<table>$metadata_log` view (Iceberg ``metadata_log_entries``):
        one row per metadata.json version ever committed — the audit trail
        of the METADATA pointer itself, distinct from `$history` (which
        tracks the snapshot lineage): timestamp, file, the snapshot/schema/
        sequence state that version made current. Reads only the bounded
        metadata directory; no data files are touched."""
        import glob as _glob
        import json as _json

        rows = []
        for path in sorted(
            _glob.glob(os.path.join(self.meta.metadata_dir, "v*.metadata.json")),
            key=lambda p: int(
                os.path.basename(p).split(".")[0].lstrip("v")
            ),
        ):
            with open(path) as fh:
                d = _json.load(fh)
            snaps = d.get("snapshots", [])
            rows.append(
                (
                    int(d.get("last_updated_ms", 0)),
                    path,
                    d.get("current_snapshot_id"),
                    max(len(d.get("schemas", [])) - 1, 0),
                    max(
                        (int(s.get("seq", 0)) for s in snaps),
                        default=0,
                    ),
                )
            )
        return _values_local_df(self.spark, 
            rows,
            "timestamp_ms long, file string, latest_snapshot_id long, "
            "latest_schema_id int, latest_sequence_number long",
        )

    def files_df(self) -> DataFrame:
        """Metadata table of live data files (Iceberg `db.tbl.files`-style);
        replaces the reference's reflection-based test introspection
        (utils/utils.scala:43-69)."""
        snap = self.meta.current_snapshot()
        dv_counts: dict[str, int] = {}
        for e in snap.dv_entries() if snap else []:
            dv_counts[e.data_path] = dv_counts.get(e.data_path, 0) + e.count
        rows = [
            (
                f.path,
                __import__("json").dumps(f.partition),
                f.record_count,
                f.file_size,
                dv_counts.get(f.path, 0),
            )
            for f in (snap.live_files() if snap else [])
        ]
        return _values_local_df(self.spark, 
            rows,
            "file_path string, partition string, record_count long, "
            "file_size long, position_deletes long",
        )

    def partitions_df(self) -> DataFrame:
        """Metadata table of live partitions (Iceberg `db.tbl.partitions`-
        style): per-partition file/record/byte totals aggregated from the
        manifest list — answers "how skewed is this table?" without
        touching a single data file."""
        snap = self.meta.current_snapshot()
        dv_counts: dict[str, int] = {}
        for e in snap.dv_entries() if snap else []:
            dv_counts[e.data_path] = dv_counts.get(e.data_path, 0) + e.count
        agg: dict[str, list[int]] = {}
        for f in snap.live_files() if snap else []:
            key = __import__("json").dumps(f.partition, sort_keys=True)
            a = agg.setdefault(key, [0, 0, 0, 0])
            a[0] += 1
            a[1] += f.record_count
            a[2] += f.file_size
            a[3] += dv_counts.get(f.path, 0)
        rows = [(k, v[0], v[1], v[2], v[3]) for k, v in sorted(agg.items())]
        return _values_local_df(self.spark, 
            rows,
            "partition string, file_count long, record_count long, "
            "total_size long, position_deletes long",
        )

    def entries_df(self) -> DataFrame:
        """The `<table>$entries` view (Iceberg ``db.tbl.entries`` metadata
        table): one row per manifest ENTRY of the current snapshot, with
        Iceberg's status encoding — 1 = ADDED by this snapshot (the file's
        data sequence number equals the snapshot's), 0 = EXISTING (carried
        forward from an earlier commit via manifest reuse). ``snapshot_id``
        is the commit that added the file, recovered from the 1:1
        sequence-number → snapshot mapping the commit protocol maintains
        (`_commit_snapshot` derives seq as max(history)+1; cherry-picked
        files keep their SOURCE seq, so they resolve to the staging commit
        that wrote them — the honest provenance). Reference analogue: the
        `$snapshots` suffix-view convention, parsing/IceParser.scala:91-106."""
        snap = self.meta.current_snapshot()
        # seq → the FIRST snapshot that introduced it: metadata-only
        # 'replace' snapshots (rewrite_manifests) reuse their parent's
        # sequence number, so a last-wins map would attribute the parent
        # commit's files to a snapshot that added nothing
        seq_to_snap: dict[int, int] = {}
        for s in self.meta.snapshots:
            seq_to_snap.setdefault(s.sequence_number, s.snapshot_id)
        # status is judged against the latest DATA-BEARING ancestor's seq:
        # a METADATA-ONLY replace (rewrite_manifests — zero files added,
        # parent seq reused) added nothing, so its parent's commit keeps
        # the ADDED attribution. A compaction replace ADDS files under a
        # fresh seq and is data-bearing, so the walk stops there.
        ref = snap
        while (
            ref is not None
            and ref.operation == "replace"
            and ref.num_added_files == 0
            and ref.parent_id
        ):
            ref = self.meta.snapshot_by_id(ref.parent_id)
        data_seq = ref.sequence_number if ref is not None else -1
        rows = []
        for mp in snap.manifest_paths if snap else []:
            for f in Manifest(mp).files():
                rows.append(
                    (
                        1 if data_seq == f.seq else 0,
                        seq_to_snap.get(f.seq, -1),
                        f.seq,
                        mp,
                        f.path,
                        __import__("json").dumps(f.partition, sort_keys=True),
                        f.record_count,
                        f.file_size,
                    )
                )
        return _values_local_df(self.spark, 
            rows,
            "status int, snapshot_id long, sequence_number long, "
            "manifest_path string, file_path string, partition string, "
            "record_count long, file_size long",
        )

    def all_files_df(self) -> DataFrame:
        """The `<table>$all_files` view (Iceberg ``db.tbl.all_files``):
        every file referenced by ANY retained snapshot — data files plus
        position/equality delete files — deduplicated by path, each labeled
        with Iceberg's content kind and whether the CURRENT snapshot still
        references it. The audit surface for storage accounting: non-live
        rows are exactly what ``expire_snapshots`` would GC once their
        snapshots age out, and per-content sums must reconcile with
        `$manifests` (live data) and `$delete_files` (live deletes) — the
        invariant the managed_all_files_audit gate locks."""
        cur = self.meta.current_snapshot()
        live_data = {f.path for f in (cur.live_files() if cur else [])}
        live_dv = {e.dv_path for e in (cur.dv_entries() if cur else [])}
        live_eq = {e.eq_path for e in (cur.eq_entries() if cur else [])}
        seen: dict[str, tuple] = {}
        for s in self.meta.snapshots:
            for f in s.live_files():
                seen.setdefault(
                    f.path,
                    (
                        "data",
                        f.path,
                        f.record_count,
                        f.file_size,
                        f.seq,
                        f.path in live_data,
                    ),
                )
            for e in s.dv_entries():
                # one physical DV parquet serves every data file of its
                # commit (an entry per data file, shared dv_path) — dedupe
                # per (dv file, data file) so counts sum, not collapse
                seen.setdefault(
                    (e.dv_path, e.data_path),
                    (
                        "position_deletes",
                        e.dv_path,
                        e.count,
                        None,
                        None,
                        e.dv_path in live_dv,
                    ),
                )
            for e in s.eq_entries():
                seen.setdefault(
                    e.eq_path,
                    (
                        "equality_deletes",
                        e.eq_path,
                        e.count,
                        None,
                        e.seq,
                        e.eq_path in live_eq,
                    ),
                )
        rows = sorted(seen.values(), key=lambda r: (r[0], r[1]))
        return _values_local_df(self.spark, 
            rows,
            "content string, file_path string, record_count long, "
            "file_size long, sequence_number long, is_live boolean",
        )


def _norm_file_path(col):
    """``_metadata.file_path`` arrives as a URI (``file:///tmp/x``) while
    DataFile paths are plain local paths — strip the local-fs scheme so the
    two key spaces match. Remote schemes (s3://, hdfs://) pass through
    untouched: there the table metadata stores the same URI form the
    reader reports."""
    return F.regexp_replace(col, "^file:/+", "/")


class ManagedScan:
    """A planned scan: snapshot + predicate → explicit pruned file list.

    File planning happens on the driver (like IceTableScanExec.
    updateSelectedPartitions, IceTableScanExec.scala:98-115); execution is a
    distributed parquet read over the surviving files with the original
    filter re-applied, so pruning can never change results — only skip IO.
    """

    def __init__(self, table: ManagedTable, snapshot: Snapshot | None, where: str | None):
        self.table = table
        self.snapshot = snapshot
        self.where = where
        self.predicate: Pred = parse_predicate_lenient(where) if where else AlwaysTrue()
        self.augmented: Pred = augment_predicate(
            self.predicate, table.column_dependencies
        )
        # per-scan memo of values every file's pruning stats need: the
        # table schema (a JSON parse per access) and the rename map per
        # schema era (a walk of two field-id maps per call)
        self._schema = table.schema
        self._rmaps: dict[int, dict[str, str] | None] = {}
        self.planned_files: list[DataFile] = self._plan()

    def _pruning_stats(self, f: DataFile) -> dict[str, ColStats]:
        """Footer + partition point-range stats under CURRENT column names:
        an old-era file's stat keys are translated via the field-id rename
        map; stats of dropped columns (dead ids) are discarded, so a
        re-added name can never be mis-pruned by a dead column's bounds."""
        schema = self._schema
        if f.schema_id not in self._rmaps:
            self._rmaps[f.schema_id] = self.table.rename_map_for(f.schema_id)
        rmap = self._rmaps[f.schema_id]
        if rmap is None:
            stats = dict(f.stats)
        else:
            stats = {rmap[c]: s for c, s in f.stats.items() if c in rmap}
        # partition dir values are exact: encode as point-range stats
        for pc, raw in f.partition.items():
            if rmap is not None:
                pc = rmap.get(pc)
                if pc is None:
                    continue  # partition column since dropped
            if raw is None:
                stats[pc] = ColStats(None, None, f.record_count, f.record_count)
            else:
                typed = _parse_partition_value(raw, schema[pc].dataType)
                stats[pc] = ColStats(typed, typed, 0, f.record_count)
        return stats

    def _plan(self) -> list[DataFile]:
        if self.snapshot is None:
            return []
        files = self.snapshot.live_files()
        if isinstance(self.augmented, (AlwaysTrue, Residual)):
            return files
        return [f for f in files if may_match(self.augmented, self._pruning_stats(f))]

    @property
    def files_scanned(self) -> int:
        return len(self.planned_files)

    def count_from_stats(self) -> int | None:
        """Exact row count from manifest metadata alone — ZERO Spark jobs,
        zero data IO (the Trino/Iceberg stats-answered-aggregate trick).

        Decidable iff every planned file's stats prove the predicate holds
        for ALL its rows (must_match_all over footer min/max + exact
        partition point-ranges); planning already excluded files that
        cannot match any row. A single straddling file (predicate true for
        some rows only) makes the count undecidable → None, and the caller
        falls back to the distributed scan. At 100 TB this answers
        partition-aligned counts in driver-milliseconds instead of a
        cluster pass.
        """
        from icebergsql_spark.expressions import must_match_all

        if self.snapshot is None:
            return 0
        # merge-on-read position deletes subtract exactly: a DV'd file's
        # live count is record_count - Σdv_count (writers de-duplicate
        # positions, so counts are additive), and a predicate proven for
        # ALL of the file's rows holds for the live subset too
        dv_counts: dict[str, int] = {}
        for e in self.snapshot.dv_entries():
            dv_counts[e.data_path] = dv_counts.get(e.data_path, 0) + e.count
        # an un-converted equality delete may mask an unknown number of a
        # lower-seq file's rows — the count is undecidable from metadata
        eq_seqs = [e.seq for e in self.snapshot.eq_entries()]
        if eq_seqs:
            max_eq = max(eq_seqs)
            if any(f.seq < max_eq for f in self.planned_files):
                return None
        total = 0
        for f in self.planned_files:
            if not isinstance(self.augmented, AlwaysTrue) and not must_match_all(
                self.augmented, self._pruning_stats(f)
            ):
                return None
            total += f.record_count - dv_counts.get(f.path, 0)
        return total

    def dataframe(self, apply_where: bool = True) -> DataFrame:
        """``apply_where=False`` returns the pruned scan without re-applying
        the filter — used by the SQL front door, where the statement's own
        WHERE executes in Spark SQL and the scan's predicate served only for
        manifest pruning (it may contain alias-qualified names that don't
        resolve against the bare table).

        A scan whose planned files together hold at most
        ``spark.sql.files.openCostInBytes`` (Spark's own cost of opening
        one file, 4 MB by default) comes back as ONE partition. Spark
        would otherwise split those few bytes into a task per file, and
        plan a hash Exchange above every aggregate, sort or window: two
        jobs (shuffle map, then result) for a pruned GROUP BY. A
        single-partition child already meets every required
        distribution, so the query runs as one job with one task.
        Merge-on-read masks keep working: their build sides are
        broadcast, and a broadcast join keeps its stream side's
        partitioning. Larger scans keep Spark's split."""
        df = self.table.read_files_live(self.planned_files, self.snapshot)
        if self.where and apply_where:
            df = df.filter(self.where)
        planned_bytes = sum(f.file_size for f in self.planned_files)
        open_cost = (
            self.table.spark._jsparkSession.sessionState()
            .conf()
            .filesOpenCostInBytes()
        )
        if planned_bytes <= open_cost:
            df = df.coalesce(1)
        return df


def _stat_ranges(
    files: list[DataFile], cols: list[str]
) -> dict[str, tuple[float, float]]:
    """Global (min, max) per column from manifest entries — the metadata
    that makes z-ordering a zero-extra-pass operation. A column missing
    stats in ANY file (e.g. ORC counts-only tables) falls back to a
    degenerate range, which keeps the rewrite valid (layout-only effect:
    that column contributes a constant to the curve)."""
    out: dict[str, tuple[float, float]] = {}
    for c in cols:
        mins = [
            f.stats[c].min
            for f in files
            if c in f.stats and f.stats[c].min is not None
        ]
        maxs = [
            f.stats[c].max
            for f in files
            if c in f.stats and f.stats[c].max is not None
        ]
        if mins and maxs:
            out[c] = (float(min(mins)), float(max(maxs)))
        else:
            out[c] = (0.0, 0.0)
    return out


def _zvalue_column(
    cols: list[str], ranges: dict[str, tuple[float, float]], bits: int = 16
):
    """Morton (z-order) sort key: each column normalized to a ``bits``-bit
    rank over its global range, bits interleaved column-round-robin into
    one bigint. Pure codegen-able JVM arithmetic (~16·k terms); the
    normalization is layout-only — precision loss can blur file boundaries
    but never results."""
    import functools
    import operator

    ncols = len(cols)
    top = (1 << bits) - 1
    parts = []
    for j, c in enumerate(cols):
        lo, hi = ranges[c]
        if hi > lo:
            norm = F.least(
                F.lit(top),
                F.greatest(
                    F.lit(0),
                    ((F.col(c).cast("double") - lo) * top / (hi - lo)).cast("int"),
                ),
            ).cast("long")
        else:
            norm = F.lit(0).cast("long")
        for i in range(bits):
            parts.append(
                F.shiftleft(F.shiftright(norm, i).bitwiseAND(F.lit(1)), i * ncols + j)
            )
    return functools.reduce(operator.add, parts).alias("__zvalue")


def _zvalue_rank_column(
    cols: list[str], boundaries: dict[str, list[float]], bits: int = 8
):
    """Rank-normalized Morton key: each column's value maps to its QUANTILE
    bin (count of precomputed boundaries ≤ value, an O(2^bits) codegen-able
    fold) instead of a linear min/max scale. A heavily skewed column wastes
    curve bits under linear normalization (most rows collapse into a few
    cells, so file min/max ranges stay wide); equi-depth bins spend every
    bit on actual data mass. Boundary computation is one approxQuantile
    pass over the rewrite set — opt-in via ``compact(zorder_rank=True)``
    because manifest min/max stats alone can't see skew."""
    import functools
    import operator

    ncols = len(cols)
    top = (1 << bits) - 1
    parts = []
    for j, c in enumerate(cols):
        bs = boundaries.get(c) or []
        if bs:
            arr = F.array(*[F.lit(float(b)) for b in bs[:top]])
            rank = F.aggregate(
                arr,
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(c).cast("double") >= b, 1).otherwise(0),
            ).cast("long")
            # boundary lists dedupe (repeated quantile values on low-
            # cardinality/skewed data), so the raw rank may top out well
            # below 2^bits — rescale so the interleave uses EVERY bit
            n_bins = min(len(bs), top)
            norm = F.least(
                F.lit(top).cast("long"),
                (rank * top / F.lit(n_bins)).cast("long"),
            )
        else:
            norm = F.lit(0).cast("long")
        for i in range(bits):
            parts.append(
                F.shiftleft(F.shiftright(norm, i).bitwiseAND(F.lit(1)), i * ncols + j)
            )
    return functools.reduce(operator.add, parts).alias("__zvalue")


def _parse_partition_value(raw: str, dtype: T.DataType):
    import datetime as _dt

    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(raw)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(raw)
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(raw)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime.fromisoformat(raw.replace(" ", "T"))
    if isinstance(dtype, T.BooleanType):
        return raw.lower() == "true"
    return raw


_VALUES_SQL_TYPES = {
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INT",
    "integer": "INT",
    "string": "STRING",
    "boolean": "BOOLEAN",
    "double": "DOUBLE",
    "float": "FLOAT",
}


def _empty_typed_df(spark, schema):
    """Zero-row JVM relation carrying ``schema``'s columns.

    ``createDataFrame([], schema)`` plans a Python-RDD scan with
    defaultParallelism EMPTY slices, so inserting it (TRUNCATE's
    implementation is an overwrite with an empty frame) schedules a
    32-task distributed write that writes nothing; a filtered
    OneRowRelation is a single empty task. ``insert`` re-casts every
    column to the table type, so the relaxed nullability here is
    invisible."""
    sel = ", ".join(
        f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in schema.fields
    )
    return spark.sql(f"SELECT {sel} WHERE 1 = 0")


def _values_local_df(spark, rows, schema: str):
    """Bounded metadata rows as a JVM-side ``VALUES`` LocalRelation.

    ``spark.createDataFrame(rows)`` plans a Python-RDD scan with
    defaultParallelism partitions — harmless alone, but the metadata
    views get JOINED to each other (`$lineage` x `$refs` x `$history`
    in managed_branch_compare), and nested-loop joins of several
    32-partition Python scans re-launch Python runners per reference:
    the managed_metadata_count lesson, in join form (measured 20s for a
    ~10-row metadata compare at round 10).  A ``VALUES`` list folds to
    a single-partition LocalTableScan: broadcastable, re-referenceable,
    zero Python workers.  Falls back to ``createDataFrame`` for any
    value outside the scalar types the renderer handles; every column
    is CAST to the declared type so all-NULL columns keep their schema.
    Empty input (VALUES needs a row) becomes a typed zero-row filtered
    OneRowRelation — the createDataFrame fallback planned a Python-RDD
    scan with defaultParallelism EMPTY slices, one Python-runner job
    per consumer action."""
    cols = []
    for part in schema.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        sql_t = _VALUES_SQL_TYPES.get(typ.lower())
        if sql_t is None:
            return spark.createDataFrame(rows, schema)
        cols.append((name.strip(), sql_t))
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS `{n}`" for n, t in cols)
        return spark.sql(f"SELECT {sel} WHERE 1 = 0")
    if len(rows) > 4000:
        return spark.createDataFrame(rows, schema)

    def lit(v, t):
        if v is None:
            return "NULL"
        if t == "BOOLEAN":
            return "true" if v else "false"
        if t in ("BIGINT", "INT"):
            return str(int(v))
        if t in ("DOUBLE", "FLOAT"):
            f = float(v)
            if not math.isfinite(f):
                # inf/nan have no SQL literal form; ValueError routes
                # the whole frame to the createDataFrame fallback below
                raise ValueError(f"non-finite float literal: {f!r}")
            if f == 0.0 and math.copysign(1.0, f) < 0:
                # the SQL parser folds the numeric literal -0.0 to +0.0;
                # a string cast preserves the sign bit
                return "CAST('-0.0' AS DOUBLE)"
            return repr(f)
        s = str(v).replace("\\", "\\\\").replace("'", "''")
        return f"'{s}'"

    try:
        values = ", ".join(
            "("
            + ", ".join(lit(v, t) for v, (_n, t) in zip(row, cols))
            + ")"
            for row in rows
        )
    except (TypeError, ValueError):
        return spark.createDataFrame(rows, schema)
    # Note: VALUES infers non-NULLABLE fields when a column's literals
    # are all non-null (createDataFrame reported nullable) — a strictly
    # more precise schema; unions/joins re-widen nullability as needed,
    # and Spark 4's analyzer folds away wrap-in-CASE tricks, so the
    # stricter schema is the documented behavior
    select = ", ".join(
        f"CAST(c{i} AS {t}) AS `{n}`" for i, (n, t) in enumerate(cols)
    )
    alias = ", ".join(f"c{i}" for i in range(len(cols)))
    return spark.sql(f"SELECT {select} FROM VALUES {values} AS t({alias})")
