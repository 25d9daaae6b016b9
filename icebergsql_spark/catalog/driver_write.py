"""Driver-side parquet writes for small bounded sources.

A Spark file write pays a fixed cost whatever it holds: task setup,
``_temporary`` directories, task commit, job commit and renames. For a
few hundred rows that is almost all of the write. ``driver_write``
collects the prepared write frame once with ``DataFrame.toArrow()`` (one
Spark job) and writes each partition directory with
``pyarrow.parquet.write_table``. The layout is Spark's: directories named
by the JVM's own ``ExternalCatalogUtils.getPartitionPathString`` over the
same string columns ``partitionBy`` would use (NULL and ``""`` become
``__HIVE_DEFAULT_PARTITION__``), partition columns dropped from the
files, data columns nullable and in frame order, a zero-row write leaving
one empty file when unpartitioned and none when partitioned. Callers read
the result back through the same footer-stats and bloom code as a Spark
write.

A frame qualifies when every column type is in ``_DRIVER_TYPES``, the
session's parquet codec is one pyarrow writes, its optimized logical plan
holds only operators that never emit more rows than they read
(``_ROW_BOUNDED``), and its leaves are ``LocalRelation``s or file-source
relations whose summed ``stats().sizeInBytes`` is at most
``DRIVER_WRITE_MAX_BYTES``. A partition group holding more rows than
``spark.sql.files.maxRecordsPerFile`` sends the write back to Spark.

Crossover on a 4-vCPU host at ``local[2]`` (``tools/write_crossover.py``:
a lineitem-shaped file source, one partition, median of 5 writes; the
RSS column is the rise of the driver's peak RSS since before the first
driver write, sizes run in ascending order):

      rows   source bytes   Spark write   driver write   driver peak RSS
       200          11 KB        319 ms         155 ms        +0.5 MB
     1,000          27 KB        262 ms         120 ms        +1.4 MB
     2,000          47 KB        218 ms         112 ms        +2.5 MB
     5,000         107 KB        228 ms         110 ms        +5.0 MB
    10,000         203 KB        214 ms         120 ms        +9.5 MB
    20,000         379 KB        274 ms         160 ms         +16 MB
    50,000         848 KB        274 ms         200 ms         +32 MB
   100,000         1.5 MB        394 ms         236 ms         +67 MB
   200,000         2.6 MB        514 ms         412 ms        +132 MB

The driver write saves 100-160 ms per write up to ~20k rows and less
above, while the driver's peak grows by about 0.65 MB per 1,000 such
rows, several times their ~95 bytes a row of Arrow data (the collect's
batches, the cast table and the encoder's pages are alive at once).
``DRIVER_WRITE_MAX_BYTES`` = 128 KiB keeps that
rise near 5 MB (about 3% of a 165 MB driver) and still covers the
micro-batch, partition-refresh and key-payload writes the cost matters
for; bulk loads stay on Spark, where the rows never reach Python.
"""

from __future__ import annotations

import os
import uuid

# sources whose plan leaves hold at most this many bytes are written on
# the driver; see the module docstring for the measured crossover
DRIVER_WRITE_MAX_BYTES = 128 * 1024

# logical operators that never emit more rows than they read
_ROW_BOUNDED = frozenset(
    {"Project", "Filter", "Aggregate", "Sort", "GlobalLimit", "LocalLimit", "Union"}
)

# Spark types (simpleString) the driver writes. Types whose parquet
# encoding or stats pyarrow does not reproduce exactly (decimal,
# timestamps, binary, char/varchar, nested) stay on Spark.
_DRIVER_TYPES = frozenset(
    {"boolean", "tinyint", "smallint", "int", "bigint", "float", "double",
     "string", "date"}
)

# spark.sql.parquet.compression.codec -> (pyarrow codec, Spark's file suffix)
_CODECS = {
    "none": ("none", ""),
    "uncompressed": ("none", ""),
    "snappy": ("snappy", ".snappy"),
    "gzip": ("gzip", ".gz"),
    "zstd": ("zstd", ".zstd"),
}


def bounded_source_bytes(df) -> int | None:
    """Summed ``sizeInBytes`` of the optimized plan's leaves, or None when
    a node may emit more rows than it reads or a leaf is neither a
    ``LocalRelation`` nor a file-source relation."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    total = 0
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "LocalRelation" or (
            kind == "LogicalRelation"
            and node.relation().getClass().getSimpleName() == "HadoopFsRelation"
        ):
            total += int(node.stats().sizeInBytes())
        elif kind in _ROW_BOUNDED:
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
        else:
            return None
    return total


def _partition_rows(spark, tbl, partition_by: list[str]) -> dict:
    """{relative partition directory: row indices in input order, or None
    for all rows}. Rows are grouped by dictionary codes and a stable
    numpy sort, not per-row Python objects or Acero's ``group_by``."""
    import numpy as np
    import pyarrow.compute as pc

    if not partition_by:
        return {"": None}
    path_string = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString
    )
    codes = np.zeros(tbl.num_rows, dtype=np.int64)
    indices, values = [], []
    for c in partition_by:
        # NULL and "" share Spark's default partition directory
        enc = pc.dictionary_encode(pc.fill_null(tbl.column(c).combine_chunks(), ""))
        idx = enc.indices.to_numpy()
        indices.append(idx)
        values.append(enc.dictionary.to_pylist())
        # dense codes again after each column, so they never overflow
        codes = np.unique(codes * len(values[-1]) + idx, return_inverse=True)[1]
    order = np.argsort(codes, kind="stable")
    starts = np.flatnonzero(np.diff(codes[order], prepend=-1))
    rows = {}
    for s, e in zip(starts, [*starts[1:], len(order)]):
        first = order[s]
        d = "/".join(
            path_string(c, values[j][indices[j][first]])
            for j, c in enumerate(partition_by)
        )
        rows[d] = order[s:e]
    return dict.fromkeys(rows) if len(rows) == 1 else rows


def driver_write(
    df, out_dir: str, partition_by: list[str], declared: dict | None = None
) -> bool:
    """Write ``df`` under ``out_dir`` as
    ``df.write.partitionBy(*partition_by).parquet(out_dir)`` lays it out,
    but on the driver. Returns False, having written nothing, when the
    frame does not qualify (module docstring). ``declared`` maps column
    names to the table's declared Spark types, which must qualify too
    (a ``varchar(n)`` column reaches the frame as ``string``)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spark = df.sparkSession
    codec = _CODECS.get(
        spark.conf.get("spark.sql.parquet.compression.codec", "snappy").lower()
    )
    if codec is None:
        return False
    fields = [f for f in df.schema.fields if f.name not in partition_by]
    declared = declared or {}
    for f in fields:
        kinds = {f.dataType.simpleString()}
        if f.name in declared:
            kinds.add(declared[f.name].simpleString())
        if not kinds <= _DRIVER_TYPES:
            return False
    size = bounded_source_bytes(df)
    if size is None or size > DRIVER_WRITE_MAX_BYTES:
        return False
    tbl = df.toArrow()
    groups = _partition_rows(spark, tbl, partition_by)
    max_records = int(spark.conf.get("spark.sql.files.maxRecordsPerFile", "0"))
    if max_records > 0 and any(
        (tbl.num_rows if idx is None else len(idx)) > max_records
        for idx in groups.values()
    ):
        return False
    data = tbl.select([f.name for f in fields])
    # Spark writes every column nullable, whatever the frame says
    data = data.cast(pa.schema([f.with_nullable(True) for f in data.schema]))
    floats = [
        f.name for f in fields if f.dataType.simpleString() in ("float", "double")
    ]
    compression, suffix = codec
    name = f"part-00000-{uuid.uuid4()}-c000{suffix}.parquet"
    os.makedirs(out_dir, exist_ok=True)
    for rel, idx in groups.items():
        part = data if idx is None else data.take(pa.array(idx))
        # pyarrow leaves NaN out of min/max, but Spark orders NaN above
        # every value: a NaN-free max would let `d > x` prune a file that
        # holds a matching NaN, in our planner and in Spark's own
        # row-group filter. Such a column gets no statistics at all.
        nan_cols = {c for c in floats if pc.any(pc.is_nan(part.column(c))).as_py()}
        # parquet-mr drops a column's dictionary when it does not pay;
        # a dictionary over mostly distinct values only grows the file
        repeating = [
            c
            for c in part.column_names
            if 2 * pc.count_distinct(part.column(c), mode="all").as_py()
            <= part.num_rows
        ]
        target = os.path.join(out_dir, rel)
        os.makedirs(target, exist_ok=True)
        pq.write_table(
            part,
            os.path.join(target, name),
            compression=compression,
            use_dictionary=repeating,
            write_statistics=[c for c in part.column_names if c not in nan_cols],
            # the parquet logical types already give every allowed type
            # back; the serialized arrow schema would only grow the footer
            store_schema=False,
        )
    return True
