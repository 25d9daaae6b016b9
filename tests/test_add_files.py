"""add_files import procedure (Iceberg migrate-in-place): zero-copy
registration, stats-inferred partitions, guards, and coexistence with
the managed write/maintenance surface."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from icebergsql_spark.table import Catalog, TableValidationError


def _stage(spark, df, key, values, prefix="addf"):
    src = tempfile.mkdtemp(prefix=f"icebergsql-{prefix}-")
    for v in values:
        df.filter(F.col(key) == v).coalesce(1).write.mode("append").parquet(
            src
        )
    return src


def test_add_files_zero_copy_and_pruning(spark, tmp_path):
    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).withColumn("l_shipyear", F.year("l_shipdate"))
    years = sorted(
        r["l_shipyear"]
        for r in li.select("l_shipyear").distinct().collect()
    )
    src = _stage(spark, li, "l_shipyear", years)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in li.schema.fields
    )
    tbl = Catalog(spark, str(tmp_path / "wh")).create_table(
        "li_addf", ddl, ["l_shipyear"]
    )
    snap = tbl.add_files(src)
    assert snap.operation == "append"
    assert snap.summary["added-files-by-import"] == str(len(years))
    live = snap.live_files()
    assert all(f.path.startswith(src) for f in live)  # zero copy
    assert {f.partition["l_shipyear"] for f in live} == {
        str(y) for y in years
    }
    # footer stats are real: metadata count + partition pruning
    assert tbl.scan().count_from_stats() == li.count()
    assert tbl.scan(where=f"l_shipyear = {years[0]}").files_scanned == 1
    # content round-trips exactly
    got = tbl.to_df().agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
    ).collect()[0][0]
    want = li.agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
    ).collect()[0][0]
    assert got == want


def test_add_files_guards(spark, tmp_path):
    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).withColumn("l_shipyear", F.year("l_shipdate"))
    src = _stage(spark, li, "l_shipyear", [1995])
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in li.schema.fields
    )
    tbl = Catalog(spark, str(tmp_path / "wh")).create_table(
        "li_addg", ddl, ["l_shipyear"]
    )
    tbl.add_files(src)
    # duplicate registration refused (Iceberg check_duplicate_files)
    with pytest.raises(TableValidationError, match="already registered"):
        tbl.add_files(src)
    # ... unless forced
    with pytest.raises(TableValidationError, match="no .parquet files"):
        tbl.add_files(str(tmp_path / "empty"))
    # straddling file rejected: one file spanning several years
    bad = tempfile.mkdtemp(prefix="icebergsql-addbad-")
    li.coalesce(1).write.mode("overwrite").parquet(bad)
    with pytest.raises(TableValidationError, match="straddles"):
        tbl.add_files(bad)
    # schema mismatch rejected
    narrow = tempfile.mkdtemp(prefix="icebergsql-addnar-")
    li.filter(F.col("l_shipyear") == 1996).select(
        "l_orderkey", "l_shipyear"
    ).coalesce(1).write.mode("overwrite").parquet(narrow)
    with pytest.raises(TableValidationError, match="file schema"):
        tbl.add_files(narrow)
    # partition assertion: wrong expected value rejected
    src96 = _stage(spark, li, "l_shipyear", [1996])
    with pytest.raises(TableValidationError, match="belongs to"):
        tbl.add_files(src96, partition_values={"l_shipyear": 1997})


def test_add_files_coexists_with_writes_and_maintenance(spark, tmp_path):
    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).withColumn("l_shipyear", F.year("l_shipdate"))
    src = _stage(spark, li.filter(F.col("l_orderkey") % 2 == 0),
                 "l_shipyear", [1995, 1996])
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in li.schema.fields
    )
    tbl = Catalog(spark, str(tmp_path / "wh")).create_table(
        "li_addc", ddl, ["l_shipyear"]
    )
    tbl.add_files(src)
    # ordinary insert after import
    tbl.insert(
        li.filter(
            (F.col("l_orderkey") % 2 == 1)
            & F.col("l_shipyear").isin(1995, 1996)
        )
    )
    want = li.filter(F.col("l_shipyear").isin(1995, 1996)).count()
    assert tbl.to_df().count() == want
    # compact rewrites imported + written files into the table's own dir
    snap = tbl.compact()
    assert snap is not None and snap.operation == "replace"
    assert tbl.to_df().count() == want
    live = tbl.meta.current_snapshot().live_files()
    assert all(not f.path.startswith(src) for f in live)
    # the imported originals are OUTSIDE the table tree: orphan scan
    # must not count (or delete) them
    removed = tbl.remove_orphan_files(older_than_s=0)
    import os

    assert all(
        os.path.exists(f)
        for f in __import__("glob").glob(f"{src}/*.parquet")
    ), removed

def test_add_files_hive_layout_path_only_partitions(spark, tmp_path):
    """Classic external Hive directory: partition column ONLY in the
    col=value path segments, not in the data files (reference
    PartitioningUtils.scala:57-71 parses these)."""
    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).withColumn("l_shipyear", F.year("l_shipdate"))
    src = tempfile.mkdtemp(prefix="icebergsql-hive-")
    # Spark's partitionBy writes l_shipyear=YYYY/ dirs and DROPS the
    # column from the data files — exactly the layout under test
    # (repartition(4) so each year dir holds several small files and the
    # later compact() has something to bin-pack)
    li.repartition(4).write.mode("overwrite").partitionBy(
        "l_shipyear"
    ).parquet(src)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in li.schema.fields
    )
    tbl = Catalog(spark, str(tmp_path / "wh")).create_table(
        "li_hive", ddl, ["l_shipyear"]
    )
    snap = tbl.add_files(src)
    live = snap.live_files()
    assert all(f.path_partition for f in live)
    years = sorted(
        r["l_shipyear"] for r in li.select("l_shipyear").distinct().collect()
    )
    assert {f.partition["l_shipyear"] for f in live} == {
        str(y) for y in years
    }
    # read path materializes the partition column with the TABLE type
    df = tbl.to_df()
    assert dict(df.dtypes)["l_shipyear"] == "int"
    got = df.groupBy("l_shipyear").count().collect()
    want = li.groupBy("l_shipyear").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # partition pruning + metadata count work off the path-derived values
    assert tbl.scan(where=f"l_shipyear = {years[0]}").files_scanned < len(
        live
    )
    assert (
        tbl.scan(where=f"l_shipyear = {years[0]}").count_from_stats()
        == li.filter(F.col("l_shipyear") == years[0]).count()
    )
    # exact content round-trip (money column, order-independent)
    got_sum = df.agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
    ).collect()[0][0]
    want_sum = li.agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
    ).collect()[0][0]
    assert got_sum == want_sum
    # compaction rewrites to self-describing files: flag dissolves
    snap2 = tbl.compact()
    assert snap2 is not None
    assert all(
        not f.path_partition
        for f in tbl.meta.current_snapshot().live_files()
    )
    assert tbl.to_df().count() == li.count()


def test_add_files_hive_null_partition(spark, tmp_path):
    """__HIVE_DEFAULT_PARTITION__ path segment round-trips as NULL."""
    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .withColumn(
            "l_shipyear",
            F.when(F.year("l_shipdate") == 1995, F.lit(None)).otherwise(
                F.year("l_shipdate")
            ),
        )
    )
    src = tempfile.mkdtemp(prefix="icebergsql-hivenull-")
    li.write.mode("overwrite").partitionBy("l_shipyear").parquet(src)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in li.schema.fields
    )
    tbl = Catalog(spark, str(tmp_path / "wh")).create_table(
        "li_hivenull", ddl, ["l_shipyear"]
    )
    tbl.add_files(src)
    got = tbl.to_df().filter(F.col("l_shipyear").isNull()).count()
    assert got == li.filter(F.col("l_shipyear").isNull()).count()
    assert got > 0


def test_add_files_hive_conflict_and_guards(spark, tmp_path):
    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).withColumn("l_shipyear", F.year("l_shipdate"))
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in li.schema.fields
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    tbl = cat.create_table("li_hivec", ddl, ["l_shipyear"])
    # self-describing file placed under a LYING path dir: footer says
    # 1995, path says 9999 — conflicted import must refuse
    import os

    lie = tempfile.mkdtemp(prefix="icebergsql-hivelie-")
    os.makedirs(f"{lie}/l_shipyear=9999")
    li.filter(F.col("l_shipyear") == 1995).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{lie}/l_shipyear=9999")
    with pytest.raises(TableValidationError, match="footer stats say"):
        tbl.add_files(lie)
    # partition column in neither data nor path
    flat = tempfile.mkdtemp(prefix="icebergsql-hiveflat-")
    li.filter(F.col("l_shipyear") == 1995).drop("l_shipyear").coalesce(
        1
    ).write.mode("overwrite").parquet(flat)
    with pytest.raises(TableValidationError, match="lacks partition"):
        tbl.add_files(flat)
    # mixed directory: one conforming file + one missing a column — the
    # per-file footer guard catches what the merged schema hides
    mixed = tempfile.mkdtemp(prefix="icebergsql-hivemix-")
    os.makedirs(f"{mixed}/l_shipyear=1995")
    os.makedirs(f"{mixed}/l_shipyear=1996")
    li.filter(F.col("l_shipyear") == 1995).drop("l_shipyear").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{mixed}/l_shipyear=1995")
    li.filter(F.col("l_shipyear") == 1996).drop("l_shipyear").drop(
        "l_tax"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{mixed}/l_shipyear=1996"
    )
    with pytest.raises(TableValidationError, match="footer columns"):
        tbl.add_files(mixed)


def test_msck_repair_table_discovers_hive_drops(spark, tmp_path):
    """MSCK REPAIR TABLE: externally dropped col=value partition files
    inside the table's data dir are discovered by listing and
    registered zero-copy; engine-written files and already-registered
    drops are never re-registered (idempotent)."""
    import os
    import shutil

    from icebergsql_spark.sql import Engine

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).withColumn("l_shipyear", F.year("l_shipdate"))
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in li.schema.fields
    )
    eng = Engine(spark, str(tmp_path / "wh_msck"))
    tbl = eng.catalog.create_table("li_msck", ddl, ["l_shipyear"])
    # engine-written half
    tbl.insert(li.filter(F.col("l_orderkey") % 2 == 0))
    n_before = len(tbl.meta.current_snapshot().live_files())
    # externally dropped Hive-layout half (partition col path-only)
    stage = tempfile.mkdtemp(prefix="icebergsql-msckstage-")
    li.filter(F.col("l_orderkey") % 2 == 1).write.mode(
        "overwrite"
    ).partitionBy("l_shipyear").parquet(stage)
    for d in os.listdir(stage):
        if d.startswith("l_shipyear="):
            shutil.move(
                os.path.join(stage, d),
                os.path.join(tbl.meta.data_dir, d),
            )
    got = eng.sql("MSCK REPAIR TABLE li_msck").collect()[0]
    tbl.refresh()
    live = tbl.meta.current_snapshot().live_files()
    n_dropped = len(live) - n_before
    assert got["added_files_count"] == n_dropped > 0
    assert sum(1 for f in live if f.path_partition) == n_dropped
    assert tbl.to_df().count() == li.count()
    # idempotent: second repair registers nothing
    assert (
        eng.sql("MSCK REPAIR TABLE li_msck").collect()[0][
            "added_files_count"
        ]
        == 0
    )
    assert len(tbl.meta.current_snapshot().live_files()) == len(live)
    # engine-written files still prune + count correctly post-repair
    assert tbl.scan().count_from_stats() == li.count()


def test_add_files_pyarrow_nan_bounds_are_dropped(spark, tmp_path):
    """pyarrow leaves NaN out of a float column's footer min/max, so an
    imported pyarrow file keeps no float bounds. With them, the planner
    proved `d <= 5` for every row and answered COUNT(*) = 3 from
    metadata, where stock Spark over the same file counts 2 (NaN <= 5 is
    false)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from icebergsql_spark.sql import Engine

    nan = float("nan")
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2, 3], pa.int32()),
                "d": pa.array([1.0, nan, 2.0], pa.float64()),
                "f": pa.array([1.0, nan, 2.0], pa.float32()),
                "p": pa.array([0, 0, 0], pa.int32()),
            }
        ),
        str(src / "part-0.parquet"),
    )
    eng = Engine(spark, str(tmp_path / "wh"))
    tbl = eng.catalog.create_table(
        "nan_import", "k int, d double, f float, p int", ["p"]
    )
    (imported,) = tbl.add_files(str(src)).live_files()
    assert (imported.stats["d"].min, imported.stats["d"].max) == (None, None)
    assert (imported.stats["f"].min, imported.stats["f"].max) == (None, None)
    assert imported.stats["k"].max == 3  # non-float bounds still prune
    spark.read.parquet(str(src)).createOrReplaceTempView("nan_import_stock")
    for c in ("d", "f"):
        for q in (
            f"SELECT COUNT(*) FROM {{t}} WHERE {c} <= 5",
            f"SELECT COUNT(*) FROM {{t}} WHERE NOT ({c} > 5)",
            f"SELECT k FROM {{t}} WHERE {c} >= 1 ORDER BY k",
            f"SELECT k FROM {{t}} WHERE {c} > 5",
        ):
            got = eng.sql(q.format(t="nan_import")).collect()
            want = spark.sql(q.format(t="nan_import_stock")).collect()
            assert [tuple(r) for r in got] == [tuple(r) for r in want], q
    assert eng.sql("SELECT COUNT(*) FROM nan_import WHERE d <= 5").collect()[0][0] == 2
