"""Python Data Source over managed tables: batch read (with pushFilters
file pruning and schema-evolution translation), snapshot time travel, and
streaming read with snapshot-id offsets — the full read loop on a VANILLA
session with zero Engine involvement."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan

from icebergsql_spark.sources.datasource import (
    IcebergSQLBatchReader,
    IcebergSQLDataSource,
    register_datasource,
)
from icebergsql_spark.table import Catalog
from tests.conftest import SF_SMOKE


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))


def _make_table(spark, catalog, name="ds_orders"):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    t = catalog.create_table(
        name,
        orders.schema,
        partition_cols=["o_orderstatus"],
    )
    t.insert(orders.where("o_orderkey % 2 = 0"))
    t.insert(orders.where("o_orderkey % 2 = 1"))
    return t, orders


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_batch_read_matches_native_scan(spark, catalog):
    t, orders = _make_table(spark, catalog)
    register_datasource(spark)
    via_ds = spark.read.format("icebergsql").load(t.meta.location)
    assert via_ds.schema == t.schema
    assert _rows(via_ds) == _rows(orders)


def test_batch_read_with_filter_matches(spark, catalog):
    t, orders = _make_table(spark, catalog)
    register_datasource(spark)
    got = (
        spark.read.format("icebergsql")
        .load(t.meta.location)
        .where("o_orderstatus = 'F' AND o_totalprice > 100000")
    )
    want = orders.where("o_orderstatus = 'F' AND o_totalprice > 100000")
    assert _rows(got) == _rows(want)


def test_pushed_filter_prunes_partition_files(spark, catalog):
    """Reader-level check: EqualTo on the partition column plans strictly
    fewer file tasks, and a contradiction plans zero."""
    t, _ = _make_table(spark, catalog)
    t.refresh()
    options = {"path": t.meta.location}
    reader = IcebergSQLBatchReader(t.meta, t.schema, options)
    total = len(reader.partitions())
    assert total == len(t.meta.current_snapshot().live_files())

    reader = IcebergSQLBatchReader(t.meta, t.schema, options)
    list(reader.pushFilters([EqualTo(("o_orderstatus",), "F")]))
    pruned = len(reader.partitions())
    assert 0 < pruned < total

    reader = IcebergSQLBatchReader(t.meta, t.schema, options)
    list(reader.pushFilters([GreaterThan(("o_totalprice",), 1e12)]))
    assert len(reader.partitions()) == 0


def test_snapshot_option_time_travel(spark, catalog):
    t, orders = _make_table(spark, catalog)
    t.refresh()
    first = t.meta.snapshots[0].snapshot_id
    register_datasource(spark)
    got = (
        spark.read.format("icebergsql")
        .option("snapshot", str(first))
        .load(t.meta.location)
    )
    assert _rows(got) == _rows(orders.where("o_orderkey % 2 = 0"))


def test_schema_evolution_translated(spark, catalog):
    t, orders = _make_table(spark, catalog, name="ds_evo")
    t.rename_column("o_totalprice", "price")
    t.add_column("note", "string")
    t.insert(
        orders.where("o_orderkey % 100 = 3")
        .withColumnRenamed("o_totalprice", "price")
        .withColumn("note", F.lit("new-era"))
    )
    register_datasource(spark)
    via_ds = spark.read.format("icebergsql").load(t.meta.location)
    assert _rows(via_ds) == _rows(t.to_df())
    assert "price" in via_ds.columns and "note" in via_ds.columns


def test_non_parquet_table_rejected(spark, catalog):
    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    t = catalog.create_table(
        "ds_orc",
        nation.schema,
        partition_cols=["n_regionkey"],
        properties={"write.format": "orc"},
    )
    t.insert(nation)
    with pytest.raises(Exception, match="parquet tables only"):
        IcebergSQLDataSource({"path": t.meta.location})


def test_stream_read_offsets_and_resume(spark, catalog, tmp_path):
    """availableNow run #1 sees the initial snapshots; a second run on the
    SAME checkpoint after one more insert (and a compaction in between)
    delivers exactly the delta — snapshot ids as resumable offsets."""
    t, orders = _make_table(spark, catalog, name="ds_stream")
    register_datasource(spark)
    ckpt = str(tmp_path / "ckpt")

    def run_batch():
        # memory sink refuses checkpoint recovery; foreachBatch supports it
        rows: list[tuple] = []
        q = (
            spark.readStream.format("icebergsql")
            .load(t.meta.location)
            .writeStream.foreachBatch(
                lambda df, _bid: rows.extend(tuple(r) for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))

    assert run_batch() == _rows(orders)

    # compaction (replace) + one more append; stream must hop the replace
    t.compact()
    third = orders.where("o_orderkey % 100 = 7").withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    t.insert(third)
    assert run_batch() == _rows(third)


def test_stream_starting_latest(spark, catalog, tmp_path):
    t, orders = _make_table(spark, catalog, name="ds_latest")
    register_datasource(spark)
    ckpt = str(tmp_path / "ckpt2")
    q = (
        spark.readStream.format("icebergsql")
        .option("startingSnapshot", "latest")
        .load(t.meta.location)
        .writeStream.format("memory")
        .queryName("ds_latest_run")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("ds_latest_run").count() == 0


# ----------------------------------------------------------------- write --


def test_batch_write_append_matches_native(spark, catalog):
    t, orders = _make_table(spark, catalog, name="ds_w")
    register_datasource(spark)
    extra = orders.where("o_orderkey % 100 = 11").withColumn(
        "o_totalprice", F.col("o_totalprice") + 5
    )
    extra.write.format("icebergsql").mode("append").save(t.meta.location)
    t.refresh()
    assert t.meta.current_snapshot().operation == "append"
    assert _rows(t.to_df()) == _rows(orders.unionAll(extra))
    # footer stats landed: a selective scan prunes files
    scan = t.scan(where="o_orderstatus = 'F'")
    assert scan.files_scanned < len(t.meta.current_snapshot().live_files())


def test_batch_write_overwrite(spark, catalog):
    t, orders = _make_table(spark, catalog, name="ds_ow")
    register_datasource(spark)
    subset = orders.where("o_orderkey % 10 = 1")
    subset.write.format("icebergsql").mode("overwrite").save(t.meta.location)
    t.refresh()
    assert t.meta.current_snapshot().operation == "overwrite"
    assert _rows(t.to_df()) == _rows(subset)


def test_batch_write_schema_mismatch_rejected(spark, catalog):
    t, orders = _make_table(spark, catalog, name="ds_bad")
    register_datasource(spark)
    with pytest.raises(Exception, match="does not match table schema"):
        orders.drop("o_orderpriority").write.format("icebergsql").mode(
            "append"
        ).save(t.meta.location)


def test_stream_table_to_table(spark, catalog, tmp_path):
    """Managed table A -> readStream -> writeStream -> managed table B:
    both ends of the loop through the public source API, exactly-once on
    resume (second availableNow run ships only A's delta, a third run with
    no new data commits nothing)."""
    src, orders = _make_table(spark, catalog, name="ds_a")
    dst = catalog.create_table(
        "ds_b", src.schema, partition_cols=["o_orderstatus"]
    )
    register_datasource(spark)
    ckpt = str(tmp_path / "t2t")

    def pump():
        q = (
            spark.readStream.format("icebergsql")
            .load(src.meta.location)
            .writeStream.format("icebergsql")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(dst.meta.location)
        )
        q.awaitTermination(120)
        return dst.refresh()

    pump()
    assert _rows(dst.to_df()) == _rows(orders)
    # atomic exactly-once bookkeeping: the batch-id marker rides in the
    # data snapshot itself (ONE metadata commit per micro-batch — version
    # counter advanced exactly once per snapshot, no stamp-after commit)
    assert all(
        "streaming-batch-id" in s.summary for s in dst.meta.snapshots
    )
    assert dst.meta.version == len(dst.meta.snapshots) + 1  # +1: CREATE

    delta = orders.where("o_orderkey % 100 = 42").withColumn(
        "o_custkey", F.col("o_custkey") + 1
    )
    src.insert(delta)
    pump()
    assert _rows(dst.to_df()) == _rows(orders.unionAll(delta))

    n_snaps = len(dst.meta.snapshots)
    pump()
    # no new source data: no data batch, table content unchanged
    assert _rows(dst.to_df()) == _rows(orders.unionAll(delta))
    assert len(dst.meta.snapshots) <= n_snaps + 1  # at most an empty batch


def test_filter_translation_soundness():
    """Unit map of every supported DataSource Filter to the pruning AST;
    unsupported shapes (nested columns) must become Residual — prune
    nothing, even under NOT (the Residual soundness contract)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        Not,
    )

    from icebergsql_spark import expressions as X
    from icebergsql_spark.catalog.metadata import ColStats
    from icebergsql_spark.sources.datasource import _filters_to_pred, _one_filter

    assert _one_filter(EqualTo(("a",), 5)) == X.Comparison("=", "a", 5)
    assert _one_filter(LessThan(("a",), 5)) == X.Comparison("<", "a", 5)
    assert _one_filter(GreaterThanOrEqual(("a",), 5)) == X.Comparison(">=", "a", 5)
    assert _one_filter(In(("a",), (1, 2))) == X.In("a", (1, 2))
    assert _one_filter(IsNull(("a",))) == X.IsNull("a")
    assert _one_filter(Not(IsNotNull(("a",)))) == X.Not(X.NotNull("a"))
    # nested column path: no stats exist -> must degrade to Residual
    assert isinstance(_one_filter(EqualTo(("a", "b"), 5)), X.Residual)

    # Not(Residual) must not prune: stats that refute nothing stay kept
    pred = _filters_to_pred([Not(EqualTo(("a", "b"), 5))])
    assert X.may_match(pred, {"a": ColStats(0, 10, 0, 100)})
    # conjunction prunes when one conjunct refutes
    pred = _filters_to_pred([EqualTo(("a",), 50), IsNotNull(("a",))])
    assert not X.may_match(pred, {"a": ColStats(0, 10, 0, 100)})


def test_batch_read_applies_mor_deletes(spark, catalog):
    """The interop reader agrees with the native scan on tables carrying
    position DVs AND equality deletes — masked rows never resurrect
    through the Python Data Source path."""
    import pyspark.sql.functions as F

    t = catalog.create_table(
        "ds_mor",
        "k bigint, v bigint, part int",
        partition_cols=["part"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.insert(
        spark.range(400).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            (F.col("id") % 2).cast("int").alias("part"),
        )
    )
    t.delete_where("k % 10 = 3")  # position DV
    t.upsert_by_keys(
        spark.createDataFrame([(4, -4, 0), (900, 9, 0)], "k bigint, v bigint, part int"),
        ["k"],
    )  # equality delete + new images
    register_datasource(spark)
    got = _rows(spark.read.format("icebergsql").load(t.meta.location))
    assert got == _rows(t.to_df())
    assert len(got) == 400 - 40 + 1
    assert (4, -4, 0) in got and all(r[0] != 13 for r in got)


def test_batch_write_nan_float_bounds_not_trusted(spark, catalog, tmp_path):
    """The data-source writer's pyarrow files would leave NaN out of float
    min/max; Spark orders NaN above every value, so such a bound would let
    our planner or Spark's own row-group filter drop the NaN row of
    ``d > 5``. The writer keeps float statistics out of the footer, so
    every query matches stock Spark over the same rows."""
    import pyarrow.parquet as pq

    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_nan"))
    t = eng.catalog.create_table(
        "ds_nan", "i bigint, k bigint, d double", partition_cols=["k"]
    )
    rows = [(1, 1, 1.0), (2, 1, float("nan")), (3, 1, 2.0)]
    register_datasource(spark)
    spark.createDataFrame(rows, "i bigint, k bigint, d double").coalesce(
        1
    ).write.format("icebergsql").mode("append").save(t.meta.location)
    t.refresh()
    (f,) = t.meta.current_snapshot().live_files()
    assert "d" not in f.stats and f.stats["i"].max == 3
    footer = pq.ParquetFile(f.path).metadata.row_group(0)
    by_name = {
        footer.column(c).path_in_schema: footer.column(c)
        for c in range(footer.num_columns)
    }
    assert not by_name["d"].is_stats_set and by_name["i"].is_stats_set
    spark.createDataFrame(rows, "i bigint, k bigint, d double").createOrReplaceTempView(
        "ds_nan_stock"
    )
    for q in (
        "SELECT COUNT(*) FROM {t} WHERE d <= 5",
        "SELECT i FROM {t} WHERE d > 5",
        "SELECT i FROM {t} WHERE d >= 1 ORDER BY i",
    ):
        got = eng.sql(q.format(t="ds_nan")).collect()
        want = spark.sql(q.format(t="ds_nan_stock")).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want], q
    assert eng.sql("SELECT COUNT(*) FROM ds_nan WHERE d <= 5").collect()[0][0] == 2
