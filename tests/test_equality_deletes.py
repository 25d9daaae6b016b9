"""Equality deletes (Iceberg v2) — CDC deletes/upserts with zero
read-before-write.

``delete_by_keys`` appends a key rowset; rows from data files with a
strictly LOWER sequence number whose key matches are masked at read time.
``upsert_by_keys`` commits new images + the key delete at ONE sequence
number, so old images die and the new ones survive — last-writer-wins per
key across commits. ``convert_equality_deletes`` folds the accumulated key
rowsets into position delete vectors; ``rewrite_position_deletes`` folds
those into the layout. The reference delegates this to the Iceberg v2 spec
(equality delete files + sequence numbers); here it is re-expressed on the
pure-Python snapshot layer with seq stamped per DataFile at commit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from icebergsql_spark.table import Catalog, TableValidationError

DDL = "k bigint, v bigint, part int"


@pytest.fixture()
def tbl(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("t", DDL, partition_cols=["part"])
    src = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        (F.col("id") % 4).cast("int").alias("part"),
    )
    t.insert(src)
    return t


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delete_by_keys_masks_lower_seq_rows(spark, tbl):
    keys = spark.createDataFrame([(i,) for i in range(0, 500, 10)], "k bigint")
    before = {f.path for f in tbl.meta.current_snapshot().live_files()}
    snap = tbl.delete_by_keys(keys, ["k"])
    assert snap.operation == "delete"
    assert snap.num_added_files == 0 and snap.num_deleted_files == 0
    assert {f.path for f in snap.live_files()} == before
    assert [e.count for e in snap.eq_entries()] == [50]
    assert tbl.to_df().count() == 450
    assert tbl.to_df().filter("k = 20").count() == 0
    # metadata count is honestly undecidable under unconverted eq deletes
    assert tbl.scan().count_from_stats() is None


def test_upsert_last_writer_wins(spark, tbl):
    up1 = spark.createDataFrame([(7, -1, 3), (9999, 1, 0)], DDL)
    tbl.upsert_by_keys(up1, ["k"])
    assert tbl.to_df().count() == 501
    assert tbl.to_df().filter("k = 7").collect()[0]["v"] == -1
    up2 = spark.createDataFrame([(7, -2, 3)], DDL)
    tbl.upsert_by_keys(up2, ["k"])
    assert tbl.to_df().count() == 501
    assert tbl.to_df().filter("k = 7").collect()[0]["v"] == -2
    # the upsert's own images are NOT masked by its own delete (same seq)
    assert tbl.to_df().filter("k = 9999").count() == 1


def test_convert_then_rewrite_preserves_rows(spark, tbl):
    tbl.delete_by_keys(
        spark.createDataFrame([(i,) for i in range(100)], "k bigint"), ["k"]
    )
    tbl.upsert_by_keys(spark.createDataFrame([(3, 33, 3)], DDL), ["k"])
    expect = rows(tbl.to_df())
    assert (3, 33, 3) in expect and len(expect) == 401
    snap = tbl.convert_equality_deletes()
    assert snap.operation == "replace"
    assert not tbl.meta.current_snapshot().eq_manifest_paths
    assert tbl.meta.current_snapshot().dv_manifest_paths
    assert rows(tbl.to_df()) == expect
    # counts decidable again after conversion
    assert tbl.scan().count_from_stats() == 401
    tbl.rewrite_position_deletes()
    assert rows(tbl.to_df()) == expect
    assert tbl.convert_equality_deletes() is None


def test_time_travel_and_diff_across_eq_delete(spark, tbl):
    s0 = tbl.meta.current_snapshot()
    tbl.delete_by_keys(spark.createDataFrame([(1,), (2,)], "k bigint"), ["k"])
    assert tbl.to_df(snapshot_id=s0.snapshot_id).count() == 500
    d = tbl.diff(s0.snapshot_id)
    by_type = {
        r["_change_type"]: r["count"]
        for r in d.groupBy("_change_type").count().collect()
    }
    assert by_type.get("delete") == 2 and "insert" not in by_type


def test_compaction_respects_eq_deletes(spark, tbl):
    tbl.delete_by_keys(
        spark.createDataFrame([(i,) for i in range(50)], "k bigint"), ["k"]
    )
    expect = rows(tbl.to_df())
    snap = tbl.compact(min_input_files=2)
    assert snap is not None
    assert rows(tbl.to_df()) == expect  # masked rows did not resurrect


def test_eq_delete_validation(spark, tbl):
    with pytest.raises(TableValidationError, match="not in schema"):
        tbl.delete_by_keys(
            spark.createDataFrame([(1,)], "nope bigint"), ["nope"]
        )
    with pytest.raises(TableValidationError, match="source columns"):
        tbl.upsert_by_keys(spark.createDataFrame([(1,)], "k bigint"), ["k"])


def test_streaming_cdc_writer_exactly_once(spark, tbl, tmp_path):
    """ManagedTableCDCWriter: three micro-batches of key-churning CDC land
    as three equality-upsert commits; final state is last-writer-wins and
    a replayed batch (fresh writer, same ids) changes nothing."""
    from icebergsql_spark.streaming.ingest import ManagedTableCDCWriter

    w = ManagedTableCDCWriter(tbl, keys=["k"])
    batches = [
        spark.createDataFrame([(1, 100, 1), (600, 1, 0)], DDL),
        spark.createDataFrame([(1, 200, 1), (601, 1, 1)], DDL),
        spark.createDataFrame([(600, 2, 0)], DDL),
    ]
    for i, b in enumerate(batches):
        w(b, i)
    assert tbl.to_df().count() == 502
    got = {r["k"]: r["v"] for r in tbl.to_df().filter("k >= 600 OR k = 1").collect()}
    assert got == {1: 200, 600: 2, 601: 1}
    # replay: same batch ids through a fresh writer are skipped
    w2 = ManagedTableCDCWriter(tbl, keys=["k"])
    for i, b in enumerate(batches):
        w2(b, i)
    assert tbl.to_df().count() == 502
    assert {r["k"]: r["v"] for r in tbl.to_df().filter("k = 600").collect()} == {600: 2}


def test_schema_evolution_blocked_on_live_eq_keys(spark, tbl):
    """Renaming/dropping an equality-delete key column is rejected until
    the deletes are folded; conversion unblocks it."""
    tbl.delete_by_keys(spark.createDataFrame([(1,)], "k bigint"), ["k"])
    with pytest.raises(TableValidationError, match="equality delete keys"):
        tbl.rename_column("k", "kk")
    with pytest.raises(TableValidationError, match="equality delete keys"):
        tbl.drop_column("k")
    # non-key columns evolve freely
    tbl.rename_column("v", "val")
    tbl.convert_equality_deletes()
    tbl.rename_column("k", "kk")  # unblocked after folding
    assert tbl.to_df().filter("kk = 1").count() == 0
    assert tbl.to_df().count() == 499


def test_time_travel_masks_after_key_rename(spark, tbl):
    """A snapshot read from before a key column was renamed still applies
    its equality deletes: the entry's historical key names resolve to the
    current ones through the field ids. A dropped key fails clearly."""
    tbl.upsert_by_keys(spark.createDataFrame([(7, -1, 3)], DDL), ["k"])
    pre = tbl.meta.current_snapshot()
    expect = rows(tbl.to_df())
    tbl.convert_equality_deletes()
    tbl.rename_column("k", "kk")
    assert rows(tbl.to_df(snapshot_id=pre.snapshot_id)) == expect
    assert tbl.to_df(snapshot_id=pre.snapshot_id).filter("kk = 7").count() == 1
    # a dropped key cannot be resolved: a targeted error, not a KeyError
    tbl.drop_column("kk")
    with pytest.raises(TableValidationError, match="no longer exist"):
        tbl.to_df(snapshot_id=pre.snapshot_id).count()


def test_upsert_duplicate_source_keys_rejected(spark, tbl):
    """Two images of one key at the same seq would both survive — the
    batch must be pre-reduced (same cardinality contract as MERGE)."""
    dup = spark.createDataFrame([(1, 10, 1), (1, 20, 1)], DDL)
    with pytest.raises(ValueError, match="duplicate keys"):
        tbl.upsert_by_keys(dup, ["k"])
    tbl.upsert_by_keys(dup, ["k"], cardinality_check=False)  # opt-out
    assert tbl.to_df().filter("k = 1").count() == 2


def test_eq_deletes_on_orc_table(spark, tmp_path):
    """Equality deletes need only `_metadata.file_path` (every format),
    not the parquet-only `_metadata.row_index` — so delete_by_keys /
    upsert_by_keys work on orc tables and every subsequent read succeeds.
    Folding to position DVs DOES need row positions, so convert raises
    a clear error instead of committing an unreadable state."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table(
        "t_orc_eq", DDL, partition_cols=["part"], file_format="orc"
    )
    t.insert(
        spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") * 3).alias("v"),
            (F.col("id") % 4).cast("int").alias("part"),
        )
    )
    t.delete_by_keys(spark.createDataFrame([(i,) for i in range(10)], "k bigint"), ["k"])
    assert t.to_df().count() == 90
    t.upsert_by_keys(spark.createDataFrame([(5, 55, 1), (200, 1, 0)], DDL), ["k"])
    assert t.to_df().count() == 92
    assert t.to_df().filter("k = 5").collect()[0]["v"] == 55
    with pytest.raises(TableValidationError, match="parquet row positions"):
        t.convert_equality_deletes()
    assert t.to_df().count() == 92  # table still readable after the refusal
