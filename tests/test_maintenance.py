"""Table-maintenance ops: file compaction and snapshot expiration.

The snapshot model that makes these safe is the reference's
(InsertIntoIcebergTable.scala:142-179: files are only ever de-referenced,
never mutated); the ops themselves are the Iceberg maintenance procedures
(rewrite_data_files / expire_snapshots) a 100 TB deployment cannot live
without.
"""

import os

import pytest
from pyspark.sql import functions as F

from icebergsql_spark.table import Catalog, TableValidationError

DDL = "k bigint, v double, part int"


def _mk_table(spark, tmp_path, name, n_inserts=3, rows=300):
    cat = Catalog(spark, str(tmp_path / "wh"))
    tbl = cat.create_table(name, DDL, partition_cols=["part"])
    src = spark.range(rows).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    snaps = []
    for i in range(n_inserts):
        snaps.append(tbl.insert(src.filter(F.col("k") % n_inserts == i)))
    return tbl, snaps


def test_compact_reduces_files_preserves_content(spark, tmp_path):
    tbl, snaps = _mk_table(spark, tmp_path, "t")
    before_files = len(tbl.meta.current_snapshot().live_files())
    before = {
        r["part"]: (r["n"], r["s"])
        for r in tbl.to_df()
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"))
        .collect()
    }
    snap = tbl.compact()
    assert snap is not None and snap.operation == "replace"
    after_files = len(tbl.meta.current_snapshot().live_files())
    # 3 partitions × 3 inserts → 9 files packed into 3 (one per partition)
    assert after_files < before_files
    assert after_files == 3
    after = {
        r["part"]: (r["n"], r["s"])
        for r in tbl.to_df()
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"))
        .collect()
    }
    assert after == before
    # pre-compaction snapshot still readable (old files untouched)
    old = tbl.to_df(as_of_millis=snaps[-1].timestamp_ms)
    assert old.count() == sum(n for n, _ in before.values())


def test_compact_noop_when_nothing_qualifies(spark, tmp_path):
    tbl, _ = _mk_table(spark, tmp_path, "t2", n_inserts=1)
    assert tbl.compact() is not None
    # every partition now has one file -> below min_input_files
    assert tbl.compact() is None
    # tiny target: no file is "small"
    assert tbl.compact(target_file_size=1) is None


def test_compact_splits_oversized_groups(spark, tmp_path):
    tbl, _ = _mk_table(spark, tmp_path, "t3", n_inserts=4, rows=4000)
    files = tbl.meta.current_snapshot().live_files()
    # pick a target between one input file and a partition's total so the
    # packed group must split into multiple outputs via maxRecordsPerFile
    per_part = {}
    for f in files:
        per_part.setdefault(f.partition["part"], []).append(f.file_size)
    sizes = next(iter(per_part.values()))
    target = int(sum(sizes) * 0.6)
    assert max(sizes) < target
    snap = tbl.compact(target_file_size=target)
    assert snap is not None
    by_part = {}
    for f in tbl.meta.current_snapshot().live_files():
        by_part.setdefault(f.partition["part"], 0)
        by_part[f.partition["part"]] += 1
    assert max(by_part.values()) >= 2  # split happened
    assert tbl.to_df().count() == 4000


def test_expire_snapshots_gc(spark, tmp_path):
    tbl, snaps = _mk_table(spark, tmp_path, "t4")
    tbl.compact()
    pre_paths = {f.path for s in snaps for f in s.live_files()}
    live_paths = {f.path for f in tbl.meta.current_snapshot().live_files()}
    res = tbl.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] == 3
    assert res["deleted_data_files"] > 0
    # only the compacted layout remains in metadata
    assert len(tbl.meta.snapshots) == 1
    # files referenced only by expired snapshots are gone from disk;
    # live files intact
    for p in pre_paths - live_paths:
        assert not os.path.exists(p)
    for p in live_paths:
        assert os.path.exists(p)
    # time travel to an expired snapshot now fails
    with pytest.raises(ValueError):
        tbl.scan(snapshot_id=snaps[0].snapshot_id)
    assert tbl.to_df().count() == 300


def test_expire_keeps_manifests_shared_with_retained(spark, tmp_path):
    # appends REUSE the parent's manifests, so expiring snapshot 1 while
    # retaining snapshot 2 must not delete the shared manifest or its files
    tbl, snaps = _mk_table(spark, tmp_path, "t5", n_inserts=2)
    shared = set(snaps[0].manifest_paths) & set(snaps[1].manifest_paths)
    assert shared  # manifest-reuse is in effect
    res = tbl.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] == 1
    assert res["deleted_data_files"] == 0 and res["deleted_manifests"] == 0
    for p in shared:
        assert os.path.exists(p)
    assert tbl.to_df().count() == 300


def test_expire_older_than_keeps_recent(spark, tmp_path):
    tbl, snaps = _mk_table(spark, tmp_path, "t6")
    cutoff = snaps[0].timestamp_ms  # expire only the first snapshot
    res = tbl.expire_snapshots(older_than_ms=cutoff, retain_last=1)
    assert res["expired_snapshots"] == 1
    ids = {s.snapshot_id for s in tbl.meta.snapshots}
    assert snaps[0].snapshot_id not in ids
    assert snaps[1].snapshot_id in ids and snaps[2].snapshot_id in ids


def test_clustered_compact_enables_stats_pruning(spark, tmp_path):
    """compact(sort_by=...) must turn footer min/max stats into real file
    skipping on a NON-partition column (Iceberg write.sort-order shape)."""
    cat = Catalog(spark, str(tmp_path / "whc"))
    tbl = cat.create_table("tc", "k bigint, v bigint, part int", ["part"])
    src = spark.range(6000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 6000).alias("v"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    tbl.insert(src)
    files = tbl.meta.current_snapshot().live_files()
    expected = tbl.to_df().filter("v < 100").count()
    # pick a target that splits each partition's rewrite into ~4 files
    per_part_bytes = sum(f.file_size for f in files) // 3
    snap = tbl.compact(sort_by=["v"], target_file_size=per_part_bytes // 4)
    assert snap is not None and snap.operation == "replace"
    assert tbl.meta.properties["sort.order"] == "v"
    total = len(tbl.meta.current_snapshot().live_files())
    assert total >= 6  # the split actually happened
    scan = tbl.scan(where="v < 100")
    # sorted layout: at most one boundary-straddling file per partition
    assert scan.files_scanned <= 2 * 3
    assert scan.files_scanned < total
    assert scan.dataframe().count() == expected


def test_partition_evolution_mixed_specs(spark, tmp_path):
    """Old-spec and new-spec files coexist; per-file planning prunes each
    with whatever it has (partition tuple or footer min/max)."""
    cat = Catalog(spark, str(tmp_path / "whp"))
    tbl = cat.create_table(
        "tp", "k bigint, part int, region string", ["part"]
    )
    src = spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("part"),
        F.concat(F.lit("r"), F.col("id") % 2).alias("region"),
    )
    tbl.insert(src.filter(F.col("k") < 300))
    tbl.alter_partition_spec(["region"])
    tbl.insert(src.filter(F.col("k") >= 300))
    assert tbl.to_df().count() == 600

    files = tbl.meta.current_snapshot().live_files()
    specs = {frozenset(f.partition) for f in files}
    assert frozenset({"part"}) in specs and frozenset({"region"}) in specs

    # predicate on the OLD partition column: old files prune via partition
    # tuple, new files via footer min/max (may or may not skip — but never
    # lose rows)
    scan = tbl.scan(where="part = 1")
    assert scan.dataframe().count() == 200
    old_files_part1 = [
        f for f in files if f.partition.get("part") not in (None,) and f.partition["part"] != "1"
    ]
    planned = {f.path for f in scan.planned_files}
    assert not any(f.path in planned for f in old_files_part1)

    # predicate on the NEW partition column prunes new-spec files
    scan2 = tbl.scan(where="region = 'r0'")
    assert scan2.dataframe().count() == 300
    new_files_r1 = [f for f in files if f.partition.get("region") == "r1"]
    planned2 = {f.path for f in scan2.planned_files}
    assert new_files_r1 and not any(f.path in planned2 for f in new_files_r1)


def test_rollback_to_snapshot(spark, tmp_path):
    tbl, snaps = _mk_table(spark, tmp_path, "tr", n_inserts=2)
    assert tbl.to_df().count() == 300
    tbl.rollback_to(snaps[0].snapshot_id)
    assert tbl.to_df().count() == 150
    # rolled-over snapshot still time-travelable
    assert tbl.to_df(snapshot_id=snaps[1].snapshot_id).count() == 300
    # writes continue from the rolled-back state
    tbl.insert(
        tbl.spark.range(10).select(
            F.col("id").alias("k"), F.lit(1.0).alias("v"),
            F.lit(0).cast("int").alias("part"),
        )
    )
    assert tbl.to_df().count() == 160
    with pytest.raises(ValueError):
        tbl.rollback_to(12345)


def test_zorder_compact_prunes_on_both_columns(spark, tmp_path):
    """Morton clustering must make min/max skipping effective on EVERY
    z-order column — lexicographic sort would only help the leading one."""
    cat = Catalog(spark, str(tmp_path / "whz"))
    tbl = cat.create_table("tz", "k bigint, x bigint, y bigint, part int", ["part"])
    src = spark.range(20000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 1024).alias("x"),
        ((F.col("id") * 40503) % 1024).alias("y"),
        F.lit(0).cast("int").alias("part"),
    )
    tbl.insert(src)
    files = tbl.meta.current_snapshot().live_files()
    target = sum(f.file_size for f in files) // 16
    snap = tbl.compact(zorder_by=["x", "y"], target_file_size=target)
    assert snap is not None
    assert tbl.meta.properties["sort.order"] == "zorder(x,y)"
    total = len(tbl.meta.current_snapshot().live_files())
    assert total >= 8
    for col in ("x", "y"):
        scan = tbl.scan(where=f"{col} < 128")
        # an eighth of the value space must not touch most files
        assert scan.files_scanned <= total // 2, (col, scan.files_scanned, total)
        assert scan.dataframe().count() == src.filter(f"{col} < 128").count()
    with pytest.raises(Exception):
        tbl.compact(sort_by=["x"], zorder_by=["y"])


def test_zorder_refuses_user_column_named_zsort(spark, tmp_path):
    """The z-order rewrite projects its sort key as ``__zsort``; a table
    column of that name must stop the rewrite, not be overwritten."""
    cat = Catalog(spark, str(tmp_path / "whzs"))
    tbl = cat.create_table("tzs", "x bigint, y bigint, __zsort bigint, part int", ["part"])
    tbl.insert(
        spark.range(50).select(
            F.col("id").alias("x"), (F.col("id") % 7).alias("y"),
            (F.col("id") * 10).alias("__zsort"), F.lit(0).cast("int").alias("part"),
        )
    )
    before = tbl.meta.current_snapshot().snapshot_id
    with pytest.raises(TableValidationError, match="__zsort"):
        tbl.compact(zorder_by=["x", "y"])
    assert tbl.meta.current_snapshot().snapshot_id == before


def test_optimize_and_vacuum_sql_verbs(spark, tmp_path):
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "whsql"))
    eng.sql("CREATE TABLE tsql (k bigint, x bigint, part int) USING parquet "
            "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)")
    spark.range(900).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7919) % 900).alias("x"),
        (F.col("id") % 3).cast("int").alias("part"),
    ).createOrReplaceTempView("tsql_src")
    eng.sql("INSERT INTO tsql SELECT * FROM tsql_src")
    eng.sql("INSERT INTO tsql SELECT k + 900, x, part FROM tsql_src")

    row = eng.sql("OPTIMIZE tsql").collect()[0]
    assert row.rewritten and row.files_added < row.files_removed
    assert eng.sql("SELECT count(*) AS n FROM tsql").collect()[0].n == 1800

    row = eng.sql("OPTIMIZE tsql ZORDER BY (k, x)").collect()[0]
    assert row.rewritten
    assert eng.table("tsql").meta.properties["sort.order"] == "zorder(k,x)"

    row = eng.sql("VACUUM tsql RETAIN 1 SNAPSHOTS").collect()[0]
    assert row.expired_snapshots == 3 and row.deleted_data_files > 0
    assert eng.sql("SELECT count(*) AS n FROM tsql").collect()[0].n == 1800
    assert eng.sql(
        "SELECT count(*) AS n FROM `tsql$snapshots`"
    ).collect()[0].n == 1


# ----------------------------------------------------------------- tags --


def test_tag_time_travel_and_gc_pin(spark, tmp_path):
    """A tag is a durable time-travel anchor: `as of '<tag>'` resolves to
    the pinned snapshot forever, and expire_snapshots must NOT GC it even
    when retention would."""
    tbl, snaps = _mk_table(spark, tmp_path, "t_tags")
    n_first = tbl.to_df(snapshot_id=snaps[0].snapshot_id).count()
    tbl.create_tag("v1", snaps[0].snapshot_id)

    # tag resolution through the scan API
    assert tbl.to_df(ref="v1").count() == n_first
    with pytest.raises(ValueError):
        tbl.scan(ref="nope")
    with pytest.raises(ValueError):
        tbl.create_tag("v1")  # duplicate

    # retention would expire snaps[0] and snaps[1]; the tag pins snaps[0]
    gc = tbl.expire_snapshots(retain_last=1)
    assert gc["expired_snapshots"] == 1  # only the untagged middle snapshot
    assert {s.snapshot_id for s in tbl.meta.snapshots} == {
        snaps[0].snapshot_id,
        snaps[2].snapshot_id,
    }
    assert tbl.to_df(ref="v1").count() == n_first  # files intact

    # dropping the tag releases the pin (no data files die: the append
    # chain's current snapshot still references snaps[0]'s files)
    tbl.drop_tag("v1")
    gc = tbl.expire_snapshots(retain_last=1)
    assert gc["expired_snapshots"] == 1
    assert [s.snapshot_id for s in tbl.meta.snapshots] == [snaps[2].snapshot_id]
    with pytest.raises(ValueError):
        tbl.scan(ref="v1")


def test_tag_sql_surface(spark, tmp_path):
    """`as of '<tag>' SELECT ...` and the `$refs` view through Engine.sql."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_sql"))
    eng.sql(
        "CREATE TABLE tt (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    src = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    src.createOrReplaceTempView("tt_src")
    eng.sql("INSERT INTO tt SELECT * FROM tt_src")
    eng.table("tt").create_tag("baseline")
    eng.sql("INSERT INTO tt SELECT * FROM tt_src")

    assert eng.sql("SELECT count(*) AS n FROM tt").collect()[0][0] == 200
    assert (
        eng.sql("as of 'baseline' SELECT count(*) AS n FROM tt").collect()[0][0]
        == 100
    )
    refs = eng.sql("SELECT * FROM `tt$refs`").collect()
    assert len(refs) == 1
    assert refs[0]["name"] == "baseline" and refs[0]["type"] == "tag"
    assert refs[0]["snapshotId"] == eng.table("tt").meta.refs["baseline"]["snapshot_id"]


def test_branch_write_audit_publish(spark, tmp_path):
    """Branch = writable ref: appends advance the branch head only; main is
    untouched until fast_forward (the WAP staging flow). Branch heads are
    pinned against expire GC; overwrites on branches are rejected."""
    tbl, snaps = _mk_table(spark, tmp_path, "t_branch", n_inserts=1)
    n_main = tbl.to_df().count()
    tbl.create_branch("audit")

    src = spark.range(500, 550).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    bsnap = tbl.insert(src, branch="audit")
    # main unchanged; branch sees staged rows
    assert tbl.to_df().count() == n_main
    assert tbl.to_df(ref="audit").count() == n_main + 50
    assert tbl.meta.refs["audit"]["snapshot_id"] == bsnap.snapshot_id
    assert bsnap.parent_id == snaps[0].snapshot_id

    # overwrite on a branch is rejected
    from icebergsql_spark.table import TableValidationError

    with pytest.raises(TableValidationError):
        tbl.insert(src, overwrite=True, branch="audit")

    # expire must not GC the staged branch head
    gc = tbl.expire_snapshots(retain_last=1)
    assert tbl.to_df(ref="audit").count() == n_main + 50

    # publish: fast-forward main to the audited branch head
    tbl.fast_forward("audit")
    assert tbl.to_df().count() == n_main + 50
    # second branch append chains off the new head
    b2 = tbl.insert(src.withColumn("k", F.col("k") + 1000), branch="audit")
    assert b2.parent_id == bsnap.snapshot_id
    assert tbl.to_df(ref="audit").count() == n_main + 100
    assert tbl.to_df().count() == n_main + 50


def test_branch_sql_surface(spark, tmp_path):
    """ALTER TABLE CREATE/DROP BRANCH|TAG, INSERT INTO ... BRANCH, and
    FAST FORWARD through Engine.sql — the WAP flow without Python calls."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_br"))
    eng.sql(
        "CREATE TABLE tb (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    src = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    src.createOrReplaceTempView("tb_src")
    eng.sql("INSERT INTO tb SELECT * FROM tb_src")
    eng.sql("ALTER TABLE tb CREATE BRANCH staging")
    eng.sql("INSERT INTO tb BRANCH staging SELECT * FROM tb_src")

    # main untouched; branch audited via as-of; $refs shows the branch
    assert eng.sql("SELECT count(*) AS n FROM tb").collect()[0][0] == 100
    assert (
        eng.sql("as of 'staging' SELECT count(*) AS n FROM tb").collect()[0][0]
        == 200
    )
    refs = {r["name"]: r for r in eng.sql("SELECT * FROM `tb$refs`").collect()}
    assert refs["staging"]["type"] == "branch"

    ff = eng.sql("ALTER TABLE tb FAST FORWARD staging").collect()
    assert ff[0]["branch"] == "staging"
    assert eng.sql("SELECT count(*) AS n FROM tb").collect()[0][0] == 200

    eng.sql("ALTER TABLE tb DROP BRANCH staging")
    with pytest.raises(ValueError):
        eng.table("tb").scan(ref="staging")

    # tag verbs ride the same rule, with AS OF VERSION pinning
    tbl = eng.table("tb")
    first = tbl.meta.snapshots[0].snapshot_id
    eng.sql(f"ALTER TABLE tb CREATE TAG v0 AS OF VERSION {first}")
    assert eng.sql("as of 'v0' SELECT count(*) AS n FROM tb").collect()[0][0] == 100


def test_zorder_rank_beats_linear_on_skew(spark, tmp_path):
    """With a heavy-tailed column, linear min/max normalization collapses
    most rows into a few curve cells (the skewed column's per-file ranges
    stay wide → no skipping); equi-depth rank bins must restore file
    skipping on BOTH columns — and never change results."""
    cat = Catalog(spark, str(tmp_path / "whzr"))
    tbl = cat.create_table(
        "tzr", "k bigint, x bigint, y bigint, part int", ["part"]
    )
    # x: 99% of rows in [0, 100), a thin tail out to ~1e9 → linear
    # normalization maps almost everything to rank 0
    src = spark.range(20000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 100 < 99, (F.col("id") * 2654435761) % 100)
        .otherwise((F.col("id") * 2654435761) % 1_000_000_000)
        .alias("x"),
        ((F.col("id") * 40503) % 1024).alias("y"),
        F.lit(0).cast("int").alias("part"),
    )
    tbl.insert(src)
    files = tbl.meta.current_snapshot().live_files()
    target = sum(f.file_size for f in files) // 16
    snap = tbl.compact(zorder_by=["x", "y"], zorder_rank=True, target_file_size=target)
    assert snap is not None
    assert tbl.meta.properties["sort.order"] == "zorder_rank(x,y)"
    total = len(tbl.meta.current_snapshot().live_files())
    assert total >= 8
    # the dense region (a tiny slice of the VALUE range but ~half the data
    # mass) must now be separable: a median-splitting predicate on the
    # skewed column skips at least a third of the files
    scan = tbl.scan(where="x < 50")
    assert scan.files_scanned <= (2 * total) // 3, (scan.files_scanned, total)
    assert scan.dataframe().count() == src.filter("x < 50").count()
    # and the non-skewed column keeps its skipping too
    scan_y = tbl.scan(where="y < 128")
    assert scan_y.files_scanned <= (2 * total) // 3
    assert scan_y.dataframe().count() == src.filter("y < 128").count()


def test_changes_hops_over_replace_snapshot(spark, tmp_path):
    """Incremental read survives OPTIMIZE: insert -> compact -> insert;
    changes() across the compaction returns exactly the second insert's
    rows (a 'replace' preserves the rowset, so the append chain hops it).
    Without this, one compaction permanently broke incremental consumers
    (e.g. the IVM rollup pattern in plans/managed.py)."""
    tbl, snaps = _mk_table(spark, tmp_path, "chg", n_inserts=2, rows=200)
    s1 = snaps[0]
    comp = tbl.compact()
    assert comp is not None and comp.operation == "replace"
    src2 = spark.range(1000, 1100).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    tbl.insert(src2)

    # across [s1 .. current]: the 2nd initial insert + the post-compact one
    delta = tbl.changes(s1.snapshot_id)
    ks = {r.k for r in delta.select("k").collect()}
    expect = {k for k in range(200) if k % 2 == 1} | set(range(1000, 1100))
    assert ks == expect

    # a range that ENDS at the compaction snapshot: only the 2nd insert
    delta2 = tbl.changes(s1.snapshot_id, comp.snapshot_id)
    assert {r.k for r in delta2.select("k").collect()} == {
        k for k in range(200) if k % 2 == 1
    }

    # overwrite still refuses
    import pyspark.sql.functions as SF
    ow = spark.createDataFrame([(5,)], "k bigint").select(
        "k", SF.lit(1.0).alias("v"), SF.lit(0).cast("int").alias("part")
    )
    tbl.insert(ow, overwrite=True)
    import pytest as _pt
    with _pt.raises(ValueError, match="non-append"):
        tbl.changes(s1.snapshot_id)


def test_files_metadata_view_sql(spark, tmp_path):
    """`t$files` view: one row per live data file with partition JSON and
    manifest-recorded counts — queryable with any SQL shape."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_files"))
    eng.sql(
        "CREATE TABLE tf (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    src = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    src.createOrReplaceTempView("tf_src")
    eng.sql("INSERT INTO tf SELECT * FROM tf_src")

    tbl = eng.table("tf")
    live = tbl.meta.current_snapshot().live_files()
    rows = eng.sql(
        "SELECT partition, sum(record_count) AS rc, count(*) AS n "
        "FROM `tf$files` GROUP BY partition ORDER BY partition"
    ).collect()
    assert sum(r["n"] for r in rows) == len(live)
    assert sum(r["rc"] for r in rows) == 100
    assert {r["partition"] for r in rows} == {'{"part": "0"}', '{"part": "1"}'}


def test_partitions_metadata_view_sql(spark, tmp_path):
    """`t$partitions` view: one row per live partition with file/record/
    byte totals — the skew-inspection surface, answered from manifests
    with zero data IO, consistent with `t$files`."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_parts"))
    eng.sql(
        "CREATE TABLE tp (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    src = spark.range(90).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("part")
    )
    src.createOrReplaceTempView("tp_src")
    eng.sql("INSERT INTO tp SELECT * FROM tp_src")
    eng.sql("INSERT INTO tp SELECT * FROM tp_src")  # 2 files per partition

    rows = eng.sql(
        "SELECT partition, file_count, record_count, total_size "
        "FROM `tp$partitions` ORDER BY partition"
    ).collect()
    assert len(rows) == 3
    assert all(r["file_count"] >= 2 for r in rows)
    assert sum(r["record_count"] for r in rows) == 180
    assert all(r["total_size"] > 0 for r in rows)

    # agrees with the $files view aggregated the long way
    agg = eng.sql(
        "SELECT partition, count(*) AS fc, sum(record_count) AS rc "
        "FROM `tp$files` GROUP BY partition"
    ).collect()
    by_part = {r["partition"]: (r["fc"], r["rc"]) for r in agg}
    for r in rows:
        assert by_part[r["partition"]] == (r["file_count"], r["record_count"])


def test_remove_orphan_files(spark, tmp_path):
    """Orphan cleanup: junk files in the data dir (failed-write debris)
    older than the grace window are removed; every referenced file — live
    or kept-for-time-travel — survives, and so do young orphans."""
    import os
    import time as _time

    from icebergsql_spark.table import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh_orph"))
    tbl = catalog.create_table(
        "t_orph", "k bigint, part int", partition_cols=["part"]
    )
    src = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    tbl.insert(src)
    tbl.insert(src, overwrite=True)  # first commit's files stay tracked

    data_dir = tbl.meta.data_dir
    old_orphan = os.path.join(data_dir, "deadbeef0000", "part=0", "junk.parquet")
    os.makedirs(os.path.dirname(old_orphan), exist_ok=True)
    open(old_orphan, "wb").write(b"not really parquet")
    past = _time.time() - 10 * 24 * 3600
    os.utime(old_orphan, (past, past))
    young_orphan = os.path.join(data_dir, "deadbeef0001", "fresh.parquet")
    os.makedirs(os.path.dirname(young_orphan), exist_ok=True)
    open(young_orphan, "wb").write(b"in-flight write")

    before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(data_dir)
        for f in fs
        if "deadbeef" not in r
    }
    removed = tbl.remove_orphan_files()
    assert removed == 1
    assert not os.path.exists(old_orphan)
    assert os.path.exists(young_orphan)  # grace window protects it
    after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(data_dir)
        for f in fs
        if "deadbeef" not in r
    }
    assert after == before  # no referenced file touched
    # table still reads, including time travel to the pre-overwrite snapshot
    assert tbl.to_df().count() == 40
    first = tbl.meta.snapshots[0]
    assert tbl.scan(snapshot_id=first.snapshot_id) is not None


def test_set_unset_tblproperties_sql(spark, tmp_path):
    """ALTER TABLE SET/UNSET TBLPROPERTIES: metadata-only, validated, and
    newly-enabled bloom columns take effect for subsequent writes."""
    from icebergsql_spark.sql import Engine
    from icebergsql_spark.table import TableValidationError

    eng = Engine(spark, str(tmp_path / "wh_props"))
    eng.sql(
        "CREATE TABLE tpr (k BIGINT, v DOUBLE, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    out = eng.sql(
        "ALTER TABLE tpr SET TBLPROPERTIES "
        "('bloom.filter.columns'='k', 'owner'='pipeline')"
    ).collect()
    props = {r["key"]: r["value"] for r in out}
    assert props["bloom.filter.columns"] == "k"
    assert props["owner"] == "pipeline"

    tbl = eng.table("tpr")
    src = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"),
        F.lit(0).cast("int").alias("part"),
    )
    tbl.insert(src.coalesce(1))
    f = tbl.meta.current_snapshot().live_files()[0]
    assert f.stats["k"].bloom is not None  # write-config applied

    out2 = eng.sql("ALTER TABLE tpr UNSET TBLPROPERTIES ('owner')").collect()
    assert "owner" not in {r["key"] for r in out2}

    # validation still bites through SQL
    import pytest as _pt
    with _pt.raises(TableValidationError, match="integer or string"):
        eng.sql("ALTER TABLE tpr SET TBLPROPERTIES ('bloom.filter.columns'='v')")
    with _pt.raises(TableValidationError, match="immutable"):
        eng.sql("ALTER TABLE tpr SET TBLPROPERTIES ('write.format'='orc')")


def test_vacuum_orphans_sql(spark, tmp_path):
    """VACUUM t ORPHANS OLDER THAN n HOURS drives remove_orphan_files."""
    import os
    import time as _time

    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_vo"))
    eng.sql(
        "CREATE TABLE tvo (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    tbl = eng.table("tvo")
    src = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0).cast("int").alias("part")
    )
    tbl.insert(src)
    junk = os.path.join(tbl.meta.data_dir, "deadc0de", "junk.parquet")
    os.makedirs(os.path.dirname(junk), exist_ok=True)
    open(junk, "wb").write(b"x")
    past = _time.time() - 7200
    os.utime(junk, (past, past))
    n = eng.sql("VACUUM tvo ORPHANS OLDER THAN 1 HOURS").collect()[0][0]
    assert n == 1
    assert not os.path.exists(junk)
    assert tbl.to_df().count() == 10


def test_set_write_format_effective_noop_allowed(spark, tmp_path):
    """SET TBLPROPERTIES('write.format'='parquet') on a table using the
    parquet DEFAULT is an effective no-op and must not raise; changing the
    effective format must still be rejected."""
    from icebergsql_spark.table import Catalog, TableValidationError

    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("t", "k bigint, v double, p int", partition_cols=["p"])
    t.set_properties({"write.format": "parquet"})  # effective no-op
    with pytest.raises(TableValidationError, match="immutable"):
        t.set_properties({"write.format": "orc"})
    # unsetting back to the default is also an effective no-op
    t.set_properties(unset=["write.format"])


def test_remove_orphan_files_distributed(spark, tmp_path, monkeypatch):
    """distributed=True (executor-side listing + anti-join + delete) makes
    the same decisions as the driver-side walk: old orphans removed,
    referenced files and young orphans survive. The driver must never
    materialize the referenced-path set: any driver-side Manifest parse
    in table.py is a failure (executors import the real class in their
    own worker processes, untouched by this monkeypatch)."""
    import os
    import time as _time

    import icebergsql_spark.table as table_mod
    from icebergsql_spark.table import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh_orphd"))
    tbl = catalog.create_table(
        "t_orphd", "k bigint, part int", partition_cols=["part"]
    )
    src = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    tbl.insert(src)
    tbl.insert(src, overwrite=True)

    data_dir = tbl.meta.data_dir
    old1 = os.path.join(data_dir, "deadbeef0000", "part=0", "junk.parquet")
    old2 = os.path.join(data_dir, "deadbeef0000", "part=1", "junk2.parquet")
    for p in (old1, old2):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "wb").write(b"not really parquet")
        past = _time.time() - 10 * 24 * 3600
        os.utime(p, (past, past))
    young = os.path.join(data_dir, "deadbeef0001", "fresh.parquet")
    os.makedirs(os.path.dirname(young), exist_ok=True)
    open(young, "wb").write(b"in-flight write")

    before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(data_dir)
        for f in fs
        if "deadbeef" not in r
    }
    class _NoDriverManifest:
        def __init__(self, *a, **kw):
            raise AssertionError(
                "driver-side Manifest parse during distributed orphan scan"
            )

    monkeypatch.setattr(table_mod, "Manifest", _NoDriverManifest)
    removed = tbl.remove_orphan_files(distributed=True)
    monkeypatch.undo()
    assert removed == 2
    assert not os.path.exists(old1) and not os.path.exists(old2)
    assert os.path.exists(young)
    after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(data_dir)
        for f in fs
        if "deadbeef" not in r
    }
    assert after == before
    assert tbl.to_df().count() == 40


def test_remove_orphan_files_distributed_plans_no_python_rdd(spark, tmp_path, monkeypatch):
    """The sweep's driver-side inputs (manifest paths, data subdirectories)
    are VALUES LocalRelations: its plan has no Python-RDD scan."""
    tbl = Catalog(spark, str(tmp_path / "wh_orph_plan")).create_table(
        "t_orph_plan", "k bigint, part int", partition_cols=["part"]
    )
    tbl.insert(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
        )
    )
    plans = []
    DataFrame = type(spark.range(1))
    collect = DataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    assert tbl.remove_orphan_files(distributed=True) == 0
    monkeypatch.undo()
    assert plans and all("LocalTableScan" in p for p in plans)
    assert not any("ExistingRDD" in p for p in plans)


def test_call_procedures(spark, tmp_path):
    """CALL [system.]<proc>(...) — Iceberg Spark-procedure parity:
    rollback/set-current/timestamp rollback, expire, rewrite_data_files,
    rewrite_position_deletes, remove_orphan_files, ancestors_of; named
    and positional argument forms."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_call"))
    eng.sql(
        "CREATE TABLE tc (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    ).createOrReplaceTempView("s_call")
    eng.sql("INSERT INTO tc SELECT * FROM s_call")
    eng.sql("INSERT INTO tc SELECT * FROM s_call")
    t = eng.catalog.load_table("tc")
    s1 = t.meta.snapshots[0].snapshot_id

    # ancestors_of walks the parent chain (named + positional args)
    anc = eng.sql("CALL system.ancestors_of('tc')").collect()
    assert [r["snapshot_id"] for r in anc][-1] == s1 and len(anc) == 2

    row = eng.sql(
        f"CALL system.rollback_to_snapshot(table => 'tc', snapshot_id => {s1})"
    ).collect()[0]
    assert row["current_snapshot_id"] == s1
    assert eng.sql("SELECT COUNT(*) AS n FROM tc").collect()[0]["n"] == 60

    # rollback_to_timestamp to far future = newest snapshot in history
    eng.sql("CALL system.rollback_to_timestamp('tc', '2999-01-01 00:00:00')")
    t.refresh()
    assert eng.sql("SELECT COUNT(*) AS n FROM tc").collect()[0]["n"] == 120

    # MoR delete + rewrite_position_deletes via CALL
    eng.sql(
        "ALTER TABLE tc SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    eng.sql("DELETE FROM tc WHERE k % 10 = 1")
    row = eng.sql(
        "CALL system.rewrite_position_deletes(table => 'tc')"
    ).collect()[0]
    assert row["rewritten_data_files_count"] > 0
    assert eng.sql("SELECT COUNT(*) AS n FROM tc").collect()[0]["n"] == 108

    row = eng.sql(
        "CALL rewrite_data_files(table => 'tc', min_input_files => 2)"
    ).collect()[0]
    assert row["added_data_files_count"] >= 0

    row = eng.sql(
        "CALL system.expire_snapshots(table => 'tc', retain_last => 1)"
    ).collect()[0]
    assert row["expired_snapshots"] > 0
    row = eng.sql(
        "CALL system.remove_orphan_files(table => 'tc', older_than_hours => 0)"
    ).collect()[0]
    assert row["orphan_file_count"] >= 0
    assert eng.sql("SELECT COUNT(*) AS n FROM tc").collect()[0]["n"] == 108

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown procedure"):
        eng.sql("CALL system.no_such_proc('tc')")
    with _pytest.raises(ValueError, match="unknown procedure argument"):
        eng.sql("CALL system.expire_snapshots(tbl => 'tc')")


def test_history_manifests_views_and_cherrypick(spark, tmp_path):
    """`t$history` (ancestor flags after rollback), `t$manifests`
    (per-manifest accounting), and CALL cherrypick_snapshot publishing a
    stale-parent WAP append onto the advanced head."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_hist"))
    eng.sql(
        "CREATE TABLE th (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    ).createOrReplaceTempView("s_h")
    eng.sql("INSERT INTO th SELECT * FROM s_h")
    eng.sql("INSERT INTO th SELECT * FROM s_h")
    t = eng.catalog.load_table("th")
    s1, s2 = (s.snapshot_id for s in t.meta.snapshots)

    # stage a WAP append on a branch rooted at s1, then advance main
    t.create_branch("audit", s1)
    spark.range(40, 50).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    ).createOrReplaceTempView("s_h2")
    eng.sql("INSERT INTO th BRANCH audit SELECT * FROM s_h2")
    t.refresh()
    staged = t.meta.refs["audit"]["snapshot_id"]
    assert t.to_df().count() == 80  # main untouched by the staged write

    row = eng.sql(
        f"CALL system.cherrypick_snapshot(table => 'th', snapshot_id => {staged})"
    ).collect()[0]
    t.refresh()
    assert row["source_snapshot_id"] == staged
    assert t.to_df().count() == 90
    cur = t.meta.current_snapshot()
    assert cur.summary.get("cherry-picked-from") == str(staged)
    # picking the same snapshot twice is rejected
    with pytest.raises(ValueError, match="already reachable"):
        t.cherrypick_snapshot(staged)

    hist = {
        r["snapshot_id"]: r
        for r in eng.sql("SELECT * FROM `th$history`").collect()
    }
    assert hist[s1]["is_current_ancestor"] and hist[s2]["is_current_ancestor"]
    assert not hist[staged]["is_current_ancestor"]  # branch commit itself
    assert hist[cur.snapshot_id]["operation"] == "append"

    man = eng.sql(
        "SELECT SUM(record_count) AS rc, SUM(added_data_files_count) AS fc "
        "FROM `th$manifests`"
    ).collect()[0]
    assert man["rc"] == 90
    assert man["fc"] == len(cur.live_files())


def test_partition_scoped_compaction(spark, tmp_path):
    """compact(where=...) / OPTIMIZE t WHERE ... rewrites only files the
    predicate admits — the compact-yesterday's-partition shape; content
    and untouched partitions' file sets are preserved."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_pc"))
    eng.sql(
        "CREATE TABLE pc (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("part")
    ).createOrReplaceTempView("pc_src")
    eng.sql("INSERT INTO pc SELECT * FROM pc_src")
    eng.sql("INSERT INTO pc SELECT * FROM pc_src")
    t = eng.catalog.load_table("pc")
    before = {
        f.path: tuple(sorted(f.partition.items()))
        for f in t.meta.current_snapshot().live_files()
    }
    expect = sorted(tuple(r) for r in t.to_df().collect())

    row = eng.sql("OPTIMIZE pc WHERE part = 2").collect()[0]
    assert row["rewritten"]
    t.refresh()
    after = {
        f.path: tuple(sorted(f.partition.items()))
        for f in t.meta.current_snapshot().live_files()
    }
    untouched_before = {p for p, pt in before.items() if pt != (("part", "2"),)}
    untouched_after = {p for p, pt in after.items() if pt != (("part", "2"),)}
    assert untouched_before == untouched_after  # only part=2 rewritten
    assert not (
        {p for p, pt in before.items() if pt == (("part", "2"),)}
        & {p for p, pt in after.items() if pt == (("part", "2"),)}
    )
    assert sorted(tuple(r) for r in t.to_df().collect()) == expect

    # CALL passthrough with where
    row = eng.sql(
        "CALL system.rewrite_data_files(table => 'pc', where => 'part = 1', "
        "min_input_files => 1)"
    ).collect()[0]
    assert row["rewritten_data_files_count"] >= 1
    t.refresh()
    assert sorted(tuple(r) for r in t.to_df().collect()) == expect


def test_sort_order_property_applies_to_subsequent_writes(spark, tmp_path):
    """After compact(sort_by=...) records sort.order, later INSERTs
    locally sort their task rows too: every new file is INTERNALLY
    ordered (parquet row-group/page min-max stays selective; the next
    compaction merges cheaply) — the layout decays gracefully instead of
    instantly."""
    from icebergsql_spark.table import Catalog

    cat = Catalog(spark, str(tmp_path / "wh_so"))
    t = cat.create_table(
        "tso", "k bigint, part int", partition_cols=["part"],
        properties={"write.distribution.cols": "part"},
    )
    src = spark.range(4000).select(
        (F.col("id") * 7919 % 4000).alias("k"),  # scrambled order
        F.lit(0).cast("int").alias("part"),
    )
    t.insert(src)
    t.compact(sort_by=["k"], min_input_files=1)
    assert t.meta.properties.get("sort.order") == "k"
    # fresh scrambled insert AFTER the order is recorded
    t.insert(
        spark.range(4000, 8000).select(
            ((F.col("id") - 4000) * 6101 % 4000 + 4000).alias("k"),
            F.lit(0).cast("int").alias("part"),
        )
    )
    new_files = [
        f
        for f in t.meta.current_snapshot().live_files()
        if f.stats.get("k") and f.stats["k"].min >= 4000
    ]
    assert new_files
    import pyarrow.parquet as pq

    for f in new_files:
        ks = pq.read_table(f.path, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks)  # internally ordered
    assert t.to_df().count() == 8000


def test_churn_then_full_maintenance(spark, tmp_path):
    """End-to-end maintenance after heavy MoR churn: DV deletes + eq
    deletes + upserts accumulate, then convert → rewrite → expire →
    distributed orphan sweep; every stage preserves the live rowset,
    restores the metadata count fast path, and physically drops the
    debris (DV/eq payload dirs under metadata/)."""
    import os

    from icebergsql_spark.table import Catalog

    cat = Catalog(spark, str(tmp_path / "wh_churn"))
    tbl = cat.create_table(
        "t_churn",
        "k bigint, v double, part int",
        partition_cols=["part"],
        properties={
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    tbl.insert(
        spark.range(400).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.0).alias("v"),
            (F.col("id") % 4).cast("int").alias("part"),
        )
    )
    for i in range(3):
        tbl.delete_where(f"k % 17 = {i}")
    tbl.delete_by_keys(
        spark.createDataFrame([(i,) for i in range(100, 120)], "k bigint"),
        ["k"],
    )
    tbl.upsert_by_keys(
        spark.createDataFrame(
            [(200, -1.0, 0), (999, 1.0, 3)], "k bigint, v double, part int"
        ),
        ["k"],
    )
    expect = sorted(tuple(r) for r in tbl.to_df().collect())
    assert tbl.scan().count_from_stats() is None  # honest under eq deletes

    tbl.convert_equality_deletes()
    assert tbl.scan().count_from_stats() == len(expect)
    tbl.rewrite_position_deletes()
    assert not tbl.meta.current_snapshot().dv_manifest_paths
    assert sorted(tuple(r) for r in tbl.to_df().collect()) == expect

    res = tbl.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] > 0
    removed = tbl.remove_orphan_files(older_than_s=0, distributed=True)
    assert removed >= 0  # data_dir sweep; rewritten originals already GC'd
    # MoR payload debris under metadata/ is gone after expire
    meta_dirs = [
        d
        for d in os.listdir(tbl.meta.metadata_dir)
        if d.startswith(("dv-data-", "eq-data-"))
    ]
    assert meta_dirs == [], meta_dirs
    assert sorted(tuple(r) for r in tbl.to_df().collect()) == expect
    assert tbl.scan().count_from_stats() == len(expect)


def test_rewrite_manifests_consolidates_metadata_only(spark, tmp_path):
    """rewrite_manifests (round 6): N commits -> N manifests; the rewrite
    commits a metadata-only 'replace' snapshot with ONE manifest, the
    identical live file/row set, preserved per-file sequence numbers
    (MoR equality masking unchanged), reused DV manifests, and intact
    time travel to the pre-rewrite layout."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_rwm"))
    eng.sql(
        "CREATE TABLE rwm (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    for i in range(5):
        spark.range(i * 20, (i + 1) * 20).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
        ).createOrReplaceTempView("rwm_src")
        eng.sql("INSERT INTO rwm SELECT * FROM rwm_src")
    t = eng.catalog.load_table("rwm")
    t.set_properties({"write.delete.mode": "merge-on-read"})
    t.delete_where("k % 7 = 0")          # DV debris must survive the rewrite
    t.delete_by_keys(
        spark.createDataFrame([(3,), (4,)], "k bigint")
    )                                     # eq debris + seq-sensitive masking
    pre = t.meta.current_snapshot()
    n_manifests = len(pre.manifest_paths)
    assert n_manifests >= 5
    live_before = t.live_row_count()
    files_before = {f.path for f in pre.live_files()}
    seqs_before = {f.path: f.seq for f in pre.live_files()}

    row = eng.sql("CALL system.rewrite_manifests(table => 'rwm')").collect()[0]
    assert row["rewritten_manifests_count"] == n_manifests
    assert row["added_manifests_count"] == 1
    t.refresh()
    cur = t.meta.current_snapshot()
    assert cur.operation == "replace" and len(cur.manifest_paths) == 1
    assert {f.path for f in cur.live_files()} == files_before
    assert {f.path: f.seq for f in cur.live_files()} == seqs_before
    assert t.live_row_count() == live_before
    assert sorted(r["k"] for r in t.to_df().select("k").collect()) == sorted(
        k for k in range(100) if k % 7 != 0 and k not in (3, 4)
    )
    # DV/eq manifests reused verbatim; time travel sees the old layout
    assert cur.dv_manifest_paths == pre.dv_manifest_paths
    assert cur.eq_manifest_paths == pre.eq_manifest_paths
    old = t.scan(snapshot_id=pre.snapshot_id)
    assert old.dataframe().count() == live_before
    assert len(pre.manifest_paths) == n_manifests
    # idempotent: a second run is a no-op and reports 0/0 like Iceberg's
    # procedure (no manifest was rewritten OR written)
    res2 = t.rewrite_manifests()
    assert res2 == {"rewritten_manifests": 0, "added_manifests": 0}


def test_expire_gcs_manifests_after_rewrite(spark, tmp_path):
    """After rewrite_manifests, the old per-commit manifests are only
    referenced by expired history — expire_snapshots must GC them while
    the consolidated manifest and every data file survive."""
    import os

    from icebergsql_spark.table import Catalog

    cat = Catalog(spark, str(tmp_path / "wh_rwgc"))
    t = cat.create_table("rwgc", "k bigint, part int", partition_cols=["part"])
    for i in range(4):
        t.insert(
            spark.range(i * 10, (i + 1) * 10).select(
                F.col("id").alias("k"),
                (F.col("id") % 2).cast("int").alias("part"),
            )
        )
    old_manifests = list(t.meta.current_snapshot().manifest_paths)
    t.rewrite_manifests()
    t.refresh()
    kept = set(t.meta.current_snapshot().manifest_paths)
    res = t.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] >= 4
    for p in old_manifests:
        assert not os.path.exists(p), p  # GC'd with the expired history
    for p in kept:
        assert os.path.exists(p)
    assert t.to_df().count() == 40  # data intact


def test_entries_view_status_and_provenance(spark, tmp_path):
    """Round-7 `$entries`: status 1 marks files ADDED by the current
    snapshot (seq equality), status 0 marks carried-forward entries, and
    snapshot_id recovers the adding commit via the seq->snapshot map."""
    tbl, snaps = _mk_table(spark, tmp_path, "te", n_inserts=2)
    rows = tbl.entries_df().collect()
    assert rows, "entries must be non-empty"
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r)
    cur = tbl.meta.current_snapshot()
    added = {f.path for f in cur.live_files() if f.seq == cur.sequence_number}
    assert {r["file_path"] for r in by_status[1]} == added
    for r in rows:
        snap = tbl.meta.snapshot_by_id(r["snapshot_id"])
        assert snap is not None and snap.sequence_number == r["sequence_number"]
    # entries cover exactly the live set
    assert sum(r["record_count"] for r in rows) == tbl.live_row_count()


def test_all_files_spans_eras_and_shrinks_after_expire(spark, tmp_path):
    """`$all_files` carries both pre- and post-compaction eras (non-live
    rows = expire's GC candidates); after expire retires the old
    snapshots, the view shrinks to the live set only."""
    tbl, snaps = _mk_table(spark, tmp_path, "taf", n_inserts=2, rows=200)
    n = tbl.live_row_count()
    tbl.compact()
    af = tbl.all_files_df().collect()
    live = [r for r in af if r["is_live"]]
    dead = [r for r in af if not r["is_live"]]
    assert dead, "pre-compaction files must appear as non-live"
    assert sum(r["record_count"] for r in live) == n
    assert sum(r["record_count"] for r in dead) == n  # the old era
    tbl.expire_snapshots(retain_last=1)
    af2 = tbl.all_files_df().collect()
    assert all(r["is_live"] for r in af2)
    assert sum(r["record_count"] for r in af2) == n


def test_rewrite_manifests_branch_scoped(spark, tmp_path):
    """Round-7 branch-scoped maintenance: rewrite_manifests(branch=...)
    consolidates the BRANCH head's manifest list and advances the branch
    ref; main's head and manifest list are untouched."""
    tbl, snaps = _mk_table(spark, tmp_path, "tbm", n_inserts=3)
    main_before = tbl.meta.current_snapshot_id
    tbl.create_branch("audit")
    src = spark.range(300, 340).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    tbl.insert(src, branch="audit")
    tbl.refresh()
    head = tbl.meta.snapshot_by_id(tbl.meta.refs["audit"]["snapshot_id"])
    old_n = len(head.manifest_paths)
    assert old_n >= 2
    rep = tbl.rewrite_manifests(branch="audit")
    assert rep == {"rewritten_manifests": old_n, "added_manifests": 1}
    tbl.refresh()
    new_head = tbl.meta.snapshot_by_id(tbl.meta.refs["audit"]["snapshot_id"])
    assert new_head.operation == "replace"
    assert len(new_head.manifest_paths) == 1
    assert tbl.meta.current_snapshot_id == main_before  # main untouched
    # branch rows identical through the consolidation
    assert tbl.to_df(ref="audit").count() == 340
    with pytest.raises(ValueError, match="unknown branch"):
        tbl.rewrite_manifests(branch="nope")


def test_snapshot_totals_incremental_match_recompute(spark, tmp_path):
    """Running summary totals (round 7) stay exact through insert /
    delete / compact: total-records == sum over live files, and the
    O(1) incremental path agrees with a from-scratch recompute."""
    tbl, snaps = _mk_table(spark, tmp_path, "tst", n_inserts=3)
    tbl.delete_where("k % 5 = 0")
    tbl.compact()
    tbl.refresh()
    for s in tbl.meta.snapshots:
        assert int(s.summary["total-records"]) == sum(
            f.record_count for f in s.live_files()
        )
        assert int(s.summary["total-data-files"]) == len(s.live_files())


def test_branch_retention_protects_ancestry(spark, tmp_path):
    """expire_snapshots keeps a branch head's ANCESTRY up to the ref's
    min_snapshots_to_keep while unreferenced main-line ancestors age out
    (Iceberg per-ref branch retention)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    tbl = cat.create_table("br", DDL, ["part"])
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    s1 = tbl.insert(mk(0, 30))
    s2 = tbl.insert(mk(30, 60))
    tbl.create_tag("pin", s1.snapshot_id)
    tbl.create_branch("audit", s2.snapshot_id, min_snapshots_to_keep=2)
    s3 = tbl.insert(mk(60, 90), branch="audit")     # branch head
    s4 = tbl.insert(mk(90, 120))                    # main
    s5 = tbl.insert(mk(120, 150), overwrite=True)   # main overwrite

    res = tbl.expire_snapshots(retain_last=1)
    tbl.refresh()
    ids = {s.snapshot_id for s in tbl.meta.snapshots}
    # kept: current s5, tag s1, branch head s3 + 1 ancestor (s2 via
    # min_snapshots_to_keep=2); expired: s4 (overwritten, unreferenced)
    assert ids == {s1.snapshot_id, s2.snapshot_id, s3.snapshot_id,
                   s5.snapshot_id}
    assert res["expired_snapshots"] == 1
    # s4's files were only reachable from s4 → GC'd
    assert res["deleted_data_files"] >= 1
    # every surviving lineage still scans
    assert tbl.to_df().count() == 30                       # main (overwrite)
    assert tbl.to_df(ref="pin").count() == 30              # tag
    assert tbl.to_df(ref="audit").count() == 90            # branch lineage
    assert tbl.to_df(snapshot_id=s2.snapshot_id).count() == 60
    # $refs surfaces the retention policy
    refs = {r["name"]: r for r in tbl.refs_df().collect()}
    assert refs["audit"]["minSnapshotsToKeep"] == 2
    assert refs["pin"]["minSnapshotsToKeep"] is None


# ------------------------------------------------- per-ref retention --


def test_max_ref_age_expires_ref_and_releases_pin(spark, tmp_path):
    """Iceberg max-ref-age-ms: an aged-out ref expires WITH the
    maintenance pass, so the snapshot it pinned ages out normally."""
    tbl, snaps = _mk_table(spark, tmp_path, "t_refage")
    tbl.create_tag("old_pin", snaps[0].snapshot_id)
    tbl.set_ref_retention("old_pin", max_ref_age_ms=1000)
    head_ts = tbl.meta.snapshot_by_id(snaps[0].snapshot_id).timestamp_ms

    # within the age window: ref survives, pin holds
    res = tbl.expire_snapshots(retain_last=1, now_ms=head_ts + 500)
    assert res["expired_refs"] == 0
    assert "old_pin" in tbl.meta.refs
    assert snaps[0].snapshot_id in {s.snapshot_id for s in tbl.meta.snapshots}

    # past the age window: ref expires and its snapshot GCs in the SAME
    # pass
    res = tbl.expire_snapshots(retain_last=1, now_ms=head_ts + 5000)
    assert res["expired_refs"] == 1
    assert "old_pin" not in tbl.meta.refs
    assert snaps[0].snapshot_id not in {
        s.snapshot_id for s in tbl.meta.snapshots
    }


def test_max_ref_age_commits_even_without_snapshot_expiry(spark, tmp_path):
    """Ref expiry must land in metadata even when every snapshot
    survives the pass (the pin removal is itself a durable change)."""
    tbl, snaps = _mk_table(spark, tmp_path, "t_refonly", n_inserts=1)
    tbl.create_tag("pin", snaps[0].snapshot_id)
    tbl.set_ref_retention("pin", max_ref_age_ms=10)
    head_ts = tbl.meta.snapshot_by_id(snaps[0].snapshot_id).timestamp_ms
    res = tbl.expire_snapshots(retain_last=5, now_ms=head_ts + 99999)
    assert res["expired_snapshots"] == 0 and res["expired_refs"] == 1
    tbl.refresh()
    assert "pin" not in tbl.meta.refs


def test_branch_max_snapshot_age_window(spark, tmp_path):
    """Branch ancestry keeps min-snapshots-to-keep OR-age semantics: an
    ancestor younger than max-snapshot-age-ms survives even past the
    count window; older ancestors age out."""
    tbl, snaps = _mk_table(spark, tmp_path, "t_brage", n_inserts=4)
    tbl.create_branch("audit", snaps[3].snapshot_id, min_snapshots_to_keep=1)
    ts = {s.snapshot_id: tbl.meta.snapshot_by_id(s.snapshot_id).timestamp_ms
          for s in snaps}
    # age cutoff chosen between snaps[1] and snaps[2]: with the head
    # always kept, the age clause must additionally keep snaps[2] (and
    # snaps[3]) while snaps[0] and snaps[1] fall out
    cutoff_now = ts[snaps[2].snapshot_id] + 1000
    tbl.set_ref_retention(
        "audit", max_snapshot_age_ms=cutoff_now - ts[snaps[2].snapshot_id]
    )
    res = tbl.expire_snapshots(retain_last=1, now_ms=cutoff_now)
    kept = {s.snapshot_id for s in tbl.meta.snapshots}
    assert snaps[3].snapshot_id in kept and snaps[2].snapshot_id in kept
    assert snaps[0].snapshot_id not in kept
    assert snaps[1].snapshot_id not in kept
    assert res["expired_snapshots"] == 2


def test_ref_retention_validation(spark, tmp_path):
    tbl, snaps = _mk_table(spark, tmp_path, "t_refval", n_inserts=1)
    tbl.create_tag("v1", snaps[0].snapshot_id)
    with pytest.raises(ValueError):
        tbl.set_ref_retention("v1", min_snapshots_to_keep=3)  # tag
    with pytest.raises(ValueError):
        tbl.set_ref_retention("v1", max_snapshot_age_ms=10)  # tag
    with pytest.raises(ValueError):
        tbl.set_ref_retention("nope", max_ref_age_ms=10)  # unknown ref


# --------------------------------------------------- $metadata_log --


def test_metadata_log_view(spark, tmp_path):
    """`$metadata_log` is the audit trail of the metadata POINTER: one row
    per committed metadata.json version, monotone timestamps/versions,
    and the final row reflects the current snapshot/sequence state."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_mlog"))
    spark.sql("DROP TABLE IF EXISTS ml_log_audit")
    eng.sql(
        "CREATE TABLE ml_log_audit (k INT, v DOUBLE, part INT) "
        "USING parquet OPTIONS (addTableManagement 'true') "
        "PARTITIONED BY (part)"
    )
    try:
        for i in range(3):
            eng.sql(f"INSERT INTO ml_log_audit VALUES ({i}, {i}.5, {i})")
        tbl = eng.catalog.load_table("ml_log_audit")
        log = eng.sql("SELECT * FROM `ml_log_audit$metadata_log`").collect()
        # create + 3 inserts = at least 4 metadata versions
        assert len(log) >= 4
        files = [r["file"] for r in log]
        assert files == sorted(
            files, key=lambda p: int(p.rsplit("v", 1)[1].split(".")[0])
        )
        ts = [r["timestamp_ms"] for r in log]
        assert ts == sorted(ts)
        last = log[-1]
        assert last["latest_snapshot_id"] == tbl.meta.current_snapshot_id
        assert (
            last["latest_sequence_number"]
            == tbl.meta.current_snapshot().sequence_number
        )
        # earliest version predates any snapshot
        assert log[0]["latest_snapshot_id"] is None
    finally:
        spark.sql("DROP TABLE IF EXISTS ml_log_audit")


def test_create_ref_retention_sql_surface(spark, tmp_path):
    """Iceberg's CREATE TAG/BRANCH retention clauses through Engine.sql:
    RETAIN bounds the ref's lifetime; WITH SNAPSHOT RETENTION sets the
    branch ancestry window — all land as $refs-visible policy fields."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_refsql"))
    eng.sql(
        "CREATE TABLE rt (k BIGINT, part INT) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (part)"
    )
    src = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    src.createOrReplaceTempView("rt_src")
    eng.sql("INSERT INTO rt SELECT * FROM rt_src")
    eng.sql("ALTER TABLE rt CREATE TAG pin RETAIN 3 DAYS")
    eng.sql(
        "ALTER TABLE rt CREATE BRANCH audit RETAIN 12 HOURS "
        "WITH SNAPSHOT RETENTION 2 SNAPSHOTS 30 MINUTES"
    )
    refs = {r["name"]: r for r in eng.sql("SELECT * FROM `rt$refs`").collect()}
    assert refs["pin"]["maxRefAgeMs"] == 3 * 86_400_000
    assert refs["pin"]["minSnapshotsToKeep"] is None
    assert refs["audit"]["maxRefAgeMs"] == 12 * 3_600_000
    assert refs["audit"]["minSnapshotsToKeep"] == 2
    assert refs["audit"]["maxSnapshotAgeMs"] == 30 * 60_000
    # snapshot-retention clauses are branch-only
    with pytest.raises(ValueError):
        eng.sql(
            "ALTER TABLE rt CREATE TAG bad WITH SNAPSHOT RETENTION "
            "2 SNAPSHOTS"
        )
    # plain forms unaffected
    eng.sql("ALTER TABLE rt CREATE TAG plain")
    refs2 = {
        r["name"]: r for r in eng.sql("SELECT * FROM `rt$refs`").collect()
    }
    assert refs2["plain"]["maxRefAgeMs"] is None


def test_lineage_view_closure_and_branch(spark, tmp_path):
    """$lineage exports the ancestor closure of every snapshot; the
    is_current rows replay CALL ancestors_of; branch heads appear with
    their own chains and is_current=false."""
    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_lin"))
    t = eng.catalog.create_table("lin_t", "k bigint, p int", ["p"])
    s1 = t.insert(spark.sql("SELECT id AS k, CAST(id % 2 AS INT) AS p FROM range(10)"))
    s2 = t.insert(spark.sql("SELECT id + 10 AS k, CAST(id % 2 AS INT) AS p FROM range(10)"))
    t.create_branch("b")
    sb = t.insert(
        spark.sql("SELECT id + 50 AS k, CAST(id % 2 AS INT) AS p FROM range(5)"),
        branch="b",
    )
    lin = {(r["snapshot_id"], r["ancestor_id"], r["depth"]): r for r in t.lineage_df().collect()}
    # head chain == procedure output
    head = [
        r["ancestor_id"]
        for r in sorted(
            (r for r in t.lineage_df().collect() if r["is_current"]),
            key=lambda r: r["depth"],
        )
    ]
    proc = [
        r["snapshot_id"]
        for r in eng.sql("CALL system.ancestors_of(table => 'lin_t')").collect()
    ]
    assert head == proc == [s2.snapshot_id, s1.snapshot_id]
    # branch commit has its own 3-deep chain, not current
    assert (sb.snapshot_id, sb.snapshot_id, 0) in lin
    assert (sb.snapshot_id, s2.snapshot_id, 1) in lin
    assert (sb.snapshot_id, s1.snapshot_id, 2) in lin
    assert not lin[(sb.snapshot_id, sb.snapshot_id, 0)]["is_current"]
    # SQL-front-door spelling works and joins against $history
    n = eng.sql(
        "SELECT COUNT(*) AS n FROM `lin_t$lineage` l "
        "JOIN `lin_t$history` h ON h.snapshot_id = l.ancestor_id"
    ).collect()[0]["n"]
    assert n == 1 + 2 + 3


def test_publish_changes_by_wap_id(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest

    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wapwh"))
    tbl = eng.catalog.create_table(
        "t_pubwap", "k bigint, m int", partition_cols=["m"]
    )
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("m")
    )
    tbl.insert(df.filter(F.col("k") < 10))
    eng.sql("ALTER TABLE t_pubwap CREATE BRANCH stage")
    tbl.insert(
        df.filter((F.col("k") >= 10) & (F.col("k") < 20)),
        branch="stage",
        extra_summary={"wap.id": "w1"},
    )
    # ambiguous id: a second staged snapshot with the same wap.id
    tbl.insert(
        df.filter(F.col("k") >= 20),
        branch="stage",
        extra_summary={"wap.id": "w1"},
    )
    with pytest.raises(ValueError, match="ambiguous"):
        eng.sql(
            "CALL system.publish_changes(table => 't_pubwap',"
            " wap_id => 'w1')"
        )
    tbl.insert(
        df.filter(F.col("k") >= 20),
        branch="stage",
        extra_summary={"wap.id": "w2"},
    )
    res = eng.sql(
        "CALL system.publish_changes(table => 't_pubwap',"
        " wap_id => 'w2')"
    ).collect()[0]
    tbl.refresh()
    head = tbl.meta.current_snapshot()
    assert head.snapshot_id == res["current_snapshot_id"]
    assert head.summary["published-wap-id"] == "w2"
    # main now has base + w2 rows only
    assert tbl.to_df().count() == 20
    with pytest.raises(ValueError, match="already published"):
        eng.sql(
            "CALL system.publish_changes(table => 't_pubwap',"
            " wap_id => 'w2')"
        )
    with pytest.raises(ValueError, match="no staged snapshot"):
        eng.sql(
            "CALL system.publish_changes(table => 't_pubwap',"
            " wap_id => 'w9')"
        )


def test_replace_tag_ddl(spark, tmp_path):
    """ALTER TABLE ... REPLACE TAG retargets an existing ref (keeps its
    retention policy); CREATE OR REPLACE upserts; kind mismatch and
    unknown refs/snapshots are refused."""
    import pytest

    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh_rt"))
    tbl = eng.catalog.create_table("rt", "k bigint, part int", ["part"])
    src = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    s1 = tbl.insert(src.filter(F.col("k") < 10))
    s2 = tbl.insert(src.filter((F.col("k") >= 10) & (F.col("k") < 20)))
    tbl.insert(src.filter(F.col("k") >= 20))
    eng.sql(
        f"ALTER TABLE rt CREATE TAG pin AS OF VERSION {s1.snapshot_id} "
        "RETAIN 30 DAYS"
    )
    tbl.refresh()
    age0 = tbl.meta.refs["pin"]["max_ref_age_ms"]
    assert (
        eng.sql("as of 'pin' SELECT COUNT(*) AS n FROM rt").collect()[0][0]
        == 10
    )
    # retarget: the tag now reads s2's rowset; retention carried over
    eng.sql(
        f"ALTER TABLE rt REPLACE TAG pin AS OF VERSION {s2.snapshot_id}"
    )
    tbl.refresh()
    assert tbl.meta.refs["pin"]["snapshot_id"] == s2.snapshot_id
    assert tbl.meta.refs["pin"]["max_ref_age_ms"] == age0
    assert (
        eng.sql("as of 'pin' SELECT COUNT(*) AS n FROM rt").collect()[0][0]
        == 20
    )
    # REPLACE of a missing ref refused; CREATE OR REPLACE upserts
    with pytest.raises(ValueError, match="CREATE OR REPLACE"):
        eng.sql(
            f"ALTER TABLE rt REPLACE TAG ghost AS OF VERSION "
            f"{s1.snapshot_id}"
        )
    eng.sql(
        f"ALTER TABLE rt CREATE OR REPLACE TAG ghost AS OF VERSION "
        f"{s1.snapshot_id}"
    )
    tbl.refresh()
    assert tbl.meta.refs["ghost"]["snapshot_id"] == s1.snapshot_id
    # kind mismatch refused; unknown snapshot refused
    with pytest.raises(ValueError, match="is a tag"):
        eng.sql("ALTER TABLE rt REPLACE BRANCH pin")
    with pytest.raises(ValueError, match="unknown snapshot"):
        eng.sql("ALTER TABLE rt REPLACE TAG pin AS OF VERSION 987654")
    # expire: after dropping ghost, s1 is unpinned and ages out while
    # the retargeted tag still pins s2 (clone-at-tag stays resolvable)
    eng.sql("ALTER TABLE rt DROP TAG ghost")
    res = tbl.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] >= 1
    tbl.refresh()
    assert tbl.meta.snapshot_by_id(s1.snapshot_id) is None
    assert tbl.meta.snapshot_by_id(s2.snapshot_id) is not None
    r = eng.sql("CREATE TABLE rt2 LIKE rt AS OF REF 'pin' WITH DATA")
    assert r.collect()[0]["added_files_count"] > 0
    assert (
        eng.sql("SELECT COUNT(*) AS n FROM rt2").collect()[0][0] == 20
    )
