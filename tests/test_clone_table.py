"""CREATE TABLE LIKE / shallow clone (Engine SQL spelling): schema +
partition-spec + properties clone, zero-copy WITH DATA registration via
add_files, independent evolution after the fork, and the merge-on-read
/ imported-files refusals."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from icebergsql_spark.sql import Engine


def _engine(spark):
    return Engine(spark, tempfile.mkdtemp(prefix="icebergsql-clonewh-"))


def _base(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("c"),
            (F.col("o_orderkey") % 4).cast("int").alias("m"),
        )
    )


def test_create_like_empty(spark):
    eng = _engine(spark)
    tbl = eng.catalog.create_table(
        "src_e", "k bigint, c bigint, m int", ["m"],
        properties={"bloom.filter.columns": "k"},
    )
    tbl.insert(_base(spark).filter(F.col("m") == 0))
    res = eng.sql("CREATE TABLE dst_e LIKE src_e").collect()[0]
    assert res["added_files_count"] == 0
    dst = eng.catalog.load_table("dst_e")
    assert dst.schema == tbl.schema
    assert dst.meta.partition_cols == ["m"]
    assert dst.meta.properties.get("bloom.filter.columns") == "k"
    assert dst.meta.current_snapshot() is None
    assert eng.sql("SELECT COUNT(*) AS n FROM dst_e").collect()[0]["n"] == 0


def test_create_like_with_data_zero_copy_and_divergence(spark):
    eng = _engine(spark)
    tbl = eng.catalog.create_table("src_d", "k bigint, c bigint, m int",
                                   ["m"])
    base = _base(spark)
    tbl.insert(base.filter(F.col("m") == 0))
    tbl.insert(base.filter(F.col("m") == 1))
    n_src = base.filter(F.col("m") < 2).count()
    res = eng.sql("CREATE TABLE dst_d LIKE src_d WITH DATA").collect()[0]
    dst = eng.catalog.load_table("dst_d")
    src_live = {f.path for f in tbl.meta.current_snapshot().live_files()}
    dst_live = {f.path for f in dst.meta.current_snapshot().live_files()}
    assert res["added_files_count"] == len(src_live)
    assert dst_live == src_live, "shallow clone must reference, not copy"
    assert dst.scan().count_from_stats() == n_src
    # independent evolution: write to the clone, source stays put
    dst.insert(base.filter(F.col("m") == 2))
    tbl.refresh()
    assert dst.scan().count_from_stats() == base.filter(
        F.col("m") < 3
    ).count()
    assert tbl.scan().count_from_stats() == n_src
    # and vice versa
    tbl.insert(base.filter(F.col("m") == 3))
    dst.refresh()
    assert dst.scan().count_from_stats() == base.filter(
        F.col("m") < 3
    ).count()


def test_create_like_refuses_mor_debris(spark):
    eng = _engine(spark)
    tbl = eng.catalog.create_table(
        "src_mor", "k bigint, c bigint, m int", ["m"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    tbl.insert(_base(spark).filter(F.col("m") < 2))
    tbl.delete_where("k % 7 = 0")
    assert tbl.meta.current_snapshot().dv_manifest_paths
    with pytest.raises(ValueError, match="resurrect"):
        eng.sql("CREATE TABLE dst_mor LIKE src_mor WITH DATA")
    # schema-only clone of the same source is still fine
    assert (
        eng.sql("CREATE TABLE dst_mor2 LIKE src_mor").collect()[0][
            "added_files_count"
        ]
        == 0
    )


def test_create_like_refuses_imported_sources(spark):
    eng = _engine(spark)
    base = _base(spark)
    staged = tempfile.mkdtemp(prefix="icebergsql-clonesrc-")
    base.filter(F.col("m") == 0).coalesce(1).write.mode("append").parquet(
        staged
    )
    tbl = eng.catalog.create_table("src_imp", "k bigint, c bigint, m int",
                                   ["m"])
    tbl.add_files(staged)
    with pytest.raises(ValueError, match="outside its data dir"):
        eng.sql("CREATE TABLE dst_imp LIKE src_imp WITH DATA")
    # SIBLING path sharing the data dir as a string prefix
    # (<data_dir>x/...) is still OUTSIDE — the guard must anchor at a
    # directory boundary (ADVICE r10)
    tbl2 = eng.catalog.create_table("src_imp2", "k bigint, c bigint, m int",
                                    ["m"])
    sibling = tbl2.meta.data_dir.rstrip(os.sep) + "x"
    base.filter(F.col("m") == 0).coalesce(1).write.mode("append").parquet(
        sibling
    )
    tbl2.add_files(sibling)
    with pytest.raises(ValueError, match="outside its data dir"):
        eng.sql("CREATE TABLE dst_imp2 LIKE src_imp2 WITH DATA")


def test_create_like_refuses_multi_era_sources_without_husk(spark):
    """A source whose live files span schema eras (rename between
    commits) must refuse WITH DATA — and the refusal must happen
    BEFORE the destination table is created (no empty-table husk)."""
    eng = _engine(spark)
    base = _base(spark)
    tbl = eng.catalog.create_table("src_era", "k bigint, c bigint, m int",
                                   ["m"])
    # split so BOTH halves hit every m partition (m = k % 4, so a k
    # parity split would leave one file per partition and compact
    # would no-op under min_input_files=2)
    tbl.insert(base.filter(F.col("k") % 8 < 4))
    tbl.rename_column("c", "val")
    tbl.insert(
        base.filter(F.col("k") % 8 >= 4).withColumnRenamed("c", "val")
    )
    with pytest.raises(ValueError, match="schema eras"):
        eng.sql("CREATE TABLE dst_era LIKE src_era WITH DATA")
    assert not eng.catalog.table_exists("dst_era"), (
        "refused clone left an empty-table husk"
    )
    # $snapshots surfaces the per-commit schema era: the pre-rename
    # insert carries schemaId 0, everything at/after the rename carries 1
    eras = {
        r["id"]: r["schemaId"]
        for r in eng.sql(
            "SELECT id, schemaId FROM `src_era$snapshots`"
        ).collect()
    }
    tbl.refresh()
    snaps_sorted = sorted(
        tbl.meta.snapshots, key=lambda s: s.sequence_number
    )
    assert eras[snaps_sorted[0].snapshot_id] == 0
    assert eras[snaps_sorted[-1].snapshot_id] == 1
    # after compaction the eras collapse and the clone succeeds
    tbl.compact(target_file_size=1 << 40, min_input_files=2)
    out = eng.sql("CREATE TABLE dst_era LIKE src_era WITH DATA")
    assert out.collect()[0]["added_files_count"] > 0
    assert (
        eng.sql("SELECT SUM(val) AS s FROM dst_era").collect()[0]["s"]
        == base.agg(F.sum("c")).collect()[0][0]
    )


def test_create_like_unknown_source_falls_through(spark):
    eng = _engine(spark)
    with pytest.raises(Exception):
        # not a managed table -> stock Spark parser gets the text and
        # rejects it (no such table there either)
        eng.sql("CREATE TABLE dst_x LIKE no_such_table_xyz WITH DATA")


def test_show_partitions(spark):
    eng = _engine(spark)
    tbl = eng.catalog.create_table("src_sp", "k bigint, c bigint, m int",
                                   ["m"])
    base = _base(spark)
    tbl.insert(base.filter(F.col("m") < 2))
    got = [r["partition"] for r in eng.sql("SHOW PARTITIONS src_sp").collect()]
    assert got == ["m=0", "m=1"]
    tbl.insert(base.filter(F.col("m") == 3))
    got = [r["partition"] for r in eng.sql("SHOW PARTITIONS src_sp").collect()]
    assert got == ["m=0", "m=1", "m=3"]
    # table with no snapshot yet -> empty listing
    # (an UNpartitioned managed table cannot exist — create_table
    # enforces a partition spec — so the guard branch stays defensive)
    empty = eng.catalog.create_table("src_sp_e", "k bigint, m int", ["m"])
    assert eng.sql("SHOW PARTITIONS src_sp_e").count() == 0
    assert empty.meta.current_snapshot() is None


def test_values_local_df_round_trips(spark):
    """_values_local_df must return exactly what createDataFrame would,
    for every scalar type the metadata views emit — including NULLs,
    quotes, backslashes, negatives and all-NULL columns — while
    planning as a JVM LocalRelation (no Python-RDD scan)."""
    import random

    from icebergsql_spark.table import _values_local_df

    rng = random.Random(7)
    schema = (
        "id long, n int, name string, flag boolean, score double"
    )
    pool = ["plain", "it's", "back\\slash", "tab\tchar", "", "Ünïcode"]
    rows = [
        (
            rng.randrange(-(2**40), 2**40),
            rng.randrange(-100, 100),
            rng.choice(pool) if rng.random() > 0.2 else None,
            rng.choice([True, False, None]),
            rng.choice([0.5, -2.25, 1e-9, None]),
        )
        for _ in range(20)
    ]
    # all-NULL string column keeps its declared type
    rows.append((1, 2, None, None, None))
    got = _values_local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    # identical names and TYPES; VALUES reports strictly-more-precise
    # nullability for all-non-null columns (documented behavior)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString() or \
        "LocalRelation" in got._jdf.queryExecution().optimizedPlan().toString()
    # empty input falls back cleanly
    assert _values_local_df(spark, [], schema).count() == 0
    # non-finite floats have no SQL literal form -> createDataFrame
    # fallback (ADVICE r10), never an invalid VALUES clause
    for bad in (float("inf"), float("-inf"), float("nan")):
        nf = _values_local_df(spark, [(1, 2, "x", True, bad)], schema)
        (row,) = nf.collect()
        assert (row["score"] != row["score"]) if bad != bad else (
            row["score"] == bad
        )


def test_clone_as_of_version(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest

    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "caowh"))
    tbl = eng.catalog.create_table(
        "src_asof", "k bigint, c bigint, m int", partition_cols=["m"]
    )
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("c"),
        (F.col("id") % 2).cast("int").alias("m"),
    )
    s1 = tbl.insert(df.filter(F.col("k") < 50))
    eng.sql("ALTER TABLE src_asof RENAME COLUMN c TO val")
    s2 = tbl.insert(
        df.filter(F.col("k") >= 50).withColumnRenamed("c", "val")
    )
    # historical clone carries the pre-rename era schema + rowset
    res = eng.sql(
        f"CREATE TABLE dst_asof LIKE src_asof AS OF VERSION "
        f"{s1.snapshot_id} WITH DATA"
    )
    assert res.collect()[0]["added_files_count"] > 0
    dst = eng.catalog.load_table("dst_asof")
    assert [f.name for f in dst.schema.fields] == ["k", "c", "m"]
    assert dst.to_df().count() == 50
    assert dst.to_df().agg(F.sum("c")).collect()[0][0] == 3 * 1225
    # unknown version and two-era snapshots are refused; the refusal
    # leaves no destination husk behind
    with pytest.raises(ValueError, match="unknown or expired"):
        eng.sql(
            "CREATE TABLE dst_bad LIKE src_asof AS OF VERSION 987654"
            " WITH DATA"
        )
    with pytest.raises(ValueError, match="schema eras"):
        eng.sql(
            f"CREATE TABLE dst_bad LIKE src_asof AS OF VERSION "
            f"{s2.snapshot_id} WITH DATA"
        )
    assert not eng.catalog.table_exists("dst_bad")


def test_clone_as_of_ref(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest

    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "catwh"))
    tbl = eng.catalog.create_table(
        "src_tagc", "k bigint, m int", partition_cols=["m"]
    )
    df = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("m")
    )
    tbl.insert(df.filter(F.col("k") < 30))
    eng.sql("ALTER TABLE src_tagc CREATE TAG pin")
    tbl.insert(df.filter(F.col("k") >= 30))
    res = eng.sql(
        "CREATE TABLE dst_tagc LIKE src_tagc AS OF REF pin WITH DATA"
    )
    assert res.collect()[0]["added_files_count"] > 0
    dst = eng.catalog.load_table("dst_tagc")
    assert dst.to_df().count() == 30  # rows after the tag absent
    with pytest.raises(ValueError, match="unknown ref"):
        eng.sql(
            "CREATE TABLE dst_bad2 LIKE src_tagc AS OF REF ghost"
            " WITH DATA"
        )
    assert not eng.catalog.table_exists("dst_bad2")


def test_clone_as_of_empty_snapshot_uses_recorded_schema_era(spark, tmp_path):
    """A truncated (zero-live-file) historical snapshot has no per-file
    schema ids; the clone era must come from the snapshot's recorded
    schema-id, never the source's CURRENT (post-evolution) schema."""
    import pyspark.sql.functions as F

    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "caewh"))
    tbl = eng.catalog.create_table(
        "src_empty_era", "k bigint, c bigint, m int", partition_cols=["m"]
    )
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("c"),
        (F.col("id") % 2).cast("int").alias("m"),
    )
    tbl.insert(df)
    eng.sql("TRUNCATE TABLE src_empty_era")
    tbl.refresh()
    s_empty = tbl.meta.current_snapshot()
    assert s_empty.live_files() == []
    # schema evolves AFTER the empty snapshot
    eng.sql("ALTER TABLE src_empty_era RENAME COLUMN c TO val")
    res = eng.sql(
        f"CREATE TABLE dst_empty_era LIKE src_empty_era AS OF VERSION "
        f"{s_empty.snapshot_id} WITH DATA"
    )
    assert res.collect()[0]["added_files_count"] == 0
    dst = eng.catalog.load_table("dst_empty_era")
    # pre-rename era, NOT the source's current schema
    assert [f.name for f in dst.schema.fields] == ["k", "c", "m"]
    # a pre-schema-id snapshot (no recorded era, no files) is refused
    # without leaving a destination husk
    tbl.refresh()
    stale = tbl.meta.snapshot_by_id(s_empty.snapshot_id)
    stale.schema_id = None
    tbl.meta.commit()
    import pytest

    with pytest.raises(ValueError, match="schema era cannot be resolved"):
        eng.sql(
            f"CREATE TABLE dst_noera LIKE src_empty_era AS OF VERSION "
            f"{s_empty.snapshot_id}"
        )
    assert not eng.catalog.table_exists("dst_noera")


def test_clone_as_of_ref_quoted_and_unbalanced(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest

    from icebergsql_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "caqwh"))
    tbl = eng.catalog.create_table(
        "src_tagq", "k bigint, m int", partition_cols=["m"]
    )
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("m")
    )
    tbl.insert(df)
    eng.sql("ALTER TABLE src_tagq CREATE TAG pin")
    # balanced quotes parse
    res = eng.sql(
        "CREATE TABLE dst_tagq LIKE src_tagq AS OF REF 'pin' WITH DATA"
    )
    assert res.collect()[0]["added_files_count"] > 0
    # an unbalanced quote must NOT be silently accepted as the LIKE form
    with pytest.raises(Exception):
        eng.sql(
            "CREATE TABLE dst_tagq2 LIKE src_tagq AS OF REF 'pin WITH DATA"
        )
    assert not eng.catalog.table_exists("dst_tagq2")


def test_show_partitions_renders_backslash_and_newline(spark):
    """Partition values reach SHOW PARTITIONS byte for byte: no escape
    rule of the SQL parser may turn `a\\b` into a backspace or `x\\ny`'s
    newline into anything else."""
    eng = _engine(spark)
    tbl = eng.catalog.create_table("src_sp_esc", "k bigint, m string", ["m"])
    tbl.insert(
        spark.createDataFrame([(1, "a\\b"), (2, "x\ny")], "k bigint, m string")
    )
    got = [r["partition"] for r in eng.sql("SHOW PARTITIONS src_sp_esc").collect()]
    assert got == ["m=a\\b", "m=x\ny"]
