"""Small pruned scans run as one partition.

``ManagedScan.dataframe`` coalesces a scan to ONE partition when its
planned files together hold at most ``spark.sql.files.openCostInBytes``:
a pruned GROUP BY then runs as one Spark job with one task and no
Exchange, instead of a shuffle-map job plus a result job. Larger scans
keep Spark's split. Job and task counts come from the status tracker's
job ids for a job group set around each statement.
"""

from __future__ import annotations

import contextlib

import pyspark.sql.functions as F
import pytest

from icebergsql_spark.sql import Engine
from icebergsql_spark.table import TableValidationError

DDL = "k bigint, v bigint, cat string, part int"
OPEN_COST = "spark.sql.files.openCostInBytes"


@pytest.fixture()
def eng(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    t = eng.catalog.create_table(
        "sm", DDL, partition_cols=["part"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    # three partitions, several files each: unpruned, Spark would read
    # them with one task per file
    t.insert(_source(spark).repartition(4))
    return eng


def _source(spark):
    return spark.range(240).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 11).alias("v"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("cat"),
        (F.col("id") % 3).cast("int").alias("part"),
    )


def _expected(spark, pred):
    """The pandas answer of ``SELECT part, cat, count(*), sum(v) ...
    GROUP BY part, cat`` over the source rows matching ``pred``."""
    pdf = _source(spark).toPandas()
    pdf = pdf[pred(pdf)]
    g = pdf.groupby(["part", "cat"]).agg(n=("k", "size"), s=("v", "sum"))
    return sorted(
        (int(p), c, int(r.n), int(r.s)) for (p, c), r in g.iterrows()
    )


def _run(spark, df, group):
    """Collect ``df`` under job group ``group``; return its rows, the
    number of jobs and tasks it ran, and its executed plan."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        rows = [tuple(r) for r in df.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(sid).numTasks
        for jid in jobs
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sorted(rows), len(jobs), tasks, plan


@contextlib.contextmanager
def _open_cost(spark, value):
    prev = spark.conf.get(OPEN_COST)
    spark.conf.set(OPEN_COST, str(value))
    try:
        yield
    finally:
        spark.conf.set(OPEN_COST, prev)


GROUP_BY = (
    "SELECT part, cat, count(*) AS n, sum(v) AS s FROM sm "
    "WHERE part IN (0, 1) GROUP BY part, cat"
)


def test_small_group_by_runs_one_job_one_task(spark, eng):
    scan = eng.catalog.load_table("sm").scan(where="part IN (0, 1)")
    assert scan.files_scanned > 1
    rows, jobs, tasks, plan = _run(spark, eng.sql(GROUP_BY), "small-gb")
    assert rows == _expected(spark, lambda d: d.part.isin([0, 1]))
    assert (jobs, tasks) == (1, 1)
    assert "Exchange" not in plan


def test_scan_above_cutoff_keeps_split(spark, eng):
    scan = eng.catalog.load_table("sm").scan(where="part IN (0, 1)")
    planned = sum(f.file_size for f in scan.planned_files)
    with _open_cost(spark, planned - 1):
        rows, jobs, tasks, plan = _run(spark, eng.sql(GROUP_BY), "big-gb")
    assert rows == _expected(spark, lambda d: d.part.isin([0, 1]))
    assert tasks > 1
    assert "Exchange" in plan
    # the cut-off is inclusive: at exactly the planned bytes it coalesces
    with _open_cost(spark, planned):
        _rows, jobs, tasks, _plan = _run(spark, eng.sql(GROUP_BY), "at-gb")
    assert (jobs, tasks) == (1, 1)


def test_metadata_count_runs_no_job(spark, eng):
    df = eng.sql("SELECT count(*) AS n FROM sm WHERE part = 2")
    rows, jobs, _tasks, _plan = _run(spark, df, "meta-count")
    assert rows == [(80,)]
    assert jobs == 0


def test_dml_row_count_results_run_no_job(spark, eng):
    df = eng.sql("DELETE FROM sm WHERE k < 3")
    rows, jobs, _tasks, _plan = _run(spark, df, "dml-result")
    assert rows == [(3,)]
    assert jobs == 0


def test_masked_reads_match_on_both_sides_of_cutoff(spark, eng):
    """Rows masked by a delete vector and by an equality delete stay
    masked in the one-partition read, which equals the split read."""
    t = eng.catalog.load_table("sm")
    t.delete_where("k % 10 = 3")  # straddles files: a delete vector
    assert t.meta.current_snapshot().dv_manifest_paths
    t.delete_by_keys(spark.createDataFrame([(4,), (44,), (200,)], "k bigint"))
    assert t.meta.current_snapshot().eq_entries()
    dead = lambda d: (d.k % 10 == 3) | d.k.isin([4, 44, 200])  # noqa: E731
    want = _expected(spark, lambda d: d.part.isin([0, 1]) & ~dead(d))
    rows, _jobs, _tasks, plan = _run(spark, eng.sql(GROUP_BY), "masked-small")
    assert rows == want
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # the aggregate sits right on the one-partition stream side; the only
    # Exchanges are in the broadcast build sides below it
    final = plan.split("Initial Plan")[0]
    assert "Coalesce 1" in final
    assert "Exchange" not in final.split("Coalesce 1")[0]
    scan = eng.catalog.load_table("sm").scan(where="part IN (0, 1)")
    planned = sum(f.file_size for f in scan.planned_files)
    with _open_cost(spark, planned - 1):
        split_rows, *_ = _run(spark, eng.sql(GROUP_BY), "masked-split")
    assert split_rows == want
    live = sorted(tuple(r) for r in eng.sql("SELECT k FROM sm").collect())
    pdf = _source(spark).toPandas()
    assert live == sorted((int(k),) for k in pdf[~dead(pdf)].k)


def test_fully_pruned_read_has_no_python_rdd_scan(spark, eng):
    t = eng.catalog.load_table("sm")
    scan = t.scan(where="part = 9")
    assert scan.files_scanned == 0
    df = scan.dataframe()
    assert df.collect() == []
    assert df.columns == ["k", "v", "cat", "part"]
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    for kwargs, extra in (
        ({"with_fp": True}, ["__fp"]),
        ({"with_pos": True}, ["__fp", "__pos"]),
    ):
        empty = t.read_files([], **kwargs)
        assert empty.columns == ["k", "v", "cat", "part"] + extra
        assert "ExistingRDD" not in (
            empty._jdf.queryExecution().executedPlan().toString()
        )
    rows, jobs, _tasks, _plan = _run(
        spark, eng.sql("SELECT cat, count(*) FROM sm WHERE part = 9 GROUP BY cat"),
        "pruned-gb",
    )
    assert rows == [] and jobs <= 1


def test_equality_delete_refuses_non_ansi_session(spark, eng):
    t = eng.catalog.load_table("sm")
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(TableValidationError, match="ansi"):
            t.delete_by_keys(spark.createDataFrame([(1,)], "k bigint"))
    finally:
        spark.conf.set(key, prev)
    assert spark.conf.get(key) == prev
    t.delete_by_keys(spark.createDataFrame([(1,)], "k bigint"))
    assert t.to_df().filter("k = 1").count() == 0
