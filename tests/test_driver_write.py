"""Small bounded writes go through the driver, in Spark's layout.

``driver_write`` (catalog/driver_write.py) collects a small write frame
once with ``toArrow()`` and writes each partition directory with pyarrow.
Each equivalence test runs the same rows through both writers (the Spark
write is forced by setting the size cut-off below every source) and
compares what the table records: partition directories, footer stats,
blooms, zero-row behaviour and the rows Spark reads back. The fallback
tests force every rule that keeps a write on Spark. A Spark write leaves
its committer's ``_SUCCESS`` marker in the commit directory; the driver
writer does not, which is how the tests tell the two apart.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from icebergsql_spark.catalog import driver_write as dw_mod
from icebergsql_spark.catalog.metadata import ColStats
from icebergsql_spark.catalog.stats import file_stats
from icebergsql_spark.expressions import (
    Comparison,
    In,
    Not,
    may_match,
    must_match_all,
)
from icebergsql_spark.sql import Engine
from icebergsql_spark.table import Catalog

TYPES_DDL = (
    "b boolean, t tinyint, s smallint, i int, l bigint, f float, d double, "
    "str string, dte date, part string"
)
TYPES_ARROW = pa.schema(
    [
        ("b", pa.bool_()),
        ("t", pa.int8()),
        ("s", pa.int16()),
        ("i", pa.int32()),
        ("l", pa.int64()),
        ("f", pa.float32()),
        ("d", pa.float64()),
        ("str", pa.string()),
        ("dte", pa.date32()),
        ("part", pa.string()),
    ]
)
INF = float("inf")
TYPES_ROWS = [
    (True, -128, -32768, -(2**31), -(2**63), -0.0, -0.0, "", dt.date(1, 1, 1), "a"),
    (False, 127, 32767, 2**31 - 1, 2**63 - 1, 0.0, 0.0, "é€😀", dt.date(9999, 12, 31), "a"),
    (None, None, None, None, None, None, None, None, None, "a"),
    (True, 0, 1, 2, 3, -INF, -INF, "zz", dt.date(2024, 2, 29), "a"),
    (False, 5, 6, 7, 8, INF, INF, "a b/c", dt.date(1970, 1, 1), "a"),
    (True, 1, 2, 3, 4, 1.5, 2.5, "x" * 40, dt.date(2000, 1, 1), "b"),
    (None, -1, -2, -3, -4, -0.0, 0.0, "y", None, "b"),
]
# partition values Spark's escapePathName has to touch, plus NULL and ""
PART_VALUES = [None, "", "a/b", "x=y", "50%", "#h", "a b", "é", "plain"]


def _file_source(spark, tmp_path, name, schema, rows, ddl):
    """``rows`` as ONE parquet file read back as a file-source relation:
    Spark reads it as one task, so its write leaves one file per
    partition directory, as the driver writer does."""
    path = str(tmp_path / f"{name}.parquet")
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    pq.write_table(
        pa.table({f.name: pa.array(c, f.type) for f, c in zip(schema, cols)}),
        path,
    )
    return spark.read.schema(ddl).parquet(path)


def _commit_dirs(t) -> set[str]:
    return set(os.listdir(t.meta.data_dir)) if os.path.isdir(t.meta.data_dir) else set()


def _insert(t, df, **kwargs) -> str:
    """Insert and return the new commit directory."""
    before = _commit_dirs(t)
    t.insert(df, **kwargs)
    (new,) = _commit_dirs(t) - before
    return os.path.join(t.meta.data_dir, new)


def _spark_wrote(commit_dir: str) -> bool:
    return os.path.exists(os.path.join(commit_dir, "_SUCCESS"))


def _force_spark(monkeypatch):
    monkeypatch.setattr(dw_mod, "DRIVER_WRITE_MAX_BYTES", -1)


def _by_partition(t, commit_dir):
    """{partition directory (relative): DataFile} for one commit."""
    out = {}
    for f in t.meta.current_snapshot().live_files():
        if f.path.startswith(commit_dir + os.sep):
            rel = os.path.relpath(os.path.dirname(f.path), commit_dir)
            assert rel not in out, "one file per partition directory"
            out[rel] = f
    return out


def _both_paths(spark, tmp_path, monkeypatch, ddl, src, **props):
    """The same source inserted by the driver writer and by Spark: the
    two tables and their commit directories."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    kw = dict(partition_cols=["part"], properties=props or None)
    t_drv = cat.create_table("drv", ddl, **kw)
    t_spk = cat.create_table("spk", ddl, **kw)
    d_drv = _insert(t_drv, src)
    with monkeypatch.context() as m:
        _force_spark(m)
        d_spk = _insert(t_spk, src)
    assert not _spark_wrote(d_drv) and _spark_wrote(d_spk)
    return (t_drv, d_drv), (t_spk, d_spk)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _sort_key(row):
    return tuple((v is None, str(v)) for v in row)


def test_partition_directory_names_match(spark, tmp_path, monkeypatch):
    rows = [(i, v) for i, v in enumerate(PART_VALUES)]
    src = _file_source(
        spark, tmp_path, "parts",
        pa.schema([("k", pa.int64()), ("part", pa.string())]),
        rows, "k bigint, part string",
    )
    (t_drv, d_drv), (t_spk, d_spk) = _both_paths(
        spark, tmp_path, monkeypatch, "k bigint, part string", src
    )
    drv = _by_partition(t_drv, d_drv)
    spk = {
        os.path.relpath(os.path.dirname(f.path), d_spk)
        for f in t_spk.meta.current_snapshot().live_files()
    }
    assert set(drv) == spk
    assert "__p_part=__HIVE_DEFAULT_PARTITION__" in drv
    assert "__p_part=a%2Fb" in drv and "__p_part=x%3Dy" in drv
    assert "__p_part=50%25" in drv and "__p_part=%23h" in drv
    # NULL and "" share Spark's default partition; every other value
    # round-trips through the directory name
    assert sorted(
        (f.partition["part"] is None, f.partition["part"] or "")
        for f in drv.values()
    ) == sorted([(v is None, v or "") for v in PART_VALUES if v] + [(True, "")])
    for t in (t_drv, t_spk):
        assert _rows(t.to_df()) == sorted(rows)  # keys are unique
    # the partition column stays in the file; its __p_ copy does not
    f = next(iter(drv.values()))
    assert pq.ParquetFile(f.path).schema_arrow.names == ["k", "part"]


def test_two_partition_columns_match_spark(spark, tmp_path, monkeypatch):
    rows = [
        (i, v, p)
        for i, (v, p) in enumerate(
            [(a, b) for a in ("x", None, "", "y/z") for b in (1, None, 2)] * 3
        )
    ]
    ddl = "k bigint, part string, q int"
    src = _file_source(
        spark, tmp_path, "two",
        pa.schema([("k", pa.int64()), ("part", pa.string()), ("q", pa.int32())]),
        rows, ddl,
    )
    cat = Catalog(spark, str(tmp_path / "wh2"))
    dirs = []
    for name, force in (("drv", False), ("spk", True)):
        t = cat.create_table(name, ddl, partition_cols=["part", "q"])
        with monkeypatch.context() as m:
            if force:
                _force_spark(m)
            d = _insert(t, src)
        assert _spark_wrote(d) == force
        assert _rows(t.to_df()) == sorted(rows)  # keys are unique
        dirs.append({
            os.path.relpath(os.path.dirname(f.path), d)
            for f in t.meta.current_snapshot().live_files()
        })
    assert dirs[0] == dirs[1] and len(dirs[0]) == 9


def test_stats_blooms_and_readback_match_spark(spark, tmp_path, monkeypatch):
    src = _file_source(spark, tmp_path, "types", TYPES_ARROW, TYPES_ROWS, TYPES_DDL)
    (t_drv, d_drv), (t_spk, d_spk) = _both_paths(
        spark, tmp_path, monkeypatch, TYPES_DDL, src,
        **{"bloom.filter.columns": "l,str,i", "bloom.filter.bits": "1024"},
    )
    drv, spk = _by_partition(t_drv, d_drv), _by_partition(t_spk, d_spk)
    assert set(drv) == set(spk) == {"__p_part=a", "__p_part=b"}
    for part in drv:
        a, b = drv[part], spk[part]
        assert a.record_count == b.record_count
        assert a.partition == b.partition
        assert set(a.stats) == set(TYPES_ARROW.names)
        assert a.stats == b.stats, part  # ColStats incl. blooms, byte-equal
        assert a.stats["l"].bloom is not None
        assert file_stats(a.path)[2] == {
            c: ColStats(s.min, s.max, s.null_count, s.value_count)
            for c, s in file_stats(b.path)[2].items()
        }
    for c in ("f", "d"):
        assert drv["__p_part=a"].stats[c].min == -INF
        assert drv["__p_part=a"].stats[c].max == INF
    want = sorted(TYPES_ROWS, key=_sort_key)
    for t in (t_drv, t_spk):
        got = sorted((tuple(r) for r in t.to_df().collect()), key=_sort_key)
        assert got == want
        assert t.to_df().schema == t_drv.schema
    # -0.0 keeps its sign through the driver write
    neg = t_drv.to_df().filter("t = -128").collect()[0]
    assert math.copysign(1.0, neg["d"]) == -1.0


@pytest.mark.parametrize("partitioned", [False, True])
def test_zero_row_writes_match_spark(spark, tmp_path, partitioned):
    """Unpartitioned, Spark leaves one empty file with the schema;
    partitioned, it leaves none. The driver writer does the same."""
    src = _file_source(
        spark, tmp_path, "empty", pa.schema([("k", pa.int64()), ("p", pa.string())]),
        [], "k bigint, p string",
    )
    part = []
    if partitioned:
        src, part = src.withColumn("__p_p", F.col("p")), ["__p_p"]
    drv, spk = str(tmp_path / "drv"), str(tmp_path / "spk")
    assert dw_mod.driver_write(src, drv, part)
    src.write.partitionBy(*part).parquet(spk)

    def parquet_files(root):
        return [
            os.path.join(r, f)
            for r, _d, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]

    a, b = parquet_files(drv), parquet_files(spk)
    assert len(a) == len(b) == (0 if partitioned else 1)
    for fa, fb in zip(a, b):
        assert os.path.dirname(fa) == drv and os.path.dirname(fb) == spk
        assert file_stats(fa)[0] == file_stats(fb)[0] == 0
        assert file_stats(fa)[2] == file_stats(fb)[2] == {}
        assert pq.ParquetFile(fa).schema_arrow.names == ["k", "p"]
        assert pq.ParquetFile(fb).schema_arrow.names == ["k", "p"]


def test_zero_row_insert_commits_no_files(spark, tmp_path, monkeypatch):
    src = _file_source(
        spark, tmp_path, "empty", pa.schema([("k", pa.int64()), ("part", pa.string())]),
        [], "k bigint, part string",
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    for name, force in (("drv", False), ("spk", True)):
        t = cat.create_table(name, "k bigint, part string", partition_cols=["part"])
        with monkeypatch.context() as m:
            if force:
                _force_spark(m)
            d = _insert(t, src)
        assert _spark_wrote(d) == force
        snap = t.meta.current_snapshot()
        assert snap.live_files() == []
        assert snap.summary["added-records"] == "0"


# ------------------------------------------------------------------ NaN --

NAN_VALUES = (
    "VALUES (1, 1.0D, CAST(1.0 AS FLOAT), 0), "
    "(2, CAST('NaN' AS DOUBLE), CAST('NaN' AS FLOAT), 0), "
    "(3, 2.0D, CAST(2.0 AS FLOAT), 0)"
)
NAN_FILTERS = [
    "{c} > 5",
    "{c} >= 3",
    "{c} BETWEEN 3 AND 10",
    "NOT ({c} <= 5)",
    "{c} < 1.5",
    "NOT ({c} > 0.5)",
]


@pytest.mark.parametrize("force_spark", [False, True], ids=["driver", "spark"])
def test_nan_rows_are_never_pruned(spark, tmp_path, monkeypatch, force_spark):
    """Spark orders NaN above every value. parquet-mr writes max = NaN
    and pyarrow leaves NaN out of min/max; neither file may be pruned
    away from a predicate a NaN row satisfies."""
    if force_spark:
        _force_spark(monkeypatch)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE nan_t (k int, d double, f float, p int) USING parquet "
        "OPTIONS (addTableManagement 'true') PARTITIONED BY (p)"
    )
    eng.sql(f"INSERT INTO nan_t {NAN_VALUES}")
    stock = f"SELECT * FROM {NAN_VALUES} AS v(k, d, f, p)"
    for c in ("d", "f"):
        for flt in NAN_FILTERS:
            where = flt.format(c=c)
            got = sorted(r[0] for r in eng.sql(f"SELECT k FROM nan_t WHERE {where}").collect())
            want = sorted(r[0] for r in spark.sql(f"SELECT k FROM ({stock}) WHERE {where}").collect())
            assert got == want, where
    (nan_file,) = [
        f for f in eng.catalog.load_table("nan_t").meta.current_snapshot().live_files()
        if f.record_count and 2 in range(f.stats["k"].min, f.stats["k"].max + 1)
    ]
    if force_spark:
        assert math.isnan(nan_file.stats["d"].max)
    else:
        # the driver writer leaves a NaN column without footer statistics
        assert "d" not in nan_file.stats and "f" not in nan_file.stats


def test_nan_bounds_and_literals_cannot_prune():
    nan = float("nan")
    spark_file = {"d": ColStats(min=1.0, max=nan, null_count=0, value_count=3)}
    all_nan = {"d": ColStats(min=nan, max=nan, null_count=0, value_count=1)}
    plain = {"d": ColStats(min=1.0, max=2.0, null_count=0, value_count=2)}
    for op in ("<", "<=", "=", "!=", ">", ">="):
        for stats in (spark_file, all_nan):
            assert may_match(Comparison(op, "d", 5.0), stats), op
            assert not must_match_all(Comparison(op, "d", 5.0), stats), op
        # a NaN literal: Spark has NaN = NaN and every number < NaN
        assert may_match(Comparison(op, "d", nan), plain), op
        assert not must_match_all(Comparison(op, "d", nan), plain), op
    assert may_match(In("d", (7.0,)), spark_file)
    assert may_match(In("d", (nan,)), plain)
    assert not must_match_all(In("d", (nan,)), all_nan)
    assert may_match(Not(Comparison("<=", "d", 5.0)), spark_file)
    # NaN-free bounds still prune
    assert not may_match(Comparison(">", "d", 5.0), plain)


# ------------------------------------------------------------ job count --


def _jobs(spark, fn, group):
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _small_source(spark, tmp_path, n=200, months=("1995-01",)):
    rows = [(i, i * 7, f"s{i}", months[i % len(months)]) for i in range(n)]
    return _file_source(
        spark, tmp_path, f"small_{n}_{len(months)}",
        pa.schema([("k", pa.int64()), ("v", pa.int64()), ("s", pa.string()), ("part", pa.string())]),
        rows, "k bigint, v bigint, s string, part string",
    ), rows


SMALL_DDL = "k bigint, v bigint, s string, part string"


def test_small_insert_runs_one_job_without_temporary(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table(
        "one", SMALL_DDL, partition_cols=["part"],
        properties={"bloom.filter.columns": "k"},
    )
    src, rows = _small_source(spark, tmp_path, months=("1995-01", "1995-02"))
    assert _jobs(spark, lambda: t.insert(src), "driver-insert") == 1
    assert _jobs(
        spark,
        lambda: t.insert(src.drop("part"), overwrite=True, static_partition={"part": "1995-02"}),
        "driver-overwrite",
    ) == 1
    for root, dirs, files in os.walk(t.meta.location):
        assert "_temporary" not in dirs and "_SUCCESS" not in files, root
    want = [r for r in rows if r[3] == "1995-01"] + [r[:3] + ("1995-02",) for r in rows]
    assert _rows(t.to_df()) == sorted(want)
    # the bloom filter built on the driver-written files prunes
    scan = t.scan(where="k = 3")
    assert len(scan.planned_files) == 1


# ------------------------------------------------------------ fallbacks --


def _spark_path(spark, tmp_path, src, **props) -> bool:
    """Insert ``src`` into a fresh table; True when Spark wrote it. The
    table reads back the source's rows either way."""
    cat = Catalog(spark, str(tmp_path / "wh_fb"))
    t = cat.create_table(
        f"fb_{uuid.uuid4().hex[:8]}", SMALL_DDL, partition_cols=["part"],
        properties=props or None,
    )
    d = _insert(t, src)
    assert _rows(t.to_df()) == _rows(src.select(*[f.name for f in t.schema.fields]))
    return _spark_wrote(d)


def test_fallback_join_source(spark, tmp_path):
    src, _ = _small_source(spark, tmp_path)
    other = src.select("k", (F.col("v") + 1).alias("w"))
    joined = src.join(other, "k").select("k", "w", "s", "part").withColumnRenamed("w", "v")
    assert _spark_path(spark, tmp_path, joined)
    assert not _spark_path(spark, tmp_path, src.filter("k % 2 = 0").distinct())


@pytest.mark.parametrize(
    "vtype, literal",
    [("decimal(10,2)", "2.5BD"), ("varchar(10)", "'a'"),
     ("timestamp", "TIMESTAMP'2024-01-01 00:00:00'"), ("binary", "X'01'")],
)
def test_fallback_disallowed_type(spark, tmp_path, vtype, literal):
    cat = Catalog(spark, str(tmp_path / "wh_ty"))
    t = cat.create_table("ty", f"k bigint, v {vtype}, part string", partition_cols=["part"])
    src = spark.sql(f"SELECT * FROM VALUES (1L, {literal}, 'x'), (2L, {literal}, 'y') AS v(k, v, part)")
    assert _spark_wrote(_insert(t, src))
    assert t.meta.current_snapshot().summary["added-records"] == "2"


@pytest.mark.parametrize(
    "props",
    [{"sort.order": "k"}, {"write.distribution.cols": "k"}, {"write.format": "orc"}],
    ids=["sort_order", "distribution_cols", "orc"],
)
def test_fallback_table_properties(spark, tmp_path, props):
    src, _ = _small_source(spark, tmp_path)
    assert _spark_path(spark, tmp_path, src, **props)


def test_fallback_above_cutoff(spark, tmp_path, monkeypatch):
    src, _ = _small_source(spark, tmp_path)
    size = dw_mod.bounded_source_bytes(src)
    assert 0 < size < dw_mod.DRIVER_WRITE_MAX_BYTES
    monkeypatch.setattr(dw_mod, "DRIVER_WRITE_MAX_BYTES", size)
    assert not _spark_path(spark, tmp_path, src)
    monkeypatch.setattr(dw_mod, "DRIVER_WRITE_MAX_BYTES", size - 1)
    assert _spark_path(spark, tmp_path, src)


@pytest.mark.parametrize(
    "key, value, spark_path",
    [("spark.sql.files.maxRecordsPerFile", "150", True),
     ("spark.sql.files.maxRecordsPerFile", "200", False),
     ("spark.sql.parquet.compression.codec", "lz4", True),
     ("spark.sql.parquet.compression.codec", "gzip", False)],
)
def test_fallback_session_conf(spark, tmp_path, key, value, spark_path):
    src, _ = _small_source(spark, tmp_path)
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        assert _spark_path(spark, tmp_path, src) == spark_path
    finally:
        spark.conf.set(key, prev)


def test_gzip_codec_is_written(spark, tmp_path):
    src, _ = _small_source(spark, tmp_path)
    prev = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "gzip")
    try:
        assert dw_mod.driver_write(src, str(tmp_path / "gz"), [])
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", prev)
    (name,) = os.listdir(tmp_path / "gz")
    assert name.endswith(".gz.parquet")
    meta = pq.ParquetFile(str(tmp_path / "gz" / name)).metadata
    assert meta.row_group(0).column(0).compression == "GZIP"


# ------------------------------------------------- equality-delete payload --


def test_equality_delete_payload(spark, tmp_path, monkeypatch):
    """A small keyset is written on the driver: the same count and masks
    as the Spark write, and no more Spark jobs (the DISTINCT's shuffle
    and the collect, where Spark ran the shuffle and the write)."""
    src, rows = _small_source(spark, tmp_path)
    cat = Catalog(spark, str(tmp_path / "wh"))
    keys = src.filter("k < 30").select("k").union(src.filter("k < 10").select("k"))
    jobs = {}
    for force in (True, False):
        t = cat.create_table(f"eq_{force}", SMALL_DDL, partition_cols=["part"])
        t.insert(src)
        with monkeypatch.context() as m:
            if force:
                _force_spark(m)
            jobs[force] = _jobs(spark, lambda: t.delete_by_keys(keys, ["k"]), f"eq-{force}")
            (entry,) = t.meta.current_snapshot().eq_entries()
            assert entry.count == 30
            assert _spark_wrote(entry.eq_path) == force
            assert _rows(t.to_df()) == sorted(r for r in rows if r[0] >= 30)
            # an empty keyset commits a zero-count payload either way
            t.delete_by_keys(keys.filter("k < 0"), ["k"])
            assert [e.count for e in t.meta.current_snapshot().eq_entries()] == [30, 0]
            # upsert: new images replace the old ones of their keys
            t.upsert_by_keys(src.filter("k >= 190").withColumn("v", F.col("v") + 1), ["k"])
            got = {r["k"]: r["v"] for r in t.to_df().collect()}
            assert len(got) == 170 and all(got[k] == k * 7 + 1 for k in range(190, 200))
    assert jobs[False] <= jobs[True]
