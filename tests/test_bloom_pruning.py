"""Per-file Bloom-filter skipping: equality/IN predicates prune files that
min/max bounds cannot (interleaved key ranges), never a file that actually
contains the value (soundness), and the feature composes with the COUNT
fast path and time travel untouched.

Beyond-reference (the reference prunes on min/max + partitions only,
IceTableScanExec.scala:76-82); the design follows the Iceberg-spec /
Delta file-level bloom idea re-expressed over this repo's manifest stats.
"""

from __future__ import annotations

import base64

import pyspark.sql.functions as F
import pytest

from icebergsql_spark.catalog import stats as stats_mod
from icebergsql_spark.catalog.stats import (
    BLOOM_M_BITS,
    bloom_may_contain,
    bloom_positions,
)
from icebergsql_spark.table import Catalog, TableValidationError

IN_PROCESS = 1 << 62  # BLOOM_LOCAL_MAX_VALUES that keeps every build local
SPARK_JOB = 0  # ... and one that sends every build to the Spark job


@pytest.fixture()
def btbl(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh_bloom"))
    t = cat.create_table(
        "tb",
        "k bigint, s string, part int",
        partition_cols=["part"],
        properties={"bloom.filter.columns": "k,s"},
    )
    # two inserts -> two files per partition with INTERLEAVED key ranges:
    # evens [0,2,...,198] and odds [1,3,...,199] — min/max overlap almost
    # fully, so range stats cannot tell the files apart; blooms can.
    base = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit(0).cast("int").alias("part"),
    )
    t.insert(base.filter(F.col("k") % 2 == 0).coalesce(1))
    t.insert(base.filter(F.col("k") % 2 == 1).coalesce(1))
    return t


def test_bloom_prunes_beyond_minmax(spark, btbl):
    live = btbl.meta.current_snapshot().live_files()
    assert len(live) == 2
    # equality on k: exactly one file admits each parity
    scan = btbl.scan(where="k = 42")
    assert scan.files_scanned == 1
    assert [r["k"] for r in scan.dataframe().collect()] == [42]
    scan_odd = btbl.scan(where="k = 43")
    assert scan_odd.files_scanned == 1
    # string column too
    s_scan = btbl.scan(where="s = 's43'")
    assert s_scan.files_scanned == 1
    assert [r["k"] for r in s_scan.dataframe().collect()] == [43]
    # IN list spanning both parities must keep both files
    both = btbl.scan(where="k IN (42, 43)")
    assert both.files_scanned == 2
    # absent value: bloom may fully prune (false positives allowed, so
    # assert only soundness of the result, not the file count)
    gone = btbl.scan(where="k = 100000")
    assert gone.dataframe().count() == 0


def test_bloom_soundness_every_value_found(spark, btbl):
    # every inserted key must scan to exactly its row — a bloom false
    # negative would lose rows silently; this sweeps all 200
    for k in range(0, 200, 17):
        scan = btbl.scan(where=f"k = {k}")
        assert [r["k"] for r in scan.dataframe().collect()] == [k], k


def test_bloom_survives_metadata_roundtrip(spark, btbl):
    btbl.refresh()
    f = btbl.meta.current_snapshot().live_files()[0]
    assert f.stats["k"].bloom is not None
    assert f.stats["s"].bloom is not None
    # range predicates are untouched by blooms
    scan = btbl.scan(where="k >= 0")
    assert scan.files_scanned == 2


def test_bloom_probe_unit():
    bits = bytearray(BLOOM_M_BITS // 8)
    for p in bloom_positions("hello"):
        bits[p // 8] |= 1 << (p % 8)
    b64 = base64.b64encode(bytes(bits)).decode()
    assert bloom_may_contain(b64, "hello")
    # with only "hello" set, an unrelated value is (overwhelmingly) absent
    assert not bloom_may_contain(b64, "goodbye")


def test_bloom_validation_errors(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh_bv"))
    with pytest.raises(TableValidationError, match="not in schema"):
        cat.create_table(
            "b1", "k bigint, part int", partition_cols=["part"],
            properties={"bloom.filter.columns": "nope"},
        )
    with pytest.raises(TableValidationError, match="partition column"):
        cat.create_table(
            "b2", "k bigint, part int", partition_cols=["part"],
            properties={"bloom.filter.columns": "part"},
        )
    with pytest.raises(TableValidationError, match="integer or string"):
        cat.create_table(
            "b3", "k bigint, v double, part int", partition_cols=["part"],
            properties={"bloom.filter.columns": "v"},
        )


def test_bloom_spark_python_hash_parity(spark):
    """The Spark-side build hashing must equal the Python probe hashing —
    the soundness keystone."""
    vals = ["0", "42", "s43", "hello world", "-7"]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v string")
        .select(
            "v",
            *[
                (
                    F.conv(
                        F.substring(F.md5(F.concat(F.col("v"), F.lit(f"#{i}"))), 1, 8),
                        16,
                        10,
                    ).cast("bigint")
                    % BLOOM_M_BITS
                ).alias(f"p{i}")
                for i in range(4)
            ],
        )
        .collect()
    )
    for r in rows:
        assert [r[f"p{i}"] for i in range(4)] == bloom_positions(r["v"])


def test_bloom_composes_with_datasource_read(spark, btbl):
    """The Python Data Source plans through the same may_match, so a
    pushed equality filter bloom-prunes its read tasks too."""
    from icebergsql_spark.sources.datasource import register_datasource

    register_datasource(spark)
    df = (
        spark.read.format("icebergsql")
        .load(btbl.meta.location)
        .filter(F.col("k") == 42)
    )
    rows = df.collect()
    assert [r["k"] for r in rows] == [42]


def test_write_distribution_property_clusters_writes(spark, tmp_path):
    """write.distribution.cols: inserts hash-cluster on the property's
    columns without the caller passing distribute_by — each key lands in
    exactly one file, so bloom point lookups plan one file."""
    cat = Catalog(spark, str(tmp_path / "wh_wd"))
    t = cat.create_table(
        "twd",
        "k bigint, part int",
        partition_cols=["part"],
        properties={
            "bloom.filter.columns": "k",
            "write.distribution.cols": "k",
        },
    )
    src = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    t.insert(src)  # no distribute_by argument
    live = t.meta.current_snapshot().live_files()
    assert len(live) > 1
    for k in (0, 123, 499):
        scan = t.scan(where=f"k = {k}")
        assert scan.files_scanned == 1, (k, scan.files_scanned)
        assert [r["k"] for r in scan.dataframe().collect()] == [k]


def test_join_bloom_prefilter_discards(spark):
    """The gate query's bloom prefilter must actually discard probe rows
    BEFORE the exact join (the assert moved out of the timed path in
    round 6 — it cost two extra lineitem scans there). The observe()
    metric riding the query carries the same evidence per run."""
    from tests.conftest import SF_SMOKE
    from icebergsql_spark.plans import load_all, REGISTRY

    load_all()
    out = REGISTRY["join_bloom_prefilter"].spark(spark, SF_SMOKE)
    rows = out.collect()
    assert rows  # result non-empty at smoke scale
    n_probe = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").count()
    # re-derive the observed metric from the collected run
    obs = out._jdf.queryExecution().observedMetrics()
    past = None
    it = obs.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == "bloom_prefilter":
            past = kv._2().getLong(0)
    assert past is not None and 0 < past < n_probe, (past, n_probe)


# ------------------------------------------- in-process vs Spark-job build --


def _write_bloom_files(tmp_path) -> list[str]:
    """Three files of one schema covering every supported integer width
    (with negatives and extremes), non-ASCII and empty strings, a
    dictionary-encoded string column, duplicates, scattered nulls, and a
    string column that is all NULL in one file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("i8", pa.int8()),
            ("i16", pa.int16()),
            ("i32", pa.int32()),
            ("i64", pa.int64()),
            ("s", pa.string()),
            ("d", pa.dictionary(pa.int32(), pa.string())),  # categorical
        ]
    )
    n = 300
    files = {
        "a": {
            "i8": [None if i % 7 == 0 else (i % 256) - 128 for i in range(n)],
            "i16": [(i * 131) % 65536 - 32768 for i in range(n)],
            "i32": [None if i % 11 == 3 else -i * 100_003 for i in range(n)],
            "i64": [(i % 50) * -(10**15) for i in range(n)],  # duplicates
            "s": [
                None if i % 5 == 0 else ["naïve", "Ωmega", "日本語", "x"][i % 4] + str(i % 9)
                for i in range(n)
            ],
            "d": [None if i % 4 == 1 else f"cat{i % 3}" for i in range(n)],
        },
        "b": {
            "i8": [-128, 127, 0, -1, None],
            "i16": [-32768, 32767, 0, None, 5],
            "i32": [-(2**31), 2**31 - 1, None, 0, 7],
            "i64": [-(2**63), 2**63 - 1, 0, None, -42],
            "s": ["", "🙂 emoji", "tab\tsep", "s43", "s43"],
            "d": ["ü", "ü", None, "cat0", "x"],
        },
        "c": {  # s entirely NULL here: no filter may be emitted for it
            "i8": [1, 2, 3],
            "i16": [None, None, -3],
            "i32": [10, 10, 10],
            "i64": [None, 9, 9],
            "s": [None, None, None],
            "d": ["cat1", "cat1", "cat1"],
        },
    }
    paths = []
    for name, cols in files.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table(cols, schema=schema), path)
        paths.append(path)
    return paths


def _build(monkeypatch, spark, cut_off, paths, cols, **kw):
    monkeypatch.setattr(stats_mod, "BLOOM_LOCAL_MAX_VALUES", cut_off)
    return stats_mod.collect_blooms(spark, paths, cols, **kw)


@pytest.mark.parametrize(
    "cols,m_bits",
    [
        (["i8", "i16", "i32", "i64", "s", "d"], BLOOM_M_BITS),
        (["i64", "s"], 1024),
        (["s"], 64),
        (["i32"], BLOOM_M_BITS),
    ],
)
def test_bloom_builds_byte_identical(spark, tmp_path, monkeypatch, cols, m_bits):
    """The driver build and the Spark job return the same dict, blob for
    blob, so which path ran can never change a pruning decision."""
    paths = _write_bloom_files(tmp_path)
    local = _build(monkeypatch, spark, IN_PROCESS, paths, cols, m_bits=m_bits)
    job = _build(monkeypatch, spark, SPARK_JOB, paths, cols, m_bits=m_bits)
    assert local == job
    a, _b, c = paths
    assert set(local[a]) == set(cols)
    # the all-NULL column gets no entry — what the Spark job does too
    assert "s" not in local.get(c, {})
    # every blob carries the requested filter size
    sizes = {len(base64.b64decode(v)) for f in local.values() for v in f.values()}
    assert sizes == {m_bits // 8}


@pytest.mark.parametrize("bad", ["double", "binary"])
def test_bloom_in_process_refuses_other_types(spark, tmp_path, monkeypatch, bad):
    """str() of a double or of raw bytes is not Spark's CAST(.. AS
    STRING): a filter built from it would make the probe miss real
    values, so the driver build refuses the file instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    values = {
        "double": pa.array([1.5, 2.0], pa.float64()),
        "binary": pa.array([b"s1", b"s2"], pa.binary()),
    }[bad]
    path = str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"v": values}), path)
    with pytest.raises(TableValidationError, match="integer or string"):
        _build(monkeypatch, spark, IN_PROCESS, [path], ["v"])


def _count_bloom_jobs(spark, monkeypatch) -> list[int]:
    """Record, per ``collect_blooms`` call, the Spark jobs it launched
    (the status tracker's job ids for a group set around the call)."""
    sc = spark.sparkContext
    calls: list[int] = []
    real = stats_mod.collect_blooms

    def counted(*args, **kwargs):
        group = f"collect-blooms-{len(calls)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            return real(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            calls.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(stats_mod, "collect_blooms", counted)
    return calls


def test_small_insert_builds_blooms_without_spark_jobs(spark, tmp_path, monkeypatch):
    """A small insert into a bloom table builds its filters with zero
    Spark jobs; a write pushed above the cut-off takes the Spark job and
    its filters prune ``k = v`` to exactly the file holding v."""
    calls = _count_bloom_jobs(spark, monkeypatch)
    cat = Catalog(spark, str(tmp_path / "wh_jobs"))
    t = cat.create_table(
        "tj", "k bigint, s string, part int", partition_cols=["part"],
        properties={"bloom.filter.columns": "k,s"},
    )
    base = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit(0).cast("int").alias("part"),
    )
    t.insert(base.filter(F.col("k") % 2 == 0).coalesce(1))
    assert calls == [0]
    (evens,) = t.meta.current_snapshot().live_files()
    monkeypatch.setattr(stats_mod, "BLOOM_LOCAL_MAX_VALUES", 100)
    t.insert(base.filter(F.col("k") % 2 == 1).coalesce(1))
    assert len(calls) == 2 and calls[1] >= 1
    (odds,) = [
        f for f in t.meta.current_snapshot().live_files() if f.path != evens.path
    ]
    for k in (0, 42, 43, 101, 198, 199):
        scan = t.scan(where=f"k = {k}")
        want = evens.path if k % 2 == 0 else odds.path
        assert [f.path for f in scan.planned_files] == [want], k
        assert [r["k"] for r in scan.dataframe().collect()] == [k]
