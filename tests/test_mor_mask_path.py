"""The merge-on-read mask rule in one place: ``Snapshot.deletes(files)``
chooses which position DVs and equality deletes apply to a file set, and
every reader, DV writer, converter and count consumes that choice. The
DeleteSet tests need no SparkSession; the rest check the callers agree
with it end to end."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from icebergsql_spark.catalog.metadata import (
    DataFile,
    DeleteSet,
    DeleteVectorEntry,
    DVManifest,
    EqManifest,
    EqualityDeleteEntry,
    Snapshot,
)
from icebergsql_spark.table import Catalog, ManagedScan


def _file(path, seq):
    return DataFile(path=path, partition={}, record_count=10, file_size=1, seq=seq)


def _snapshot(tmp_path, dvs, eqs):
    dv_m = DVManifest.write(str(tmp_path / "dv.json"), dvs)
    eq_m = EqManifest.write(str(tmp_path / "eq.json"), eqs)
    return Snapshot(
        snapshot_id=1, parent_id=None, timestamp_ms=0, operation="delete",
        manifest_paths=[], num_added_files=0, num_deleted_files=0,
        dv_manifest_paths=[dv_m.path], eq_manifest_paths=[eq_m.path],
    )


def test_delete_set_chooses_dvs_and_eqs(tmp_path, monkeypatch):
    snap = _snapshot(
        tmp_path,
        [
            DeleteVectorEntry("/a", "/dv1", 2),
            DeleteVectorEntry("/a", "/dv2", 3),
            DeleteVectorEntry("/c", "/dv2", 1),
        ],
        [
            EqualityDeleteEntry("/eq1", ["k"], seq=2, count=1),
            EqualityDeleteEntry("/eq2", ["k"], seq=4, count=1),
        ],
    )
    a, b = _file("/a", 1), _file("/b", 3)
    d = snap.deletes([a, b])
    # DVs apply to the files they name; their counts add up per file
    assert [e.dv_path for e in d.dvs] == ["/dv1", "/dv2"]
    assert d.dv_counts == {"/a": 5}
    # an equality delete applies iff it outranks some file of the set
    assert [e.eq_path for e in d.eqs] == ["/eq1", "/eq2"]
    assert [e.eq_path for e in d.eqs_masking(a)] == ["/eq1", "/eq2"]
    assert [e.eq_path for e in d.eqs_masking(b)] == ["/eq2"]
    # same-seq rows survive: a file at seq 4 is masked by nothing
    assert snap.deletes([_file("/b", 4)]).eqs == []
    # live rows: record counts minus DV counts, unknown under an eq delete
    assert d.live_rows() is None
    assert snap.deletes([_file("/a", 4), _file("/b", 4)]).live_rows() == 15
    # an empty file set reads no delete manifest at all
    reads = []
    monkeypatch.setattr(
        Snapshot, "dv_entries", lambda self: reads.append("dv") or []
    )
    monkeypatch.setattr(
        Snapshot, "eq_entries", lambda self: reads.append("eq") or []
    )
    empty = snap.deletes([])
    assert (empty.dvs, empty.eqs, empty.dv_counts) == ([], [], {})
    assert empty.live_rows() == 0
    assert reads == []
    # each side reads its manifests once, and only when asked
    d = snap.deletes([a])
    assert d.eqs == [] and reads == ["eq"]
    assert d.eqs_masking(a) == [] and reads == ["eq"]
    assert d.dv_counts == {} and reads == ["eq", "dv"]


@pytest.fixture()
def mor_table(spark, tmp_path):
    t = Catalog(spark, str(tmp_path / "wh")).create_table(
        "t",
        "k bigint, v bigint, part int",
        partition_cols=["part"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.insert(
        spark.range(200).select(
            F.col("id").alias("k"),
            (F.col("id") * 3).alias("v"),
            (F.col("id") % 4).cast("int").alias("part"),
        )
    )
    return t


def test_live_row_count_is_the_delete_set_count(spark, mor_table, monkeypatch):
    t = mor_table
    t.delete_where("k < 30")  # position DVs only: decidable from metadata
    assert t.live_row_count() == 170 == t.to_df().count()
    t.upsert_by_keys(
        spark.createDataFrame([(100, -1, 0), (500, 1, 1)], "k bigint, v bigint, part int"),
        ["k"],
    )
    # an unconverted equality delete: undecidable, so the masked count
    assert t.scan().count_from_stats() is None
    assert t.live_row_count() == 171 == t.to_df().count()
    # the metadata answer, when there is one, is taken as is, and no scan
    # is planned for it
    monkeypatch.setattr(DeleteSet, "live_rows", lambda self: 12345)
    monkeypatch.setattr(ManagedScan, "__init__", None)
    assert t.live_row_count() == 12345


def test_convert_and_dv_commit_over_prior_dvs_keep_counts_exact(spark, mor_table):
    t = mor_table
    t.delete_where("k < 40")
    # overlaps the first delete: prior positions are subtracted before the
    # write, so per-file counts stay additive
    t.delete_where("k >= 30 AND k < 60")
    t.delete_by_keys(spark.createDataFrame([(70,), (71,), (10,)], "k bigint"), ["k"])
    want = sorted(map(tuple, t.to_df().collect()))
    assert len(want) == 200 - 60 - 2
    t.convert_equality_deletes()
    snap = t.meta.current_snapshot()
    assert not snap.eq_manifest_paths
    assert sorted(map(tuple, t.to_df().collect())) == want
    assert t.scan().count_from_stats() == len(want)
    live = snap.live_files()
    dv_total = sum(snap.deletes(live).dv_counts.values())
    assert sum(f.record_count for f in live) - dv_total == len(want)
    files = {r["file_path"]: r["position_deletes"] for r in t.files_df().collect()}
    assert files == {
        f.path: snap.deletes([f]).dv_counts.get(f.path, 0)
        for f in live
    }


def test_quoted_location_under_escaped_string_literals(spark, tmp_path):
    """The eq-delete ``__fp`` → seq map is a VALUES frame of file paths: a
    location holding ``'`` must round-trip under both parser modes, or the
    map stops matching the files and masked rows leak or vanish."""
    key = "spark.sql.parser.escapedStringLiterals"
    DDL = "k bigint, v string, p int"
    prev = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            t = Catalog(spark, str(tmp_path / f"o'brien-{mode}")).create_table(
                "q", DDL, partition_cols=["p"]
            )
            t.upsert_by_keys(
                spark.createDataFrame([(1, "a", 0), (2, "b", 1)], DDL),
                ["k"],
            )
            t.upsert_by_keys(
                spark.createDataFrame([(1, "b", 0), (2, "y", 1)], DDL),
                ["k"],
            )
            t.upsert_by_keys(
                spark.createDataFrame([(2, "x", 1)], DDL), ["k"]
            )
            assert sorted(map(tuple, t.to_df().collect())) == [
                (1, "b", 0),
                (2, "x", 1),
            ]
            live = {f.path for f in t.meta.current_snapshot().live_files()}
            assert {r["file_path"] for r in t.files_df().collect()} == live
    finally:
        spark.conf.set(key, prev)
