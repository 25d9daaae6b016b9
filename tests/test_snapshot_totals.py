"""Snapshot-summary running totals stay exact under the O(1) incremental
maintenance in ``_commit_snapshot``.

total-records / total-data-files / total-position-deletes /
total-equality-deletes are carried forward from the parent summary (or
from the in-memory DV/eq merge when the delete set changed) instead of
re-walking every delete manifest per commit. This test replays a
DV + equality-delete + maintenance churn sequence and asserts, for EVERY
snapshot in the history, incremental == full manifest walk — the
invariant that makes the fast path trustworthy.
"""

from pyspark.sql import functions as F

from icebergsql_spark.catalog.metadata import DVManifest, EqManifest, Manifest
from icebergsql_spark.table import Catalog


def _walk_totals(snap):
    """Ground truth by brute force: read every manifest of ``snap``."""
    files = [f for p in snap.manifest_paths for f in Manifest(p).files()]
    dv = sum(
        e.count for p in snap.dv_manifest_paths for e in DVManifest(p).entries()
    )
    eq = sum(
        e.count for p in snap.eq_manifest_paths for e in EqManifest(p).entries()
    )
    return sum(f.record_count for f in files), len(files), dv, eq


def _summary_totals(snap):
    s = snap.summary
    return (
        int(s["total-records"]),
        int(s["total-data-files"]),
        int(s["total-position-deletes"]),
        int(s["total-equality-deletes"]),
    )


def test_incremental_totals_match_full_walk(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    tbl = cat.create_table(
        "tot",
        "k bigint, v bigint, part int",
        ["part"],
        properties={
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    src = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    tbl.insert(src)                                   # append
    tbl.delete_where("k % 7 = 0")                     # MoR → DVs
    tbl.insert(src.filter(F.col("k") >= 300))         # empty append (edge)
    tbl.delete_by_keys(                               # equality delete
        spark.range(5).select(F.col("id").alias("k")), ["k"]
    )
    tbl.insert(                                       # append alongside eq
        spark.range(300, 350).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            (F.col("id") % 3).cast("int").alias("part"),
        )
    )
    tbl.update_where({"v": "v + 1"}, "k % 11 = 0")    # MoR update → more DVs
    tbl.convert_equality_deletes()                     # eq → DVs
    tbl.rewrite_position_deletes()                     # DV consolidation
    tbl.compact(min_input_files=2)                     # replace snapshot

    tbl.refresh()
    assert len(tbl.meta.snapshots) >= 8
    for snap in tbl.meta.snapshots:
        assert _summary_totals(snap) == _walk_totals(snap), (
            f"snapshot {snap.snapshot_id} ({snap.operation}): incremental "
            "summary totals diverged from the full manifest walk"
        )
    # and the headline live count the totals feed stays right
    expected_live = 300 - len([k for k in range(300) if k % 7 == 0]) - len(
        [k for k in range(5) if k % 7 != 0]
    ) + 50
    assert tbl.to_df().count() == expected_live
    assert tbl.live_row_count() == expected_live


def test_append_on_dv_heavy_table_reads_no_delete_manifests(
    spark, tmp_path, monkeypatch
):
    """The hot path: a plain append on a table carrying DV and eq
    manifests must not open a single manifest, data or delete (the O(1)
    claim, asserted rather than trusted)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    tbl = cat.create_table(
        "fast",
        "k bigint, v bigint, part int",
        ["part"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    src = spark.range(200).select(
        F.col("id").alias("k"),
        F.col("id").alias("v"),
        (F.col("id") % 2).cast("int").alias("part"),
    )
    tbl.insert(src)
    tbl.delete_where("k % 5 = 0")
    tbl.delete_by_keys(
        spark.range(3).select(F.col("id").alias("k")), ["k"]
    )
    before = _summary_totals(tbl.meta.current_snapshot())

    opened = []
    real_dv_init = DVManifest.__init__
    real_eq_init = EqManifest.__init__

    def spy_dv(self, path):
        opened.append(path)
        real_dv_init(self, path)

    def spy_eq(self, path):
        opened.append(path)
        real_eq_init(self, path)

    real_files = Manifest.files

    def spy_files(self):
        opened.append(self.path)
        return real_files(self)

    monkeypatch.setattr(DVManifest, "__init__", spy_dv)
    monkeypatch.setattr(EqManifest, "__init__", spy_eq)
    monkeypatch.setattr(Manifest, "files", spy_files)
    tbl.insert(
        spark.range(200, 210).select(
            F.col("id").alias("k"),
            F.col("id").alias("v"),
            (F.col("id") % 2).cast("int").alias("part"),
        )
    )
    monkeypatch.undo()
    assert opened == [], "plain append walked manifests"
    after = tbl.meta.current_snapshot()
    # delete totals carried forward verbatim; record totals advanced
    assert _summary_totals(after)[2:] == before[2:]
    assert _summary_totals(after) == _walk_totals(after)


def test_entries_status_after_rewrite_manifests(spark, tmp_path):
    """$entries attribution after a metadata-only replace: the replace
    snapshot reuses its parent's sequence number, so seq→snapshot must
    resolve to the FIRST snapshot with that seq (the data commit) and
    status must be judged against the latest DATA-BEARING ancestor — the
    parent's files stay ADDED under the parent, never under the replace."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    tbl = cat.create_table("ent", "k bigint, part int", ["part"])
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    )
    s1 = tbl.insert(mk(0, 50))
    s2 = tbl.insert(mk(50, 100))
    res = tbl.rewrite_manifests(target_entries=100_000)
    assert res["rewritten_manifests"] >= 1
    tbl.refresh()
    replace_snap = tbl.meta.current_snapshot()
    assert replace_snap.operation == "replace"
    assert replace_snap.sequence_number == s2.sequence_number  # reused

    rows = tbl.entries_df().collect()
    assert rows, "entries view empty"
    by_snap = {}
    for r in rows:
        by_snap.setdefault(r["snapshot_id"], []).append(r)
    # nothing is attributed to the metadata-only replace
    assert replace_snap.snapshot_id not in by_snap
    # s2's files are still ADDED (status 1) under s2; s1's EXISTING
    for r in by_snap[s2.snapshot_id]:
        assert r["status"] == 1
    for r in by_snap[s1.snapshot_id]:
        assert r["status"] == 0
    # a compaction replace ADDS files under a fresh seq: those files are
    # ADDED under the compaction, and the walk stops at it
    tbl.compact(min_input_files=2)
    tbl.refresh()
    comp = tbl.meta.current_snapshot()
    assert comp.operation == "replace" and comp.num_added_files > 0
    rows2 = tbl.entries_df().collect()
    added_under = {r["snapshot_id"] for r in rows2 if r["status"] == 1}
    assert added_under == {comp.snapshot_id}
