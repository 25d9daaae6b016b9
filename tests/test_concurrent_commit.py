"""Concurrent-writer commit races: optimistic conflict, append rebase,
and the equality-delete sequence-number invariant under contention.

The commit protocol is optimistic concurrency via exclusive metadata-file
creation (catalog/metadata.py::TableMetadata.commit) with an append-only
retry loop in table.py::_commit_snapshot that derives the snapshot again
from the refreshed head — the same shape as the reference's
SparkTableOperations.scala:91-149 (retryable appends, cleanup on terminal
failure). These tests drive TWO ManagedTable handles on one
table location and interleave their commits deterministically: handle B
computes its parent/files against a base that handle A then moves, so B's
first commit attempt always hits CommitConflict and must rebase.

Invariants locked here:
- both writers' rows survive a contended append (no lost update);
- snapshot summary running totals (total-records / total-data-files /
  total-position-deletes / total-equality-deletes) are recomputed against
  the REBASED parent, not the stale one;
- data sequence numbers stay strictly increasing across the interleave,
  and a rebased append's files are restamped ABOVE a concurrent equality
  delete's seq, so the eq delete can never mask rows appended after it;
- a rebased append deletes its failed attempt's manifests, so none is
  left orphaned;
- non-append operations (overwrite) surface the conflict to the caller
  instead of rebasing a stale delete set.
"""

import pytest
from pyspark.sql import functions as F

from icebergsql_spark.catalog.metadata import CommitConflict
from icebergsql_spark.table import Catalog

DDL = "k bigint, v bigint, part int"


def _mk(spark, tmp_path, name, properties=None):
    wh = str(tmp_path / "wh")
    cat_a = Catalog(spark, wh)
    tbl_a = cat_a.create_table(
        name, DDL, ["part"], properties=properties or {}
    )
    tbl_b = Catalog(spark, wh).load_table(name)
    return tbl_a, tbl_b


def _rows(spark, lo, hi, v_mul=1):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * v_mul).alias("v"),
        (F.col("id") % 2).cast("int").alias("part"),
    )


def _totals(snap):
    s = snap.summary
    return (
        int(s["total-records"]),
        int(s["total-data-files"]),
        int(s["total-position-deletes"]),
        int(s["total-equality-deletes"]),
    )


def test_contended_append_rebases_and_keeps_both(spark, tmp_path):
    tbl_a, tbl_b = _mk(spark, tmp_path, "race_append")
    tbl_a.insert(_rows(spark, 0, 100))

    # B computes parent + files against the current base ...
    tbl_b.refresh()
    parent_b = tbl_b.meta.current_snapshot()
    added_b = tbl_b._distributed_write(_rows(spark, 200, 250))
    # ... then A moves the base out from under it
    tbl_a.insert(_rows(spark, 100, 200))
    # B's commit hits CommitConflict internally and must rebase
    snap_b = tbl_b._commit_snapshot(parent_b, added_b, [])

    tbl_a.refresh()
    assert tbl_a.meta.current_snapshot().snapshot_id == snap_b.snapshot_id
    assert tbl_a.to_df().count() == 250  # no lost update
    # rebased parent pointer, not the stale one
    parent = tbl_a.meta.snapshot_by_id(snap_b.parent_id)
    assert parent is not None and parent.snapshot_id != parent_b.snapshot_id
    # summary totals recomputed against the REBASED parent
    rec, files, dv, eq = _totals(snap_b)
    assert rec == 250
    assert files == len(tbl_a.meta.current_snapshot().live_files())
    assert (dv, eq) == (0, 0)
    # strictly increasing sequence numbers across the whole history
    seqs = [s.sequence_number for s in tbl_a.meta.snapshots]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def test_contended_append_after_eq_delete_respects_seq(spark, tmp_path):
    tbl_a, tbl_b = _mk(
        spark,
        tmp_path,
        "race_eq",
        properties={"write.delete.mode": "merge-on-read"},
    )
    tbl_a.insert(_rows(spark, 0, 100))

    tbl_b.refresh()
    parent_b = tbl_b.meta.current_snapshot()
    added_b = tbl_b._distributed_write(_rows(spark, 0, 10, v_mul=7))
    # concurrent equality delete of the SAME keys B is about to re-append
    tbl_a.delete_by_keys(
        spark.range(0, 10).select(F.col("id").alias("k")), ["k"]
    )
    eq_seq = tbl_a.meta.current_snapshot().sequence_number
    snap_b = tbl_b._commit_snapshot(parent_b, added_b, [])

    # the rebase restamped B's files ABOVE the eq delete's seq, so the
    # delete (strictly-lower rule) cannot mask the fresh rows
    assert snap_b.sequence_number > eq_seq
    # the rebase writes a fresh manifest with the restamped seq (the
    # on-disk manifest is the authoritative record)
    tbl_a.refresh()
    seq_by_path = {
        f.path: f.seq
        for f in tbl_a.meta.current_snapshot().live_files()
    }
    assert all(
        seq_by_path[f.path] == snap_b.sequence_number for f in added_b
    )
    got = {
        (r["k"], r["v"])
        for r in tbl_a.to_df().filter(F.col("k") < 10).collect()
    }
    assert got == {(k, k * 7) for k in range(10)}
    assert tbl_a.to_df().count() == 100  # 100 - 10 deleted + 10 re-added
    rec, files, dv, eq = _totals(tbl_a.meta.current_snapshot())
    assert rec == 110  # raw data-file records (Iceberg semantics)
    assert eq == 10 and dv == 0
    assert tbl_a.live_row_count() == 100


def test_contended_overwrite_surfaces_conflict(spark, tmp_path):
    tbl_a, tbl_b = _mk(spark, tmp_path, "race_ow")
    tbl_a.insert(_rows(spark, 0, 50))

    tbl_b.refresh()
    parent_b = tbl_b.meta.current_snapshot()
    deleted_b = list(parent_b.live_files())
    added_b = tbl_b._distributed_write(_rows(spark, 1000, 1010))
    tbl_a.insert(_rows(spark, 50, 60))
    # overwrite's delete set was computed against a stale snapshot — the
    # conflict must surface, never silently rebase
    with pytest.raises(CommitConflict):
        tbl_b._commit_snapshot(parent_b, added_b, deleted_b)
    tbl_a.refresh()
    assert tbl_a.to_df().count() == 60  # A's lineage intact


def test_interleaved_append_fuzz(spark, tmp_path):
    tbl_a, tbl_b = _mk(spark, tmp_path, "race_fuzz")
    tbl_a.insert(_rows(spark, 0, 10))
    expected = 10
    # six interleaved stale-base appends alternating writers
    for i in range(6):
        writer, other = (tbl_a, tbl_b) if i % 2 == 0 else (tbl_b, tbl_a)
        writer.refresh()
        parent = writer.meta.current_snapshot()
        lo = 100 * (i + 1)
        added = writer._distributed_write(_rows(spark, lo, lo + 10))
        other.insert(_rows(spark, lo + 50, lo + 55))
        writer._commit_snapshot(parent, added, [])
        expected += 15
    tbl_a.refresh()
    assert tbl_a.to_df().count() == expected
    seqs = [s.sequence_number for s in tbl_a.meta.snapshots]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # every snapshot's running total equals replaying its own lineage
    for s in tbl_a.meta.snapshots:
        assert int(s.summary["total-records"]) == sum(
            f.record_count for f in s.live_files()
        )


def test_three_writer_interleave_fuzz(spark, tmp_path):
    """Three handles on one table, each committing against a base the
    OTHER TWO have already moved: every attempt rebases in
    _commit_snapshot, no rows are lost, sequence numbers
    stay strictly increasing, and every snapshot's running totals equal
    a full replay of its lineage."""
    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    cat.create_table("race3", DDL, ["part"])
    handles = [Catalog(spark, wh).load_table("race3") for _ in range(3)]
    handles[0].insert(_rows(spark, 0, 10))
    expected = 10

    for rnd in range(3):
        writer = handles[rnd % 3]
        others = [h for h in handles if h is not writer]
        writer.refresh()
        parent = writer.meta.current_snapshot()
        lo = 1000 * (rnd + 1)
        added = writer._distributed_write(_rows(spark, lo, lo + 10))
        # BOTH other writers land commits before writer's attempt: the
        # rebase loop must walk two conflicts, re-deriving parent and
        # totals each time
        others[0].insert(_rows(spark, lo + 100, lo + 105))
        others[1].insert(_rows(spark, lo + 200, lo + 207))
        writer._commit_snapshot(parent, added, [])
        expected += 10 + 5 + 7

    h = handles[0]
    h.refresh()
    assert h.to_df().count() == expected
    seqs = [s.sequence_number for s in h.meta.snapshots]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    for s in h.meta.snapshots:
        assert int(s.summary["total-records"]) == sum(
            f.record_count for f in s.live_files()
        )
        assert int(s.summary["total-data-files"]) == len(s.live_files())


def test_contended_append_leaves_no_orphan_manifest(spark, tmp_path):
    """The three-writer shape, one round: the writer's first attempt
    conflicts and its manifest is deleted, so afterwards every manifest
    file under metadata/ is referenced by some snapshot."""
    import glob
    import os

    wh = str(tmp_path / "wh")
    Catalog(spark, wh).create_table("race_orphan", DDL, ["part"])
    writer, other_a, other_b = (
        Catalog(spark, wh).load_table("race_orphan") for _ in range(3)
    )
    writer.insert(_rows(spark, 0, 10))
    writer.refresh()
    parent = writer.meta.current_snapshot()
    added = writer._distributed_write(_rows(spark, 1000, 1010))
    other_a.insert(_rows(spark, 1100, 1105))
    other_b.insert(_rows(spark, 1200, 1207))
    snap = writer._commit_snapshot(parent, added, [])
    assert snap.parent_id != parent.snapshot_id  # it did rebase

    writer.refresh()
    referenced = {
        p
        for s in writer.meta.snapshots
        for p in s.manifest_paths + s.dv_manifest_paths + s.eq_manifest_paths
    }
    on_disk = set(
        glob.glob(os.path.join(writer.meta.metadata_dir, "*manifest-*"))
    )
    assert on_disk == referenced
    assert writer.to_df().count() == 10 + 10 + 5 + 7


def test_fast_forward_racing_main_append_refuses(spark, tmp_path):
    """The WAP publish race: writer A stages on a branch while writer B
    appends to main. fast_forward(main -> branch head) would silently
    DISCARD B's commit (the branch forked before it), so it must refuse
    (Iceberg fast-forward's ancestor rule). Re-staging on the new head
    then publishes cleanly with both writers' rows."""
    tbl_a, tbl_b = _mk(spark, tmp_path, "race_ff")
    tbl_a.insert(_rows(spark, 0, 20))

    tbl_a.create_branch("staging")
    tbl_a.insert(_rows(spark, 100, 110), branch="staging")
    # B advances MAIN after the branch forked
    tbl_b.refresh()
    tbl_b.insert(_rows(spark, 200, 205))

    tbl_a.refresh()
    with pytest.raises(ValueError, match="not an ancestor"):
        tbl_a.fast_forward("staging")
    tbl_b.refresh()
    assert tbl_b.to_df().count() == 25  # B's append intact on main

    # recovery: re-stage the same payload on a branch forked from the NEW
    # head, then publish — all three commits' rows visible
    tbl_a.refresh()
    tbl_a.drop_ref("staging")
    tbl_a.create_branch("staging")
    tbl_a.insert(_rows(spark, 100, 110), branch="staging")
    tbl_a.fast_forward("staging")
    tbl_a.refresh()
    assert tbl_a.to_df().count() == 35


def test_fast_forward_noop_and_descendant_ok(spark, tmp_path):
    """The legal fast-forward shapes still work: branch head == main head
    (no-op move) and branch strictly ahead of main (the normal WAP
    publish)."""
    tbl_a, _ = _mk(spark, tmp_path, "race_ff_ok")
    tbl_a.insert(_rows(spark, 0, 10))
    tbl_a.create_branch("b")
    # no-op: branch head IS main head
    snap = tbl_a.fast_forward("b")
    assert snap.snapshot_id == tbl_a.meta.current_snapshot_id
    # descendant: two staged commits ahead
    tbl_a.insert(_rows(spark, 10, 20), branch="b")
    tbl_a.insert(_rows(spark, 20, 30), branch="b")
    tbl_a.fast_forward("b")
    tbl_a.refresh()
    assert tbl_a.to_df().count() == 30


def test_expire_racing_append_surfaces_conflict(spark, tmp_path):
    """Maintenance racing a writer: expire_snapshots commits via the same
    optimistic metadata protocol, so a concurrent append moving the base
    between expire's refresh and its commit must surface CommitConflict
    (never silently clobber the writer's snapshot) — and a clean retry
    after refresh succeeds with both effects intact."""
    tbl_a, tbl_b = _mk(spark, tmp_path, "t_exp_race")
    for lo in (0, 10, 20):
        tbl_a.insert(_rows(spark, lo, lo + 10))

    # handle B prepares expire against the current base; handle A then
    # lands an append FIRST — B's metadata version is stale on commit
    tbl_b.refresh()
    base_version = tbl_b.meta.version

    real_commit = type(tbl_b.meta).commit
    tbl_a.insert(_rows(spark, 30, 40))  # A moves the base

    # B's expire starts from the stale in-memory meta: patch refresh to a
    # no-op so the race window is deterministic instead of timing-based
    orig_refresh = tbl_b.refresh
    tbl_b.refresh = lambda: None
    try:
        with pytest.raises(CommitConflict):
            tbl_b.expire_snapshots(retain_last=1)
    finally:
        tbl_b.refresh = orig_refresh
    assert tbl_b.meta.version == base_version  # failed commit rolled back

    # post-conflict: a real refresh sees A's append; expire then succeeds
    tbl_b.refresh()
    res = tbl_b.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] == 3
    tbl_a.refresh()
    assert tbl_a.to_df().count() == 40  # all four appends' rows live
    assert len(tbl_a.meta.snapshots) == 1
    assert real_commit is type(tbl_b.meta).commit  # nothing monkeypatched


def test_add_files_racing_append_rebases(spark, tmp_path):
    """An add_files import prepared against a base a concurrent writer
    then moves must REBASE like any append (imported files are new
    paths, so no conflict is possible) — both the import and the
    concurrent insert survive, totals replay, and cleanup-on-failure
    never touches the external source files."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F2

    tbl_a, tbl_b = _mk(spark, tmp_path, "race_import")
    tbl_a.insert(_rows(spark, 0, 20))

    src = tempfile.mkdtemp(prefix="icebergsql-raceimp-")
    for part in (0, 1):
        _rows(spark, 100, 120).filter(
            F2.col("part") == part
        ).coalesce(1).write.mode("append").parquet(src)

    # B refreshes (sees the 20-row base) ... then A moves the base
    tbl_b.refresh()
    tbl_a.insert(_rows(spark, 50, 60))
    # ... and B's import commits against its stale in-memory parent.
    # Freeze ONLY add_files' own upfront refresh (the deterministic race
    # window); the rebase loop's refreshes must still see A's commit.
    orig_refresh = tbl_b.refresh
    calls = {"n": 0}

    def stale_once():
        if calls["n"] == 0:
            calls["n"] += 1
            return None
        return orig_refresh()

    tbl_b.refresh = stale_once
    try:
        snap = tbl_b.add_files(src)
    finally:
        tbl_b.refresh = orig_refresh
    assert calls["n"] == 1  # the race window actually fired
    assert snap.operation == "append"

    tbl_a.refresh()
    assert tbl_a.meta.current_snapshot().snapshot_id == snap.snapshot_id
    assert tbl_a.to_df().count() == 50  # 20 base + 10 concurrent + 20 import
    for s in tbl_a.meta.snapshots:
        assert int(s.summary["total-records"]) == sum(
            f.record_count for f in s.live_files()
        )
    # the external source files are intact regardless of commit path
    assert all(
        os.path.exists(p) for p in glob.glob(f"{src}/*.parquet")
    )
