"""The three workloads. One client, closed loop: the next statement starts
when the previous one has returned and been checked.

A workload turns its seed into inputs (``prepare``), builds its fixture
(``build``, repeated to time set-up), then yields ``Op`` objects. The
harness times ``Op.run`` alone; staging of inputs happens in the
generator and checking in ``Op.check``, both outside the timing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd

from perfbench.data import (
    LI_DDL,
    LI_NAMES_NO_MONTH,
    lineitem_orders,
    lineitem_single,
    month_bounds,
    months,
    stage_view,
)
from perfbench.harness import DiskUsage, disk_usage, free_bytes
from perfbench.oracle import ChurnModel, Mismatch, compare_rows, group_agg

LI_OPTIONS = (
    "addTableManagement 'true', "
    "columnDependencies 'l_shipdate=l_shipmonth:truncate[7]', "
    "'bloom.filter.columns' 'l_orderkey'"
)


@dataclass
class Op:
    cls: str  # read | write | maint
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], None] = lambda result: None


@dataclass
class Context:
    spark: Any
    work: Path
    seed: int
    seconds: float
    scale: str  # "full" or "tiny"

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])


def materialize(df) -> list[tuple]:
    """Run a statement's result frame to its last row (the span the
    tracer calls ``query``: Spark execution of the statement itself)."""
    return [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    table = ""
    SIZES: dict[str, dict] = {}

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = self.SIZES[ctx.scale]
        self.engine = None

    def prepare(self) -> None:
        """Generate this seed's inputs (not part of set-up time)."""

    def build(self, rep: int) -> Path:
        """Build one fixture under its own warehouse; the last one built is
        the one the timed phase runs against."""
        raise NotImplementedError

    def warmup(self) -> Iterator[Op]:
        """Untimed statements run once after set-up, before timing."""
        return iter(())

    def ops(self) -> Iterator[Op]:
        """The timed statements: a finite sequence whose length comes from
        ``--seconds`` through ``units``, so it does not depend on speed."""
        raise NotImplementedError

    def final_checks(self) -> list[str]:
        """Checks of end state after the timed phase; returns failures."""
        return []

    def _engine(self, rep: int):
        from icebergsql_spark.sql import Engine

        wh = self.ctx.work / f"fx{rep}"
        self.engine = Engine(self.spark, str(wh))
        return wh

    def sql(self, text: str) -> list[tuple]:
        return materialize(self.engine.sql(text))

    def table_dir(self) -> str:
        return self.engine.catalog.table_location(self.table)

    def storage(self) -> tuple[float, DiskUsage]:
        """(all bytes under the table directory plus live files kept
        outside it, over the bytes of live data files; disk usage)."""
        root = os.path.realpath(self.table_dir())
        usage = disk_usage(root)
        snap = self.engine.catalog.load_table(self.table).meta.current_snapshot()
        live = snap.live_files() if snap is not None else []
        live_bytes = sum(f.file_size for f in live)
        outside = sum(
            f.file_size for f in live
            if not os.path.realpath(f.path).startswith(root + os.sep)
        )
        return (usage.total_bytes + outside) / max(1, live_bytes), usage


# ------------------------------------------------------------ read_pruned --


class ReadPruned(Workload):
    """Pruned reads of a month-partitioned lineitem table with a derived
    month predicate and a bloom filter on the order key. Writes refresh a
    side month that no read selects (INSERT OVERWRITE PARTITION), so the
    data every read sees, and its file layout, never change."""

    name = "read_pruned"
    table = "li"
    SIZES = {
        "full": dict(orders=8_000, months=12, appends=2, window=2, share=0.3),
        "tiny": dict(orders=800, months=6, appends=2, window=2, share=0.3),
    }
    # one chunk of statements, shuffled by the seed: 24 reads, 4 refreshes
    CHUNK = {"point_day": 7, "range": 5, "lookup": 5, "as_of": 4, "count": 3, "refresh": 4}
    SIDE_MONTH = "1994-12"  # before the first read month
    SIDE_BATCHES = 4
    SIDE_ROWS = 200
    CHUNK_S = 5.0  # one chunk per this many seconds of --seconds

    def prepare(self) -> None:
        s = self.size
        rng = self.ctx.rng(1)
        self.months = months("1995-01", s["months"])
        df = lineitem_orders(rng, s["orders"], self.months[0], s["months"])
        # appends j = 1..A each carry a share of the rows of a few months
        slice_id = np.zeros(len(df), dtype=np.int64)
        for j in range(1, s["appends"] + 1):
            first = (j - 1) * len(self.months) // s["appends"]
            window = self.months[first : first + s["window"]]
            pick = df["l_shipmonth"].isin(window).to_numpy() & (
                rng.random(len(df)) < s["share"]
            )
            slice_id[pick & (slice_id == 0)] = j
        df["slice"] = slice_id
        self.df = df
        self.dates = np.sort(df["l_shipdate"].unique())
        self.keys = df["l_orderkey"].unique()
        for j in range(s["appends"] + 1):
            stage_view(
                self.spark, df[df["slice"] == j],
                str(self.ctx.work / f"src_{j}.parquet"), f"src_{j}",
            )
        # side-month batches; their keys lie above every main key
        first_key = 20 * s["orders"]
        for b in range(self.SIDE_BATCHES):
            side = lineitem_single(rng, first_key + b * self.SIDE_ROWS,
                                   self.SIDE_ROWS, self.SIDE_MONTH, 1)
            stage_view(self.spark, side, str(self.ctx.work / f"side_{b}.parquet"), f"side_{b}")

    def build(self, rep: int) -> Path:
        wh = self._engine(rep)
        self.sql(
            f"CREATE TABLE li ({LI_DDL}) USING parquet OPTIONS ({LI_OPTIONS}) "
            "PARTITIONED BY (l_shipmonth)"
        )
        for j in range(self.size["appends"] + 1):
            self.sql(f"INSERT INTO li SELECT * FROM src_{j}")
        self.sql("INSERT INTO li SELECT * FROM side_0")
        meta = self.engine.catalog.load_table("li").meta
        self.as_of_ms = [s.timestamp_ms for s in meta.snapshots]
        if len(set(self.as_of_ms)) != len(self.as_of_ms):
            raise RuntimeError("two fixture snapshots share a timestamp")
        return wh

    # -- statements

    def _agg_flag(self, rows: pd.DataFrame) -> list[tuple]:
        return group_agg(rows, "l_returnflag", {
            "n": ("l_orderkey", "size"), "s": ("l_extendedprice", "sum")})

    def _date_range(self, rng, max_months: int) -> tuple[str, str]:
        i = int(rng.integers(0, len(self.months)))
        j = min(len(self.months) - 1, i + int(rng.integers(0, max_months)))
        return month_bounds(self.months[i])[0], month_bounds(self.months[j])[1]

    def _read(self, rng, kind: str) -> Op:
        df = self.df
        if kind == "point_day":
            d = str(rng.choice(self.dates))
            q = (
                "SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s "
                f"FROM li WHERE l_shipdate = '{d}' GROUP BY l_returnflag"
            )
            want = self._agg_flag(df[df["l_shipdate"] == d])
        elif kind == "range":
            lo, hi = self._date_range(rng, 6)
            q = (
                "SELECT l_shipmode, count(*) AS n, sum(l_quantity) AS q FROM li "
                f"WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' "
                "GROUP BY l_shipmode"
            )
            sel = df[(df["l_shipdate"] >= lo) & (df["l_shipdate"] < hi)]
            want = group_agg(sel, "l_shipmode", {
                "n": ("l_orderkey", "size"), "q": ("l_quantity", "sum")})
        elif kind == "lookup":
            k = int(rng.choice(self.keys))
            q = (
                "SELECT l_linenumber, l_quantity, l_shipdate FROM li "
                f"WHERE l_orderkey = {k}"
            )
            sel = df[df["l_orderkey"] == k]
            want = list(zip(sel["l_linenumber"].astype(int),
                            sel["l_quantity"].astype(float), sel["l_shipdate"]))
        elif kind == "as_of":
            j = int(rng.integers(0, len(self.as_of_ms)))
            lo, hi = self._date_range(rng, 3)
            q = (
                f"as of '{self.as_of_ms[j]}' SELECT l_returnflag, count(*) AS n, "
                "sum(l_extendedprice) AS s FROM li "
                f"WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' "
                "GROUP BY l_returnflag"
            )
            want = self._agg_flag(
                df[(df["slice"] <= j) & (df["l_shipdate"] >= lo) & (df["l_shipdate"] < hi)]
            )
        else:  # count: partition-aligned, answered from manifest stats
            i = int(rng.integers(0, len(self.months)))
            j = min(len(self.months) - 1, i + int(rng.integers(0, 4)))
            m1, m2 = self.months[i], self.months[j]
            q = (
                f"SELECT count(*) FROM li WHERE l_shipmonth >= '{m1}' "
                f"AND l_shipmonth <= '{m2}'"
            )
            want = [(int(((df["l_shipmonth"] >= m1) & (df["l_shipmonth"] <= m2)).sum()),)]

        def check(rows, want=want, q=q):
            compare_rows(rows, want, q)

        return Op("read", kind, lambda q=q: self.sql(q), check)

    def _refresh(self, rng) -> Op:
        b = int(rng.integers(0, self.SIDE_BATCHES))
        q = (
            f"INSERT OVERWRITE li PARTITION (l_shipmonth='{self.SIDE_MONTH}') "
            f"SELECT {', '.join(LI_NAMES_NO_MONTH)} FROM side_{b}"
        )
        want_total = len(self.df) + self.SIDE_ROWS

        def check(_rows):
            snap = self.engine.catalog.load_table("li").meta.current_snapshot()
            got = (int(snap.summary["added-records"]), int(snap.summary["total-records"]))
            if got != (self.SIDE_ROWS, want_total):
                raise Mismatch(f"{q}: added/total records {got}, "
                               f"expected {(self.SIDE_ROWS, want_total)}")

        return Op("write", "refresh", lambda: self.sql(q), check)

    def warmup(self) -> Iterator[Op]:
        """One whole chunk, so the JVM has compiled every statement's code
        path before timing starts."""
        yield from self._chunk(self.ctx.rng(3))

    def ops(self) -> Iterator[Op]:
        """``units(seconds, CHUNK_S)`` chunks."""
        rng = self.ctx.rng(2)
        for _ in range(units(self.ctx.seconds, self.CHUNK_S)):
            yield from self._chunk(rng)

    def _chunk(self, rng) -> Iterator[Op]:
        """The same multiset of statements in a seeded order, with seeded
        literals."""
        kinds = [k for k, n in self.CHUNK.items() for _ in range(n)]
        for kind in rng.permutation(kinds):
            kind = str(kind)
            yield self._refresh(rng) if kind == "refresh" else self._read(rng, kind)


# ----------------------------------------------------------- ingest_churn --


class IngestChurn(Workload):
    """Merge-on-read churn: micro-batch inserts, partition overwrites,
    position deletes, MERGE upserts and equality-delete upserts, each
    followed by two reads of the range it touched. One maintenance
    statement every other write (equality-delete conversion,
    position-delete rewrite, compaction, snapshot expiry, in turn) keeps
    files, deletes and snapshots bounded."""

    name = "ingest_churn"
    table = "ch"
    SIZES = {
        "full": dict(base=8_000, months=4, batch=300, upd=80, new=40),
        "tiny": dict(base=400, months=2, batch=30, upd=10, new=5),
    }
    # micro-batch inserts are the common write: five of nine, so the
    # write median falls inside the insert cluster. The maintenance after
    # writes 2, 4, 6 and 8 (see _maintenance) follows the write that left
    # it work: equality deletes, position deletes, small files, snapshots.
    BLOCK = ("insert", "upsert", "insert", "delete", "insert",
             "merge", "insert", "overwrite", "insert")
    BLOCK_S = 10.0  # one block per this many seconds of --seconds
    SET_COLS = ["l_quantity", "l_extendedprice"]

    def prepare(self) -> None:
        s = self.size
        self.months = months("1998-01", s["months"])
        self.base = lineitem_single(self.ctx.rng(1), 1, s["base"], self.months[0], s["months"])
        stage_view(self.spark, self.base, str(self.ctx.work / "base.parquet"), "base")
        self.next_key = 10_000_000

    def build(self, rep: int) -> Path:
        wh = self._engine(rep)
        self.sql(
            f"CREATE TABLE ch ({LI_DDL}) USING parquet OPTIONS ({LI_OPTIONS}, "
            "'write.delete.mode' 'merge-on-read', 'write.merge.mode' 'merge-on-read') "
            "PARTITIONED BY (l_shipmonth)"
        )
        self.sql("INSERT INTO ch SELECT * FROM base")
        self.model = ChurnModel(self.base.copy())
        return wh

    # -- statements

    def _stage(self, df: pd.DataFrame, view: str) -> None:
        stage_view(self.spark, df, str(self.ctx.work / f"{view}.parquet"), view)

    def _fresh(self, rng, n: int, first_month: str, n_months: int) -> pd.DataFrame:
        df = lineitem_single(rng, self.next_key, n, first_month, n_months)
        self.next_key += n
        return df

    def _changed_images(self, rng, month: str, n_upd: int, n_new: int) -> pd.DataFrame:
        """New images of up to ``n_upd`` live rows of ``month`` plus
        ``n_new`` new rows in it."""
        live = self.model.rows[self.model.rows["l_shipmonth"] == month]
        pick = live.sample(n=min(n_upd, len(live)), random_state=rng).reset_index(drop=True)
        pick["l_quantity"] = rng.integers(51, 100, len(pick)).astype(np.float64)
        pick["l_extendedprice"] = np.round(pick["l_quantity"] * 1000.25, 2)
        return pd.concat([pick, self._fresh(rng, n_new, month, 1)], ignore_index=True)

    def _write(self, rng, kind: str) -> tuple[Op, str, str]:
        s = self.size
        m = len(self.months)
        if kind == "insert":
            i = int(rng.integers(0, m - 1)) if m > 1 else 0
            batch = self._fresh(rng, s["batch"], self.months[i], min(2, m))
            self._stage(batch, "stg")
            op = Op("write", kind, lambda: self.sql("INSERT INTO ch SELECT * FROM stg"),
                    lambda _r: self.model.insert(batch))
            lo, hi = month_bounds(self.months[i])[0], month_bounds(self.months[min(i + 1, m - 1)])[1]
        elif kind == "overwrite":
            month = str(rng.choice(self.months))
            # as many fresh rows as the month holds, so the table's size
            # does not depend on which month the seed picks
            live = int((self.model.rows["l_shipmonth"] == month).sum())
            batch = self._fresh(rng, max(1, live), month, 1)
            self._stage(batch, "stg")
            q = (
                f"INSERT OVERWRITE ch PARTITION (l_shipmonth='{month}') "
                f"SELECT {', '.join(LI_NAMES_NO_MONTH)} FROM stg"
            )
            op = Op("write", kind, lambda: self.sql(q),
                    lambda _r: self.model.overwrite_month(month, batch))
            lo, hi = month_bounds(month)
        elif kind == "delete":
            d0 = np.datetime64(str(rng.choice(self.model.rows["l_shipdate"].to_numpy())))
            lo_d, hi_d = str(d0), str(d0 + 3)
            q = f"DELETE FROM ch WHERE l_shipdate >= '{lo_d}' AND l_shipdate < '{hi_d}'"

            def check(rows, lo_d=lo_d, hi_d=hi_d, q=q):
                want = self.model.delete_dates(lo_d, hi_d)
                compare_rows(rows, [(want,)], q)

            op = Op("write", kind, lambda: self.sql(q), check)
            lo = month_bounds(lo_d[:7])[0]
            hi = month_bounds(str(np.datetime64(hi_d) - 1)[:7])[1]
        else:  # merge (SQL) or upsert (equality deletes, table API)
            month = str(rng.choice(self.months))
            src = self._changed_images(rng, month, s["upd"], s["new"])
            if kind == "merge":
                self._stage(src, "upd")
                q = (
                    "MERGE INTO ch t USING upd s ON t.l_orderkey = s.l_orderkey "
                    "WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity, "
                    "l_extendedprice = s.l_extendedprice WHEN NOT MATCHED THEN INSERT *"
                )
                op = Op("write", kind, lambda: self.sql(q),
                        lambda _r: self.model.merge(src, self.SET_COLS))
            else:
                self._stage(src, "ups")
                op = Op(
                    "write", kind,
                    lambda: self.engine.catalog.load_table("ch").upsert_by_keys(
                        self.spark.table("ups"), ["l_orderkey"]),
                    lambda _r: self.model.upsert(src),
                )
            lo, hi = month_bounds(month)
        return op, lo, hi

    def _read(self, lo: str, hi: str) -> Op:
        q = (
            "SELECT count(*) AS n, sum(l_quantity) AS q, sum(l_orderkey) AS k "
            f"FROM ch WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}'"
        )
        return Op(
            "read", "range", lambda: self.sql(q),
            lambda rows: compare_rows(rows, [self.model.range_answer(lo, hi)], q),
        )

    def _by_flag(self, lo: str, hi: str) -> Op:
        q = (
            "SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s FROM ch "
            f"WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY l_returnflag"
        )
        return Op(
            "read", "by_flag", lambda: self.sql(q),
            lambda rows: compare_rows(rows, self.model.by_flag(lo, hi), q),
        )

    def _maintenance(self) -> list[Op]:
        def call(proc, extra=""):
            q = f"CALL system.{proc}(table => 'ch'{extra})"
            return Op("maint", proc, lambda: self.sql(q))

        return [
            Op("maint", "convert_equality_deletes",
               lambda: self.engine.catalog.load_table("ch").convert_equality_deletes()),
            call("rewrite_position_deletes"),
            call("rewrite_data_files"),
            call("expire_snapshots", ", retain_last => 1"),
        ]

    def warmup(self) -> Iterator[Op]:
        """One whole block: every code path runs once, and the table's
        files and delete entries reach the level maintenance holds them at,
        before timing starts."""
        yield from self._block(self.ctx.rng(3))

    def ops(self) -> Iterator[Op]:
        """Whole blocks, as many as ``units(seconds, BLOCK_S)``."""
        rng = self.ctx.rng(2)
        for _ in range(units(self.ctx.seconds, self.BLOCK_S)):
            yield from self._block(rng)

    def _block(self, rng) -> Iterator[Op]:
        """Every write kind in a fixed order, so every block measures the
        same mix (rows and literals come from the seed). Each write is
        followed by two reads of its range; every other write, by one
        maintenance statement in turn."""
        maintenance = self._maintenance()
        for i, kind in enumerate(self.BLOCK):
            yield from self._round(rng, kind)
            if i % 2 == 1:
                yield maintenance[i // 2]

    def _round(self, rng, kind: str) -> Iterator[Op]:
        op, lo, hi = self._write(rng, kind)
        yield op
        # built after the write's check has brought the model up to date;
        # two scans of the same range, so reads stay in one latency mode
        yield self._read(lo, hi)
        yield self._by_flag(lo, hi)

    def final_checks(self) -> list[str]:
        q = (
            "SELECT l_shipmonth, count(*) AS n, sum(l_quantity) AS q, "
            "sum(l_orderkey) AS k FROM ch GROUP BY l_shipmonth"
        )
        try:
            compare_rows(self.sql(q), self.model.by_month(), "final table contents")
        except Mismatch as e:
            return [str(e)]
        return []


# ------------------------------------------------------- metadata_history --

# bytes of one metadata version at history depth n is about this times n^2
# (each snapshot inlines its whole manifest list); measured 36.5 MB at 1000
META_BYTES_PER_DEPTH_SQ = 40.0
# one run may use at most this share of the free disk
DISK_BUDGET_SHARE = 0.05


def metadata_disk_estimate(d1: int) -> int:
    """Bytes on disk at the end of a pass: every metadata version from 1
    to ``d1`` (the build to d0 plus one pass to d1)."""
    return int(META_BYTES_PER_DEPTH_SQ * sum(n * n for n in range(1, d1 + 1)))


class DiskBudgetError(RuntimeError):
    pass


class MetadataHistory(Workload):
    """Driver-only history: one-file metadata commits through
    ``register_data_files`` alternate with metadata-answered counts and
    scan plans, over a fixed depth range measured in whole passes."""

    name = "metadata_history"
    table = "h"
    PASS_S = 3.5  # one pass per this many seconds of --seconds
    SIZES = {
        "full": dict(d0=100, d1=150, parts=16),
        "tiny": dict(d0=8, d1=16, parts=4),
    }

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from icebergsql_spark.catalog.metadata import ColStats, DataFile

        s = self.size
        need = metadata_disk_estimate(s["d1"])
        free = free_bytes(self.ctx.work)
        if need > DISK_BUDGET_SHARE * free:
            raise DiskBudgetError(
                f"metadata_history needs about {need} bytes, more than "
                f"{DISK_BUDGET_SHARE:.0%} of the {free} bytes free"
            )
        rng = self.ctx.rng(1)
        fdir = self.ctx.work / "files"
        fdir.mkdir()
        self.files = []
        for i in range(s["d1"]):
            n = int(rng.integers(5, 41))
            k = np.arange(i * 100, i * 100 + n, dtype=np.int64)
            v = rng.integers(0, 1_000_000, n).astype(np.int64)
            p = f"p{int(rng.integers(0, s['parts'])):02d}"
            path = str(fdir / f"f{i:05d}.parquet")
            pq.write_table(pa.table({"k": k, "v": v, "p": [p] * n}), path)
            self.files.append(DataFile(
                path=path, partition={"p": p}, record_count=n,
                file_size=os.path.getsize(path),
                stats={"k": ColStats(int(k[0]), int(k[-1]), 0, n),
                       "v": ColStats(int(v.min()), int(v.max()), 0, n)},
            ))
        self.peak_bytes = 0

    def build(self, rep: int) -> Path:
        wh = self._engine(rep)
        self.sql(
            "CREATE TABLE h (k BIGINT, v BIGINT, p STRING) USING parquet "
            "OPTIONS (addTableManagement 'true') PARTITIONED BY (p)"
        )
        self.tbl = self.engine.catalog.load_table("h")
        for f in self.files[: self.size["d0"]]:
            self.tbl.register_data_files([f])
        self.depth = self.size["d0"]
        root = Path(self.table_dir())
        self.checkpoint = ({str(p) for p in root.rglob("*")}, self.tbl.meta.version)
        self._note_disk()
        return wh

    def _note_disk(self) -> None:
        self.peak_bytes = max(self.peak_bytes, disk_usage(self.ctx.work).total_bytes)

    def _restore(self) -> None:
        """Back to depth d0: remove what the pass wrote, point the version
        hint at the checkpoint version."""
        keep, version = self.checkpoint
        root = Path(self.table_dir())
        for p in sorted(root.rglob("*"), reverse=True):
            if str(p) not in keep:
                p.rmdir() if p.is_dir() else p.unlink()
        (root / "metadata" / "version-hint.text").write_text(str(version))
        self.depth = self.size["d0"]

    def _registered(self) -> list:
        return self.files[: self.depth]

    def _commit(self, f) -> Op:
        def check(snap):
            self.depth += 1
            want = sum(x.record_count for x in self._registered())
            got = int(snap.summary["total-records"])
            if got != want:
                raise Mismatch(f"register commit: total-records {got}, expected {want}")

        return Op("write", "register", lambda: self.tbl.register_data_files([f]), check)

    def _read(self, rng, kind: str) -> Op:
        p = f"p{int(rng.integers(0, self.size['parts'])):02d}"
        if kind == "count":
            q = f"SELECT count(*) FROM h WHERE p = '{p}'"

            def check(rows):
                want = sum(f.record_count for f in self._registered() if f.partition["p"] == p)
                compare_rows(rows, [(want,)], q)

            return Op("read", "count", lambda: self.sql(q), check)
        kmin = int(rng.integers(0, self.depth * 100))
        where = f"p = '{p}' AND k >= {kmin}"

        def check_plan(n):
            want = sum(
                1 for f in self._registered()
                if f.partition["p"] == p and f.stats["k"].max >= kmin
            )
            if n != want:
                raise Mismatch(f"scan({where!r}) planned {n} files, expected {want}")

        return Op("read", "plan", lambda: len(self.tbl.scan(where=where).planned_files),
                  check_plan)

    def storage(self):
        # the end state of the last whole pass, measured before any restore
        return self.end_storage

    def warmup(self) -> Iterator[Op]:
        rng = self.ctx.rng(3)
        yield self._read(rng, "count")
        yield self._read(rng, "plan")

    def ops(self) -> Iterator[Op]:
        """``units(seconds, PASS_S)`` whole passes from depth d0 to d1: each
        commit is followed by a metadata-answered count, every fourth one
        also by a scan plan (four counts per plan keep the read median
        inside one latency mode)."""
        rng = self.ctx.rng(2)
        for n in range(units(self.ctx.seconds, self.PASS_S)):
            if n:
                self._restore()
            for i in range(self.size["d0"], self.size["d1"]):
                yield self._commit(self.files[i])
                yield self._read(rng, "count")
                if i % 4 == 0:
                    yield self._read(rng, "plan")
            self._note_disk()
            self.end_storage = super().storage()


def units(seconds: float, nominal_s: float) -> int:
    """Whole passes or blocks for a run of ``seconds``: fixed for a given
    ``--seconds`` whatever the engine's speed, so a faster engine cannot
    change the depth, the mix or the number of samples measured."""
    return max(1, round(seconds / nominal_s))


WORKLOADS = {w.name: w for w in (ReadPruned, IngestChurn, MetadataHistory)}
