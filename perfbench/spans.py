"""Span tracing of the engine's layers, from outside the engine.

``install(tracer)`` wraps the engine's public callables where its own
modules look them up (``table.py`` imports ``collect_stats``,
``may_match``, ``augment_predicate`` and ``parse_predicate_lenient`` by
name, so those are patched in ``table``'s namespace) and returns a
function that restores the originals. Nothing under ``icebergsql_spark/``
is edited.

A span records name, start, end, parent span and statement id. Spans are
kept in memory; ``Tracer.dump`` writes them out at the end of a run. A
layer's self time is its span's duration minus the part covered by its
child spans; the statement's own root span keeps what no layer covers
(``trace.untraced_ms``). Spark jobs are attributed per span from the
statement's job group, as job-id deltas taken at the span's boundaries.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT_SPAN = "stmt"

@dataclass
class Span:
    name: str
    parent: int
    stmt: int
    cls: str = ""
    start: float = 0.0
    end: float = 0.0
    jobs_before: frozenset[int] | None = None
    jobs: frozenset[int] = frozenset()  # launched while open, children's included


def self_times(spans: list[Span], root: int) -> dict[str, float]:
    """Self time per span name over the subtree rooted at ``root``
    (the root's own name included): duration minus the union of the
    child intervals, clipped to the span."""
    children: dict[int, list[int]] = defaultdict(list)
    for i in range(root + 1, len(spans)):
        children[spans[i].parent].append(i)
    out: dict[str, float] = defaultdict(float)

    def visit(i: int) -> None:
        s = spans[i]
        ivs = sorted(
            (max(spans[c].start, s.start), min(spans[c].end, s.end))
            for c in children[i]
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] += (s.end - s.start) - covered
        for c in children[i]:
            visit(c)

    visit(root)
    return dict(out)


class SparkJobs:
    """Job ids, stages, tasks and busy time of one job group, read from
    the status tracker and the application status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jsc = self.sc._jsc.sc()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        # job events reach the tracker through the async listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def ids(self, group: str) -> frozenset[int]:
        self.drain()
        return frozenset(self.tracker.getJobIdsForGroup(group))

    def summary(self, ids) -> tuple[int, int, int, float]:
        """(jobs, stages run, tasks run, ms with at least one job running)."""
        self.drain()
        store = self._jsc.statusStore()
        stages = tasks = 0
        ivs = []
        for jid in sorted(ids):
            jd = store.job(jid)
            stages += jd.numCompletedStages() + jd.numFailedStages()
            tasks += jd.numCompletedTasks() + jd.numFailedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                ivs.append((sub.get().getTime(), done.get().getTime()))
        busy, hi = 0.0, None
        for a, b in sorted(ivs):
            if hi is None or a > hi:
                busy += b - a
                hi = b
            elif b > hi:
                busy += b - hi
                hi = b
        return len(ids), stages, tasks, float(busy)


@dataclass
class StatementTrace:
    cls: str
    seconds: float
    self_s: dict[str, float]
    counters: dict[str, float]
    spark: tuple[int, int, int, float] = (0, 0, 0, 0.0)


@dataclass
class Tracer:
    """Collects spans and per-statement counters while a statement is open."""

    jobs: SparkJobs | None = None
    spans: list[Span] = field(default_factory=list)
    statements: list[StatementTrace] = field(default_factory=list)
    overhead_s: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[int] = field(default_factory=list)
    _stmt: int = -1
    _cls: str = ""
    _group: str = ""
    _main: int = field(default_factory=threading.get_ident)

    # ------------------------------------------------------ statements --

    def begin(self, stmt: int, cls: str) -> None:
        self._stmt, self._cls = stmt, cls
        self.counters = defaultdict(float)
        if self.jobs is not None:
            self._group = f"perfbench-{stmt}"
            self.jobs.set_group(self._group)
        self._stack = [self._open(ROOT_SPAN, jobs=True)]
        self.spans[self._stack[0]].start = time.perf_counter()

    def end(self) -> StatementTrace:
        end = time.perf_counter()
        root = self._stack.pop()
        self._close(root, self.spans[root].start, end)
        self._stack = []
        st = StatementTrace(
            cls=self._cls,
            seconds=end - self.spans[root].start,
            self_s=self_times(self.spans, root),
            counters=dict(self.counters),
        )
        if self.jobs is not None:
            st.spark = self.jobs.summary(self.spans[root].jobs)
        self.statements.append(st)
        return st

    @property
    def active(self) -> bool:
        return bool(self._stack) and threading.get_ident() == self._main

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counters[key] += n

    # ----------------------------------------------------------- spans --

    def _open(self, name: str, jobs: bool) -> int:
        parent = self._stack[-1] if self._stack else -1
        span = Span(name, parent, self._stmt, self._cls)
        if jobs and self.jobs is not None:
            span.jobs_before = self.jobs.ids(self._group)
        self.spans.append(span)
        return len(self.spans) - 1

    def _close(self, idx: int, start: float, end: float) -> None:
        span = self.spans[idx]
        span.start, span.end = start, end
        if span.jobs_before is not None:
            span.jobs = self.jobs.ids(self._group) - span.jobs_before

    def wrap(
        self,
        fn: Callable,
        name: str,
        post: Callable[["Tracer", tuple, Any], None] | None = None,
        jobs: bool = False,
        when: Callable[[tuple], bool] | None = None,
        on_error: Callable[["Tracer", BaseException], None] | None = None,
    ) -> Callable:
        """``fn`` recorded as a span named ``name`` while a statement is
        open. ``when`` skips the span for calls that do no work (a cached
        manifest); ``post`` records counters from the arguments and
        result. Book-keeping time is added to ``overhead_s``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active or (when is not None and not when(args)):
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            idx = self._open(name, jobs)
            self._stack.append(idx)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            except BaseException as exc:
                t1 = time.perf_counter()
                self._stack.pop()
                self._close(idx, t0, t1)
                if on_error is not None:
                    on_error(self, exc)
                self.overhead_s += (t0 - t_in) + (time.perf_counter() - t1)
                raise
            t1 = time.perf_counter()
            self._stack.pop()
            self._close(idx, t0, t1)
            if post is not None:
                post(self, args, result)
            self.overhead_s += (t0 - t_in) + (time.perf_counter() - t1)
            return result

        return traced

    def counting(self, fn: Callable, key: str) -> Callable:
        """``fn`` with a call counter and no span."""

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if self.active:
                self.counters[key] += 1
            return fn(*args, **kwargs)

        return counted

    def dump(self, path: str) -> None:
        """One JSON line per span; ``jobs`` are the span's own Spark jobs,
        those its child spans launched removed."""
        child_jobs: dict[int, set[int]] = defaultdict(set)
        for s in self.spans:
            if s.parent >= 0:
                child_jobs[s.parent] |= s.jobs
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "parent": s.parent,
                            "stmt": s.stmt,
                            "cls": s.cls,
                            "start": s.start,
                            "end": s.end,
                            "jobs": sorted(s.jobs - child_jobs[i]),
                        }
                    )
                    + "\n"
                )


# ------------------------------------------------------------ patching --


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the engine's layer boundaries; returns the undo function."""
    from icebergsql_spark import sql as sql_mod
    from icebergsql_spark import table as table_mod
    from icebergsql_spark.catalog import metadata as md
    from icebergsql_spark.catalog import stats as stats_mod
    from perfbench import workloads

    undo: list[tuple[Any, str, Any]] = []

    def patch(owner, attr: str, make: Callable[[Callable], Callable]) -> None:
        raw = owner.__dict__[attr]
        if isinstance(raw, classmethod):
            new = classmethod(make(raw.__func__))
        else:
            new = make(raw)
        undo.append((owner, attr, raw))
        setattr(owner, attr, new)

    def span(owner, attr, name, **kw):
        patch(owner, attr, lambda fn: tracer.wrap(fn, name, **kw))

    def counter(owner, attr, key):
        patch(owner, attr, lambda fn: tracer.counting(fn, key))

    MT = table_mod.ManagedTable

    # -- front door and planning
    span(sql_mod.Engine, "sql", "sql", jobs=True,
         post=lambda t, a, r: t.count("sql.calls"))
    # the statement's result frame run to its last row
    span(workloads, "materialize", "query", jobs=True)

    def plan_post(t, args, scan):
        snap = scan.snapshot
        live = snap.summary.get("total-data-files") if snap is not None else "0"
        if live is not None:
            t.count("plan.files_live", int(live))
        t.count("plan.files_scanned", len(scan.planned_files))
        t.count("plan.scans")

    span(MT, "scan", "plan", post=plan_post)

    def answered_post(t, args, n):
        t.count("plan.count_attempts")
        if n is not None:
            t.count("plan.count_answered")

    span(table_mod.ManagedScan, "count_from_stats", "plan", post=answered_post)
    counter(table_mod, "may_match", "prune.may_match_calls")
    counter(table_mod, "augment_predicate", "prune.augment_calls")
    counter(table_mod, "parse_predicate_lenient", "prune.parse_calls")

    # -- writes and their commits
    span(MT, "insert", "write.insert", jobs=True)
    span(MT, "delete_where", "write.delete", jobs=True)
    span(MT, "merge", "write.merge", jobs=True)
    span(MT, "upsert_by_keys", "write.merge", jobs=True)
    span(MT, "register_data_files", "write.register", jobs=True)

    def commit_counts(fn):
        @functools.wraps(fn)
        def counted(self, parent, added, deleted, *args, **kwargs):
            if tracer.active:
                tracer.counters["commit.files_added"] += len(added)
                tracer.counters["commit.bytes_added"] += sum(f.file_size for f in added)
                tracer.counters["commit.bytes_removed"] += sum(
                    f.file_size for f in deleted
                )
            return fn(self, parent, added, deleted, *args, **kwargs)

        return counted

    patch(MT, "_commit_snapshot", commit_counts)

    # -- merge-on-read reads and maintenance
    span(MT, "read_files_live", "mor.read_files_live", jobs=True)
    span(MT, "compact", "maint.compact", jobs=True)
    span(MT, "rewrite_position_deletes", "maint.rewrite_deletes", jobs=True)
    span(MT, "convert_equality_deletes", "maint.rewrite_deletes", jobs=True)

    def expire_post(t, args, res):
        t.count("maint.files_deleted",
                res.get("deleted_data_files", 0) + res.get("deleted_manifests", 0))

    span(MT, "expire_snapshots", "maint.expire", jobs=True, post=expire_post)

    # -- catalog.metadata
    def load_post(t, args, meta):
        t.count("metadata.load_calls")
        t.count("metadata.load_bytes", _size(meta.metadata_file(meta.version)))

    span(md.TableMetadata, "load", "metadata.load", post=load_post)

    def commit_post(t, args, _r):
        meta = args[0]
        t.count("metadata.commit_calls")
        t.count("metadata.commit_bytes", _size(meta.metadata_file(meta.version)))

    def commit_error(t, exc):
        if isinstance(exc, md.CommitConflict):
            t.count("metadata.commit_conflicts")

    span(md.TableMetadata, "commit", "metadata.commit", post=commit_post,
         on_error=commit_error)

    def entries_post(extra_key):
        def post(t, args, entries):
            t.count("manifest.reads")
            t.count("manifest.entries_read", len(entries))
            if extra_key:
                t.count(extra_key, len(entries))
        return post

    span(md.Manifest, "files", "manifest.read", post=entries_post(None),
         when=lambda a: a[0]._files is None)
    span(md.DVManifest, "entries", "manifest.read",
         post=entries_post("mor.dv_entries_read"),
         when=lambda a: a[0]._entries is None)
    span(md.EqManifest, "entries", "manifest.read",
         post=entries_post("mor.eq_entries_read"),
         when=lambda a: a[0]._entries is None)

    def write_post(t, args, manifest):
        t.count("manifest.writes")
        t.count("manifest.bytes_written", _size(manifest.path))

    for cls in (md.Manifest, md.DVManifest, md.EqManifest):
        span(cls, "write", "manifest.write", post=write_post)

    # -- catalog.stats: collect_stats(paths, ...), collect_blooms(spark, paths, ...)
    def stats_post(t, args, _r):
        t.count("stats.files", len(args[0]))

    span(stats_mod, "collect_stats", "stats", jobs=True, post=stats_post)
    span(table_mod, "collect_stats", "stats", jobs=True, post=stats_post)
    span(stats_mod, "collect_blooms", "bloom", jobs=True,
         post=lambda t, args, _r: t.count("bloom.files", len(args[1])))

    def uninstall() -> None:
        for owner, attr, raw in reversed(undo):
            setattr(owner, attr, raw)

    return uninstall
