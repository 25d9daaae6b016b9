"""Per-layer metrics of a traced run.

Per statement class (read / write / maint), counts are per-statement
means and times are per-statement mean self times in ms; the self times
of a class plus its ``trace.untraced_ms`` add up to the class's mean
traced latency. ``PER_LAYER`` is the single list of names, units and
directions that ``BENCHMARK.json`` mirrors.
"""

from __future__ import annotations

from perfbench.spans import ROOT_SPAN, StatementTrace

CLASSES = ("read", "write", "maint")

# (metric, span) — self time of the span, for every class
COMMON_TIMES = (
    ("sql.self_ms", "sql"),
    ("query.ms", "query"),
    ("plan.ms", "plan"),
    ("mor.read_files_live_ms", "mor.read_files_live"),
    ("metadata.load_ms", "metadata.load"),
    ("metadata.commit_ms", "metadata.commit"),
    ("manifest.read_ms", "manifest.read"),
    ("manifest.write_ms", "manifest.write"),
    ("stats.ms", "stats"),
    ("bloom.ms", "bloom"),
    ("trace.untraced_ms", ROOT_SPAN),
)
# spans only statements of one class open
CLASS_TIMES = {
    "read": (),
    "write": (
        ("write.insert_ms", "write.insert"),
        ("write.delete_ms", "write.delete"),
        ("write.merge_ms", "write.merge"),
        ("write.register_ms", "write.register"),
    ),
    "maint": (
        ("maint.compact_ms", "maint.compact"),
        ("maint.rewrite_deletes_ms", "maint.rewrite_deletes"),
        ("maint.expire_ms", "maint.expire"),
    ),
}
# (metric, counter, unit) — per-statement mean of a counter
COMMON_COUNTS = (
    ("sql.calls", "sql.calls", "count"),
    ("plan.files_live", "plan.files_live", "count"),
    ("plan.files_scanned", "plan.files_scanned", "count"),
    ("prune.may_match_calls", "prune.may_match_calls", "count"),
    ("prune.augment_calls", "prune.augment_calls", "count"),
    ("prune.parse_calls", "prune.parse_calls", "count"),
    ("mor.dv_entries_read", "mor.dv_entries_read", "count"),
    ("mor.eq_entries_read", "mor.eq_entries_read", "count"),
    ("metadata.load_calls", "metadata.load_calls", "count"),
    ("metadata.load_bytes", "metadata.load_bytes", "B"),
    ("metadata.commit_calls", "metadata.commit_calls", "count"),
    ("metadata.commit_bytes", "metadata.commit_bytes", "B"),
    ("manifest.reads", "manifest.reads", "count"),
    ("manifest.entries_read", "manifest.entries_read", "count"),
    ("manifest.writes", "manifest.writes", "count"),
    ("manifest.bytes_written", "manifest.bytes_written", "B"),
    ("stats.files", "stats.files", "count"),
    ("bloom.files", "bloom.files", "count"),
)
CLASS_COUNTS = {
    "read": (),
    "write": (
        ("write.files_added", "commit.files_added", "count"),
        ("write.bytes_added", "commit.bytes_added", "B"),
    ),
    "maint": (
        ("maint.bytes_rewritten", "commit.bytes_removed", "B"),
        ("maint.files_deleted", "maint.files_deleted", "count"),
    ),
}
SPARK = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.action_ms", "ms"),
)
GLOBAL = (
    ("disk.table_bytes", "B", "lower"),
    ("disk.metadata_bytes", "B", "lower"),
    ("disk.files", "count", "lower"),
    ("disk.peak_bytes", "B", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("metadata.commit_conflicts", "count", "lower"),
    ("error_rate", "ratio", "lower"),
    ("read.samples", "count", "higher"),
    ("read.tail_pct", "pct", "higher"),
    ("write.samples", "count", "higher"),
    ("write.tail_pct", "pct", "higher"),
    ("maint.samples", "count", "higher"),
)


def _spec() -> list[tuple[str, str, str]]:
    out = []
    for cls in CLASSES:
        for name, _ in COMMON_TIMES + CLASS_TIMES[cls]:
            out.append((f"{cls}.{name}", "ms", "lower"))
        for name, _, unit in COMMON_COUNTS + CLASS_COUNTS[cls]:
            out.append((f"{cls}.{name}", unit, "lower"))
        out.append((f"{cls}.plan.kept_ratio", "ratio", "lower"))
        if cls == "read":
            out.append(("read.plan.stats_answered_ratio", "ratio", "higher"))
        for name, unit in SPARK:
            out.append((f"{cls}.{name}", unit, "lower"))
    out.extend(GLOBAL)
    return out


PER_LAYER = _spec()


def layer_metrics(
    traces: list[StatementTrace], globals_: dict[str, float]
) -> dict[str, float]:
    """Every ``PER_LAYER`` metric's value from the traced statements and
    the run-level values in ``globals_``."""
    out: dict[str, float] = {}
    for cls in CLASSES:
        sts = [t for t in traces if t.cls == cls]
        n = max(1, len(sts))
        for name, span in COMMON_TIMES + CLASS_TIMES[cls]:
            out[f"{cls}.{name}"] = 1000.0 * sum(t.self_s.get(span, 0.0) for t in sts) / n
        for name, key, _ in COMMON_COUNTS + CLASS_COUNTS[cls]:
            out[f"{cls}.{name}"] = sum(t.counters.get(key, 0.0) for t in sts) / n
        live = sum(t.counters.get("plan.files_live", 0.0) for t in sts)
        scanned = sum(t.counters.get("plan.files_scanned", 0.0) for t in sts)
        out[f"{cls}.plan.kept_ratio"] = scanned / live if live else 0.0
        if cls == "read":
            tried = sum(t.counters.get("plan.count_attempts", 0.0) for t in sts)
            hit = sum(t.counters.get("plan.count_answered", 0.0) for t in sts)
            out["read.plan.stats_answered_ratio"] = hit / tried if tried else 0.0
        for i, (name, _) in enumerate(SPARK):
            out[f"{cls}.{name}"] = sum(t.spark[i] for t in sts) / n
    out.update(globals_)
    missing = [name for name, _, _ in PER_LAYER if name not in out]
    if missing:
        raise KeyError(f"per-layer metrics not computed: {missing}")
    return out


def layer_closure_ms(traces: list[StatementTrace], cls: str) -> tuple[float, float]:
    """(mean traced latency, sum of the class's reported self times) in ms."""
    sts = [t for t in traces if t.cls == cls]
    if not sts:
        return 0.0, 0.0
    latency = 1000.0 * sum(t.seconds for t in sts) / len(sts)
    parts = 1000.0 * sum(
        t.self_s.get(span, 0.0)
        for t in sts
        for _, span in COMMON_TIMES + CLASS_TIMES[cls]
    ) / len(sts)
    return latency, parts
