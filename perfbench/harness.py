"""Shared plumbing for the managed-table benchmark.

Statistics (median and the tail rule), timing and checking one
statement, the Spark session the workloads run on, and disk accounting.
Nothing here imports the engine at module level, so the statistics can
be tested without Spark.
"""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.oracle import Mismatch

ROOT = Path(__file__).resolve().parent.parent

# Percentiles tried, highest first, when reporting a tail latency.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile of ``sorted_values`` and how many samples
    lie strictly after it in the sorted order."""
    n = len(sorted_values)
    idx = max(0, math.ceil(pct / 100.0 * n) - 1)
    return sorted_values[idx], n - idx - 1


@dataclass(frozen=True)
class Tail:
    pct: float
    value: float
    beyond: int
    samples: int


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> Tail:
    """The highest ladder percentile with at least ``min_beyond`` samples
    beyond it. Below ``4 * min_beyond`` samples no ladder entry qualifies
    and the median is returned as pct 50; it still has ``min_beyond``
    samples beyond it from ``2 * min_beyond + 1`` samples on, and
    ``beyond`` says how many lie above it."""
    if not values:
        raise ValueError("tail of an empty sample")
    s = sorted(values)
    for pct in TAIL_LADDER:
        value, beyond = nearest_rank(s, pct)
        if beyond >= min_beyond:
            return Tail(pct, value, beyond, len(s))
    _, beyond = nearest_rank(s, 50.0)
    return Tail(50.0, median(s), beyond, len(s))


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------- records --


@dataclass
class Statement:
    """One timed statement: its class (read / write / maint), what it was,
    how long it took and whether its output matched the oracle."""

    cls: str
    kind: str
    seconds: float
    ok: bool
    error: str | None = None


@dataclass
class RunLog:
    statements: list[Statement] = field(default_factory=list)
    # checks made outside the timed statements (final table contents)
    extra_checks: int = 0
    extra_failures: int = 0
    failures: list[str] = field(default_factory=list)

    def add(self, st: Statement) -> None:
        self.statements.append(st)
        if not st.ok:
            self.failures.append(f"{st.cls}/{st.kind}: {st.error}")

    def of(self, cls: str) -> list[Statement]:
        return [s for s in self.statements if s.cls == cls]

    @property
    def attempted(self) -> int:
        return len(self.statements) + self.extra_checks

    @property
    def failed(self) -> int:
        return sum(not s.ok for s in self.statements) + self.extra_failures


def execute(op, log: RunLog, tracer=None, stmt: int = 0) -> None:
    """Time one statement, then check its output (untimed)."""
    if tracer is not None:
        tracer.begin(stmt, op.cls)
    t0 = time.perf_counter()
    try:
        result, error = op.run(), None
    except Exception as exc:  # a failed statement is counted, not fatal
        result, error = None, f"{type(exc).__name__}: {exc}"
    seconds = time.perf_counter() - t0
    if tracer is not None:
        tracer.end()
    if error is None:
        try:
            op.check(result)
        except Mismatch as exc:
            error = f"wrong answer: {exc}"
    log.add(Statement(op.cls, op.kind, seconds, error is None, error))


def end_to_end_metrics(
    log: RunLog, setup_s: float, storage_amp: float
) -> dict[str, tuple[float, str]]:
    """The user-visible metrics of one run, from its statement log."""
    out: dict[str, tuple[float, str]] = {"setup_s": (setup_s, "s")}
    for cls in ("read", "write"):
        ms = [s.seconds * 1000.0 for s in log.of(cls)]
        if not ms:
            raise RuntimeError(f"workload ran no {cls} statement")
        out[f"{cls}_p50_ms"] = (median(ms), "ms")
        out[f"{cls}_tail_ms"] = (tail(ms).value, "ms")
    busy = sum(s.seconds for s in log.statements)
    done = sum(s.ok for s in log.statements)
    out["ops_per_s"] = (done / busy, "1/s")
    out["storage_amp"] = (storage_amp, "ratio")
    out["driver_peak_rss_mb"] = (peak_rss_mb(), "MB")
    return out


def peak_rss_mb() -> float:
    # ru_maxrss is in KiB on Linux
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ------------------------------------------------------------------- disk --


@dataclass(frozen=True)
class DiskUsage:
    total_bytes: int
    metadata_bytes: int
    data_bytes: int
    files: int


def disk_usage(table_dir: str | os.PathLike) -> DiskUsage:
    """Bytes under a table directory, split into its ``metadata`` subtree
    and everything else."""
    total = meta = files = 0
    root = Path(table_dir)
    meta_root = root / "metadata"
    for dirpath, _dirs, names in os.walk(root):
        in_meta = Path(dirpath) == meta_root or meta_root in Path(dirpath).parents
        for name in names:
            try:
                size = os.path.getsize(os.path.join(dirpath, name))
            except FileNotFoundError:
                continue
            total += size
            files += 1
            if in_meta:
                meta += size
    return DiskUsage(total, meta, total - meta, files)


def free_bytes(path: str | os.PathLike) -> int:
    return shutil.disk_usage(path).free


# ------------------------------------------------------------------ spark --


def start_spark(work: Path, cores: int):
    """A local Spark session through the engine's own session factory,
    with every scratch directory inside ``work``. The factory's 16g driver
    default is overridden by ``SPARK_DRIVER_MEM`` (default 2g here)."""
    from icebergsql_spark.session import get_spark

    for sub in ("spark-local", "jvm-tmp", "spark-warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # the launcher gives SPARK_LOCAL_DIRS precedence over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'jvm-tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
