"""Managed-table benchmark: SQL read, write and commit latency.

Run from the root of a checkout:

    python3 perfbench/run.py --workload read_pruned --seed 1 --seconds 20 --trace 0

Workloads: ``read_pruned``, ``ingest_churn``, ``metadata_history`` (see
``workloads.py`` and ``METRICS.md``). The run builds its fixture from the
seed, measures one closed-loop client for ``--seconds``, checks every
statement's output against an oracle, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's layers and
reports the per-layer metrics instead (spans go to
``.perfbench_out/``). Everything it writes stays under the checkout; the
work directory is removed at exit, failed runs included.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if sys.path and Path(sys.path[0]).resolve() == Path(__file__).resolve().parent:
    sys.path[0] = str(ROOT)
else:
    sys.path.insert(0, str(ROOT))

from perfbench.harness import (  # noqa: E402
    RunLog,
    end_to_end_metrics,
    execute,
    median,
    start_spark,
    stop_spark,
    tail,
)
from perfbench.workloads import WORKLOADS, Context, DiskBudgetError  # noqa: E402

SETUP_REPEATS = 3
# Spark task threads: fewer than the cores of a small shared machine, so
# the JVM's own threads and the Python driver keep cores of their own
SPARK_THREADS = 2
EXIT_NO_ENGINE = 2
EXIT_DISK = 3


def _engine_present() -> bool:
    pkg = ROOT / "icebergsql_spark" / "__init__.py"
    return pkg.is_file()


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    cores = min(SPARK_THREADS, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
    work.mkdir(parents=True)
    spark = None
    try:
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - T_START
        ctx = Context(spark=spark, work=work, seed=seed, seconds=seconds, scale=scale)
        wl = WORKLOADS[workload](ctx)
        wl.prepare()

        # set-up: build the fixture several times and keep the last one
        builds = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            fixture = wl.build(rep)
            builds.append(time.perf_counter() - t0)
            if rep < SETUP_REPEATS - 1:
                shutil.rmtree(fixture)
        warm = RunLog()
        t0 = time.perf_counter()
        for op in wl.warmup():
            execute(op, warm)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + median(builds) + warm_s

        tracer = uninstall = None
        if trace:
            from perfbench.spans import SparkJobs, Tracer, install

            tracer = Tracer(jobs=SparkJobs(spark))
            uninstall = install(tracer)
        log = RunLog()
        try:
            for i, op in enumerate(wl.ops()):
                execute(op, log, tracer, i)
        finally:
            if uninstall is not None:
                uninstall()

        # warm-up statements and end state are checked too
        log.extra_checks = len(warm.statements) + 1
        end_failures = wl.final_checks()
        log.extra_failures = warm.failed + (1 if end_failures else 0)
        log.failures.extend(warm.failures + end_failures)
        amp, usage = wl.storage()

        result = {
            "correct": log.failed == 0,
            "attempted": log.attempted,
            "failed": log.failed,
        }
        if trace:
            result["metrics"] = _per_layer(tracer, log, usage, wl)
        else:
            e2e = end_to_end_metrics(log, setup_s, amp)
            result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        _summary(workload, seed, log, builds, session_s, warm_s)
        return result
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


def _per_layer(tracer, log, usage, wl) -> dict:
    from perfbench.metrics import PER_LAYER, layer_closure_ms, layer_metrics

    busy = sum(s.seconds for s in log.statements)
    glob = {
        "disk.table_bytes": usage.total_bytes,
        "disk.metadata_bytes": usage.metadata_bytes,
        "disk.files": usage.files,
        "disk.peak_bytes": getattr(wl, "peak_bytes", usage.total_bytes),
        "trace.overhead_pct": 100.0 * tracer.overhead_s / busy,
        "metadata.commit_conflicts": sum(
            t.counters.get("metadata.commit_conflicts", 0) for t in tracer.statements),
        "error_rate": log.failed / log.attempted,
        "maint.samples": len(log.of("maint")),
    }
    for cls in ("read", "write"):
        ms = [s.seconds * 1000.0 for s in log.of(cls)]
        t = tail(ms)
        glob[f"{cls}.samples"] = len(ms)
        glob[f"{cls}.tail_pct"] = t.pct
    values = layer_metrics(tracer.statements, glob)
    print("# layer closure (mean traced latency = sum of reported self times): " + "  ".join(
        f"{cls} {lat:.1f} = {parts:.1f} ms"
        for cls in ("read", "write", "maint")
        for lat, parts in [layer_closure_ms(tracer.statements, cls)] if lat
    ))
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tracer.dump(str(out_dir / f"spans-{wl.name}-{wl.ctx.seed}.jsonl"))
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {name: {"value": float(values[name]), "unit": units[name]}
            for name, _, _ in PER_LAYER}


def _summary(workload, seed, log, builds, session_s, warm_s) -> None:
    """A human-readable line before the result: sample counts, the tail
    percentile used, and the first failures."""
    parts = [f"{workload} seed={seed}", f"session={session_s:.2f}s",
             "builds=" + ",".join(f"{b:.2f}" for b in builds), f"warmup={warm_s:.2f}s"]
    for cls in ("read", "write", "maint"):
        ms = [s.seconds * 1000.0 for s in log.of(cls)]
        if ms:
            t = tail(ms)
            parts.append(f"{cls}: n={len(ms)} p50={median(ms):.1f}ms "
                         f"p{t.pct:g}={t.value:.1f}ms ({t.beyond} beyond)")
    parts.append(f"failed={log.failed}/{log.attempted}")
    print("# " + "  ".join(parts))
    kinds = sorted({(s.cls, s.kind) for s in log.statements})
    print("# by kind: " + "  ".join(
        f"{k}: n={len(ms)} p50={median(ms):.0f}ms"
        for c, k in kinds
        for ms in [[s.seconds * 1000.0 for s in log.statements if (s.cls, s.kind) == (c, k)]]
    ))
    for f in log.failures[:5]:
        print(f"# failure: {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    if not _engine_present():
        print(f"perfbench: no icebergsql_spark package under {ROOT}", file=sys.stderr)
        return EXIT_NO_ENGINE
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    except DiskBudgetError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return EXIT_DISK
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
