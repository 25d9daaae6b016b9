"""Bloom-build crossover: time ``collect_blooms`` through its distributed
Spark job and through its in-process driver build, over one bigint bloom
column of all-distinct values, at several row counts. Every size asserts
the two builds return byte-identical filters, then prints one JSON line
with the median milliseconds of each build. The in-process cut-off
``BLOOM_LOCAL_MAX_VALUES`` in ``catalog/stats.py`` rests on this table.

Usage:
    python tools/bloom_crossover.py [--rows 200,2000,...] [--repeat 5] [--cores 2]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icebergsql_spark.catalog import stats
from icebergsql_spark.session import get_spark

SIZES = (200, 2_000, 8_000, 32_000, 64_000, 128_000)


def _write_file(path: str, n_rows: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    # scattered, all-distinct keys: the worst case for the driver build
    keys = [(i * 2654435761) % (1 << 40) - (1 << 39) for i in range(n_rows)]
    pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), path)


def _timed(spark, paths, cut_off: int, repeat: int):
    """(median ms, result) of ``collect_blooms`` under one cut-off."""
    saved = stats.BLOOM_LOCAL_MAX_VALUES
    stats.BLOOM_LOCAL_MAX_VALUES = cut_off
    try:
        runs, out = [], None
        for _ in range(repeat):
            t0 = time.perf_counter()
            out = stats.collect_blooms(spark, paths, ["k"])
            runs.append((time.perf_counter() - t0) * 1000)
        return statistics.median(runs), out
    finally:
        stats.BLOOM_LOCAL_MAX_VALUES = saved


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", default=",".join(map(str, SIZES)))
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args()
    spark = get_spark(
        app_name="bloom-crossover",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM and the parquet read path once before any timing
    with tempfile.TemporaryDirectory() as warm:
        p = os.path.join(warm, "w.parquet")
        _write_file(p, 100)
        _timed(spark, [p], 0, 1)
    try:
        for n in (int(x) for x in args.rows.split(",")):
            with tempfile.TemporaryDirectory() as d:
                path = os.path.join(d, "f.parquet")
                _write_file(path, n)
                spark_ms, by_spark = _timed(spark, [path], 0, args.repeat)
                local_ms, by_driver = _timed(spark, [path], 1 << 62, args.repeat)
                assert by_spark == by_driver, f"builds differ at {n} rows"
                print(
                    json.dumps(
                        {
                            "rows": n,
                            "spark_ms": round(spark_ms, 1),
                            "in_process_ms": round(local_ms, 1),
                            "identical": True,
                        }
                    ),
                    flush=True,
                )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
