"""Write crossover: time a Spark parquet write against ``driver_write``
(``catalog/driver_write.py``) over the same lineitem-shaped file source,
one month partition, at several row counts. Each size checks that both
writes hold the same rows, then prints one JSON line with the median
milliseconds of each write, the source's plan bytes (what the cut-off
``DRIVER_WRITE_MAX_BYTES`` compares) and the rise of the driver's peak
RSS over its value before the first driver write. Sizes run in
ascending order, so each RSS figure is the peak up to that size.

Usage:
    python tools/write_crossover.py [--rows 200,2000,...] [--repeat 5] [--cores 2]
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icebergsql_spark.catalog.driver_write import bounded_source_bytes, driver_write
from icebergsql_spark.session import get_spark
from perfbench.data import LI_DDL, lineitem_single, write_parquet

SIZES = (200, 2_000, 20_000, 50_000, 100_000, 200_000)
PART = "__p_l_shipmonth"


def _peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _frame(spark, path: str):
    """A fresh frame (and query execution) over the source, with the
    partition string column a managed write adds."""
    from pyspark.sql import functions as F

    return spark.read.schema(LI_DDL).parquet(path).withColumn(
        PART, F.col("l_shipmonth").cast("string")
    )


def _rows_written(root: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
        for r, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def _timed(write, repeat: int, work: str, tag: str):
    """(median ms, rows in the last output) of ``write(out_dir)``."""
    runs, out = [], ""
    for i in range(repeat):
        out = os.path.join(work, f"{tag}{i}")
        t0 = time.perf_counter()
        write(out)
        runs.append((time.perf_counter() - t0) * 1000)
    return statistics.median(runs), _rows_written(out)


def main() -> None:
    import numpy as np

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", default=",".join(map(str, SIZES)))
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args()
    spark = get_spark(
        app_name="write-crossover",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def spark_write(path):
        return lambda out: _frame(spark, path).write.partitionBy(PART).parquet(out)

    def local_write(path):
        def write(out):
            assert driver_write(_frame(spark, path), out, [PART], {})

        return write

    try:
        with tempfile.TemporaryDirectory() as work:
            # warm the JVM and both write paths once before any timing
            warm = os.path.join(work, "warm.parquet")
            write_parquet(lineitem_single(np.random.default_rng(0), 1, 100, "1995-01", 1), warm)
            _timed(spark_write(warm), 1, work, "ws")
            _timed(local_write(warm), 1, work, "wl")
            base_rss = _peak_rss_mb()
            for n in (int(x) for x in args.rows.split(",")):
                src = os.path.join(work, f"src{n}.parquet")
                write_parquet(lineitem_single(np.random.default_rng(n), 1, n, "1995-01", 1), src)
                spark_ms, spark_rows = _timed(spark_write(src), args.repeat, work, f"s{n}_")
                local_ms, local_rows = _timed(local_write(src), args.repeat, work, f"l{n}_")
                assert spark_rows == local_rows == n, (n, spark_rows, local_rows)
                print(
                    json.dumps(
                        {
                            "rows": n,
                            "source_bytes": bounded_source_bytes(_frame(spark, src)),
                            "spark_ms": round(spark_ms, 1),
                            "driver_ms": round(local_ms, 1),
                            "driver_peak_rss_rise_mb": round(_peak_rss_mb() - base_rss, 1),
                        }
                    ),
                    flush=True,
                )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
