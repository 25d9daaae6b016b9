"""Seeded inputs: lineitem-shaped rows and tiny history files.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed, so one seed always gives the same rows. Ship dates are ISO strings
so the table's ``l_shipdate=l_shipmonth:truncate[7]`` dependency derives
the month partition from a day predicate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LI_COLUMNS = [
    ("l_orderkey", "BIGINT"),
    ("l_partkey", "BIGINT"),
    ("l_linenumber", "INT"),
    ("l_quantity", "DOUBLE"),
    ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"),
    ("l_returnflag", "STRING"),
    ("l_shipmode", "STRING"),
    ("l_shipdate", "STRING"),
    ("l_shipmonth", "STRING"),
]
LI_DDL = ", ".join(f"{c} {t}" for c, t in LI_COLUMNS)
LI_NAMES = [c for c, _ in LI_COLUMNS]
# INSERT ... PARTITION (l_shipmonth=...) takes every column but the month
LI_NAMES_NO_MONTH = [c for c in LI_NAMES if c != "l_shipmonth"]

_ARROW = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_shipmode", pa.string()),
        ("l_shipdate", pa.string()),
        ("l_shipmonth", pa.string()),
    ]
)
FLAGS = np.array(["A", "N", "R"])
MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])


def months(first: str, n: int) -> list[str]:
    """``n`` consecutive 'YYYY-MM' strings starting at ``first``."""
    start = np.datetime64(first, "M")
    return [str(start + i) for i in range(n)]


def month_bounds(month: str) -> tuple[str, str]:
    """[first day, first day of the next month) as ISO date strings."""
    m = np.datetime64(month, "M")
    return str(m.astype("datetime64[D]")), str((m + 1).astype("datetime64[D]"))


def _dates(rng, first_month: str, n_months: int, n: int, spread_days: int):
    lo = np.datetime64(first_month, "M").astype("datetime64[D]")
    hi = (np.datetime64(first_month, "M") + n_months).astype("datetime64[D]")
    span = int((hi - lo).astype(int))
    base = rng.integers(0, max(1, span - spread_days), n)
    off = base + rng.integers(0, spread_days + 1, n) if spread_days else base
    off = np.minimum(off, span - 1)
    ship = (lo + off).astype(str)
    return ship, ship.astype("U7")


def _frame(rng, keys, lines, ship, month) -> pd.DataFrame:
    n = len(keys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    part = rng.integers(1, 20_000, n).astype(np.int64)
    price = np.round(qty * (900.0 + (part % 1000) + 0.01 * (part % 100)), 2)
    return pd.DataFrame(
        {
            "l_orderkey": keys.astype(np.int64),
            "l_partkey": part,
            "l_linenumber": lines.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_returnflag": FLAGS[rng.integers(0, len(FLAGS), n)],
            "l_shipmode": MODES[rng.integers(0, len(MODES), n)],
            "l_shipdate": ship,
            "l_shipmonth": month,
        }
    )


def lineitem_orders(rng, n_orders: int, first_month: str, n_months: int) -> pd.DataFrame:
    """Orders of 1-7 lines with sparse random order keys (so per-file
    min/max cannot separate keys and the bloom filter has to); each line
    ships up to 60 days after the order's first ship day."""
    keys = rng.choice(np.arange(1, 10 * n_orders + 1), n_orders, replace=False)
    per = rng.integers(1, 8, n_orders)
    okeys = np.repeat(keys, per)
    lines = np.concatenate([np.arange(1, p + 1) for p in per])
    first, _ = _dates(rng, first_month, n_months, n_orders, 0)
    first = np.repeat(first.astype("datetime64[D]"), per)
    last = (np.datetime64(first_month, "M") + n_months).astype("datetime64[D]") - 1
    ship_d = np.minimum(first + rng.integers(0, 61, len(okeys)), last)
    ship = ship_d.astype(str)
    return _frame(rng, okeys, lines, ship, ship.astype("U7"))


def lineitem_single(
    rng, first_key: int, n: int, first_month: str, n_months: int
) -> pd.DataFrame:
    """``n`` one-line orders with consecutive keys from ``first_key``."""
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    ship, month = _dates(rng, first_month, n_months, n, 0)
    return _frame(rng, keys, np.ones(n, dtype=np.int32), ship, month)


def write_parquet(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df[LI_NAMES], schema=_ARROW, preserve_index=False)
    pq.write_table(table, path)


def stage_view(spark, df: pd.DataFrame, path: str, view: str) -> None:
    """Write rows to a parquet file and expose them as a temp view; the
    explicit schema keeps the view free of a schema-inference job."""
    write_parquet(df, path)
    spark.read.schema(LI_DDL).parquet(path).createOrReplaceTempView(view)
