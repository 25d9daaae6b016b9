"""Expected answers, computed without the engine.

``read_pruned`` answers come from pandas over the generated rows.
``ingest_churn`` keeps ``ChurnModel``, a pandas replica of the table that
applies the same seeded statements. ``metadata_history`` sums the record
counts it registered. A statement whose output differs from its expected
answer raises ``Mismatch`` and is counted as failed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


class Mismatch(AssertionError):
    """The engine's answer differs from the oracle's."""


def _close(a, b, rel: float = 1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)
    return a == b


def compare_rows(actual: list[tuple], expected: list[tuple], what: str) -> None:
    """Order-insensitive row comparison; floats match to 1e-9 relative.
    Rows are paired after sorting on their non-float values."""
    if len(actual) != len(expected):
        raise Mismatch(f"{what}: {len(actual)} rows, expected {len(expected)}")
    key = lambda r: tuple("" if v is None or isinstance(v, float) else v for v in r)  # noqa: E731
    for g, w in zip(sorted(actual, key=key), sorted(expected, key=key)):
        if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
            raise Mismatch(f"{what}: got {g}, expected {w}")


def group_agg(df: pd.DataFrame, by: str, agg: dict[str, tuple[str, str]]) -> list[tuple]:
    """``SELECT by, aggs FROM df GROUP BY by`` as plain tuples."""
    if df.empty:
        return []
    g = df.groupby(by, sort=True).agg(**agg).reset_index()
    return [tuple(_plain(v) for v in row) for row in g.itertuples(index=False)]


def _plain(v):
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


class ChurnModel:
    """The live rows of the churn table, keyed by ``l_orderkey``."""

    def __init__(self, rows: pd.DataFrame):
        self.rows = rows.set_index("l_orderkey", drop=False)

    def insert(self, batch: pd.DataFrame) -> None:
        self.rows = pd.concat([self.rows, batch.set_index("l_orderkey", drop=False)])

    def overwrite_month(self, month: str, batch: pd.DataFrame) -> None:
        keep = self.rows[self.rows["l_shipmonth"] != month]
        self.rows = pd.concat([keep, batch.set_index("l_orderkey", drop=False)])

    def delete_dates(self, lo: str, hi: str) -> int:
        hit = (self.rows["l_shipdate"] >= lo) & (self.rows["l_shipdate"] < hi)
        self.rows = self.rows[~hit]
        return int(hit.sum())

    def merge(self, source: pd.DataFrame, set_cols: list[str]) -> None:
        """WHEN MATCHED UPDATE SET ``set_cols`` / WHEN NOT MATCHED INSERT *."""
        src = source.set_index("l_orderkey", drop=False)
        matched = src.index.intersection(self.rows.index)
        self.rows.loc[matched, set_cols] = src.loc[matched, set_cols].values
        self.insert(src.loc[src.index.difference(self.rows.index)])

    def upsert(self, source: pd.DataFrame) -> None:
        """Every source row replaces the live row with its key, if any."""
        src = source.set_index("l_orderkey", drop=False)
        self.rows = pd.concat([self.rows.drop(index=src.index, errors="ignore"), src])

    def range_answer(self, lo: str, hi: str) -> tuple:
        r = self.rows[(self.rows["l_shipdate"] >= lo) & (self.rows["l_shipdate"] < hi)]
        if r.empty:
            return (0, None, None)
        return (len(r), float(r["l_quantity"].sum()), int(r["l_orderkey"].sum()))

    def by_flag(self, lo: str, hi: str) -> list[tuple]:
        r = self.rows[(self.rows["l_shipdate"] >= lo) & (self.rows["l_shipdate"] < hi)]
        return group_agg(r.reset_index(drop=True), "l_returnflag", {
            "n": ("l_orderkey", "size"), "s": ("l_extendedprice", "sum")})

    def by_month(self) -> list[tuple]:
        return group_agg(
            self.rows.reset_index(drop=True),
            "l_shipmonth",
            {
                "n": ("l_orderkey", "size"),
                "q": ("l_quantity", "sum"),
                "k": ("l_orderkey", "sum"),
            },
        )
