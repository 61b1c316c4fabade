"""Universe / listing-dimension operators: scope filters, top-N liquidity,
set ops, broadcast lookups.

Reference parity: /root/reference/src/scanners/market_scope_filter.py +
src/utils/market_scanner.py. The listing universe is a small dimension
(~1.7k symbols) — every join against it is a broadcast hash join; the filters
are Catalyst-pushed predicates.

On the driver testdata, ``customer`` plays the listing dimension
(c_mktsegment ≙ exchange-like category; FIXTURES.md §B).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCOPE_MAP = {
    "all": ("HSX", "HNX", "UPCOM"),
    "core": ("HSX", "HNX", "UPCOM"),
    "hsx_hnx": ("HSX", "HNX"),
    "hsx_only": ("HSX",),
}

ETF_PREFIXES = ("VF", "FUE", "E1VF", "SSV")
INACTIVE_KEYWORDS = ("delist", "inactive", "suspended", "halt", "stop")


def scope_filter(listing: DataFrame, scope: str = "all", exchange_col: str = "exchange") -> DataFrame:
    """P9 — keep rows whose exchange is in the scope list
    (market_scope_filter.py:84-89, 149-155)."""
    return listing.filter(F.col(exchange_col).isin(list(SCOPE_MAP[scope])))


def drop_etf_prefixes(listing: DataFrame, symbol_col: str = "symbol") -> DataFrame:
    """P11 — drop ETF-prefixed tickers (market_scanner.py:268-271)."""
    pattern = "^(" + "|".join(ETF_PREFIXES) + ")"
    return listing.filter(~F.col(symbol_col).rlike(pattern))


def drop_inactive(listing: DataFrame, status_col: str = "status") -> DataFrame:
    """P12 — drop inactive/suspended tickers (market_scanner.py:278-307)."""
    pattern = "|".join(INACTIVE_KEYWORDS)
    return listing.filter(
        F.col(status_col).isNull() | ~F.lower(F.col(status_col)).rlike(pattern)
    )


def top_n_by_liquidity(listing: DataFrame, n: int, value_col: str = "avg_value", key_col: str = "symbol") -> DataFrame:
    """O4 — UPCOM top-N cap ranked by avg_value
    (market_scope_filter.py:157-203), with a key tiebreak for determinism."""
    valued = listing.withColumn("__v", F.col(value_col).cast("double")).filter(
        F.col("__v").isNotNull()
    )
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition top-n
    # then an n-row merge — fully parallel, unlike a row_number() over an
    # un-partitioned window (single-task WindowExec)
    return valued.orderBy(F.col("__v").desc(), F.col(key_col)).limit(n).drop("__v")


def status_lookup(fact: DataFrame, listing: DataFrame, key: str = "symbol", cols: Sequence[str] = ("status", "exchange")) -> DataFrame:
    """J2 — the symbol→status/exchange dict probe (market_scanner.py:280-307)
    as a broadcast hash join against the listing dimension."""
    dim = listing.select(key, *cols)
    return fact.join(F.broadcast(dim), key, "left")
