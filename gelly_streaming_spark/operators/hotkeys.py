"""The hot-key cap of every quadratic self-join: a key group of k rows
emits k² join rows, so groups over the cap are dropped before the join
and ``key_counts`` reports what was dropped. A ``groupBy`` count joined
back null-safely on the kept keys (the oracles' ``QUALIFY count(*) OVER
(PARTITION BY key) <= cap``), never a ``Window.partitionBy(key)``, which
makes a hot key one unsplittable partition. An inner join, not a
semi-join: the kept keys are unique, but Catalyst pushes a semi-join
below the co-occurrence ``distinct``, which then no longer shares its
shuffle with the count (sf0.01, 4 cores: ``cooccurrence_edges`` 1.26 s
→ 1.99 s, ``sssp`` 3.5 s → 4.6 s)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# DuckDB twin of ``pair_volume``
SQL_PAIR_VOLUME = "{n}::DOUBLE * ({n} - 1) / 2"


def pair_volume(n: Column) -> Column:
    """n(n-1)/2 in double: past n ≈ 3·10⁹ a BIGINT product overflows
    (DuckDB raises; Spark raises under ANSI, wraps silently without)."""
    return n.cast("double") * (n - 1) / 2


def key_counts(
    rows: DataFrame, keys: list[str], max_n: int, n_col: str = "n"
) -> DataFrame:
    """(keys…, n_col, pairs, dropped): one row per key group."""
    n = F.col(n_col)
    return (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(n_col))
        .select(*keys, n, pair_volume(n).alias("pairs"), (n > max_n).alias("dropped"))
    )


def drop_hot_keys(rows: DataFrame, keys: list[str], max_n: int) -> DataFrame:
    """``rows`` minus every key group of more than ``max_n`` rows."""
    kept = key_counts(rows, keys, max_n).filter(~F.col("dropped"))
    kept = kept.select([F.col(k).alias(f"_hk_{k}") for k in keys])
    on = [F.col(k).eqNullSafe(F.col(f"_hk_{k}")) for k in keys]
    return rows.join(kept, on).select(*rows.columns)
