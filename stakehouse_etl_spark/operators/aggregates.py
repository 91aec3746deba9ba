"""Aggregation operators (SURVEY §2.4 A1–A10).

All grouped aggregates get map-side partial aggregation + final merge
from Catalyst for free (the reference's MySQL did this internally; its
Python-side ``sum``/``mean``/``len`` loops did not). ``exact_*``
variants implement order-independent money sums: doubles summed in
different orders round differently, so for oracle-parity (and for
determinism at any scale) monetary sums go through integer cents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_money_sum(col: str | Column) -> Column:
    """Order-independent sum of a 2-decimal money double column.

    ``sum(round(x*100)::bigint)/100`` — integer addition is exact
    and associative, so partial/final aggregation order (and a 1000×
    scale-up) cannot change the result. The single final division is
    performed once on an exact integer.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * 100).cast("long")) / 100.0


def two_level_rollup(
    df: DataFrame,
    fine_keys: list[str],
    coarse_keys: list[str],
    value: str,
    fine_agg: str = "sum",
) -> DataFrame:
    """A9: aggregate at a fine grain, then roll up to a coarse grain.

    Reference: per-slot withdrawal amounts summed per (validator, slot),
    then rolled up per (bls_key, epoch)
    (``src/validator_withdrawals_handler.py:66-103``). Catalyst keeps
    the second aggregation shuffle-free when ``coarse_keys`` is a
    prefix-derivation of ``fine_keys``' partitioning; otherwise it's
    two cheap shuffles of already-reduced data.
    """
    fine = df.groupBy(*fine_keys).agg(
        getattr(F, fine_agg)(value).alias(f"{fine_agg}_{value}")
    )
    return fine.groupBy(*coarse_keys).agg(
        F.sum(f"{fine_agg}_{value}").alias(f"{fine_agg}_{value}")
    )


def group_collect(df: DataFrame, key: str, collect_col: str) -> DataFrame:
    """A8: the reference's sorted-stream ``itertools.groupby``
    (``src/utils/apiUtils.py:56``) → grouped ``collect_list``.

    Each collected list is sorted for deterministic output
    (``collect_list`` order is partition-dependent otherwise).
    """
    collected = df.groupBy(key).agg(F.collect_list(collect_col).alias(collect_col + "s"))
    return collected.withColumn(collect_col + "s", F.sort_array(F.col(collect_col + "s")))
