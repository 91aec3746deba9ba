"""Set operators (SURVEY §2.7 U1–U3) and pagination (§2.6 O2)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def union_all(*dfs: DataFrame) -> DataFrame:
    """U1: list concat → unionByName (column-name safe)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def union_distinct(*dfs: DataFrame) -> DataFrame:
    return union_all(*dfs).distinct()


def missing_in_sequence(
    present: DataFrame,
    key: str,
    time: str,
    lo: int | Column,
    hi: int | Column,
) -> DataFrame:
    """U3 (missing-epoch computation): for each key, the time points in
    [lo, hi] with no row — ``set(range(lo, hi+1)) − set(existing)``
    (``back-fillers/validator-balances-backfiller.py:154``).

    Full expected timeline per key via ``sequence``/``explode``, then
    anti-join the observed rows. The explode is bounded by
    keys × span — at scale, clamp the span (T2 bounded catch-up) before
    calling.
    """
    lo_c = (F.lit(lo) if isinstance(lo, int) else lo).cast("long")
    hi_c = (F.lit(hi) if isinstance(hi, int) else hi).cast("long")
    expected = (
        present.select(key)
        .distinct()
        .withColumn(time, F.explode(F.sequence(lo_c, hi_c)))
    )
    return expected.join(present.select(key, time), on=[key, time], how="left_anti")


def paginate(
    df: DataFrame, cursor_col: str, after: object | None, page_size: int
) -> DataFrame:
    """O2: keyset pagination — ``WHERE cursor > ? ORDER BY cursor LIMIT n``
    (``src/api_handler.py:250``). TakeOrderedAndProject, no full sort."""
    out = df
    if after is not None:
        out = out.filter(F.col(cursor_col) > F.lit(after))
    return out.orderBy(F.col(cursor_col).asc()).limit(page_size)
