"""Query registry plumbing.

Every implemented operator (SURVEY §2 + beyond-reference data-pipeline
ops) registers one named query: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus, when SQL-expressible, a DuckDB oracle SQL string the
driver runs side-by-side at sf0.01 (CORRECTNESS gate).

Float-determinism rules (so the driver's value-hash matches):

- never output raw timestamps — ``unix_micros`` (Spark) /
  ``epoch_us`` (DuckDB) both yield the identical UTC-microsecond long;
- money sums go through integer cents (see
  ``operators.aggregates.exact_money_sum``) so partial-aggregation
  order can't change the result;
- AVG is written ``exact_sum / count`` in both dialects;
- windows order by a unique key tuple (ties broken explicitly);
- scalar float expressions use the same parenthesization in both
  dialects (identical IEEE op sequence → identical bits).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    fn: SparkQuery
    oracle: str | None = None
    bench: bool = False  # include in bench.py headline suite


# Keyed by query name, in registration order (the catalog's order).
QUERIES: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = QueryDef(fn=fn, oracle=oracle, bench=bench)
        return fn

    return deco
