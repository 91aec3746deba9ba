"""Wave-37 invariants: recursion equals the window cumsum, NOT IN
three-valued logic, RAKE scoring against a naive reimplementation."""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd

SF = "/root/testdata/sf0.001"

_STOP = {"a", "the", "and", "of", "in", "to"}


def test_recursive_cum_equals_window(spark):
    from stakehouse_etl_spark.queries.catalog import QUERIES

    out = sorted(
        QUERIES["sql_portable_recursive"].fn(spark, SF).collect(),
        key=lambda r: r["idx"],
    )
    # Recursion must reproduce the ordinary running total and hit
    # every quarter exactly once (dense index, no stalls).
    assert [r["idx"] for r in out] == list(range(1, len(out) + 1))
    cum = 0
    for r in out:
        cum += r["cents"]
        assert r["cum"] == cum
    assert [r["q"] for r in out] == sorted(r["q"] for r in out)


def test_recursive_reuses_one_child_session(spark):
    from stakehouse_etl_spark.queries.catalog import QUERIES

    fn = QUERIES["sql_portable_recursive"].fn
    a, b = fn(spark, SF), fn(spark, SF)
    assert a.sparkSession is b.sparkSession
    assert a.sparkSession is not spark
    assert a.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1"


def test_not_in_null_semantics(spark):
    from stakehouse_etl_spark.queries.catalog import QUERIES

    row = QUERIES["j24_null_aware_not_in"].fn(spark, SF).collect()[0]
    # A NULL in the subquery makes NOT IN never-true: zero rows pass.
    assert row["n_polluted"] == 0
    assert row["n_clean"] > 0


def test_rake_matches_naive(spark):
    from stakehouse_etl_spark.queries.catalog import QUERIES

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    degree: dict[str, int] = defaultdict(int)
    freq: dict[str, int] = defaultdict(int)
    for text in docs.text:
        phrase: list[str] = []
        for w in [w for w in text.split(" ") if w] + ["the"]:
            if w in _STOP:
                for x in phrase:
                    degree[x] += len(phrase)
                    freq[x] += 1
                phrase = []
            else:
                phrase.append(w)
    best = sorted(
        ((degree[w] / freq[w], w) for w in degree), key=lambda t: (-t[0], t[1])
    )[:20]
    out = QUERIES["text_rake_keywords"].fn(spark, SF).collect()
    assert [(r["word"]) for r in out] == [w for _, w in best]
    for r in out:
        assert r["degree"] == degree[r["word"]]
        assert r["freq"] == freq[r["word"]]
        assert math.isclose(r["score"], degree[r["word"]] / freq[r["word"]])
        assert r["score"] >= 1.0  # every word is in its own phrase
