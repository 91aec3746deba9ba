"""Wave-20 invariants: semantic dedup, BM25, pivot/unpivot, sketch
merge, negative sampling, dyadic EWMA."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.queries.pipeline20 import (
    NEG_K,
    a_pivot_status_matrix_q,
    dedup_semantic_prune_q,
    inc_distinct_sketch_merge_q,
    ml_negative_sampling_q,
    text_bm25_topk_q,
    ts_ewma_dyadic_q,
    u6_unpivot_long_q,
)


def test_semantic_prune_keeps_cluster_minimum(spark, sf_dir):
    out = dedup_semantic_prune_q(spark, sf_dir)
    rows = out.collect()
    # every vector is classified exactly once
    assert len(rows) == len({r["vec_id"] for r in rows})
    # the lowest vec_id within each cluster can never be dropped
    # (greedy keep-lowest-id: a drop needs a SMALLER near-dup)
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["centroid_id"], []).append(r)
    for members in by_cluster.values():
        lowest = min(members, key=lambda r: r["vec_id"])
        assert lowest["kept"] is True


def test_semantic_prune_arrow_arm_equals_expression_arm(spark, sf_dir, monkeypatch):
    """The Arrow matmul assignment arm only dispatches at n·k ≥ 5M;
    forced on at sf0.001, it gives the expression arm's rows."""
    from stakehouse_etl_spark.queries import pipeline20

    want = sorted(dedup_semantic_prune_q(spark, sf_dir).collect())
    monkeypatch.setattr(pipeline20, "_SEM_ASSIGN_ARROW_CELLS", 1)
    assert sorted(dedup_semantic_prune_q(spark, sf_dir).collect()) == want


def test_bm25_scores_rank_monotone(spark, sf_dir):
    rows = text_bm25_topk_q(spark, sf_dir).collect()
    assert len(rows) == 10
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_pivot_row_conservation(spark, sf_dir):
    from stakehouse_etl_spark.io.sources import load_table

    wide = a_pivot_status_matrix_q(spark, sf_dir)
    total = wide.select(
        F.sum(F.col("f_n") + F.col("o_n") + F.col("p_n")).alias("n")
    ).collect()[0]["n"]
    assert total == load_table(spark, sf_dir, "orders").count()


def test_unpivot_shape(spark, sf_dir):
    out = u6_unpivot_long_q(spark, sf_dir)
    rows = out.collect()
    flags = {r["l_returnflag"] for r in rows}
    assert len(rows) == 3 * len(flags)
    assert {r["measure"] for r in rows} == {
        "sum_qty_cents",
        "sum_price_cents",
        "n_rows",
    }


def test_sketch_merge_contract(spark, sf_dir):
    for r in inc_distinct_sketch_merge_q(spark, sf_dir).collect():
        assert r["merge_close_to_whole"] is True
        assert r["merged_within_10pct"] is True


def test_negative_sampling_bounds(spark, sf_dir):
    out = ml_negative_sampling_q(spark, sf_dir)
    per_anchor = out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    counts = {r["n"] for r in per_anchor.collect()}
    assert counts == {NEG_K}
    # no self-negatives
    assert out.filter(F.col("doc_id") == F.col("neg_id")).count() == 0


def test_ewma_denominator_ramp(spark, sf_dir):
    out = ts_ewma_dyadic_q(spark, sf_dir)
    # denominator is always in (64, 255] and hits 255 in steady state
    bad = out.filter((F.col("ewma_den") <= 64) | (F.col("ewma_den") > 255))
    assert bad.count() == 0
    assert out.filter(F.col("ewma_den") == 255).count() > 0
    # first row per user has den == 128 (only its own weight)
    first = out.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        ),
    ).filter(F.col("rn") == 1)
    assert first.filter(F.col("ewma_den") != 128).count() == 0
