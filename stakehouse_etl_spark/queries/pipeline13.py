"""Data-pipeline queries, wave 13: sketch-tier evaluation (LSH
precision/recall), exact ROC-AUC, and the Gopher quality-rule suite.

These close the loop on tiers built earlier: the LSH eval scores the
approximate dedup path against its own exact ground truth; AUC scores
the quality heuristic as a classifier; the rule suite consolidates
the Gopher-style per-rule violation counts a corpus refresh reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.datapipe import (
    _JACCARD_CTE,
    _SHINGLES_CTE,
    _minhash_bands_sql,
    _minhash_sig_sql,
)
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# LSH candidate precision / recall vs the exact join
# ---------------------------------------------------------------------------


@register(
    "dedup_lsh_eval_pr",
    oracle=f"""
WITH {_SHINGLES_CTE}, {_minhash_sig_sql()}, {_minhash_bands_sql()},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), {_JACCARD_CTE},
exact AS (SELECT id_a, id_b FROM j WHERE inter * 100 >= union_sz * 20),
tp AS (SELECT count(*) AS n FROM exact JOIN cand USING (id_a, id_b))
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT n FROM tp) AS BIGINT) AS n_tp,
       CAST((SELECT n FROM tp) AS DOUBLE)
         / (SELECT count(*) FROM cand) AS precision,
       CAST((SELECT n FROM tp) AS DOUBLE)
         / (SELECT count(*) FROM exact) AS recall
""",
)
def dedup_lsh_eval_pr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation of the LSH banding scheme itself: candidate pairs
    from the 4×4 band join scored against the exact Jaccard >= 0.2
    join — precision (how much verification work the candidates cost)
    and recall (what the sketch missed; banding has false negatives by
    design, and THIS query is the observability for tuning
    bands × rows at 100 TB). Every tier of the dedup ladder now has
    its quality measured by the tier below it.

    GROUND-TRUTH CONTRACT: the exact Jaccard self-join is quadratic in
    duplicate-cluster size and OOM'd the local JVM at sf10 (r7 fuzz
    catch); above ``GROUND_TRUTH_MAX_DOCS`` this query refuses and
    points at ``dedup_lsh_eval_sampled`` — the stride-sampled twin
    that coincides with this one below the target size and stays flat
    at every measured rung.
    """
    from stakehouse_etl_spark.operators.dedup import (
        ground_truth_guard,
        jaccard_pairs,
        lsh_candidates,
    )

    from stakehouse_etl_spark.caches import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    ground_truth_guard(
        docs, query="dedup_lsh_eval_pr", twin="dedup_lsh_eval_sampled"
    )
    # r11 (guide §5): each pair table has TWO consumers (its count and
    # the TP join), and the expensive part is the pair JOIN itself —
    # the operators only persist their shingle inputs. The outputs are
    # narrow id pairs, bounded here by the ground-truth guard; persist
    # so the exact verify join and the LSH banding each run once.
    exact = persist_tracked(
        jaccard_pairs(docs, threshold_pct=20).select("id_a", "id_b")
    )
    cand = persist_tracked(lsh_candidates(docs))
    n_exact = exact.count()
    n_cand = cand.count()
    n_tp = exact.join(cand, ["id_a", "id_b"]).count()
    # NULL (not a crash) on an empty pair set — mirrors the SQL
    # oracle's NULL division semantics on sparse/small corpora.
    precision = n_tp / n_cand if n_cand else None
    recall = n_tp / n_exact if n_exact else None
    return spark.createDataFrame(
        [(n_exact, n_cand, n_tp, precision, recall)],
        "n_exact long, n_candidates long, n_tp long, precision double, recall double",
    )


_LSH_EVAL_SAMPLE_TARGET = 5000


@register(
    "dedup_lsh_eval_sampled",
    oracle=f"""
WITH n_t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
s_t AS (
  SELECT greatest(CAST(1 AS BIGINT),
                  (SELECT n FROM n_t) // {_LSH_EVAL_SAMPLE_TARGET}) AS s
),
sdocs AS (
  SELECT * FROM documents WHERE doc_id % (SELECT s FROM s_t) = 0
),
t AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM sdocs),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         ))) AS shingle
  FROM t
),
s2 AS (SELECT * FROM s WHERE shingle <> ''),
c AS (SELECT doc_id, count(*) AS n_sh FROM s2 GROUP BY doc_id),
{_minhash_sig_sql()}, {_minhash_bands_sql()},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), {_JACCARD_CTE},
exact AS (SELECT id_a, id_b FROM j WHERE inter * 100 >= union_sz * 20),
tp AS (SELECT count(*) AS n FROM exact JOIN cand USING (id_a, id_b))
SELECT CAST((SELECT s FROM s_t) AS BIGINT) AS sample_stride,
       CAST((SELECT count(*) FROM sdocs) AS BIGINT) AS n_sampled,
       CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT n FROM tp) AS BIGINT) AS n_tp,
       CAST((SELECT n FROM tp) AS DOUBLE)
         / (SELECT count(*) FROM cand) AS precision,
       CAST((SELECT n FROM tp) AS DOUBLE)
         / (SELECT count(*) FROM exact) AS recall
""",
)
def dedup_lsh_eval_sampled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE arm of the LSH banding eval: identical
    precision/recall methodology to ``dedup_lsh_eval_pr``, computed on
    a deterministic stride sample of ~{_LSH_EVAL_SAMPLE_TARGET} docs
    (``doc_id % s == 0``, s = max(1, n // target) — engine-portable,
    no RNG). The unsampled eval carries the exact ground-truth Jaccard
    self-join, which is superlinear in shingle document frequency by
    contract (the lossless-tier contract at ``operators/dedup.py:411``)
    and OOMs an 8 g single-JVM at sf10 (round-7 fuzz) — exactly the
    regime where a 100 TB job would evaluate banding quality on a
    sample and extrapolate, which is what this query is. Below the
    target corpus size the stride is 1 and the two evals coincide
    (pinned by ``tests/test_pipeline13b.py``).
    """
    from stakehouse_etl_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidates,
    )

    from stakehouse_etl_spark.caches import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    stride = max(1, n // _LSH_EVAL_SAMPLE_TARGET)
    sdocs = docs.filter(F.col("doc_id") % stride == 0)
    n_sampled = sdocs.count()
    # r11 (guide §5): same two-consumer shape as dedup_lsh_eval_pr —
    # persist the narrow pair outputs (bounded by the ~5k-doc sample)
    # so the exact verify join and the banding pass each run once.
    exact = persist_tracked(
        jaccard_pairs(sdocs, threshold_pct=20).select("id_a", "id_b")
    )
    cand = persist_tracked(lsh_candidates(sdocs))
    n_exact = exact.count()
    n_cand = cand.count()
    n_tp = exact.join(cand, ["id_a", "id_b"]).count()
    precision = n_tp / n_cand if n_cand else None
    recall = n_tp / n_exact if n_exact else None
    return spark.createDataFrame(
        [
            (
                stride,
                n_sampled,
                n_exact,
                n_cand,
                n_tp,
                precision,
                recall,
            )
        ],
        "sample_stride long, n_sampled long, n_exact long, "
        "n_candidates long, n_tp long, precision double, recall double",
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC via the rank-sum (Mann-Whitney U) identity
# ---------------------------------------------------------------------------


def _auc_sql() -> str:
    from stakehouse_etl_spark.operators.text import STOPWORDS_EN

    en = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH t AS (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
                  text FROM documents),
f AS (
  SELECT doc_id, lang, len(toks) AS n_tok, length(text) AS n_chars,
         len(list_filter(toks, x -> x IN ({en}))) AS stop,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM t
),
scored AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         0.4 * least(1.0, n_tok / 100.0)
           + 0.3 * (stop / n_tok)
           + 0.3 * (1.0 - least(1.0, punct / n_chars * 5)) AS score
  FROM f
),
r AS (
  SELECT pos,
         row_number() OVER (ORDER BY score ASC, doc_id ASC) AS rnk
  FROM scored
),
agg AS (
  SELECT CAST(sum(CASE WHEN pos = 1 THEN rnk ELSE 0 END) AS BIGINT) AS rank_sum,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(1 - pos) AS BIGINT) AS n_neg
  FROM r
)
SELECT n_pos, n_neg,
       CAST(rank_sum - n_pos * (n_pos + 1) / 2 AS BIGINT) AS u_stat,
       CAST(rank_sum - n_pos * (n_pos + 1) / 2 AS DOUBLE) / (n_pos * n_neg)
         AS auc
FROM agg
"""


@register("ml_auc_exact", oracle=_auc_sql())
def ml_auc_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the quality score as an English-detector, via
    the Mann-Whitney rank-sum identity AUC = U / (n+ · n−): one global
    rank over (score, doc_id) — the deterministic tiebreak makes the
    statistic bit-reproducible; scores share the IEEE expression tree
    with the oracle so every rank agrees. Integer rank sums, one final
    division. The rank runs through the two-phase
    ``skew_resistant_rank`` decomposition, so no single-partition
    window ever sees row data (the global window touches only the
    distinct-score table).
    """
    from stakehouse_etl_spark.operators.text import quality_features
    from stakehouse_etl_spark.operators.windows import skew_resistant_rank

    scored = quality_features(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        "quality_score",
    )
    r = skew_resistant_rank(
        scored,
        value="quality_score",
        id_col="doc_id",
        out="rnk",
        descending=False,
        # double-valued rank: the [0,1] score maps monotonically onto
        # an integral milli-grid so step (A)'s distinct-value prefix
        # chunks instead of funneling near-unique scores through one
        # window (scaling by a constant is IEEE-monotone; floor keeps
        # equal scores in one bucket)
        value_chunk_col=F.expr(
            "cast(floor(quality_score * 1000) as bigint)"
        ),
    )
    agg = r.agg(
        F.sum(F.when(F.col("pos") == 1, F.col("rnk")).otherwise(0)).alias(
            "rank_sum"
        ),
        F.sum("pos").alias("n_pos"),
        F.sum(1 - F.col("pos")).alias("n_neg"),
    )
    u = F.col("rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        u.cast("long").alias("u_stat"),
        (u.cast("double") / (F.col("n_pos") * F.col("n_neg"))).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule suite (integer-exact rule engine)
# ---------------------------------------------------------------------------


def _gopher_sql() -> str:
    from stakehouse_etl_spark.operators.text import STOPWORDS_EN

    en = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH t AS (SELECT doc_id, {{toks}} AS toks, text FROM documents),
f AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
         len(list_filter(toks, x -> x IN ({en}))) AS stop,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM t
),
flags AS (
  SELECT doc_id,
         CASE WHEN n_tok < 50 OR n_tok > 100000 THEN 1 ELSE 0 END AS r_length,
         CASE WHEN n_alpha < 3 * n_tok OR n_alpha > 10 * n_tok THEN 1 ELSE 0 END
           AS r_word_len,
         CASE WHEN punct * 10 > n_chars THEN 1 ELSE 0 END AS r_symbols,
         CASE WHEN stop < 2 THEN 1 ELSE 0 END AS r_stopwords
  FROM f
)
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations FROM (
  SELECT 'length' AS rule, sum(r_length) AS n_violations FROM flags
  UNION ALL SELECT 'word_len', sum(r_word_len) FROM flags
  UNION ALL SELECT 'symbols', sum(r_symbols) FROM flags
  UNION ALL SELECT 'stopwords', sum(r_stopwords) FROM flags
  UNION ALL SELECT 'all_pass',
    sum(CASE WHEN r_length + r_word_len + r_symbols + r_stopwords = 0
             THEN 1 ELSE 0 END) FROM flags
)
""".format(toks="regexp_split_to_array(lower(trim(text)), '\\s+')")


@register("corpus_gopher_rules", oracle=_gopher_sql())
def corpus_gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule suite as an integer-exact rule
    engine: token-count bounds, mean-word-length bounds (compared
    cross-multiplied — ``n_alpha < 3·n_tok`` instead of a float mean),
    symbol ratio, and minimum stopword hits, each reported as a
    violation count plus the all-rules-pass total. One scan, one tiny
    aggregate; adding a rule adds a column, not a pass (same economics
    as the DQ audit).
    """
    from stakehouse_etl_spark.operators.text import (
        punct_count,
        stopword_count,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    stop = stopword_count(F.col("text"))
    punct = punct_count(F.col("text"))
    f = docs.select(
        ((n_tok < 50) | (n_tok > 100000)).cast("int").alias("r_length"),
        ((n_alpha < 3 * n_tok) | (n_alpha > 10 * n_tok)).cast("int").alias(
            "r_word_len"
        ),
        (punct * 10 > n_chars).cast("int").alias("r_symbols"),
        (stop < 2).cast("int").alias("r_stopwords"),
    )
    agg = f.agg(
        F.sum("r_length").alias("length"),
        F.sum("r_word_len").alias("word_len"),
        F.sum("r_symbols").alias("symbols"),
        F.sum("r_stopwords").alias("stopwords"),
        F.sum(
            F.when(
                F.col("r_length")
                + F.col("r_word_len")
                + F.col("r_symbols")
                + F.col("r_stopwords")
                == 0,
                1,
            ).otherwise(0)
        ).alias("all_pass"),
    )
    return agg.unpivot([], agg.columns, "rule", "n_violations")
