"""Data-pipeline queries, wave 76: LM-perplexity quality filtering.

The quality gate CCNet (Wenzek et al. 2020) and Gopher run between
dedup and mixing: score every candidate document by the cross-entropy
of a language model trained on a trusted reference corpus, and drop
(or down-weight) the worst tail — gibberish, boilerplate, and
template spam score far below natural prose even when length/stopword
heuristics (``quality_features``) pass them.

``corpus_lm_perplexity`` expresses the filter Spark-first with an
add-one-smoothed BIGRAM model as the stand-in for CCNet's 5-gram
KenLM: the reference corpus is the even-doc_id half (the
train/target split every incremental query in this repo uses), the
scored candidates are the odd half. The whole statistic is exact
integer count algebra until one ln() per DISTINCT (bigram count,
prefix count) pair, floored to the micro grid BEFORE the per-doc sum
— so the per-doc aggregate is an order-invariant int64 sum (the same
libm-ulp armor + integer-grid discipline as ``text_keyness_llr`` and
``ml_lang_entropy_by_source``).

Scale shape (100 TB): the LM is two vocab-scale count tables (one
token pass each over the reference half, hash-shuffled on the term);
V is a 1-row broadcast. Scoring is two hash joins of the candidates'
exploded bigram stream against those tables keyed on the term —
linear, no windows, no row-scale broadcast (the LM tables are
vocab-scale: they broadcast when small, shuffle when not; AQE
decides). The per-doc reduce is a count+sum groupBy on doc_id.

Reference anchor: the reference repo has no corpus layer; this
extends the training-data-pipeline tier (SURVEY §2-beyond;
tier-ladder contract at operators/dedup.py:373).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.caches import persist_tracked
from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import fan_out, tokens
from stakehouse_etl_spark.queries.registry import register

_TOKS = "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')"

# Keep policy — SELF-CALIBRATING, the way CCNet actually buckets
# (percentiles of the scored distribution, not an absolute number):
# a doc survives iff its mean per-bigram log-probability sits within
# MARGIN micro-nats (0.1 nat) of the corpus mean of those per-doc
# means. An absolute floor is meaningless across reference corpora
# (this synthetic corpus scores -3.3..-3.6 nats/bigram; web text
# under a 5-gram KenLM scores very differently); distance-below-mean
# transfers. The margin is a default policy constant, tuned per
# deployment exactly like SPAN_K (see dedup_span_recall_eval).
KEEP_MARGIN_MICRO = 100_000


@register(
    "corpus_lm_perplexity",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ref AS (SELECT doc_id, toks FROM t WHERE doc_id % 2 = 0),
tgt AS (SELECT doc_id, toks FROM t WHERE doc_id % 2 = 1),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cu
  FROM (SELECT unnest(toks) AS w FROM ref) GROUP BY w
),
v_t AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
bi AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS cb
  FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM ref
  ) GROUP BY bg
),
tb AS (
  SELECT doc_id, u.w1, u.w1 || ' ' || u.w2 AS bg
  FROM tgt, LATERAL (
    SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
           unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
  ) u
),
scored AS (
  SELECT tb.doc_id,
         CAST(floor(1000000 * ln(
           CAST(coalesce(bi.cb, 0) + 1 AS DOUBLE)
           / CAST(coalesce(uni.cu, 0) + (SELECT v FROM v_t) AS DOUBLE)
         )) AS BIGINT) AS lp
  FROM tb
  LEFT JOIN bi ON tb.bg = bi.bg
  LEFT JOIN uni ON tb.w1 = uni.w
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lp) AS BIGINT) AS logp_micro_sum
  FROM scored GROUP BY doc_id
),
per_doc AS (
  SELECT doc_id, n_bigrams, logp_micro_sum,
         CAST(floor(CAST(logp_micro_sum AS DOUBLE) / n_bigrams) AS BIGINT)
           AS avg_lp
  FROM agg WHERE n_bigrams > 0
),
m_t AS (
  SELECT CAST(floor(CAST(sum(avg_lp) AS DOUBLE) / count(*)) AS BIGINT)
           AS mean_lp
  FROM per_doc
)
SELECT g.doc_id,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(p.logp_micro_sum, 0) AS BIGINT) AS logp_micro_sum,
       p.avg_lp AS avg_logp_micro,
       CASE WHEN p.avg_lp IS NOT NULL
            THEN p.avg_lp >= (SELECT mean_lp FROM m_t) - {KEEP_MARGIN_MICRO}
            ELSE FALSE END AS keep
FROM tgt g LEFT JOIN per_doc p USING (doc_id)
""",
)
def corpus_lm_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy quality filter (CCNet-style): train
    add-one-smoothed bigram counts on the even-doc_id reference half,
    score every odd doc's bigram stream, keep docs whose mean
    log-probability sits within ``KEEP_MARGIN_MICRO`` of the corpus
    mean of per-doc means (self-calibrating cutoff — the 1-row scalar
    broadcasts at any scale).

    Determinism: p(w2|w1) = (c(w1 w2)+1) / (c(w1)+V) is a ratio of
    exact int64 counts; ln() is taken once per distinct count pair
    and floored to MICRO-nats immediately, so the per-doc sum is
    int64 (order-invariant under any partial-aggregation order) and
    both means are floor(double-div of exact ints) — identical IEEE
    ops in both engines (sums stay < 2^53: per-doc |avg| < 2e7
    micro-nats, so the corpus sum holds exactness past 1e8 scored
    docs per job; shard the mean beyond that). Docs with < 2 tokens
    score NULL/keep FALSE (no evidence is not good evidence)."""
    t = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.filter(tokens(F.col("text")), lambda x: x != "").alias("toks"),
    )
    # The token frame feeds four consumers (unigram counts, bigram
    # counts, the scoring stream, the final doc spine) and the unigram
    # table feeds two (V scalar + the prefix join) — persist both or
    # the corpus re-tokenizes per consumer (the pipeline73 pattern).
    t = persist_tracked(t)
    ref = t.filter(F.col("doc_id") % 2 == 0)
    tgt = t.filter(F.col("doc_id") % 2 == 1)

    uni = persist_tracked(
        ref.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    v_t = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    n = F.size("toks")
    bigram_arr = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + F.lit(1)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        ref.select(F.explode(bigram_arr).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    pair_arr = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i),
                    F.element_at(F.col("toks"), i + F.lit(1)),
                ).alias("bg"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<w1:string,bg:string>>")
    )
    tb = tgt.select("doc_id", F.explode(pair_arr).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg")
    )
    # Pinned expression order mirrors the oracle character-for-
    # character: ln(CAST(cb+1 AS DOUBLE) / CAST(cu+V AS DOUBLE)),
    # then *1e6, then floor — one ln per distinct count pair.
    lp = F.floor(
        F.lit(1000000).cast("double")
        * F.log(
            (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("v")).cast(
                "double"
            )
        )
    ).cast("long")
    scored = (
        tb.join(bi, "bg", "left")
        .join(uni, tb["w1"] == uni["w"], "left")
        .join(F.broadcast(v_t))
        .select("doc_id", lp.alias("lp"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("lp").cast("long").alias("logp_micro_sum"),
    )
    per_doc = agg.filter(F.col("n_bigrams") > 0).withColumn(
        "avg_lp",
        F.floor(
            F.col("logp_micro_sum").cast("double") / F.col("n_bigrams")
        ).cast("long"),
    )
    m_t = per_doc.agg(
        F.floor(
            F.sum("avg_lp").cast("double") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mean_lp")
    )
    return (
        tgt.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(F.broadcast(m_t))
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
            F.coalesce(F.col("logp_micro_sum"), F.lit(0))
            .cast("long")
            .alias("logp_micro_sum"),
            F.col("avg_lp").alias("avg_logp_micro"),
            F.when(
                F.col("avg_lp").isNotNull(),
                F.col("avg_lp")
                >= F.col("mean_lp") - F.lit(KEEP_MARGIN_MICRO),
            )
            .otherwise(F.lit(False))
            .alias("keep"),
        )
    )
