"""Corpus-preparation queries: Gopher-style repetition metrics, PII
redaction, and the end-to-end corpus-cleaning pipeline (quality
filter → exact dedup → near-dup cluster collapse).

This is the "what a 100 TB training-data pipeline actually runs"
composition: every stage is an already-oracle-checked kernel
(text_quality, dedup_exact, dedup_minhash_lsh, dedup_cc_clusters),
and the pipeline query proves the COMPOSITION end-to-end against one
DuckDB CTE chain, recursive closure included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.dedup import near_dup_pairs
from stakehouse_etl_spark.operators.graph import connected_components
from stakehouse_etl_spark.operators.text import (
    fan_out,
    normalized_fingerprint,
    ordered_kgrams,
    quality_keep,
    tokens,
)
from stakehouse_etl_spark.queries.datapipe import (
    _EN,
    _SHINGLES_CTE as _SHINGLES_CTE_REF,
    _TOKS,
    _lsh_jaccard_cte,
)
from stakehouse_etl_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style duplicate-text signals)
# ---------------------------------------------------------------------------
@register(
    "text_repetition_metrics",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         CAST(len(list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])) AS BIGINT) AS n_bigram,
         CAST(len(list_distinct(list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1]))) AS BIGINT) AS n_bigram_distinct
  FROM t
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
top AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_count
  FROM (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT base.doc_id, n_tok,
       1.0 - n_distinct / n_tok AS dup_token_ratio,
       CASE WHEN n_bigram > 0 THEN 1.0 - n_bigram_distinct / n_bigram
            ELSE 0.0 END AS dup_bigram_ratio,
       top_count / n_tok AS top_token_ratio
FROM base JOIN top ON base.doc_id = top.doc_id
""",
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals for corpus filtering (the Gopher/MassiveText
    family): duplicate-token fraction, duplicate-bigram fraction, and
    the most-frequent-token share. Array ops (distinct counts, bigram
    construction via ``transform``) run inside codegen on the scan; the
    per-token top count is one explode + grouped max. High values ⇒
    boilerplate/spam; at 100 TB this is the cheap second-pass filter
    after length/stopword quality."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # Raw (non-distinct) bigrams — `operators.text.shingles` dedups,
    # which is right for Jaccard sets but wrong for repetition counts.
    # ordered_kgrams(k=2) IS the positional bigram stream, built via
    # shifted slices (the element_at-in-lambda form re-split the text
    # per bigram — round-6 sf10 fuzz, 52 s -> measured fix).
    bigrams = ordered_kgrams(F.col("text"), 2)
    base = fan_out(docs).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(bigrams).cast("long").alias("n_bigram"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_bigram_distinct"),
    )
    tok = fan_out(docs).select("doc_id", F.explode(toks).alias("term"))
    top = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_count"))
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        "n_tok",
        (F.lit(1.0) - F.col("n_distinct") / F.col("n_tok")).alias("dup_token_ratio"),
        F.when(
            F.col("n_bigram") > 0,
            F.lit(1.0) - F.col("n_bigram_distinct") / F.col("n_bigram"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
        (F.col("top_count") / F.col("n_tok")).alias("top_token_ratio"),
    )


# ---------------------------------------------------------------------------
# PII redaction (regex scrub, JVM-side)
# ---------------------------------------------------------------------------
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_LONGNUM_RE = r"[0-9]{4,}"


@register(
    "text_pii_redact",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_LONGNUM_RE}')) AS BIGINT) AS n_longnums,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_LONGNUM_RE}', '<NUM>', 'g')) AS redacted_fp
FROM documents
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + redact email addresses and long digit
    runs (pseudo-identifiers) with sentinel tokens — pure
    ``regexp_count``/``regexp_replace`` column expressions, zero
    Python, zero shuffle; emits an md5 of the redacted text so the
    oracle verifies the exact output bytes without shipping full
    documents through the comparator."""
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_LONGNUM_RE),
        F.lit("<NUM>"),
    )
    return fan_out(docs).select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_LONGNUM_RE))
        .cast("long")
        .alias("n_longnums"),
        F.md5(redacted).alias("redacted_fp"),
    )


# ---------------------------------------------------------------------------
# End-to-end corpus cleaning (the flagship composition)
# ---------------------------------------------------------------------------
_QUALITY_KEEP = """
0.4 * least(1.0, n_tok / 100.0)
  + 0.3 * (stop / n_tok)
  + 0.3 * (1.0 - least(1.0, punct / n_chars * 5)) >= 0.5
"""


@register(
    "pipeline_corpus_clean",
    bench=True,
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), f AS (
  SELECT doc_id, text, toks,
         len(toks) AS n_tok, length(text) AS n_chars,
         len(list_filter(toks, x -> x IN ({_EN}))) AS stop,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM t
), q AS (
  SELECT doc_id, text, toks FROM f WHERE {_QUALITY_KEEP}
), fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM q
), canon AS (
  SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp
), surv AS (
  SELECT q.doc_id, q.toks FROM q JOIN canon USING (doc_id)
), s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         ))) AS shingle
  FROM surv
), s2 AS (SELECT * FROM s WHERE shingle <> ''),
c AS (SELECT doc_id, count(*) AS n_sh FROM s2 GROUP BY doc_id),
{_lsh_jaccard_cte()},
edges AS (
  SELECT id_a AS a, id_b AS b FROM j WHERE inter * 100 >= union_sz * 20
), sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a
), dropped AS (SELECT doc_id FROM comp WHERE component < doc_id)
SELECT doc_id FROM surv
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
""",
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning, the composition a training-data
    pipeline runs nightly: (1) quality filter (length/stopword/punct
    composite ≥ 0.5), (2) exact dedup on the normalized-content
    fingerprint keeping the lowest doc_id, (3) near-dup collapse —
    capped MinHash-LSH candidates, exact-verified at Jaccard ≥ 0.2 →
    connected components → keep the component minimum. Returns the
    kept corpus ids. Stages (1)(2) are scan + one hash-shuffle; (3)
    runs the SCALE-SAFE tier (``near_dup_pairs`` tier='lsh': band
    equi-join with the over-full-bucket drop, never the corpus-wide
    shingle self-join) on the already-thinned survivor set — the
    right cost order at 100 TB. The exact-Jaccard tier stays
    available as the oracle/recall arm (``dedup_jaccard_pairs``)."""
    docs = load_table(spark, sf_dir, "documents")
    # Exact dedup shuffles ONLY (doc_id, fp) to the keep-min groupBy
    # and semi-joins the winner set back: document text never crosses
    # an exchange here (a row_number window over fp would shuffle
    # every text byte — worse than re-reading cheap columnar parquet).
    #
    # r11 (guide §1.2 — remove work you throw away; §2.3):
    # 1. fan_out BEFORE the quality gate: the before-profile ran the
    #    whole quality+fingerprint map pipeline at the scan's
    #    parallelism (ONE task on the single-row-group bench file);
    #    one shared narrow shuffle spreads it, and ReuseExchange
    #    serves both branches from the same shuffle files. At 100 TB
    #    fan_out passes wide scans through untouched.
    # 2. The quality gate runs ONCE, on the canon branch only. The
    #    former survivor branch re-evaluated the full score expression
    #    on its own scan — redundantly: canon ids are quality-passing
    #    by construction, doc_id is unique, so `docs ⋉ canon` is
    #    exactly `quality(docs) ⋉ canon`.
    # 3. quality_keep replaces the quality_features+filter pair: the
    #    pushed-down score predicate inlined the tokenizing split 3×
    #    per row (before-plan Filter (5)/(8)); the single-aggregate
    #    form splits once. Same value semantics (see operators.text).
    # Project BEFORE the spread shuffle and the survivor cache (guide
    # §2.3): everything downstream touches only (doc_id, text) — the
    # near-dup tier shingles text, the final answer is doc_id — so
    # the other document columns never cross an exchange or occupy
    # cache here.
    wide = fan_out(docs.select("doc_id", "text"))
    canon = (
        wide.filter(quality_keep(F.col("text")))
        .select("doc_id", normalized_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    from stakehouse_etl_spark.caches import persist_tracked

    # Survivors feed the near-dup edge build AND the final anti-join —
    # persist (tracked, released at the caller's action boundary) so
    # the semi-join doesn't run twice.
    # No broadcast pin on canon (review r5): the keep-set is
    # DOC-scale (one row per distinct content), so a hard broadcast
    # is a guaranteed driver OOM at corpus scale. Left to AQE: a
    # narrow long column deserializes at ~16 B/row, so the
    # compressed-size trap can't bite, and AQE still broadcasts it at
    # bench scale while falling back to a keyed shuffle when big.
    surv = persist_tracked(wide.join(canon, "doc_id", "left_semi"))
    edges = near_dup_pairs(surv, threshold_pct=20).select("id_a", "id_b")
    comp = connected_components(edges, src="id_a", dst="id_b")
    dropped = comp.filter(F.col("component") < F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    return surv.select("doc_id").join(dropped, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Deterministic train/holdout split (hash-bucketed, engine-reproducible)
# ---------------------------------------------------------------------------
@register(
    "split_train_holdout",
    oracle="""
WITH h AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 10 AS bucket
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < 8 THEN 'train' ELSE 'holdout' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM h GROUP BY 1, 2
""",
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/holdout split by content-stable key
    hash — the reproducible-split primitive every training-data
    pipeline needs (df.sample() is engine- and partitioning-dependent;
    hashing the key is not, and the SAME doc lands in the SAME split
    on every engine, every run, every scale). md5-prefix hash64 is the
    engine-wide deterministic hash (operators/text.py:hash64)."""
    from stakehouse_etl_spark.operators.text import hash64

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash64(F.col("doc_id").cast("string")) % 10
    return (
        docs.select(
            "doc_id",
            "lang",
            F.when(bucket < 8, F.lit("train")).otherwise(F.lit("holdout")).alias(
                "split"
            ),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate distinct with a verifiable error contract
# ---------------------------------------------------------------------------
@register(
    "a_approx_distinct_bounded",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       true AS approx_within_10pct
FROM events GROUP BY event_type
""",
)
def a_approx_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-aggregate family with a CONTRACT the oracle can
    check: HyperLogLog++ distinct counts (rsd 0.01) must land within
    10% of exact (a ~10-sigma bound — sketch values themselves can't
    hash-match across engines, so the query emits the exact count plus
    the bound VERDICT, which can). At 100 TB the approx path is the
    one that avoids the exact-distinct shuffle entirely."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_approx"),
    )
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= F.col("n_exact") * 0.10
        ).alias("approx_within_10pct"),
    )


# ---------------------------------------------------------------------------
# Levenshtein verification tier over candidate pairs
# ---------------------------------------------------------------------------
@register(
    "dedup_levenshtein_pairs",
    oracle=f"""
WITH {{shingles}}, {{jaccard}},
ver AS (SELECT id_a, id_b FROM j WHERE inter * 100 >= union_sz * 20)
SELECT id_a, id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       CAST(levenshtein(a.text, b.text) AS BIGINT) * 1.0
         / greatest(length(a.text), length(b.text)) AS edit_ratio
FROM ver
JOIN documents a ON a.doc_id = id_a
JOIN documents b ON b.doc_id = id_b
""".format(
        shingles=_SHINGLES_CTE_REF, jaccard=_lsh_jaccard_cte()
    ),
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification tier: exact Levenshtein (JVM
    built-in, integers — hash-exact across engines) computed ONLY on
    the near-dup candidate pairs, never all-pairs (Levenshtein is
    O(len²) per pair; the candidate set is what makes it affordable,
    the same candidates-only discipline as the MinHash verify stage).
    edit_ratio normalizes by the longer text in one exact division."""
    docs = load_table(spark, sf_dir, "documents")
    cand = near_dup_pairs(docs, threshold_pct=20).select("id_a", "id_b")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    dist = F.levenshtein("text_a", "text_b")
    # MERGE on the doc-text sides (r8; was SHUFFLE_HASH from r5):
    # full text tables are row-scale and must never be hard-broadcast
    # (the old F.broadcast pin dies at corpus scale); leaving AQE free
    # risks the compressed-size trap on low-entropy text; and a
    # hash build of the text side grows with corpus size at fixed
    # partitions (the sf30 executor-OOM class, r8). Sort-merge spills
    # — the only strategy with bounded memory at any scale.
    return (
        cand.join(a.hint("MERGE"), "id_a")
        .join(b.hint("MERGE"), "id_b")
        .select(
            "id_a",
            "id_b",
            dist.cast("long").alias("edit_dist"),
            (
                dist.cast("long") * 1.0
                / F.greatest(F.length("text_a"), F.length("text_b"))
            ).alias("edit_ratio"),
        )
    )
