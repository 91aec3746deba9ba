"""Data-pipeline queries, wave 11: count-min sketch, freshness
monitoring, per-source dedup rates, and classifier calibration bins.

The CMS completes the sketch family (MinHash / SimHash / HLL /
Misra-Gries already covered) with full value-level parity: fixed
affine hash rows make the sketch itself deterministic, so the oracle
reproduces every counter, not just the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Count-min sketch over the corpus token stream
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_PRIME = 1_000_000_007
_CMS_A = [668265263, 374761393, 972663749, 144665161]
_CMS_B = [386132741, 562896977, 149760847, 913708841]

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_HASH32 = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"


def _cms_sql() -> str:
    rows_sql = " UNION ALL ".join(
        f"SELECT tok, {r} AS r, (({_CMS_A[r]} * h + {_CMS_B[r]}) % {CMS_PRIME})"
        f" % {CMS_WIDTH} AS bucket FROM toks"
        for r in range(CMS_DEPTH)
    )
    return f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
t2 AS (SELECT tok, {_HASH32.format(x='tok')} AS h FROM t WHERE tok <> ''),
toks AS (SELECT * FROM t2),
hashed AS ({rows_sql}),
sketch AS (SELECT r, bucket, count(*) AS cnt FROM hashed GROUP BY r, bucket),
exact AS (SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok),
top AS (SELECT tok FROM exact ORDER BY exact_count DESC, tok LIMIT 20),
probes AS (
  SELECT h2.tok, h2.r, h2.bucket FROM (SELECT DISTINCT tok, r, bucket FROM hashed) h2
  WHERE h2.tok IN (SELECT tok FROM top)
)
SELECT p.tok AS token,
       CAST(e.exact_count AS BIGINT) AS exact_count,
       CAST(min(s.cnt) AS BIGINT) AS cms_estimate
FROM probes p
JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
JOIN exact e ON e.tok = p.tok
GROUP BY p.tok, e.exact_count
"""


@register("a_count_min_sketch", oracle=_cms_sql())
def a_count_min_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 × width 256, fixed affine rows over
    the cross-engine md5-prefix hash) of corpus token frequencies,
    probed at the exact top-20 tokens: estimate = min over rows of the
    hashed counter, always >= the exact count. The sketch build is one
    explode + one grouped count (4·W counters total regardless of
    vocabulary size — the O(1)-memory frequency monitor a 100 TB
    ingest pipeline keeps per partition and merges by cell-wise add);
    determinism of the hash rows gives VALUE-level oracle parity, not
    just the overestimate contract.
    """
    from stakehouse_etl_spark.operators.text import fan_out, hash32, tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("h", hash32(F.col("tok")))
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (
                    ((F.lit(_CMS_A[r]) * F.col("h") + F.lit(_CMS_B[r])) % CMS_PRIME)
                    % CMS_WIDTH
                ).alias("bucket"),
            )
            for r in range(CMS_DEPTH)
        ]
    )
    hashed = toks.select("tok", F.explode(rows).alias("rb")).select(
        "tok", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
    )
    sketch = hashed.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), "tok").limit(20)
    probes = (
        hashed.join(F.broadcast(top.select("tok")), "tok", "left_semi")
        .select("tok", "r", "bucket")
        .distinct()
    )
    return (
        probes.join(sketch, ["r", "bucket"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("cms_estimate"))
        .join(F.broadcast(top), "tok")
        .select(
            F.col("tok").alias("token"),
            "exact_count",
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Freshness lag monitoring
# ---------------------------------------------------------------------------


@register(
    "dq_freshness_lag",
    oracle="""
WITH heads AS (
  SELECT event_type, max(epoch_us(ts)) AS head_us, count(*) AS n_events
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(head_us AS BIGINT) AS head_us,
       CAST((SELECT max(epoch_us(ts)) FROM events) - head_us AS BIGINT) AS lag_us,
       CAST(n_events AS BIGINT) AS n_events
FROM heads
""",
)
def dq_freshness_lag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed freshness monitoring: each event type's high-water mark
    and its lag behind the global stream head — the staleness alarm
    every multi-source ingest pipeline fires before a consumer reads a
    half-landed day (the reference's cross-feed clamp, SURVEY T1, as
    an observable). One grouped MAX + a broadcast scalar; cost of a
    count at any scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us")
    )
    heads = e.groupBy("event_type").agg(
        F.max("ts_us").alias("head_us"), F.count(F.lit(1)).alias("n_events")
    )
    global_head = e.agg(F.max("ts_us")).collect()[0][0]
    return heads.select(
        "event_type",
        "head_us",
        (F.lit(global_head) - F.col("head_us")).alias("lag_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Dedup rate by source
# ---------------------------------------------------------------------------


@register(
    "corpus_dedup_rate_by_source",
    oracle="""
WITH fp AS (
  SELECT source, doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
),
canon AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f)
SELECT fp.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN fp.doc_id <> c.keeper THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(sum(CASE WHEN fp.doc_id <> c.keeper THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_rate
FROM fp JOIN canon c USING (f)
GROUP BY fp.source
""",
)
def corpus_dedup_rate_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which crawl is most duplicated: per source, the share of docs
    that lose exact dedup (their normalized fingerprint's keeper is a
    lower doc_id) — the per-refresh corpus-ops dashboard number that
    decides which source's crawler gets fixed. Two hash shuffles,
    both on the fingerprint/source keys."""
    from stakehouse_etl_spark.operators.text import normalized_fingerprint

    fp = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", normalized_fingerprint(F.col("text")).alias("f")
    )
    canon = fp.groupBy("f").agg(F.min("doc_id").alias("keeper"))
    dropped = F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
    return (
        fp.join(canon, "f")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dropped).cast("long").alias("n_dropped"),
            (F.sum(dropped).cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Classifier calibration bins (reliability diagram counts)
# ---------------------------------------------------------------------------


def _calibration_sql() -> str:
    from stakehouse_etl_spark.operators.text import STOPWORDS_EN

    en = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks, text FROM documents),
f AS (
  SELECT doc_id, lang,
         len(toks) AS n_tok,
         length(text) AS n_chars,
         len(list_filter(toks, x -> x IN ({en}))) AS stop,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM t
),
scored AS (
  SELECT doc_id, lang,
         0.4 * least(1.0, n_tok / 100.0)
           + 0.3 * (stop / n_tok)
           + 0.3 * (1.0 - least(1.0, punct / n_chars * 5)) AS score
  FROM f
)
SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS en_rate
FROM scored GROUP BY 1
"""


@register("ml_calibration_bins", oracle=_calibration_sql())
def ml_calibration_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram counts: bucket the composite quality score
    into 10 fixed-width bins and count how often the 'en' label
    co-occurs — the calibration table behind every learned quality
    filter's threshold choice. Bin assignment reuses the exact
    quality-score expression tree (same IEEE bits in both engines →
    same bin at every boundary); counts are integers, one rate
    division at the edge.
    """
    from stakehouse_etl_spark.operators.text import quality_features

    scored = quality_features(
        load_table(spark, sf_dir, "documents")
    ).select(
        "lang",
        F.least(F.floor(F.col("quality_score") * 10), F.lit(9)).cast("long").alias(
            "bin"
        ),
    )
    en = F.when(F.col("lang") == "en", 1).otherwise(0)
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(en).cast("long").alias("n_en"),
        (F.sum(en).cast("double") / F.count(F.lit(1))).alias("en_rate"),
    )
