"""Training-data pipeline, second wave: sequence packing, stratified
sampling, benchmark-contamination screening, corpus n-gram LM counts,
a k-means Lloyd step over embeddings, a bounded approx-quantile
contract, and time-weighted averaging over event streams.

Beyond-reference operators (SURVEY §7 step 8): the reference
(`stakehouse-dev/stakehouse-etl`) has no corpus tooling; these are the
ops a 100 TB pretraining pipeline runs after dedup/quality (already in
:mod:`datapipe` / :mod:`corpus`). Every query keeps the established
exactness contract — integer token counts / cents / quantized-milli
embeddings until one final correctly-rounded double op — so all have
full DuckDB value oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.similarity import quantize
from stakehouse_etl_spark.operators.text import (
    fan_out,
    hash32,
    ordered_kgrams,
    shingles_from_toks,
    token_count,
    tokens,
)
from stakehouse_etl_spark.queries.datapipe import _HASH32, _QUANT_EMB, _TOKS
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------
PACK_CAP = 512  # tokens per training sequence
_PACK_BUCKET = 64  # docs per prefix-sum bucket (scale: ~#docs/64 bucket rows)


@register(
    "corpus_pack_sequences",
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
              AS BIGINT) AS start_off
  FROM t
)
SELECT doc_id, n_tok, start_off,
       start_off // {PACK_CAP} AS chunk_id,
       (start_off + n_tok - 1) // {PACK_CAP} - start_off // {PACK_CAP} + 1
         AS chunks_spanned
FROM c
""",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    doc_id order and cut into fixed ``PACK_CAP``-token training
    sequences; each doc gets its global token offset, owning chunk, and
    how many chunks it straddles.

    The global prefix sum is NOT a single-partition window: docs are
    bucketed (``doc_id div 64``), the cumsum runs per-bucket, and only
    the tiny bucket-total table (#docs/64 rows) goes through a global
    window before being broadcast-joined back — the 100 TB-safe
    two-phase parallel-prefix shape. Integer token counts end-to-end.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tok"),
        F.expr(f"doc_id div {_PACK_BUCKET}").alias("bucket"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = t.withColumn(
        "local_off", F.sum("n_tok").over(w_in) - F.col("n_tok")
    )
    totals = t.groupBy("bucket").agg(F.sum("n_tok").alias("tot"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    prefix = totals.select(
        "bucket", (F.sum("tot").over(w_b) - F.col("tot")).alias("bucket_off")
    )
    packed = local.join(F.broadcast(prefix), "bucket").select(
        "doc_id",
        "n_tok",
        (F.col("bucket_off") + F.col("local_off")).cast("long").alias("start_off"),
    )
    chunk = F.expr(f"start_off div {PACK_CAP}")
    last_chunk = F.expr(f"(start_off + n_tok - 1) div {PACK_CAP}")
    return packed.select(
        "doc_id",
        "n_tok",
        "start_off",
        chunk.alias("chunk_id"),
        (last_chunk - chunk + 1).alias("chunks_spanned"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------
SAMPLE_PER_STRATUM = 20


@register(
    "corpus_sample_stratified",
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang,
         {_HASH32.format(x="'sample:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
r AS (
  SELECT doc_id, lang, h,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
              AS BIGINT) AS rn
  FROM s
)
SELECT doc_id, lang, h, rn FROM r WHERE rn <= {SAMPLE_PER_STRATUM}
""",
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly ``SAMPLE_PER_STRATUM``
    docs per language, chosen by md5-hash order (seeded by the salt
    string, reproducible run-over-run and engine-over-engine — the
    property a train/eval split audit needs). One shuffle on the
    stratum key; per-stratum top-N, never a global sort. Skewed strata
    (one giant language) are the top_k_per_group shape AQE handles."""
    docs = load_table(spark, sf_dir, "documents")
    h = hash32(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= SAMPLE_PER_STRATUM)
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination screening
# ---------------------------------------------------------------------------
_BENCH_SOURCES = ("src0", "src1")
_BENCH_IN = ", ".join(f"'{s}'" for s in _BENCH_SOURCES)


@register(
    "text_contamination_overlap",
    oracle=f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         ))) AS shingle
  FROM t
),
s2 AS (SELECT * FROM s WHERE shingle <> ''),
b AS (SELECT DISTINCT shingle FROM s2 WHERE source IN ({_BENCH_IN})),
e AS (SELECT doc_id, shingle FROM s2 WHERE source NOT IN ({_BENCH_IN})),
c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM e GROUP BY 1),
m AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
  FROM e JOIN b USING (shingle) GROUP BY 1
)
SELECT c.doc_id, n_sh,
       CAST(coalesce(n_matched, 0) AS BIGINT) AS n_matched,
       coalesce(n_matched, 0) / n_sh AS contamination_ratio
FROM c LEFT JOIN m USING (doc_id)
""",
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: fraction of each training doc's
    distinct 3-gram shingles that also occur in the held-out benchmark
    corpus (here: sources {src0,src1} stand in for the eval set).
    The shingle inner join replaces an all-pairs comparison — cost is
    bounded by shingle postings, the decontamination shape used on
    real pretraining corpora. Counts stay BIGINT; one final division."""
    docs = load_table(spark, sf_dir, "documents")
    # Token array bound before the explode (r11): inline
    # shingles(text) re-splits the text ~7x per doc (see doc_shingles).
    sh = (
        fan_out(docs)
        .withColumn("__toks", tokens(F.col("text")))
        .select(
            "doc_id",
            "source",
            F.explode(shingles_from_toks(F.col("__toks"))).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )
    is_bench = F.col("source").isin(*_BENCH_SOURCES)
    bench = sh.filter(is_bench).select("shingle").distinct()
    evald = sh.filter(~is_bench).select("doc_id", "shingle")
    totals = evald.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    matched = (
        evald.join(bench, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    return totals.join(matched, "doc_id", "left").select(
        "doc_id",
        "n_sh",
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_matched"),
        (
            F.coalesce(F.col("n_matched"), F.lit(0)) / F.col("n_sh")
        ).alias("contamination_ratio"),
    )


# ---------------------------------------------------------------------------
# Corpus n-gram LM counts (top-k bigrams)
# ---------------------------------------------------------------------------
NGRAM_TOP_K = 30


@register(
    "text_ngram_counts",
    oracle=f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
b AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1])) AS term
  FROM t
),
g AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
r AS (
  SELECT term, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rnk
  FROM g
)
SELECT term, cnt, rnk FROM r WHERE rnk <= {NGRAM_TOP_K}
""",
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram language-model counts, top-30 with a
    deterministic (count desc, term asc) rank. The candidate set is cut
    with ``orderBy().limit()`` — TakeOrderedAndProject, a per-partition
    top-k + k-row merge on the driver side of the exchange, never a
    global sort of the full term dictionary (the 100 TB-safe shape);
    the dense rank is then a window over k=30 rows only."""
    docs = load_table(spark, sf_dir, "documents")
    # Shifted-slice bigrams (ordered_kgrams k=2): the element_at-in-
    # lambda form re-ran the regex split per bigram on the interpreted
    # HOF path (round-6 sf10 fuzz class, operators/text.py).
    bigrams = ordered_kgrams(F.col("text"), 2)
    top = (
        fan_out(docs)
        .select(F.explode(bigrams).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(NGRAM_TOP_K)
    )
    # bounded input: this window runs AFTER .limit(NGRAM_TOP_K) — its
    # input is ≤ k rows regardless of corpus size (the vocabulary-scale
    # work is the TakeOrderedAndProject above, which is partial per
    # partition), so a single-partition window here is k rows, not data
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# k-means Lloyd step over embeddings (assignment + centroid update)
# ---------------------------------------------------------------------------
KMEANS_K = 8

_KM_ASSIGN_CTE = f"""
e AS (SELECT vec_id, {_QUANT_EMB} AS q FROM embeddings),
c AS (SELECT vec_id AS centroid_id, q AS cq FROM e WHERE vec_id < {KMEANS_K}),
d AS (
  SELECT e.vec_id, c.centroid_id,
         CAST(list_sum(list_transform(range(1, len(e.q) + 1),
              i -> (e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i]))) AS BIGINT) AS dist
  FROM e CROSS JOIN c
),
a AS (
  SELECT vec_id, centroid_id, dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist, centroid_id) AS rn
  FROM d
)
"""


def _kmeans_assign_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    cents = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("q").alias("cq")
    )
    diff = F.zip_with(F.col("q"), F.col("cq"), lambda x, y: (x - y) * (x - y))
    dist = F.aggregate(diff, F.lit(0).cast("long"), lambda acc, x: acc + x)
    cand = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", "q", dist.alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "centroid_id")
    return cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)


@register(
    "ml_kmeans_assign",
    oracle=f"""
WITH {_KM_ASSIGN_CTE}
SELECT vec_id, centroid_id, dist FROM a WHERE rn = 1
""",
)
def ml_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step: nearest of K=8 fixed seed centroids
    (lowest vec_ids) by squared-L2 over quantized-milli embeddings —
    broadcast the K centroids, one codegen'd array fold per (vector,
    centroid), argmin via a k-bounded window. Distances are exact
    BIGINTs, ties broken by centroid id, so the assignment is
    bit-stable across engines. The scale path of IVF training: cost is
    K scans' worth of arithmetic on one pass, no shuffle of the
    embedding table."""
    return _kmeans_assign_df(spark, sf_dir).select("vec_id", "centroid_id", "dist")


@register(
    "ml_kmeans_update",
    oracle=f"""
WITH {_KM_ASSIGN_CTE},
asg AS (SELECT vec_id, centroid_id FROM a WHERE rn = 1),
x AS (
  SELECT asg.centroid_id,
         unnest(generate_series(1, len(e.q))) AS dim,
         unnest(e.q) AS qv
  FROM asg JOIN e ON asg.vec_id = e.vec_id
)
SELECT centroid_id, CAST(dim AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(qv) AS BIGINT) AS sum_q,
       CAST(CAST(sum(qv) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS mean_q
FROM x GROUP BY 1, 2
""",
)
def ml_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lloyd update step: per-centroid per-dimension mean of the
    assigned vectors. Emitted exploded — (centroid, dim) rows — so the
    result is hashable without array-rendering ambiguity. Sums stay
    integral (quantized millis); the mean is one exact-int division.
    posexplode keeps it a single shuffle of (K·dims)-cardinality keys,
    independent of corpus size — partial aggregation does the heavy
    lifting map-side."""
    asg = _kmeans_assign_df(spark, sf_dir).select("centroid_id", "q")
    x = asg.select(
        "centroid_id", F.posexplode(F.col("q")).alias("pos", "qv")
    ).select("centroid_id", (F.col("pos") + 1).cast("int").alias("dim"), "qv")
    return x.groupBy("centroid_id", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("qv").cast("long").alias("sum_q"),
        (F.sum("qv").cast("long").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_q"
        ),
    )


# ---------------------------------------------------------------------------
# Bounded approx-quantile contract
# ---------------------------------------------------------------------------
@register(
    "a_approx_quantile_bounded",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM orders
), agg AS (
  SELECT priority, max(n) AS n,
         max(CASE WHEN rn = (1 * (n - 1)) // 2 + 1 THEN v END) AS a50,
         max(CASE WHEN rn = (1 * (n - 1)) // 2 + 2 THEN v END) AS b50
  FROM s GROUP BY priority
)
SELECT priority, n,
       (a50 + (coalesce(b50, a50) - a50) * (((1 * (n - 1)) % 2) / 2.0))
         / 100.0 AS p50_exact,
       TRUE AS approx_within_bound
FROM agg
""",
)
def a_approx_quantile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile`` (the streaming/huge-group path: KLL-style
    mergeable sketch, no sort) checked against the exact interpolated
    median, emitting a verifiable contract boolean instead of the
    engine-specific sketch value — same pattern as
    ``a_approx_distinct_bounded``. At accuracy=10000 the rank error is
    ≤ n/10000, far inside the 2%-of-value bound asserted here; the
    oracle pins the exact value and expects the contract to hold."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    s = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("raw"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n"),
    )
    agg = s.groupBy("priority").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.expr("(1 * (n - 1)) div 2 + 1"), F.col("v"))).alias(
            "a50"
        ),
        F.max(F.when(F.col("rn") == F.expr("(1 * (n - 1)) div 2 + 2"), F.col("v"))).alias(
            "b50"
        ),
        F.expr("approx_percentile(raw, 0.5, 10000)").alias("p50_approx"),
    )
    frac = ((F.lit(1) * (F.col("n") - 1)) % 2) / 2.0
    exact = (
        F.col("a50")
        + (F.coalesce(F.col("b50"), F.col("a50")) - F.col("a50")) * frac
    ) / 100.0
    return agg.select(
        "priority",
        "n",
        exact.alias("p50_exact"),
        (
            F.abs(F.col("p50_approx") - exact) <= 0.02 * exact
        ).alias("approx_within_bound"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (step-function integral over event streams)
# ---------------------------------------------------------------------------
@register(
    "ts_time_weighted_avg",
    oracle="""
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
l AS (
  SELECT user_id, cents, ts_us,
         lead(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS nxt
  FROM s
),
seg AS (
  SELECT user_id, cents, nxt - ts_us AS dur FROM l WHERE nxt IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_seg,
       CAST(sum(dur) AS BIGINT) AS total_dur_us,
       CAST(sum(cents * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE) / 100.0
         AS twa
FROM seg GROUP BY user_id
""",
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per user: each reading holds
    until the next one (step-function/last-observation-carried-forward
    integral — the right mean for irregularly-sampled gauges, unlike
    the row-weighted AVG). Weights are exact integer cents×micros
    accumulated in DECIMAL(38,0) (sums at 100 TB overflow an int64;
    DuckDB's HUGEINT widening is matched, not assumed), then ONE
    correctly-rounded double division. One window + one grouped agg,
    both clustered on user_id — AQE sees a single shuffle."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    seg = (
        s.withColumn("nxt", F.lead("ts_us").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "user_id",
            (F.col("nxt") - F.col("ts_us")).alias("dur"),
            (F.col("cents") * (F.col("nxt") - F.col("ts_us")))
            .cast("decimal(38,0)")
            .alias("wsum"),
        )
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seg"),
        F.sum("dur").cast("long").alias("total_dur_us"),
        (
            F.sum("wsum").cast("double")
            / F.sum("dur").cast("long").cast("double")
            / 100.0
        ).alias("twa"),
    )
