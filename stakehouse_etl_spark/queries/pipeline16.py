"""Data-pipeline queries, wave 16: scale-hardening evidence.

Round-2 verdict items made runnable: the W1 window's hot-key ceiling
(a 20%-of-corpus key) exercised through the skew-resistant chunked
cumulative sum, and end-to-end partition pruning over an
epoch-bucketed warehouse copy at bench scale (not just unit tests).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.registry import register


@register(
    "w1_skew_hotkey",
    bench=True,
    oracle="""
WITH e AS (
  SELECT CASE WHEN user_id % 5 = 0 THEN CAST(-1 AS BIGINT) ELSE user_id END AS k,
         event_id AS t,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
c AS (
  SELECT k, t, cents,
         CAST(sum(cents) OVER (PARTITION BY k ORDER BY t) AS BIGINT) AS cum
  FROM e
)
SELECT k, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max_by(cum, t) AS BIGINT) AS final_cum,
       CAST(max(cum) AS BIGINT) AS peak_cum
FROM c GROUP BY k
""",
)
def w1_skew_hotkey_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1's documented hot-key ceiling, made measurable: every fifth
    user collapses onto ONE key (~20% of all events), then the running
    cents total runs through ``adaptive_cumsum``, whose sampled key
    histogram detects the ~20% hot key and dispatches to the chunked
    decomposition — within-chunk windows over (key, chunk) spread the
    hot key across 32 tasks, a tiny per-chunk prefix table seeds the
    offsets (two-phase running total). The oracle is the PLAIN window
    cumsum: dispatch must be value-identical either way, and the bench
    entry times it (probe included) at sf0.1 against the fixed
    headline set."""
    from stakehouse_etl_spark.operators.windows import adaptive_cumsum

    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 5 == 0, F.lit(-1).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("k"),
        F.col("event_id").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cum = adaptive_cumsum(ev, key="k", time="t", value="cents", out="cum")
    return cum.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max_by("cum", "t").alias("final_cum"),
        F.max("cum").alias("peak_cum"),
    )


@register(
    "w1_income_partitioned_prune",
    bench=True,
    oracle="""
WITH e AS (
  SELECT user_id,
         epoch_us(ts) // 3600000000 AS epoch,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
agg AS (
  SELECT user_id, epoch, sum(cents) AS cents
  FROM e GROUP BY user_id, epoch
),
merged AS (
  SELECT user_id, epoch, CAST(cents AS BIGINT) AS cents,
         epoch // 24 AS epoch_bucket
  FROM agg
)
SELECT user_id,
       CAST(sum(cents) AS BIGINT) AS cents_in_range,
       CAST(count(*) AS BIGINT) AS n_epochs
FROM merged
WHERE epoch_bucket BETWEEN (SELECT min(epoch) // 24 FROM e)
                       AND (SELECT min(epoch) // 24 FROM e) + 1
GROUP BY user_id
""",
)
def w1_income_partitioned_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end PartitionFilters pruning at bench scale: hourly
    per-user income lands in an epoch-bucket-partitioned warehouse
    copy via ``write_time_partitioned`` (24 epochs = one bucket), then
    the steady-state read — a two-bucket range — must scan ONLY those
    bucket directories (the plan shows PartitionFilters on
    epoch_bucket; asserted in tests/test_layout.py, timed here). The
    write happens once per sf_dir into a content-stable location;
    repeat runs time the pruned READ path."""
    from stakehouse_etl_spark.io.sinks import write_time_partitioned

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") / 3_600_000_000).cast("long").alias("epoch"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    hourly = ev.groupBy("user_id", "epoch").agg(F.sum("cents").alias("cents"))
    # Cache key includes the source file's identity (mtime+size): the
    # driver REGENERATES /root/testdata between rounds, and a warehouse
    # copy built from the previous generation would silently diverge
    # from the oracle.
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{int(st.st_mtime)}_{st.st_size}"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_wh_{tag}", "hourly_income"
    )
    if not os.path.exists(path):
        write_time_partitioned(
            spark, hourly, path, keys=["user_id", "epoch"], epochs_per_bucket=24
        )
    lo = ev.agg(F.min("epoch")).collect()[0][0] // 24
    wh = spark.read.parquet(path)
    return (
        wh.filter(F.col("epoch_bucket").between(lo, lo + 1))
        .groupBy("user_id")
        .agg(
            F.sum("cents").alias("cents_in_range"),
            F.count(F.lit(1)).alias("n_epochs"),
        )
    )


def _url_tracking_sql() -> str:
    """Generated from the SAME tuple the operator uses — the two
    engines cannot drift when a prefix is added."""
    from stakehouse_etl_spark.operators.text import TRACKING_PARAM_PREFIXES

    terms = []
    for pref in TRACKING_PARAM_PREFIXES:
        if pref.endswith("_"):
            terms.append(f"starts_with(p, '{pref}')")
        else:
            terms.append(f"p = '{pref}' OR starts_with(p, '{pref}=')")
    return " OR ".join(terms)


_URL_TRACKING_SQL = _url_tracking_sql()


@register(
    "text_url_normalize",
    oracle=f"""
WITH u AS (
  SELECT doc_id,
         'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443/Docs/'
           || CAST(doc_id AS VARCHAR)
           || CASE doc_id % 3
                WHEN 0 THEN '/?utm_source=feed&b=2&a=1#frag'
                WHEN 1 THEN '?gclid=xyz&q=' || lang
                ELSE '/' END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         split_part(url, '#', 1) AS no_frag
  FROM u
),
pieces AS (
  SELECT doc_id,
         split_part(no_frag, '?', 1) AS base,
         nullif(split_part(no_frag, '?', 2), '') AS query
  FROM parts
),
hp AS (
  SELECT doc_id, base, query,
         lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1))
           AS hostport
  FROM pieces
),
norm AS (
  SELECT doc_id, scheme,
         regexp_replace(
           CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                ELSE hostport END,
           '^www\\.', '') AS host,
         regexp_replace(
           regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$', 1),
           '/+$', '') AS path,
         array_to_string(list_sort(list_filter(
           string_split(coalesce(query, ''), '&'),
           p -> p <> '' AND NOT ({_URL_TRACKING_SQL}))), '&') AS params
  FROM hp
)
SELECT doc_id,
       scheme || '://' || host || path
         || CASE WHEN params <> '' THEN '?' || params ELSE '' END AS url_norm,
       host AS domain,
       host IN ('site0.com', 'site5.com') AS blocked
FROM norm
""",
)
def text_url_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the dedup key of every web-corpus
    pipeline: mixed-case scheme/host, default port, www prefix,
    fragments, and tracking params (utm_*/gclid/fbclid/...) all
    collapse to one canonical form; surviving query params sort; the
    registrable domain feeds domain-level stats and a blocklist flag.
    Pure codegen'd column expressions (regex + array ops), exact
    DuckDB parity on the whole kernel. URLs are synthesized
    deterministically from doc_id (documents carries no URL column)."""
    from stakehouse_etl_spark.operators.text import url_domain, url_normalize

    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/Docs/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=feed&b=2&a=1#frag"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("?gclid=xyz&q="), F.col("lang")),
        )
        .otherwise(F.lit("/")),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    domain = url_domain(F.col("url"))
    return with_url.select(
        "doc_id",
        url_normalize(F.col("url")).alias("url_norm"),
        domain.alias("domain"),
        domain.isin("site0.com", "site5.com").alias("blocked"),
    )


@register(
    "corpus_chunk_documents",
    oracle="""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
n AS (
  SELECT doc_id, toks, len(toks) AS n_tok,
         greatest(1, CAST(floor((len(toks) - 16 + 47) / 48.0) AS INTEGER))
           AS n_chunks
  FROM t
),
c AS (
  SELECT doc_id, g.i AS chunk_idx,
         CAST(g.i * 48 AS BIGINT) AS token_start,
         toks[g.i * 48 + 1 : g.i * 48 + 64] AS chunk_toks
  FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) g
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, token_start,
       CAST(len(chunk_toks) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(chunk_toks, ' ')) AS chunk_fp
FROM c
""",
)
def corpus_chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking of the corpus (64-token windows, 16
    overlap): the context-window prep stage every RAG / pretraining
    pipeline runs before embedding or packing. Returns provenance
    (doc_id, chunk_idx, token offset) + the chunk fingerprint (md5) so
    the oracle value-checks the exact chunk contents without hauling
    chunk text through the compare."""
    from stakehouse_etl_spark.operators.text import chunk_docs

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_docs(docs, chunk_tokens=64, overlap=16)
    return ch.select(
        "doc_id",
        "chunk_idx",
        "token_start",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_fp"),
    )


@register(
    "text_bpe_pretoken_stats",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9\s]+')
           AS pts
  FROM documents
)
SELECT doc_id,
       CAST(len(pts) AS BIGINT) AS n_pretokens,
       CAST(len(list_filter(pts, p -> regexp_matches(p, '^[a-z]'))) AS BIGINT)
         AS n_alpha,
       CAST(len(list_filter(pts, p -> regexp_matches(p, '^[0-9]'))) AS BIGINT)
         AS n_digit,
       CAST(len(list_filter(pts, p -> NOT regexp_matches(p, '^[a-z0-9]')))
            AS BIGINT) AS n_punct,
       CAST(list_sum(list_transform(pts, p -> length(p))) AS BIGINT)
         AS pretoken_chars
FROM t
""",
)
def text_bpe_pretoken_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (the brief's 'whitespace + a BPE-ish
    regex'): maximal letter/digit/punct runs — the pre-token unit a
    subword tokenizer merges within, and the standard cheap proxy for
    model token counts when budgeting a training mix. Pure codegen'd
    regexp_extract_all; exact cross-engine counts."""
    from stakehouse_etl_spark.operators.text import bpe_pretokens

    docs = load_table(spark, sf_dir, "documents")
    pts = bpe_pretokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(pts).cast("long").alias("n_pretokens"),
        F.size(F.filter(pts, lambda p: p.rlike("^[a-z]"))).cast("long").alias("n_alpha"),
        F.size(F.filter(pts, lambda p: p.rlike("^[0-9]"))).cast("long").alias("n_digit"),
        F.size(F.filter(pts, lambda p: ~p.rlike("^[a-z0-9]")))
        .cast("long")
        .alias("n_punct"),
        F.aggregate(
            F.transform(pts, F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("pretoken_chars"),
    )


@register(
    "text_winnowing_fingerprints",
    oracle="""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ELSE [] END AS grams
  FROM t
),
h AS (
  SELECT doc_id,
         list_transform(grams,
           x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)) AS hs
  FROM g
),
wmin AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(1, len(hs) - 4 + 1) + 1),
           i -> list_min(hs[i : i + 3]))) AS fps
  FROM h WHERE len(hs) > 0
)
SELECT doc_id, unnest(fps) AS fp FROM wmin
""",
)
def text_winnowing_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing, the brief's
    named scheme): min-of-window over the positional 3-gram hash
    stream, window 4 — every shared run of >= 6 tokens between two
    docs shares a fingerprint, at ~2/(w+1) storage. Exploded
    (doc_id, fp) rows; exact cross-engine hash parity."""
    from stakehouse_etl_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, w=4)


@register(
    "text_feature_hashing",
    oracle="""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
)
SELECT doc_id,
       CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 64 AS bucket,
       count(*) AS cnt
FROM t WHERE tok <> ''
GROUP BY 1, 2
""",
)
def text_feature_hashing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: token counts folded into 64 hash
    buckets per document — fixed-width sparse features with no
    vocabulary pass (the standard cheap vectorizer for quality
    classifiers over an unbounded corpus vocab). One explode + one
    groupBy; exact cross-engine bucket parity via the md5-prefix hash."""
    from stakehouse_etl_spark.operators.text import feature_hash

    docs = load_table(spark, sf_dir, "documents")
    return feature_hash(docs, n_buckets=64)
