"""Data-pipeline queries, wave 26: intra-document dedup, interval
estimates, versioned-table audits, and streaming leaderboard state.

- intra-doc repeated-passage removal (RefinedWeb-style, within doc)
- Wilson 95% confidence interval (algebraic, engine-exact)
- snapshot version diff (time-travel audit across published versions)
- streaming top-k leaderboard via foreachBatch merged state
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sinks import read_existing
from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import fan_out, tokens
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.streaming.staging import land_batch, run_stream

CHUNK_TOKS = 8


# ---------------------------------------------------------------------------
# Intra-document repeated-passage removal
# ---------------------------------------------------------------------------
@register(
    "corpus_intradoc_dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
ch AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS idx,
         array_to_string(toks[(i * {CHUNK_TOKS} + 1):((i + 1) * {CHUNK_TOKS})],
                         ' ') AS chunk
  FROM t, unnest(range(CAST(ceil(len(toks) / {CHUNK_TOKS}.0) AS BIGINT)))
         AS u(i)
),
kept AS (
  SELECT doc_id, chunk, CAST(min(idx) AS BIGINT) AS first_idx
  FROM ch GROUP BY 1, 2
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT c.chunk) AS BIGINT) AS n_kept,
       md5(string_agg(k.chunk, ' ' ORDER BY k.first_idx)) AS cleaned_fp
FROM ch c
LEFT JOIN kept k ON c.doc_id = k.doc_id AND c.idx = k.first_idx
GROUP BY c.doc_id
""",
)
def corpus_intradoc_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-passage removal (the intra-doc stage
    of RefinedWeb-style cleaning — boilerplate navigation, repeated
    footers): split each doc into {CHUNK_TOKS}-token chunks, keep only
    each chunk's FIRST occurrence in its own document, and fingerprint
    the reassembled text. Entirely per-document — a row-parallel
    explode → per-(doc,chunk) min-idx → ordered reassembly, shuffling
    only on doc_id — so it composes before the INTER-doc passage
    dedup (``corpus_passage_dedup``) without any cross-document state.
    Reassembly is order-explicit (sort_array over (first_idx, chunk)
    structs), never collect_list's arrival order, which is
    scheduler-dependent."""
    return intradoc_dedup(load_table(spark, sf_dir, "documents"))


def intradoc_dedup(docs: DataFrame) -> DataFrame:
    """The intra-doc chunk-dedup kernel over any (doc_id, text)
    DataFrame — exposed separately so property tests can drive the
    ACTUAL Spark expression on arbitrary generated texts (not a local
    Python reimplementation of it)."""
    t = fan_out(docs).select(
        "doc_id",
        F.filter(tokens(F.col("text")), lambda x: x != "").alias("toks"),
    )
    n_chunks = F.ceil(F.size("toks") / float(CHUNK_TOKS)).cast("int")
    # guard: sequence(0, -1) would generate a DESCENDING sequence for
    # an empty token list, not an empty one
    chunk_structs = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("idx"),
                F.array_join(
                    F.slice(F.col("toks"), i * CHUNK_TOKS + 1, CHUNK_TOKS),
                    " ",
                ).alias("chunk"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<idx:bigint,chunk:string>>"))
    ch = t.select("doc_id", F.explode(chunk_structs).alias("c")).select(
        "doc_id", F.col("c.idx").alias("idx"), F.col("c.chunk").alias("chunk")
    )
    kept = ch.groupBy("doc_id", "chunk").agg(F.min("idx").alias("first_idx"))
    stats = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("chunk").alias("n_kept"),
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("first_idx", "chunk"))
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("cleaned_fp")
    )
    return stats.join(rebuilt, "doc_id")


# ---------------------------------------------------------------------------
# Wilson 95% confidence interval for grouped proportions
# ---------------------------------------------------------------------------
@register(
    "ml_wilson_ci",
    oracle="""
WITH g AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE c_acctbal > 5000) AS BIGINT) AS k
  FROM customer GROUP BY 1
)
SELECT c_mktsegment, n, k,
       (CAST(k AS DOUBLE) / n) AS phat,
       ((CAST(k AS DOUBLE) / n + (1.96::DOUBLE * 1.96::DOUBLE) / (2 * n))
        - 1.96::DOUBLE * sqrt((CAST(k AS DOUBLE) / n)
              * (1 - CAST(k AS DOUBLE) / n) / n
              + (1.96::DOUBLE * 1.96::DOUBLE) / (4.0 * n * n)))
       / (1 + (1.96::DOUBLE * 1.96::DOUBLE) / n) AS ci_lo,
       ((CAST(k AS DOUBLE) / n + (1.96::DOUBLE * 1.96::DOUBLE) / (2 * n))
        + 1.96::DOUBLE * sqrt((CAST(k AS DOUBLE) / n)
              * (1 - CAST(k AS DOUBLE) / n) / n
              + (1.96::DOUBLE * 1.96::DOUBLE) / (4.0 * n * n)))
       / (1 + (1.96::DOUBLE * 1.96::DOUBLE) / n) AS ci_hi
FROM g
""",
)
def ml_wilson_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% interval for a grouped proportion (share of
    high-balance customers per segment) — the interval that behaves at
    small n and extreme p where the naive Wald interval collapses;
    what an experimentation readout should quote alongside any rate.
    Purely algebraic (one sqrt, fixed parenthesization, z=1.96 pinned
    to the same double literal in both dialects) over exact integer
    (n, k) — no simulation, no bootstrap, engine-exact. One grouped
    count; the interval math is free."""
    g = load_table(spark, sf_dir, "customer").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("c_acctbal") > 5000).alias("k"),
    )
    z = F.lit(1.96)
    n = F.col("n")
    phat = F.col("k").cast("double") / n
    center = phat + (z * z) / (2 * n)
    half = z * F.sqrt(
        phat * (1 - phat) / n + (z * z) / (F.lit(4.0) * n * n)
    )
    denom = 1 + (z * z) / n
    return g.select(
        "c_mktsegment",
        "n",
        "k",
        phat.alias("phat"),
        ((center - half) / denom).alias("ci_lo"),
        ((center + half) / denom).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Snapshot version diff (time-travel audit)
# ---------------------------------------------------------------------------
@register(
    "k7_snapshot_version_diff",
    oracle="""
WITH v1 AS (
  SELECT c_custkey AS key, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
v2 AS (
  SELECT c_custkey AS key,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS cents
  FROM customer WHERE c_custkey % 13 <> 0
  UNION ALL
  SELECT c_custkey + 1000000,
         CAST(round(c_acctbal * 100) AS BIGINT)
  FROM customer WHERE c_custkey % 17 = 0
),
d AS (
  SELECT CASE WHEN a.key IS NULL THEN 'added'
              WHEN b.key IS NULL THEN 'removed'
              WHEN a.cents <> b.cents THEN 'changed'
              ELSE 'same' END AS status
  FROM v1 a FULL OUTER JOIN v2 b ON a.key = b.key
)
SELECT status, CAST(count(*) AS BIGINT) AS n
FROM d WHERE status <> 'same' GROUP BY status
""",
)
def k7_snapshot_version_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit ACROSS PUBLISHED SNAPSHOT VERSIONS: publish v1 and v2 of
    a keyed table through the versioned-snapshot sink (staging +
    atomic rename, ``io/sinks.write_snapshot``), read BOTH back
    as-of, and produce the added/removed/changed ledger — "what did
    last night's run change?" answered from the warehouse itself, no
    upstream logs needed. v2's delta is deterministic (bump every 7th
    key, drop every 13th, add a clone of every 17th) so the ledger is
    oracle-checkable. The diff is one full outer join of two
    snapshot reads; at scale both sides bucket by key."""
    from stakehouse_etl_spark.io.sinks import read_snapshot, write_snapshot

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    v2 = (
        base.filter(F.col("key") % 13 != 0)
        .select(
            "key",
            (
                F.col("cents")
                + F.when(F.col("key") % 7 == 0, 100).otherwise(0)
            ).alias("cents"),
        )
        .unionByName(
            base.filter(F.col("key") % 17 == 0).select(
                (F.col("key") + 1000000).alias("key"), "cents"
            )
        )
    )
    root = tempfile.mkdtemp(prefix="snapdiff_")
    try:
        path = f"{root}/tbl"
        write_snapshot(spark, base, path)
        write_snapshot(spark, v2, path)
        a = read_snapshot(spark, path, 1).select(
            F.col("key").alias("key_a"), F.col("cents").alias("cents_a")
        )
        b = read_snapshot(spark, path, 2).select(
            F.col("key").alias("key_b"), F.col("cents").alias("cents_b")
        )
        d = a.join(b, a["key_a"] == b["key_b"], "full_outer").select(
            F.when(F.col("key_a").isNull(), "added")
            .when(F.col("key_b").isNull(), "removed")
            .when(F.col("cents_a") != F.col("cents_b"), "changed")
            .otherwise("same")
            .alias("status")
        )
        out = (
            d.filter(F.col("status") != "same")
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming top-k leaderboard (foreachBatch merged state)
# ---------------------------------------------------------------------------
LEADER_K = 10


@register(
    "stream_topk_leaderboard",
    oracle=f"""
SELECT event_id, CAST(round("value" * 100) AS BIGINT) AS cents,
       CAST(row_number() OVER (
         ORDER BY CAST(round("value" * 100) AS BIGINT) DESC, event_id
       ) AS BIGINT) AS rnk
FROM events
ORDER BY cents DESC, event_id LIMIT {LEADER_K}
""",
)
def stream_topk_leaderboard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's W4 leaderboard as a STREAMING job: events
    arrive in two micro-batches; ``foreachBatch`` folds each batch's
    local top-{LEADER_K} into a {LEADER_K}-row state table (read state
    → union → retake top-k → atomic overwrite). Correct by the
    mergeable-top-k property proven in ``inc_topk_merge``; state is
    O(k) forever, and history is never re-scanned — the streaming
    leaderboard a 100 TB event feed actually runs. Final state must
    equal the batch top-{LEADER_K} (the oracle)."""
    ev = load_table(spark, sf_dir, "events")

    with tempfile.TemporaryDirectory(
        prefix="stream_topk_", ignore_cleanup_errors=True
    ) as workdir:
        state_dir = os.path.join(workdir, "state")
        src = os.path.join(workdir, "src")
        land_batch(ev.filter(F.col("event_id") % 2 == 0), src, 0)
        land_batch(ev.filter(F.col("event_id") % 2 == 1), src, 1)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def fold_topk(batch: DataFrame, batch_id: int) -> None:
            sp = batch.sparkSession
            part = (
                batch.select(
                    "event_id",
                    F.round(F.col("value") * 100).cast("long").alias("cents"),
                )
                .orderBy(F.desc("cents"), F.asc("event_id"))
                .limit(LEADER_K)
            )
            state = read_existing(sp, state_dir)
            merged = part if state is None else state.unionByName(part)
            top = (
                merged.orderBy(F.desc("cents"), F.asc("event_id"))
                .limit(LEADER_K)
                .collect()  # k rows — bounded driver materialization
            )
            sp.createDataFrame(top, part.schema).write.mode(
                "overwrite"
            ).parquet(state_dir)

        run_stream(stream.writeStream.foreachBatch(fold_topk), workdir)

        final = spark.read.parquet(state_dir)
        w = Window.orderBy(F.desc("cents"), F.asc("event_id"))
        out = final.withColumn("rnk", F.row_number().over(w).cast("long"))
        return spark.createDataFrame(out.collect(), out.schema)
