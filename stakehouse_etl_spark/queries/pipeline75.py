"""Data-pipeline queries, wave 75: span-dedup resolution eval + the
streaming twin of the incremental span scrub.

1. ``dedup_span_recall_eval`` — quantifies the k-gram resolution
   tradeoff of the wave-73 span dedup the same way the LSH tier
   quantified its recall (``dedup_lsh_eval_pr`` / BASELINE.md "Tier
   A/B"): flagged-token agreement between SPAN_K=5 and a coarser k=8
   on the same corpus. The k-gram anchor is EXACT at >= k spans by
   construction, so every position flagged at k=8 must also be
   flagged at k=5 (an 8-token duplicated window contains duplicated
   5-grams at every offset) — the eval turns that invariant into a
   measured containment (expect exactly 1.0) and prices the excess:
   the fraction of k=5 flags a coarser policy would not scrub.

2. ``stream_span_scrub`` — ``dedup_span_incremental`` is the batch
   form of the steady-state loop; this wires it through a file-source
   stream + ``foreachBatch`` (the ``stream_incremental_dedup``
   pattern): three doc_id-tercile micro-batches arrive in order, each
   is scrubbed against the STORED corpus gram index
   (``span_scrub_against_index``), and the index is maintained as one
   distinct-merge per batch. Because tercile order == doc_id order,
   the 3-batch streamed output must equal the global keep-first scrub
   (``corpus_span_scrub``) row-for-row — the stream==batch oracle
   pattern the repo already uses (``stream_cdc_apply``).

Scale shape: the eval is two runs of the wave-73 gram pipeline (each
linear shuffles keyed on gram / doc_id) plus one sort-merge full-outer
join of the two exploded position sets — MERGE-pinned, same
explode-after-stats AQE trap as the scrub anti-join (pipeline73.py).
The stream maintains the gram index incrementally: per-batch cost is
batch-sized (probe of a stored index), never corpus×corpus.

Reference anchor: the reference has no substring dedup or streaming;
this extends the training-data-pipeline layer (Lee et al. 2021
policy; reference parity tier contract at operators/dedup.py:373).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.queries.pipeline73 import (
    _GRAMS_CTE,
    _ISLANDS_SQL,
    _TOKS_CTE,
    SPAN_K,
    _dup_positions,
    _merge_islands,
    _positional_grams,
    span_scrub_against_index,
)
from stakehouse_etl_spark.queries.registry import register

# The coarser resolution the eval compares against SPAN_K (=5). 8 is
# past the synthetic docs' median boilerplate length, so the excess
# fraction is non-trivial at every rung.
SPAN_K_ALT = 8


def _covered_cte_sql(k: int, sfx: str) -> str:
    """Full per-k CTE chain: positional grams -> cross-doc duplicated
    grams -> islands merge -> exploded covered positions. Mirrors the
    wave-73 CTEs verbatim with suffixed names so two resolutions can
    coexist in one statement."""
    return f"""
g{sfx} AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         md5(array_to_string(toks[u.i + 1 : u.i + {k}], ' ')) AS gram
  FROM t, LATERAL (
    SELECT unnest(range(0, greatest(len(toks) - {k} + 1, 0))) AS i
  ) u
),
dup{sfx} AS (
  SELECT gram FROM g{sfx} GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
),
occ{sfx} AS (SELECT doc_id, pos FROM g{sfx} JOIN dup{sfx} USING (gram)),
o2{sfx} AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS ppos
  FROM occ{sfx}
),
isl{sfx} AS (
  SELECT doc_id, pos,
         sum(CASE WHEN ppos IS NOT NULL AND pos > ppos + {k}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM o2{sfx}
),
sp{sfx} AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {k} - 1 AS e
  FROM isl{sfx} GROUP BY 1, 2
),
cov{sfx} AS (
  SELECT sp{sfx}.doc_id, CAST(u.p AS BIGINT) AS p
  FROM sp{sfx}, LATERAL (SELECT unnest(range(s, e + 1)) AS p) u
)
"""


@register(
    "dedup_span_recall_eval",
    oracle=f"""
WITH {_TOKS_CTE},
{_covered_cte_sql(SPAN_K, "5")},
{_covered_cte_sql(SPAN_K_ALT, "8")},
j AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         a.p AS p5, b.p AS p8
  FROM cov5 a FULL JOIN cov8 b ON a.doc_id = b.doc_id AND a.p = b.p
),
per_doc AS (
  SELECT doc_id,
         count(p5) AS n5, count(p8) AS n8,
         sum(CASE WHEN p5 IS NOT NULL AND p8 IS NOT NULL
                  THEN 1 ELSE 0 END) AS nb
  FROM j GROUP BY doc_id
),
tok_cnt AS (SELECT doc_id, len(toks) AS n_tok FROM t)
SELECT d.source,
       CAST(sum(tc.n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(coalesce(pd.n5, 0)) AS BIGINT) AS flagged_k5,
       CAST(sum(coalesce(pd.n8, 0)) AS BIGINT) AS flagged_k8,
       CAST(sum(coalesce(pd.nb, 0)) AS BIGINT) AS flagged_both,
       CASE WHEN sum(coalesce(pd.n8, 0)) > 0
            THEN CAST(sum(coalesce(pd.nb, 0)) AS DOUBLE)
                 / sum(coalesce(pd.n8, 0))
            ELSE NULL END AS containment_k8_in_k5,
       CASE WHEN sum(coalesce(pd.n5, 0)) > 0
            THEN CAST(sum(coalesce(pd.n5, 0)) - sum(coalesce(pd.nb, 0))
                      AS DOUBLE) / sum(coalesce(pd.n5, 0))
            ELSE NULL END AS excess_frac_k5
FROM documents d
JOIN tok_cnt tc ON tc.doc_id = d.doc_id
LEFT JOIN per_doc pd ON pd.doc_id = d.doc_id
GROUP BY d.source
""",
)
def dedup_span_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source agreement between the k=5 and k=8 span-dedup
    policies: token positions covered by cross-document duplicated
    spans at each resolution, their intersection, the k8-in-k5
    containment (exactly 1.0 by the k-gram anchor construction — the
    eval MEASURES the invariant instead of asserting it), and the
    excess fraction k=5 scrubs beyond k=8 (the price of the finer
    resolution, the number a deployment tunes SPAN_K with)."""
    docs = load_table(spark, sf_dir, "documents")

    def covered(k: int, t_out: list) -> DataFrame:
        t, g = _positional_grams(docs, k)
        t_out.append(t)
        # r11: duplicated-gram occurrences via one window over the
        # gram shuffle (pipeline73._dup_positions) — replaces the
        # count_distinct aggregate + gram-keyed MERGE join back.
        return _merge_islands(_dup_positions(g, k), k).select(
            "doc_id", F.explode(F.sequence("s", "e")).alias("p")
        )

    ts: list = []
    cov5 = covered(SPAN_K, ts)
    cov8 = covered(SPAN_K_ALT, ts).select(
        F.col("doc_id").alias("doc8"), F.col("p").alias("p8")
    )
    # MERGE pin: both sides are exploded covered positions (row-scale)
    # while AQE sizes the join from PRE-explode island stats — the
    # same broadcast-at-scale trap the wave-73 anti-join hit at sf10.
    j = cov5.hint("MERGE").join(
        cov8,
        (cov5["doc_id"] == cov8["doc8"]) & (cov5["p"] == cov8["p8"]),
        "full_outer",
    )
    per_doc = j.groupBy(
        F.coalesce(F.col("doc_id"), F.col("doc8")).alias("doc_id")
    ).agg(
        F.count("p").alias("n5"),
        F.count("p8").alias("n8"),
        F.sum(
            F.when(F.col("p").isNotNull() & F.col("p8").isNotNull(), 1)
            .otherwise(0)
        ).alias("nb"),
    )
    tok_cnt = ts[0].select("doc_id", F.size("toks").alias("n_tok"))
    n5 = F.sum(F.coalesce(F.col("n5"), F.lit(0)))
    n8 = F.sum(F.coalesce(F.col("n8"), F.lit(0)))
    nb = F.sum(F.coalesce(F.col("nb"), F.lit(0)))
    return (
        docs.select("doc_id", "source")
        .join(tok_cnt, "doc_id")
        .join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("n_tokens"),
            n5.cast("long").alias("flagged_k5"),
            n8.cast("long").alias("flagged_k8"),
            nb.cast("long").alias("flagged_both"),
            F.when(n8 > 0, nb.cast("double") / n8)
            .otherwise(F.lit(None).cast("double"))
            .alias("containment_k8_in_k5"),
            F.when(n5 > 0, (n5 - nb).cast("double") / n5)
            .otherwise(F.lit(None).cast("double"))
            .alias("excess_frac_k5"),
        )
    )


# Shared by the plain and bucketed-index streaming arms: the streamed
# output must hash-equal corpus_span_scrub plus the tercile batch_no.
_STREAM_SPAN_SQL = f"""
WITH {_TOKS_CTE}, {_GRAMS_CTE},
firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
occ AS (
  SELECT doc_id, pos FROM g JOIN firsts USING (gram)
  WHERE first_doc < doc_id
),
{_ISLANDS_SQL},
cov AS (
  SELECT sp.doc_id, CAST(u.p AS BIGINT) AS p
  FROM sp, LATERAL (SELECT unnest(range(s, e + 1)) AS p) u
),
tok AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS tpos, toks[u.i + 1] AS tok
  FROM t, LATERAL (SELECT unnest(range(0, len(toks))) AS i) u
),
kept AS (
  SELECT k.doc_id, k.tpos, k.tok
  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.tpos = c.p
  WHERE c.p IS NULL
),
reb AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY tpos)) AS cleaned_fp
  FROM kept GROUP BY doc_id
),
lim AS (SELECT max(doc_id) AS mx FROM documents)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_scrubbed,
       r.cleaned_fp AS cleaned_fp,
       CAST(CASE WHEN t.doc_id <= (SELECT mx // 3 FROM lim) THEN 1
                 WHEN t.doc_id <= (SELECT 2 * mx // 3 FROM lim) THEN 2
                 ELSE 3 END AS INT) AS batch_no
FROM t LEFT JOIN reb r USING (doc_id)
"""


@register(
    "stream_span_scrub",
    oracle=_STREAM_SPAN_SQL,
)
def stream_span_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span dedup as a STREAM: three doc_id-tercile micro-batches flow
    through a file source; ``foreachBatch`` scrubs each against the
    stored corpus gram index and then merges the batch's distinct
    grams into the index — the steady-state ingest loop of
    ``dedup_span_incremental``, with the index maintenance made
    explicit instead of derived inline.

    Because batches arrive in doc_id order, "gram in the index OR
    first-claimed by a smaller doc_id within the batch" is exactly the
    global keep-first predicate (first claimant = min doc_id), so the
    streamed 3-batch output must hash-equal ``corpus_span_scrub`` on
    every column; the oracle is that query's SQL plus the tercile
    batch_no. Index growth is one distinct-merge per batch (the
    ``incremental_minhash_dedup`` band-index pattern,
    operators/dedup.py:616)."""
    import os
    import tempfile

    from stakehouse_etl_spark.streaming.staging import (
        run_stream,
        stage_id_range_batches,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    with tempfile.TemporaryDirectory(
        prefix="stream_span_", ignore_cleanup_errors=True
    ) as workdir:
        # Shared scaffold (streaming/staging.py): one mtime-ordered
        # single-file chunk per intended micro-batch (the oracle's
        # tercile batch_no CASE is written for the default 3;
        # SPARK_GRAFT_STREAM_BATCHES serves the long-horizon fuzz
        # harness only).
        src = stage_id_range_batches(docs, workdir)
        out_dir = os.path.join(workdir, "out")
        idx_dir = os.path.join(workdir, "gram_index")

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            # batch_no derives from the engine's batch_id (0-based,
            # deterministic, stable across micro-batch retries) — a
            # mutable closure counter would double-increment on a
            # foreachBatch re-execution. Writes are idempotent for the
            # same reason: each batch OVERWRITES its own bid=<id>
            # subdirectory (hive-style, so the parent-dir read below
            # still sees one logical table) instead of appending.
            s = batch_df.sparkSession
            # Batch 0 runs before any index write, so only the
            # PATH-MISSING case may fall back to an empty index; any
            # other read failure (corrupt file, partition-inference
            # error on the bid= layout) must propagate — a swallowed
            # error here silently yields unscrubbed output that only
            # the offline oracle gate would notice (ADVICE r7).
            if os.path.exists(idx_dir):
                # Exclude bid >= batch_id from the probe: on a
                # micro-batch RE-execution the batch's own grams are
                # already committed under bid=<batch_id>, and probing
                # them would scrub the whole batch against itself
                # (every >=SPAN_K window "already claimed"). The
                # strict filter makes the retry read the exact index
                # state the first execution saw (review r7).
                idx = (
                    s.read.parquet(idx_dir)
                    .filter(F.col("bid") < int(batch_id))
                    .select("gram")
                )
            else:
                idx = s.createDataFrame([], "gram string")
            # cache_scope: span_scrub_against_index persists the
            # batch's positional-gram frames; on a long horizon (r8:
            # 9-batch fuzz) the per-batch persists must release at
            # batch end instead of accumulating on the streaming
            # thread until session teardown.
            from stakehouse_etl_spark.caches import cache_scope
            from stakehouse_etl_spark.queries.pipeline73 import (
                _positional_grams as _pg,
            )

            with cache_scope():
                scrubbed = span_scrub_against_index(
                    idx, batch_df
                ).withColumn("batch_no", F.lit(int(batch_id) + 1))
                scrubbed.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"bid={int(batch_id)}")
                )
                # Distinct-merge the batch's ORIGINAL grams into the
                # index (keep-first claims come from original text,
                # scrubbed or not — matching the global firsts =
                # min(doc_id) oracle). NEW grams only (r9): grams
                # already claimed in an earlier batch add nothing to
                # the presence predicate but were previously stored
                # again every batch, growing the index — and the
                # per-batch probe that scans it — past the global-
                # distinct floor. The anti-join reads the same
                # pre-batch index state as the probe (bid < batch_id),
                # so a micro-batch retry lands an identical chunk.
                _, gb = _pg(batch_df)
                gb.select("gram").distinct().join(
                    idx.hint("MERGE"), "gram", "left_anti"
                ).write.mode(
                    "overwrite"
                ).parquet(os.path.join(idx_dir, f"bid={int(batch_id)}"))

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream(stream.writeStream.foreachBatch(apply_batch), workdir)
        out = spark.read.parquet(out_dir).select(
            "doc_id", "n_tokens", "n_kept", "n_scrubbed", "cleaned_fp",
            "batch_no",
        )
        return spark.createDataFrame(out.collect(), out.schema)


def _compact_every() -> int:
    """Compaction cadence for the bucketed gram index (batches)."""
    import os

    return int(os.environ.get("SPARK_GRAFT_SPAN_COMPACT_EVERY", "8"))


def _compact_gram_index(s, tbl: str, bno0: int, workdir: str) -> None:
    """TIERED fold (r10): rewrite only the POSITIVE pre-batch
    generations (``0 <= bid < bno0`` — landed since the last
    compaction) into one ``bid = -bno0`` partition and drop them,
    leaving prior compacted (negative-bid) runs untouched. Each
    compaction event then costs ~K batch-sizes of IO regardless of
    total state; the r9 full-rewrite form re-folded the whole index
    every event, so its spikes grew with state (the plain-index twin
    measured 7.1 s → 29.8 s across a 40-batch horizon before the same
    fix, datapipe._compact_plain_index).

    Ordering makes every crash point safe for a presence-set index
    probed by semi/anti joins (duplicates are inert): the compacted
    generation is fully committed before any original is dropped, a
    torn compacted partition is a subset of the still-present
    originals, and a compaction retry recomputes from whatever
    remains (an empty refold re-overwrites ``bid=-bno0`` with a subset
    — only if the originals were already dropped, in which case the
    dynamic-partition overwrite of an identical-content partition is a
    no-op in effect). The temp-parquet bounce exists because Spark
    refuses an ``insertInto`` whose source reads the table being
    overwritten.
    """
    import os

    import shutil

    # Retry guard: if a previous execution already dropped the
    # positive generations, re-inserting an empty fold would ERASE the
    # committed -bno0 partition (dynamic overwrite replaces it).
    # Sweep fold tmps left by prior torn runs (ADVICE r10): a crash
    # after writing comp_tmp but before the insertInto leaves the dir
    # behind, and both the early-return below and the normal path's
    # cleanup only handle the CURRENT fold — without this, torn
    # crash/retry cycles accumulate one stale dir per fold for the
    # run's lifetime. Their content is always derivable (originals are
    # only dropped after the fold is committed into the table), so
    # dropping them loses nothing.
    import glob as _glob

    for stale in _glob.glob(os.path.join(workdir, "compact_*")):
        try:
            if int(os.path.basename(stale).split("_", 1)[1]) <= bno0:
                shutil.rmtree(stale, ignore_errors=True)
        except ValueError:
            continue
    positives = [
        int(str(row[0]).split("=", 1)[1])
        for row in s.sql(f"SHOW PARTITIONS {tbl}").collect()
    ]
    if not any(0 <= b < bno0 for b in positives):
        return
    comp_tmp = os.path.join(workdir, f"compact_{bno0}")
    s.table(tbl).filter(
        (F.col("bid") >= 0) & (F.col("bid") < bno0)
    ).select("gram").unionByName(
        # Fold the previous target too if a torn retry left it behind
        # alongside surviving positives (subset-safe either way).
        s.table(tbl).filter(F.col("bid") == -bno0).select("gram")
    ).distinct().write.mode("overwrite").parquet(comp_tmp)
    s.read.parquet(comp_tmp).withColumn(
        "bid", F.lit(-bno0)
    ).select("gram", "bid").write.insertInto(tbl, overwrite=True)
    for row in s.sql(f"SHOW PARTITIONS {tbl}").collect():
        b = int(str(row[0]).split("=", 1)[1])
        if 0 <= b < bno0:
            s.sql(f"ALTER TABLE {tbl} DROP IF EXISTS PARTITION (bid={b})")
            # EXTERNAL table: DROP PARTITION only removes the catalog
            # entry and RETAINS the data files, so without this rmtree
            # a long-horizon run accumulates every dropped generation
            # on disk alongside its compacted copy.
            shutil.rmtree(
                os.path.join(workdir, "idx_tbl", f"bid={b}"),
                ignore_errors=True,
            )
    shutil.rmtree(comp_tmp, ignore_errors=True)


@register(
    "stream_span_scrub_bucketed",
    oracle=_STREAM_SPAN_SQL,
)
def stream_span_scrub_bucketed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``stream_span_scrub`` with the stored gram index landed as a
    BUCKETED catalog table (``bucketBy(gram)``, partitioned by
    ``bid``) instead of plain parquet — the escalation the 20-batch
    fuzz motivated (PLANS.md Round-9): against a plain-parquet index,
    every per-batch probe join SHUFFLES the whole stored index (the
    one remaining O(state) term); a bucketed scan reports
    ``HashPartitioning(gram, B)``, so the MERGE semi-join shuffles
    ONLY the batch side (verified: 1 Exchange in the probe plan vs 2
    for the plain arm). At 100 TB this is the difference between
    re-shuffling the whole claimed-gram history per micro-batch and
    paying a scan+local-sort of it.

    Retry idempotence moves from overwrite-my-subdir to DYNAMIC
    PARTITION OVERWRITE: after the table exists, each batch
    ``insertInto(overwrite=True)`` replaces exactly its own ``bid``
    partition, so a micro-batch re-execution lands an identical
    partition (the anti-join reads the same ``bid < batch_id`` state
    the first execution saw). Value-identical to ``stream_span_scrub``
    — same oracle, same output schema.

    COMPACTION (r9, sf30 20-batch finding): each batch adds one file
    per bucket, and the probe's sort-merge re-sorts k files/bucket —
    a +1.8%/batch local-sort term at the long horizon. Every
    ``SPARK_GRAFT_SPAN_COMPACT_EVERY`` batches (default 8) the
    pre-batch generations are rewritten into ONE negative-bid
    partition and the originals dropped. Crash-safe at every step
    because the index is a PRESENCE set probed by semi/anti joins:
    duplicate grams cannot fan out or change any result, so the
    ordering (write the compacted generation, only then drop the
    originals) can die anywhere and leave a correct — merely larger —
    index; the compacted bid is ``-batch_id``, strictly below every
    probe's ``bid < batch_id`` filter, and covers only PRE-batch bids
    so a re-executed batch never probes its own grams."""
    import tempfile
    import uuid

    tbl = f"gram_idx_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory(
        prefix="stream_span_bkt_", ignore_cleanup_errors=True
    ) as workdir:
        try:
            out = span_scrub_bucketed_run(spark, sf_dir, workdir, tbl)
            return spark.createDataFrame(out.collect(), out.schema)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _ensure_gram_table(spark: SparkSession, tbl: str, workdir: str) -> None:
    """Re-register the landed EXTERNAL bucketed gram index in a fresh
    session — the local stand-in for the persistent metastore a real
    deployment has. A restarted driver (r10 crash-resume exercise)
    gets a new in-memory catalog, but the index DATA (bucketed parquet
    under ``workdir/idx_tbl``) survived; declaring the same schema +
    bucketing over the surviving location and recovering partitions
    restores exactly the table the crashed session had."""
    import os

    idx_path = os.path.join(workdir, "idx_tbl")
    if spark.catalog.tableExists(tbl) or not os.path.isdir(idx_path):
        return
    spark.sql(
        f"CREATE TABLE {tbl} (gram STRING, bid INT) USING parquet "
        f"PARTITIONED BY (bid) "
        f"CLUSTERED BY (gram) SORTED BY (gram) INTO 32 BUCKETS "
        f"LOCATION '{idx_path}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {tbl}")


def span_scrub_bucketed_run(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    tbl: str,
    fail_mid_batch: int | None = None,
) -> DataFrame:
    """Resumable core of ``stream_span_scrub_bucketed``: all state —
    staged source, streaming checkpoint, scrubbed output, landed index
    — lives under the caller's ``workdir``, and a fresh session
    re-registers the surviving index table, so a run killed mid-batch
    resumes from the checkpoint and must produce output hash-identical
    to an uninterrupted run (tools/stream_resume.py exercises exactly
    that at sf10; the caller owns teardown).

    ``fail_mid_batch``: crash injection — raise inside that batch_id
    AFTER the scrubbed-output write but BEFORE the index landing (the
    torn mid-batch state the dynamic-partition-overwrite retry path
    exists for)."""
    import os

    from stakehouse_etl_spark.streaming.staging import (
        run_stream,
        stage_id_range_batches,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        _ensure_gram_table(spark, tbl, workdir)
        src = stage_id_range_batches(docs, workdir)
        out_dir = os.path.join(workdir, "out")

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            s = batch_df.sparkSession
            if s.catalog.tableExists(tbl):
                idx = (
                    s.table(tbl)
                    .filter(F.col("bid") < int(batch_id))
                    .select("gram")
                )
            else:
                idx = s.createDataFrame([], "gram string")
            from stakehouse_etl_spark.caches import cache_scope
            from stakehouse_etl_spark.queries.pipeline73 import (
                _positional_grams as _pg,
            )

            with cache_scope():
                scrubbed = span_scrub_against_index(
                    idx, batch_df
                ).withColumn("batch_no", F.lit(int(batch_id) + 1))
                scrubbed.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"bid={int(batch_id)}")
                )
                if fail_mid_batch is not None and int(batch_id) == int(
                    fail_mid_batch
                ):
                    raise RuntimeError(
                        f"injected mid-batch crash at batch {batch_id}: "
                        f"output committed, index NOT landed"
                    )
                _, gb = _pg(batch_df)
                new_grams = (
                    gb.select("gram")
                    .distinct()
                    .join(idx.hint("MERGE"), "gram", "left_anti")
                    .withColumn("bid", F.lit(int(batch_id)))
                )
                if not s.catalog.tableExists(tbl):
                    # EXTERNAL table under the query's own tempdir:
                    # the default managed location is the session's
                    # warehouse dir (the DRIVER's cwd), which this
                    # query must not assume writable.
                    new_grams.write.partitionBy("bid").bucketBy(
                        32, "gram"
                    ).sortBy("gram").option(
                        "path", os.path.join(workdir, "idx_tbl")
                    ).mode("overwrite").saveAsTable(tbl)
                else:
                    # Positional insert: column order must match the
                    # table (gram, then the bid partition column).
                    new_grams.select("gram", "bid").write.insertInto(
                        tbl, overwrite=True
                    )
                bno0 = int(batch_id)
                if bno0 > 0 and bno0 % _compact_every() == 0:
                    _compact_gram_index(s, tbl, bno0, workdir)

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # Surfaces a foreachBatch failure (the injected crash, or any
        # real one) as an exception.
        run_stream(stream.writeStream.foreachBatch(apply_batch), workdir)
        return spark.read.parquet(out_dir).select(
            "doc_id", "n_tokens", "n_kept", "n_scrubbed", "cleaned_fp",
            "batch_no",
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )
