"""Data-pipeline queries, wave 73: maximal duplicated-span detection.

The substring-granular dedup stage of an LLM training-data pipeline
(Lee et al. 2021, "Deduplicating Training Data Makes Language Models
Better"): instead of doc-level (MinHash tiers) or fixed-chunk
(``corpus_passage_dedup``) decisions, find the MAXIMAL token spans
that are duplicated across documents, inventory them per document,
and scrub all but the first-claimant occurrence.

The exact suffix-array construction of the paper is replaced by a
k-token-gram anchor equivalent that Spark can run as three linear
shuffles: any duplicated span of length >= k is covered by duplicated
k-grams at every offset inside it, so merging adjacent duplicated
k-gram positions (classic islands pass, per-document window)
reconstructs exactly the maximal duplicated regions at k-token
resolution — no pairwise doc join, no suffix array.

Three queries: the per-doc span inventory, the corpus-wide keep-first
scrub, and the incremental form (a new batch scrubbed against the
stored corpus gram index — the shape a steady-state ingest loop
actually runs).

Scale shape (100 TB): positional grams are one explode (k*n work per
doc, expression-level); the gram frequency table is one hash shuffle
on the gram fingerprint (high cardinality, even); the join back is a
second shuffle reusing that key; the islands window partitions by
doc_id — row-parallel, never a global window. Reference anchor for
the dedup-tier contract: operators/dedup.py:373 (tier ladder notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.storagelevel import StorageLevel

from stakehouse_etl_spark.caches import persist_tracked
from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.text import fan_out, tokens
from stakehouse_etl_spark.queries.registry import register

# Span resolution: a duplicated region is reported iff it spans at
# least SPAN_K whitespace tokens (the paper uses 50 BPE tokens at web
# scale; 5 keeps sf0.01 spans non-degenerate on ~60-token synthetic
# docs while exercising the identical plan).
SPAN_K = 5

_TOKS_CTE = """
t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
)
"""

# Positional k-grams: pos is 0-based; DuckDB list slicing is 1-based
# inclusive, so gram at pos i covers toks[i+1 .. i+K].


def _grams_cte_sql(k: int, name: str = "g") -> str:
    """The positional-gram CTE at an arbitrary resolution ``k`` (the
    recall eval compares two k's on one corpus; everything else uses
    the SPAN_K default via the module constant below)."""
    return f"""
{name} AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         md5(array_to_string(toks[u.i + 1 : u.i + {k}], ' ')) AS gram
  FROM t, LATERAL (
    SELECT unnest(range(0, greatest(len(toks) - {k} + 1, 0))) AS i
  ) u
)
"""


_GRAMS_CTE = _grams_cte_sql(SPAN_K)

# Islands pass over duplicated gram positions: intervals [pos, pos+K-1]
# sorted by pos merge iff the next start is within K of the previous
# (fixed-length intervals => lag alone is exact; no running-max
# needed). sum() OVER defaults to UNBOUNDED PRECEDING..CURRENT ROW in
# both engines, and pos is unique per doc so RANGE == ROWS.
_ISLANDS_SQL = f"""
o2 AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS ppos
  FROM occ
),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN ppos IS NOT NULL AND pos > ppos + {SPAN_K}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM o2
),
sp AS (
  SELECT doc_id, island,
         min(pos) AS s, max(pos) + {SPAN_K} - 1 AS e
  FROM isl GROUP BY 1, 2
)
"""


def _positional_grams(
    docs: DataFrame, k: int = SPAN_K
) -> tuple[DataFrame, DataFrame]:
    """(per-doc token frame, exploded (doc_id, pos, gram) frame).

    The gram is an md5 fingerprint of the ``k``-token window starting
    at 0-based ``pos`` — reproduced verbatim in the oracle CTE above.
    """
    t = fan_out(docs).select(
        "doc_id",
        F.filter(tokens(F.col("text")), lambda x: x != "").alias("toks"),
    )
    n = F.size("toks")
    # sequence(0, -1) would generate a DESCENDING range for docs
    # shorter than K tokens — guard to an empty array instead.
    # Shifted-slice construction (r10), NOT slice-inside-transform:
    # `transform(sequence(0, n-k), i -> slice(toks, i+1, k))` copies k
    # elements from the FULL array per window through an interpreted
    # lambda — O(n·k) copies plus per-element overhead that measured
    # O(n²)-shaped on long documents (one 5000-token doc cost 3.5× the
    # same gram count spread over 50 short docs; the zipf lognormal
    # length tail turned that into the dominant ladder term). Zipping
    # k shifted slices builds each window by position — the same fix
    # as operators/text.shingles (round-6 sf10 fuzz).
    n_out = n - (k - 1)
    zipped = F.arrays_zip(
        *[
            F.slice(F.col("toks"), j + 1, n_out).alias(f"w{j}")
            for j in range(k)
        ]
    )
    gram_structs = F.when(
        n >= k,
        F.transform(
            zipped,
            lambda x, i: F.struct(
                i.cast("long").alias("pos"),
                F.md5(
                    F.concat_ws(
                        " ", *[x[f"w{j}"] for j in range(k)]
                    )
                ).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,gram:string>>"))
    g = t.select("doc_id", F.explode(gram_structs).alias("g")).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram")
    )
    return t, g


def _dup_positions(g: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, pos) of grams occurring in >= 2 DISTINCT documents.

    r11 (guide §2.4 — remove shuffles outright): a gram is
    cross-document duplicated iff ``min(doc_id) != max(doc_id)``
    within its gram group, so ONE window over the gram-keyed shuffle
    replaces the former two-phase count_distinct aggregate PLUS the
    gram-keyed sort-merge join back (g was shuffled twice: once
    projected into the dup-set build, once for the join). The window
    sorts by gram exactly where the SMJ sorted anyway; a hot gram
    group buffers in WindowExec's spillable row buffer — the same
    bounded-memory story as the MERGE join it replaces. Profiled at
    sf0.1: the dup-agg stages (two exchanges) and the SMJ vanish from
    the plan; g drops to a single consumer so its DISK_ONLY persist
    (a corpus-scale cache write) goes too.
    """
    wg = Window.partitionBy("gram")
    return (
        g.withColumn("__mn", F.min("doc_id").over(wg))
        .withColumn("__mx", F.max("doc_id").over(wg))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("doc_id", "pos")
    )


def _later_claimant_positions(g: DataFrame) -> DataFrame:
    """(doc_id, pos) of gram occurrences whose gram was first claimed
    by a LOWER doc_id (the keep-first scrub's occ set).

    r11: ``min(doc_id) OVER (PARTITION BY gram) < doc_id`` — one
    window on the gram shuffle replaces the firsts aggregate + the
    gram-keyed MERGE join back (same argument as
    :func:`_dup_positions`; the r8 broadcast-OOM class the MERGE pin
    guarded against cannot arise at all without the join).
    """
    wg = Window.partitionBy("gram")
    return (
        g.withColumn("__first", F.min("doc_id").over(wg))
        .filter(F.col("__first") < F.col("doc_id"))
        .select("doc_id", "pos")
    )


def _merge_islands(occ: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Merge duplicated gram positions into maximal spans [s, e].

    Fixed-length intervals sorted by start merge iff the next start is
    <= previous start + K, so a lag-based break flag is exact (the
    generic islands running-max is unnecessary). The window partitions
    by doc_id — per-document, row-parallel at any scale.
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0)
    return (
        occ.withColumn("island", F.sum(brk).over(w))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + k - 1).alias("e"),
        )
    )


@register(
    "dedup_span_inventory",
    bench=True,
    oracle=f"""
WITH {_TOKS_CTE}, {_GRAMS_CTE},
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
occ AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
{_ISLANDS_SQL},
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
         CAST(max(e - s + 1) AS BIGINT) AS max_span_len
  FROM sp GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(a.max_span_len, 0) AS BIGINT) AS max_span_len,
       CASE WHEN len(t.toks) > 0
            THEN CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(t.toks)
            ELSE CAST(0 AS DOUBLE) END AS dup_frac
FROM t LEFT JOIN agg a USING (doc_id)
""",
)
def dedup_span_inventory_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document inventory of MAXIMAL cross-document duplicated
    token spans at SPAN_K-gram resolution: how many distinct
    duplicated regions, how many tokens they cover, and the longest.

    A gram is duplicated iff it occurs in >= 2 DISTINCT documents
    (within-doc repetition is repetition, not duplication — that is
    ``text_repetition_metrics``'s lane). Adjacent/overlapping
    duplicated gram positions merge into maximal spans, so a 40-token
    boilerplate block shared by two docs reports as ONE span of ~40
    tokens, not 36 overlapping grams — the signal doc-level and
    fixed-chunk dedup both miss.
    """
    docs = load_table(spark, sf_dir, "documents")
    t, g = _positional_grams(docs)
    # t feeds both the gram pipeline and the final n_tokens join —
    # persist it or the corpus re-scans and re-tokenizes for the
    # closing join (review r5; the scrub query persists the same way).
    # DISK_ONLY (r9): t carries full token arrays — corpus-scale;
    # memory-first blocks of that size squeeze the unified pool at
    # sf30 (the execution side then spill-churns every gram shuffle).
    # g is NOT persisted since r11: the window rewrite below leaves it
    # exactly one consumer, so caching it would only add a corpus-
    # scale DISK write for nothing.
    t = persist_tracked(t, level=StorageLevel.DISK_ONLY)
    # r11 (guide §2.4): duplicated-gram detection as ONE window pass —
    # see _dup_positions. Before: a two-phase count_distinct aggregate
    # over g plus a gram-keyed SMJ back onto g (g shuffled twice, plus
    # its DISK_ONLY cache written and read twice).
    spans = _merge_islands(_dup_positions(g))
    agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + 1).cast("long").alias("max_span_len"),
    )
    n_tokens = F.size("toks").cast("long")
    return (
        t.select("doc_id", n_tokens.alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.coalesce(F.col("max_span_len"), F.lit(0))
            .cast("long")
            .alias("max_span_len"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def _scrub_tail(t: DataFrame, occ: DataFrame) -> DataFrame:
    """Shared scrub tail: duplicated gram positions ``occ`` → merged
    spans, collected per doc → complement-interval slicing of the
    doc's own token array → fingerprint. One row per doc of ``t``;
    docs scrubbed to nothing get ``cleaned_fp = NULL`` (matching the
    oracle's empty-group left join).

    r11 restructure (guide §2.3/§8 — decide with small rows, move the
    heavy bytes once): the previous tail posexploded every token of
    every document, shuffled the token-scale rows TWICE (an anti-join
    on (doc, pos) against the exploded covered positions, then a
    collect_list re-assembly groupBy with a per-doc sort), with a
    third position-scale explode feeding the anti-join's build side.
    But the scrub DECISION per document is just its merged-span list
    — a handful of (s, e) longs — while the token arrays already sit
    intact in ``t``. So: aggregate the spans per doc (island output
    is already doc_id-partitioned — no exchange), MERGE-join the tiny
    span table onto ``t`` (ONE doc-keyed shuffle of the token arrays,
    replacing two token-scale shuffles + one position-scale one), and
    rebuild each doc map-side by slicing the COMPLEMENT intervals out
    of its token array — O(n_tokens) copies per doc, order-preserving
    by construction, no per-token membership test (the interpreted-HOF
    O(n²) trap r10 removed from _positional_grams stays dead).

    MERGE pin on the span side: it is doc-scale (one row per
    span-carrying doc) — the r5/r8 class where compressed stats
    sneak a corpus-scale table under the broadcast threshold; the
    spilling sort-merge arm is bounded at any scale.
    """
    spans = (
        _merge_islands(occ)
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("s", "e"))
            ).alias("__spans")
        )
        .hint("MERGE")
    )
    toks = F.col("toks")
    n = F.size(toks).cast("long")
    sp = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<s:bigint,e:bigint>>"),
    )
    # Complement intervals of the (sorted, disjoint) spans over
    # [0, n): starts = 0 ++ (e_i + 1), ends(exclusive) = s_i ++ n.
    # Degenerate segments (start == end) slice to empty arrays.
    starts = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(sp, lambda s: s["e"] + 1),
    )
    ends = F.concat(F.transform(sp, lambda s: s["s"]), F.array(n))
    kept_toks = F.flatten(
        F.zip_with(
            starts,
            ends,
            lambda b, e: F.slice(
                toks, b + 1, F.greatest(e - b, F.lit(0).cast("long"))
            ),
        )
    )
    # Materialize the kept-token array in its own projection: the
    # flatten/zip_with subtree is interpreted (no codegen CSE), and
    # four references below would evaluate it four times otherwise
    # (the same single-binding rule as quality_features' __toks).
    n_kept = F.size("__kept").cast("long")
    return (
        t.join(spans, "doc_id", "left")
        .withColumn("__kept", kept_toks)
        .select(
            "doc_id",
            n.alias("n_tokens"),
            n_kept.alias("n_kept"),
            (n - n_kept).alias("n_scrubbed"),
            F.when(
                n_kept > 0, F.md5(F.array_join("__kept", " "))
            ).alias("cleaned_fp"),
        )
    )


@register(
    "corpus_span_scrub",
    oracle=f"""
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
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_scrubbed,
       r.cleaned_fp AS cleaned_fp
FROM t LEFT JOIN reb r USING (doc_id)
""",
)
def corpus_span_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first span scrub: every maximal duplicated span is removed
    from all documents EXCEPT the gram's first claimant (min doc_id —
    ingestion order), and the surviving text is fingerprinted.

    This is the paper's dedup policy (keep one occurrence of each
    duplicated substring, drop the rest) expressed corpus-wide in four
    linear shuffles: gram -> first claimant, join-back filtered to
    later claimants, per-doc islands merge, and an anti-join of token
    positions against the exploded covered ranges. Reassembly is
    order-explicit (sorted by token position), never collect arrival
    order. Docs that survive intact keep ``n_scrubbed = 0`` and a
    fingerprint of their full normalized token stream.
    """
    docs = load_table(spark, sf_dir, "documents")
    t, g = _positional_grams(docs)
    # DISK_ONLY (r9): t carries corpus-scale token arrays and feeds
    # two consumers (the gram build and the scrub-tail join). g is
    # unpersisted since r11: the keep-first window leaves it a single
    # consumer (see _later_claimant_positions — the firsts aggregate
    # + gram-keyed MERGE join it replaces were g's second and third).
    t = persist_tracked(t, level=StorageLevel.DISK_ONLY)
    return _scrub_tail(t, _later_claimant_positions(g))


@register(
    "dedup_span_incremental",
    oracle=f"""
WITH {_TOKS_CTE}, {_GRAMS_CTE},
ci AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
fb AS (
  SELECT gram, min(doc_id) AS first_b
  FROM g WHERE doc_id % 2 = 1 GROUP BY gram
),
occ AS (
  SELECT g.doc_id, g.pos
  FROM g
  LEFT JOIN ci ON g.gram = ci.gram
  JOIN fb ON g.gram = fb.gram
  WHERE g.doc_id % 2 = 1
    AND (ci.gram IS NOT NULL OR fb.first_b < g.doc_id)
),
{_ISLANDS_SQL},
cov AS (
  SELECT sp.doc_id, CAST(u.p AS BIGINT) AS p
  FROM sp, LATERAL (SELECT unnest(range(s, e + 1)) AS p) u
),
tok AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS tpos, toks[u.i + 1] AS tok
  FROM t, LATERAL (SELECT unnest(range(0, len(toks))) AS i) u
  WHERE doc_id % 2 = 1
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
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_scrubbed,
       r.cleaned_fp AS cleaned_fp
FROM t LEFT JOIN reb r USING (doc_id)
WHERE t.doc_id % 2 = 1
""",
)
def dedup_span_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span scrub — the production shape of
    ``corpus_span_scrub``: a NEW batch (odd doc_ids) is scrubbed
    against the already-ingested corpus (even doc_ids) without ever
    re-scrubbing the corpus. A batch gram position is duplicated iff
    its gram exists anywhere in the corpus (the corpus claimant always
    precedes the batch — ingestion order), or an earlier batch doc
    first-claimed it within this batch. Corpus docs are never touched
    or re-emitted.

    Scale shape: at 100 TB the corpus gram set is a PRECOMPUTED index
    (exactly the band-index pattern of ``incremental_minhash_dedup``
    — operators/dedup.py:616): maintaining it is one distinct-merge
    per ingested batch, and this query's per-batch cost is then
    batch-sized, never corpus×corpus. Here the index is derived
    inline from the even half so the whole plan is reproducible
    against one table; every shuffle (index probe, within-batch
    firsts, islands window, position anti-join) is keyed on the gram
    fingerprint or doc_id — linear, no pairwise doc join.
    """
    docs = load_table(spark, sf_dir, "documents")
    return incremental_span_scrub(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def incremental_span_scrub(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """Scrub the batch's cross-duplicated spans against (a) the
    corpus gram set and (b) earlier claimants within the batch.
    Corpus rows are never re-emitted. See ``dedup_span_incremental``.
    """
    _, gc = _positional_grams(corpus)
    return span_scrub_against_index(gc.select("gram"), batch)


def span_scrub_against_index(
    gram_index: DataFrame, batch: DataFrame
) -> DataFrame:
    """The stored-index form of the incremental scrub: ``gram_index``
    is the corpus gram set maintained OUTSIDE this call (one
    distinct-merge per ingested batch — the steady-state loop
    ``stream_span_scrub`` runs), so per-batch cost never touches
    corpus rows at all. The index is defensively de-duplicated here:
    a duplicate gram row would FAN OUT the probe join and double
    batch positions.
    """
    tb, gb = _positional_grams(batch)
    tb = persist_tracked(tb)
    # MERGE pin (r8): the stored gram index (hundreds of MB parquet
    # at sf10, growing with the corpus) is gram-scale — the r7 fuzz
    # OBSERVED SortMergeJoin here; the pin makes that load-bearing
    # property a contract rather than an AQE mood (the sf30 broadcast
    # OOM in corpus_span_scrub is this exact class one query over).
    #
    # r9 (20-batch fuzz follow-up): the old probe DISTINCT-shuffled
    # the whole index every batch (a second O(state) shuffle per
    # batch on top of the join's own) purely to defend against
    # duplicate gram rows fanning out a left join. A LEFT SEMI join
    # cannot fan out regardless of right-side duplicates, so the
    # "claimed by corpus OR claimed by an earlier doc in batch"
    # predicate is expressed as a UNION of the two claim sources —
    # duplicated (doc_id, pos) rows are exactly what _scrub_tail's
    # island merge is specified to absorb. One state-sized shuffle
    # per batch remains (the semi join itself): inherent to a
    # join-probe against global keep-first history; the point-lookup
    # alternative is the RocksDB state-store arm.
    #
    # r11: the within-batch firsts aggregate + gram-keyed MERGE join
    # collapse into one window over the batch's gram shuffle
    # (_later_claimant_positions' rule), and the CACHED frame is the
    # WINDOWED one: its gram-hash layout feeds both claim arms, so
    # the semi-join probe shuffles only the index side and the
    # within-batch arm is a map-side filter over the cache — the
    # batch's grams cross the wire once per batch instead of three
    # times.
    gw = persist_tracked(
        gb.withColumn(
            "__first", F.min("doc_id").over(Window.partitionBy("gram"))
        )
    )
    occ_corpus = gw.join(
        gram_index.select("gram").hint("MERGE"), "gram", "left_semi"
    ).select("doc_id", "pos")
    occ_batch = gw.filter(F.col("__first") < F.col("doc_id")).select(
        "doc_id", "pos"
    )
    return _scrub_tail(tb, occ_corpus.unionByName(occ_batch))
