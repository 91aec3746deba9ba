"""Data-pipeline queries, wave 17: corpus curation end-game.

The decisions a pretraining pipeline makes AFTER detection: which
passages are inter-document boilerplate (RefinedWeb-style passage
dedup), which document survives each duplicate cluster (canonical
selection), how documents bucket into padded batches, a linear
quality-classifier inference pass over hashed features, and
multimodal near-dup detection over payload-derived bit signatures.

Same exactness contract as every other wave: integer counts / bit
arithmetic / cross-multiplied thresholds only, so each query carries
a full DuckDB value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.buckets import drop_oversize_buckets
from stakehouse_etl_spark.operators.dedup import near_dup_pairs
from stakehouse_etl_spark.operators.graph import connected_components
from stakehouse_etl_spark.operators.text import chunk_docs, fan_out, feature_hash
from stakehouse_etl_spark.queries.datapipe import (
    _JACCARD_CTE,
    _SHINGLES_CTE,
    _TOKS,
    _lsh_jaccard_cte,
)
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Passage-level inter-document dedup (RefinedWeb / MassiveText practice)
# ---------------------------------------------------------------------------
_PASSAGE_TOKENS = 32
_PASSAGE_DUP_PCT = 30  # drop docs with >30% inter-doc duplicated passages


@register(
    "corpus_passage_dedup",
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
n AS (
  SELECT doc_id, toks,
         greatest(1, CAST(floor((len(toks) + {_PASSAGE_TOKENS} - 1)
                                / {_PASSAGE_TOKENS}.0) AS INTEGER)) AS n_chunks
  FROM t
),
c AS (
  SELECT doc_id,
         md5(array_to_string(
           toks[g.i * {_PASSAGE_TOKENS} + 1 : (g.i + 1) * {_PASSAGE_TOKENS}],
           ' ')) AS fp
  FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) g
),
d AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM c GROUP BY fp)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_passages,
       sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 100
         < count(*) * {_PASSAGE_DUP_PCT} AS keep
FROM c JOIN d USING (fp)
GROUP BY doc_id
""",
)
def corpus_passage_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level inter-document dedup: fixed 32-token passages
    (non-overlapping chunker pass), passage fingerprints counted by
    DISTINCT containing doc (a passage repeated *within* one doc is
    repetition, not boilerplate — the intra-doc case is
    ``text_repetition_metrics``), and a per-doc keep decision by
    integer cross-multiplied duplicate fraction. This is the
    RefinedWeb/MassiveText curation step that doc-level dedup misses:
    navigation chrome and license boilerplate shared across otherwise
    distinct pages.

    Scale: one explode + two hash shuffles, both keyed on the passage
    fingerprint / doc id (high cardinality, even); the fp join reuses
    the groupBy partitioning. No self-join, no driver state.
    """
    docs = load_table(spark, sf_dir, "documents")
    # fan_out: the chunk+md5 map work otherwise runs at the scan's
    # parallelism (one task on the single-row-group bench file).
    ch = chunk_docs(fan_out(docs), chunk_tokens=_PASSAGE_TOKENS, overlap=0)
    fps = ch.select("doc_id", F.md5(F.col("chunk_text")).alias("fp"))
    # r11 (guide §2.4, the span-family window trick): the keep rule
    # only needs nd >= 2 — "this passage occurs in more than one
    # distinct doc" ⟺ min(doc_id) != max(doc_id) over the fp
    # partition. The former count_distinct aggregate + join-back made
    # the chunker pipeline run twice and the fp key shuffle twice
    # (aggregate partials + join side); one bounded min/max window
    # over the single fp shuffle replaces both, with none of
    # collect_set's per-group memory (WindowExec buffers one spillable
    # fp group at a time).
    w = Window.partitionBy("fp")
    is_dup = F.when(
        F.min("doc_id").over(w) != F.max("doc_id").over(w), 1
    ).otherwise(0)
    return (
        fps.withColumn("__dup", is_dup)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum("__dup").cast("long").alias("n_dup_passages"),
            (F.sum("__dup") * 100 < F.count(F.lit(1)) * _PASSAGE_DUP_PCT).alias(
                "keep"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Canonical-document selection per duplicate cluster
# ---------------------------------------------------------------------------
@register(
    "corpus_canonical_docs",
    oracle=f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_lsh_jaccard_cte()},
edges AS (
  SELECT id_a AS a, id_b AS b FROM j WHERE inter * 100 >= union_sz * 20
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS component
  FROM reach GROUP BY a
),
lab AS (
  SELECT d.doc_id, coalesce(cm.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comp cm USING (doc_id)
)
SELECT doc_id, component, n_chars,
       row_number() OVER (PARTITION BY component
                          ORDER BY n_chars DESC, doc_id) = 1 AS keep
FROM lab
""",
)
def corpus_canonical_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *decision* output: near-dup pairs → connected
    components → one canonical survivor per cluster (longest document,
    doc_id tiebreak — the usual "keep the most complete copy" rule),
    singletons canonical by construction. Downstream consumers filter
    ``keep`` and retain full cluster provenance (which duplicate
    collapsed into which canonical).

    Scale: pointer-jumping CC (log-diameter rounds) over the pruned
    pair list, then one window over ``component`` — cluster sizes are
    bounded by the dedup threshold, so the canonical window never sees
    a mega-partition. Oracle is a recursive-CTE transitive closure
    right-joined back to the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    edges = near_dup_pairs(docs, threshold_pct=20).select("id_a", "id_b")
    cc = connected_components(edges, src="id_a", dst="id_b").withColumnRenamed(
        "node", "doc_id"
    )
    lab = (
        docs.select("doc_id", "n_chars")
        .join(cc, "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return lab.select(
        "doc_id",
        "component",
        "n_chars",
        (F.row_number().over(w) == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed batch planning (padding-waste accounting)
# ---------------------------------------------------------------------------
@register(
    "corpus_length_bucket_stats",
    oracle=f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents
),
b AS (
  SELECT doc_id, n_tok,
         CASE WHEN n_tok <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(power(2, length(bin(n_tok - 1))) AS BIGINT)
         END AS bucket
  FROM t
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
       CAST(count(*) * bucket - sum(n_tok) AS BIGINT) AS wasted_tokens
FROM b GROUP BY bucket
""",
)
def corpus_length_bucket_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length bucketing — the batch-shape planning pass
    before padded training/inference batching: each doc lands in the
    smallest 2^k ≥ its token count, and the per-bucket padded-vs-real
    token gap quantifies the padding waste that motivates packing
    (``corpus_pack_sequences`` is the zero-waste alternative; this
    query prices the naive strategy). The bucket edge is computed with
    integer bit-length (``length(bin(n-1))``), not float log2 — a
    power-of-two input must not straddle buckets over a 1-ulp log.

    Scale: one narrow projection + one tiny groupBy (≤ ~20 buckets);
    entirely codegen'd column expressions.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long")
    bucket = (
        F.when(n_tok <= 1, F.lit(1).cast("long"))
        .otherwise(F.pow(F.lit(2), F.length(F.bin(n_tok - 1))).cast("long"))
        .alias("bucket")
    )
    return (
        docs.select(n_tok.alias("n_tok"), bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            (F.count(F.lit(1)) * F.col("bucket")).alias("padded_tokens"),
            (F.count(F.lit(1)) * F.col("bucket") - F.sum("n_tok")).alias(
                "wasted_tokens"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Linear quality-classifier inference over hashed features
# ---------------------------------------------------------------------------
_N_BUCKETS = 64
# Deterministic synthetic weight table: w(b) = (b·K) mod 1001 − 500,
# a stand-in for trained integer-quantized classifier weights.
_W_MULT = 2654435761
_W_MOD = 1001
_W_SHIFT = 500


@register(
    "ml_logit_hashed_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
fh AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_N_BUCKETS}
           AS bucket,
         count(*) AS cnt
  FROM t WHERE tok <> ''
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_features,
       CAST(sum(cnt * ((bucket * {_W_MULT}) % {_W_MOD} - {_W_SHIFT}))
            AS BIGINT) AS logit,
       sum(cnt * ((bucket * {_W_MULT}) % {_W_MOD} - {_W_SHIFT})) > 0 AS pred
FROM fh GROUP BY doc_id
""",
)
def ml_logit_hashed_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier inference at corpus scale: the hashing-trick
    features (``text_feature_hashing``) dotted with an
    integer-quantized weight vector — exactly how a fastText-style
    linear filter scores 100 TB (sparse feature rows × broadcast-sized
    weight table; here the weights are a deterministic function of the
    bucket id so the oracle needs no side table). The logit stays an
    exact BIGINT; the sign is the keep/drop prediction. Sigmoid is
    monotone, so thresholding the logit IS thresholding the
    probability — no float ever enters the decision.

    Scale: explode + two groupBys keyed on (doc, bucket) then doc;
    weight lookup is a pure column expression (no join at all).
    """
    docs = load_table(spark, sf_dir, "documents")
    fh = feature_hash(docs, n_buckets=_N_BUCKETS)
    w = (F.col("bucket") * _W_MULT) % _W_MOD - _W_SHIFT
    contrib = F.col("cnt") * w
    return fh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum(contrib).cast("long").alias("logit"),
        (F.sum(contrib) > 0).alias("pred"),
    )


# ---------------------------------------------------------------------------
# Multimodal near-dup: banded Hamming join over payload bit-signatures
# ---------------------------------------------------------------------------
_SIG_BITS = 48
_BAND_BITS = 12
_N_BANDS = _SIG_BITS // _BAND_BITS
_MM_BUCKET_CAP = 200
_HAMMING_MAX = 5


@register(
    "mm_hamming_dedup",
    oracle=f"""
WITH b AS (
  SELECT doc_id AS media_id, text, length(text) AS L FROM documents
),
s AS (
  SELECT media_id,
         CAST(list_sum(list_transform(range(0, {_SIG_BITS}), i ->
           CASE WHEN ascii(substr(text, CAST((i * 7) % L AS INTEGER) + 1, 1)) >
                     ascii(substr(text, CAST((i * 7 + 3) % L AS INTEGER) + 1, 1))
                THEN CAST(power(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sig
  FROM b
),
bands AS (
  SELECT media_id, sig, g.k AS band_idx,
         (sig >> (g.k * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1} AS band_val
  FROM s, LATERAL (SELECT unnest(range(0, {_N_BANDS})) AS k) g
),
capped AS (
  SELECT * FROM bands
  QUALIFY count(*) OVER (PARTITION BY band_idx, band_val) <= {_MM_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM capped a
  JOIN capped b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
  WHERE a.media_id < b.media_id
)
SELECT id_a, id_b,
       CAST(bit_count(CAST(xor(sig_a, sig_b) AS BIGINT)) AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(CAST(xor(sig_a, sig_b) AS BIGINT)) <= {_HAMMING_MAX}
""",
)
def mm_hamming_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup detection — the perceptual-hash dedup flow
    over opaque payload bytes: a 48-bit dHash-style signature
    (pairwise byte comparisons at strided offsets — deployment swaps
    in a real pHash over decoded pixels without touching the plan),
    banded 4×12 bits into LSH buckets, capped bucket self-join
    (``operators.buckets.drop_oversize_buckets`` — same hot-bucket
    O(n²) bound as the MinHash path), then exact Hamming verification
    via ``bit_count(xor)`` on candidates only.

    Scale: signatures are pure column expressions over the payload
    string (no UDF); the candidate join is bucketed equi-join, never
    all-pairs; verification touches candidates only.
    """
    docs = load_table(spark, sf_dir, "documents")
    L = F.length("text")

    def byte_at(pos):
        # substr on the raw string, NOT element_at(split(text, ""), ·):
        # the split expression inside the per-bit lambda re-splits the
        # whole text into a char array per lookup — 2·SIG_BITS array
        # allocations per doc (round-6 sf10 fuzz class). substr is one
        # O(1) string read; same char, same ascii value.
        return F.ascii(
            F.col("text").substr((pos % L + 1).cast("int"), F.lit(1))
        )

    bits = F.transform(
        F.sequence(F.lit(0), F.lit(_SIG_BITS - 1)),
        lambda i: F.when(
            byte_at(i * 7) > byte_at(i * 7 + 3),
            F.pow(F.lit(2), i).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    sigs = docs.select(
        F.col("doc_id").alias("media_id"),
        F.aggregate(
            bits, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sig"),
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_idx"),
                (
                    F.shiftright(F.col("sig"), k * _BAND_BITS)
                    % (1 << _BAND_BITS)
                ).alias("band_val"),
            )
            for k in range(_N_BANDS)
        ]
    )
    bands = sigs.select(
        "media_id", "sig", F.explode(band_arr).alias("b")
    ).select("media_id", "sig", "b.band_idx", "b.band_val")
    capped = drop_oversize_buckets(
        bands, ["band_idx", "band_val"], _MM_BUCKET_CAP
    )
    left = capped.select(
        F.col("media_id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        "band_idx",
        "band_val",
    )
    right = capped.select(
        F.col("media_id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        "band_idx",
        "band_val",
    )
    pairs = (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("long")
    return pairs.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= _HAMMING_MAX)


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (tokenizer training, iteration one)
# ---------------------------------------------------------------------------
_BPE_TOP_K = 20


@register(
    "text_bpe_merge_pairs",
    oracle=rf"""
WITH t AS (
  SELECT regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9\s]+')
           AS pts
  FROM documents
),
w AS (SELECT unnest(pts) AS pt FROM t),
p AS (
  SELECT unnest(list_transform(range(1, length(pt)),
                               i -> substr(pt, CAST(i AS INTEGER), 2)))
           AS pair
  FROM w WHERE length(pt) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM p GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {_BPE_TOP_K}
""",
)
def text_bpe_merge_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training at corpus scale:
    count adjacent symbol pairs inside every pre-token occurrence
    (symbols start as characters) and take the top merge candidates.
    A full trainer loops this — count pairs → merge the argmax →
    recount — with the count step (this query) being the only part
    that touches the 100 TB corpus; each iteration is one explode +
    one map-side-combinable groupBy + TakeOrdered. Ties broken
    lexicographically so the top-k cut is deterministic cross-engine.
    """
    from stakehouse_etl_spark.operators.text import bpe_pretokens

    docs = load_table(spark, sf_dir, "documents")
    pt = F.col("pt")
    pairs = F.when(
        F.length(pt) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(pt) - 1),
            lambda i: pt.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bpe_pretokens(F.col("text"))).alias("pt"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(_BPE_TOP_K)
    )


# ---------------------------------------------------------------------------
# Corpus drop ledger: per-doc provenance for the cleaning pipeline
# ---------------------------------------------------------------------------
def _drop_ledger_sql() -> str:
    from stakehouse_etl_spark.queries.corpus import _QUALITY_KEEP
    from stakehouse_etl_spark.queries.datapipe import _EN

    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), f AS (
  SELECT doc_id, text, toks,
         len(toks) AS n_tok, length(text) AS n_chars,
         len(list_filter(toks, x -> x IN ({_EN}))) AS stop,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM t
), qflag AS (
  SELECT doc_id, text, toks, ({_QUALITY_KEEP}) AS q_ok FROM f
), q AS (SELECT doc_id, text, toks FROM qflag WHERE q_ok),
fpt AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM q
),
cm AS (SELECT fp, min(doc_id) AS canon FROM fpt GROUP BY fp),
ex AS (SELECT doc_id, canon FROM fpt JOIN cm USING (fp)),
surv AS (
  SELECT q.doc_id, q.toks FROM q JOIN ex USING (doc_id)
  WHERE ex.canon = q.doc_id
),
s AS (
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
)
SELECT qf.doc_id,
       CASE WHEN NOT coalesce(qf.q_ok, FALSE) THEN 'quality'
            WHEN ex.canon <> qf.doc_id THEN 'exact_dup'
            WHEN cp.component IS NOT NULL AND cp.component < qf.doc_id
              THEN 'near_dup'
            ELSE 'kept' END AS status,
       CASE WHEN NOT coalesce(qf.q_ok, FALSE) THEN NULL
            WHEN ex.canon <> qf.doc_id THEN ex.canon
            WHEN cp.component IS NOT NULL AND cp.component < qf.doc_id
              THEN cp.component
            ELSE qf.doc_id END AS canonical_id
FROM qflag qf
LEFT JOIN ex ON ex.doc_id = qf.doc_id
LEFT JOIN comp cp ON cp.doc_id = qf.doc_id
"""


@register(
    "corpus_drop_ledger",
    oracle=_drop_ledger_sql(),
)
def corpus_drop_ledger_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit/provenance view of ``pipeline_corpus_clean``: every
    input document with its fate — ``kept``, dropped by the
    ``quality`` gate, collapsed as an ``exact_dup``, or collapsed as
    a ``near_dup`` — plus the canonical doc it collapsed into. The
    cleaning pipeline's keep-list answers "what survived"; a 100 TB
    curation run also has to answer "where did the other 40% go"
    (compliance, debugging a corpus-size regression, per-source drop
    dashboards — ``corpus_dedup_rate_by_source`` aggregates this same
    ledger shape).

    Stage order and expressions are shared verbatim with
    ``pipeline_corpus_clean`` (same quality score, same fingerprint,
    same Jaccard-CC collapse), so ledger ``status='kept'`` is
    definitionally that pipeline's output set.
    """
    from stakehouse_etl_spark.caches import checkpoint_tracked, persist_tracked
    from stakehouse_etl_spark.operators.text import (
        fan_out,
        normalized_fingerprint,
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r11 (guide §1.2/§2.3, the pipeline_corpus_clean playbook): the
    # old shape re-evaluated quality_features ~4× (fpt twice through
    # the cm self-derivation, surv's filter, led's q_ok column) and
    # the fingerprint 3×, all at scan parallelism — profiled 72.6
    # task-seconds / 8.7 s wall at sf0.1. Now: one spread shuffle
    # (fan_out; pass-through on well-partitioned scans at 100 TB),
    # ONE quality+fingerprint pass materialized as a NARROW
    # checkpoint (doc_id, q_ok, fp — no text), and every downstream
    # consumer (canon groupBy, exact-dup map, the ledger's q_ok
    # column) reads that. Survivors do not re-run the gate: winner
    # ids are quality-passing by construction and doc_id is unique,
    # so `wide ⋉ winners` equals `quality(docs) ⋉ winners`.
    wide = fan_out(docs.select("doc_id", "text"))
    q_ok = F.col("quality_score") >= 0.5
    base = checkpoint_tracked(
        quality_features(wide).select(
            "doc_id",
            q_ok.alias("q_ok"),
            F.when(q_ok, normalized_fingerprint(F.col("text"))).alias("fp"),
        )
    )
    fpt = base.filter("q_ok").select("doc_id", "fp")
    cm = fpt.groupBy("fp").agg(F.min("doc_id").alias("canon"))
    # ex feeds the winner semi-join AND the ledger join — persist the
    # narrow (doc_id, canon) map so the groupBy+join runs once.
    ex = persist_tracked(fpt.join(cm, "fp").select("doc_id", "canon"))
    surv = wide.join(
        ex.filter(F.col("canon") == F.col("doc_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    edges = near_dup_pairs(surv, threshold_pct=20).select("id_a", "id_b")
    comp = connected_components(edges, src="id_a", dst="id_b").withColumnRenamed(
        "node", "doc_id"
    )
    led = base.select("doc_id", "q_ok").join(ex, "doc_id", "left").join(
        comp, "doc_id", "left"
    )
    is_near = F.col("component").isNotNull() & (
        F.col("component") < F.col("doc_id")
    )
    # Non-TRUE means dropped (ADVICE r7, pipeline77's ledger class): a
    # NULL quality_score (empty text → 0/0) gives NULL q_ok, and a
    # bare NOT would fall through to 'kept' in BOTH arms — invisible
    # to the hash gate. The oracle CASE applies the same coalesce.
    not_q = ~F.coalesce(F.col("q_ok"), F.lit(False))
    status = (
        F.when(not_q, F.lit("quality"))
        .when(F.col("canon") != F.col("doc_id"), F.lit("exact_dup"))
        .when(is_near, F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    canonical = (
        F.when(not_q, F.lit(None).cast("long"))
        .when(F.col("canon") != F.col("doc_id"), F.col("canon"))
        .when(is_near, F.col("component"))
        .otherwise(F.col("doc_id"))
    )
    return led.select(
        "doc_id", status.alias("status"), canonical.alias("canonical_id")
    )


# ---------------------------------------------------------------------------
# BPE trainer loop: 3 merge iterations over the corpus
# ---------------------------------------------------------------------------
_BPE_RE_SQL = r"'[a-z]+|[0-9]+|[^a-z0-9\s]+'"


def _bpe_train_sql(n_iters: int = 3) -> str:
    """Unrolled n-iteration BPE trainer in SQL, sharing the exact
    replace-twice merge application with the Spark side.

    Every ``w{it}`` re-encode has TWO consumers (the next pair count
    and the next re-encode), so without ``AS MATERIALIZED`` DuckDB's
    CTE inlining re-expands the chain 2^k times — the pipeline77
    planner-explosion class, invisible at the historical k=3 (8×) and
    fatal at the k=8 depth variant. Materializing each stage makes
    oracle planning linear in iterations, exactly like the Spark
    side's incremental delta-merge."""
    parts = [
        f"""
w0 AS MATERIALIZED (
  SELECT '|' || array_to_string(string_split(pt, ''), '|') || '|' AS s
  FROM (SELECT unnest(regexp_extract_all(lower(trim(text)), {_BPE_RE_SQL}))
          AS pt FROM documents)
  WHERE length(pt) >= 2
)"""
    ]
    for it in range(1, n_iters + 1):
        prev = f"w{it - 1}"
        parts.append(
            f"""
p{it} AS (
  SELECT arr[i] AS lhs, arr[i + 1] AS rhs, count(*) AS cnt
  FROM (SELECT list_filter(string_split(s, '|'), x -> x <> '') AS arr
        FROM {prev}),
       LATERAL (SELECT unnest(range(1, len(arr))) AS i) g
  GROUP BY 1, 2
),
m{it} AS MATERIALIZED (
  SELECT lhs, rhs, cnt FROM p{it} ORDER BY cnt DESC, lhs, rhs LIMIT 1)"""
        )
        if it < n_iters:
            parts.append(
                f"""
w{it} AS MATERIALIZED (
  SELECT replace(replace(s,
           '|' || m.lhs || '|' || m.rhs || '|', '|' || m.lhs || m.rhs || '|'),
           '|' || m.lhs || '|' || m.rhs || '|', '|' || m.lhs || m.rhs || '|')
         AS s
  FROM {prev} w, m{it} m
)"""
            )
    selects = " UNION ALL ".join(
        f"SELECT CAST({it} AS BIGINT) AS rank, lhs, rhs, cnt FROM m{it}"
        for it in range(1, n_iters + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + selects


def _bpe_train_merges(
    spark: SparkSession,
    sf_dir: str,
    n_iters: int,
    iter_walls: list | None = None,
) -> DataFrame:
    """n iterations of actual BPE *training* over the corpus:
    count adjacent symbol pairs → take the argmax merge (count-desc,
    lexicographic tiebreak) → apply it corpus-wide → repeat. Symbols
    live in a sentinel-delimited string (``|c|h|a|t|``) so a merge is
    a literal string replace; the replace is applied twice per merge
    in BOTH engines (a single left-to-right non-overlapping scan can
    miss alternating runs like ``a b a b`` — the second pass picks
    them up identically cross-engine).

    The pattern to note for 100 TB: each iteration's heavy step (pair
    counting) is a map-side-combinable aggregation over the corpus;
    only the 1-row argmax crosses to the driver — same
    bounded-scalar-per-round shape as k-means (``ml_kmeans_update``)
    and connected components. The re-encoded corpus is PERSISTED per
    iteration (what a real trainer's checkpoint does): without the
    cache, iteration i recomputes the whole pretokenize + replace
    chain up to i, turning k iterations into O(k²) corpus passes —
    the r7 sf10 fuzz measured the unpersisted form at 238 s for 3
    iterations.

    ``iter_walls``: optional list that collects the wall seconds of
    each iteration (argmax + delta-merge), for the depth-curve
    measurement (VERDICT r7 task 4 — tools/bpe_depth.py).
    """
    import time

    from stakehouse_etl_spark.caches import persist_tracked
    from stakehouse_etl_spark.operators.text import bpe_pretokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.explode(bpe_pretokens(F.col("text"))).alias("pt")
    ).filter(F.length("pt") >= 2)
    # WORD-TYPE training state (r8): the trainer's working set is the
    # DEDUPLICATED pre-token vocabulary with occurrence frequencies,
    # not one row per occurrence — the standard BPE trainer layout
    # (Sennrich's original and every production tokenizer). Pair
    # counts are identical by commutativity (sum of freq over types ==
    # count over tokens), so the full-recount token-level oracle still
    # hash-proves every merge. The payoff is the 100 TB shape: ONE
    # corpus-scale aggregation up front, then every iteration —
    # argmax, changed-slice recount, re-encode — runs on the
    # vocabulary (tens of k rows for any natural corpus, bounded by
    # the type distribution rather than corpus size). The r8 sf3 k=16
    # depth run measured the token-level form blowing up exactly when
    # the IVM assumption broke (late merges touch ~every token row:
    # walls 8.9 -> 139.8 s at iterations 11-15); type-level rows make
    # the changed slice small in ROWS even when it is large in corpus
    # frequency.
    cur = persist_tracked(
        base.groupBy("pt")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            F.concat(
                F.lit("|"),
                F.array_join(F.split(F.col("pt"), ""), "|"),
                F.lit("|"),
            ).alias("s"),
            "freq",
        )
    )
    arr = F.filter(F.split(F.col("s"), r"\|"), lambda x: x != "")
    # Zipped shifted slices, not element_at-per-position lambdas:
    # the latter re-evaluates the split per pair on the interpreted
    # HOF path (round-6 sf10 fuzz class, operators/text.py).
    pairs_expr = F.when(
        F.size(arr) >= 2,
        F.arrays_zip(
            F.slice(arr, 1, F.size(arr) - 1).alias("lhs"),
            F.slice(arr, 2, F.size(arr) - 1).alias("rhs"),
        ),
    ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))

    def pair_counts(df: DataFrame) -> DataFrame:
        return (
            df.select("freq", F.explode(pairs_expr).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("cnt"))
        )

    # INCREMENTAL count maintenance (the IVM pattern, inc_agg_merge):
    # a merge only changes pair counts inside words that CONTAIN the
    # merged pair, so iterations 2..k recount the changed slice and
    # delta-merge into the standing pair-count table instead of
    # re-exploding the corpus — full recount is paid exactly once.
    # (Persisting the re-encoded corpus alone does NOT help: the r7
    # sf10 measurement was 238 s unpersisted vs 232 s persisted —
    # per-iteration cost is the corpus-wide explode+groupBy, which
    # this removes. counts is pair-vocab-scale; cnt>0 filter drops
    # vanished pairs so the table cannot grow monotonically.)
    # Per-iteration STAGE CUTS (r8, depth variant): `cur_i`'s logical
    # plan references `cur_{i-1}` TWICE (the not-contains filter and
    # the union via the re-encode), so under Catalyst's rewrite-
    # copying the plan tree doubles per iteration — 8× at the
    # historical k=3, a driver heap OOM at k=16 (measured on sf3; the
    # pipeline77 planner-explosion class exactly). Eager tracked
    # localCheckpoints truncate lineage at each generation, keeping
    # plan size O(1) per iteration — and because the checkpoint
    # MATERIALIZES the generation, every previous-generation frame is
    # genuinely dead at iteration end and is released immediately
    # (`release_now`), so a k-iteration run holds ONE corpus copy
    # plus transients, not O(k) and not O(2^k) planner nodes.
    from stakehouse_etl_spark.caches import checkpoint_tracked, release_now

    counts = checkpoint_tracked(pair_counts(cur))
    merges = []
    for rank in range(1, n_iters + 1):
        t0 = time.monotonic()
        top = (
            counts.orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()[0]
        )
        merges.append((rank, top.lhs, top.rhs, top.cnt))
        if rank == n_iters:  # the last iteration's re-encode is never read
            if iter_walls is not None:
                iter_walls.append(time.monotonic() - t0)
            break
        mark = f"|{top.lhs}|{top.rhs}|"
        pat = F.lit(mark)
        rep = F.lit(f"|{top.lhs}{top.rhs}|")
        changed = persist_tracked(
            cur.filter(F.instr(F.col("s"), mark) > 0)
        )
        new_changed = persist_tracked(
            changed.select(
                F.replace(
                    F.replace(F.col("s"), pat, rep), pat, rep
                ).alias("s"),
                "freq",
            )
        )
        old_counts = counts
        counts = checkpoint_tracked(
            counts.unionByName(
                pair_counts(changed).withColumn("cnt", -F.col("cnt"))
            )
            .unionByName(pair_counts(new_changed))
            .groupBy("lhs", "rhs")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )
        old_cur = cur
        # coalesce at the stage cut: filter+union CONCATENATES parent
        # partition lists, so without it |partitions(cur_i)| doubles
        # per iteration — 32 × 2^14 ≈ 524k tasks by iteration 14 of
        # the r8 sf3 k=16 depth run, pure scheduler overhead. The
        # vocabulary-scale state fits the session's shuffle-partition
        # count at any corpus size.
        n_part = int(
            cur.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        cur = checkpoint_tracked(
            cur.filter(F.instr(F.col("s"), mark) == 0)
            .unionByName(new_changed)
            .coalesce(n_part)
        )
        # Both eager checkpoints above have materialized this
        # generation, so the previous corpus, its changed slice, the
        # re-encode, and the previous count table are all dead now.
        for dead in (old_counts, old_cur, changed, new_changed):
            release_now(dead)
        if iter_walls is not None:
            iter_walls.append(time.monotonic() - t0)
    return spark.createDataFrame(
        merges, "rank long, lhs string, rhs string, cnt long"
    )


@register(
    "ml_bpe_train_merges",
    oracle=_bpe_train_sql(3),
)
def ml_bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three BPE training iterations (see ``_bpe_train_merges``) —
    the historical catalog depth; ``ml_bpe_train_merges_deep`` runs
    the same trainer at k=8."""
    return _bpe_train_merges(spark, sf_dir, n_iters=3)


@register(
    "ml_bpe_train_merges_deep",
    oracle=_bpe_train_sql(8),
)
def ml_bpe_train_merges_deep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight BPE training iterations — the depth variant (VERDICT r7
    task 4): a real tokenizer build runs tens of thousands of merges,
    and the r7 incremental pair-count rework's claim (per-iteration
    cost shrinks as merges proceed, because iteration i only recounts
    words CONTAINING the merged pair) was only measured at k=3. This
    query keeps the deeper loop oracle-exact (the oracle is the full
    k=8 recount-per-iteration unroll, so the hash gate proves the
    delta algebra at depth), and tools/bpe_depth.py publishes the
    per-iteration wall curve at sf3/sf10."""
    return _bpe_train_merges(spark, sf_dir, n_iters=8)


# ---------------------------------------------------------------------------
# ANN quality evaluation: IVF recall against the exact top-k
# ---------------------------------------------------------------------------
def _ivf_recall_sql() -> str:
    """Both sides of the comparison ARE the registered oracles of
    ``sim_cosine_topk`` / ``sim_ivf_topk`` (verbatim, as nested CTEs)
    — the eval cannot drift from what those queries actually compute."""
    from stakehouse_etl_spark.queries.registry import QUERIES as _Q

    exact = _Q["sim_cosine_topk"].oracle
    approx = _Q["sim_ivf_topk"].oracle
    return f"""
WITH exact AS ({exact}),
approx AS ({approx}),
hit AS (
  SELECT e.query_id, count(a.cand_id) AS n_overlap
  FROM exact e
  LEFT JOIN approx a
    ON a.query_id = e.query_id AND a.cand_id = e.cand_id
  GROUP BY e.query_id
)
SELECT query_id, CAST(10 AS BIGINT) AS n_exact,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       n_overlap / 10.0 AS recall_at_10
FROM hit
"""


@register(
    "sim_ivf_recall_eval",
    oracle=_ivf_recall_sql(),
)
def sim_ivf_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF index against the brute-force exact top-10,
    per query — the observability number an ANN deployment tunes
    n_cells/n_probe against (the LSH analog is ``dedup_lsh_eval_pr``).
    Both sides run the same operators the production queries use; the
    oracle nests the two registered oracle texts verbatim so the eval
    is definitionally consistent with them.

    Scale: the exact side is the expensive one (full scan per query) —
    run it on a sampled query set exactly as here; the IVF side scores
    probed lists only.
    """
    from stakehouse_etl_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    exact = sim.cosine_topk(emb, query_ids=list(range(10)), k=10).select(
        "query_id", "cand_id"
    )
    approx = sim.ivf_topk(
        emb, query_ids=list(range(10)), k=10, n_cells=8, n_probe=2
    ).select(
        F.col("query_id").alias("aq"), F.col("cand_id").alias("ac")
    )
    hit = exact.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("cand_id") == F.col("ac")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.lit(10).cast("long").alias("n_exact"),
        F.count("ac").alias("n_overlap"),
        (F.count("ac") / 10.0).alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# BPE apply/encode: compression accounting under the trained merges
# ---------------------------------------------------------------------------
def _bpe_apply_sql(n_iters: int = 3) -> str:
    """Unrolled train-then-encode: merges are learned exactly as in
    ``_bpe_train_sql`` (single-symbol pre-tokens contribute no pairs,
    so including them changes nothing), then the final re-encoded
    state is aggregated per document."""
    parts = [
        f"""
w0 AS (
  SELECT doc_id, pt,
         '|' || array_to_string(string_split(pt, ''), '|') || '|' AS s
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower(trim(text)), {_BPE_RE_SQL}))
                 AS pt
        FROM documents)
)"""
    ]
    for it in range(1, n_iters + 1):
        prev = f"w{it - 1}"
        parts.append(
            f"""
p{it} AS (
  SELECT arr[i] AS lhs, arr[i + 1] AS rhs, count(*) AS cnt
  FROM (SELECT list_filter(string_split(s, '|'), x -> x <> '') AS arr
        FROM {prev}),
       LATERAL (SELECT unnest(range(1, len(arr))) AS i) g
  GROUP BY 1, 2
),
m{it} AS (SELECT lhs, rhs, cnt FROM p{it} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
w{it} AS (
  SELECT doc_id, pt,
         replace(replace(s,
           '|' || m.lhs || '|' || m.rhs || '|', '|' || m.lhs || m.rhs || '|'),
           '|' || m.lhs || '|' || m.rhs || '|', '|' || m.lhs || m.rhs || '|')
         AS s
  FROM {prev} w, m{it} m
)"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_pretokens,
       CAST(sum(length(pt)) AS BIGINT) AS n_base_symbols,
       CAST(sum(len(list_filter(string_split(s, '|'), x -> x <> '')))
            AS BIGINT) AS n_encoded_symbols,
       CAST(sum(length(pt))
            - sum(len(list_filter(string_split(s, '|'), x -> x <> '')))
            AS BIGINT) AS n_merges_applied
FROM w{n_iters} GROUP BY doc_id
"""
    )


@register(
    "ml_bpe_apply_encode",
    oracle=_bpe_apply_sql(3),
)
def ml_bpe_apply_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of tokenizer training: learn the 3 merges
    (identical loop to ``ml_bpe_train_merges``), re-encode every
    pre-token occurrence under them, and account the compression per
    document — base symbols (characters), encoded symbols, merges
    applied. ``n_base_symbols − n_encoded_symbols`` summed over the
    corpus is the token-count saving the trained vocab buys, the
    number a tokenizer-budget decision actually consumes.

    A deployment learns merges once and persists them; this query
    re-derives them inline (two corpus passes per merge) so the whole
    train→apply→measure loop is a single reproducible plan.
    """
    from stakehouse_etl_spark.operators.text import bpe_pretokens

    docs = load_table(spark, sf_dir, "documents")
    cur = docs.select(
        "doc_id", F.explode(bpe_pretokens(F.col("text"))).alias("pt")
    ).select(
        "doc_id",
        "pt",
        F.concat(
            F.lit("|"), F.array_join(F.split(F.col("pt"), ""), "|"), F.lit("|")
        ).alias("s"),
    )
    for _ in range(3):
        arr = F.filter(F.split(F.col("s"), r"\|"), lambda x: x != "")
        # Zipped shifted slices, not element_at-per-position lambdas:
        # the latter re-evaluates the split per pair on the interpreted
        # HOF path (round-6 sf10 fuzz class, operators/text.py).
        pairs = F.when(
            F.size(arr) >= 2,
            F.arrays_zip(
                F.slice(arr, 1, F.size(arr) - 1).alias("lhs"),
                F.slice(arr, 2, F.size(arr) - 1).alias("rhs"),
            ),
        ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
        top = (
            cur.select(F.explode(pairs).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()[0]
        )
        pat = F.lit(f"|{top.lhs}|{top.rhs}|")
        rep = F.lit(f"|{top.lhs}{top.rhs}|")
        cur = cur.select(
            "doc_id",
            "pt",
            F.replace(F.replace(F.col("s"), pat, rep), pat, rep).alias("s"),
        )
    n_enc = F.size(F.filter(F.split(F.col("s"), r"\|"), lambda x: x != ""))
    return (
        cur.select("doc_id", F.length("pt").alias("n_base"), n_enc.alias("n_enc"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pretokens"),
            F.sum("n_base").alias("n_base_symbols"),
            F.sum("n_enc").alias("n_encoded_symbols"),
            (F.sum("n_base") - F.sum("n_enc")).alias("n_merges_applied"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta-join algebra)
# ---------------------------------------------------------------------------
@register(
    "inc_join_view_delta",
    oracle="""
SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
""",
)
def inc_join_view_delta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the companion to
    ``inc_agg_merge``'s aggregate IVM): with base tables A (orders)
    and B (customers) each receiving a delta batch, the view over the
    new state is maintained as

        V' = A⋈B  ∪  A⋈ΔB  ∪  ΔA⋈B  ∪  ΔA⋈ΔB

    — three small delta joins instead of re-joining history against
    history. Here orders/customers are split by key hash into
    base + delta to simulate the batch arrival; the oracle is the
    full-recompute join, so equality IS the delta-algebra correctness
    statement. At 100 TB the A⋈ΔB / ΔA⋈B terms broadcast the delta
    side; only the bounded ΔA⋈ΔB term joins two new batches.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    a, da = o.filter("o_orderkey % 3 != 0"), o.filter("o_orderkey % 3 = 0")
    b, db = c.filter("c_custkey % 5 != 0"), c.filter("c_custkey % 5 = 0")
    join = lambda lo, lc: lo.join(  # noqa: E731
        F.broadcast(lc) if lc is db else lc,
        lo["o_custkey"] == lc["c_custkey"],
    ).select(lc["c_mktsegment"], lo["o_orderpriority"], lo["cents"])
    v = (
        join(a, b)
        .unionByName(join(a, db))
        .unionByName(join(da, b))
        .unionByName(join(da, db))
    )
    return v.groupBy(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Versioned-snapshot time travel (K-family sink capability)
# ---------------------------------------------------------------------------
@register(
    "k5_snapshot_time_travel",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS seq_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
cut AS (SELECT min(seq_us) + (max(seq_us) - min(seq_us)) // 2 AS c FROM e),
v1 AS (
  SELECT user_id, sum(cents) AS cents FROM e, cut WHERE seq_us <= c
  GROUP BY user_id
),
v2 AS (SELECT user_id, sum(cents) AS cents FROM e GROUP BY user_id)
SELECT CAST(1 AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM v1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(cents) AS BIGINT)
FROM v2
""",
)
def k5_snapshot_time_travel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-parquet time travel through the versioned-snapshot sink:
    two publishes of a per-user balance table (first over the older
    half of the stream, then over all of it), then BOTH versions read
    back AS-OF and summarized. Training-data reproducibility is
    exactly this: a job pins ``read_snapshot(path, v)`` instead of
    racing a table that a nightly run republished mid-read. Commit
    protocol: staging write + single atomic directory rename; current
    = max committed version (``_SUCCESS``-marked), so no pointer file
    exists to update non-atomically (``io/sinks.py:write_snapshot``).
    """
    import shutil
    import tempfile

    from stakehouse_etl_spark.io.sinks import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("seq_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mn, mx = e.agg(F.min("seq_us"), F.max("seq_us")).collect()[0]
    cut = mn + (mx - mn) // 2
    root = tempfile.mkdtemp(prefix="spark_graft_snap_")
    try:
        path = f"{root}/balances"
        write_snapshot(
            spark,
            e.filter(F.col("seq_us") <= cut)
            .groupBy("user_id")
            .agg(F.sum("cents").alias("cents")),
            path,
        )
        write_snapshot(
            spark, e.groupBy("user_id").agg(F.sum("cents").alias("cents")), path
        )
        rows = []
        for v in snapshot_versions(spark, path):
            s = read_snapshot(spark, path, v).agg(
                F.count(F.lit(1)), F.sum("cents")
            ).collect()[0]
            rows.append((v, s[0], s[1]))
        return spark.createDataFrame(
            rows, "version long, n_users long, total_cents long"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Deterministic per-epoch shuffle order (reproducible training runs)
# ---------------------------------------------------------------------------
@register(
    "corpus_epoch_shuffle",
    oracle="""
WITH k AS (
  SELECT doc_id, e.epoch,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR))
           AS skey
  FROM documents, (SELECT unnest(range(0, 3)) AS epoch) e
)
SELECT epoch, doc_id,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY skey, doc_id)
            AS BIGINT) AS position
FROM k
""",
)
def corpus_epoch_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle order: position = rank of
    ``md5(doc_id:epoch)`` — every training epoch sees a different but
    fully reproducible permutation, and a resumed run recomputes the
    identical order from (doc_id, epoch) alone, no RNG state to
    checkpoint.

    Scale shape (round-7 rework): a plain
    ``Window.partitionBy(epoch)`` has PARALLELISM = #epochs — three
    corpus-sized window tasks, the same defect class as a
    single-partition window, just hidden behind a tiny partition
    count (the r7 sf10 fuzz measured it fine at 500k docs; at 1000×
    each epoch partition is the corpus). Decomposed exactly like
    ``skew_resistant_rank``: the md5 skey's first two hex chars give
    256 uniform buckets, so

        position = (# rows in same epoch with smaller bucket)   (A)
                 + row_number within (epoch, bucket)            (B)

    (A) is an exclusive prefix over the 3×256-row bucket-count table
    (metadata window); (B) partitions by (epoch, bucket) — ~n/256
    rows per task at any scale, 768-way parallel. The md5 prefix is
    order-consistent with the full key under binary collation, so
    the result is bit-identical to the naive per-epoch window (the
    oracle keeps the naive form — that equality is the gate).
    """
    docs = load_table(spark, sf_dir, "documents")
    epochs = spark.range(3).select(F.col("id").alias("epoch"))
    k = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"),
                        F.col("epoch").cast("string"))
        ).alias("skey"),
    )
    k = k.withColumn("bucket", F.substring("skey", 1, 2))
    w_in = Window.partitionBy("epoch", "bucket").orderBy("skey", "doc_id")
    local = k.withColumn("local_rn", F.row_number().over(w_in))
    counts = k.groupBy("epoch", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_b = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = counts.select(
        "epoch",
        "bucket",
        (F.sum("cnt").over(w_b) - F.col("cnt")).alias("bucket_off"),
    )
    return local.join(F.broadcast(prefix), ["epoch", "bucket"]).select(
        "epoch",
        "doc_id",
        (F.col("bucket_off") + F.col("local_rn"))
        .cast("long")
        .alias("position"),
    )


# ---------------------------------------------------------------------------
# Token-balanced shard assignment (LPT round-robin)
# ---------------------------------------------------------------------------
_N_SHARDS = 8


@register(
    "corpus_shard_assign",
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT)
           AS n_tok
  FROM documents
),
r AS (
  SELECT doc_id, n_tok,
         (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % {_N_SHARDS}
           AS shard
  FROM t
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
       CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
FROM r GROUP BY shard
""",
)
def corpus_shard_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment for data-loader workers:
    round-robin over the token-count-descending order (the classic
    LPT approximation — each of the k largest docs lands on a
    different shard, so no worker gets all the long documents).
    Returns per-shard doc/token totals; the max-min token spread is
    the loader-imbalance number. The global rank is the two-phase
    ``skew_resistant_rank`` decomposition — NO single-partition
    window anywhere in the plan (asserted in tests/test_pipeline17.py
    against the naive global window's values).
    """
    from stakehouse_etl_spark.operators.windows import skew_resistant_rank

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long")
    t = docs.select("doc_id", n_tok.alias("n_tok"))
    r = skew_resistant_rank(
        t, value="n_tok", id_col="doc_id", out="rnk", descending=True
    ).withColumn("shard", (F.col("rnk") - 1) % _N_SHARDS)
    return r.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("shard_tokens"),
        F.max("n_tok").alias("max_doc_tokens"),
    )


# ---------------------------------------------------------------------------
# Streaming snapshot publication (foreachBatch -> merge -> time travel)
# ---------------------------------------------------------------------------
@register(
    "stream_snapshot_publish",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events GROUP BY user_id
""",
)
def stream_snapshot_publish_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming + time travel composed: each micro-batch merges its
    partial aggregate into the previous snapshot (the distributive
    IVM merge of ``inc_agg_merge``) and publishes the result as a NEW
    immutable version — so every micro-batch commit is a pinnable
    corpus state, and a training job launched mid-stream reads a
    consistent version instead of a table mutating under it. The
    final (latest) snapshot must equal the full batch aggregate —
    that equality is the oracle.
    """
    import os
    import tempfile

    from stakehouse_etl_spark.io.sinks import read_snapshot, write_snapshot
    from stakehouse_etl_spark.streaming.staging import land_batch, run_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    hi = ev.agg(F.max("event_id")).collect()[0][0]
    cuts = [hi // 3, 2 * hi // 3]
    with tempfile.TemporaryDirectory(
        prefix="stream_snap_", ignore_cleanup_errors=True
    ) as workdir:
        src = os.path.join(workdir, "src")
        ranges = [
            (-(1 << 62), cuts[0]),
            (cuts[0], cuts[1]),
            (cuts[1], 1 << 62),
        ]
        for i, (lo, hb) in enumerate(ranges):
            chunk = ev.filter(
                (F.col("event_id") >= lo) & (F.col("event_id") < hb)
            ).select("user_id", "cents")
            land_batch(chunk, src, i)

        table = os.path.join(workdir, "warehouse", "user_totals")

        def publish(batch_df: DataFrame, batch_id: int) -> None:
            s = batch_df.sparkSession
            agg = batch_df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("total_cents"),
            )
            try:
                prev = read_snapshot(s, table)
            except FileNotFoundError:
                prev = None
            if prev is not None:
                merged = (
                    prev.select(
                        "user_id",
                        F.col("n_events").alias("p_n"),
                        F.col("total_cents").alias("p_c"),
                    )
                    .join(agg, "user_id", "full_outer")
                    .select(
                        "user_id",
                        (
                            F.coalesce(F.col("p_n"), F.lit(0))
                            + F.coalesce(F.col("n_events"), F.lit(0))
                        ).alias("n_events"),
                        (
                            F.coalesce(F.col("p_c"), F.lit(0))
                            + F.coalesce(F.col("total_cents"), F.lit(0))
                        ).alias("total_cents"),
                    )
                )
            else:
                merged = agg
            write_snapshot(s, merged, table)

        stream = (
            spark.readStream.schema("user_id long, cents long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream(stream.writeStream.foreachBatch(publish), workdir)
        out = read_snapshot(spark, table).select(
            "user_id", "n_events", "total_cents"
        )
        return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Column profiling (ingestion-time data profiling)
# ---------------------------------------------------------------------------
_PROFILE_COLS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "dq_column_profile",
    oracle="""
SELECT 'o_custkey' AS col,
       CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_val,
       CAST(max(o_custkey) AS VARCHAR) AS max_val
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice),
       CAST(CAST(round(min(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
       CAST(CAST(round(max(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority),
       CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
FROM orders
""",
)
def dq_column_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of an ingested table — null counts, distinct
    cardinality, min/max per column (floats min/maxed in integer
    cents, everything rendered as strings so one result schema covers
    mixed column types). This is the pre-ingestion profiling pass a
    pipeline runs to decide partition keys, detect schema rot, and
    seed DQ thresholds; all four columns profile in ONE scan (Spark
    computes the grouped aggregates together; the per-column rows are
    a literal unpivot of one aggregate row).
    """
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            x
            for c in _PROFILE_COLS
            for x in (
                F.count(c).alias(f"nn_{c}"),
                F.count_distinct(F.col(c)).alias(f"nd_{c}"),
                (
                    F.round(F.min(c) * 100).cast("long").cast("string")
                    if c == "o_totalprice"
                    else F.min(c).cast("string")
                ).alias(f"mn_{c}"),
                (
                    F.round(F.max(c) * 100).cast("long").cast("string")
                    if c == "o_totalprice"
                    else F.max(c).cast("string")
                ).alias(f"mx_{c}"),
            )
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                (F.col("n") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_val"),
                F.col(f"mx_{c}").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (alpha = 0.5)
# ---------------------------------------------------------------------------
_TEMP_BUDGET = 1_000_000


@register(
    "corpus_mix_temperature",
    oracle=f"""
WITH t AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tok
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, n_tok,
         CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1000) AS BIGINT) AS w_int
  FROM t
),
g AS (
  SELECT source, n_tok, w_int,
         CAST(({_TEMP_BUDGET} * w_int) // sum(w_int) OVER () AS BIGINT)
           AS base_alloc,
         CAST(({_TEMP_BUDGET} * w_int) % sum(w_int) OVER () AS BIGINT) AS rem
  FROM w
),
r AS (
  SELECT *, CAST({_TEMP_BUDGET} - sum(base_alloc) OVER () AS BIGINT)
              AS leftover,
         CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rnk
  FROM g
)
SELECT source, n_tok, w_int,
       CAST(base_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS final_alloc,
       CAST(base_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
            AS DOUBLE) / n_tok AS oversample_factor
FROM r
""",
)
def corpus_mix_temperature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data mixing (α = 0.5): sampling weights
    ∝ n_tok^α flatten the source distribution — the standard
    upweighting of low-resource sources in multilingual/multi-domain
    training mixes. α = 1/2 keeps the arithmetic cross-engine exact:
    IEEE ``sqrt`` is correctly rounded, so ``floor(sqrt(n)·1000)`` is
    bit-identical in both engines, and the largest-remainder
    apportionment over those integer weights sums EXACTLY to the
    budget. ``oversample_factor`` (alloc/n_tok > 1 means the source
    repeats) is the number a mixture review reads.

    One corpus groupBy; everything after runs on the #sources-row
    table where global windows are metadata-sized.
    """
    from stakehouse_etl_spark.operators.alloc import largest_remainder_alloc
    from stakehouse_etl_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tok")
    )
    w = t.select(
        "source",
        "n_tok",
        F.floor(F.sqrt(F.col("n_tok").cast("double")) * 1000)
        .cast("long")
        .alias("w_int"),
    )
    alloc = largest_remainder_alloc(w, "source", "w_int", _TEMP_BUDGET)
    return alloc.join(w.select("source", "n_tok"), alloc.key == F.col("source")).select(
        "source",
        "n_tok",
        F.col("weight").alias("w_int"),
        "final_alloc",
        (F.col("final_alloc").cast("double") / F.col("n_tok")).alias(
            "oversample_factor"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding-dimension ablation (Matryoshka-style prefix truncation)
# ---------------------------------------------------------------------------
_ABL_DIMS = 16


def _dim_ablation_sql() -> str:
    q = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    qt = (
        f"list_transform(embedding[1:{_ABL_DIMS}], "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )

    def topk(emb_expr: str, name: str) -> str:
        return f"""
{name}_e AS (SELECT vec_id, {emb_expr} AS qe FROM embeddings),
{name}_n AS (SELECT vec_id, qe,
                    list_sum(list_transform(qe, x -> x * x)) AS nrm
             FROM {name}_e),
{name}_q AS (SELECT vec_id AS query_id, qe AS q_emb, nrm AS q_norm
             FROM {name}_n WHERE vec_id < 10),
{name}_p AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         CAST(list_dot_product(q.q_emb, c.qe) AS DOUBLE)
           / (sqrt(CAST(q.q_norm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE)))
           AS cos_sim
  FROM {name}_n c CROSS JOIN {name}_q q
  WHERE c.vec_id <> q.query_id
),
{name}_t AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, cand_id ASC) AS rank
    FROM {name}_p
  ) WHERE rank <= 10
)"""

    return f"""
WITH {topk(q, "full")},
{topk(qt, "trunc")}
SELECT f.query_id,
       CAST(count(t.cand_id) AS BIGINT) AS n_overlap,
       count(t.cand_id) / 10.0 AS recall_at_10
FROM full_t f
LEFT JOIN trunc_t t
  ON t.query_id = f.query_id AND t.cand_id = f.cand_id
GROUP BY f.query_id
"""


@register(
    "sim_dim_ablation",
    oracle=_dim_ablation_sql(),
)
def sim_dim_ablation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dimension ablation: how much of the exact top-10 does
    a 16-of-64-dim PREFIX ranking retain (the Matryoshka-truncation
    question — can the ANN index store a quarter of the vector)?
    Per-query overlap between the full-dim and truncated-dim cosine
    rankings, both through the same ``cosine_topk`` operator; at scale
    you run the cheap prefix ranking corpus-wide and rescore only its
    shortlist with full vectors.
    """
    from stakehouse_etl_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    full = sim.cosine_topk(emb, query_ids=list(range(10)), k=10).select(
        "query_id", "cand_id"
    )
    emb16 = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, _ABL_DIMS).alias("embedding")
    )
    trunc = sim.cosine_topk(emb16, query_ids=list(range(10)), k=10).select(
        F.col("query_id").alias("tq"), F.col("cand_id").alias("tc")
    )
    hit = full.join(
        trunc,
        (F.col("query_id") == F.col("tq")) & (F.col("cand_id") == F.col("tc")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count("tc").alias("n_overlap"),
        (F.count("tc") / 10.0).alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality / referential-integrity report
# ---------------------------------------------------------------------------
_FK_RELATIONS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
)


def _join_card_sql() -> str:
    parts = []
    for child, ck, parent, pk in _FK_RELATIONS:
        parts.append(f"""
SELECT '{child}.{ck}' AS relation,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS child_rows,
       CAST((SELECT count(DISTINCT {ck}) FROM {child}) AS BIGINT)
         AS distinct_child_keys,
       CAST((SELECT count(*) FROM {parent}) AS BIGINT) AS parent_rows,
       CAST((SELECT count(*) FROM (
          SELECT DISTINCT {ck} FROM {child}
          WHERE {ck} NOT IN (SELECT {pk} FROM {parent})) ) AS BIGINT)
         AS orphan_keys,
       CAST((SELECT max(cnt) FROM (
          SELECT count(*) AS cnt FROM {child} GROUP BY {ck})) AS BIGINT)
         AS max_fanout""")
    return " UNION ALL ".join(parts)


@register(
    "dq_join_cardinality_report",
    oracle=_join_card_sql(),
)
def dq_join_cardinality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key statistics for every FK relation in the warehouse:
    child/parent row counts, distinct child keys, orphan keys
    (referential-integrity violations — nonzero means an upstream
    extract raced a parent delete), and max fanout (the skew number a
    join planner reads: max children per parent key bounds the
    largest shuffle partition of the join). This is the ANALYZE-table
    pass that seeds broadcast-vs-shuffle and salting decisions.

    Per relation: two grouped aggregates and one anti-join, all keyed
    on the join key itself — the stats cost a fraction of the join
    they inform.
    """
    rows = []
    for child, ck, parent, pk in _FK_RELATIONS:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent)
        fan = c.groupBy(ck).agg(F.count(F.lit(1)).alias("cnt"))
        orphans = (
            c.select(ck).distinct().join(
                p.select(F.col(pk).alias(ck)), ck, "left_anti"
            )
        )
        stats = (
            c.agg(
                F.count(F.lit(1)).alias("child_rows"),
                F.count_distinct(F.col(ck)).alias("distinct_child_keys"),
            )
            .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("parent_rows"))))
            .crossJoin(
                F.broadcast(orphans.agg(F.count(F.lit(1)).alias("orphan_keys")))
            )
            .crossJoin(
                F.broadcast(fan.agg(F.max("cnt").alias("max_fanout")))
            )
            .select(
                F.lit(f"{child}.{ck}").alias("relation"),
                "child_rows",
                "distinct_child_keys",
                "parent_rows",
                "orphan_keys",
                "max_fanout",
            )
        )
        rows.append(stats)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# MinHash estimator accuracy: matched permutations vs exact Jaccard
# ---------------------------------------------------------------------------
def _minhash_estimate_sql() -> str:
    from stakehouse_etl_spark.operators.dedup import MINHASH_PERMS
    from stakehouse_etl_spark.queries.datapipe import (
        _minhash_bands_sql,
        _minhash_sig_sql,
    )

    matches = " + ".join(
        f"CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END"
        for j in range(MINHASH_PERMS)
    )
    return f"""
WITH {_SHINGLES_CTE}, {_minhash_sig_sql()}, {_minhash_bands_sql()},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), {_JACCARD_CTE},
m AS (
  SELECT cand.id_a, cand.id_b,
         CAST({matches} AS BIGINT) AS n_perm_match
  FROM cand
  JOIN sig a ON a.doc_id = cand.id_a
  JOIN sig b ON b.doc_id = cand.id_b
)
SELECT m.id_a, m.id_b, m.n_perm_match,
       CAST(j.inter AS BIGINT) AS inter,
       CAST(j.union_sz AS BIGINT) AS union_sz
FROM m JOIN j ON j.id_a = m.id_a AND j.id_b = m.id_b
"""


@register(
    "dedup_minhash_estimate_eval",
    oracle=_minhash_estimate_sql(),
)
def dedup_minhash_estimate_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy observability for MinHash itself: for every LSH
    candidate pair, the matched-permutation count (the sketch's
    Jaccard estimate, n/16) next to the exact shingle intersection and
    union — the calibration a 100 TB dedup reviews when deciding how
    many permutations the signature needs (16 here; estimator stderr
    ~ sqrt(J(1-J)/16)). Complements ``dedup_lsh_eval_pr``, which
    scores the BANDING; this scores the ESTIMATOR. All-integer
    output.
    """
    from stakehouse_etl_spark.operators.dedup import (
        MINHASH_PERMS,
        _signatures_from_shingles,
        doc_shingles,
        lsh_candidates,
    )
    from stakehouse_etl_spark.caches import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    sh = persist_tracked(doc_shingles(docs))
    cand = lsh_candidates(docs)
    sig = _signatures_from_shingles(sh, "doc_id")
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(MINHASH_PERMS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(MINHASH_PERMS)],
    )
    n_match = sum(
        F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        for j in range(MINHASH_PERMS)
    ).cast("long")
    m = cand.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", n_match.alias("n_perm_match")
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = counts.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        m.join(inter, ["id_a", "id_b"])
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_perm_match",
            F.col("inter").cast("long").alias("inter"),
            (F.col("n_a") + F.col("n_b") - F.col("inter"))
            .cast("long")
            .alias("union_sz"),
        )
    )
