"""Beyond-reference data-pipeline queries: dedup, similarity search,
text analysis over ``documents`` / ``embeddings``.

Every sketch (MinHash, SimHash, LSH) uses the cross-engine md5-prefix
hash and integer arithmetic, so ALL of these have exact DuckDB value
oracles — the SQL is generated from the same constants the Spark
operators use (single source of truth, no drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators import similarity as sim
from stakehouse_etl_spark.operators.dedup import (
    LSH_BANDS,
    LSH_MAX_BUCKET,
    LSH_ROWS,
    MINHASH_PRIME,
    _MH_A,
    _MH_B,
    exact_dedup,
    jaccard_pairs,
    lsh_bucket_stats,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
)
from stakehouse_etl_spark.operators.text import (
    LANG_STOPWORDS,
    bag_fingerprint,
    langid,
    normalized_fingerprint,
    quality_features,
)
from stakehouse_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Shared SQL fragments (single source of truth with the Spark operators)
# ---------------------------------------------------------------------------
_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_HASH32 = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"

_SHINGLES_CTE = f"""
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         ))) AS shingle
  FROM t
),
s2 AS (SELECT * FROM s WHERE shingle <> ''),
c AS (SELECT doc_id, count(*) AS n_sh FROM s2 GROUP BY doc_id)
"""

_JACCARD_CTE = """
i AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM s2 a JOIN s2 b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT id_a, id_b, inter, ca.n_sh + cb.n_sh - inter AS union_sz
  FROM i
  JOIN c ca ON ca.doc_id = id_a
  JOIN c cb ON cb.doc_id = id_b
)
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@register(
    "text_token_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, n_chars, {_TOKS} AS toks FROM documents)
SELECT doc_id, n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
FROM t
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) — pure codegen'd column
    expressions over the parquet scan; no shuffle, no UDF."""
    from stakehouse_etl_spark.operators.text import distinct_token_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "n_chars",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        distinct_token_count(F.col("text")).cast("long").alias("n_distinct_tokens"),
    )


_EN = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


@register(
    "text_quality",
    bench=True,
    oracle=f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
f AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         length(text) AS n_chars,
         len(list_filter(toks, x -> x IN ({_EN}))) AS stop,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM t
)
SELECT doc_id,
       stop / n_tok AS stopword_ratio,
       punct / n_chars AS punct_ratio,
       0.4 * least(1.0, n_tok / 100.0)
         + 0.3 * (stop / n_tok)
         + 0.3 * (1.0 - least(1.0, punct / n_chars * 5)) AS quality_score
FROM f
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/punctuation features + composite
    score — the cheap pre-filter stage of a training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs).select(
        "doc_id", "stopword_ratio", "punct_ratio", "quality_score"
    )


def _langid_sql() -> str:
    score_exprs = ",\n         ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)}))) AS score_{lang}"
        for lang, ws in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    best = f"greatest({', '.join('score_' + l for l in langs)})"
    case = "CASE "
    for lang in langs:
        case += f"WHEN score_{lang} > 0 AND score_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    score_cols = ", ".join(f"CAST(score_{l} AS BIGINT) AS score_{l}" for l in langs)
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
sc AS (SELECT doc_id, lang,
         {score_exprs}
       FROM t)
SELECT doc_id, lang, {score_cols}, {case} AS lang_pred FROM sc
"""


@register("text_langid", oracle=_langid_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hits, argmax with
    deterministic tiebreak (first language in fixed order wins)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return langid(docs).drop("text")


@register(
    "text_fingerprints",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_fp,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS bag_fp
FROM t
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized-content hash + order-
    insensitive token-bag hash."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("content_fp"),
        bag_fingerprint(F.col("text")).alias("bag_fp"),
    )


# ---------------------------------------------------------------------------
# Dedup ladder
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS canonical_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
""",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-1 exact dedup: hash-groupBy on normalized fingerprint."""
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE}, {_JACCARD_CTE}
SELECT id_a, id_b, CAST(inter AS DOUBLE) / union_sz AS jaccard
FROM j WHERE inter * 100 >= union_sz * 20
""",
)
def dedup_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-2 exact 3-gram Jaccard pairs (≥ 0.20, integer cross-multiply
    threshold) — ground truth for the sketch tiers."""
    return jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold_pct=20
    )


def _minhash_sig_sql() -> str:
    mins = ",\n         ".join(
        f"min(({_MH_A[j]} * h + {_MH_B[j]}) % {MINHASH_PRIME}) AS mh_{j}"
        for j in range(len(_MH_A))
    )
    return f"""
h AS (SELECT doc_id, {_HASH32.format(x='shingle')} AS h FROM s2),
sig AS (
  SELECT doc_id,
         {mins}
  FROM h GROUP BY doc_id
)"""


def _minhash_bands_sql() -> str:
    """``bands`` CTE with the same over-cap bucket drop the Spark
    operator applies (QUALIFY on the band-group count)."""
    selects = []
    for bi in range(LSH_BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh_{bi * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        selects.append(
            f"SELECT doc_id, {bi} AS band_idx, md5({cols}) AS band_key FROM sig"
        )
    return (
        "bands0 AS ("
        + " UNION ALL ".join(selects)
        + f"""),
bands AS (
  SELECT * FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= {LSH_MAX_BUCKET}
)"""
    )


def _lsh_jaccard_cte() -> str:
    """Drop-in replacement for ``_JACCARD_CTE`` (same ``i``/``j``
    output shape) whose intersection join is restricted to capped
    MinHash-LSH band candidates — the scale-safe near-dup tier the
    composed corpus pipelines default to. Requires ``s2`` (doc_id,
    shingle) and ``c`` (doc_id, n_sh) CTEs in scope, i.e. the
    ``_SHINGLES_CTE`` shape. Mirrors ``operators.dedup.near_dup_pairs``
    tier='lsh': identical signatures, identical QUALIFY bucket cap,
    candidates-only intersection."""
    return f"""{_minhash_sig_sql()},
{_minhash_bands_sql()},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
i AS (
  SELECT cand.id_a, cand.id_b, count(*) AS inter
  FROM cand
  JOIN s2 a ON a.doc_id = cand.id_a
  JOIN s2 b ON b.doc_id = cand.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
j AS (
  SELECT id_a, id_b, inter, ca.n_sh + cb.n_sh - inter AS union_sz
  FROM i
  JOIN c ca ON ca.doc_id = id_a
  JOIN c cb ON cb.doc_id = id_b
)"""


@register(
    "dedup_minhash_lsh",
    bench=True,
    oracle=f"""
WITH {_SHINGLES_CTE}, {_minhash_sig_sql()}, {_minhash_bands_sql()},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), {_JACCARD_CTE}
SELECT j.id_a, j.id_b, CAST(inter AS DOUBLE) / union_sz AS jaccard
FROM j
JOIN cand ON cand.id_a = j.id_a AND cand.id_b = j.id_b
WHERE inter * 100 >= union_sz * 20
""",
)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-3 MinHash(16)+LSH(4×4) candidates, exact-verified — the
    100 TB dedup path (no all-pairs join ever materializes). The SQL
    oracle reproduces the identical signatures from the same md5-prefix
    hash and affine constants."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold_pct=20
    )


@register(
    "dedup_minhash_signatures",
    oracle=f"""
WITH {_SHINGLES_CTE}, {_minhash_sig_sql()}
SELECT * FROM sig
""",
)
def dedup_minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures themselves (exact cross-engine parity of the
    sketch, column by column)."""
    return minhash_signatures(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_lsh_bucket_stats",
    oracle=f"""
WITH {_SHINGLES_CTE}, {_minhash_sig_sql()}, {_minhash_bands_sql()},
sizes AS (
  SELECT band_idx, band_key, count(*) AS bsz FROM bands0 GROUP BY 1, 2
)
SELECT band_idx,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(bsz) AS BIGINT) AS max_bucket_sz,
       CAST(sum(CASE WHEN bsz > {LSH_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_buckets,
       CAST(sum(CASE WHEN bsz > {LSH_MAX_BUCKET}
                     THEN bsz * (bsz - 1) / 2 ELSE 0 END) AS BIGINT)
         AS dropped_pair_mass
FROM sizes GROUP BY band_idx ORDER BY band_idx
""",
)
def dedup_lsh_bucket_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket size distribution + what the over-cap drop rule
    discards (bucket counts and avoided candidate-pair mass) — the
    monitoring companion to the ``max_bucket`` cap on
    ``dedup_minhash_lsh``. At 100 TB this is the dashboard number that
    says whether the banding scheme (bands×rows, cap) fits the corpus's
    duplicate-cluster structure."""
    return lsh_bucket_stats(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, t -> {_HASH32.format(x='t')}) AS hs FROM t),
b AS (
  SELECT doc_id,
         list_transform(range(0, 32), b ->
           CASE WHEN list_sum(list_transform(hs, x ->
                  CASE WHEN (x // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS bitvals
  FROM h
)
SELECT doc_id, CAST(list_sum(bitvals) AS BIGINT) AS simhash FROM b
""",
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-4 SimHash sketch (32-bit) per document."""
    return simhash(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, t -> {_HASH32.format(x='t')}) AS hs FROM t),
b AS (
  SELECT doc_id,
         list_transform(range(0, 32), b ->
           CASE WHEN list_sum(list_transform(hs, x ->
                  CASE WHEN (x // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS bitvals
  FROM h
),
sk AS (SELECT doc_id, CAST(list_sum(bitvals) AS BIGINT) AS sh FROM b),
chunks AS (
  SELECT doc_id, sh, g.c AS chunk_idx, (sh >> (g.c * 8)) & 255 AS chunk_val
  FROM sk CROSS JOIN generate_series(0, 3) g(c)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM chunks a JOIN chunks b USING (chunk_idx, chunk_val)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 6
""",
)
def dedup_simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 8-bit chunk blocking (pigeonhole for
    d ≤ 6 over 4 chunks... conservative) + Hamming verification."""
    return simhash_near_pairs(load_table(spark, sf_dir, "documents"), max_hamming=6)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
_QUANT_EMB = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


@register(
    "sim_cosine_topk",
    bench=True,
    oracle=f"""
WITH e AS (SELECT vec_id, {_QUANT_EMB} AS qe FROM embeddings),
n AS (SELECT vec_id, qe, list_sum(list_transform(qe, x -> x * x)) AS nrm FROM e),
q AS (SELECT vec_id AS query_id, qe AS q_emb, nrm AS q_norm FROM n WHERE vec_id < 10),
p AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         CAST(list_dot_product(q.q_emb, c.qe) AS DOUBLE)
           / (sqrt(CAST(q.q_norm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos_sim
  FROM n c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM p
) WHERE rank <= 10
""",
)
def sim_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id<10 against
    the full corpus (broadcast queries, single scan, k-bounded window).
    Quantized-integer dot/norms → exact cross-engine values."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, query_ids=list(range(10)), k=10)


def _planes_sql() -> str:
    terms = []
    for p, plane in enumerate(sim.PLANES):
        lits = ", ".join(str(v) for v in plane)
        terms.append(
            f"CASE WHEN list_dot_product(qe, [{lits}]::BIGINT[]) >= 0 "
            f"THEN {1 << p} ELSE 0 END"
        )
    return " + ".join(terms)


@register(
    "sim_ann_lsh_pairs",
    oracle=f"""
WITH e AS (SELECT vec_id, {_QUANT_EMB} AS qe FROM embeddings),
n0 AS (
  SELECT vec_id, qe,
         list_sum(list_transform(qe, x -> x * x)) AS nrm,
         CAST({_planes_sql()} AS BIGINT) AS bucket
  FROM e
),
n AS (
  SELECT * FROM n0
  QUALIFY count(*) OVER (PARTITION BY bucket) <= {sim.ANN_MAX_BUCKET}
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(list_dot_product(a.qe, b.qe) AS DOUBLE)
         / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos_sim
FROM n a JOIN n b USING (bucket)
WHERE a.vec_id < b.vec_id
  AND CAST(list_dot_product(a.qe, b.qe) AS DOUBLE)
        / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.25
""",
)
def sim_ann_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via 8-hyperplane LSH buckets + exact
    in-bucket cosine ≥ 0.25 — the scale path (equi-join on bucket, no
    cross join). Planes are fixed-seed literals shared with the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.ann_lsh_pairs(emb, min_cosine=0.25)


_COS = (
    "CAST(list_dot_product({a}, {b}) AS DOUBLE)"
    " / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))"
)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (SELECT vec_id, {_QUANT_EMB} AS qe FROM embeddings),
n0 AS (
  SELECT vec_id, qe,
         list_sum(list_transform(qe, x -> x * x)) AS nrm,
         CAST({_planes_sql()} AS BIGINT) AS bucket
  FROM e
),
n AS (
  SELECT * FROM n0
  QUALIFY count(*) OVER (PARTITION BY bucket) <= {sim.ANN_MAX_BUCKET}
),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM n a JOIN n b USING (bucket)
  WHERE a.vec_id < b.vec_id
    AND CAST(list_dot_product(a.qe, b.qe) AS DOUBLE)
          / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.25
)
SELECT e.vec_id, emb.label
FROM e JOIN embeddings emb USING (vec_id)
WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
""",
)
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup DEDUP (the last rung of the dedup
    ladder): LSH-blocked candidate pairs at cosine ≥ 0.25, then the
    greedy keep-lowest-id rule — any vector with a lower-id near-dup
    is dropped; survivors pass through. At scale this is the standard
    one-pass semantic-dedup shape: bucket equi-join (no cross join),
    distinct drop-set, broadcast anti-join back onto the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.ann_lsh_pairs(emb, min_cosine=0.25)
    drops = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return emb.join(F.broadcast(drops), "vec_id", "left_anti").select(
        "vec_id", "label"
    )


@register(
    "sim_ivf_topk",
    bench=True,
    oracle=f"""
WITH e AS (SELECT vec_id, {_QUANT_EMB} AS qe FROM embeddings),
n AS (SELECT vec_id, qe, list_sum(list_transform(qe, x -> x * x)) AS nrm FROM e),
cent AS (SELECT vec_id AS cell, qe AS c_emb, nrm AS c_nrm FROM n WHERE vec_id < 8),
asg AS (
  SELECT vec_id, qe, nrm, cell FROM (
    SELECT n.vec_id, n.qe, n.nrm, cent.cell,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             {_COS.format(a='n.qe', b='cent.c_emb', na='n.nrm', nb='cent.c_nrm')} DESC,
             cent.cell ASC) AS rn
    FROM n CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, qe AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 10),
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, cent.cell,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_COS.format(a='q.q_emb', b='cent.c_emb', na='q.q_nrm', nb='cent.c_nrm')} DESC,
             cent.cell ASC) AS rn
    FROM q CROSS JOIN cent
  ) WHERE rn <= 2
),
p AS (
  SELECT q.query_id, a.vec_id AS cand_id,
         {_COS.format(a='q.q_emb', b='a.qe', na='q.q_nrm', nb='a.nrm')} AS cos_sim
  FROM probe
  JOIN asg a USING (cell)
  JOIN q USING (query_id)
  WHERE a.vec_id <> q.query_id
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM p
) WHERE rank <= 10
""",
)
def sim_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-10 (8 cells, 2 probes): the ANN
    scale path where each query scores only its probed inverted lists.
    The oracle replays the identical coarse-quantize/probe/rescore
    pipeline in SQL — approximation and all.

    Ships the Arrow arm (assignment + candidate scoring as int64
    numpy matmuls): bit-identical to the expression arm (parity test
    ``test_ivf_arrow_assign_value_identical``) and measured 2.2× at
    the sf10 rung after the r4 restructure (the query side no longer
    forces a second full-corpus assignment)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb, query_ids=list(range(10)), k=10, n_cells=8, n_probe=2,
        use_arrow=True,
    )


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH {_SHINGLES_CTE}, {_minhash_sig_sql()}, {_minhash_bands_sql()},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), {_JACCARD_CTE},
p AS (
  SELECT j.id_a, j.id_b
  FROM j JOIN cand ON cand.id_a = j.id_a AND cand.id_b = j.id_b
  WHERE inter * 100 >= union_sz * 20
),
drops AS (
  SELECT id_b AS doc_id FROM p WHERE id_b % 2 = 1
  UNION
  SELECT id_a FROM p WHERE id_a % 2 = 1 AND id_b % 2 = 0
)
SELECT doc_id FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM drops)
""",
)
def dedup_incremental_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup, the nightly-crawl shape: odd-id documents are
    the NEW batch, even-id documents the already-kept corpus. The batch
    dedups against the corpus index and against its own lower ids via
    the band join (never corpus x corpus), exact-verifying candidates
    only; returns the kept batch ids. The oracle derives the identical
    keep set from the global verified-pair relation."""
    from stakehouse_etl_spark.operators.dedup import incremental_minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_minhash_dedup(corpus, batch, threshold_pct=20)


# Shared by the plain and bucketed-index streaming dedup arms: the
# streamed kept table must match the global 3-stage greedy unroll.
_STREAM_INC_DEDUP_SQL = f"""
WITH {_SHINGLES_CTE}, {_minhash_sig_sql()}, {_minhash_bands_sql()},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), {_JACCARD_CTE},
p AS (
  SELECT j.id_a, j.id_b
  FROM j JOIN cand ON cand.id_a = j.id_a AND cand.id_b = j.id_b
  WHERE inter * 100 >= union_sz * 20
),
lim AS (SELECT max(doc_id) AS mx FROM documents),
b AS (
  SELECT doc_id,
         CASE WHEN doc_id <= (SELECT mx // 3 FROM lim) THEN 1
              WHEN doc_id <= (SELECT 2 * mx // 3 FROM lim) THEN 2
              ELSE 3 END AS bno
  FROM documents
),
k1 AS (
  SELECT doc_id FROM b WHERE bno = 1 AND doc_id NOT IN (
    SELECT p.id_b FROM p
    JOIN b ba ON ba.doc_id = p.id_a AND ba.bno = 1
    JOIN b bb ON bb.doc_id = p.id_b AND bb.bno = 1)
),
k2 AS (
  SELECT doc_id FROM b WHERE bno = 2 AND doc_id NOT IN (
    SELECT p.id_b FROM p
    JOIN b ba ON ba.doc_id = p.id_a AND ba.bno = 2
    JOIN b bb ON bb.doc_id = p.id_b AND bb.bno = 2
    UNION
    SELECT p.id_b FROM p JOIN k1 ON k1.doc_id = p.id_a
    UNION
    SELECT p.id_a FROM p JOIN k1 ON k1.doc_id = p.id_b
    JOIN b bx ON bx.doc_id = p.id_a AND bx.bno = 2)
),
k12 AS (SELECT doc_id FROM k1 UNION SELECT doc_id FROM k2),
k3 AS (
  SELECT doc_id FROM b WHERE bno = 3 AND doc_id NOT IN (
    SELECT p.id_b FROM p
    JOIN b ba ON ba.doc_id = p.id_a AND ba.bno = 3
    JOIN b bb ON bb.doc_id = p.id_b AND bb.bno = 3
    UNION
    SELECT p.id_b FROM p JOIN k12 ON k12.doc_id = p.id_a
    UNION
    SELECT p.id_a FROM p JOIN k12 ON k12.doc_id = p.id_b
    JOIN b bx ON bx.doc_id = p.id_a AND bx.bno = 3)
)
SELECT doc_id, 1 AS batch_no FROM k1
UNION ALL SELECT doc_id, 2 FROM k2
UNION ALL SELECT doc_id, 3 FROM k3
"""


def _dedup_compact_every() -> int:
    """Compaction cadence (batches) for the plain stored-index arm;
    0 disables."""
    import os

    return int(os.environ.get("SPARK_GRAFT_DEDUP_COMPACT_EVERY", "8"))


def _compact_maybe_fail(point: str, bno_cur: int) -> None:
    """Env-gated crash injection for tools/stream_resume.py (VERDICT
    r10 task 5: kill the plain dedup loop DURING a compaction fold).
    ``SPARK_GRAFT_COMPACT_FAIL_POINT`` names the torn state to create
    (pre_commit | mid_merge | post_commit); the optional
    ``SPARK_GRAFT_COMPACT_FAIL_BNO`` restricts it to one fold event.
    Never set outside the harness."""
    import os

    if os.environ.get("SPARK_GRAFT_COMPACT_FAIL_POINT") != point:
        return
    want_bno = os.environ.get("SPARK_GRAFT_COMPACT_FAIL_BNO")
    if want_bno and int(want_bno) != bno_cur:
        return
    raise RuntimeError(
        f"injected compaction crash at {point} (bno={bno_cur})"
    )


def _compact_plain_index(s: SparkSession, index_dir: str, bno_cur: int) -> None:
    """TIERED fold: rewrite only the POSITIVE pre-batch generations
    (``0 < bno < bno_cur`` — the ones landed since the last
    compaction) into one ``bno=-bno_cur`` run and delete them. Prior
    compacted runs (negative bno) are left untouched, so each
    compaction event costs ~K batch-sizes of IO regardless of total
    state — the first r10 attempt folded the WHOLE index every event
    and its spikes grew with state (measured at 40 batches: 7.1 s at
    batch 24 → 29.8 s at batch 40, Theil-Sen slope +1.75%/batch vs
    +0.24% with compaction off). File count stays bounded at
    ~(batches/K compacted runs + K fresh generations) per index.

    Crash-safe in the same way as the span arm's bucketed compaction
    (pipeline75): the compacted run is fully committed (written to a
    sibling temp, then atomically renamed in) before any original is
    deleted, and the index is a presence structure probed by
    semi-joins and DISTINCT candidate generation — duplicate rows from
    a torn compaction are inert. ``-bno_cur`` sorts below every future
    probe's ``bno < batch`` filter and covers only pre-batch
    generations, so retry executions see content-identical state."""
    import os
    import shutil

    # Orphan sweep (ADVICE r10): fold back sibling tmp dirs a prior
    # torn execution left behind BEFORE reading the index. A `.merge_b`
    # whose `bno=-b` target is missing is the one window where
    # committed content exists ONLY in the tmp (crash between the
    # rename-aside and the rename-in below) — renaming it in completes
    # that fold. An `.old_b` aside is a subset of the merged run, and a
    # `.compact_b` is derivable from still-present positives (both are
    # only created before their content is committed elsewhere), so
    # with the target present they are safe to drop.
    base = os.path.basename(index_dir)
    parent = os.path.dirname(index_dir) or "."

    def _orphans(kind: str) -> list[tuple[int, str]]:
        found = []
        for name in os.listdir(parent):
            if not name.startswith(f"{base}.{kind}_"):
                continue
            try:
                found.append((int(name.rsplit("_", 1)[1]), os.path.join(parent, name)))
            except ValueError:
                continue
        return found

    for kind in ("merge", "old"):
        for b, path in _orphans(kind):
            tgt = os.path.join(index_dir, f"bno=-{b}")
            if not os.path.isdir(tgt):
                os.rename(path, tgt)
            else:
                shutil.rmtree(path, ignore_errors=True)
    for _b, path in _orphans("compact"):
        shutil.rmtree(path, ignore_errors=True)

    comp_tmp = index_dir + f".compact_{bno_cur}"
    (
        s.read.parquet(index_dir)
        .filter((F.col("bno") > 0) & (F.col("bno") < bno_cur))
        .drop("bno")
        .coalesce(32)
        .write.mode("overwrite")
        .parquet(comp_tmp)
    )
    _compact_maybe_fail("pre_commit", bno_cur)
    target = os.path.join(index_dir, f"bno=-{bno_cur}")
    # A retried batch re-runs compaction with the same bno_cur: the
    # positive generations it folds were deleted by the first
    # execution, so the rewrite lands a subset of the existing
    # -bno_cur run — replacing it is content-safe (presence semantics)
    # only if we KEEP the superset; skip the swap when the target
    # already exists and no positive generation remains to fold.
    if os.path.isdir(target):
        has_positive = any(
            sub.startswith("bno=") and int(sub.split("=", 1)[1]) > 0
            and int(sub.split("=", 1)[1]) < bno_cur
            for sub in os.listdir(index_dir)
        )
        if not has_positive:
            shutil.rmtree(comp_tmp, ignore_errors=True)
            return
        # Torn state: target exists AND positives remain — merge both
        # into a fresh target (rewrite target's content + positives).
        merged_tmp = index_dir + f".merge_{bno_cur}"
        (
            s.read.parquet(index_dir)
            .filter(F.col("bno") == -bno_cur)
            .drop("bno")
            .unionByName(s.read.parquet(comp_tmp))
            .coalesce(32)
            .write.mode("overwrite")
            .parquet(merged_tmp)
        )
        shutil.rmtree(comp_tmp, ignore_errors=True)
        # Never delete the committed target before its replacement is
        # in place (ADVICE r10): rename it ASIDE, rename the merge in,
        # then drop the aside. A crash between the two renames leaves
        # the content in `.merge_` (recovered by the entry sweep); a
        # crash after leaves only the subset-aside (safe to drop).
        aside = index_dir + f".old_{bno_cur}"
        shutil.rmtree(aside, ignore_errors=True)
        os.rename(target, aside)
        _compact_maybe_fail("mid_merge", bno_cur)
        os.rename(merged_tmp, target)
        shutil.rmtree(aside, ignore_errors=True)
    else:
        os.rename(comp_tmp, target)
    _compact_maybe_fail("post_commit", bno_cur)
    for sub in os.listdir(index_dir):
        if not sub.startswith("bno="):
            continue
        b = int(sub.split("=", 1)[1])
        if 0 < b < bno_cur:
            shutil.rmtree(os.path.join(index_dir, sub), ignore_errors=True)


@register(
    "stream_incremental_dedup",
    oracle=_STREAM_INC_DEDUP_SQL,
)
def stream_incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus maintenance as a STREAM: three doc_id-tercile micro-
    batches arrive in order through the file source; ``foreachBatch``
    dedups each against the kept-so-far corpus via the STORED MinHash
    index — a band table + shingle-set table maintained alongside the
    kept ids (the 100 TB shape ``incremental_minhash_dedup``'s
    docstring prescribes) — and lands the survivors' index rows for
    the next batch. The steady-state crawl-ingest loop (stream side of
    ``dedup_incremental_batch``). The oracle unrolls the three-stage
    greedy process over the global verified-pair relation; the final
    kept table must match it exactly.

    Why the index (r8): the r7/r8 fuzz caught the recompute form —
    ``incremental_minhash_dedup(corpus_text, batch)`` re-shingles and
    re-bands the WHOLE kept corpus every batch, so per-batch wall grew
    7.9 → 13.6 s across the 9-batch sf10 horizon (stored corpus at 8×
    batch size), the superlinear signature that kills the "batch-sized
    at any corpus size" claim at 100×. With the stored index the
    per-batch work is the batch's own shingling plus columnar index
    probes. Banding and set-building are deterministic, so stored rows
    equal what the recompute form derives — value-identical by
    construction, proved by the unchanged oracle."""
    import tempfile

    with tempfile.TemporaryDirectory(
        prefix="stream_dedup_", ignore_cleanup_errors=True
    ) as workdir:
        out = incremental_dedup_run(spark, sf_dir, workdir)
        return spark.createDataFrame(out.collect(), out.schema)


def incremental_dedup_run(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    fail_mid_batch: int | None = None,
) -> DataFrame:
    """Resumable core of ``stream_incremental_dedup``: all state —
    staged source, streaming checkpoint, kept output, band + set
    indexes (and their tiered compaction folds) — lives under the
    caller's ``workdir``, so a run killed mid-batch (or mid-fold, via
    the ``SPARK_GRAFT_COMPACT_FAIL_POINT`` injection in
    ``_compact_plain_index``) resumes from the checkpoint and must
    produce output hash-identical to an uninterrupted run
    (tools/stream_resume.py --arm plain exercises that at sf10; the
    caller owns teardown).

    ``fail_mid_batch``: crash injection — raise inside that batch_id
    AFTER the kept-ids write but BEFORE the index landings (the torn
    mid-batch state the per-batch overwrite retry path exists for)."""
    import os

    from stakehouse_etl_spark.caches import cache_scope, persist_tracked
    from stakehouse_etl_spark.operators.dedup import (
        incremental_minhash_dedup_indexed,
        minhash_index_for,
    )
    from stakehouse_etl_spark.streaming.staging import (
        run_stream,
        stage_id_range_batches,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # Shared scaffold (streaming/staging.py): one mtime-ordered
    # single-file chunk per intended micro-batch; batch count 3 at
    # the gates, SPARK_GRAFT_STREAM_BATCHES for the fuzz harness.
    src = stage_id_range_batches(docs, workdir)
    kept_dir = os.path.join(workdir, "kept")
    bands_dir = os.path.join(workdir, "band_index")
    sets_dir = os.path.join(workdir, "set_index")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch_no derives from the engine's batch_id and each
        # batch OVERWRITES its own bno=<n> subdirectory in all
        # three stored tables — same retry-idempotence shape as
        # stream_span_scrub (review r7): a foreachBatch
        # re-execution neither double-counts the batch number nor
        # double-appends survivors, and every probe excludes the
        # batch's own (already committed) partitions so the retry
        # sees the exact state the first execution saw.
        s = batch_df.sparkSession
        bno = int(batch_id) + 1
        # Only the batch-0 PATH-MISSING case may fall back to an
        # empty index; any other read failure must propagate —
        # a swallowed error silently skips dedup for the whole
        # batch (ADVICE r7's wrong-answer-path class). BOTH dirs
        # must exist: writes land bands before sets, so a crash
        # between them leaves bands committed and sets missing —
        # that is the batch-1 partial-commit retry state (its own
        # bno would be filtered out anyway), not a corrupt index,
        # and the retry must see the same empty corpus the first
        # execution saw rather than fail on the sets read forever
        # (review r8).
        if os.path.exists(bands_dir) and os.path.exists(sets_dir):
            corpus_bands = (
                s.read.parquet(bands_dir)
                .filter(F.col("bno") < bno)
                .select("doc_id", "band_idx", "band_key")
            )
            corpus_sets = (
                s.read.parquet(sets_dir)
                .filter(F.col("bno") < bno)
                .select("doc_id", "shingle_set", "n_sh")
            )
        else:
            corpus_bands = s.createDataFrame(
                [], "doc_id long, band_idx int, band_key string"
            )
            corpus_sets = s.createDataFrame(
                [],
                "doc_id long, shingle_set array<string>, n_sh long",
            )
        # cache_scope: the per-batch persists (the batch shingle
        # table) release at batch end — on a 9-batch horizon the
        # old leak-until-session-clear shape held 2 frames/batch.
        with cache_scope():
            batch_bands, batch_sets = minhash_index_for(batch_df)
            # Three actions consume these (the kept_ids write and
            # the two index landings); persisted, the banding /
            # set-collection shuffles run once per batch instead
            # of three times (review r8).
            batch_bands = persist_tracked(batch_bands)
            batch_sets = persist_tracked(batch_sets)
            kept_ids = incremental_minhash_dedup_indexed(
                corpus_bands,
                corpus_sets,
                batch_bands,
                batch_sets,
                batch_df.select("doc_id"),
            )
            kept_ids.write.mode("overwrite").parquet(
                os.path.join(kept_dir, f"bno={bno}")
            )
            if fail_mid_batch is not None and int(batch_id) == int(
                fail_mid_batch
            ):
                raise RuntimeError(
                    f"injected mid-batch crash at batch {batch_id}: "
                    f"output committed, index NOT landed"
                )
            # Land the SURVIVORS' index rows (the corpus side of
            # every later batch is kept docs only, matching the
            # recompute form's corpus = kept table).
            kept_again = s.read.parquet(
                os.path.join(kept_dir, f"bno={bno}")
            )
            batch_bands.join(kept_again, "doc_id", "semi").write.mode(
                "overwrite"
            ).parquet(os.path.join(bands_dir, f"bno={bno}"))
            batch_sets.join(kept_again, "doc_id", "semi").write.mode(
                "overwrite"
            ).parquet(os.path.join(sets_dir, f"bno={bno}"))
        # INDEX COMPACTION every K batches (r10, VERDICT r9 #3):
        # each batch lands one generation (32 files) per index, so
        # at long horizons every probe's scan re-plans and re-reads
        # k generations of small files — the same local-cost growth
        # term the span family's bucketed arm retired with
        # compaction (slope +1.8% → +0.41%/batch). Runs AFTER the
        # batch's own landing and folds only PRE-batch generations
        # (bno < current), so a re-executed batch still probes
        # exactly the state its first execution saw (the compacted
        # generation is content-equal to the originals it
        # replaces); the index is probed by semi/anti joins and
        # DISTINCT candidates, so a crash between the compacted
        # write and the original deletes leaves duplicates that
        # cannot change any result.
        ce = _dedup_compact_every()
        if ce and bno > 1 and bno % ce == 0:
            for d in (bands_dir, sets_dir):
                _compact_plain_index(s, d, bno)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # Surfaces a foreachBatch failure (the injected crash, or any real
    # one) as an exception.
    run_stream(stream.writeStream.foreachBatch(apply_batch), workdir)
    # Lazy frame over workdir state; the registered wrapper collects
    # before tearing the workdir down, resume harnesses read in place.
    return spark.read.parquet(kept_dir).select(
        "doc_id", F.col("bno").cast("int").alias("batch_no")
    )


@register(
    "stream_incremental_dedup_bucketed",
    oracle=_STREAM_INC_DEDUP_SQL,
)
def stream_incremental_dedup_bucketed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``stream_incremental_dedup`` with BOTH stored index tables
    landed as bucketed catalog tables and the probe restructured
    (``incremental_minhash_dedup_probed``) so the per-batch plan has
    no state-sized EXCHANGE: the band table is bucketed on (band_idx,
    band_key), the set table on doc_id, and the hot-bucket cap is a
    shuffle-free bucketed count + broadcast anti-join of the over-cap
    keys instead of a window over corpus∪batch.

    MEASURED NEGATIVE RESULT (r9, kept as the documented experiment —
    the PLAIN arm remains the recommended form): at the 20-batch sf10
    horizon this arm's per-batch wall GROWS +7.7%/batch (10 → 38 s)
    while the plain arm stays flat (~5.5 s). Removing the exchange is
    not the win here: the plain form's union window plus both join
    consumers share ONE pass over the state via exchange reuse,
    whereas the split probe makes TWO full passes (the count agg and
    the candidate join's sort) — static plans: 31 exchanges/27 sorts
    vs the window form's 15/11. Bucketing pays when it REMOVES a pass
    (the span arm's redundant per-batch distinct), not when the
    restructure adds one. Value-identical throughout (same oracle,
    equivalence + cap-exactness pinned in tests/test_bucketed_index)."""
    import os
    import tempfile
    import uuid

    from stakehouse_etl_spark.caches import cache_scope, persist_tracked
    from stakehouse_etl_spark.operators.dedup import (
        incremental_minhash_dedup_probed,
        minhash_index_for,
    )
    from stakehouse_etl_spark.streaming.staging import (
        run_stream,
        stage_id_range_batches,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    run_id = uuid.uuid4().hex[:12]
    bands_tbl = f"band_idx_{run_id}"
    sets_tbl = f"set_idx_{run_id}"
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    with tempfile.TemporaryDirectory(
        prefix="stream_dedup_bkt_", ignore_cleanup_errors=True
    ) as workdir:
        try:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            src = stage_id_range_batches(docs, workdir)
            kept_dir = os.path.join(workdir, "kept")

            def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
                s = batch_df.sparkSession
                bno = int(batch_id) + 1
                have_idx = s.catalog.tableExists(bands_tbl) and (
                    s.catalog.tableExists(sets_tbl)
                )
                if have_idx:
                    corpus_bands = (
                        s.table(bands_tbl)
                        .filter(F.col("bno") < bno)
                        .select("doc_id", "band_idx", "band_key")
                    )
                    corpus_sets = (
                        s.table(sets_tbl)
                        .filter(F.col("bno") < bno)
                        .select("doc_id", "shingle_set", "n_sh")
                    )
                else:
                    corpus_bands = s.createDataFrame(
                        [], "doc_id long, band_idx int, band_key string"
                    )
                    corpus_sets = s.createDataFrame(
                        [],
                        "doc_id long, shingle_set array<string>, n_sh long",
                    )
                with cache_scope():
                    batch_bands, batch_sets = minhash_index_for(batch_df)
                    batch_bands = persist_tracked(batch_bands)
                    batch_sets = persist_tracked(batch_sets)
                    kept_ids = incremental_minhash_dedup_probed(
                        corpus_bands,
                        corpus_sets,
                        batch_bands,
                        batch_sets,
                        batch_df.select("doc_id"),
                    )
                    kept_ids.write.mode("overwrite").parquet(
                        os.path.join(kept_dir, f"bno={bno}")
                    )
                    kept_again = s.read.parquet(
                        os.path.join(kept_dir, f"bno={bno}")
                    )
                    land_bands = (
                        batch_bands.join(kept_again, "doc_id", "semi")
                        .withColumn("bno", F.lit(bno))
                    )
                    land_sets = (
                        batch_sets.join(kept_again, "doc_id", "semi")
                        .withColumn("bno", F.lit(bno))
                    )
                    if not s.catalog.tableExists(bands_tbl):
                        # EXTERNAL tables under the query's tempdir — the
                        # managed default is the driver session's
                        # warehouse dir, not assumed writable.
                        land_bands.write.partitionBy("bno").bucketBy(
                            32, "band_idx", "band_key"
                        ).sortBy("band_idx", "band_key").option(
                            "path", os.path.join(workdir, "bands_tbl")
                        ).mode("overwrite").saveAsTable(bands_tbl)
                    else:
                        land_bands.select(
                            "doc_id", "band_idx", "band_key", "bno"
                        ).write.insertInto(bands_tbl, overwrite=True)
                    if not s.catalog.tableExists(sets_tbl):
                        land_sets.write.partitionBy("bno").bucketBy(
                            32, "doc_id"
                        ).sortBy("doc_id").option(
                            "path", os.path.join(workdir, "sets_tbl")
                        ).mode("overwrite").saveAsTable(sets_tbl)
                    else:
                        land_sets.select(
                            "doc_id", "shingle_set", "n_sh", "bno"
                        ).write.insertInto(sets_tbl, overwrite=True)

            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            run_stream(stream.writeStream.foreachBatch(apply_batch), workdir)
            out = spark.read.parquet(kept_dir).select(
                "doc_id", F.col("bno").cast("int").alias("batch_no")
            )
            return spark.createDataFrame(out.collect(), out.schema)
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
            spark.sql(f"DROP TABLE IF EXISTS {bands_tbl}")
            spark.sql(f"DROP TABLE IF EXISTS {sets_tbl}")
