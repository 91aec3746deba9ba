"""Data-pipeline queries, wave 77: the train-ready corpus export.

The one query a 100 TB curation run actually ships: the FULL tier
ladder composed end-to-end over the raw document table —

  eval holdout  → quality gate → LM-perplexity filter → exact dedup
  → capped-LSH near-dup collapse → decontamination screen
  → keep-first span scrub → temperature mixing → sequence packing
  → token-balanced sharding

— emitted as ONE ledger with a row per input document: its fate
(which stage dropped it, or ``kept``), the canonical doc it collapsed
into, and — for survivors — the post-scrub token count, cleaned-text
fingerprint, pack offset/chunk, loader shard, and its source's
temperature-mix oversample factor. Every stage reuses the exact
arithmetic of its standalone oracle-proven query (cited per stage
below), so this pipeline is the composition CONTRACT: its ``kept``
set is definitionally what the standalone stages would keep when run
in this order.

Stage order: drops run cheapest-first on successively thinned
survivor sets (quality and perplexity are scans/joins; the LSH tier
and span scrub only ever see docs that survived them), the span scrub
runs LAST of the content stages because it rewrites text (running
doc-level dedup on scrubbed text would need re-fingerprinting), and
mixing/packing/sharding are pure metadata over the final kept set.

Scale shape (100 TB): one corpus scan feeds the quality gate; the LM
is two vocab-scale count tables (corpus_lm_perplexity's shape); exact
dedup shuffles only (doc_id, fp); near-dup rides the capped banded
LSH tier (bounded candidates, never all-pairs); decontamination is a
shingle equi-join against the eval set (AQE-sized, no broadcast pin —
an eval corpus is small by design but nothing here requires it); the
span scrub is three linear shuffles + a per-doc window; mix runs on
the #sources table; pack is the two-phase parallel-prefix cumsum;
shard is the decomposed no-single-partition rank. No row-scale
global window, no row-scale broadcast, no driver loop anywhere.

Reference anchor: the reference repo has no corpus layer; this closes
the builder brief's "end-to-end training-data pipeline" capability
(tier-ladder contract at operators/dedup.py:373; stage queries:
corpus.py pipeline_corpus_clean, pipeline76 corpus_lm_perplexity,
pipeline73 corpus_span_scrub, pipeline18 corpus_decontaminate_counts,
pipeline17 corpus_mix_temperature / corpus_shard_assign, pipeline2
corpus_pack_sequences).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.caches import checkpoint_tracked, persist_tracked
from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.alloc import largest_remainder_alloc
from stakehouse_etl_spark.operators.dedup import near_dup_pairs
from stakehouse_etl_spark.operators.graph import connected_components
from stakehouse_etl_spark.operators.text import (
    normalized_fingerprint,
    quality_features,
    shingles_from_toks,
    tokens,
)
from stakehouse_etl_spark.operators.windows import skew_resistant_rank
from stakehouse_etl_spark.queries.pipeline73 import (
    SPAN_K,
    _later_claimant_positions,
    _positional_grams,
    _scrub_tail,
)
from stakehouse_etl_spark.queries.pipeline76 import KEEP_MARGIN_MICRO
from stakehouse_etl_spark.queries.registry import register

# Stage policy constants — IMPORTED from the standalone stage queries
# (not copied) so a retuned stage policy cannot silently diverge from
# this composition's claim of being their definitional contract
# (review r7; the Spark arm and oracle here share each value, so a
# copy drift would be invisible to the value-hash gate).
from stakehouse_etl_spark.queries.pipeline2 import (  # noqa: E402
    PACK_CAP as _PACK_CAP,
    _BENCH_SOURCES as _EVAL_SOURCES,
    _PACK_BUCKET,
)
from stakehouse_etl_spark.queries.pipeline17 import (  # noqa: E402
    _N_SHARDS,
    _TEMP_BUDGET as _MIX_BUDGET,
)
from stakehouse_etl_spark.queries.pipeline18 import (  # noqa: E402
    _DECON_PCT,
)

_ND_PCT = 20  # near-dup Jaccard threshold (pipeline_corpus_clean)

_TOKS_RAW = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_EVAL_SRC_SQL = ", ".join(f"'{s}'" for s in _EVAL_SOURCES)


def _export_sql() -> str:
    from stakehouse_etl_spark.queries.corpus import _QUALITY_KEEP
    from stakehouse_etl_spark.queries.datapipe import _EN, _lsh_jaccard_cte

    return f"""
WITH RECURSIVE
t AS MATERIALIZED (
  SELECT doc_id, source, text,
         {_TOKS_RAW} AS toks_q,
         list_filter({_TOKS_RAW}, x -> x <> '') AS toks
  FROM documents
),
tr AS (SELECT * FROM t WHERE source NOT IN ({_EVAL_SRC_SQL})),
f AS (
  SELECT doc_id, source, text, toks, toks_q,
         len(toks_q) AS n_tok, length(text) AS n_chars,
         len(list_filter(toks_q, x -> x IN ({_EN}))) AS stop,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM tr
),
qflag AS MATERIALIZED (
  SELECT doc_id, source, text, toks, toks_q, ({_QUALITY_KEEP}) AS q_ok
  FROM f
),
q AS MATERIALIZED (SELECT doc_id, source, text, toks, toks_q FROM qflag WHERE q_ok),
uni AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS cu
  FROM (SELECT unnest(toks) AS w FROM q) GROUP BY w
),
v_t AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
bi AS MATERIALIZED (
  SELECT bg, CAST(count(*) AS BIGINT) AS cb
  FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM q
  ) GROUP BY bg
),
tb AS (
  SELECT doc_id, u.w1, u.w1 || ' ' || u.w2 AS bg
  FROM q, LATERAL (
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
pagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lp) AS BIGINT) AS s
  FROM scored GROUP BY doc_id
),
per_doc AS MATERIALIZED (
  SELECT doc_id,
         CAST(floor(CAST(s AS DOUBLE) / n_bigrams) AS BIGINT) AS avg_lp
  FROM pagg WHERE n_bigrams > 0
),
m_t AS (
  SELECT CAST(floor(CAST(sum(avg_lp) AS DOUBLE) / count(*)) AS BIGINT)
           AS mean_lp
  FROM per_doc
),
pflag AS MATERIALIZED (
  SELECT q.doc_id,
         CASE WHEN p.avg_lp IS NOT NULL
              THEN p.avg_lp >= (SELECT mean_lp FROM m_t)
                               - {KEEP_MARGIN_MICRO}
              ELSE FALSE END AS p_ok
  FROM q LEFT JOIN per_doc p USING (doc_id)
),
p AS MATERIALIZED (
  SELECT q.doc_id, q.source, q.text, q.toks, q.toks_q
  FROM q JOIN pflag ON pflag.doc_id = q.doc_id WHERE pflag.p_ok
),
fpt AS MATERIALIZED (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM p
),
cm AS (SELECT fp, min(doc_id) AS canon FROM fpt GROUP BY fp),
ex AS MATERIALIZED (SELECT doc_id, canon FROM fpt JOIN cm USING (fp)),
es AS MATERIALIZED (
  SELECT p.doc_id, p.source, p.text, p.toks, p.toks_q
  FROM p JOIN ex ON ex.doc_id = p.doc_id WHERE ex.canon = p.doc_id
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(toks_q) - 1),
           i -> toks_q[i] || ' ' || toks_q[i+1] || ' ' || toks_q[i+2]
         ))) AS shingle
  FROM es
),
s2 AS MATERIALIZED (SELECT * FROM s WHERE shingle <> ''),
c AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM s2 GROUP BY doc_id),
{_lsh_jaccard_cte()},
edges AS (
  SELECT id_a AS a, id_b AS b FROM j
  WHERE inter * 100 >= union_sz * {_ND_PCT}
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS MATERIALIZED (
  SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a
),
ns AS MATERIALIZED (
  SELECT es.doc_id, es.source, es.text, es.toks, es.toks_q
  FROM es LEFT JOIN comp cp ON cp.doc_id = es.doc_id
  WHERE cp.component IS NULL OR cp.component >= es.doc_id
),
evs AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_distinct(list_transform(
      range(1, len(toks_q) - 1),
      i -> toks_q[i] || ' ' || toks_q[i+1] || ' ' || toks_q[i+2]
    ))) AS shingle
    FROM t WHERE source IN ({_EVAL_SRC_SQL})
  ) WHERE shingle <> ''
),
dcm AS (
  SELECT s2.doc_id, CAST(count(*) AS BIGINT) AS n_matched
  FROM s2 JOIN evs USING (shingle)
  GROUP BY s2.doc_id
),
dflag AS MATERIALIZED (
  SELECT ns.doc_id,
         coalesce(m.n_matched, 0) * 100
           > coalesce(c.n_sh, 0) * {_DECON_PCT} AS contaminated
  FROM ns
  LEFT JOIN c ON c.doc_id = ns.doc_id
  LEFT JOIN dcm m ON m.doc_id = ns.doc_id
),
kept AS MATERIALIZED (
  SELECT ns.doc_id, ns.source, ns.text, ns.toks, ns.toks_q
  FROM ns JOIN dflag ON dflag.doc_id = ns.doc_id
  WHERE NOT dflag.contaminated
),
g AS MATERIALIZED (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         md5(array_to_string(toks[u.i + 1 : u.i + {SPAN_K}], ' ')) AS gram
  FROM kept, LATERAL (
    SELECT unnest(range(0, greatest(len(toks) - {SPAN_K} + 1, 0))) AS i
  ) u
),
firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
occ AS (
  SELECT doc_id, pos FROM g JOIN firsts USING (gram)
  WHERE first_doc < doc_id
),
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
),
cov AS (
  SELECT sp.doc_id, CAST(u.p AS BIGINT) AS p
  FROM sp, LATERAL (SELECT unnest(range(s, e + 1)) AS p) u
),
tok AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS tpos, toks[u.i + 1] AS tok
  FROM kept, LATERAL (SELECT unnest(range(0, len(toks))) AS i) u
),
keptt AS (
  SELECT k.doc_id, k.tpos, k.tok
  FROM tok k LEFT JOIN cov cv ON k.doc_id = cv.doc_id AND k.tpos = cv.p
  WHERE cv.p IS NULL
),
reb AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY tpos)) AS cleaned_fp
  FROM keptt GROUP BY doc_id
),
scrub AS MATERIALIZED (
  SELECT k.doc_id, k.source,
         CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         r.cleaned_fp
  FROM kept k LEFT JOIN reb r ON r.doc_id = k.doc_id
),
mt AS MATERIALIZED (
  SELECT source, CAST(sum(n_kept) AS BIGINT) AS src_tok
  FROM scrub GROUP BY source
),
mw AS (
  SELECT source, src_tok,
         CAST(floor(sqrt(CAST(src_tok AS DOUBLE)) * 1000) AS BIGINT)
           AS w_int
  FROM mt
),
mg AS (
  SELECT source, src_tok, w_int,
         CAST(({_MIX_BUDGET} * w_int) // sum(w_int) OVER () AS BIGINT)
           AS base_alloc,
         CAST(({_MIX_BUDGET} * w_int) % sum(w_int) OVER () AS BIGINT)
           AS rem
  FROM mw
),
mr AS (
  SELECT *, CAST({_MIX_BUDGET} - sum(base_alloc) OVER () AS BIGINT)
              AS leftover,
         CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
           AS rnk
  FROM mg
),
mix AS (
  SELECT source, src_tok,
         CAST(base_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
              AS BIGINT) AS final_alloc
  FROM mr
),
pk AS (
  SELECT doc_id,
         CAST(sum(n_kept) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_kept
              AS BIGINT) AS start_off
  FROM scrub
),
shd AS (
  SELECT doc_id,
         CAST((row_number() OVER (ORDER BY n_kept DESC, doc_id) - 1)
              % {_N_SHARDS} AS BIGINT) AS shard
  FROM scrub
)
SELECT t.doc_id, t.source,
       CASE WHEN t.source IN ({_EVAL_SRC_SQL}) THEN 'eval_holdout'
            WHEN NOT coalesce(qf.q_ok, FALSE) THEN 'quality'
            WHEN NOT coalesce(pf.p_ok, FALSE) THEN 'perplexity'
            WHEN ex.canon <> t.doc_id THEN 'exact_dup'
            WHEN cp.component IS NOT NULL AND cp.component < t.doc_id
              THEN 'near_dup'
            WHEN df.contaminated THEN 'contaminated'
            ELSE 'kept' END AS status,
       CASE WHEN t.source IN ({_EVAL_SRC_SQL}) THEN NULL
            WHEN NOT coalesce(qf.q_ok, FALSE) THEN NULL
            WHEN NOT coalesce(pf.p_ok, FALSE) THEN NULL
            WHEN ex.canon <> t.doc_id THEN ex.canon
            WHEN cp.component IS NOT NULL AND cp.component < t.doc_id
              THEN cp.component
            WHEN df.contaminated THEN NULL
            ELSE t.doc_id END AS canonical_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       sc.n_kept AS n_kept,
       sc.cleaned_fp AS cleaned_fp,
       pk.start_off AS start_off,
       CAST(pk.start_off // {_PACK_CAP} AS BIGINT) AS chunk_id,
       shd.shard AS shard,
       CASE WHEN sc.doc_id IS NOT NULL AND mx.src_tok > 0
            THEN CAST(mx.final_alloc AS DOUBLE) / mx.src_tok END
         AS oversample_factor
FROM t
LEFT JOIN qflag qf ON qf.doc_id = t.doc_id
LEFT JOIN pflag pf ON pf.doc_id = t.doc_id
LEFT JOIN ex ON ex.doc_id = t.doc_id
LEFT JOIN comp cp ON cp.doc_id = t.doc_id
LEFT JOIN dflag df ON df.doc_id = t.doc_id
LEFT JOIN scrub sc ON sc.doc_id = t.doc_id
LEFT JOIN pk ON pk.doc_id = t.doc_id
LEFT JOIN shd ON shd.doc_id = t.doc_id
LEFT JOIN mix mx ON mx.source = sc.source
"""



def _ckpt_stage(name: str, df: DataFrame) -> DataFrame:
    """Stage-boundary materialization: eager ``localCheckpoint``.

    The composed pipeline is ~10 stages deep and most stage outputs
    feed BOTH the next stage and the final ledger join. Plain
    DataFrame reuse shares logical subtrees by reference, but Catalyst
    rule rewrites COPY subtrees, so a deep reuse chain re-expands into
    a tree whose size is the product of the reuse counts — measured
    here as minutes of optimizer time and a driver OOM at sf0.001
    (the DuckDB oracle hit the same explosion and pins each reused
    CTE with AS MATERIALIZED). Truncating lineage at every survivor
    boundary keeps each stage's plan one stage deep, so total
    planning cost is linear in stages — which is also exactly what a
    production multi-stage curation run does (each tier lands in
    storage before the next reads it). ``checkpoint_tracked``
    registers the pinned blocks for deterministic release at the
    caller's action boundary (ADVICE r7: bare ``localCheckpoint``
    left ~10 stage outputs — several carrying full text columns — to
    the ContextCleaner). The storage-landing twin is
    ``_land_stage_factory`` / ``pipeline_corpus_export_landed``.
    """
    del name  # stage names are for the landing twin's layout
    # DISK_ONLY stage cuts (r8): several stages carry full text; at
    # sf30 their MEMORY_AND_DISK blocks collectively exceeded the 8 g
    # heap and a mid-unroll OOM killed the SparkContext. Disk-backed
    # cuts bound the memory at any scale — the in-memory arm becomes
    # a tempdir-landed pipeline, one step shy of the restartable
    # parquet twin (pipeline_corpus_export_landed).
    from pyspark.storagelevel import StorageLevel

    return checkpoint_tracked(df, level=StorageLevel.DISK_ONLY)


def _land_stage_factory(
    base_dir: str,
    resume: bool = False,
    fail_after: int | None = None,
    written: list | None = None,
):
    """Stage-boundary materialization that LANDS each stage as parquet
    under ``base_dir/<stage_name>`` — the restartable production form
    of ``_ckpt_stage`` (VERDICT r7 task 5): a driver death between
    stages loses nothing; a re-run with ``resume=True`` reuses every
    stage whose ``_SUCCESS`` marker exists (Spark's commit protocol
    writes the marker only after a complete job, so a mid-write crash
    leaves no marker and the stage re-runs) and recomputes only from
    the first missing stage. ``fail_after=k`` injects a crash
    immediately after the k-th actually-written stage (test hook);
    ``written`` collects the names of stages that were (re)computed,
    so the resume test can assert stages before the crash point were
    NOT re-run.
    """
    state = {"n": 0}

    def stage(name: str, df: DataFrame) -> DataFrame:
        path = os.path.join(base_dir, name)
        if not (resume and os.path.exists(os.path.join(path, "_SUCCESS"))):
            df.write.mode("overwrite").parquet(path)
            state["n"] += 1
            if written is not None:
                written.append(name)
            if fail_after is not None and state["n"] >= fail_after:
                raise RuntimeError(
                    f"injected crash after landing stage '{name}'"
                )
        return df.sparkSession.read.parquet(path)

    return stage

def _lm_keep_flags(q: DataFrame) -> DataFrame:
    """(doc_id, p_ok): the CCNet-style self-calibrating bigram-LM keep
    flag of ``corpus_lm_perplexity`` (pipeline76) with the LM trained
    on — and scoring — the SAME survivor set ``q`` (doc_id, toks).
    Identical micro-nat integer discipline; see pipeline76 for the
    exactness argument."""
    uni = persist_tracked(
        q.select(F.explode("toks").alias("w"))
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
        q.select(F.explode(bigram_arr).alias("bg"))
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
    ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))
    tb = q.select("doc_id", F.explode(pair_arr).alias("pr")).select(
        "doc_id", F.col("pr.w1").alias("w1"), F.col("pr.bg").alias("bg")
    )
    lp = F.floor(
        F.lit(1000000).cast("double")
        * F.log(
            (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("v")).cast("double")
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
        F.sum("lp").cast("long").alias("s"),
    )
    per_doc = agg.filter(F.col("n_bigrams") > 0).withColumn(
        "avg_lp",
        F.floor(F.col("s").cast("double") / F.col("n_bigrams")).cast("long"),
    )
    m_t = per_doc.agg(
        F.floor(F.sum("avg_lp").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_lp")
    )
    return (
        q.select("doc_id")
        .join(per_doc.select("doc_id", "avg_lp"), "doc_id", "left")
        .join(F.broadcast(m_t))
        .select(
            "doc_id",
            F.when(
                F.col("avg_lp").isNotNull(),
                F.col("avg_lp")
                >= F.col("mean_lp") - F.lit(KEEP_MARGIN_MICRO),
            )
            .otherwise(F.lit(False))
            .alias("p_ok"),
        )
    )


def _export_ledger(spark: SparkSession, sf_dir: str, stage_cut) -> DataFrame:
    """The export pipeline body, parameterized by the stage-boundary
    materialization strategy ``stage_cut(name, df) -> DataFrame`` — either
    ``_ckpt_stage`` (executor-memory, fast, lost on driver death) or a
    ``_land_stage_factory`` lander (parquet per stage, restartable)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    is_eval = F.col("source").isin(*_EVAL_SOURCES)
    train = docs.filter(~is_eval)
    # qf feeds the survivor chain AND the final ledger join — stage-
    # cut it like every other multi-consumer stage output (review r7:
    # without the cut the ledger re-runs the full quality scan).
    qf = stage_cut(
        "s01_qflag",
        quality_features(train).select(
            "doc_id",
            "source",
            "text",
            (F.col("quality_score") >= 0.5).alias("q_ok"),
        )
    )
    filt_toks = F.filter(tokens(F.col("text")), lambda x: x != "")
    # q feeds the LM (3 consumers) and the downstream survivor chain.
    q = stage_cut("s02_q", 
        qf.filter("q_ok").select(
            "doc_id", "source", "text", filt_toks.alias("toks")
        )
    )
    # pflag/ex/comp/dflag feed both the survivor chain AND the final
    # ledger join — stage-cut them too so the ledger's plan stays one
    # stage deep per input (see _stage).
    pflag = stage_cut("s03_pflag", _lm_keep_flags(q))
    p = q.join(
        pflag.filter("p_ok").select("doc_id"), "doc_id", "left_semi"
    )
    # Exact dedup: shuffle only (doc_id, fp); winners semi-join back
    # (the pipeline_corpus_clean shape — text never crosses an
    # exchange).
    fpt = p.select(
        "doc_id", normalized_fingerprint(F.col("text")).alias("fp")
    )
    cm = fpt.groupBy("fp").agg(F.min("doc_id").alias("canon"))
    ex = stage_cut("s04_ex", fpt.join(cm, "fp").select("doc_id", "canon"))
    es = stage_cut("s05_es", 
        p.join(
            ex.filter(F.col("canon") == F.col("doc_id")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    )
    # Near-dup: capped banded LSH (bounded candidates) + CC collapse.
    edges = near_dup_pairs(es, threshold_pct=_ND_PCT).select(
        "id_a", "id_b"
    )
    comp = stage_cut("s06_comp", 
        connected_components(
            edges, src="id_a", dst="id_b"
        ).withColumnRenamed("node", "doc_id")
    )
    ns = stage_cut("s07_ns", 
        es.join(
            comp.filter(F.col("component") < F.col("doc_id")).select(
                "doc_id"
            ),
            "doc_id",
            "left_anti",
        )
    )
    # Decontamination: distinct survivor shingles vs the eval-holdout
    # shingle set. No broadcast pin (an eval set is small by design,
    # but AQE should decide — the r5/r6 rounds removed every row-scale
    # broadcast pin for exactly this reason).
    # Token arrays bound before the explodes (r11): inline
    # shingles(text) re-splits the text ~7x per doc (see doc_shingles).
    evs = (
        docs.filter(is_eval)
        .withColumn("__toks", tokens(F.col("text")))
        .select(
            F.explode(shingles_from_toks(F.col("__toks"))).alias("shingle")
        )
        .filter(F.col("shingle") != "")
        .distinct()
    )
    nssh = (
        ns.withColumn("__toks", tokens(F.col("text")))
        .select(
            "doc_id",
            F.explode(shingles_from_toks(F.col("__toks"))).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )
    c_ns = nssh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    dcm = (
        nssh.join(evs, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    dflag = stage_cut("s08_dflag", 
        ns.select("doc_id")
        .join(c_ns, "doc_id", "left")
        .join(dcm, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("n_matched"), F.lit(0)) * 100
                > F.coalesce(F.col("n_sh"), F.lit(0)) * _DECON_PCT
            ).alias("contaminated"),
        )
    )
    kept = stage_cut("s09_kept", 
        ns.join(
            dflag.filter(~F.col("contaminated")).select("doc_id"),
            "doc_id",
            "left_semi",
        ).select("doc_id", "source", "text")
    )
    # Span scrub (keep-first, SPAN_K grams) over the final kept set —
    # pipeline73's exact machinery (r11: the keep-first window form;
    # g has a single consumer now, so only t73 is cached).
    t73, g = _positional_grams(kept)
    t73 = persist_tracked(t73)
    scr = _scrub_tail(t73, _later_claimant_positions(g)).select(
        "doc_id", "n_kept", "cleaned_fp"
    )
    scrub = stage_cut("s10_scrub", 
        scr.join(kept.select("doc_id", "source"), "doc_id")
    )
    # Temperature mix (α=0.5, largest-remainder) over post-scrub
    # source token totals — #sources-row table, metadata-sized.
    mt = scrub.groupBy("source").agg(
        F.sum("n_kept").cast("long").alias("src_tok")
    )
    mw = mt.select(
        "source",
        "src_tok",
        F.floor(F.sqrt(F.col("src_tok").cast("double")) * 1000)
        .cast("long")
        .alias("w_int"),
    )
    mix = (
        largest_remainder_alloc(mw, "source", "w_int", _MIX_BUDGET)
        .select(F.col("key").alias("source"), "final_alloc")
        .join(mw.select("source", "src_tok"), "source")
    )
    # Pack: two-phase parallel-prefix cumsum of n_kept in doc_id order
    # (corpus_pack_sequences' bucket decomposition — no row-scale
    # global window).
    tt = scrub.select(
        "doc_id", "n_kept", F.expr(f"doc_id div {_PACK_BUCKET}").alias("bucket")
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = tt.withColumn(
        "local_off", F.sum("n_kept").over(w_in) - F.col("n_kept")
    )
    totals = tt.groupBy("bucket").agg(F.sum("n_kept").alias("tot"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    prefix = totals.select(
        "bucket", (F.sum("tot").over(w_b) - F.col("tot")).alias("bucket_off")
    )
    pk = local.join(F.broadcast(prefix), "bucket").select(
        "doc_id",
        (F.col("bucket_off") + F.col("local_off"))
        .cast("long")
        .alias("start_off"),
    )
    # Shard: LPT round-robin over the decomposed global rank (no
    # single-partition window; corpus_shard_assign's shape).
    shd = skew_resistant_rank(
        scrub.select("doc_id", "n_kept"),
        value="n_kept",
        id_col="doc_id",
        out="rnk",
        descending=True,
    ).select(
        "doc_id", ((F.col("rnk") - 1) % _N_SHARDS).cast("long").alias("shard")
    )

    # Final ledger: every input doc, one row.
    n_tokens_all = F.size(filt_toks).cast("long")
    led = (
        docs.select(
            "doc_id", "source", n_tokens_all.alias("n_tokens")
        )
        .join(qf.select("doc_id", "q_ok"), "doc_id", "left")
        .join(pflag, "doc_id", "left")
        .join(ex, "doc_id", "left")
        .join(comp, "doc_id", "left")
        .join(dflag, "doc_id", "left")
        .join(
            scrub.select(
                "doc_id",
                F.col("source").alias("k_source"),
                "n_kept",
                "cleaned_fp",
            ),
            "doc_id",
            "left",
        )
        .join(pk, "doc_id", "left")
        .join(shd, "doc_id", "left")
        .join(
            mix.select(
                F.col("source").alias("k_source"),
                "final_alloc",
                "src_tok",
            ),
            "k_source",
            "left",
        )
    )
    is_near = F.col("component").isNotNull() & (
        F.col("component") < F.col("doc_id")
    )
    # Non-TRUE means dropped (ADVICE r7): a degenerate doc (e.g. empty
    # text → 0/0 → NULL quality_score) has NULL q_ok; a bare NOT q_ok
    # is NULL too, so the CASE would fall through every branch and
    # misreport the doc as 'kept' with canonical_id=doc_id despite it
    # being absent from the kept set — identically in both arms, so
    # the hash gate could never catch it. The oracle applies the same
    # coalesce.
    not_q = ~F.coalesce(F.col("q_ok"), F.lit(False))
    not_p = ~F.coalesce(F.col("p_ok"), F.lit(False))
    status = (
        F.when(is_eval, F.lit("eval_holdout"))
        .when(not_q, F.lit("quality"))
        .when(not_p, F.lit("perplexity"))
        .when(F.col("canon") != F.col("doc_id"), F.lit("exact_dup"))
        .when(is_near, F.lit("near_dup"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    canonical = (
        F.when(is_eval, F.lit(None).cast("long"))
        .when(not_q, F.lit(None).cast("long"))
        .when(not_p, F.lit(None).cast("long"))
        .when(F.col("canon") != F.col("doc_id"), F.col("canon"))
        .when(is_near, F.col("component"))
        .when(F.col("contaminated"), F.lit(None).cast("long"))
        .otherwise(F.col("doc_id"))
    )
    oversample = F.when(
        F.col("k_source").isNotNull() & (F.col("src_tok") > 0),
        F.col("final_alloc").cast("double") / F.col("src_tok"),
    )
    return led.select(
        "doc_id",
        "source",
        status.alias("status"),
        canonical.alias("canonical_id"),
        "n_tokens",
        F.col("n_kept").cast("long").alias("n_kept"),
        "cleaned_fp",
        F.col("start_off").cast("long").alias("start_off"),
        F.expr(f"start_off div {_PACK_CAP}")
        .cast("long")
        .alias("chunk_id"),
        F.col("shard").cast("long").alias("shard"),
        oversample.alias("oversample_factor"),
    )


@register(
    "pipeline_corpus_export",
    oracle=_export_sql(),
)
def pipeline_corpus_export_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end train-ready corpus export ledger (module
    docstring). One row per input document:

    - ``status``: ``eval_holdout`` | ``quality`` | ``perplexity`` |
      ``exact_dup`` | ``near_dup`` | ``contaminated`` | ``kept``
    - ``canonical_id``: the doc this one collapsed into (dups), its
      own id (kept), NULL otherwise
    - ``n_tokens``: pre-scrub (filtered-whitespace) token count
    - kept-only: ``n_kept``/``cleaned_fp`` (post span-scrub),
      ``start_off``/``chunk_id`` (packing), ``shard`` (LPT loader
      shard), ``oversample_factor`` (its source's temperature-mix
      allocation / source tokens)

    Stage boundaries materialize via tracked ``localCheckpoint`` —
    fast, executor-memory, released at the caller's action boundary;
    ``pipeline_corpus_export_landed`` is the restartable storage-
    landing twin.
    """
    return _export_ledger(spark, sf_dir, _ckpt_stage)


@register(
    "pipeline_corpus_export_landed",
    oracle=_export_sql(),
)
def pipeline_corpus_export_landed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``pipeline_corpus_export`` with every stage LANDED as parquet —
    the production form of the stage cut (VERDICT r7 task 5): a 100 TB
    curation run writes each tier to storage before the next reads it,
    so a driver death between stages resumes from the last completed
    stage instead of restarting the ladder (resume contract exercised
    by tests/test_pipeline77.py::test_export_landed_resume). Same
    arithmetic, same oracle, value-identical ledger; the landing adds
    one write+read per stage — the cost a restartable pipeline pays
    anyway.

    The ledger is materialized BEFORE the scratch stage directory is
    removed (the stream-query pattern: collect, then rmtree)."""
    workdir = tempfile.mkdtemp(prefix="corpus_export_land_")
    try:
        led = _export_ledger(
            spark, sf_dir, _land_stage_factory(workdir)
        )
        return spark.createDataFrame(led.collect(), led.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
