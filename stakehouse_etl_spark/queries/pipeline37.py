"""Data-pipeline queries, wave 37: recursive SQL, three-valued-logic
joins, keyword extraction.

- WITH RECURSIVE running total — VERBATIM-portable text (one ANSI
  string runs unchanged on Spark 4 and DuckDB), extending the
  portable-SQL surface with linear recursion
- NULL-aware NOT IN audit (the three-valued-logic footgun, also
  portable text; Spark plans it as NullAwareAntiJoin)
- RAKE-style keyword extraction (degree/frequency scoring over
  stopword-delimited phrases)
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.io.sources import load_table, register_views
from stakehouse_etl_spark.queries.registry import register
from stakehouse_etl_spark.session import apply_engine_conf

# ---------------------------------------------------------------------------
# Portable texts (identical string runs on both engines)
# ---------------------------------------------------------------------------
_PORTABLE37: dict[str, str] = {
    # Linear recursion: quarterly revenue accumulated through a
    # recursive CTE anchored at the first quarter. ~27 iterations —
    # far under Spark's cteRecursionLevelLimit (100). The window
    # row_number provides the dense index the recursion steps on, so
    # quarter gaps cannot stall the chain.
    "sql_portable_recursive": """
WITH RECURSIVE b AS (
  SELECT CAST(row_number() OVER (ORDER BY q) AS BIGINT) AS idx,
         q, cents
  FROM (
    SELECT CAST(year(o_orderdate) * 10 + quarter(o_orderdate) AS BIGINT) AS q,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders GROUP BY 1
  ) t
),
r AS (
  SELECT idx, q, cents, cents AS cum FROM b WHERE idx = 1
  UNION ALL
  SELECT b.idx, b.q, b.cents, r.cum + b.cents
  FROM r JOIN b ON b.idx = r.idx + 1
)
SELECT idx, q, cents, cum FROM r
""",
    # Three-valued logic: NOT IN against a subquery that contains a
    # NULL matches NOTHING (x NOT IN (..NULL..) is never TRUE) — the
    # classic silent-empty-result footgun. The audit returns both
    # counts side by side; Spark executes the NULL-polluted branch as
    # a NullAwareAntiJoin, DuckDB as a mark join — same answer.
    "j24_null_aware_not_in": """
WITH dirty AS (
  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
              ELSE o_custkey END AS k
  FROM orders WHERE o_totalprice > 100000
),
clean AS (SELECT k FROM dirty WHERE k IS NOT NULL)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM customer
    WHERE c_custkey NOT IN (SELECT k FROM clean)) AS n_clean,
  (SELECT CAST(count(*) AS BIGINT) FROM customer
    WHERE c_custkey NOT IN (SELECT k FROM dirty)) AS n_polluted
""",
}


def _mk37(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


_CHILD_SESSIONS: weakref.WeakKeyDictionary[SparkSession, SparkSession] = (
    weakref.WeakKeyDictionary()
)
_CHILD_LOCK = threading.Lock()


def _run_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sql_portable_recursive with query-scoped single-partition shuffles.

    The recursive CTE executes as ~28 sequential UnionLoop iterations,
    each re-planning and re-running the step body (profiled r12: 195
    jobs per run, 7 per iteration — executeAndCacheAndCount + broadcast
    futures + AQE stage jobs; wall is driver latency, task time is
    ~1/3 of wall). Every post-shuffle stage in the step plan carries at
    most one row per quarter (the GROUP BY cardinality, ≤ ~28 at ANY
    scale factor — a property of the data's 7-year order span, not of
    the host), while the scale-bearing scan + partial aggregation
    parallelism is governed by input splits, not shuffle.partitions.
    So shuffle.partitions=1 is exact-scale-correct for this query;
    interleaved in-session A/B at sf0.1 reads −20–25% (medians 6.0–6.6
    vs 8.0–8.7 s; AQE-off, no-broadcast, no-codegen variants all
    measured worse — numbers in OPTIMIZATION_r12.md). The conf is
    scoped to a child session (same SparkContext, nothing leaks to the
    caller); engine-critical confs are re-pinned via apply_engine_conf
    because a new session inherits only builder-time conf. Each parent
    session gets one child, reused by every call, so repeated runs do
    not pile up sessions and their temp views. The lock keeps one
    call's view registration from racing another's ``sql``.
    """
    with _CHILD_LOCK:
        scoped = _CHILD_SESSIONS.get(spark)
        if scoped is None:
            scoped = apply_engine_conf(spark.newSession())
            scoped.conf.set("spark.sql.shuffle.partitions", "1")
            _CHILD_SESSIONS[spark] = scoped
        register_views(scoped, sf_dir)
        return scoped.sql(_PORTABLE37["sql_portable_recursive"])


for _name, _sql in _PORTABLE37.items():
    if _name == "sql_portable_recursive":
        register(_name, oracle=_sql)(_run_recursive)
    else:
        register(_name, oracle=_sql)(_mk37(_sql))


# ---------------------------------------------------------------------------
# RAKE-style keyword extraction
# ---------------------------------------------------------------------------
_RAKE_STOP = ("a", "the", "and", "of", "in", "to")
_STOP_IN = ", ".join(f"'{w}'" for w in _RAKE_STOP)


@register(
    "text_rake_keywords",
    oracle=f"""
WITH w AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
m AS (
  SELECT doc_id, pos, word,
         CASE WHEN word IN ({_STOP_IN}) THEN 1 ELSE 0 END AS is_stop
  FROM w WHERE word <> ''
),
p0 AS (
  SELECT doc_id, pos, word, is_stop,
         CAST(sum(is_stop) OVER (
           PARTITION BY doc_id ORDER BY pos
         ) AS BIGINT) AS phrase_id
  FROM m
),
p AS (
  SELECT doc_id, pos, word, phrase_id FROM p0 WHERE is_stop = 0
),
plen AS (
  SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS phrase_len
  FROM p GROUP BY doc_id, phrase_id
),
sc AS (
  SELECT p.word,
         CAST(sum(plen.phrase_len) AS BIGINT) AS degree,
         CAST(count(*) AS BIGINT) AS freq
  FROM p JOIN plen
    ON p.doc_id = plen.doc_id AND p.phrase_id = plen.phrase_id
  GROUP BY p.word
)
SELECT word, degree, freq,
       CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) AS score
FROM sc
ORDER BY CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) DESC, word
LIMIT 20
""",
)
def text_rake_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: candidate phrases are maximal runs of
    non-stopwords (phrase id = running stopword count per document —
    a per-doc position window, bounded by document length); each
    word's score is co-occurrence degree / frequency, where degree
    sums the lengths of every phrase the word appears in. Words that
    live in long multi-word phrases outrank equally-frequent words
    that appear alone — the RAKE ranking signal, computed with int64
    (degree, freq) pairs and one division at the edge.

    Scale: explode is linear in corpus tokens; the phrase window
    never exceeds one document; the word rollup is a partial-agg
    groupBy and the top-20 a TakeOrderedAndProject. Stopwords are a
    tiny inlined literal set (IN-list, not a join)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).filter(F.col("word") != "")
    m = w.withColumn(
        "is_stop", F.col("word").isin(*_RAKE_STOP).cast("long")
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = (
        m.withColumn("phrase_id", F.sum("is_stop").over(win).cast("long"))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "phrase_id", "word")
    )
    plen = p.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("long").alias("phrase_len")
    )
    sc = (
        p.join(plen, ["doc_id", "phrase_id"])
        .groupBy("word")
        .agg(
            F.sum("phrase_len").cast("long").alias("degree"),
            F.count(F.lit(1)).cast("long").alias("freq"),
        )
        .withColumn(
            "score", F.col("degree").cast("double") / F.col("freq").cast("double")
        )
    )
    return sc.select("word", "degree", "freq", "score").orderBy(
        F.desc("score"), "word"
    ).limit(20)
