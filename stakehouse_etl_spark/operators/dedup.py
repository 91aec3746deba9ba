"""Deduplication operators for training-data pipelines.

Five tiers, cheapest-first — the standard large-corpus dedup ladder:

1. ``exact_dedup`` — hash-groupBy on a normalized fingerprint.
2. ``jaccard_pairs`` — exact n-gram Jaccard via shingle self-join
   (quadratic in bucket size; the ground truth for the sketches).
3. ``minhash_lsh_pairs`` — MinHash signatures + LSH banding: the
   100 TB path. Cost: one explode (doc × shingle), one groupBy (doc),
   one explode (doc × band), one equi-join on (band, hash) — all
   shuffle-bounded by data size, never all-pairs.
4. ``simhash`` — 32-bit sign-hash sketch; near-dups differ in few bits.
5. embedding cosine near-dup — see :mod:`similarity` (quantized).

Every hash here is the md5-hex-prefix integer from
:mod:`operators.text`, so DuckDB reproduces all of this exactly —
the sketches have real value-level oracles, not just row counts.

Persist lifecycle: the pair operators persist the exploded shingle
table (three consumers each) via :func:`caches.persist_tracked`, and
callers end the cache's lifetime at their ACTION boundary with
``caches.cache_scope()`` / ``caches.release_tracked()`` — no cached
RDD outlives the materialization that needed it, even in a
long-lived service (tests/test_cache_lifecycle.py asserts
``getPersistentRDDs`` is empty after each of three back-to-back pair
queries). At 100 TB you would persist the shingle table as a real
intermediate dataset instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stakehouse_etl_spark.caches import persist_tracked
from stakehouse_etl_spark.operators.text import (
    fan_out,
    hash32,
    normalized_fingerprint,
    shingles_from_toks,
    tokens,
)

# MinHash parameters — shared with the SQL oracle generator.
MINHASH_PERMS = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_PERMS // LSH_BANDS
MINHASH_PRIME = 1_000_000_007
# Band-bucket size cap: a bucket with b members yields O(b²) candidate
# pairs, so one hot band (boilerplate corpora, giant duplicate
# clusters) can dominate the whole job. Standard MinHash-dedup practice
# is to DROP over-full buckets — members of a b>cap bucket are near-
# certain duplicates of each other along this band, and at 4 bands per
# doc a genuinely similar pair usually still collides in a cooler band;
# the exact-dedup tier (which runs first in pipeline_corpus_clean)
# already removed identical-text clusters. The cap is mirrored in every
# SQL oracle (QUALIFY on the band-group count) so capped results stay
# value-exact cross-engine. ``lsh_bucket_stats`` is the observability
# query for tuning it.
LSH_MAX_BUCKET = 1000
# Ground-truth quarantine bound (VERDICT r7 task 3). Two catalog
# queries are lossless/exact-by-contract and deliberately NOT
# 100 TB-shaped: the brute-force Jaccard eval's self-join OOM'd the
# 8 g local JVM at sf10 (~500k docs, measured r7) and the lossless
# prefix-filter tier is superlinear in shingle document frequency
# (263 s at sf3 adversarial). Documentation alone left both runnable
# at scales where they are known-broken, so the guard is programmatic:
# above this doc count the ground-truth arm REFUSES with a pointer to
# its capped/sampled scale twin instead of OOMing an hour into a run.
# The bound moved r11: 200k sat between sf3 = 150k docs (then green)
# and sf10 = 500k (measured OOM) — but sf3's "green" was an artifact
# of the 1–3-row-group fixtures serializing the scan to ~3 concurrent
# tasks. With the regenerated 64-row-group fixtures the scan
# parallelizes 32-wide and 32 concurrent tasks' shingle aggregation
# buffers blow the 8 g local JVM at sf3 (java.lang.OutOfMemoryError in
# the posting build, SCALING_r11). 100k sits between sf1 = 50k
# (measured green at full parallelism, 17.5 s) and that failure
# point. Env-overridable for operators who know their memory budget.
GROUND_TRUTH_MAX_DOCS = 100_000


def ground_truth_guard(docs: DataFrame, query: str, twin: str) -> int:
    """Refuse a ground-truth-contract query above the quarantine
    bound; returns the doc count otherwise (callers often need it
    anyway). The count is one cheap metadata-ish aggregation — noise
    next to the exact self-join it is guarding."""
    import os

    try:
        cap = int(
            os.environ.get(
                "SPARK_GRAFT_GT_MAX_DOCS", str(GROUND_TRUTH_MAX_DOCS)
            )
        )
    except ValueError:
        cap = GROUND_TRUTH_MAX_DOCS
    n = docs.count()
    if n > cap:
        raise RuntimeError(
            f"{query}: ground-truth arm refused at {n} docs (cap {cap}): "
            f"this query is exact-by-contract and superlinear/OOM at this "
            f"scale — run its scale twin '{twin}' instead, or raise "
            f"SPARK_GRAFT_GT_MAX_DOCS if your cluster's memory budget "
            f"allows it."
        )
    return n
# Fixed affine coefficients (a_j, b_j), j < MINHASH_PERMS — generated
# once from a fixed seed; literal so both engines share them.
_MH_A = [
    668265263, 374761393, 972663749, 144665161, 217645177, 377424577,
    590234117, 725196257, 831143717, 908714861, 116268683, 295559843,
    462882911, 649939499, 782342347, 935298713,
]
_MH_B = [
    386132741, 562896977, 149760847, 913708841, 241298693, 683231381,
    871239491, 327846431, 538289717, 724617343, 952198583, 167323411,
    409284631, 614538947, 838291573, 273946211,
]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tier 1: exact dedup on the normalized fingerprint.

    Returns one row per distinct content: canonical (min) id, the
    duplicate count. Single hash-shuffle on the fingerprint.
    """
    return (
        df.select(
            normalized_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingle) exploded pairs + per-doc distinct-shingle counts.

    The token array is BOUND in its own projection before the explode
    (r11, guide §1.2 per-task work): the inline ``shingles(text)``
    expression re-ran the tokenizing regex split ~2k+1 times per
    document (7 `split(lower(trim(text)))` occurrences in the
    Generate node of the before-plan); CollapseProject keeps a
    multiply-referenced non-cheap alias in its own project, so the
    bound form splits exactly once. The projection sits ABOVE
    fan_out's exchange so the shuffle still carries raw text bytes,
    not text + token arrays."""
    tmp = "__toks"
    while tmp in df.columns:
        tmp = "_" + tmp
    return (
        fan_out(df)
        .withColumn(tmp, tokens(F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(shingles_from_toks(F.col(tmp), k)).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 20,
) -> DataFrame:
    """Tier 2: exact n-gram Jaccard over a shingle self-join.

    The threshold compare is integer cross-multiplied
    (``inter * 100 >= union * threshold_pct``) so no float boundary can
    disagree between engines. Quadratic in per-shingle frequency: fine
    as ground truth / within LSH buckets, not the 100 TB primary path.
    """
    # Three consumers (counts + both join sides) — persist or the
    # tokenize/shingle/md5 subtree runs 3× (same trap as in
    # minhash_lsh_pairs).
    sh = persist_tracked(doc_shingles(df, text_col, id_col))
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("union_sz", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.col("inter") * 100 >= F.col("union_sz") * threshold_pct)
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / F.col("union_sz")).alias("jaccard"),
        )
    )
    return out


def minhash_signature_cols(shingle_hash: Column) -> list[Column]:
    """The 16 permuted hash expressions (min-aggregated per doc)."""
    return [
        ((F.lit(_MH_A[j]) * shingle_hash + F.lit(_MH_B[j])) % MINHASH_PRIME).alias(
            f"mh_{j}"
        )
        for j in range(MINHASH_PERMS)
    ]


def _signatures_from_shingles(sh: DataFrame, id_col: str) -> DataFrame:
    hashed = sh.withColumn("h", hash32(F.col("shingle")))
    perms = minhash_signature_cols(F.col("h"))
    return hashed.groupBy(id_col).agg(
        *[F.min(p).alias(f"mh_{j}") for j, p in enumerate(perms)]
    )


def _per_doc_state(sh: DataFrame, id_col: str) -> DataFrame:
    """ONE groupBy producing everything the LSH tier needs per doc:
    the 16 signature mins, the sorted shingle set (for the set-based
    candidate verify), and the shingle count. Collapsing the three
    former groupBys (signatures + both verify sides) into one shuffle
    means the exploded shingle table is consumed ONCE — at 100 TB the
    persisted intermediate shrinks from the exploded rows (~shingle
    count × doc bytes) to one row per doc."""
    hashed = sh.withColumn("h", hash32(F.col("shingle")))
    perms = minhash_signature_cols(F.col("h"))
    return hashed.groupBy(id_col).agg(
        *[F.min(p).alias(f"mh_{j}") for j, p in enumerate(perms)],
        F.sort_array(F.collect_list("shingle")).alias("__set"),
        F.count(F.lit(1)).alias("n_sh"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc MinHash signature: min over shingles of (a·h+b) mod p
    for each of the 16 permutations. h is the cross-engine 32-bit hash."""
    return _signatures_from_shingles(doc_shingles(df, text_col, id_col), id_col)


def _banded(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, band_idx, band_key) rows — one per doc per band."""
    return _banded_from_sig(_signatures_from_shingles(sh, id_col), id_col)


def _banded_from_sig(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band_idx, band_key) from any frame carrying mh_0..mh_15."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh_{bi * LSH_ROWS + r}").cast("string")
                            for r in range(LSH_ROWS)
                        ],
                    )
                ).alias("band_key"),
            )
            for bi in range(LSH_BANDS)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("band")).select(
        id_col,
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
    )


def _band_candidates(
    sh: DataFrame, id_col: str, max_bucket: int | None = LSH_MAX_BUCKET
) -> DataFrame:
    """LSH band-join candidate pairs from an exploded shingle table.

    Buckets larger than ``max_bucket`` are dropped BEFORE the
    self-join, bounding per-bucket candidate output at max_bucket² —
    without this, one hot band bucket is an O(n²) blowup at 100 TB.
    The window count shuffles on exactly the join key, so the
    subsequent self-join reuses the same partitioning (no extra
    exchange on the filtered side).
    """
    return _candidates_from_banded(_banded(sh, id_col), id_col, max_bucket)


def _candidates_from_banded(
    banded: DataFrame, id_col: str, max_bucket: int | None
) -> DataFrame:
    # r11 (guide §2.4 — remove shuffles outright): bucket-collect +
    # in-bucket pair generation replaces the former window-cap +
    # sort-merge SELF-JOIN. The old shape recomputed the banded frame
    # once per join side and paid, per side, an exchange + sort +
    # window count (drop_oversize_buckets) before the SMJ — 3
    # exchanges, 4 sorts, and two evaluations of the banding md5s.
    # One groupBy builds each bucket ONCE (1 exchange); i<j pairs over
    # the SORTED member array reproduce the join's id_a < id_b output
    # exactly (ids are distinct within a bucket: one row per doc per
    # band). r12 (VERDICT r11 item 1): the cap is applied by the
    # spillable WINDOW count (drop_oversize_buckets) BEFORE
    # collect_list — the r11 form filtered on size() AFTER the
    # aggregate, which materialized a hot bucket's entire id array in
    # one unspillable aggregation buffer before dropping it, i.e. an
    # executor-OOM hazard on exactly the skewed input the cap exists
    # for. WindowExec buffers one bucket at a time in a spillable
    # buffer, and the groupBy keys match the window's own partitioning
    # so no second exchange appears (the ANN arm's pattern,
    # similarity.py). After the window drop every bucket holds
    # ≤ max_bucket rows, so the collected array and the generated pair
    # array (≤ cap·(cap−1)/2 structs) are bounded. The sorted array is
    # bound in its own projection so the slice-per-element below
    # copies O(bucket) per outer element (pair-count work), not
    # re-sorts (the r10 interpreted-lambda O(n²) trap).
    if max_bucket is None:
        # Uncapped (ground-truth/recall arms only, doc-count guarded):
        # a hot bucket's pair set must STREAM through the join, not
        # materialize as one in-memory array — keep the self-join.
        ca = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
        cb = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
        return (
            ca.join(cb, ["band_idx", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    from stakehouse_etl_spark.operators.buckets import drop_oversize_buckets

    buckets = (
        drop_oversize_buckets(banded, ["band_idx", "band_key"], max_bucket)
        .groupBy("band_idx", "band_key")
        .agg(F.collect_list(id_col).alias("__ids"))
        .select(F.array_sort("__ids").alias("__ids"))
    )
    ids = F.col("__ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(
                    ids,
                    i + 2,
                    F.greatest(F.size(ids) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b"))
        .distinct()
    )


def lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Unverified LSH candidate pairs (for recall evaluation of the
    banding scheme against the exact join)."""
    return _band_candidates(doc_shingles(df, text_col, id_col), id_col, max_bucket)


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Observability for the band-bucket cap: per band index, the
    bucket count, max bucket size, number of over-cap (dropped)
    buckets, and the candidate-pair mass those drops avoided
    (Σ b·(b−1)/2 over dropped buckets). This is the number a 100 TB
    dedup run monitors to tune bands×rows and the cap."""
    banded = _banded(doc_shingles(df, text_col, id_col), id_col)
    sizes = banded.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("bsz")
    )
    over = F.col("bsz") > max_bucket
    return (
        sizes.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bsz").alias("max_bucket_sz"),
            F.sum(F.when(over, 1).otherwise(0)).alias("n_dropped_buckets"),
            F.sum(
                F.when(over, F.col("bsz") * (F.col("bsz") - 1) / 2).otherwise(0)
            )
            .cast("long")
            .alias("dropped_pair_mass"),
        )
        .orderBy("band_idx")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 20,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Tier 3: MinHash + LSH banding → candidate pairs → exact Jaccard
    verification of candidates only.

    Bands of 4 rows; a pair is candidate iff some band's 4 signature
    slots all match (joined on an md5 of the band values). At scale the
    band join is an equi-join on (band_idx, band_key) — candidates are
    a tiny fraction of all pairs; the exact-Jaccard rescoring join runs
    only on them (left-semi pushdown of the candidate set).
    """
    # ONE pass over the exploded shingles: a single groupBy computes
    # the signature mins AND the sorted shingle set AND the count
    # (previously three separate groupBys — signatures plus both
    # verify sides — each re-shuffling the exploded table). The
    # persisted intermediate is the per-doc state (one row per doc),
    # not the exploded shingles (one row per shingle) — at 100 TB
    # that's the difference between caching ~10× the corpus and
    # caching ~1× of it; at bench scale it removes two row-scale
    # shuffles per run. MEMORY_AND_DISK: spills at scale; at 100 TB
    # you would persist this as a real intermediate table anyway.
    per_doc = persist_tracked(
        _per_doc_state(doc_shingles(df, text_col, id_col), id_col)
    )
    candidates = _candidates_from_banded(
        _banded_from_sig(per_doc, id_col), id_col, max_bucket
    )
    # Exact-verify CANDIDATES ONLY, set-based (same shape as the
    # prefix-filter tier's verification): the bounded candidate list
    # joins a sorted set onto each side, and `array_intersect` counts
    # the overlap inside codegen — the corpus-wide all-pairs join of
    # plain jaccard_pairs never materializes; that's the entire point
    # of LSH at 100 TB.
    # MERGE pin on the per-doc set sides (r8, replacing r5's
    # SHUFFLE_HASH). Left free, AQE judges this side by COMPRESSED
    # shuffle bytes — repetitive token sets compress so well that a
    # multi-GB deserialized hash relation sneaks under the broadcast
    # threshold and OOMs the driver (measured r5 at sf10). But
    # SHUFFLE_HASH has the SAME trap one level down: the per-task
    # LongToUnsafeRowMap holds its partition's slice of the doc-scale
    # set table, and AQE sizes partitions by those same compressed
    # bytes — so the deserialized build grows linearly with corpus
    # size at any fixed partition count and OOM'd the executor heap
    # at sf30 (r8, corpus_drop_ledger). Sort-merge is the only
    # strategy whose memory is bounded at ANY scale (the external
    # sorter spills), and it is not slower here: the sort key is the
    # long id with the array as payload — measured r8 best-of-2,
    # MERGE 2.67/10.05 s vs SHUFFLE_HASH 2.93/10.67 s at sf1/sf10.
    sa = per_doc.select(
        F.col(id_col).alias("id_a"),
        F.col("__set").alias("__set_a"),
        F.col("n_sh").alias("n_a"),
    ).hint("MERGE")
    sb = per_doc.select(
        F.col(id_col).alias("id_b"),
        F.col("__set").alias("__set_b"),
        F.col("n_sh").alias("n_b"),
    ).hint("MERGE")
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("__set_a", "__set_b")).cast("long")
        )
        .withColumn("union_sz", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.col("inter") * 100 >= F.col("union_sz") * threshold_pct)
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / F.col("union_sz")).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 20,
    tier: str = "lsh",
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """The pluggable near-dup stage for composed pipelines.

    ``tier='lsh'`` (DEFAULT) — capped MinHash-LSH banding + exact
    verification of candidates only: the 100 TB path. Never builds the
    corpus-wide shingle self-join, and one hot band bucket cannot blow
    up the candidate count (``LSH_MAX_BUCKET`` drop, mirrored in the
    SQL oracles via QUALIFY).

    ``tier='exact'`` — the full shingle self-join (``jaccard_pairs``):
    quadratic in per-shingle document frequency. Ground-truth/oracle
    arm and recall-evaluation baseline ONLY; at scale a single
    high-frequency shingle ("of the same"…) appearing in most
    documents makes its postings self-join O(n²) in corpus size.

    Both tiers emit the same ``(id_a, id_b, jaccard)`` schema with the
    identical integer cross-multiplied threshold, so callers swap tiers
    without downstream changes.
    """
    if tier == "lsh":
        return minhash_lsh_pairs(df, text_col, id_col, threshold_pct, max_bucket)
    if tier == "exact":
        return jaccard_pairs(df, text_col, id_col, threshold_pct)
    raise ValueError(f"unknown near-dup tier: {tier!r}")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 70,
    max_prefix_df: int | None = None,
    n_part: int | None = None,
    approx_doc_count: int | None = None,
) -> DataFrame:
    """Tier-2b: exact Jaccard similarity join via PREFIX FILTERING
    (the AllPairs/PPJoin family of set-similarity joins).

    Order each doc's shingles rarest-first (ascending corpus document
    frequency, ties by shingle text — one deterministic global order).
    Any pair with Jaccard >= t must agree on at least one shingle
    within each side's first ``n - ceil(t*n) + 1`` shingles
    (pigeonhole: a pair sharing none of either prefix has intersection
    <= n - p < ceil(t*n) <= t*union). So the candidate self-join runs
    only on the rare prefix shingles — at 100 TB this is the reason
    the join is feasible at high thresholds without LSH's false
    negatives: high-frequency shingles (the quadratic blowup in the
    naive shingle self-join) never enter the join, and the frequency
    ordering makes the surviving prefix postings lists the shortest
    ones. Verification then intersects full shingle sets for candidate
    pairs only (array_intersect on per-doc sorted arrays).

    The threshold compare is integer cross-multiplied; equality with
    the exact all-pairs oracle is the losslessness proof.

    ``max_prefix_df``: optional document-frequency cap on PREFIX
    postings (the AllPairs df-cap). The sf1/sf3 ladder
    (tools/scaling.py, BASELINE.md) measures the lossless form
    superlinear on dense-vocabulary corpora — prefix postings lists
    grow with corpus size, so the candidate self-join cost is
    Σ df² over prefix shingles. Capping drops postings with
    df > cap before the join, bounding per-shingle candidate output
    at cap²; a pair whose ONLY prefix agreement is a hot shingle is
    then missed (lossy, like the LSH bucket cap — and like it, hot
    shingles are near-contentless boilerplate). None (default) keeps
    the query's lossless-vs-oracle contract for ground-truth use.

    ``n_part``: partition count for the per-doc array aggregation
    (callers size it from catalog stats — ``table_num_rows`` — at
    ~10k docs/task). At the fixed 32 shuffle partitions the
    ``collect_list`` agg holds each task's slice of PER-DOC ARRAYS in
    heap, growing linearly with corpus — the r9 sf30 ladder killed
    the 8 g heap exactly there (stage-11 executor OOM; same class as
    the r8 k-core catch). The pre-repartition's HashPartitioning
    satisfies the agg's required distribution, so no extra exchange.
    """
    # ONE per-doc aggregation carries the whole operator's state: the
    # doc's shingles as structs (df, shingle) sorted rarest-first —
    # the same deterministic global order the former row_number window
    # imposed — plus the count. The prefix postings fall out of a
    # narrow posexplode(slice(...)) over the persisted array (no
    # per-doc window shuffle), and the verification sets are a
    # transform over the same array (no second and third groupBy).
    # Three shuffles total before the self-join (df count, the
    # shingle-keyed join, one per-doc groupBy) versus five in the
    # window form — and the persisted intermediates are one row per
    # doc. sh has TWO consumers (the dfreq groupBy and the join back),
    # so the scan/tokenize/shingle subtree must not recompute per
    # consumer (review r5): persist the COMPACT per-doc shingle-array
    # frame (map-only, no per-shingle row blowup) and re-derive the
    # exploded pairs from the cached arrays — a narrow explode, not a
    # second corpus scan.
    # DISK_ONLY persists (r9): both cached frames carry corpus-scale
    # shingle ARRAYS; at sf30 their blocks plus the agg's execution
    # memory exceeded the heap (executor OOM, task-level
    # java.lang.OutOfMemoryError in the per-doc agg stage). Disk-backed
    # blocks bound the storage side at any scale; the frames are
    # compact (one row per doc) so the re-read is cheap.
    from pyspark.storagelevel import StorageLevel

    # small_corpus gates the dispatch barriers and the empty-candidate
    # short-circuit below (r10): below ~20k docs those job barriers
    # cost more than the corpus-scale work they can save.
    small_corpus = (
        approx_doc_count is not None and approx_doc_count < 20_000
    )
    # r12 (VERDICT r11 item 2): the r11 storage-level dispatch
    # (MEMORY_AND_DISK below the 20k gate) is REVERTED to uniform
    # DISK_ONLY. The driver flagged the lossless arm as its only r11
    # bench regression (1.32x median, slower at BOTH 32 and 8 cores),
    # and a bench-methodology re-A/B this round (fresh JVM, page-cache
    # warmup, 3-pass medians, 4 sessions per arm, alternating) reads a
    # dead wash: lossless dispatch medians {2.02, 1.88, 2.02, 1.88} vs
    # DISK_ONLY {2.05, 1.94}; capped {1.89, 1.86, 1.83, 1.73} vs
    # {1.78, 1.74}. The r11 paired -18% claim does not reproduce, so
    # the scale-proven single code path wins by simplicity (the r9
    # sf30 heap-kill rationale for DISK_ONLY is unconditional again).
    cache_level = StorageLevel.DISK_ONLY

    # Persist the per-doc array frame UNCONDITIONALLY (r10 A/B: a
    # "skip the persist in the sparse path" variant rebuilt dfreq from
    # the raw pipeline and the shingle expression re-evaluated inside
    # the generate — 48 s vs 10 s for the same pass on zipf_sf3; every
    # consumer must read the cached arrays).
    # Token array bound in its own projection (r11): the inline
    # shingles(text) form re-ran the tokenizing split ~7x per doc
    # (see doc_shingles).
    # r12 NOTE (VERDICT r11 item 3 — the (df, pos) variant, A/B'd and
    # REJECTED): shipping struct(df, position-in-presorted-array)
    # through the doc-keyed regroup (strings rebuilt from the cached
    # arrays via one MERGE join) was implemented and paired at the
    # judge-mandated sf1 rung: variant 16.98 s median / 15.63 min vs
    # this form's 14.88 / 13.09 (n=5 each, adjacent sessions) — +14%.
    # The rebuild join's doc-scale array exchange plus the verify
    # sets' move off the id-partitioned per_doc cache cost more than
    # the narrower regroup shuffle + smaller cache save, as the r11
    # deferral analysis suspected ("the realistic net is the smaller
    # per-doc CACHE term"). Kept: the measured-best (df, shingle)
    # struct regroup below.
    arrs = persist_tracked(
        fan_out(df)
        .withColumn("__pf_toks", tokens(F.col(text_col)))
        .select(
            F.col(id_col),
            shingles_from_toks(F.col("__pf_toks")).alias("__sh_arr"),
        ),
        level=cache_level,
    )
    sh = arrs.select(
        F.col(id_col), F.explode("__sh_arr").alias("shingle")
    ).filter(F.col("shingle") != "")
    # Corpus-wide document frequency per shingle (the prefix ordering).
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # prefix length p = n - ceil(t*n) + 1, integer form (>= 1 for any
    # threshold <= 100, so the slice is never empty).
    ceil_tn = (F.col("n_sh") * threshold_pct + 99) / 100
    p_len = F.col("n_sh") - ceil_tn.cast("long") + 1
    # TIER DISPATCH from corpus statistics (r10, SCALING_r09 watch
    # item): under the df cap, when almost NO posting survives the cap
    # (vocabulary saturation — the sf3+ synthetic regime, every df in
    # a ~300-wide band above the cap), the dense plan below shuffles
    # and array-sorts the full corpus posting table (135M structs at
    # sf30) only to slice prefixes the cap then drops wholesale. The
    # under-cap POSTING MASS — Σdf over under-cap shingles vs total,
    # one scalar action over the vocab-scale (already aggregated)
    # dfreq table — tells the regimes apart before any doc-scale
    # shuffle runs: exactly the catalog-statistics planning decision a
    # warehouse engine makes. Dense corpora (cap not/barely binding:
    # the driver scales, natural Zipf tails) keep the measured-best
    # single reused aggregation; saturated ones take the sparse path.
    # The dispatch's mass action and the empty-candidate count are
    # each a job barrier (~0.3-0.5 s of fixed cost) that only pays off
    # where corpus-scale work is at stake; below ~20k docs the dense
    # plan's whole cost is smaller than the barriers (bench r10 flagged
    # +1.4x at sf0.1 = 5k docs from exactly these). The gate was 100k
    # until r11: at 50k docs (sf1) the saturated dense path costs
    # ~19 s while the dispatched sparse path runs ~4 s — a regime the
    # over-wide gate locked out of the dispatch that exists for it
    # (SCALING_r11; the old 1–3-row-group fixtures had buried the sf1
    # cell's true cost). 20k keeps the bench rung barrier-free and
    # lets every corpus-scale input make the statistics decision.
    # Callers pass the footer-metadata doc count (zero scan); None
    # (direct operator use) keeps the scale-safe behavior
    # unconditionally.
    saturated = False
    if max_prefix_df is not None and not small_corpus:
        dfreq = persist_tracked(dfreq)
        tot_mass, low_mass = dfreq.agg(
            F.sum("df"),
            F.sum(F.when(F.col("df") <= max_prefix_df, F.col("df"))),
        ).first()
        saturated = bool(tot_mass) and (low_mass or 0) < 0.3 * tot_mass
    if not saturated:
        enriched = sh.join(dfreq, "shingle")
        if n_part is not None:
            # Input-scaled agg parallelism: hash on the grouping key so
            # EnsureRequirements reuses this layout for the groupBy (no
            # second exchange) and each task's collect_list state stays
            # ~10k docs regardless of corpus size.
            enriched = enriched.repartition(n_part, F.col(id_col))
        per_doc = persist_tracked(
            enriched.groupBy(id_col)
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("df", "shingle"))
                ).alias("__arr"),
                F.count(F.lit(1)).alias("n_sh"),
            ),
            level=cache_level,
        )
        prefix = per_doc.select(
            id_col,
            "n_sh",
            F.posexplode(
                F.slice("__arr", F.lit(1), p_len)
            ).alias("__p0", "__e"),
        ).select(
            id_col,
            "n_sh",
            (F.col("__p0") + 1).alias("pos"),
            F.col("__e.df").alias("df"),
            F.col("__e.shingle").alias("shingle"),
        )
        if max_prefix_df is not None:
            prefix = prefix.filter(F.col("df") <= max_prefix_df)
        sets_src = per_doc.select(
            id_col,
            F.transform("__arr", lambda e: e["shingle"]).alias("sh_set"),
            "n_sh",
        )
    else:
        # SATURATED-regime sparse path: postings with df > cap can
        # never be a SURVIVING prefix row, and ascending (df, shingle)
        # order puts every under-cap entry before every over-cap one,
        # so positions within the under-cap subset EQUAL positions in
        # the full rarest-first order. ONE fused pass over the cached
        # arrays (n_sh carried through the explode, under-cap postings
        # kept via a join against the — tiny here, by the dispatch —
        # under-cap vocabulary, then a near-empty per-doc agg), where
        # the dense plan shuffled and array-sorted the full corpus
        # posting table (135M structs at sf30) only to slice prefixes
        # the cap then dropped wholesale. Verification sets are built
        # lazily after the empty-candidate short-circuit below.
        under = dfreq.filter(F.col("df") <= max_prefix_df)
        # Broadcast only on evidence: under-cap TYPES are few in the
        # saturated regime by construction, but bound it anyway (the
        # same counted-guard shape as the over-cap broadcast above).
        under = (
            F.broadcast(under)
            if under.count() <= 2_000_000
            else under.hint("MERGE")
        )
        pre = arrs.select(
            F.col(id_col),
            F.size(
                F.filter("__sh_arr", lambda x: x != F.lit(""))
            ).cast("long").alias("n_sh"),
            F.explode("__sh_arr").alias("shingle"),
        ).filter(F.col("shingle") != "")
        low = pre.join(under, "shingle")
        if n_part is not None:
            low = low.repartition(n_part, F.col(id_col))
        low_doc = low.groupBy(id_col).agg(
            F.first("n_sh").alias("n_sh"),
            F.sort_array(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("__arr_low"),
        )
        prefix = low_doc.select(
            id_col,
            "n_sh",
            F.posexplode(
                F.slice(
                    "__arr_low",
                    F.lit(1),
                    F.least(p_len, F.size("__arr_low")),
                )
            ).alias("__p0", "__e"),
        ).select(
            id_col,
            "n_sh",
            (F.col("__p0") + 1).alias("pos"),
            F.col("__e.shingle").alias("shingle"),
        )
        sets_src = None
    pa = prefix.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("pos").alias("__pa"),
        F.col("n_sh").alias("__na"),
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"),
        "shingle",
        F.col("pos").alias("__pb"),
        F.col("n_sh").alias("__nb"),
    )
    joined = pa.join(pb, "shingle").filter(F.col("id_a") < F.col("id_b"))
    # LENGTH filter (lossless in BOTH arms): J >= t forces
    # t·max(n_a,n_b) <= min(n_a,n_b) (inter <= min, union >= max), so
    # any pair verify would keep passes this regardless of which
    # postings generated it — candidates that can't possibly verify
    # never reach the distinct or the set join. Integer cross-multiply.
    joined = joined.filter(
        F.least("__na", "__nb") * 100
        >= F.greatest("__na", "__nb") * F.lit(threshold_pct)
    )
    # POSITIONAL filter (PPJoin): for the MINIMAL shared token w of a
    # true pair, w sits inside both prefixes (same pigeonhole as the
    # prefix bound) and no shared token precedes it, so
    # inter <= 1 + min(n_a-pos_a, n_b-pos_b) at w's posting row.
    # J >= t  ⟺  inter >= ceil(t·(n_a+n_b)/(1+t)), so the w-row of
    # every true pair passes this bound — keeping pairs with ANY
    # passing row loses nothing, and the UNCAPPED arm stays lossless.
    # Under the df cap, w's posting may be dropped while a later
    # (bound-failing) shared posting survives, so the capped arm CAN
    # lose such a pair — the capped query's oracle mirrors this exact
    # predicate (positions from the full rarest-first order, cap
    # applied after), keeping the capped tier value-exact while
    # strictly cheaper than the lossless arm (without the positional
    # filter the capped arm was MORE expensive wherever the cap
    # wasn't yet binding — measured at sf1: 29 s capped vs 19 s
    # lossless).
    ubound = F.lit(1) + F.least(
        F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
    )
    joined = joined.filter(
        ubound * F.lit(100 + threshold_pct)
        >= (F.col("__na") + F.col("__nb")) * F.lit(threshold_pct)
    )
    candidates = joined.select("id_a", "id_b").distinct()
    # EMPTY-CANDIDATE SHORT-CIRCUIT (r10, SCALING_r09 watch item): when
    # the df cap empties the candidate set (the saturated-vocabulary
    # regime — every prefix posting above cap), the verify join below
    # still paid two corpus-scale set-array sorts feeding an empty
    # probe: the MERGE pin plus DISK_ONLY persists kept AQE's
    # empty-relation propagation from eliding them (sf30 ratio 3.94 on
    # a 3.0× data step, all of it these sorts). The candidates frame
    # is pair-scale and already the plan's materialization point, so
    # one count() is cheap at scale — and in the non-empty regime the
    # persist means verify reads the cached pairs instead of
    # recomputing the self-join. Skipped below the small-corpus gate,
    # where the barrier costs more than the verify it could save.
    if not small_corpus:
        candidates = persist_tracked(candidates)
    if not small_corpus and candidates.count() == 0:
        from pyspark.sql.types import DoubleType, StructField, StructType

        id_type = df.schema[id_col].dataType
        return df.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("id_a", id_type),
                    StructField("id_b", id_type),
                    StructField("jaccard", DoubleType()),
                ]
            ),
        )
    # Verification sets: lossless arm reads them straight off the
    # persisted per-doc array (shingle order is irrelevant to
    # array_intersect's SIZE); the capped arm builds them HERE — only
    # reached when candidates exist — as one plain-shingle aggregation
    # (no dfreq join needed for verification).
    # MERGE pin: same rationale as minhash_lsh_pairs' verify — the
    # doc-scale set side must never broadcast (compressed-size trap,
    # r5 sf10 driver OOM) and must not hash-build either (the build
    # map grows with corpus size at fixed partitions; executor OOM at
    # sf30, r8). Sort-merge spills, and measured no slower here.
    if sets_src is None:
        # Sparse-path verify sets, only reached when candidates exist:
        # map-only off the persisted per-doc shingle arrays. The
        # arrays ARE the sets, so no explode, no join, no aggregation
        # — the first r10 attempt re-aggregated 135M exploded rows
        # into arrays it already had (the zipf_sf3 A/B measured that
        # second agg at +67% wall).
        sets_src = arrs.select(
            F.col(id_col),
            F.sort_array(
                F.filter("__sh_arr", lambda x: x != F.lit(""))
            ).alias("sh_set"),
            F.size(
                F.filter("__sh_arr", lambda x: x != F.lit(""))
            ).cast("long").alias("n_sh"),
        )
    sets = sets_src
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a"), F.col("n_sh").alias("n_a")
    ).hint("MERGE")
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b"), F.col("n_sh").alias("n_b")
    ).hint("MERGE")
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")).cast("long"))
        .withColumn("union_sz", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.col("inter") * 100 >= F.col("union_sz") * threshold_pct)
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / F.col("union_sz")).alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 80,
    max_df: int | None = None,
) -> DataFrame:
    """Near-superset detection: max-containment |A∩B| / min(|A|,|B|).

    Jaccard misses the case where a short doc is wholly contained in a
    long one (union is dominated by the long side); containment is the
    standard complement in training-corpus dedup. Same shingle-join
    shape as :func:`jaccard_pairs`, integer threshold compare.

    ``max_df``: optional document-frequency cap on join postings (the
    same knob as ``prefix_filter_jaccard_pairs``' ``max_prefix_df`` —
    the sf1/sf3 ladder measures uncapped shingle self-joins
    superlinear on dense vocabularies). Capped runs UNDERCOUNT the
    intersection for pairs whose overlap includes hot shingles, so
    the containment score becomes a lower bound — acceptable for the
    scale sweep, not for the ground-truth arm (default None keeps the
    exact oracle contract).
    """
    sh = persist_tracked(doc_shingles(df, text_col, id_col))
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    joinable = sh
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        joinable = sh.join(
            dfreq.filter(F.col("__df") <= max_df).select("shingle"), "shingle"
        )
    a = joinable.select(F.col(id_col).alias("id_a"), "shingle")
    b = joinable.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("min_sz", F.least("n_a", "n_b"))
        .filter(F.col("inter") * 100 >= F.col("min_sz") * threshold_pct)
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / F.col("min_sz")).alias("containment"),
        )
    )


SIMHASH_BITS = 32


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tier 4: 32-bit SimHash over token hashes.

    bit b of the sketch = sign of Σ_tokens (±1 per token's bit b).
    Near-duplicate docs land within small Hamming distance. Pure array
    expressions: transform over bit positions, aggregate over token
    hashes — all codegen'd, no UDF.
    """
    from stakehouse_etl_spark.operators.text import tokens

    df = fan_out(df)
    toks = tokens(F.col(text_col))
    hashes = F.transform(toks, lambda t: hash32(t))
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    zeros = F.array(*[F.lit(0).cast("long") for _ in range(SIMHASH_BITS)])
    # Single pass over the token-hash array: the accumulator is the
    # 32-long bit-sum vector — one md5 per token total (a per-bit
    # aggregate would recompute the hash array 32×).
    bit_sums = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) > 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    sketch = F.aggregate(
        F.zip_with(
            bit_sums,
            masks,
            lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col), sketch.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
) -> DataFrame:
    """SimHash near-dup pairs: block on 8-bit chunks (a pair within
    Hamming distance d ≤ 6 shares at least one of the 4 chunks exactly
    — pigeonhole), then verify Hamming distance via bit_count(xor)."""
    sk = simhash(df, text_col, id_col)
    chunks = sk.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), c * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select(
        id_col,
        "simhash",
        F.col("ch.chunk_idx").alias("chunk_idx"),
        F.col("ch.chunk_val").alias("chunk_val"),
    )
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk_val"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk_val"
    )
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_index_for(
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The per-batch (bands, sets) pair a stored MinHash index is built
    from: ``bands`` = (id, band_idx, band_key) LSH band rows, ``sets``
    = (id, shingle_set sorted array, n_sh) for exact-Jaccard
    verification. Landing these at admission time is what makes
    :func:`incremental_minhash_dedup_indexed` batch-sized — the r8
    9-batch sf10 fuzz measured the recompute-the-corpus form growing
    7.9 → 13.6 s/batch as the stored corpus reached 8× batch size."""
    sh = persist_tracked(doc_shingles(batch, text_col, id_col))
    bands = _banded(sh, id_col)
    sets = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("shingle_set"),
        F.count(F.lit(1)).cast("long").alias("n_sh"),
    )
    return bands, sets


def incremental_minhash_dedup_indexed(
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    batch_bands: DataFrame,
    batch_sets: DataFrame,
    batch_ids: DataFrame,
    id_col: str = "doc_id",
    threshold_pct: int = 20,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """:func:`incremental_minhash_dedup` against a STORED index — the
    100 TB shape its docstring promises: the corpus side arrives as
    the precomputed band table + shingle-set table of every
    previously-KEPT doc (maintained by the caller, e.g. the
    ``stream_incremental_dedup`` foreachBatch loop), so per-batch work
    is the batch's own shingling/banding plus index probes — never a
    corpus-wide recompute. Value-identical to the recompute form by
    construction: banding and set-building are deterministic, so the
    stored rows equal what the recompute form derives from the same
    kept docs (the unchanged 3-stage oracle proves it at the gate).

    Bucket cap applies to the UNION's buckets, exactly as before.
    Returns the kept batch ids.
    """
    from stakehouse_etl_spark.operators.buckets import drop_oversize_buckets

    banded_c = corpus_bands.withColumn("__side", F.lit("c"))
    banded_b = batch_bands.withColumn("__side", F.lit("b"))
    allu = banded_c.unionByName(banded_b)
    if max_bucket is None:
        # Uncapped: a hot bucket's pairs must stream through a join,
        # not materialize as one array (same split as
        # _candidates_from_banded).
        allb = drop_oversize_buckets(
            allu, ["band_idx", "band_key"], max_bucket
        )
        new = allb.filter(F.col("__side") == "b").select(
            F.col(id_col).alias("id_new"), "band_idx", "band_key"
        )
        partner = allb.select(
            F.col(id_col).alias("id_old"),
            F.col("__side").alias("side_old"),
            "band_idx",
            "band_key",
        )
        cand = (
            new.join(partner, ["band_idx", "band_key"])
            .filter(
                (F.col("side_old") == "c")
                | (
                    (F.col("side_old") == "b")
                    & (F.col("id_old") < F.col("id_new"))
                )
            )
            .select("id_new", "id_old")
            .distinct()
        )
    else:
        # r11 (guide §2.4 — the bucket-collect form of
        # _candidates_from_banded, side-aware): the former window-cap
        # + union self-join shuffled the corpus∪batch band rows once
        # per join side (two windows, two sorts, an SMJ) — at steady
        # state that is two O(stored-state) shuffles per ingested
        # batch. One groupBy builds each bucket once; the pair
        # rule replays the join's predicate inside the sorted member
        # array: for each batch-side member, every EARLIER member
        # (lower id, either side) partners it, and later members
        # partner it only from the corpus side. Ids are unique within
        # a bucket (one row per doc per band; corpus and batch id
        # sets are disjoint by the keep-set contract), so array_sort
        # on (id, side) structs gives a strict id order and the
        # generated pair set equals the join's exactly. r12 (VERDICT
        # r11 item 1): the cap is applied by the spillable WINDOW
        # count BEFORE collect_list — the r11 size()-after-aggregate
        # form materialized a hot bucket's entire member array in one
        # unspillable aggregation buffer before dropping it. The
        # window's partitioning is the groupBy's own key, so no second
        # exchange; per-bucket arrays are bounded by the cap at the
        # point they are built.
        buckets = (
            drop_oversize_buckets(allu, ["band_idx", "band_key"], max_bucket)
            .groupBy("band_idx", "band_key")
            .agg(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col("__side").alias("s"))
                ).alias("__ms")
            )
            .select(F.array_sort("__ms").alias("__ms"))
        )
        ms = F.col("__ms")

        def _pair_with(x):
            return lambda y: F.struct(
                x["i"].alias("id_new"), y["i"].alias("id_old")
            )

        pairs = F.flatten(
            F.transform(
                ms,
                lambda x, i: F.concat(
                    # members BEFORE x (id_old < id_new, either side):
                    # partners only when x is batch-side — slice
                    # length 0 otherwise.
                    F.transform(
                        F.slice(
                            ms,
                            1,
                            F.when(x["s"] == "b", i).otherwise(F.lit(0)),
                        ),
                        _pair_with(x),
                    ),
                    # corpus members AFTER x (corpus partners pair
                    # regardless of id order).
                    F.transform(
                        F.filter(
                            F.slice(
                                ms,
                                i + 2,
                                F.when(
                                    x["s"] == "b",
                                    F.greatest(
                                        F.size(ms) - i - 1, F.lit(0)
                                    ),
                                ).otherwise(F.lit(0)),
                            ),
                            lambda y: y["s"] == F.lit("c"),
                        ),
                        _pair_with(x),
                    ),
                ),
            )
        )
        cand = (
            buckets.select(F.explode(pairs).alias("__p"))
            .select(
                F.col("__p.id_new").alias("id_new"),
                F.col("__p.id_old").alias("id_old"),
            )
            .distinct()
        )
    sets = corpus_sets.unionByName(batch_sets)
    so = sets.select(
        F.col(id_col).alias("id_old"),
        F.col("shingle_set").alias("__set_o"),
        F.col("n_sh").alias("n_old"),
    ).hint("MERGE")
    sn = batch_sets.select(
        F.col(id_col).alias("id_new"),
        F.col("shingle_set").alias("__set_n"),
        F.col("n_sh").alias("n_new"),
    ).hint("MERGE")
    drops = (
        cand.join(so, "id_old")
        .join(sn, "id_new")
        .withColumn(
            "inter",
            F.size(F.array_intersect("__set_o", "__set_n")).cast("long"),
        )
        .withColumn(
            "union_sz", F.col("n_new") + F.col("n_old") - F.col("inter")
        )
        .filter(F.col("inter") * 100 >= F.col("union_sz") * threshold_pct)
        .select("id_new")
        .distinct()
    )
    return (
        batch_ids.select(id_col)
        .distinct()
        .join(
            drops.withColumnRenamed("id_new", id_col), id_col, "left_anti"
        )
    )


def incremental_minhash_dedup_probed(
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    batch_bands: DataFrame,
    batch_sets: DataFrame,
    batch_ids: DataFrame,
    id_col: str = "doc_id",
    threshold_pct: int = 20,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """:func:`incremental_minhash_dedup_indexed` restructured so a
    BUCKETED stored index is probed without a single state-sized
    shuffle per batch (the r9 20-batch fuzz measured the indexed
    form's per-batch wall rising ~+1.5%/batch — the O(state) shuffles
    hiding in the union window and union joins):

    - the hot-bucket cap no longer runs a window over corpus∪batch
      bands (a full state shuffle every batch): corpus-side bucket
      counts come from a groupBy over the bucketed band table (bucket
      layout satisfies the agg's distribution — NO exchange), merged
      with the batch's own counts via a full-outer join on the same
      layout, and the resulting over-cap key set — tiny by
      construction (only buckets > cap) — is BROADCAST anti-joined
      against both band streams;
    - candidate generation and verify are SPLIT per side instead of
      probing a union (a union erases the bucketed layout): new ⨝
      corpus_bands reuses the (band_idx, band_key) bucketing, new ⨝
      lower-id batch bands is batch-scale; verify joins corpus pairs
      against the doc_id-bucketed set table and batch pairs against
      the batch's own sets. Corpus/batch partner sets are disjoint
      (corpus ids are prior-batch keeps), so the split is exact.

    Value-identical to the window form: counts are computed from the
    same uncapped tables, the anti-join drops exactly the rows the
    window filter dropped, and the split joins cover exactly the
    partner sets of the union join. Callers hand ``corpus_bands`` /
    ``corpus_sets`` from bucketed catalog tables to get the
    shuffle-free plan; with plain frames the semantics are unchanged
    and the plan degrades to the indexed form's.
    """
    keys = ["band_idx", "band_key"]
    ccnt = corpus_bands.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__cc")
    )
    bcnt = batch_bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bc"))
    if max_bucket is not None:
        overcap = (
            ccnt.join(bcnt, keys, "full_outer")
            .filter(
                F.coalesce(F.col("__cc"), F.lit(0))
                + F.coalesce(F.col("__bc"), F.lit(0))
                > max_bucket
            )
            .select(*keys)
        )
        # The over-cap key set is tiny on measured corpora, but its
        # only hard bound is total_rows/max_bucket — under extreme
        # skew a pinned broadcast could OOM the driver (ADVICE r9).
        # Guard with an actual count (one cheap job over the already-
        # aggregated counts) and fall back to a MERGE anti-join, the
        # same bounded-memory strategy the verify joins pin.
        overcap = persist_tracked(overcap)
        n_overcap = overcap.count()
        if n_overcap <= 2_000_000:
            oc_b, oc_c = F.broadcast(overcap), F.broadcast(overcap)
        else:
            oc_b, oc_c = overcap.hint("MERGE"), overcap.hint("MERGE")
        bb = batch_bands.join(oc_b, keys, "left_anti")
        cb = corpus_bands.join(oc_c, keys, "left_anti")
    else:
        bb = batch_bands
        cb = corpus_bands
    new = bb.select(F.col(id_col).alias("id_new"), *keys)
    cand_c = (
        new.join(
            cb.select(F.col(id_col).alias("id_old"), *keys), keys
        )
        .select("id_new", "id_old")
        .distinct()
    )
    cand_b = (
        new.join(
            bb.select(F.col(id_col).alias("id_old"), *keys), keys
        )
        .filter(F.col("id_old") < F.col("id_new"))
        .select("id_new", "id_old")
        .distinct()
    )

    def _verify(cand: DataFrame, old_sets: DataFrame) -> DataFrame:
        so = old_sets.select(
            F.col(id_col).alias("id_old"),
            F.col("shingle_set").alias("__set_o"),
            F.col("n_sh").alias("n_old"),
        ).hint("MERGE")
        sn = batch_sets.select(
            F.col(id_col).alias("id_new"),
            F.col("shingle_set").alias("__set_n"),
            F.col("n_sh").alias("n_new"),
        ).hint("MERGE")
        return (
            cand.join(so, "id_old")
            .join(sn, "id_new")
            .withColumn(
                "inter",
                F.size(F.array_intersect("__set_o", "__set_n")).cast(
                    "long"
                ),
            )
            .withColumn(
                "union_sz",
                F.col("n_new") + F.col("n_old") - F.col("inter"),
            )
            .filter(
                F.col("inter") * 100 >= F.col("union_sz") * threshold_pct
            )
            .select("id_new")
        )

    drops = (
        _verify(cand_c, corpus_sets)
        .unionByName(_verify(cand_b, batch_sets))
        .distinct()
    )
    return (
        batch_ids.select(id_col)
        .distinct()
        .join(
            drops.withColumnRenamed("id_new", id_col), id_col, "left_anti"
        )
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 20,
) -> DataFrame:
    """Incremental dedup — the PRODUCTION shape of corpus maintenance:
    a new crawl ``batch`` deduped against the already-kept ``corpus``
    (and against itself), without ever joining corpus x corpus.

    Candidates are (batch doc, partner) band collisions where the
    partner is any corpus doc or a LOWER-id batch doc (greedy
    keep-lowest-batch-id within the batch; the corpus always wins).
    Exact Jaccard verifies candidates only; batch docs with a verified
    >= threshold partner are dropped. Returns the KEPT batch ids.

    At 100 TB the corpus side is a precomputed band-signature index
    (store ``_banded``'s output as a table keyed by (band_idx,
    band_key)); each nightly batch then shuffles only its own bands
    plus the collided corpus buckets. Bucket cap applies to the
    UNION's buckets — mirrored by the oracle's global QUALIFY.

    This is a thin wrapper: it derives both sides' (bands, sets)
    index rows via :func:`minhash_index_for` and delegates to
    :func:`incremental_minhash_dedup_indexed`, so the candidate rule
    and the exact-Jaccard verify live in exactly one place (review
    r8: the two forms previously carried ~50 duplicated lines whose
    silent divergence the default-shape oracle could not catch).
    """
    corpus_bands, corpus_sets = minhash_index_for(corpus, text_col, id_col)
    batch_bands, batch_sets = minhash_index_for(batch, text_col, id_col)
    return incremental_minhash_dedup_indexed(
        corpus_bands,
        corpus_sets,
        batch_bands,
        batch_sets,
        batch.select(id_col),
        id_col=id_col,
        threshold_pct=threshold_pct,
    )
