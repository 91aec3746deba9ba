"""Hot-bucket bounding for the LSH families (VERDICT r1 'what's wrong' #2).

A degenerate bucket — one band key shared by a huge duplicate cluster,
or one hyperplane bucket holding half the corpus — must not produce
O(n²) candidate pairs. The cap drops over-full buckets BEFORE the
self-join; these tests build synthetic hot buckets and assert the
candidate set is bounded (and that cool buckets are unaffected).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stakehouse_etl_spark.operators.dedup import (
    lsh_bucket_stats,
    lsh_candidates,
    minhash_lsh_pairs,
)
from stakehouse_etl_spark.operators.similarity import ann_lsh_pairs


@pytest.fixture(scope="module")
def hot_docs(spark):
    # 60 identical docs (one giant duplicate cluster → every band
    # bucket has 60 members) + 2 similar-but-distinct docs (cool).
    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(60)]
    # Two identical cool docs: identical signatures → all four band
    # buckets match deterministically (no banding-probability flake).
    rows += [
        (100, "completely different text about spark shuffle partitions"),
        (101, "completely different text about spark shuffle partitions"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_band_bucket_dropped(spark, hot_docs):
    # Uncapped: the duplicate cluster alone yields C(60,2) = 1770 pairs.
    uncapped = lsh_candidates(hot_docs, max_bucket=None).count()
    assert uncapped >= 1770
    # Capped at 10: the 60-member buckets are dropped entirely; only
    # the cool pair(s) survive. Bound: every surviving bucket has ≤ 10
    # members → ≤ 45 pairs per bucket.
    capped = lsh_candidates(hot_docs, max_bucket=10)
    n = capped.count()
    assert n < 1770 and n <= 45
    # The cool near-dup pair is still found (its buckets are size ≤ 2).
    assert capped.filter((F.col("id_a") == 100) & (F.col("id_b") == 101)).count() == 1


def test_hot_bucket_verified_pairs_bounded(spark, hot_docs):
    out = minhash_lsh_pairs(hot_docs, threshold_pct=20, max_bucket=10)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (100, 101) in pairs
    # No pair from the dropped duplicate cluster survives.
    assert all(a >= 100 for a, _ in pairs)


def test_bucket_stats_reports_drops(spark, hot_docs):
    stats = lsh_bucket_stats(hot_docs, max_bucket=10).collect()
    assert len(stats) == 4  # one row per band
    for r in stats:
        assert r.max_bucket_sz == 60
        assert r.n_dropped_buckets == 1
        assert r.dropped_pair_mass == 60 * 59 // 2


def test_ann_hot_bucket_dropped(spark):
    # 50 copies of the same vector → one hot hyperplane bucket; plus
    # two near-identical vectors elsewhere (negated → different bucket).
    dim = 64
    base = [1.0] + [0.0] * (dim - 1)
    near = [-1.0, 0.01] + [0.0] * (dim - 2)
    near2 = [-1.0, 0.012] + [0.0] * (dim - 2)
    rows = [(i, base) for i in range(50)] + [(100, near), (101, near2)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = ann_lsh_pairs(emb, min_cosine=0.9, max_bucket=None).count()
    assert uncapped >= 50 * 49 // 2
    capped = ann_lsh_pairs(emb, min_cosine=0.9, max_bucket=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got
    assert len(got) <= 45  # bounded by cap²/2 per surviving bucket


def test_incremental_dedup_corpus_wins_and_batch_greedy(spark):
    from stakehouse_etl_spark.operators.dedup import incremental_minhash_dedup

    base = "the quick brown fox jumps over the lazy dog once more today"
    corpus = spark.createDataFrame(
        [(0, base), (2, "totally different corpus text about join reordering")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, base),          # dup of corpus doc 0 (higher OR lower id — corpus wins)
            (3, "fresh unique text on adaptive query execution in spark"),
            (5, "fresh unique text on adaptive query execution in spark"),  # dup of 3
            (7, "another singleton about shuffle partition coalescing"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in incremental_minhash_dedup(corpus, batch).collect()
    )
    # 1 drops (corpus dup), 5 drops (batch dup of lower id 3), 3 and 7 keep
    assert kept == [3, 7]


def test_near_dup_pairs_defaults_to_capped_lsh_tier(spark):
    """VERDICT r2 'what's wrong' #1: the composed pipelines' near-dup
    stage (near_dup_pairs) must default to the capped LSH tier, with
    the exact shingle self-join available only as the opt-in oracle
    arm. Boilerplate-heavy corpus: every doc is the same boilerplate
    plus a tiny unique tail — all near-identical (exact tier emits
    C(n,2) pairs), and all landing in the same hot band buckets."""
    from stakehouse_etl_spark.operators.dedup import (
        jaccard_pairs,
        near_dup_pairs,
    )

    boiler = (
        "terms of service apply to all content on this site please "
        "read carefully before proceeding further "
    )
    n = 40
    rows = [(i, boiler + f"unique{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # Ground truth: the exact tier's output here is quadratic — every
    # pair clears Jaccard >= 0.2 (shared boilerplate dominates).
    exact = jaccard_pairs(docs, threshold_pct=20).count()
    assert exact == n * (n - 1) // 2

    # Default tier (what pipeline_corpus_clean / corpus_canonical_docs
    # / corpus_drop_ledger now call): capped LSH. With a small cap the
    # hot band buckets are dropped pre-join -> bounded pair output,
    # never C(n,2).
    capped = near_dup_pairs(docs, threshold_pct=20, max_bucket=10).count()
    assert capped < exact
    assert capped <= 4 * (10 * 9 // 2)  # <= bands * C(cap,2)

    # Tier equivalence contracts: default == 'lsh' arm; 'exact' arm is
    # still reachable for oracle/recall evaluation.
    from stakehouse_etl_spark.operators.dedup import minhash_lsh_pairs

    d = {(r.id_a, r.id_b) for r in near_dup_pairs(docs, max_bucket=10).collect()}
    l = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, max_bucket=10).collect()}
    assert d == l
    e = near_dup_pairs(docs, threshold_pct=20, tier="exact").count()
    assert e == exact
    import pytest as _pytest

    with _pytest.raises(ValueError):
        near_dup_pairs(docs, tier="bogus")


def test_prefix_filter_df_cap_bounds_candidates(spark):
    """The AllPairs df-cap: with a dense shared shingle, the lossless
    prefix join is quadratic; capping prefix postings by document
    frequency bounds it, at the cost of pairs whose only prefix
    agreement is the hot shingle."""
    from stakehouse_etl_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    # 30 docs sharing one dominant shingle + unique tails; plus one
    # genuinely-identical cool pair whose shingles are all rare.
    rows = [
        (i, f"shared boiler plate text u{i} v{i} w{i} x{i}")
        for i in range(30)
    ]
    rows += [
        (100, "rare quiet unique alpha beta gamma delta"),
        (101, "rare quiet unique alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    lossless = prefix_filter_jaccard_pairs(docs, threshold_pct=70)
    capped = prefix_filter_jaccard_pairs(
        docs, threshold_pct=70, max_prefix_df=5
    )
    l = {(r.id_a, r.id_b) for r in lossless.collect()}
    c = {(r.id_a, r.id_b) for r in capped.collect()}
    # cap never invents pairs, and the rare-shingle pair survives it
    assert c <= l
    assert (100, 101) in c


def test_containment_df_cap_is_lower_bound(spark):
    """containment_pairs' max_df cap: capped intersections only ever
    shrink (lower-bound contract), and rare-shingle containments
    survive the cap."""
    from stakehouse_etl_spark.operators.dedup import containment_pairs

    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, long), (2, "alpha beta gamma delta epsilon")]  # 2 ⊂ 1
    # 20 docs sharing a hot boilerplate shingle (df=20)
    rows += [(100 + i, f"common boiler plate x{i} y{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, threshold_pct=80).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, threshold_pct=80, max_df=5).collect()
    }
    assert set(capped) <= set(exact)
    assert (1, 2) in capped  # rare-shingle containment survives
    for pair, c in capped.items():
        assert c <= exact[pair] + 1e-12  # lower bound, never inflated


def test_cosine_topk_arrow_arm_value_identical(spark):
    """The Arrow matmul arm of cosine_topk must be bit-identical to
    the pure-expression arm — same exact integer dots, same IEEE
    division order, zero-norm candidates NULL in both."""
    from stakehouse_etl_spark.operators.similarity import cosine_topk

    rows = []
    rng_vals = [0.3, -0.2, 0.9, 0.05, -0.7]
    for i in range(30):
        rows.append((i, [rng_vals[(i + j) % 5] * ((j % 7) - 3) for j in range(8)]))
    rows.append((98, [0.0] * 8))  # zero-norm candidate
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(
        map(tuple, cosine_topk(emb, [1, 2], k=5, use_arrow=False).collect())
    )
    b = sorted(
        map(tuple, cosine_topk(emb, [1, 2], k=5, use_arrow=True).collect())
    )
    assert a == b


def test_ivf_arrow_assign_value_identical(spark):
    """ivf_topk's Arrow assignment arm == the window arm, including
    cell tiebreaks and a zero-norm vector."""
    from stakehouse_etl_spark.operators.similarity import ivf_topk

    rows = []
    vals = [0.4, -0.1, 0.8, 0.02, -0.6]
    for i in range(40):
        rows.append((i, [vals[(i + j) % 5] * ((j % 5) - 2) for j in range(8)]))
    rows.append((99, [0.0] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, ivf_topk(emb, [10, 11], k=5, n_cells=4).collect()))
    b = sorted(
        map(
            tuple,
            ivf_topk(emb, [10, 11], k=5, n_cells=4, use_arrow=True).collect(),
        )
    )
    assert a == b


def test_cosine_topk_arrow_arm_string_ids(spark):
    """ADVICE r3: the Arrow arm hardcoded long ids — a string id_col
    must now work identically in both arms (schema derived from the
    input, ids passed through untouched)."""
    from stakehouse_etl_spark.operators.similarity import cosine_topk

    rows = []
    vals = [0.3, -0.2, 0.9, 0.05, -0.7]
    for i in range(20):
        rows.append(
            (f"doc-{i:03d}", [vals[(i + j) % 5] * ((j % 7) - 3) for j in range(8)])
        )
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    qids = ["doc-001", "doc-002"]
    a = sorted(
        map(tuple, cosine_topk(emb, qids, k=5, use_arrow=False).collect())
    )
    b = sorted(
        map(tuple, cosine_topk(emb, qids, k=5, use_arrow=True).collect())
    )
    assert a == b and len(a) == 10


def test_cosine_topk_auto_dispatch(spark, monkeypatch):
    """use_arrow=None auto-dispatches on Catalyst's size estimate × |Q|
    (VERDICT r5 task #4): below the threshold the plan stays pure
    expression (no Python workers), above it the Arrow matmul arm is
    chosen — and the choice never changes values (parity pinned by the
    tests above). Exercised both ways by flexing the env threshold
    around a fixed file-backed input."""
    import os
    import tempfile

    from stakehouse_etl_spark.operators.similarity import (
        _auto_arrow,
        cosine_topk,
    )

    rows = [
        (i, [float((i + j) % 7 - 3) / 4 for j in range(8)]) for i in range(50)
    ]
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "emb.parquet")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).write.parquet(p)
        emb = spark.read.parquet(p)

        monkeypatch.setenv("SPARK_GRAFT_ARROW_AUTO_BYTES", str(1 << 40))
        assert _auto_arrow(emb, 10) is False
        small = cosine_topk(emb, [1, 2], k=5)
        assert "mapInPandas" not in small._jdf.queryExecution().toString()

        monkeypatch.setenv("SPARK_GRAFT_ARROW_AUTO_BYTES", "1")
        assert _auto_arrow(emb, 10) is True
        big = cosine_topk(emb, [1, 2], k=5)
        assert "mapInPandas" in big._jdf.queryExecution().toString().replace(
            "MapInPandas", "mapInPandas"
        )
        assert sorted(map(tuple, small.collect())) == sorted(
            map(tuple, big.collect())
        )

    # A non-file-backed frame (no real size estimate is still an
    # estimate; createDataFrame local relations report real bytes) —
    # the guard must never throw, only pick an arm.
    local = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.delenv("SPARK_GRAFT_ARROW_AUTO_BYTES", raising=False)
    assert _auto_arrow(local, 10) in (True, False)


def _assert_window_runs_before_collect(plan: str) -> None:
    """The bucket-size Window feeds the collect_list aggregate. The plan
    string prints parents first, so the node that runs first is the
    lower line; both nodes must be present."""
    lines = plan.splitlines()
    collect = [i for i, ln in enumerate(lines) if "functions=[collect_list(" in ln]
    window = [i for i, ln in enumerate(lines) if "+- Window [count(1)" in ln]
    assert collect, "collect_list aggregate missing from the executed plan"
    assert window, "bucket-size Window missing from the executed plan"
    assert collect[0] < window[0], (
        "the Window must run before (print below) the collect_list aggregate"
    )


def test_capped_bucket_collect_caps_before_collect(spark, hot_docs):
    """r12 (VERDICT r11 item 1): the capped arm must drop over-cap
    buckets with the SPILLABLE window count BEFORE collect_list builds
    the member array — the size()-after-aggregate form materialized a
    hot bucket's entire id list in one unspillable aggregation buffer,
    an executor-OOM hazard on exactly the skewed input the cap exists
    for. Pin the plan: the window-cap filter (__bsz) is present, the
    post-collect size() filter is gone."""
    plan = (
        lsh_candidates(hot_docs, max_bucket=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "__bsz" in plan, "window cap missing from the capped arm"
    _assert_window_runs_before_collect(plan)
    # The pair generator legitimately reads size(__ids) inside its
    # slice lambda; the hazard is specifically a FILTER on the
    # collected array's size (i.e. cap applied after materialization).
    import re

    assert not re.search(r"Filter \(?size\(__ids", plan), (
        "post-collect size() cap reintroduced — hot buckets would "
        "materialize before the filter"
    )


def test_incremental_bucket_collect_caps_before_collect(spark):
    """Same pin for the side-aware incremental kernel (dedup.py
    incremental_minhash_dedup_indexed): cap via window before the
    member-struct collect_list."""
    from stakehouse_etl_spark.operators.dedup import (
        incremental_minhash_dedup_indexed,
    )

    cb = spark.createDataFrame(
        [(i, 0, "hot") for i in range(6)],
        "doc_id long, band_idx int, band_key string",
    )
    cs = spark.createDataFrame(
        [(i, ["x"], 1) for i in range(6)],
        "doc_id long, shingle_set array<string>, n_sh long",
    )
    bb = spark.createDataFrame(
        [(10, 0, "hot")], "doc_id long, band_idx int, band_key string"
    )
    bs = spark.createDataFrame(
        [(10, ["x"], 1)], "doc_id long, shingle_set array<string>, n_sh long"
    )
    ids = spark.createDataFrame([(10,)], "doc_id long")
    out = incremental_minhash_dedup_indexed(
        cb, cs, bb, bs, ids, threshold_pct=20, max_bucket=5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    assert "__bsz" in plan
    _assert_window_runs_before_collect(plan)
    assert not re.search(r"Filter \(?size\(__ms", plan)
    # Semantics unchanged: hot bucket (7 > 5) dropped → batch doc kept.
    assert {r["doc_id"] for r in out.collect()} == {10}
