"""Hot-bucket fuzz for the capped bucket-collect kernels (VERDICT r11
item 1 done-criterion).

Builds a corpus with one giant exact-duplicate cluster — every band
bucket of the cluster holds ``hot`` members, orders of magnitude over
the cap — plus a cool tail, then runs the three capped consumers:

- ``lsh_candidates`` (the `_candidates_from_banded` kernel),
- ``minhash_lsh_pairs`` (candidates + verify),
- ``incremental_minhash_dedup_indexed`` (the side-aware kernel), with
  the hot cluster stored as corpus state and a batch probing it.

The r11 form materialized each hot bucket's entire member array in one
unspillable aggregation buffer before the size() filter dropped it;
the r12 form drops over-cap buckets with the spillable window count
BEFORE collect_list, so the collected arrays are bounded by the cap at
the point they are built. This fuzz pins completion (no executor OOM /
no task retry storm) and the expected drop semantics at a bucket size
the bench fixtures never reach.

Usage: python tools/hotbucket_fuzz.py [hot_n] [cool_n]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from stakehouse_etl_spark.caches import release_tracked  # noqa: E402
from stakehouse_etl_spark.operators.dedup import (  # noqa: E402
    incremental_minhash_dedup_indexed,
    lsh_candidates,
    minhash_index_for,
    minhash_lsh_pairs,
)
from stakehouse_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    hot_n = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    cool_n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    spark = get_spark("hotbucket-fuzz")
    spark.sparkContext.setLogLevel("ERROR")

    # hot cluster: identical text → identical signatures → every band
    # bucket holds hot_n members (≫ the 1000 cap). cool tail: distinct
    # texts derived from the id so buckets stay tiny.
    hot = spark.range(hot_n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the quick brown fox jumps over the lazy dog near the bank "
            "of the wide river at dawn"
        ).alias("text"),
    )
    cool = spark.range(hot_n, hot_n + cool_n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("cool doc"),
            F.col("id").cast("string"),
            (F.col("id") * 7 % 997).cast("string"),
            (F.col("id") * 13 % 991).cast("string"),
            (F.col("id") * 29 % 983).cast("string"),
            (F.col("id") * 31 % 977).cast("string"),
        ).alias("text"),
    )
    docs = hot.unionByName(cool)

    out: dict[str, object] = {"hot_n": hot_n, "cool_n": cool_n}

    t0 = time.time()
    n_cand = lsh_candidates(docs, max_bucket=1000).count()
    out["lsh_candidates"] = {"n": n_cand, "sec": round(time.time() - t0, 1)}
    release_tracked()

    t0 = time.time()
    pairs = minhash_lsh_pairs(docs, threshold_pct=20, max_bucket=1000)
    n_pairs = pairs.count()
    # the hot cluster's buckets are all over-cap → no hot pair may
    # survive; candidates from the cool tail are possible but bounded.
    n_hot_pairs = pairs.filter(F.col("id_a") < hot_n).count()
    out["minhash_lsh_pairs"] = {
        "n": n_pairs,
        "hot_pairs": n_hot_pairs,
        "sec": round(time.time() - t0, 1),
    }
    release_tracked()

    # incremental: the stored corpus is the hot cluster (its bands and
    # singleton sets), the batch is 1000 more copies of the same text —
    # the union bucket is hot_n + 1000 ≫ cap, must drop; every batch
    # doc keeps.
    t0 = time.time()
    corpus_bands, corpus_sets = minhash_index_for(hot)
    batch = spark.range(10_000_000, 10_001_000).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the quick brown fox jumps over the lazy dog near the bank "
            "of the wide river at dawn"
        ).alias("text"),
    )
    batch_bands, batch_sets = minhash_index_for(batch)
    kept = incremental_minhash_dedup_indexed(
        corpus_bands,
        corpus_sets,
        batch_bands,
        batch_sets,
        batch.select("doc_id"),
        threshold_pct=20,
        max_bucket=1000,
    ).count()
    out["incremental_indexed"] = {
        "kept": kept,
        "expected_kept": 1000,
        "sec": round(time.time() - t0, 1),
    }
    out["ok"] = bool(n_hot_pairs == 0 and kept == 1000)
    print(json.dumps(out))
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
