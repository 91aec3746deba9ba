"""Skewed-text vs uniform-text dedup-guard comparison (VERDICT r8
task 8).

Every dedup rung so far ran on ``tools/gen_testdata.py``'s uniform
31-word-vocabulary prose. Real web text is Zipfian: a few token types
(and therefore shingles/grams) dominate, which is exactly the regime
the LSH hot-bucket cap (``operators/buckets.drop_oversize_buckets``)
and the prefix filter's document-frequency ordering exist to guard.
``gen_testdata.py --zipf`` produces a ``documents`` table with Zipf
rank-frequency (s=1.05, 10k types) and lognormal doc lengths; this
tool runs the dedup observability + ladder queries on BOTH corpora at
the same document count and reports:

- band-bucket structure (``dedup_lsh_bucket_stats``): bucket counts,
  max bucket size, how many buckets the cap drops, and the candidate-
  pair mass the drop avoids — the cap's hit-rate under skew;
- walls for the two guarded pair queries (``dedup_minhash_lsh``,
  ``dedup_prefix_filter_pairs``) — whether skew degrades them.

Usage: python tools/zipf_compare.py [uniform_sf_dir] [zipf_sf_dir]
  defaults localdata/sf1 and localdata/zipf_sf1. Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stakehouse_etl_spark import measure  # noqa: E402
from stakehouse_etl_spark.caches import release_tracked  # noqa: E402
from stakehouse_etl_spark.queries.catalog import QUERIES  # noqa: E402
from stakehouse_etl_spark.session import get_spark  # noqa: E402

WALL_QUERIES = ("dedup_minhash_lsh", "dedup_prefix_filter_pairs")


def main(argv: list[str]) -> int:
    uni = argv[0] if argv else os.path.join(REPO, "localdata", "sf1")
    zipf = (
        argv[1]
        if len(argv) > 1
        else os.path.join(REPO, "localdata", "zipf_sf1")
    )
    spark = get_spark("zipf_compare")
    spark.sparkContext.setLogLevel("ERROR")
    measure.warm(spark)

    out: dict = {}
    for label, sf_dir in (("uniform", uni), ("zipf", zipf)):
        rec: dict = {"sf_dir": sf_dir}
        stats = (
            QUERIES["dedup_lsh_bucket_stats"].fn(spark, sf_dir).collect()
        )
        rec["bucket_stats"] = [r.asDict() for r in stats]
        release_tracked()
        spark.catalog.clearCache()
        for name in WALL_QUERIES:
            best = min(measure.run(spark, name, sf_dir).wall_s for _ in range(2))
            rec[f"wall_{name}_sec"] = round(best, 2)
        out[label] = rec
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
