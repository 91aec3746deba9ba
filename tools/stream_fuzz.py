"""sf10 fuzz for the foreachBatch streaming family (VERDICT r6 #4).

The r5/r6 sf10 plan fuzzer covered batch plans; the foreachBatch
loops were laddered only to sf1 with the per-batch cost CLAIM "batch-
sized at any corpus size" (PLANS.md Round-6). This tool turns that
claim into a measurement: run each foreachBatch catalog query at an
arbitrary rung and record the WALL TIME OF EVERY MICRO-BATCH via a
session-global StreamingQueryListener (so the queries themselves stay
untouched — the listener reads `durationMs.triggerExecution` +
`batchId` off the engine's own progress events).

Flatness contract: with the corpus split into equal-size batches, a
healthy incremental loop has near-equal per-batch walls (the stored
index grows, but the probe is a hash join keyed on the gram/band —
batch-sized work per batch). Batch 1 is BOOTSTRAP and excluded: it
runs a structurally different plan (empty-index join) and absorbs
the first-plan codegen for the whole topology (measured at sf1:
13.5 s vs 6.1/5.7 s steady for stream_span_scrub, while batches 2→3
— index at 1/3 vs 2/3 of corpus — stay flat). The contract is
last/second ≤ THRESH over batches 2+: growth there means per-batch
cost scales with the ACCUMULATED state, the superlinear signature
that invalidates the steady-state-ingest claim. max/median over all
batches is reported alongside for the full picture.

LONG HORIZON (VERDICT r7 task 2): ``--batches=N`` splits the corpus
into N micro-batches (via SPARK_GRAFT_STREAM_BATCHES, honored by the
two index-probing loops), so by the final batch the stored index holds
(N-1)× the batch size — the regime where a per-batch cost that secretly
scales with ACCUMULATED state must show. With >= 6 steady batches the
report adds ``steady_max_over_median`` (batches 2+), which retires the
cold-batch exclusion doing all the work in the 3-batch runs (VERDICT
r7 'what's wrong' #2).

Usage: python tools/stream_fuzz.py [--batches=N] [sf_dir] [query ...]
  default sf_dir localdata/sf10; default queries: the four
  foreachBatch loops. Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from stakehouse_etl_spark import measure  # noqa: E402
from stakehouse_etl_spark.caches import release_tracked  # noqa: E402
from stakehouse_etl_spark.queries.catalog import QUERIES  # noqa: E402
from stakehouse_etl_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = [
    "stream_span_scrub",
    "stream_incremental_dedup",
    "stream_upsert_foreachbatch",
    "stream_snapshot_publish",
]
FLAT_THRESH = 1.2  # max/median per-batch wall ratio contract


class _BatchWallListener(StreamingQueryListener):
    """Collects (batchId, triggerExecution ms, numInputRows) for every
    progress event in the session."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        try:
            self.batches.append(
                {
                    "batch_id": p.batchId,
                    "ms": p.durationMs.get("triggerExecution"),
                    "rows": p.numInputRows,
                }
            )
        except Exception:
            pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def main(argv: list[str]) -> int:
    n_batches = None
    rest = []
    for a in argv:
        if a.startswith("--batches="):
            n_batches = int(a.split("=", 1)[1])
        else:
            rest.append(a)
    if n_batches is not None:
        os.environ["SPARK_GRAFT_STREAM_BATCHES"] = str(n_batches)
    sf_dir = rest[0] if rest else os.path.join(REPO, "localdata", "sf10")
    names = rest[1:] or DEFAULT_QUERIES
    spark = get_spark("stream_fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    listener = _BatchWallListener()
    spark.streams.addListener(listener)
    # Codegen + page-cache warmup so batch 1 isn't additionally
    # charged for session bootstrap (it already pays the topology's
    # first-plan cost, which is why flatness skips it).
    measure.warm(spark, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        if name not in QUERIES:
            out[name] = {"err": "not in catalog"}
            continue
        listener.batches.clear()
        t0 = time.perf_counter()
        try:
            # foreachBatch queries drive their own stream to
            # completion inside fn; the listener captures per-batch
            # walls as a side effect. count() forces any lazy tail.
            n = QUERIES[name].fn(spark, sf_dir).count()
            err = None
        except Exception as e:  # keep fuzzing the rest
            n, err = None, f"{type(e).__name__}: {e}"
        wall = round(time.perf_counter() - t0, 2)
        release_tracked()
        spark.catalog.clearCache()
        # Progress events arrive asynchronously on the listener bus —
        # poll until the set stops growing instead of trusting one
        # fixed sleep (review r7: a late event would silently truncate
        # the series and mis-map walls[1:] to the wrong batches).
        seen = -1
        for _ in range(20):
            if len(listener.batches) == seen:
                break
            seen = len(listener.batches)
            time.sleep(0.5)
        # Keep only real data batches (skip idle/no-input triggers),
        # in BATCH order — arrival order is not guaranteed.
        bt = sorted(
            (b for b in listener.batches if b["rows"] and b["ms"]),
            key=lambda b: b["batch_id"],
        )
        walls = [b["ms"] / 1000.0 for b in bt]
        rec: dict = {
            "rows_out": n,
            "wall_sec": wall,
            "n_batches": len(walls),
            "batch_walls_sec": [round(w, 2) for w in walls],
            "err": err,
        }
        if walls:
            med = statistics.median(walls)
            rec["max_over_median"] = round(max(walls) / med, 3) if med else None
            steady = walls[1:]
            if len(steady) >= 2 and steady[0] > 0:
                ratio = steady[-1] / steady[0]
                rec["steady_last_over_first"] = round(ratio, 3)
                rec["flat_ok"] = bool(ratio <= FLAT_THRESH)
            else:
                rec["flat_ok"] = None
            # Long-horizon form of the contract (VERDICT r7 task 2):
            # with >= 6 steady batches the cold-batch exclusion stops
            # doing the work — the steady WINDOW itself must be flat
            # (max/median over batches 2+), not just its endpoints.
            if len(steady) >= 2:
                smed = statistics.median(steady)
                rec["steady_max_over_median"] = (
                    round(max(steady) / smed, 3) if smed else None
                )
                if len(steady) >= 6 and smed:
                    rec["steady_window_flat_ok"] = bool(
                        max(steady) / smed <= FLAT_THRESH
                    )
            # Spike-robust trend (r9): at 20 batches each batch is
            # small enough that a single host-noise spike (GC pause,
            # outside load) breaks max/median while the series is
            # trendless — measured: back-to-back 20-batch runs put a
            # ~2x spike at batch 2 and batch 16 respectively, position-
            # random. State growth is a TREND, not a spike: report the
            # Theil-Sen slope (median of pairwise slopes — one spike
            # moves O(n) of O(n²) pairs) over the steady window,
            # normalized by the steady median, in fraction-per-batch.
            # Contract (one-sided — the failure mode is GROWTH; a
            # negative slope is warmup decay, benign): slope_rel <=
            # +0.01/batch (<= ~20% growth across a 20-batch horizon).
            if len(steady) >= 6:
                slopes = [
                    (steady[j] - steady[i]) / (j - i)
                    for i in range(len(steady))
                    for j in range(i + 1, len(steady))
                ]
                ts = statistics.median(slopes)
                smed = statistics.median(steady)
                if smed:
                    rel = ts / smed
                    rec["steady_theilsen_slope_rel"] = round(rel, 4)
                    rec["steady_trend_flat_ok"] = bool(rel <= 0.01)
        out[name] = rec
        print(f"{name}: {rec}", file=sys.stderr)

    print(json.dumps({"sf_dir": sf_dir, "flat_thresh": FLAT_THRESH,
                      "queries": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
