"""refresh_serve: an income warehouse refreshed cycle by cycle, with
serving reads after every cycle.

Input: the ``queries.soak`` S1 extract over the sf0.1 events (50 keys,
about 120 six-hour epochs). The first cycle bootstraps the warehouse
with BOOT_EPOCHS epochs (the cold pass, on a cold JVM); every later cycle
appends STEP epochs through ``incremental_income_run`` into the
epoch-bucket partitioned warehouse. Each cycle re-plans the extract from
the source table, as a refresh service would. After each cycle a seeded
mix runs every serving read once; each read is checked against the
warehouse files read back with pyarrow.

The bootstrap cycle is the cold pass; its reads are checked but not
counted among the operations. As many resume cycles follow as fill the
run's seconds at NOMINAL_CYCLE_S.

At the end, untimed: a replay of the last cycle must be a no-op, no
bucket may hold more files than ``spark.sql.shuffle.partitions``, and
the final index rollup must equal the ``pipeline_warehouse_soak``
oracle up to the last cycle's epoch.
"""

from __future__ import annotations

import os
import sys
import time
from statistics import median

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import harness
import plan
import spans
from stakehouse_etl_spark.caches import release_tracked
from stakehouse_etl_spark.io import sinks, sources
from stakehouse_etl_spark.plans import serving
from stakehouse_etl_spark.queries.catalog import QUERIES
from stakehouse_etl_spark.queries.soak import (
    EPOCHS_PER_BUCKET,
    MICROS_PER_EPOCH,
    N_INDEXES,
    N_KEYS,
    _file_census,
    _hourly_balances,
)
from stakehouse_etl_spark.streaming import incremental
from tools.check import compare, duck_conn

BOOT_EPOCHS = 24  # two buckets of history in the bootstrap cycle
STEP = 2  # epochs appended per later cycle
# Wall of one resume cycle with its reads on a 4-core machine; sizes the
# timed window.
NOMINAL_CYCLE_S = 5.0


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        self.state = os.path.join(root, "state")
        self.income = os.path.join(root, "income")

    def files(self) -> dict[str, int]:
        """relative path -> size of every data file (income and state)."""
        out = {}
        for d, _, names in os.walk(self.root):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(d, n)
                    out[os.path.relpath(p, self.root)] = os.path.getsize(p)
        return out

    def income_frame(self):
        return ds.dataset(self.income, format="parquet", partitioning="hive").to_table().to_pandas()


def refresh(spark, sf_dir: str, wh: Warehouse, cut: int, tracer) -> tuple[float, float]:
    t0 = harness.clocks()
    balances = _hourly_balances(spark, sf_dir)
    with tracer.span("incremental"):
        incremental.incremental_income_run(
            spark,
            balances.filter(F.col("epoch") <= cut),
            state_path=wh.state,
            income_path=wh.income,
            money_scale=100,
            epochs_per_bucket=EPOCHS_PER_BUCKET,
        )
    return harness.since(t0)


def leaderboard(income, k: int):
    """The soak's serving read: top-k keys by latest cumulative earnings."""
    return (
        income.groupBy("bls_key")
        .agg(F.max_by("earnings", "epoch").alias("earnings"))
        .orderBy(F.desc("earnings"), F.asc("bls_key"))
        .limit(k)
    )


def membership(income):
    """Index membership as the soak derives it: key modulo N_INDEXES."""
    return income.select("bls_key", "epoch", (F.col("bls_key") % N_INDEXES).alias("indexes"))


def serve(spark, wh: Warehouse, read: str, params: dict, tracer) -> list:
    with tracer.span("serving.build"):
        income = spark.read.parquet(wh.income)
        if read == "validator_epoch_apr":
            df = serving.validator_epoch_apr(income, params["bls_key"], params["epochs"])
        elif read == "user_apr_by_epoch":
            df = serving.user_apr_by_epoch(income, params["bls_keys"], params["epochs"])
        elif read == "deth_earned_index":
            df = serving.deth_earned_index(income, membership(income), params["index"])
        elif read == "index_validators":
            df = serving.index_validators(membership(income), params["index"])
        else:
            df = leaderboard(income, params["k"])
    with tracer.span("serving.exec"):
        return df.collect()


def read_matches(rows: list, inc, read: str, params: dict) -> bool:
    """Compare a serving read with the same read done in pandas over the
    warehouse files."""
    newest_first = inc.sort_values("epoch", ascending=False)
    if read == "validator_epoch_apr":
        want = newest_first[newest_first.bls_key == params["bls_key"]].head(params["epochs"])
        got = [(r.epoch, r.earnings, r.losses, r.apr) for r in rows]
        exp = list(zip(want.epoch, want.earnings, want.losses, want.apr))
        return len(got) == len(exp) and all(
            g[0] == e[0] and all(harness.close(a, b) for a, b in zip(g[1:], e[1:])) for g, e in zip(got, exp)
        )
    if read == "user_apr_by_epoch":
        sliced = newest_first[newest_first.bls_key.isin(params["bls_keys"])].groupby("bls_key").head(params["epochs"])
        want = sliced.groupby("epoch").apr.mean().to_dict()
        got = {r.epoch: r.apr for r in rows}
        return got.keys() == want.keys() and all(harness.close(got[k], want[k]) for k in want)
    latest = newest_first.drop_duplicates("bls_key")
    members = latest[latest.bls_key % N_INDEXES == params.get("index")]
    if read == "deth_earned_index":
        return len(rows) == 1 and harness.close(rows[0].deth_earned, members.earnings.sum() / 1e9)
    if read == "index_validators":
        return sorted(r.bls_key for r in rows) == sorted(members.bls_key)
    want = latest.sort_values(["earnings", "bls_key"], ascending=[False, True]).head(params["k"])
    return [(r.bls_key, r.earnings) for r in rows] == list(zip(want.bls_key, want.earnings))


def run(ctx: harness.Run, run_dir: str) -> dict:
    sf_dir = harness.ensure_data()

    # The extract's epoch range, from the source file rather than a job.
    ts = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["ts"]).column("ts")
    lo, hi = (int(t.cast("int64").as_py()) // MICROS_PER_EPOCH for t in pc.min_max(ts).values())

    spark, setups = harness.set_up(run_dir)
    ctx.record["env_start"] = harness.environment_stamp(spark)
    ctx.record["setups"] = setups
    tracer = spans.Tracer(spark)
    if ctx.trace:
        spans.wrap_everywhere(tracer, sources.load_table, "sources")
        spans.wrap_name(tracer, incremental, "write_upsert", "sinks")
        spans.wrap_name(tracer, sinks, "write_time_partitioned", "sinks")

    wh = Warehouse(os.path.join(run_dir, "warehouse"))
    max_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_cycles = 1 + harness.timed_passes(ctx.seconds, NOMINAL_CYCLE_S)
    cuts = range(lo + BOOT_EPOCHS - 1, hi + 1, STEP)[:n_cycles]
    if len(cuts) < n_cycles:
        raise SystemExit(f"perfbench: the extract holds {len(cuts)} cycles, {n_cycles} asked for")
    mixes = plan.read_mixes(ctx.seed, N_KEYS, N_INDEXES)
    gauge = harness.HostGauge(spark)
    gauge.sample()
    cycles: list[dict] = []
    files, rows_live, worst_files, worst_buckets = {}, 0, 0, 0
    for i, cut in enumerate(cuts):
        if i == 1:
            start = time.perf_counter()
        tracer.active = ctx.trace and (i == 0 or harness.traced_pass(i))
        c = {"cut": cut, "traced": tracer.active, "reads": []}
        try:
            c["wall"], c["cpu"] = refresh(spark, sf_dir, wh, cut, tracer)
            ok = True
        except Exception as e:
            c["wall"], c["cpu"], ok = None, None, False
            print(f"perfbench: cycle {i} raised {e!r}", file=sys.stderr)
        with tracer.span("caches"):
            release_tracked()
            spark.catalog.clearCache()
        leaked = harness.persistent_rdds(spark)
        ctx.check(ok and leaked == 0, f"cycle {i} cut {cut}: ok={ok} leaked_rdds={leaked}")

        census = _file_census(wh.income)
        worst_files = max([worst_files, *census.values()])
        worst_buckets = max(worst_buckets, len(census))
        before, files = files, wh.files()
        inc = wh.income_frame()
        written = [p for p, size in files.items() if before.get(p) != size]
        c["sinks"] = {
            "sinks.files_written": len(written),
            "sinks.bytes_written": sum(files[p] for p in written),
            "sinks.partitions_touched": len({os.path.dirname(p) for p in written if p.startswith("income")}),
            "incremental.rows_out": len(inc) - rows_live,
        }
        growth = sum(files.values()) - sum(before.values())
        if growth > 0:
            c["sinks"]["sinks.rewrite_ratio"] = c["sinks"]["sinks.bytes_written"] / growth
        rows_live = len(inc)

        for read, params in next(mixes):
            t0 = harness.clocks()
            try:
                rows = serve(spark, wh, read, params, tracer)
                wall, cpu = harness.since(t0)
                ok = read_matches(rows, inc, read, params)
            except Exception as e:
                wall, cpu, ok = None, None, False
                print(f"perfbench: {read} raised {e!r}", file=sys.stderr)
            ctx.check(ok, f"cycle {i} {read} {params}")
            c["reads"].append({"read": read, "params": params, "wall": wall, "cpu": cpu})
        if tracer.active:
            c["layers"] = spans.layer_totals(tracer, tracer.drain())
            c["layers"]["caches.leaked_rdds"] = leaked
            c["layers"].update(c["sinks"])
            if c["wall"] is not None:
                # The extract's load and the incremental run should tile
                # the cycle's wall.
                c["layers"]["trace.unaccounted_s"] = (
                    c["wall"] - c["layers"].get("sources.load_s", 0) - c["layers"]["incremental.run_s"]
                )
        cycles.append(c)
        gauge.sample()
    tracer.active = False
    ctx.record["timed_window_s"] = time.perf_counter() - start
    ctx.record["cycles"] = cycles
    rss = harness.peak_rss_mb(spark)
    income_bytes = sum(size for p, size in files.items() if p.startswith("income"))

    last = cycles[-1]["cut"]
    census = _file_census(wh.income)
    refresh(spark, sf_dir, wh, last, tracer)
    ctx.check(
        (len(wh.income_frame()), _file_census(wh.income)) == (rows_live, census),
        "replay of the last cycle changed the warehouse",
    )
    spanned = last // EPOCHS_PER_BUCKET - lo // EPOCHS_PER_BUCKET + 1
    ctx.check(
        worst_files <= max_files and worst_buckets <= spanned,
        f"{worst_files} files in a bucket (bound {max_files}), {worst_buckets} buckets (bound {spanned})",
    )
    got = (
        spark.read.parquet(wh.income)
        .groupBy((F.col("bls_key") % N_INDEXES).alias("indexes"), "epoch")
        .agg(
            F.sum(F.round(F.col("earnings") * 100).cast("long")).alias("earnings_cents"),
            F.sum(F.round(F.col("losses") * 100).cast("long")).alias("losses_cents"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .toPandas()
    )
    oracle = QUERIES["pipeline_warehouse_soak"].oracle
    want = duck_conn(sf_dir).execute(f"SELECT * FROM ({oracle}) WHERE epoch <= {last}").df()
    msg = compare("pipeline_warehouse_soak", got, want)
    ctx.check(not msg, f"final rollup vs oracle: {msg}")
    ctx.record["env_end"] = harness.environment_stamp(spark)
    harness.shut_down(spark, run_dir)

    timed = [c for c in cycles[1:] if c["wall"] is not None]
    ops = [r for c in timed for r in c["reads"] if r["wall"] is not None]
    ctx.record["samples"] = {"cycles": len(cycles), "reads": len(ops)}
    if ctx.trace:
        traced = [c for c in timed if c["traced"]]
        plain = [c for c in timed if not c["traced"]]
        out = spans.medians([c["layers"] for c in traced])
        out.update(spans.setup_layers(setups))
        out["sinks.bytes_per_row"] = income_bytes / rows_live
        out["mem.peak_rss_mb"] = rss
        out["trace.overhead"] = (
            median([c["cpu"] for c in traced]) / median([c["cpu"] for c in plain]) - 1
        )
        return out
    return harness.end_to_end(ctx, gauge, setups, cycles[0], timed, ops)
