"""batch_sf0.1: catalog queries forced through the noop sink, as
``bench.py`` runs them. One cold pass, then the timed passes (as many as
fill the run's seconds at NOMINAL_PASS_S); every timed pass runs each
query once in seeded order.

Per query the timed operation is ``QUERIES[name].fn(spark, sf_dir)``
(the plan build, with any jobs it runs) plus the noop-sink action. The
cache release after it belongs to the pass, not to the query. After the
timed passes, untimed, every query is compared with its DuckDB oracle.
"""

from __future__ import annotations

import sys
import time
from statistics import median

import harness
import plan
import spans
from stakehouse_etl_spark.caches import release_tracked
from stakehouse_etl_spark.io import sources
from stakehouse_etl_spark.queries.catalog import QUERIES
from tools.check import compare, duck_conn

# Five of bench.py's seven headline queries, of different tables and
# plan shapes: at sf0.1 their warm walls are 0.4-0.9 s, mostly plan
# build, table loads and job launch. Five rather than seven so that a
# run fits enough timed passes, and an odd count so that the median
# operation falls inside one query's band (see plan.READS).
QUERY_NAMES = (
    "w1_user_income",
    "j1_latest_order_per_customer",
    "j3_order_lineitem_agg",
    "j9_asof_last_signup",
    "a1_pricing_summary",
)

SPANNED = ("queries", "plan", "exec")
# Wall of one timed pass on a 4-core machine; sizes the timed window.
NOMINAL_PASS_S = 3.5


def run(ctx: harness.Run, run_dir: str) -> dict:
    names = QUERY_NAMES
    sf_dir = harness.ensure_data()
    spark, setups = harness.set_up(run_dir)
    ctx.record["env_start"] = harness.environment_stamp(spark)
    ctx.record["setups"] = setups
    tracer = spans.Tracer(spark)
    if ctx.trace:
        spans.wrap_everywhere(tracer, sources.load_table, "sources")

    def release() -> tuple[float, float]:
        t0 = harness.clocks()
        with tracer.span("caches"):
            release_tracked()
            spark.catalog.clearCache()
        return harness.since(t0)

    def one_query(name: str) -> tuple[float, float]:
        t0 = harness.clocks()
        with tracer.span("queries"):
            df = QUERIES[name].fn(spark, sf_dir)
        if tracer.active:
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        return harness.since(t0)

    orders = plan.query_passes(ctx.seed, names)

    def one_pass(label: str, order: list[str], traced: bool) -> dict:
        tracer.active = traced
        p = {"pass": label, "traced": traced, "wall": 0.0, "cpu": 0.0, "queries": {}, "layers": {}}
        for name in order:
            try:
                wall, cpu = one_query(name)
                ok = True
            except Exception as e:  # a failed operation, not a failed run
                wall, cpu, ok = None, None, False
                print(f"perfbench: {name} raised {e!r}", file=sys.stderr)
            rel_wall, rel_cpu = release()
            p["wall"] += (wall or 0.0) + rel_wall
            p["cpu"] += (cpu or 0.0) + rel_cpu
            leaked = harness.persistent_rdds(spark)
            ctx.check(ok and leaked == 0, f"pass {label} {name}: ok={ok} leaked_rdds={leaked}")
            q = p["queries"][name] = {"wall": wall, "cpu": cpu, "leaked_rdds": leaked}
            if tracer.active:
                closed = tracer.drain()
                layers = spans.layer_totals(tracer, closed)
                layers["caches.leaked_rdds"] = leaked
                spanned = sum(s.seconds for s in closed if s.layer in SPANNED)
                if wall is not None:
                    # Build + Catalyst + exec should tile the query's wall.
                    layers["trace.unaccounted_s"] = wall - spanned
                    q["span_gap_s"] = wall - spanned
                q["layers"] = layers
                spans.add_into(p["layers"], layers)
        return p

    # The cold pass runs in fixed order: the first query pays most of the
    # JIT cost. The untraced passes of a traced run measure the tracing
    # overhead.
    gauge = harness.HostGauge(spark)
    gauge.sample()
    cold = one_pass("cold", list(names), ctx.trace)
    gauge.sample()
    start = time.perf_counter()
    warm = []
    for j in range(1, harness.timed_passes(ctx.seconds, NOMINAL_PASS_S) + 1):
        warm.append(one_pass(str(j), next(orders), ctx.trace and harness.traced_pass(j)))
        gauge.sample()
    tracer.active = False
    ctx.record["timed_window_s"] = time.perf_counter() - start
    ctx.record["passes"] = [cold, *warm]
    rss = harness.peak_rss_mb(spark)

    con = duck_conn(sf_dir)
    for name in names:
        try:
            msg = compare(name, QUERIES[name].fn(spark, sf_dir).toPandas(), con.execute(QUERIES[name].oracle).df())
        except Exception as e:
            msg = f"raised {e!r}"
        release()
        ctx.check(not msg, f"oracle {name}: {msg}")
    ctx.record["env_end"] = harness.environment_stamp(spark)
    harness.shut_down(spark, run_dir)

    ops = [q for p in warm for q in p["queries"].values() if q["wall"] is not None]
    ctx.record["samples"] = {"warm_passes": len(warm), "warm_queries": len(ops)}
    if ctx.trace:
        return trace_metrics(warm, setups) | {"mem.peak_rss_mb": rss}
    return harness.end_to_end(ctx, gauge, setups, cold, warm, ops)


def trace_metrics(warm: list[dict], setups: list) -> dict:
    """Per-layer medians over the traced warm passes, plus the session
    set-up split and the tracing overhead on pass CPU."""
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    out = spans.medians([p["layers"] for p in traced])
    out.update(spans.setup_layers(setups))
    if traced and plain:
        out["trace.overhead"] = (
            median([p["cpu"] for p in traced]) / median([p["cpu"] for p in plain]) - 1
        )
    return out
