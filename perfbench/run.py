"""Benchmark of the stakehouse ETL engine; see ``BENCHMARK.json``.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload batch_sf0.1 --seed 1 --seconds 25 --trace 0

Workloads:

- ``batch_sf0.1``: catalog queries over generated sf0.1 tables
  (``batch.py``); fixed per-query overhead dominates.
- ``refresh_serve``: incremental refresh cycles into a partitioned income
  warehouse with serving reads after each (``refresh.py``).

One process, ``local[<cores>]``, one closed-loop client. Set-up (session
start plus a first job, several times) happens before the timed passes
and is reported as ``setup_s``. A cold pass follows, then a fixed count
of further passes, as many as last ``--seconds`` on a 4-core machine;
all of them are timed. Afterwards every output is checked. The last
stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones below, in engine
CPU time (``harness.cpu_seconds``: the Python process plus the driver
JVM), which leaves out waiting for a core, scaled by the host's measured
speed (``harness.HostGauge``), so that a shared host's other tenants
move the figures little; the unscaled figures and the same in wall time
go to the run's record. With ``--trace 1`` they are the per-layer ones
of ``spans.PER_LAYER``. Per-pass detail goes to
``perfbench/.work/records/``.

Input tables are generated once per checkout with
``tools/gen_testdata.py`` and checked by content digest on every run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; the same on every workload (see the workload modules for
# what a pass and an operation are there).
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("batch_sf0.1", "refresh_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for needed in ("stakehouse_etl_spark", os.path.join("tools", "gen_testdata.py"), os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    import harness

    run_dir = harness.pin_environment()
    if args.workload == "refresh_serve":
        import refresh as workload
    else:
        import batch as workload
    from spans import PER_LAYER

    t0 = time.perf_counter()
    ctx = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    values = workload.run(ctx, run_dir)
    units = PER_LAYER if args.trace else END_TO_END
    ctx.record["run_wall_s"] = time.perf_counter() - t0
    result = ctx.result({name: (values.get(name, 0.0), unit) for name, unit in units.items()})
    record = ctx.write_record(result)
    print(f"perfbench: record in {os.path.relpath(record, ROOT)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
