"""Shared plumbing for the benchmark workloads.

- where the benchmark keeps its inputs and scratch files (all inside the
  checkout, under ``perfbench/.work``);
- the generated input tables and their content check;
- the pinned environment (cores, scratch dirs) and the Spark session
  set-up that ``setup_s`` times;
- the engine CPU clock that every end-to-end figure is read from, and
  the host-speed gauge that scales those figures;
- the ``Run`` ledger of attempted / failed operations and the
  statistics every workload reports.
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

# Set-ups per run; setup_s is their median. The first one also launches
# the JVM, the later ones recreate the session inside it.
SETUPS = 3

# Both workloads read the sf0.1 rung of tools/gen_testdata.py. Its
# content digest (see content_digest): generation is deterministic, so a
# mismatch means the generator changed and the calibration is void.
SF = "0.1"
DATA_DIGEST = "c473dc0bea2576270d12b66990dacfcf029e9a3f93551065c215cd3168568acd"


def pin_environment() -> str:
    """Pin Spark to this machine's cores and keep every scratch file
    inside the checkout. Must run before pyspark starts a JVM.
    Returns the per-run scratch directory."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    return run_dir


def environment_stamp(spark=None) -> dict:
    with open("/proc/stat") as f:
        steal_ticks = int(f.readline().split()[8])
    stamp = {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        # CPU time the host took from this machine since it booted.
        "steal_s": steal_ticks / os.sysconf("SC_CLK_TCK"),
    }
    if spark is not None:
        stamp["default_parallelism"] = spark.sparkContext.defaultParallelism
    return stamp


# --- input tables -------------------------------------------------------


def content_digest(sf_dir: str) -> str:
    """Digest of the tables' contents (not the parquet bytes, which carry
    writer metadata)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        if not name.endswith(".parquet"):
            continue
        table = pq.read_table(os.path.join(sf_dir, name))
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        h.update(name.encode())
        h.update(sink.getvalue())
    return h.hexdigest()


def ensure_data() -> str:
    """Generate the input tables with ``tools/gen_testdata.py`` on first
    use and check their content digest on every use. Not part of any
    metric."""
    out = os.path.join(WORK, "data", f"sf{SF}")
    if not os.path.isdir(out):
        staging = out + f".tmp-{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "gen_testdata.py"), SF, staging],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        os.replace(staging, out)
    digest = content_digest(out)
    if digest != DATA_DIGEST:
        raise SystemExit(f"perfbench: sf{SF} content digest {digest} != {DATA_DIGEST}")
    return out


# --- clocks -------------------------------------------------------------

# The driver JVM's pid and its Linux process CPU-time clock (all its
# threads), set once the JVM runs; see cpu_seconds.
_jvm_pid: int | None = None
_jvm_cpu_clock: int | None = None


def cpu_seconds() -> float:
    """CPU seconds used so far by the engine: this Python process plus
    the driver JVM, every thread of both (JIT compiler and GC included),
    at nanosecond resolution.

    Unlike wall time this leaves out the time the engine waits for a
    core, whether another process of this machine holds it or the host
    lends it to another machine (steal time), so the load of a shared
    host moves it much less. Before the JVM is launched only the Python
    process counts."""
    if _jvm_pid is None:
        return time.process_time()
    return time.process_time() + time.clock_gettime(_jvm_cpu_clock)


# The reference computation that gauges the host's speed: sorting a
# fixed array of SORT_INTS pseudo-random ints in the driver JVM. Its CPU
# time is read on the JVM thread that runs it; on a 4-core machine of a
# shared host it took 0.08-0.09 s while the host was idle. The figures
# are scaled to a host on which it takes REF_SORT_S.
SORT_INTS = 1_000_000
REF_SORT_S = 0.1


class HostGauge:
    """Gauges how fast the host runs CPU work right now, with code that
    is the same in every version of the engine.

    A shared host's other tenants slow every instruction, not only the
    waits: runs of the same code spent up to half again as much engine
    CPU time while the host was busy as while it was idle. Each figure
    is scaled by REF_SORT_S over the run's median reference time, so
    that it reads about the same on a busy host as on an idle one."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._jvm = jvm
        self._thread = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        self._ints = jvm.java.util.Random(1).ints(SORT_INTS).toArray()
        self.samples: list[float] = []

    def sample(self, n: int = 2) -> None:
        for _ in range(n):
            a = self._jvm.java.util.Arrays.copyOf(self._ints, SORT_INTS)
            t0 = self._thread.getCurrentThreadCpuTime()
            self._jvm.java.util.Arrays.sort(a)
            self.samples.append((self._thread.getCurrentThreadCpuTime() - t0) / 1e9)

    def scale(self) -> float:
        return REF_SORT_S / statistics.median(self.samples)


def clocks() -> tuple[float, float]:
    return time.perf_counter(), cpu_seconds()


def since(start: tuple[float, float]) -> tuple[float, float]:
    """(wall, cpu) seconds elapsed since ``clocks()`` returned ``start``."""
    wall, cpu = clocks()
    return wall - start[0], cpu - start[1]


# --- session ------------------------------------------------------------


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()


def new_session(run_dir: str):
    global _jvm_pid, _jvm_cpu_clock
    from stakehouse_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # No hsperfdata file in the system /tmp.
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    _jvm_pid = jvm_pid(spark)
    # The process CPU-time clock id of a pid, as clock_getcpuclockid(3)
    # makes it: (~pid << 3) | CPUCLOCK_SCHED.
    _jvm_cpu_clock = (~_jvm_pid << 3) | 2
    return spark


def set_up(run_dir: str):
    """SETUPS set-ups, each a fresh session plus a first job. Returns the
    last session and per set-up a dict of the wall and CPU seconds of its
    session start and of its first job."""
    spark, samples = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = clocks()
        spark = new_session(run_dir)
        start_wall, start_cpu = since(t0)
        t1 = clocks()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        warmup_wall, warmup_cpu = since(t1)
        samples.append(
            {"start_wall_s": start_wall, "warmup_wall_s": warmup_wall, "start_cpu_s": start_cpu, "warmup_cpu_s": warmup_cpu}
        )
    return spark, samples


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024


def shut_down(spark, run_dir: str) -> None:
    """Stop the session, end the JVM and wait for it, drop scratch."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)


def persistent_rdds(spark) -> int:
    """Cache-leak guard: count RDDs still persisted after a release, and
    unpersist them so one leak does not skew later operations."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    n = len(rdds)
    for rdd in list(rdds.values()):
        rdd.unpersist()
    return n


# --- ledger and statistics ----------------------------------------------


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    record: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a wrong result or a raise is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def write_record(self, result: dict) -> str:
        path = os.path.join(
            WORK, "records", f"{self.workload}-seed{self.seed}-trace{int(self.trace)}.json"
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**self.record, "failures": self.failures, "result": result}, f, indent=1)
        return path


def end_to_end(
    ctx: Run, gauge: HostGauge, setups: list[dict], cold: dict, passes: list[dict], ops: list[dict]
) -> dict:
    """The end-to-end metrics of an untraced run, in engine CPU time (see
    cpu_seconds) scaled to the reference host (see HostGauge): the median
    set-up, the cold first pass, and the mean pass over the whole run,
    the cold pass included. The unscaled figures, the same in wall time,
    and the median operation go to the run's record.

    The JVM warms up through the whole run: the JIT work is about the
    same in every run, but how much of it lands in which pass is not. So
    the later passes alone, or their operations, vary from run to run
    far more than the run's total does."""

    def figures(clock: str) -> dict:
        return {
            "setup_s": statistics.median(s[f"start_{clock}_s"] + s[f"warmup_{clock}_s"] for s in setups),
            "first_pass_cpu_s": cold[clock],
            "pass_cpu_s": statistics.fmean(p[clock] for p in [cold, *passes]),
        }

    scale = gauge.scale()
    ctx.record["host"] = {"scale": scale, "sort_s": gauge.samples}
    ctx.record["wall_metrics"] = figures("wall")
    ctx.record["cpu_metrics"] = figures("cpu")
    ctx.record["op_p50_ms"] = {c: 1000 * statistics.median(o[c] for o in ops) for c in ("wall", "cpu")}
    return {k: v * scale for k, v in figures("cpu").items()}


def timed_passes(seconds: int, nominal_pass_s: float) -> int:
    """How many passes follow the cold one: as many as last ``seconds``
    at the workload's nominal pass wall on a 4-core machine.

    A fixed count, not a deadline, so that every run does the same work
    whatever the host's speed: engine CPU per pass keeps falling as the
    JIT warms up, so a window cut by the clock would move the figures
    with the host's load."""
    return max(3, round(seconds / nominal_pass_s))


def traced_pass(i: int) -> bool:
    """Which timed passes (counted from 1) a traced run traces: ABBA
    order (1 traced, 2-3 plain, 4-5 traced, ...), so that a linear
    warm-up trend does not read as tracing overhead."""
    return i % 4 in (0, 1)


def close(a, b, rel: float = 1e-9) -> bool:
    """Float equality up to summation order; None and NaN equal themselves."""
    if a is None or b is None:
        return a is None and b is None
    if a != a or b != b:
        return a != a and b != b
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-12)
