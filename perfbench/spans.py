"""Layer spans for the traced run, timed from outside the program.

A span times one call into a layer's public function and scopes the
Spark jobs it launches with ``setJobGroup``. Spans nest: a child's jobs
also count for its parent (the plan build includes the table loads it
makes). Counters are read from the in-process status store after the
operation, outside every timed interval, with stage ids deduplicated and
skipped stages left out.

Layers the benchmark does not call itself (``io.sources.load_table``
inside the queries, the sinks inside ``streaming.incremental``) are
reached by wrapping the module attributes through which the program
looks them up, for the traced run only.
"""

from __future__ import annotations

import functools
import statistics
import itertools
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

EXEC_COUNTERS = (
    "stages", "tasks", "task_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)

# span layer -> (time metric, job-count metric or None)
SPAN_METRICS = {
    "sources": ("sources.load_s", "sources.load_jobs"),
    "queries": ("queries.build_s", "queries.build_jobs"),
    "plan": ("plan.catalyst_s", None),
    "exec": ("exec.s", "exec.jobs"),
    "caches": ("caches.release_s", None),
    "incremental": ("incremental.run_s", "incremental.jobs"),
    "sinks": ("sinks.write_s", "sinks.jobs"),
    "serving.build": ("serving.build_s", "serving.jobs"),
    "serving.exec": ("serving.exec_s", "serving.jobs"),
}

# Every per-layer metric a traced run prints, with its unit. Per pass
# (batch) or per cycle (refresh_serve) sums, medians over traced passes;
# a layer a workload never calls reads 0.
PER_LAYER = {
    "mem.peak_rss_mb": "MB",
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plan.catalyst_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "caches.release_s": "s",
    "caches.leaked_rdds": "count",
    "incremental.run_s": "s",
    "incremental.jobs": "count",
    "incremental.rows_out": "count",
    "sinks.write_s": "s",
    "sinks.jobs": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.partitions_touched": "count",
    "sinks.rewrite_ratio": "ratio",
    "sinks.bytes_per_row": "bytes/row",
    "serving.build_s": "s",
    "serving.exec_s": "s",
    "serving.jobs": "count",
    "trace.overhead": "ratio",
    "trace.unaccounted_s": "s",
}


@dataclass
class Span:
    layer: str
    seconds: float = 0.0
    groups: list = field(default_factory=list)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.active = False
        self._open: list[Span] = []
        self._closed: list[Span] = []
        self._ids = itertools.count()

    def span(self, layer: str):
        return self._span(layer) if self.active else nullcontext()

    @contextmanager
    def _span(self, layer: str):
        s = Span(layer, groups=[f"perfbench-{next(self._ids)}"])
        self.sc.setJobGroup(s.groups[0], layer)
        self._open.append(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            self._open.pop()
            if self._open:
                parent = self._open[-1]
                parent.groups.extend(s.groups)
                self.sc.setJobGroup(parent.groups[0], parent.layer)
            else:
                self.sc._jsc.clearJobGroup()
            self._closed.append(s)

    def drain(self) -> list[Span]:
        spans, self._closed = self._closed, []
        return spans

    def counters(self, span: Span) -> dict:
        """Jobs and stage totals of a closed span, children included."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = [j for g in span.groups for j in tracker.getJobIdsForGroup(g)]
        stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        c = dict.fromkeys(EXEC_COUNTERS, 0)
        c["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store or never attempted
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["task_s"] += sd.executorRunTime() / 1000
            c["gc_s"] += sd.jvmGcTime() / 1000
            c["input_bytes"] += sd.inputBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c


def layer_totals(tracer: Tracer, spans: list[Span]) -> dict:
    """Sum closed spans into per-layer metrics (nested spans count in
    their own layer and, for job counts, in their parent's)."""
    out: dict[str, float] = {}
    for s in spans:
        time_metric, jobs_metric = SPAN_METRICS[s.layer]
        out[time_metric] = out.get(time_metric, 0.0) + s.seconds
        if jobs_metric is None:
            continue
        c = tracer.counters(s)
        out[jobs_metric] = out.get(jobs_metric, 0) + c["jobs"]
        if s.layer == "exec":
            for k in EXEC_COUNTERS:
                out[f"exec.{k}"] = out.get(f"exec.{k}", 0) + c[k]
    return out


def add_into(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


def medians(per_pass: list[dict]) -> dict:
    """Median of each metric over passes; a pass without it counts 0."""
    keys = {k for p in per_pass for k in p}
    return {k: statistics.median(p.get(k, 0) for p in per_pass) for k in keys}


def setup_layers(setups: list[dict]) -> dict:
    """Session layer of the set-ups, in CPU seconds like ``setup_s``: the
    first start also launches the JVM; the reported start and warm-up are
    medians over the set-ups."""
    return {
        "session.cold_start_s": setups[0]["start_cpu_s"],
        "session.start_s": statistics.median(s["start_cpu_s"] for s in setups),
        "session.warmup_s": statistics.median(s["warmup_cpu_s"] for s in setups),
    }


def wrap_name(tracer: Tracer, module, name: str, layer: str) -> None:
    """Replace ``module.name`` with a version that runs inside a span."""
    fn = getattr(module, name)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)

    setattr(module, name, traced)


def wrap_everywhere(tracer: Tracer, fn, layer: str) -> None:
    """Wrap ``fn`` in every loaded program module that holds it under its
    own name (``from ... import fn`` copies the reference)."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("stakehouse_etl_spark") and (
            getattr(mod, fn.__name__, None) is fn
        ):
            wrap_name(tracer, mod, fn.__name__, layer)
