"""One measured run of a catalog query, shared by ``bench.py`` and ``tools/``.

- :func:`warm` pays the JVM/codegen warm-up and the page-cache pass over
  a data directory, so the first measured query is not charged for them.
- :func:`run` times one catalog query through the noop sink (the full
  plan runs and no rows are collected) and then drops the query's
  tracked persists and the session cache, so one query's cache
  never distorts the next one's timing.
- :func:`stage_metrics` reads the run's per-stage task counters from the
  in-process status store (it works with ``spark.ui.enabled=false`` and
  needs no event log). It is read only on request, after the timed
  window.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from stakehouse_etl_spark.caches import release_tracked
from stakehouse_etl_spark.queries.catalog import QUERIES


class Run(NamedTuple):
    wall_s: float  # plan build + execution
    build_s: float  # the ``QUERIES[name].fn`` call; the rest is execution
    group: str  # job group every Spark job of the run ran under


def warm(spark: SparkSession, sf_dir: str | None = None) -> None:
    """JVM warm-up on a trivial plan, plus one cheap pass over each
    ``sf_dir/*.parquet`` table (``count()`` reads footers and pages
    without a shuffle). A table that cannot be read raises."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if sf_dir is not None:
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            spark.read.parquet(p).count()


def run(spark: SparkSession, name: str, sf_dir: str) -> Run:
    """Build and execute catalog query ``name`` over ``sf_dir`` once."""
    sc = spark.sparkContext
    group = f"measure-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        sc._jsc.clearJobGroup()
        release_tracked()
        spark.catalog.clearCache()
    return Run(wall_s=t2 - t0, build_s=t1 - t0, group=group)


def stage_metrics(spark: SparkSession, record: Run) -> list[dict]:
    """One row per non-skipped stage the run executed, by stage id."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = {
        sid
        for job in tracker.getJobIdsForGroup(record.group)
        for sid in tracker.getJobInfo(job).stageIds
    }
    rows = []
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # evicted from the store or never attempted
        if sd.status().toString() == "SKIPPED":
            continue
        rows.append(
            {
                "stage_id": sid,
                "name": sd.name(),
                "tasks": sd.numCompleteTasks(),
                "run_s": sd.executorRunTime() / 1000,
                "gc_s": sd.jvmGcTime() / 1000,
                "input_bytes": sd.inputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "fetch_wait_s": sd.shuffleFetchWaitTime() / 1000,
                "spill_bytes": sd.diskBytesSpilled(),
            }
        )
    return rows
