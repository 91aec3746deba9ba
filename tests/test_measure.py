"""The shared measured run (``stakehouse_etl_spark.measure``) at sf0.001:
its timings are ordered, its stage counters come from the status store,
and it leaves no cached RDD behind."""

from __future__ import annotations

from stakehouse_etl_spark import caches, measure


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_run_times_build_within_wall_and_reads_stage_metrics(spark, sf_dir):
    record = measure.run(spark, "w1_user_income", sf_dir)
    assert record.wall_s >= record.build_s >= 0
    stages = measure.stage_metrics(spark, record)
    assert stages
    assert any(s["tasks"] > 0 and s["run_s"] > 0 for s in stages)


def test_run_releases_tracked_persists(spark, sf_dir, monkeypatch):
    caches.release_tracked()
    spark.catalog.clearCache()
    live: list[int] = []

    def spy() -> int:
        live.append(_n_persistent(spark))
        return caches.release_tracked()

    monkeypatch.setattr(measure, "release_tracked", spy)
    measure.run(spark, "dedup_minhash_lsh", sf_dir)
    assert live and live[0] >= 1, "the query persisted nothing to release"
    assert _n_persistent(spark) == 0
