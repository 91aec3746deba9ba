"""session.py: a session this engine did not build, once it has been
through ``apply_engine_conf``, reads the engine confs ``get_spark``
sets."""

from __future__ import annotations

from stakehouse_etl_spark.session import _RUNTIME_CONF, apply_engine_conf


def test_apply_engine_conf_matches_get_spark(spark):
    child = spark.newSession()
    for k in _RUNTIME_CONF:
        child.conf.unset(k)
    apply_engine_conf(child)
    for k in _RUNTIME_CONF:
        assert child.conf.get(k) == spark.conf.get(k) == _RUNTIME_CONF[k], k
