"""Session confs: runtime confs are settable on any session, static ones
come only from the builder, and a refused conf is never swallowed."""

from __future__ import annotations

import pytest

from open_rust_timeseries_db_spark import session


def test_no_runtime_conf_is_static(spark):
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    assert [k for k in session.RUNTIME_CONFS if sql_conf.isStaticConfigKey(k)] == []
    assert all(sql_conf.isStaticConfigKey(k) for k in session.STATIC_CONFS)


def test_get_spark_applies_static_confs(spark):
    for key, value in session.STATIC_CONFS.items():
        assert spark.conf.get(key) == value


def test_tune_session_raises_on_a_refused_conf(spark, monkeypatch):
    key, value = next(iter(session.STATIC_CONFS.items()))
    monkeypatch.setitem(session.RUNTIME_CONFS, key, value)
    with pytest.raises(Exception, match="CANNOT_MODIFY_STATIC_CONFIG"):
        session.tune_session(spark)
