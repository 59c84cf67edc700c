"""Session confs: runtime confs are settable on any session, static ones
come only from the builder, and a refused conf is never swallowed. A
session's artifacts and Python workers: checked in a session of its own,
in a subprocess with its own JVM."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from open_rust_timeseries_db_spark import session

from .conftest import REPO, SF_DIR


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


# One local[1] session: its Python tasks share one reused worker. It
# counts the zipimporters two Python tasks see, builds the events layout
# copy, runs one streaming drain (recording the checkpoint location the
# drain sets), stops, and reports what is left on disk.
_SESSION_RUN = r"""
import json, os, sys, zipimport
import pandas as pd
from pyspark import SparkFiles
from pyspark.sql.streaming import DataStreamWriter
from open_rust_timeseries_db_spark.session import get_spark
from open_rust_timeseries_db_spark.sources.layout import events_layout_ckpt
from open_rust_timeseries_db_spark.queries.streaming_q import q_stream_vwap

def shm():
    if not os.path.isdir("/dev/shm"):
        return set()
    return {n for n in os.listdir("/dev/shm") if n.startswith("spark-graft-")}

def zipimporters(batches):
    for _ in batches:
        pass
    finders = sys.path_importer_cache.values()
    yield pd.DataFrame({"n": [sum(isinstance(f, zipimport.zipimporter) for f in finders)]})

ckpts = []
option = DataStreamWriter.option
def record(self, key, value):
    if key == "checkpointLocation":
        ckpts.append(value)
    return option(self, key, value)
DataStreamWriter.option = record

before = shm()
spark = get_spark("session-artifacts")
one = spark.range(1).coalesce(1)
tasks = [one.mapInPandas(zipimporters, "n long").collect()[0].n for _ in range(2)]
layout = events_layout_ckpt(spark, sys.argv[1])
q_stream_vwap(spark, sys.argv[1]).count()
root = SparkFiles.getRootDirectory()
spark.stop()
print(json.dumps({
    "tasks": tasks, "root": root, "paths": [layout, *ckpts],
    "left": [p for p in [root, layout, *ckpts] if os.path.exists(p)],
    "new_shm": sorted(shm() - before - {"spark-graft-local"}),
}))
"""


@pytest.fixture(scope="module")
def own_session():
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEMORY="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])),
    )
    out = subprocess.run(
        [sys.executable, "-c", _SESSION_RUN, SF_DIR],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_reused_worker_holds_no_spark_archive_importers(own_session):
    # PySpark invalidates import caches on every task; each zipimporter
    # left cached then re-reads its archive. The worker module drops
    # them, so the second task on the reused worker sees none.
    assert own_session["tasks"][1] == 0


def test_session_artifacts_leave_with_the_session(own_session):
    root = own_session["root"]
    layout, *ckpts = own_session["paths"]
    assert len(ckpts) == 1
    assert all(p.startswith(root + os.sep) for p in own_session["paths"])
    assert own_session["left"] == []
    assert own_session["new_shm"] == []
