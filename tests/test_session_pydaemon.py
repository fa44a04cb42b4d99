"""The preloading Python worker daemon (r16: cold-worker fan-out).

pydaemon.py preloads numpy/pandas/pyarrow + this package in the worker
daemon so forked workers inherit the imports copy-on-write; get_spark
selects it for local sessions (the only place the executor Python
provably shares this environment) behind the SPARK_GRAFT_PYDAEMON
override. These tests pin the selection logic, the module's import
safety, and that a live local session actually runs Python stages
under it.
"""

from __future__ import annotations

import os

import pytest

from etl_project_gcp_spark import pydaemon
from etl_project_gcp_spark.session import _want_pydaemon


def test_want_pydaemon_selection(monkeypatch):
    # local defaults ON (explicit local master, or no cluster master)
    monkeypatch.delenv("SPARK_GRAFT_PYDAEMON", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    assert _want_pydaemon(None) is True
    assert _want_pydaemon("local[8]") is True
    # a cluster master defaults OFF: the daemon module may not be
    # importable by the executors' Python
    assert _want_pydaemon("spark://host:7077") is False
    monkeypatch.setenv("SPARK_MASTER", "yarn")
    assert _want_pydaemon(None) is False
    # explicit override wins both ways
    monkeypatch.setenv("SPARK_GRAFT_PYDAEMON", "1")
    assert _want_pydaemon("spark://host:7077") is True
    monkeypatch.setenv("SPARK_GRAFT_PYDAEMON", "0")
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    assert _want_pydaemon(None) is False


def test_pydaemon_preload_is_import_safe():
    # preload must never raise — a worker env without some module must
    # degrade to stock behavior, not kill the daemon
    pydaemon.preload()
    # and the module must be runnable as `python -m` (the daemon launch
    # path): it delegates to pyspark.daemon's manager under __main__,
    # which we can't run here, but the import seam it uses must exist
    import pyspark.daemon

    assert callable(pyspark.daemon.manager)


def test_local_session_runs_python_stage_under_pydaemon(spark):
    if os.environ.get("SPARK_GRAFT_PYDAEMON", "").strip() == "0":
        pytest.skip("pydaemon explicitly disabled in this environment")
    assert (
        spark.conf.get("spark.python.daemon.module", None)
        == "etl_project_gcp_spark.pydaemon"
    )

    # a Python-boundary stage must work end-to-end under the custom
    # daemon (fork + unpickle + Arrow round trip)
    def double(batches):
        for pdf in batches:
            pdf["id"] = pdf["id"] * 2
            yield pdf

    got = sorted(
        r.id
        for r in spark.range(0, 8, 1, 4)
        .mapInPandas(double, "id long")
        .collect()
    )
    assert got == [0, 2, 4, 6, 8, 10, 12, 14]


def test_prewarm_runs_once_per_session(spark):
    """The background worker-pool prewarm fires at session build and
    must not re-fire on every get_spark() call (it marks the session)."""
    from etl_project_gcp_spark.session import get_spark

    assert getattr(spark, "_spark_graft_prewarmed", False) is True
    # idempotent: a repeat call returns the same session, still marked,
    # without spawning another prewarm (the flag short-circuits it)
    again = get_spark(app_name="prewarm-idempotence-check")
    assert again is spark
    assert getattr(again, "_spark_graft_prewarmed", False) is True


def test_prewarm_skips_existing_session_without_pydaemon(monkeypatch):
    """get_spark may hand back a session someone else built. The prewarm
    follows that session's LIVE conf, not what get_spark would have
    configured: without the preloading daemon it must not fire."""
    from types import SimpleNamespace

    from pyspark.sql import SparkSession

    from etl_project_gcp_spark import session as S

    started = []
    monkeypatch.setattr(S, "_prewarm_python_workers", started.append)
    monkeypatch.delenv("SPARK_GRAFT_PYDAEMON", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    plain = SimpleNamespace(
        conf={}, sparkContext=SimpleNamespace(setLogLevel=lambda level: None)
    )
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: plain
    )
    assert S.get_spark(master="local[2]") is plain
    assert started == []


def test_map_concurrent_workers_inherit_job_group(spark):
    """Jobs a map_concurrent worker submits belong to the caller's job
    group, so they are attributed to the caller; results keep item
    order and a worker's exception reaches the caller."""
    from etl_project_gcp_spark.session import map_concurrent

    sc = spark.sparkContext
    sc.setJobGroup("map-concurrent-test", "inherit")
    try:
        counts = map_concurrent(lambda n: spark.range(n).count(), [3, 5, 7])
        jobs = sc.statusTracker().getJobIdsForGroup("map-concurrent-test")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == [3, 5, 7]
    assert len(jobs) >= 3

    def boom(x):
        raise ValueError(x)

    with pytest.raises(ValueError, match="b"):
        map_concurrent(boom, ["b", "b"])


def test_shipped_package_zip_removed_at_exit(tmp_path):
    """ship_package_to_workers zips the package into the temp dir; the
    zip is gone once the driver process exits."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import glob, os, tempfile\n"
        "from etl_project_gcp_spark.session import get_spark, "
        "ship_package_to_workers\n"
        "spark = get_spark(master='local[1]')\n"
        "ship_package_to_workers(spark)\n"
        "print(len(glob.glob(os.path.join(tempfile.gettempdir(), "
        "'etl_project_gcp_spark_pkg_*.zip'))))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_PYDAEMON="0")
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env,
        capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split()[-1] == "1", proc.stdout
    assert list(tmp_path.glob("etl_project_gcp_spark_pkg_*.zip")) == []
