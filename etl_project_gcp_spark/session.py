"""SparkSession factory.

The reference builds its execution client at module import time
(``etl_medallion.py:56`` constructs the BigQuery client as a global),
which makes the module untestable. Here the session is built lazily by an
explicit factory, configured for Catalyst/AQE-first execution.

Scale notes (100 TB design stance):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast demotion/promotion replace hand-tuned partition counts.
- Arrow enabled: every pandas_udf / mapInPandas boundary is columnar.
- ``shuffle.partitions`` defaults to a small local value; on a real
  cluster AQE's coalescing makes the initial number a ceiling, so a
  deployment would raise it (e.g. 2000+) and let AQE shrink per-stage.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import warnings
import zipfile
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

_T = TypeVar("_T")
_R = TypeVar("_R")

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_PKG_SHIPPED: set[int] = set()


def ship_package_to_workers(spark: SparkSession) -> None:
    """Make ``etl_project_gcp_spark`` importable on executor Python
    workers regardless of the caller's cwd/sys.path.

    Python-side operators (mapInPandas/pandas_udf) pickle functions *by
    reference* to this package, so workers must import it. A driver that
    embeds this engine (e.g. the verification harness) may hold a
    SparkSession whose workers know nothing about our install location —
    so we zip the package once per session and addPyFile it.
    """
    sid = id(spark.sparkContext)
    if sid in _PKG_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # per-session file, not a fixed shared name: concurrent drivers (or
    # different users) on one host would clobber each other's zip and
    # ship stale code to executors
    zip_file = tempfile.NamedTemporaryFile(
        prefix="etl_project_gcp_spark_pkg_", suffix=".zip"
    )
    # Spark serves this file to executors for the life of the process;
    # closing it at exit deletes it, so a driver process leaves no
    # ~700 KB zip behind in the temp dir
    atexit.register(zip_file.close)
    with zipfile.ZipFile(zip_file, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "etl_project_gcp_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    zip_file.flush()
    spark.sparkContext.addPyFile(zip_file.name)
    _PKG_SHIPPED.add(sid)


def map_concurrent(fn: Callable[[_T], _R], items: Iterable[_T]) -> list[_R]:
    """``[fn(x) for x in items]``, one thread per item, results in item
    order. Each worker runs under the calling thread's Spark local
    properties (job group, job description, scheduler pool), so the jobs
    it submits are attributed to the caller's group. A worker's
    exception is raised here."""
    items = list(items)
    if len(items) < 2:
        return [fn(x) for x in items]
    with warnings.catch_warnings():
        # the session-less form only skips Spark Connect session tags,
        # which this engine does not use
        warnings.filterwarnings(
            "ignore", "Spark session is not provided", UserWarning
        )
        target = inheritable_thread_target(fn)
    with ThreadPoolExecutor(len(items)) as ex:
        return list(ex.map(target, items))


def _want_pydaemon(master: str | None) -> bool:
    """Whether to select the preloading worker daemon (pydaemon.py).

    Defaults to ON exactly when the session is local (explicit
    ``local[...]`` master, or no cluster master configured), because
    that is when the executor Python provably shares this interpreter's
    environment. ``SPARK_GRAFT_PYDAEMON=1/0`` force-overrides either
    way (a cluster that ships the package can opt in; a local debug
    session can opt out)."""
    env = os.environ.get("SPARK_GRAFT_PYDAEMON")
    if env is not None:
        return env.strip().lower() in ("1", "true", "yes", "on")
    if master is not None:
        return master.startswith("local")
    return not os.environ.get("SPARK_MASTER")


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Boot the Python worker daemon and fork one worker per core in a
    BACKGROUND thread, so the session's first real Python-boundary query
    doesn't pay the pool's startup inside its own wall time.

    Measured (NOTES.md round 16, fresh process, local[32]): the
    first Python stage of a session costs ~2.5 s at ANY width — daemon
    boot (a fresh Python importing pyspark.worker) plus the first
    workers' import chains — and a later full-width stage pays ~+0.5 s
    more to fork the rest of the pool. Running a trivial full-width
    mapInPandas at session build overlaps all of that with the JVM's own
    warmup; a prewarmed pool cut binary_resize_meta's cold run from
    4.1-10.2 s to 1.4-2.6 s. Long-lived production sessions amortize
    this exactly once, at startup, where it belongs — not inside
    whichever query happens to touch Python first.

    Runs only on a session whose live conf selects the preloading
    daemon (so ``SPARK_GRAFT_PYDAEMON=0`` turns both off, and an
    existing session built without the daemon is left alone), and
    best-effort: failures are swallowed — the pool then warms lazily as
    before."""
    import threading

    def _go() -> None:
        try:
            width = spark.sparkContext.defaultParallelism

            def _touch(batches):
                for batch in batches:
                    yield batch

            spark.sparkContext.setJobDescription("python worker pool prewarm")
            (
                spark.range(0, width, 1, width)
                .mapInPandas(_touch, "id long")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        except Exception:
            pass
        finally:
            try:
                spark.sparkContext.setJobDescription(None)
            except Exception:
                pass

    threading.Thread(
        target=_go, name="pyworker-prewarm", daemon=True
    ).start()


def get_spark(
    app_name: str = "etl_project_gcp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Idempotent: repeated calls return the active session (Spark semantics
    of ``getOrCreate``). ``master`` defaults to ``local[N]`` with N from
    ``$SPARK_GRAFT_CPUS`` when no cluster master is configured.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # joins may reuse a bucketed side's partitioning on a subset of
        # the join keys (the bucketed-index contract; see
        # queries._ensure_session_confs)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
        # local mode reads small single-file tables: shrink split size so
        # the scan parallelizes across cores (cluster deployments keep the
        # 128 MB default — plenty of files there)
        builder = builder.config("spark.sql.files.maxPartitionBytes", "8m")
    if _want_pydaemon(master):
        # Preload the heavy per-worker imports (numpy/pandas/pyarrow +
        # this package) in the Python worker DAEMON so forked workers
        # inherit them copy-on-write instead of each re-importing
        # (guide §4.5 at the process level; see pydaemon.py for the
        # measured fork-storm numbers). Local mode only by default: the
        # daemon module must be importable by the EXECUTOR-side Python,
        # which in local mode is this very environment; a cluster
        # deployment that ships the package can opt in with
        # SPARK_GRAFT_PYDAEMON=1.
        builder = builder.config(
            "spark.python.daemon.module", "etl_project_gcp_spark.pydaemon"
        ).config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (
        spark.conf.get("spark.python.daemon.module", None)
        == "etl_project_gcp_spark.pydaemon"
        and not getattr(spark, "_spark_graft_prewarmed", False)
    ):
        setattr(spark, "_spark_graft_prewarmed", True)
        _prewarm_python_workers(spark)
    return spark
