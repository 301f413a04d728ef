"""SparkSession factory tuned for this engine.

The reference's entire control plane (manager/worker scheduling, heartbeats,
fault tolerance — SURVEY §2A rows A11–A18) is subsumed by Spark itself; the
only thing we own is configuration. Defaults here are chosen for the test
environment (local[N], single JVM) but the knobs are the ones that matter on a
real cluster too: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for any Python-side exchange, and a shuffle-partition count
sized to the parallelism rather than Spark's legacy 200 default.

Python workers. Every Python-worker task (``rdd.pipe``, ``mapInPandas``,
``pandas_udf``, Python UDFs) used to pay about 150 ms before doing any work:
PySpark's worker calls ``importlib.invalidate_caches()`` per task, and on
Python < 3.12 each of the worker's 16 zipimporters (over ``pyspark.zip``, the
py4j zip and the ``spark-core`` jar) re-reads its archive's whole directory.
Sessions from :func:`get_session` launch their workers from
:mod:`map_reduce_group_spark.worker_daemon`, which re-reads an archive only
when it changed; on Python 3.12+ it changes nothing. The daemon imports this
package before it forks, so the package's parent directory goes on the
workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``; Spark merges it
with the rest of the worker path) — without it a session started outside the
checkout fails every Python task at daemon launch. Vanilla sessions (rule 6)
keep PySpark's own daemon and stay correct, only slower per task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


# Runtime-settable confs we also (re)apply to externally-created sessions so
# query results are deterministic regardless of who built the session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # loud-overflow determinism (ADVICE r9): several operators narrow types
    # on a proven bound (e.g. suffix-array vocabulary ids LONG→INT) with the
    # justification that an out-of-range cast ERRORS rather than silently
    # wrapping. That guarantee is ANSI semantics — the Spark 4 default, but
    # rule 6 says queries must not depend on who built the session, so pin it.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # sized to local parallelism, not Spark's legacy 200 — matters most for
    # streaming state-store partitioning, where AQE cannot coalesce
    "spark.sql.shuffle.partitions": str(max(default_parallelism(), 8)),
}


def get_session(app_name: str = "map-reduce-group-spark") -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    local[N] here; on a real cluster the same confs apply — AQE handles skew
    and post-shuffle coalescing, shuffle partitions start at a multiple of the
    core count and AQE coalesces down.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers fork from the engine's daemon (module docstring);
        # it imports this package, so put the package on the workers' path.
        .config("spark.python.daemon.module", "map_reduce_group_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    return spark


def apply_runtime_confs(spark: SparkSession) -> None:
    """Apply runtime-settable determinism confs to any session.

    Called at the top of every registered query so results do not depend on
    how the harness built its session (notably the session time zone, which
    changes ``date_trunc``/``window`` results).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable in this build — defaults are fine
