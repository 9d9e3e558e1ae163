"""SparkSession factory with scale-aware defaults.

Defaults are tuned so the same code runs on local[N] for tests and on a
multi-executor cluster unchanged:

- AQE on (runtime coalesce + skew-join splitting),
- shuffle partitions proportional to parallelism (overridable),
- Arrow enabled for pandas UDF exchange (the engine's only Python path).

Python worker daemon. In local mode the session runs Python UDF tasks
through :mod:`pubcrawler_spark.daemon` instead of Spark's stock
``pyspark.daemon``. Stock workers re-parse every zip on ``sys.path``
(``pyspark.zip``, the Spark core jar, py4j) before every task, about
130 ms of a Python task's 160-250 ms start-up; the package daemon
re-parses an archive only when it changed. The daemon module must be
importable when the JVM starts the daemon, which holds only when this
process launches the JVM itself for a local master: then the
``PYTHONPATH`` export below reaches the workers. Under spark-submit
(``PYSPARK_GATEWAY_PORT`` set) or a cluster master the stock daemon
stays (:func:`python_daemon_module`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DAEMON_MODULE = "pubcrawler_spark.daemon"


def python_daemon_module(master: str, env=os.environ) -> str | None:
    """``spark.python.daemon.module`` for a session on ``master``, or
    None for Spark's stock daemon: the package daemon only when workers
    are sure to import this package, i.e. a local master whose JVM this
    process launches (no ``PYSPARK_GATEWAY_PORT`` from spark-submit)."""
    if "PYSPARK_GATEWAY_PORT" in env:
        return None
    if master == "local" or master.startswith("local["):
        return DAEMON_MODULE
    return None


def get_spark(
    app_name: str = "pubcrawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` so tests and
    bench can pin parallelism; on a real cluster pass ``master=None`` with
    spark-submit providing the master URL.
    """
    # make this package importable inside Spark's Python workers even when
    # the driver script runs from another cwd (local mode inherits the
    # driver env; on a cluster use spark-submit --py-files instead)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pypath if pypath else "")

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bounded Arrow batches: with ~16 KB html payloads, 10k-row
        # batches are ~160 MB per in-flight task — at 32 concurrent
        # tasks that's a multi-GB allocation storm (observed as a 32-core
        # collapse); 2k rows keeps per-task batches ~32 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    daemon_module = python_daemon_module(master)
    if daemon_module is not None:
        builder = builder.config("spark.python.daemon.module", daemon_module)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # last-wins env passthrough (JSON object of conf-key → value): lets
    # bench legs and cluster launchers tune Spark confs without code
    # edits — e.g. '{"spark.sql.adaptive.coalescePartitions.minPartitionSize":"256k"}'
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()
