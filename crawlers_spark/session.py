"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a multi-executor deployment would use:
AQE on (skew-join split + partition coalesce), Arrow enabled for every
pandas-UDF boundary, UTC session timezone (DuckDB-oracle comparability).

``spark.sql.shuffle.partitions`` is a ceiling, not a task count: AQE
coalesces every shuffle, persisted frames included, to what its data
needs — about ``defaultParallelism`` tasks for a tiny crawl wave, never
more than the ceiling for a large one. Determinism does not rest on the
partition count: the engine fixes its outputs with total orders (sort
keys, hash-salted ties), not by which task a row lands in.

Python workers start from ``crawlers_spark.worker_daemon``, which keeps
Spark's own archives from being re-read before every task, and the
package root is on the workers' ``PYTHONPATH``, so they import the
engine from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# ``spark.sql.files.openCostInBytes``: what Spark charges a scan for
# opening one file, in bytes it could have read instead. Also the
# smallest file the pages index is split into (operators/fetch.py).
FILE_OPEN_COST_BYTES = 128 * 1024
# the directory holding ``crawlers_spark/``: workers need it on their
# path to start the worker daemon and to unpickle engine UDFs
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "crawlers_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cores`` may be an int (→ ``local[N]``) or a full master string.
    Reads ``SPARK_GRAFT_CPUS`` when unset so the bench driver can pin
    parallelism externally.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark://", "yarn")) else f"local[{cores}]"
    nshuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(
        p for p in (conf.pop("spark.executorEnv.PYTHONPATH", ""), PACKAGE_ROOT) if p
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # upper bound on post-shuffle partitions; AQE coalesces below it
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE coalesce PERSISTED frames too (off by default, so a
        # cached plan keeps all `nshuffle` partitions, and so does every
        # stage downstream of it): a crawl wave persists its selected /
        # flagged / unseen / discovered / frontier frames, and at the
        # fixed count a 150-row wave ran its robots mapInPandas as 32
        # Python tasks. With this on, task counts follow the wave's data.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 1024, not the 10000 default: page-sized rows make 10k-row
        # Arrow batches ~120 MB pandas frames; with 32 concurrent UDF
        # workers each holding the batch + derived series, that's tens
        # of GB of allocator churn and extraction stops scaling
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # caps the bytes one scan task reads (128m default). A split
        # divides work only at parquet row-group boundaries, so this
        # cannot spread a small file, which is one row group: what
        # spreads the html scan over the cores is the pages index
        # layout, up to one file per core (operators/fetch.py).
        # At warehouse scale files are many and this only caps the
        # per-task batch
        .config("spark.sql.files.maxPartitionBytes", "4m")
        # pack tiny state files (wave_out kind leaves, bloom shards)
        # many-per-task: the 4 MB default openCost with 4 MB partitions
        # schedules ONE task per file — a 60-file seen scan became 60+
        # tasks of pure scheduling overhead
        .config("spark.sql.files.openCostInBytes", str(FILE_OPEN_COST_BYTES))
        # our joins are build-tiny/probe-huge (url keys vs html pages):
        # shuffled-hash beats sort-merge — SMJ sorts the html side per
        # task (Spark ignores bucketed sort order by default), which
        # thrashes memory at high core counts
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.python.daemon.module", "crawlers_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
