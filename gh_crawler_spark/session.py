"""SparkSession factory tuned for the crawl engine.

Local-mode settings mirror what we would submit to a real cluster via
``spark-submit --py-files engine.zip`` (see bench.py): AQE on (runtime
coalescing + skew-join handling for the seen anti-join), Arrow on (all engine
UDFs are pandas/Arrow-vectorized), shuffle partitions sized to cores rather
than the 200 default.
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gh_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` -> ``local[*]``. On a real cluster the same engine code is
    submitted with ``spark-submit --master yarn|k8s --py-files engine.zip``;
    nothing here is local-mode-specific except the master URL and the
    Python-worker daemon (``python_daemon_module``).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores and cores > 0 else "local[*]"
    n_shuffle = shuffle_partitions or (cores if cores and cores > 0 else (os.cpu_count() or 8))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", os.environ.get("SPARK_GRAFT_ARROW_BATCH", "512"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Snapshot-table reads pass explicit file lists from the manifest
        # (tables.py), so there is no directory tree to discover — but any
        # read of >32 paths still launched a distributed "listing leaf
        # files" JOB (default parallelPartitionDiscovery.threshold=32) just
        # to stat known files. Round-6 event-log profile: those listing jobs
        # cost whole seconds per crawl round (948-path transitions delta,
        # 191-319-path frontier/seen). Below the threshold the driver stats
        # the files itself — microseconds on local disk, and still the right
        # call for manifest-backed tables on a real cluster where the
        # listing is one RPC per known file, not a tree walk.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    )
    # Diagnostic overrides (event logging for gap profiling, etc.) without
    # touching call sites: SPARK_GRAFT_EXTRA_CONF='{"spark.eventLog.enabled":
    # "true", ...}'. Explicit extra_conf from the caller wins.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    merged = dict(json.loads(env_conf)) if env_conf else {}
    merged.update(extra_conf or {})
    daemon = python_daemon_module(merged.get("spark.master", master))
    if daemon:
        builder = builder.config("spark.python.daemon.module", daemon)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # Releasing a round's localCheckpoint blocks (crawler.truncate_lineage)
        # warns "... was locally checkpointed, its lineage has been truncated"
        # once per RDD — intentional (the round is over; nothing recomputes),
        # so keep the per-round noise out of WARN-level logs. Scoped to the
        # emitting CLASS logger (org.apache.spark.rdd.RDD — verified against
        # the spark-core jar), not the whole rdd package: checkpoint-data /
        # block-loss warnings from sibling classes still surface (ADVICE r5).
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd.RDD", jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Exception as exc:  # log4j API drift costs only the quieter log
        warnings.warn(f"could not raise org.apache.spark.rdd.RDD's log level: {exc!r}",
                      RuntimeWarning, stacklevel=2)
    return spark


def python_daemon_module(master: str) -> str | None:
    """The engine's Python-worker daemon (``_pydaemon``) where Spark's
    daemon can import it at launch, else None (Spark's stock daemon).

    That takes a ``local`` or ``local[...]`` master, whose daemon runs in
    the driver's working directory (``python -m`` puts it on ``sys.path``)
    with the driver's ``PYTHONPATH``, and an engine imported from a
    directory that is one of those. Executors of other masters
    (``local-cluster``, yarn, k8s) run elsewhere, and ``--py-files``
    archives such as ``dist/engine.zip`` reach a worker's ``sys.path`` per
    task, after its daemon started."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    visible = {os.path.abspath(p) for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p}
    if master.split("[")[0] == "local" and os.path.isdir(root) and root in visible | {os.getcwd()}:
        return "gh_crawler_spark._pydaemon"
    return None
