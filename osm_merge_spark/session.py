"""SparkSession factory with scale-oriented defaults.

The engine targets multi-executor clusters reading ~100 TB; in this sandbox
it runs on local[N]. All tuning is expressed as spark.conf so the same code
ships to a real cluster via spark-submit --py-files unchanged.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Defaults sized for the sandbox (local[32], 128 GiB). On a real cluster the
# same keys are set per-deployment; AQE re-plans shuffle partition counts at
# runtime so shuffle.partitions is only the pre-AQE upper bound.
_DEFAULT_CONF = {
    # Adaptive execution: runtime coalescing, skew-join splitting, and
    # broadcast conversion — required at 100 TB where static planning of
    # partition counts is impossible.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every pandas UDF (the only Python in the hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Keep broadcast autothreshold conservative; operators that KNOW the
    # dimension side is small force broadcast() explicitly.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Shuffled hash join over sort-merge when broadcast is off the table:
    # the engine's equi-joins key on high-cardinality cell ids / feature
    # ids with bounded per-key build sides, so SMJ's full sort of the
    # ring-exploded probe side (observed at n=8M when the layer outgrew
    # the broadcast threshold) buys nothing. AQE still upgrades SHJ to
    # broadcast at runtime when actual sizes allow.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # UTC everywhere: parquet TIMESTAMP_NTZ ↔ TIMESTAMP casts stay
    # identity on the epoch micros (and match DuckDB's naive epoch_us).
    "spark.sql.session.timeZone": "UTC",
    # Binary image payloads make rows wide; cap scan partition size so a
    # partition of (bytes ...) rows still fits executor memory at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "osm-merge-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to local[$SPARK_GRAFT_CPUS] (or local[*]); on a real
    cluster pass None and let spark-submit own it. Reusing a live session
    applies only extra_conf: re-imposing the defaults would undo what the
    session's creator set (e.g. a smaller shuffle.partitions).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {} if SparkSession.getActiveSession() is not None else dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the spark-submit --py-files story).

    Module-level pandas UDFs are cloudpickled *by reference*; python workers
    must be able to `import osm_merge_spark` even when the driver found it
    via a sys.path entry that executors don't share. Zip once per JVM and
    addPyFile — identical behavior on local[N] and a 1000-executor cluster.
    """
    sc = spark.sparkContext
    if sc.environment.get("_osm_merge_spark_shipped"):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), f"osm_merge_spark_pkg_{os.getpid()}")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    sc.addPyFile(zip_path)
    sc.environment["_osm_merge_spark_shipped"] = "1"
