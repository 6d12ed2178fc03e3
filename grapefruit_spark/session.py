"""SparkSession factory tuned for the Grapefruit-parity engine.

The reference (MapleJuice) hand-schedules tasks over VMs
(/root/reference/src/main/java/edu/cs425/mp3/MapleJuice.java); here the
equivalent knobs are Spark confs: AQE for runtime re-planning (the
reference's re-scheduling on failure), shuffle partition sizing (its
``num_maples``/``num_juices``: a juice given no ``num_juices`` lets AQE
size its reducers, up to ``spark.sql.shuffle.partitions``), and Arrow for
the Python escape hatches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs chosen to also hold at cluster scale: AQE coalesces/skew-splits
# shuffle partitions at runtime, so the static shuffle.partitions value is
# an upper bound, not a tuning landmine.
_BASE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # push whole MIN/MAX/COUNT aggregates into parquet footers when the
    # query shape allows — a metadata read instead of a 100 TB scan
    "spark.sql.parquet.aggregatePushdown": "true",
    # events.parquet carries TIMESTAMP(NANOS); read as long, catalog converts
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # managed-table home for bucketed datasets (static conf; session-scoped
    # in-memory catalog, parquet files live here)
    "spark.sql.warehouse.dir": "/tmp/grapefruit_spark_warehouse",
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
    # reliable checkpoints (reliability.pin with SPARK_GRAFT_CHECKPOINT_DIR)
    # are reference-tracked and GC'd once their RDD is unreachable —
    # without this an iterative job leaks one checkpoint dir per round
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def get_spark(app_name: str = "grapefruit-spark", master: str | None = None) -> SparkSession:
    """Return a (possibly shared) SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in _BASE_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally built session.

    The driver hands us its own SparkSession in ``__spark_entry__``; static
    confs (memory, master) are fixed by then, but SQL confs still apply.
    """
    for k, v in _BASE_CONFS.items():
        if k.startswith("spark.sql."):
            try:
                spark.conf.set(k, v)
            except Exception:  # immutable conf on this build — keep going
                pass
    return spark
