"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster — AQE handles runtime re-planning
(partition coalescing, skew-join splitting, dynamic broadcast), Arrow
handles the Python boundary, and shuffle partitions are sized
explicitly rather than left at the 200 default.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "setup-harvest-action-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Notes on the knobs:
      * ``spark.sql.adaptive.enabled`` — AQE re-plans at runtime:
        coalesces small shuffle partitions, converts sort-merge joins
        to broadcast when the built side turns out small, and splits
        skewed partitions. Essential at 100 TB, harmless locally.
      * ``spark.sql.shuffle.partitions`` — sized to the parallelism of
        the test box; on a real cluster this is ~2-3× total cores (or
        left to AQE's coalescing with a high initial value).
      * Arrow enabled so any pandas-UDF boundary is columnar batch
        transfer, not pickled rows.
      * session timezone pinned to UTC so timestamp semantics match
        the DuckDB oracle bit-for-bit.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Spark still defaults parquet timestamps to INT96 (a
        # deprecated Impala legacy): footers carry NO min/max for
        # INT96, so stats-based skipping goes blind on time columns,
        # and re-reading through an explicit schema can hit
        # INT96-vs-expected mismatches.  TIMESTAMP_MICROS matches the
        # pyarrow-written fixtures and gives every written file usable
        # timestamp stats.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the Python DataSource (sources/sparql_datasource.py) implements
        # pushFilters(), which Spark refuses to plan unless this is on
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Kept for the NANOS branch of the unit-adaptive events reader
        # (io/loaders.py:load_events): a TIMESTAMP(NANOS) fixture —
        # round 1 shipped one — is illegal as Spark TimestampType and
        # must be read as long.  Harmless when the fixture is µs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local[N] runs every task inside the driver JVM, whose 1g
        # default heap is sized for a thin cluster driver, not for N
        # concurrent task slots — iterative graph workloads at sf0.1
        # OOM on it.  Only effective before JVM launch; a cluster
        # submit sets executor/driver memory explicitly anyway.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        .config("spark.ui.enabled", "false")
        # saveAsTable targets (bucketed tables for co-located joins)
        # live under temp, never inside the repo checkout.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "shas_warehouse"),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
