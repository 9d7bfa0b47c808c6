"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB design target and merely
*tested* at local scale:

* AQE on — runtime re-planning (skew-join splitting, partition
  coalescing, dynamic broadcast) matters far more on a real cluster
  than locally.
* Arrow on — all pandas interchange (compat adapters, collect for
  oracles/plots) moves through Arrow batches, never row-at-a-time
  pickling.
* Session timezone pinned to UTC — Spark normalizes timestamps to the
  session zone; the reference keeps the zone in IndexMetadata and we
  apply it only at the presentation edge (SURVEY §7.3).
* shuffle.partitions default sized for local[32]; a cluster deployment
  overrides via spark-defaults or relies on AQE coalescing.
* A warehouse directory of its own per session, under
  ``tempfile.gettempdir()`` (so ``TMPDIR`` places it): concurrent
  sessions never share managed tables.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "meteaudata-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # the warehouse dir is fixed at session start: only a new session
    # gets (and later removes) a directory
    if SparkContext._active_spark_context is None:
        warehouse = tempfile.mkdtemp(prefix="meteaudata-spark-warehouse-")
        atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
        builder = builder.config("spark.sql.warehouse.dir", warehouse)
    return builder.getOrCreate()
