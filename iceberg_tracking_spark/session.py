"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the conf choices below are
the ones that matter at cluster scale too:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join promotion) — frames/keys in this workload are skewed
  (dense frames can hold thousands of detections, see reference
  tracking.py:456), so AQE skew handling is load-bearing at 100 TB.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the initial number far less critical.
* Arrow enabled — every Python-interop path (the tracker's
  applyInPandas, `boundary.filter_groups`' mapInArrow for NMS /
  nested-box removal / greedy matching, `boundary.map_rows`' and the
  inference mapInPandas, toPandas in tests) is Arrow-batched.
* The package's parent directory rides on
  ``spark.executorEnv.PYTHONPATH``: Python workers unpickle UDFs that
  refer to this package's functions by module, so they must import it
  whatever the driver's working directory.
* Session timezone pinned to UTC so timestamp semantics agree with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "iceberg_tracking_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Driver testdata stores events.ts as INT64 TIMESTAMP(NANOS); Spark
        # has no nanos timestamp — read as long, converted in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    conf = dict(extra_conf or {})
    conf[_PYTHONPATH_KEY] = os.pathsep.join(
        p for p in (conf.get(_PYTHONPATH_KEY), _PACKAGE_PARENT) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
