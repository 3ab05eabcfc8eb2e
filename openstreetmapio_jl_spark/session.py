"""SparkSession factory with scale-oriented defaults.

Tuned for the 100 TB target (AQE on, skew-join splitting, Arrow batching) while
remaining correct on local[N]. All settings are plain public Spark confs.

:data:`QUERY_CONF` holds the confs that every session of this package sets,
:func:`get_spark` and the ``jobs/*.py`` builders alike:

- ``spark.sql.adaptive.enabled = true``: AQE re-plans shuffles from runtime
  statistics (see :func:`get_spark`).
- ``spark.sql.session.timeZone = UTC``: timestamps are naive UTC; the PBF
  sink refuses to write from a session in any other zone.
- ``spark.sql.execution.arrow.pyspark.enabled = true``: Arrow for every
  pandas hand-off.
- ``spark.python.sql.dataFrameDebugging.enabled = false``. With it on (Spark's
  default), every PySpark Column operator also looks up the active session, a
  JVM class and a conf value, sets and clears a JVM call-site origin, and walks
  the Python stack. Building the flagship PIP join
  (``point_in_polygon_join(pages_with_cells(pages), polys, nsalt=16, ...)``)
  took 2,499 py4j round trips with it on and 976 with it off. The price is
  that analysis errors no longer name the Python call site. The conf is
  static, so it only takes effect when the session is created; to get call
  sites back, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
- ``spark.sql.files.openCostInBytes = 64 KB`` (Spark's default is 4 MB). The
  split size of a file scan is ``max(openCostInBytes, bytesPerCore)``, so at
  4 MB a file smaller than that is read by ONE task and everything above the
  scan runs on one core. ``pip_hot``'s 1.7 MB pages parquet was one task; at
  64 KB it splits into one task per core. Together the two defaults took
  ``pip_hot`` from 7.73k to 13.36k pages/s (median of 10 alternating
  ``perfbench`` pairs, seed 201, 4 vCPUs) and its peak RSS from 1579 to
  1732 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

QUERY_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.files.openCostInBytes": "65536",
}


def get_spark(
    app_name: str = "openstreetmapio_jl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults chosen for scale:
    - AQE enabled with skew-join splitting and partition coalescing: at 100 TB the
      static shuffle-partition count is always wrong somewhere; AQE re-plans from
      runtime statistics.
    - Arrow execution for all pandas UDF / mapInArrow exchange (the decode kernel and
      cell-index UDFs are Arrow-batched; per-row Python is banned per BASELINE.json
      input_hint).
    - maxPartitionBytes 128m so parquet scans split into memory-sized tasks.
    - :data:`QUERY_CONF` (see the module docstring); ``extra_conf`` overrides it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        # local[N] runs all executor threads inside the driver JVM — size the heap
        # for 32 concurrent tasks' scan+shuffle buffers or GC pauses dominate
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config(map=QUERY_CONF)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
