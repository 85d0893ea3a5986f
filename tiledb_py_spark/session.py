"""SparkSession acquisition/configuration for the engine.

One shared session, tuned for the driver environment (local[N], single
JVM) but with settings that translate to a real cluster: AQE on (runtime
skew-join/coalesce), Arrow transport on (the semantic twin of the
reference's Arrow export path, ``/root/reference/tiledb/core.cc:1495-1571``),
shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the cores this process may run on; SPARK_GRAFT_CPUS overrides it for
# a deployment
_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS",
                           str(len(os.sched_getaffinity(0))))


def get_spark(app_name: str = "tiledb_py_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or _DEF_CPUS
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (coalesce partitions, pick join strategies)
        # INSIDE cached-plan compilation: without it the subtree under
        # a persisted derived table (operators/_mat.py) runs with
        # static shuffle partitioning — measured 1.8x slower builds of
        # the kn3 pattern table at sf0.1.  Scale-independent: it only
        # widens where AQE applies.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # NOTE: oversized local-mode heaps (48g+) trigger pathological GC
        # behavior on warm queries (measured 30-60x slowdowns); 16g is ample
        # for sf0.1 and keeps pauses short.  Real clusters size executors
        # separately anyway.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # the compat surface materializes whole dense slices to numpy
        # (A[:], read_direct) like the reference; the 1g default
        # maxResultSize caps that at ~100M float64 cells
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # NOTE on scan splits (round-9 find): the 128m maxPartitionBytes
        # default makes a small zstd single file ONE scan task, which
        # serialized every shuffle-free PYTHON-heavy document operator
        # onto one of 32 cores (self_repeat at sf10: 500+ s in one
        # Python worker).  Globally lowering it to 4m fixed those but
        # taxed every JVM-side scan 1.5-3x at sf1 (task overhead), so
        # the default stays — Python-bound row-local operators instead
        # repartition themselves up to core count (_spread_for_python in
        # operators/_par.py), and the data generators bound parquet row
        # groups to 64k rows so such splits stay possible.
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
