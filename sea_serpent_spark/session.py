"""SparkSession factory tuned for the sea-serpent-spark engine.

Scale posture (100 TB design target):
- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (fast toPandas edges + vectorized pandas UDFs).
- UTC session timezone (reference stores UTC datetimes: utils.py:121-122).
- shuffle partitions default to core count locally; on a real cluster this
  is expected to be overridden (or left to AQE's coalescing) by the deploy.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Dimension tables (region/nation/customer-sized) should broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # 128 MB split target keeps partitions executor-memory-friendly at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # The driver's events.parquet carries TIMESTAMP(NANOS), which the
    # vectorized reader rejects; read as raw int64 nanos session-wide
    # (workload.load floors them to micros). Session-level so no reader
    # mutates conf mid-query.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Janino-compiled codegen classes are cached by source text in one
    # JVM-wide LRU (static conf, so it holds only for sessions built
    # here). Spark's 100 entries is below the working set: q43 alone
    # generates about 200 classes and the 50-slot suite about 1,800,
    # so every class was evicted before its plan ran again and a
    # repeat run recompiled all of it (about 1.2 s of Janino time per
    # q43 run on 4 cores, plus the JIT's work on the new classes).
    # 2048 holds the suite's working set for about 10 MB of Metaspace.
    "spark.sql.codegen.cache.maxEntries": "2048",
    # That cache is keyed by the generated source, and a whole-stage
    # class is named after its codegen stage id by default. AQE numbers
    # the same stage differently from run to run, so a repeat plan
    # would compile again; without the id in the name, the id lives only in a
    # source comment, which the cache key leaves out.
    "spark.sql.codegen.useIdInClassName": "false",
}

#: local-mode JVM sizing. Spark's 1g driver default is far too small for
#: local[32] where the driver JVM *is* the cluster; pair-generating
#: operators (LSH candidates, similarity joins) also collect sizeable
#: results at bench scale. The heap cap is half the machine's memory,
#: at most 48g: G1 grows the heap toward a cap above the memory until
#: the kernel kills it. On a real cluster these come from spark-submit.
_PHYS_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
_LOCAL_MEM_DEFAULTS = {
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(48, _PHYS_GB // 2))}g"
    ),
    "spark.driver.maxResultSize": "8g",
}


def get_spark(
    app_name: str = "sea-serpent-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if master.startswith("local"):
        conf.update(_LOCAL_MEM_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # The JVM sizes its codegen cache once, from the conf of the thread
    # that first touches the code generator. A thread with no active
    # session (``df.rdd`` in an overlap_build chain) reads Spark's
    # defaults instead, so touch it here, where this session is active.
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    codegen.CodeGenerator.compileTime()
    return spark
