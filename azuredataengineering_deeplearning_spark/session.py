"""SparkSession builder with the engine's configuration profile.

Distills the reference's hand-tuned cluster settings
(``DataEngineering/DataBricks/databricks_notebook_settings.sql:1-40``:
AQE + skew join on, shuffle partitions = cores, 16 MB input splits for
parallelism, Kryo, Delta optimizeWrite/autoCompact) into a declarative
profile. On OSS Spark we keep AQE + skew-join + coalescing (which replace
most of the reference's manual shuffle-partition tuning) and let the
caller override any knob.

Scale notes (100 TB): AQE coalescing makes a large static
``spark.sql.shuffle.partitions`` safe — set it high (2-3x total cores on a
real cluster); AQE shrinks small stages at runtime and splits skewed
partitions. ``maxPartitionBytes`` stays at Spark's 128 MB default here;
the reference's 16 MB setting trades scan throughput for task parallelism
and only pays off when tasks are compute-bound (documented, not default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Knobs every engine session gets. Each is either a direct analog of a
# reference setting or required for oracle-exact semantics (UTC, ns
# timestamps as long).
LOCAL_PROFILE: dict[str, str] = {
    # databricks_notebook_settings.sql:4,7-8 — AQE, skew join, runtime coalesce
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # deterministic wall-clock semantics; DuckDB oracle compares naive-UTC
    "spark.sql.session.timeZone": "UTC",
    # driver testdata `events.ts` is parquet TIMESTAMP(NANOS); Spark reads
    # it as raw int64 nanos (exact) instead of failing — see sources.readers
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for the pandas-UDF slow path (D2/D3 patterns)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # broadcast threshold: keep Spark default 10 MB; dims are broadcast
    # explicitly where the reference hints them (J1)
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Runtime row-level filtering (spark.sql.optimizer.runtime.
    # bloomFilter.enabled) is a DEPLOYMENT knob, not a default: at
    # 100 TB a bloom filter built from a selective dim side prunes
    # fact row groups before the join, but the filter-build subqueries
    # it injects cost more than the whole query at small scale
    # (measured: TPC-H Q5 0.5s → 16s at sf0.001). Enable via
    # extra_conf on clusters with selective star joins.
    # (runtimeFilter.semiJoinReduction must stay off: on this Spark
    # build it loops the optimizer on trivial plans.) The rule gates
    # file scans on applicationSideScanSizeThreshold (default 10 GB),
    # but it DOES fire on cached-relation application sides at any
    # size (r14: pipeline_curate_corpus's anti-join carries two
    # default-on bloom filters even at sf0.001) — tested in
    # test_runtime_bloom_filter_knob_injects_pruning.
}


def get_spark(
    app_name: str = "ades-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine profile applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env; unset means
    the CPUs this process may run on) so tests and bench share one entry
    point; on a real cluster pass ``master=None`` with a pre-configured
    spark-submit and only the SQL conf entries apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(LOCAL_PROFILE)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    conf.setdefault("spark.ui.enabled", "false")
    # bucketed tables (write_bucketed) land here, not in the repo cwd
    conf.setdefault("spark.sql.warehouse.dir", "/tmp/ades-warehouse")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
