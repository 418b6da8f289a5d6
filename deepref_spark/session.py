"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (single JVM, local[N]) but chosen to survive a
1000-executor cluster: AQE with skew-join handling, Arrow batching for
every pandas UDF, shuffle partition count decoupled from core count (so
the same plan scales N -> 4N without re-tuning), UTC timestamps for
oracle comparability.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# One BLAS thread per task: Spark supplies the parallelism (one python
# worker per core); multi-threaded BLAS inside each worker oversubscribes
# the box and destroys scaling (measured: 32 workers x OpenBLAS threads
# ran SLOWER than 8). Must be set before numpy loads in the workers —
# they inherit the JVM's env, which inherits ours.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

# Shuffle partitions are sized for the LARGEST parallelism we run
# (local[32]); keeping it fixed across parallelism levels means the
# N-core and 4N-core runs execute the same physical plan and the
# scaling-efficiency measurement isolates the hardware, not the planner.
DEFAULT_SHUFFLE_PARTITIONS = 128


def get_spark(
    app_name: str = "deepref_spark",
    cores: int | str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A local session with the project's planner defaults.

    ``spark.driver.memory`` is 8g unless ``SPARK_DRIVER_MEMORY`` sets
    it: one session that runs the whole test suite has reached 7.2 GB
    resident, so lower it when another JVM shares the host."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect advisoryPartitionSizeInBytes when coalescing instead
        # of keeping >= defaultParallelism micro-partitions — the
        # setting the Spark docs themselves recommend ("it's
        # recommended to set this config to false"): post-shuffle
        # partitions then track DATA SIZE at any scale (64 MB default
        # advisory) rather than the local core count. Env-overridable
        # so the trade can be re-measured per deployment.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
        # let AQE coalesce a persisted plan's final exchange too. Spark
        # 4 otherwise keeps a cached plan's output partitioning, so a
        # queries._stage cached behind a shuffle would hold
        # shuffle_partitions blocks (128 for a few hundred rows) and
        # every read of it would launch 128 tasks. Coalesced, a stage
        # holds partitions sized by its data; shuffle_partitions itself
        # stays fixed for the N -> 4N scaling gate above.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate turns every explode(expensive_expr)
        # into a pushed-down size(expensive_expr) > 0 filter that
        # re-evaluates the full expression tree (for our shingle arrays,
        # re-tokenizing each document inside the filter lambda: measured
        # 10x+ on the dedup suite). Our generated arrays are non-empty
        # by construction (sequence floors at 1), so the inferred filter
        # only ever costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order; ``schema`` a
    StructType or a DDL string) as a DataFrame over a LocalRelation:
    the one way driver-built rows enter a plan.

    The rows become one Arrow table typed by ``schema`` and reach the
    JVM as Arrow batches whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set. The plan then
    holds the rows themselves with their exact size: reading them runs
    no job and no Python worker, and the planner may broadcast them.
    Python tuples handed to ``createDataFrame`` would instead become a
    pickled RDD that a Python worker re-serializes on every read and
    whose size the planner takes as unknown. A NULL in a non-nullable
    field raises ValueError."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
