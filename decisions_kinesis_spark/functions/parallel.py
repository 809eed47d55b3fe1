"""Parallelism guard for compute-heavy per-row operators.

A small parquet file arrives as one input partition; an operator doing
real per-row work (md5 per char position, per-pair popcounts) would
then run single-core no matter how many executors exist.  At 100 TB
inputs are already well-partitioned and this is a no-op; on small
inputs it trades one tiny shuffle for full-cluster compute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    sc = df.sparkSession.sparkContext
    want = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def repartition_for_python(df: DataFrame, *cols: str) -> DataFrame:
    """Keyed repartition sized for a PYTHON-COMPUTE-BOUND stage.

    AQE coalesces a plain keyed exchange (``REPARTITION_BY_COL`` /
    required distribution) by BYTES — correct for shuffle-bound JVM
    stages, wrong for a stage whose cost is per-row Python (a UDTF /
    grouped pandas consumer): a few MB of input coalesces to 1-3 tasks
    and the Python eval serializes on that many cores.  An explicit
    partition count plans ``REPARTITION_BY_NUM``, which AQE leaves
    alone, and it satisfies the downstream operator's clustered
    distribution so no second exchange appears (verified in plans).

    The count is scale-adaptive, never a local constant: at least one
    wave of the cluster (``defaultParallelism``), growing with the
    optimizer's input-size estimate at the session's advisory
    partition size — so a 100 TB input still gets bytes-proportional
    partitioning while a fixture-sized input gets full-cluster
    parallelism.  Same rows in every group either way: partitioning
    never changes values, only placement.

    Exchange-count contract: the downstream UDTF plans its own
    ``REPARTITION_BY_COL`` exchange at exactly
    ``spark.sql.shuffle.partitions``, and EnsureRequirements elides it
    only when the child partitioning matches INCLUDING the partition
    count (HashPartitioning.semanticEquals).  So the explicit exchange
    is planned at exactly that count — one exchange, never two — and
    when the session's shuffle setting is BELOW the wanted Python
    width, the pre-repartition is skipped outright: the UDTF's own
    exchange would re-partition the rows regardless, so an explicit
    one could only add a second full shuffle without widening the
    Python stage (that session's width is the shuffle setting the
    operator owner chose).
    """
    import math

    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        advisory = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
                )
            )
        )
        by_bytes = math.ceil(size / max(1, advisory))
    except Exception:  # stats unavailable — fall back to one wave
        by_bytes = 0
    want = max(sc.defaultParallelism, by_bytes)
    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # e.g. "auto" on vendor runtimes: the elision
        # contract can't be checked — degrade to the plain wanted width
        return df.repartition(want, *cols)
    if sp < want:
        return df
    return df.repartition(sp, *cols)
