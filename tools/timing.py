"""The measurement core: one warm-up and one timed region.

bench.py, tools/profile_queries.py, tools/ladder.py and
tools/soak_prefix.py all time a query the same way:

    warm(spark, sf_dir)                         # once per session, unbilled
    secs = timed(spark, fn, sf_dir, name)       # per rep
    n = jobs(spark, name)                       # Spark jobs tagged ``name``
    c = compiles(spark)                         # classes compiled so far

``timed`` builds ``fn(spark, sf_dir)`` and runs it through the ``noop``
sink: every operator executes, no rows travel to the driver (collect()
would bill py4j serialization of the result set to the engine).
"""

from __future__ import annotations

import gc
import time
from contextlib import contextmanager


def warm(spark, sf_dir: str) -> None:
    """Absorb the one-time session costs so they are not billed to the
    first timed query."""
    # JVM/codegen startup AND Hadoop filesystem + parquet reader
    # initialization (~1-2 s one-time).
    spark.range(1).collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").groupBy().count().write.format(
        "noop"
    ).mode("overwrite").save()

    # Arrow / Pandas-UDF path warm-up: the FIRST Pandas-UDF stage in a
    # session pays Python-worker spawn + pandas/pyarrow import per worker
    # slot (measured: multimodal_byte_features first rep 4.18 s vs 0.72 s
    # warm — the whole round-5 'worst per-query spread' was this one-time
    # cost landing inside the timed reps). One tiny mapInPandas over one
    # partition per core warms every slot once, unbilled.
    def _warm_arrow(batches):
        for b in batches:
            yield b

    # One row per partition, one partition per core: a fixed row count
    # (the old 64) leaves empty partitions on >64-core hosts, those
    # Python worker slots never spawn, and the import cost lands back in
    # the first timed Pandas-UDF rep (round-6 advice).
    slots = spark.sparkContext.defaultParallelism
    spark.range(slots, numPartitions=slots).mapInPandas(
        _warm_arrow, "id long"
    ).write.format("noop").mode("overwrite").save()


@contextmanager
def job_group(spark, name: str):
    """Tag every Spark job this thread starts inside the block with job
    group ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs(spark, name: str) -> int:
    """Jobs the status store holds for job group ``name``.

    The store keeps only the newest ``spark.ui.retainedJobs`` (1,000)
    jobs and evicts the oldest in batches, so a session-wide job count
    falls back (1,000 -> 901) once a session passes 1,000 jobs. A group's
    own count stays exact while its jobs are among the newest."""
    sc = spark.sparkContext
    # The listener bus feeds the store asynchronously: drain it so a job
    # that has just finished is counted.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(name))


def compiles(spark) -> int:
    """Classes the JVM has compiled with Janino since it started.

    Every miss in Spark's generated-class cache compiles one class, so
    the delta across a region is its codegen work; a region whose
    classes are all cached compiles 0. The count is JVM-wide: it also
    counts classes that concurrent jobs compile."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def timed(spark, fn, sf_dir: str, name: str) -> float:
    """Seconds to build ``fn(spark, sf_dir)`` and run it through the noop
    sink, with its jobs tagged by job group ``name``."""
    with job_group(spark, name):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
    # Release py4j references so the ContextCleaner frees each query's
    # localCheckpoint blocks promptly: across hundreds of queries in ONE
    # session the pinned blocks otherwise accumulate in storage memory
    # (measured: the x16 prefix soak died with 'Could not allocate
    # memory to grow BytesToBytesMap' at join_salted_skew, while the
    # same query ran fine in a fresh session). Costs ~ms per query.
    gc.collect()
    return dt
