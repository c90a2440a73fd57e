"""The measurement core (tools/timing.py) and the profiler built on it:
per-query job counts stay exact after Spark's status store starts
evicting jobs, and the session's codegen cache keeps a repeated query
cycle's generated classes."""

from __future__ import annotations

from distgrep_spark.queries import QUERIES
from tools.profile_queries import profile
from tools.timing import compiles, timed, warm


def test_profile_job_counts_survive_status_store_eviction(spark, sf_dir):
    """The status store keeps only the newest spark.ui.retainedJobs
    (1,000) jobs and drops the oldest 100 when a job would exceed that,
    so a session-wide job-count delta taken across an eviction reads
    about 100 low (negative build_jobs). profile() counts the query's
    own job group, whose counts must match a fresh window's."""
    name = "grep_contains"  # one build job + two jobs per exec
    warm(spark, sf_dir)
    fresh = profile(spark, name, sf_dir, reps=2)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    empty = sc._jsc.emptyRDD()
    # Zero-task jobs still take a slot in the store. Past 1,000 of them,
    # stop when the store is exactly full, so the query's first job
    # triggers an eviction.
    for i in range(1200):
        empty.count()
        if i >= 1000 and len(tracker.getJobIdsForGroup(None)) == 1000:
            break
    assert len(tracker.getJobIdsForGroup(None)) <= 1000

    late = profile(spark, name, sf_dir, reps=2)
    assert fresh["build_jobs"] > 0 and fresh["jobs_per_exec"] > 0
    counts = ("build_jobs", "jobs_per_exec")
    assert [late[k] for k in counts] == [fresh[k] for k in counts]


def test_codegen_cache_holds_a_query_cycle(spark, sf_dir):
    """Spark caches generated classes in one JVM-wide LRU of 100 entries
    by default. Two queries whose plans need more than that evict each
    other, so every repetition of the cycle recompiles its classes (170
    per cycle for this pair). get_spark sizes the cache so that a
    repeated cycle compiles nothing; neither query's generated code
    depends on the build."""
    names = ("rlhf_preference_curation", "corpus_curation_pipeline")

    def cycle():
        c0 = compiles(spark)
        for name in names:
            timed(spark, QUERIES[name], sf_dir, name)
        return compiles(spark) - c0

    cycle()
    assert compiles(spark) > 0  # the counter sees this JVM's compiles
    assert cycle() == 0
