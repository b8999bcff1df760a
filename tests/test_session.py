"""Session defaults that only show up across many queries."""

from __future__ import annotations

import threading
import time

import pytest


def test_generated_code_is_reused_past_100_units(spark):
    """A query compiled before 240 other distinct code units is still in
    the generated-code cache: rerunning it compiles nothing. Spark's
    default cache holds 100 entries, so this fails without the engine's
    ``spark.sql.codegen.cache.maxEntries``."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def run(i: int) -> None:
        # Each inlined literal makes new code: the whole-stage unit and
        # the result projection. One partition keeps the job cheap.
        spark.range(0, 3, 1, 1).selectExpr(f"id + {i}").collect()

    base = 7_300_000  # literals no other test compiles
    for i in range(120):
        run(base + i)
    before = compiles.getCount()
    run(base)
    assert compiles.getCount() == before


def test_pool_thread_jobs_carry_callers_job_group(spark, sf_dir):
    """Every job ``pq_codebooks`` starts on its fit threads is tagged
    with the caller's job group, so ``getJobIdsForGroup`` counts them
    and ``cancelJobGroup`` reaches them. A bare ThreadPoolExecutor runs
    them with no group."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import pq_codebooks

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "pool-thread-job-group"
    emb = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "pq fits on pool threads")
    try:
        pq_codebooks(emb, "vec_id", "embedding", m=4, sub_dim=16, k_sub=4, n_iter=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
    assert len(tracker.getJobIdsForGroup(group)) >= 4  # >= one per fit


def test_run_concurrently_orders_results_and_reraises_first_failure():
    from datapipeline_template_spark.session import run_concurrently

    main = threading.get_ident()
    assert run_concurrently(lambda: 1, lambda: 2) == [1, 2]
    assert run_concurrently(threading.get_ident)[0] != main
    assert run_concurrently() == []

    finished = []

    def slow():
        time.sleep(0.2)
        finished.append("slow")

    def fail(msg):
        raise ValueError(msg)

    with pytest.raises(ValueError, match="first"):
        run_concurrently(lambda: fail("first"), slow, lambda: fail("second"))
    assert finished == ["slow"]  # every thunk ran to its end
