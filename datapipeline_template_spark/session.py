"""SparkSession factory tuned for this engine.

Local test profile runs ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the same settings are the ones we would ship as cluster
defaults: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (so timestamps agree with external
oracles and between clusters), Arrow for any pandas interchange.

At 100 TB the knobs that matter are set here but are deliberately
*session-level defaults*, not hard-coded into operators, so a cluster
deployment can override them via ``spark-defaults.conf``:

* ``spark.sql.adaptive.enabled`` — runtime shuffle re-planning.
* ``spark.sql.adaptive.skewJoin.enabled`` — splits skewed partitions of
  sort-merge joins (our silver dedup shuffle is the hot path).
* ``spark.sql.shuffle.partitions`` — sized for the local profile; on a
  real cluster AQE coalesces, so a high initial value is safe.
* ``spark.sql.files.maxPartitionBytes`` — 128 MB splits keep scan tasks
  balanced on wide parquet.
* ``spark.sql.codegen.cache.maxEntries`` — the JVM-wide LRU of compiled
  whole-stage code. One pass over the benchmark's 19-query mix needs
  320 distinct code units; at Spark's default of 100 entries the cache
  thrashes and every repeat of a query recompiles its code (Janino on
  the driver, then JIT). 1000 is about 3x that working set. It is a
  static conf, read when the cache is first used, so it only takes
  effect when set before the session is built.

``run_concurrently`` is the one way this package overlaps Spark jobs on
driver threads: each thunk runs with the caller's job group,
description, scheduler pool and session tags, so ``cancelJobGroup``
and ``getJobIdsForGroup`` see the pool threads' jobs too.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONFS", "run_concurrently"]

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Static: applies only when set at session build (see module doc).
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Sources in this engine re-list directories between micro-batches.
    "spark.sql.streaming.schemaInference": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # Hive/derby can't evaluate partition-pruning filters on integer
    # partition columns (our _pk_bucket); fall back to client-side
    # pruning instead of failing the query.
    "spark.sql.hive.metastorePartitionPruningFallbackOnException": "true",
    "spark.sql.hive.metastorePartitionPruningFastFallback": "true",
}


def _inheriting_spark_context(fn: Callable[[], object]) -> Callable[[], object]:
    """``fn`` wrapped to run with the calling thread's Spark local
    properties (job group, job description, scheduler pool) and session
    tags; ``fn`` itself when no SparkContext is active."""
    from pyspark import SparkContext
    from pyspark.util import inheritable_thread_target

    if SparkContext._active_spark_context is None:
        return fn
    # A pool thread has no active session of its own: fall back to the
    # process's instantiated session so nested pools inherit its tags.
    session = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if session is None:
        return inheritable_thread_target(fn)
    return inheritable_thread_target(session)(fn)


def run_concurrently(*fns: Callable[[], object]) -> list:
    """Run the thunks on one driver thread each, under the caller's
    Spark context; return their results in argument order. The first
    failure (in argument order) is re-raised after every thunk ends."""
    with ThreadPoolExecutor(max_workers=max(1, len(fns))) as pool:
        futures = [pool.submit(_inheriting_spark_context(fn)) for fn in fns]
    return [f.result() for f in futures]


def get_spark(
    app_name: str = "datapipeline_template_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
    hive_metastore: bool = False,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to the parallelism of
    the master in local mode (one target partition per core keeps the
    dedup window shuffle spill-free at test scale; clusters override).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if hive_metastore:
        # Persist table registrations across processes (derby metastore
        # in cwd; a real deployment points this at its metastore/Unity
        # equivalent). The default in-memory catalog loses tables when
        # the process exits — fine for tests, wrong for the CLI.
        confs["spark.sql.catalogImplementation"] = "hive"
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
