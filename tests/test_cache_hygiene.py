"""Executor-storage hygiene: query functions must not leak persisted
RDDs across invocations in a long-lived session (round-5 dd12 kept a
corpus-sized `.persist()` with no unpersist point).

Documented exceptions: dd03/dd05/dd09/dd13 eagerly persist signature
frames as SESSION-LIFETIME caches (multiple consumers of an expensive
kernel; the trade is stated at each call site). Those caches are
created once per plan and re-running the query re-reads them — the
assertion here is that repeated invocations do not GROW storage
unboundedly.
"""

from __future__ import annotations

from datapipeline_template_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.001"


def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs. Compared as sets, not counts: Spark's
    ContextCleaner may release an earlier test's RDD at any moment, and
    a count would read that as a change."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_dd12_does_not_leak_persisted_rdds(spark):
    """dd12 twice in one session: zero growth in persisted RDDs (the
    shared shingle projection is recomputed per consumer, not
    cached)."""
    fn = load_all()["dd12_dup_span_stats"].fn
    fn(spark, SF_DIR).count()  # warm any session-level machinery
    base = _persisted(spark)
    fn(spark, SF_DIR).count()
    assert _persisted(spark) - base == set()


def test_dd13_storage_growth_bounded(spark):
    """dd13's documented session cache is now KEYED by (application,
    sf_dir): the first call pays the two documented persists
    (enrichment frame + eager banded copy); every re-invocation returns
    the same lazy frame and re-reads those caches — storage growth
    after the first call must be exactly zero (no per-call stacking,
    the leak class the dd12 fix removed)."""
    fn = load_all()["dd13_jaccard_estimate"].fn
    fn(spark, SF_DIR).count()
    after_first = _persisted(spark)
    fn(spark, SF_DIR).count()
    growth = _persisted(spark) - after_first
    assert not growth, f"dd13 grew storage by {len(growth)} RDDs on re-invocation"
