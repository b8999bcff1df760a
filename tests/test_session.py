"""Session defaults that only show up across many queries."""

from __future__ import annotations


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
