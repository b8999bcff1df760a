"""Catalog robustness: events dtype branching and view registration."""

from __future__ import annotations

import pytest

from datapipeline_template_spark.catalog import TABLES, register_views, table


def test_events_ts_is_tz_independent(spark, sf_dir):
    """The NTZ→timestamp conversion must be pure wall-clock arithmetic:
    flipping the session timezone AFTER table() returns (the driver
    owns its session) must not shift values. Round-4 review finding: a
    bare cast("timestamp") resolves against the session tz at analysis
    time."""
    from pyspark.sql import functions as F

    prior = spark.conf.get("spark.sql.session.timeZone")
    df = table(spark, sf_dir, "events")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = df.select(F.unix_micros("ts").alias("m")).orderBy("m").first()["m"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    utc = (
        table(spark, sf_dir, "events")
        .select(F.unix_micros("ts").alias("m"))
        .orderBy("m")
        .first()["m"]
    )
    assert shifted == utc


def test_register_views_drops_stale_view_on_skip(spark, sf_dir, tmp_path):
    """Skip-and-warn must not leave a stale same-named view serving the
    PREVIOUS sf_dir's data — the view is dropped so later SQL fails
    loudly instead of silently returning wrong-scale rows."""
    register_views(spark, sf_dir)
    try:
        assert spark.sql("SELECT count(*) FROM region").first()[0] > 0
        # Re-register against a directory with no parquet: every table
        # fails, and the old views must be gone.
        register_views(spark, str(tmp_path))
        with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
            spark.sql("SELECT count(*) FROM region").first()
    finally:
        # Restore the session views even if an assertion failed — later
        # tests in the shared session depend on them.
        register_views(spark, sf_dir)


def test_register_views_only_raises_on_failure(spark, tmp_path):
    """With an explicit only= list the caller asked for those tables:
    failure must raise, not warn."""
    with pytest.raises(Exception):
        register_views(spark, str(tmp_path), only=("region",))


# -- footer-schema cache -------------------------------------------------------

def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    j0 = _next_job_id(spark)
    out = fn()
    return out, _next_job_id(spark) - j0


def _fresh_copy(sf_dir, tmp_path, names):
    """Copies under a new path, so the first table() read is a cache miss
    whatever earlier tests read."""
    import shutil

    for name in names:
        shutil.copy(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


def _assert_same(a, b):
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_second_read_runs_no_job(spark, sf_dir, tmp_path):
    d = _fresh_copy(sf_dir, tmp_path, ("lineitem",))
    _, first = _jobs_of(spark, lambda: table(spark, d, "lineitem"))
    assert first >= 1  # schema inference: the job the cache removes
    _, second = _jobs_of(spark, lambda: table(spark, d, "lineitem"))
    assert second == 0


@pytest.mark.parametrize("name", TABLES)
def test_cached_read_matches_inferred_read(spark, sf_dir, tmp_path, name):
    d = _fresh_copy(sf_dir, tmp_path, (name,))
    inferred = table(spark, d, name)
    cached, jobs = _jobs_of(spark, lambda: table(spark, d, name))
    assert jobs == 0
    _assert_same(inferred, cached)


def test_cached_read_of_nanos_events(spark, sf_dir, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS): the cached schema must read
    the same rows through the dtype branch as the inferring read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    ns = pa.compute.cast(t.column("ts"), pa.timestamp("ns"))
    pq.write_table(t.set_column(i, "ts", ns), tmp_path / "events.parquet",
                   version="2.6", coerce_timestamps=None)
    assert pq.ParquetFile(tmp_path / "events.parquet").schema_arrow.field("ts").type == \
        pa.timestamp("ns")
    d = str(tmp_path)
    inferred = table(spark, d, "events")
    cached, jobs = _jobs_of(spark, lambda: table(spark, d, "events"))
    assert jobs == 0
    _assert_same(inferred, cached)
    _assert_same(cached, table(spark, sf_dir, "events"))


def test_replaced_file_is_reinferred(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"],
                             "r_comment": ["x", "y"]}), path)
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]


def test_missing_table_file_raises(spark, tmp_path):
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        table(spark, str(tmp_path), "region").collect()


def test_concurrent_first_reads(spark, sf_dir, tmp_path):
    """Threads racing on the first read of the same files all get the
    inferred schema, and the cache ends up serving both files."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    names = ("region", "nation")
    d = _fresh_copy(sf_dir, tmp_path, names)
    want = {n: spark.read.parquet(f"{d}/{n}.parquet").schema for n in names}
    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            futs = [(n, ex.submit(table, spark, d, n)) for n in names * 8]
            got = [(n, f.result(timeout=120).schema) for n, f in futs]
    finally:
        sys.setswitchinterval(prior)
    assert all(schema == want[n] for n, schema in got)
    for n in names:
        df, jobs = _jobs_of(spark, lambda: table(spark, d, n))
        assert jobs == 0 and df.schema == want[n]
