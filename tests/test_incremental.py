"""Incremental silver maintenance vs full recompute (SURVEY §7.3):
the bucketed MERGE-equivalent must produce byte-identical silver while
rewriting only affected buckets."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_template_spark.config import EntityConfig, PipelineParams
from datapipeline_template_spark.plans.incremental import BUCKET_COL, IncrementalSilver

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("_ingested_at", T.TimestampType()),
    ]
)

T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 2, 1)


def _bronze_v1():
    return [Row(id=i, op="I", v=i * 10, _ingested_at=T0) for i in range(1, 21)]


def _bronze_v2():
    return [
        Row(id=1, op="U", v=111, _ingested_at=T1),   # update
        Row(id=2, op="D", v=20, _ingested_at=T1),    # late delete
        Row(id=3, op="U", v=None, _ingested_at=T1),  # expectation-failing update
        Row(id=99, op="I", v=990, _ingested_at=T1),  # brand-new key
    ]


@pytest.fixture()
def env(spark, tmp_path):
    for db in ("inc_bronze", "inc_silver", "ref_silver"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql("CREATE DATABASE inc_bronze")
    spark.sql("CREATE DATABASE inc_silver")
    params = PipelineParams(source_location=str(tmp_path), catalog="inc")
    entity = EntityConfig(
        name="items",
        unique_primary_key=["id"],
        expect_all_or_drop={"has_v": "v IS NOT NULL"},
    )
    return params, entity


def _write_bronze(spark, rows, mode="append"):
    spark.createDataFrame(rows, SCHEMA).write.mode(mode).format("parquet").saveAsTable(
        "inc_bronze.bronze_items"
    )


def _full_recompute(spark, entity):
    """Ground truth: the reference's full silver semantics."""
    from datapipeline_template_spark.operators.cdc import drop_soft_deleted
    from datapipeline_template_spark.operators.dedup import keep_latest
    from datapipeline_template_spark.operators.expectations import expect_all_or_drop

    bronze = spark.read.table("inc_bronze.bronze_items")
    df = keep_latest(bronze, entity.unique_primary_key, ["_ingested_at"])
    df = drop_soft_deleted(df)
    return expect_all_or_drop(df, entity.expect_all_or_drop)


def test_incremental_equals_full_recompute(spark, tmp_path, env):
    params, entity = env
    _write_bronze(spark, _bronze_v1(), mode="overwrite")
    inc = IncrementalSilver(spark, params, entity, n_buckets=8, state_dir=str(tmp_path / "st"))

    stats = inc.run()
    assert stats["mode"] == "bootstrap"
    assert spark.read.table("inc_silver.silver_items").count() == 20

    # Delta batch: update + late delete + failing update + new key.
    _write_bronze(spark, _bronze_v2())
    stats = inc.run()
    assert stats["mode"] == "incremental"
    assert stats["new_rows"] == 4
    assert 0 < stats["buckets_rewritten"] < 8  # only affected buckets

    got = {
        r["id"]: r["v"]
        for r in spark.read.table("inc_silver.silver_items").collect()
    }
    want = {r["id"]: r["v"] for r in _full_recompute(spark, entity).collect()}
    assert got == want
    assert got[1] == 111      # update applied
    assert 2 not in got       # late delete removed the key
    assert 3 not in got       # failing update removed the key (matches full recompute)
    assert got[99] == 990     # new key inserted


def test_incremental_noop_and_idempotent(spark, tmp_path, env):
    params, entity = env
    _write_bronze(spark, _bronze_v1(), mode="overwrite")
    inc = IncrementalSilver(spark, params, entity, n_buckets=8, state_dir=str(tmp_path / "st"))
    inc.run()
    before = sorted(
        map(tuple, spark.read.table("inc_silver.silver_items").drop(BUCKET_COL).collect())
    )
    # Re-run with no new rows: watermark-boundary rows reprocess
    # harmlessly (dedup idempotence), content unchanged.
    stats = inc.run()
    assert stats["mode"] in ("noop", "incremental")
    after = sorted(
        map(tuple, spark.read.table("inc_silver.silver_items").drop(BUCKET_COL).collect())
    )
    assert before == after


def test_incremental_with_renames(spark, tmp_path, env):
    params, entity = env
    entity.renamed_columns = {"v": "value"}
    # Expectations see the post-rename schema (same ordering as
    # Pipeline.silver_transform: renames before expectations).
    entity.expect_all_or_drop = {"has_value": "value IS NOT NULL"}
    _write_bronze(spark, _bronze_v1(), mode="overwrite")
    inc = IncrementalSilver(spark, params, entity, n_buckets=8, state_dir=str(tmp_path / "st"))
    inc.run()
    _write_bronze(spark, _bronze_v2())
    inc.run()
    silver = spark.read.table("inc_silver.silver_items")
    assert "value" in silver.columns and "v" not in silver.columns
    got = {r["id"]: r["value"] for r in silver.collect()}
    assert got[1] == 111 and 2 not in got


def _silver_location(spark, fqn):
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {fqn}")
    return desc.where("col_name = 'Location'").collect()[0]["data_type"].removeprefix("file:")


def test_incremental_delete_empties_bucket(spark, tmp_path, env):
    """Deleting every key of one bucket must drop that partition: the
    write's observed bucket set is what detects the emptied bucket."""
    import os

    params, entity = env
    _write_bronze(spark, _bronze_v1(), mode="overwrite")
    inc = IncrementalSilver(spark, params, entity, n_buckets=8, state_dir=str(tmp_path / "st"))
    assert inc.run()["mode"] == "bootstrap"
    silver_fqn = "inc_silver.silver_items"
    by_bucket = {}
    for r in spark.read.table(silver_fqn).select("id", BUCKET_COL).collect():
        by_bucket.setdefault(r[BUCKET_COL], []).append(r["id"])
    bucket, ids = min(by_bucket.items())
    base = _silver_location(spark, silver_fqn)
    assert os.path.isdir(os.path.join(base, f"{BUCKET_COL}={bucket}"))

    _write_bronze(spark, [Row(id=i, op="D", v=i * 10, _ingested_at=T1) for i in ids])
    stats = inc.run()
    assert stats == {"new_rows": len(ids), "buckets_rewritten": 1, "mode": "incremental"}
    assert not os.path.exists(os.path.join(base, f"{BUCKET_COL}={bucket}"))
    silver = spark.read.table(silver_fqn)
    assert bucket not in {r[0] for r in silver.select(BUCKET_COL).distinct().collect()}
    got = sorted(map(tuple, silver.select("id", "op", "v").collect()))
    want = sorted(map(tuple, _full_recompute(spark, entity).select("id", "op", "v").collect()))
    assert got == want
    assert not set(ids) & {g[0] for g in got}


def test_pipeline_incremental_two_entities_matches_full(spark, tmp_path):
    """Two entity flows update concurrently (insertInto under dynamic
    partition overwrite in both); each incremental silver must equal
    the full-recompute silver of the same feed."""
    from datapipeline_template_spark.plans.pipeline import Pipeline

    names = ("alpha", "beta")
    src = tmp_path / "raw"
    for catalog in ("inc2", "full2"):
        for layer in ("bronze", "silver", "silver_active"):
            spark.sql(f"DROP DATABASE IF EXISTS {catalog}_{layer} CASCADE")

    def land(rows):
        for n in names:
            spark.createDataFrame(rows, T.StructType(SCHEMA.fields[:3])).coalesce(1).write.mode(
                "append").parquet(str(src / n))

    def pipeline(catalog, mode):
        params = PipelineParams(source_location=str(src), catalog=catalog)
        entities = [EntityConfig(name=n, unique_primary_key=["id"],
                                 expect_all_or_drop={"has_v": "v IS NOT NULL"})
                    for n in names]
        return Pipeline(spark, params, entities, checkpoint_root=str(tmp_path / catalog),
                        streaming=True, silver_mode=mode, n_buckets=4)

    def contents(catalog, name):
        df = spark.read.table(f"{catalog}_silver.silver_{name}")
        return sorted(map(tuple, df.select("id", "op", "v").collect()))

    land([Row(id=i, op="I", v=i * 10) for i in range(1, 21)])
    inc = pipeline("inc2", "incremental")
    inc.run()
    land([Row(id=1, op="U", v=111), Row(id=2, op="D", v=20), Row(id=3, op="U", v=None),
          Row(id=99, op="I", v=990)])
    inc.run()
    pipeline("full2", "full").run()
    for n in names:
        got = contents("inc2", n)
        assert got == contents("full2", n)
        ids = {r[0] for r in got}
        assert 1 in ids and 99 in ids and 2 not in ids and 3 not in ids


def test_high_water_mark_survives_torn_write(spark, tmp_path, monkeypatch):
    """A crash while storing a new mark keeps the previous one; a torn
    file would read as "no mark" and force a full bootstrap."""
    import json

    def torn_dump(obj, f, *args, **kwargs):
        f.write(json.dumps(obj)[:7])
        raise OSError("disk full")

    params = PipelineParams(source_location=str(tmp_path), catalog="inc")
    inc = IncrementalSilver(spark, params, EntityConfig(name="items", unique_primary_key=["id"]))
    inc._store_hwm("2024-01-01 00:00:00")
    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        inc._store_hwm("2024-02-01 00:00:00")
    monkeypatch.undo()
    assert inc._load_hwm() == "2024-01-01 00:00:00"
