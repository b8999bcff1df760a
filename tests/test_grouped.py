"""apply_grouped (operators/grouped.py): a grouped numpy kernel runs on
the driver for small inputs and as applyInPandas above the cap; both
paths must return the same rows."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import types as T

import datapipeline_template_spark.operators.grouped as grouped
from datapipeline_template_spark.operators.grouped import apply_grouped

OUT = T.StructType(
    [
        T.StructField("g", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def _kernel():
    """The test kernel, built in a closure so Python workers get it by
    value (they cannot import this test module)."""

    def summary(pdf: pd.DataFrame) -> pd.DataFrame:
        # Groups with a negative value emit nothing (an empty frame).
        if (pdf["v"] < 0).any():
            return pd.DataFrame({"g": [], "n": [], "s": []})
        return pd.DataFrame(
            {"s": [float(pdf["v"].sum())], "n": [len(pdf)], "g": [pdf["g"].iloc[0]]}
        )

    return summary


def _key(row):
    return tuple("" if v is None else v for v in row)


def _both(df, monkeypatch):
    """(driver-path rows, applyInPandas rows, driver plan, Spark plan)."""
    local = apply_grouped(df, ["g"], _kernel(), OUT)
    with monkeypatch.context() as m:
        m.setattr(grouped, "LOCAL_KERNEL_MAX_ROWS", 0)
        dist = apply_grouped(df, ["g"], _kernel(), OUT)
    rows = [sorted((tuple(r) for r in x.collect()), key=_key) for x in (local, dist)]
    plans = [x._jdf.queryExecution().executedPlan().toString() for x in (local, dist)]
    return rows + plans


def test_driver_path_equals_apply_in_pandas(spark, monkeypatch):
    """Null keys form their own group, an empty group output drops out,
    columns are matched by name, and the small input never reaches a
    Python worker (no FlatMapGroupsInPandas in its plan)."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.5), ("b", -1.0), ("b", 4.0), (None, 7.0), ("c", 0.5)],
        "g string, v double",
    )
    local, dist, local_plan, dist_plan = _both(df, monkeypatch)
    assert local == dist
    assert local == sorted([("a", 2, 3.5), (None, 1, 7.0), ("c", 1, 0.5)], key=_key)
    assert "FlatMapGroupsInPandas" in dist_plan
    assert "FlatMapGroupsInPandas" not in local_plan


@pytest.mark.parametrize("where", ["v > 100", "v < 0"])
def test_driver_path_empty_input_and_output(spark, monkeypatch, where):
    """No input rows, or only groups that emit nothing: an empty frame
    with the declared schema either way."""
    df = spark.createDataFrame(
        [("a", 1.0), ("b", -1.0)], "g string, v double"
    ).where(where)
    local, dist, _, _ = _both(df, monkeypatch)
    assert local == dist == []
    assert apply_grouped(df, ["g"], _kernel(), OUT).schema == OUT
