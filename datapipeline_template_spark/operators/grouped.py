"""Grouped numpy kernels with a driver path for small inputs.

``apply_grouped`` is ``df.groupBy(*keys).applyInPandas(fn, schema)``
for the per-group numpy kernels (SemDeDup marks, mutual-kNN edges).
An input of at most ``LOCAL_KERNEL_MAX_ROWS`` rows is collected once
and ``fn`` runs on the driver per group instead, its output becoming a
local relation. The kernel is the same function either way, so the
rows are the same; what changes is the cost at small sizes. In local
mode every Python task pays a fixed worker cost of 0.1-0.2 s on this
engine's Spark 4.1 / Python 3.11 setup (the worker re-reads the
directory of ``pyspark.zip`` once per imported package, per task), and
a grouped kernel under an ``orderBy`` runs twice (once more for the
range partitioner's sample). A few thousand rows of numpy on the
driver take milliseconds.

Above the cap the probe costs one bounded ``LIMIT`` collect of up to
``LOCAL_KERNEL_MAX_ROWS + 1`` rows before the distributed plan runs.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

__all__ = ["LOCAL_KERNEL_MAX_ROWS", "apply_grouped"]

# Rows collected to the driver at most (each row carries one vector;
# 20k × 64 int64 cells is 10 MB).
LOCAL_KERNEL_MAX_ROWS = 20_000


def apply_grouped(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: StructType,
) -> DataFrame:
    """``df.groupBy(*keys).applyInPandas(fn, schema)``; run on the
    driver when ``df`` has at most ``LOCAL_KERNEL_MAX_ROWS`` rows (see
    the module doc). ``fn`` sees each group with all of ``df``'s
    columns, null keys included, as under ``applyInPandas``."""
    rows = df.limit(LOCAL_KERNEL_MAX_ROWS + 1).collect()
    if len(rows) > LOCAL_KERNEL_MAX_ROWS:
        return df.groupBy(*keys).applyInPandas(fn, schema)
    pdf = pd.DataFrame.from_records(
        [tuple(r) for r in rows], columns=df.columns
    )
    parts = [
        fn(g) for _, g in pdf.groupby(keys, dropna=False, sort=False)
    ] if len(pdf) else []
    parts = [p[schema.names] for p in parts if len(p)]
    out = (
        pd.concat(parts, ignore_index=True)
        if parts
        else pd.DataFrame({name: [] for name in schema.names})
    )
    return df.sparkSession.createDataFrame(out, schema)
