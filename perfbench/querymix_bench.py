"""The ``query_mix`` workload: a seeded order over 19 registered queries.

15 queries are relational, temporal or CDC and 4 are LLM-data operators.
The catalog tables are fixed (generated with one fixed seed, like the
repository's fixed test data); ``--seed`` only sets the query order. An
op is ``fn(spark, data_dir)`` (the build, including any build-time jobs)
plus a ``collect()`` of the result, so every output column is
materialized and the timed op's own output is the one checked.

dd12, ss17, ss25, tx21b, pipe12 and dd16 are left out: each takes 4-20 s
here, and a run that includes them (with the warm-up pass every run
needs) no longer fits the benchmark's time budget.

Each op's result is checked against its DuckDB oracle over the same
tables, with the row-set hashing of ``tools/sweep_all.py``. The oracle
results are computed ahead by ``make_expected.py`` and kept as digests
in ``expected_mix.json``: the costliest oracles take longer than the
whole mix.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time

from gen_tables import TABLE_NAMES, generate_tables
from spans import StageMetrics, Tracer, sum_jobs
from tools.sweep_all import _rowset

from datapipeline_template_spark import catalog as catalog_mod
from datapipeline_template_spark.queries import load_all

__all__ = ["QueryMixWorkload", "MIX", "TABLE_SEED", "querymix_layer_metrics", "rowset_digest",
           "tables_digest"]

TABLE_SEED = 42
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_mix.json")

RELATIONAL = ("q01", "q02", "q03", "q06", "q18", "q26", "w01", "w08", "pipe01", "pipe08",
              "tj01", "tj03", "tj04", "q42", "dd11")
LLM = ("dd03", "dd15", "ss14", "tx27b")
MIX = RELATIONAL + LLM


def rowset_digest(cols: list[str], rows: list[tuple]) -> str:
    """sha256 of the order-insensitive row set ``tools/sweep_all.py`` compares."""
    return hashlib.sha256("\n".join(_rowset(cols, rows)).encode()).hexdigest()


def tables_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLE_NAMES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def querymix_layer_metrics() -> dict[str, str]:
    """per-layer metric -> unit, reported by the traced run"""
    out = {"catalog.table_s": "s", "catalog.table_jobs": "count",
           "queries.build_frac": "ratio", "queries.task_s": "s",
           "queries.shuffle_bytes": "bytes", "queries.spill_bytes": "bytes"}
    for q in MIX:
        out.update({f"queries.{q}.build_s": "s", f"queries.{q}.exec_s": "s",
                    f"queries.{q}.jobs": "count"})
    return out


class QueryMixWorkload:
    def __init__(self, spark, run_dir: str, seed: int, scale: float):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.data_dir = os.path.join(run_dir, "tables")
        self.stage_metrics: StageMetrics | None = None

    def setup(self) -> None:
        generate_tables(self.data_dir, TABLE_SEED, self.scale)
        registry = load_all()
        by_short = {name.split("_")[0]: q for name, q in registry.items()}
        self.queries = {short: by_short[short] for short in MIX}
        self.order = random.Random(self.seed).sample(MIX, len(MIX))
        with open(EXPECTED) as f:
            expected = json.load(f)
        scale_key = str(self.scale)
        if scale_key not in expected:
            raise RuntimeError(f"no expected results for table scale {scale_key}; "
                               "run perfbench/make_expected.py")
        self.expected = expected[scale_key]
        if self.expected["tables"] != tables_digest(self.data_dir):
            raise RuntimeError("generated tables differ from the ones the expected "
                               "results were made from; run perfbench/make_expected.py")

    def warmup_op(self) -> float:
        """Every query of the mix once, in the run's order."""
        t0 = time.perf_counter()
        for short in self.order:
            self.op(short)
        return time.perf_counter() - t0

    def op(self, short: str, recorder=None) -> dict:
        fn = self.queries[short].fn
        if recorder is None:
            t0 = time.perf_counter()
            df = fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        else:
            with recorder.span("query", query=short):
                t0 = time.perf_counter()
                with recorder.span("query.build"):
                    df = fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                with recorder.span("query.exec"):
                    rows = df.collect()
                t2 = time.perf_counter()
        return {"latency_s": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1,
                "cols": [c.lower() for c in df.columns], "rows": [tuple(r) for r in rows]}

    def check(self, short: str, res: dict) -> bool:
        """The op's result matches its oracle's row set."""
        want = self.expected["queries"][short]
        return (len(res["rows"]) == want["rows"]
                and rowset_digest(res["cols"], res["rows"]) == want["digest"])

    # -- tracing -------------------------------------------------------------------
    def install_tracing(self, tracer: Tracer) -> None:
        if self.stage_metrics is None:
            self.stage_metrics = StageMetrics(self.spark)
        original = catalog_mod.table
        owners = [(mod, "table") for name, mod in list(sys.modules.items())
                  if name.startswith("datapipeline_template_spark")
                  and getattr(mod, "table", None) is original]
        tracer.wrap("catalog.table", owners)

    def uninstall_tracing(self, tracer: Tracer) -> None:
        tracer.uninstall()

    def layer_metrics(self, recorder, op_ids: list[int]) -> dict:
        """Per-layer values over one traced pass (one op per query)."""
        per_query: dict[str, dict] = {}
        tot_build = tot_exec = 0.0
        task = shuffle = spill = 0.0
        cat_s = cat_jobs = 0.0
        for op_id in op_ids:
            spans = recorder.of_op(op_id)
            q = [s for s in spans if s.name == "query"][0]
            build = [s for s in spans if s.name == "query.build"][0]
            exe = [s for s in spans if s.name == "query.exec"][0]
            m = sum_jobs(self.stage_metrics.collect(q.job0, q.job1), q.job0, q.job1)
            task += m["task_s"]
            shuffle += m["shuffle_bytes"]
            spill += m["spill_bytes"]
            tables = [s for s in spans if s.name == "catalog.table"]
            cat_s += sum(s.dur for s in tables)
            cat_jobs += sum(s.job1 - s.job0 for s in tables)
            tot_build += build.dur
            tot_exec += exe.dur
            per_query[q.attrs["query"]] = {"build_s": build.dur, "exec_s": exe.dur,
                                           "jobs": q.job1 - q.job0}
        n = max(1, len(op_ids))
        out = {"catalog.table_s": cat_s / n, "catalog.table_jobs": cat_jobs / n,
               "queries.build_frac": tot_build / max(1e-9, tot_build + tot_exec),
               "queries.task_s": task / n, "queries.shuffle_bytes": shuffle / n,
               "queries.spill_bytes": spill / n}
        for short in MIX:
            rec = per_query.get(short, {"build_s": 0.0, "exec_s": 0.0, "jobs": 0})
            for k in ("build_s", "exec_s", "jobs"):
                out[f"queries.{short}.{k}"] = rec[k]
        return out
