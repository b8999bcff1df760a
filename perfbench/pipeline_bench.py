"""The pipeline workloads: ``pipeline_refresh`` and ``pipeline_trickle``.

Both drive ``Pipeline.run()`` over the four generated CDC entities.

* refresh: every op is a ``full_refresh=True`` streaming update over
  the whole feed, with the full-recompute silver.
* trickle: setup lands the feed and bootstraps it; every op first lands
  one small Zipf-skewed delta file per entity (untimed: that is the
  data arriving), then times a non-refresh update with
  ``silver_mode="incremental"``.

After every op, silver is checked against the generator's ground truth
(row count and an order-insensitive hash, computed by DuckDB from the
silver files), and the silver accounting is checked from the bronze
files: ``rows_in == rows_out + dedup_collapsed + soft_deleted +
expectation_dropped``.
"""

from __future__ import annotations

import glob
import json
import os
import time

import duckdb
import pyarrow.parquet as pq

from gen_cdc import ENTITIES, CdcFeed, entity_config
from spans import StageMetrics, StreamProbe, Tracer, self_times, sum_jobs

from datapipeline_template_spark import config as config_mod
from datapipeline_template_spark.plans import dag as dag_mod
from datapipeline_template_spark.plans import pipeline as pipeline_mod
from datapipeline_template_spark.plans.incremental import IncrementalSilver
from datapipeline_template_spark.sources import stream as stream_mod

__all__ = ["PipelineWorkload", "PIPELINE_LAYER_METRICS"]

N_BUCKETS = 64

# per-layer metric -> unit, reported by the traced run
PIPELINE_LAYER_METRICS = {
    "sources.infer_schema_s": "s",
    "sources.infer_schema_jobs": "count",
    "sources.stream_latest_offset_ms": "ms",
    "sources.stream_add_batch_ms": "ms",
    "sources.stream_input_rows": "count",
    "bronze.build_s": "s",
    "bronze.self_s": "s",
    "bronze.jobs": "count",
    "bronze.bytes_written": "bytes",
    "bronze.files_written": "count",
    "silver.build_s": "s",
    "silver.self_s": "s",
    "silver.jobs": "count",
    "silver.task_s": "s",
    "silver.shuffle_bytes": "bytes",
    "silver.spill_bytes": "bytes",
    "silver.bytes_written": "bytes",
    "silver.files_written": "count",
    "silver.write_amp": "ratio",
    "silver.rows_in": "count",
    "silver.rows_out": "count",
    "silver.dedup_collapsed": "count",
    "silver.soft_deleted": "count",
    "silver.expectation_dropped": "count",
    "incremental.run_s": "s",
    "incremental.delta_rows": "count",
    "incremental.buckets_rewritten": "count",
    "incremental.rewritten_frac": "ratio",
    "incremental.rows_rewritten_per_delta_row": "ratio",
    "views.build_s": "s",
    "pipeline.driver_s": "s",
    "pipeline.jobs": "count",
}

_CANON = {"int": "CAST({c} AS BIGINT)", "int32": "CAST({c} AS BIGINT)",
          "dbl": "CAST({c} AS DOUBLE)", "str": "CAST({c} AS VARCHAR)",
          "ts": "epoch_us({c})"}


def _new_files(root: str, since: float) -> list[str]:
    """Parquet data files under ``root`` written at or after ``since``."""
    return [p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
            if os.path.getmtime(p) >= since]


class PipelineWorkload:
    def __init__(self, spark, run_dir: str, seed: int, rows: int, mode: str):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.rows = rows
        self.mode = mode  # "refresh" | "trickle"
        self.src = os.path.join(run_dir, "raw")
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.step = 0
        self.con = duckdb.connect()
        self.probe: StreamProbe | None = None
        self.stage_metrics: StageMetrics | None = None

    # -- setup -----------------------------------------------------------------
    def setup(self) -> None:
        self.feed = CdcFeed(self.src, self.seed, self.rows)
        cfg_path = os.path.join(self.run_dir, "dp_config_template.json")
        with open(cfg_path, "w") as f:
            json.dump({s.name: entity_config(s) for s in ENTITIES}, f)
        entities = config_mod.load_config(self.spark, cfg_path)
        params = config_mod.PipelineParams(source_location=self.src, soft_deletes="N")
        self.pipe = pipeline_mod.Pipeline(
            self.spark, params, entities,
            checkpoint_root=os.path.join(self.run_dir, "checkpoints"),
            streaming=True,
            silver_mode="full" if self.mode == "refresh" else "incremental",
            n_buckets=N_BUCKETS,
        )
        if self.mode == "trickle":
            self.pipe.run(full_refresh=True)

    def _table_dir(self, layer: str, entity: str) -> str:
        return os.path.join(self.warehouse, f"engine_{layer}.db", f"{layer}_{entity}")

    # -- one op ----------------------------------------------------------------
    def op(self, recorder=None) -> dict:
        """One update. Returns latency, rows landed and the raw bytes the
        update ingested."""
        if self.mode == "trickle":
            self.step += 1
            before = self.feed.bytes_landed
            rows = self.feed.land_delta(self.step)
            raw_bytes = self.feed.bytes_landed - before
        else:
            rows, raw_bytes = self.feed.rows_landed, self.feed.bytes_landed
        wall0 = time.time()
        t0 = time.perf_counter()
        if recorder is None:
            self.pipe.run(full_refresh=self.mode == "refresh")
        else:
            with recorder.span("pipeline.update"):
                self.pipe.run(full_refresh=self.mode == "refresh")
        latency = time.perf_counter() - t0
        return {"latency_s": latency, "rows": rows, "raw_bytes": raw_bytes, "wall0": wall0}

    # -- output checks ------------------------------------------------------------
    def check(self) -> tuple[bool, dict]:
        """Silver vs ground truth and the accounting invariant, per entity.
        Returns (ok, summed accounting counts)."""
        ok = True
        acct = dict.fromkeys(("rows_in", "rows_out", "dedup_collapsed", "soft_deleted",
                              "expectation_dropped"), 0)
        for spec in ENTITIES:
            canon = ", ".join(_CANON[k].format(c=c) for c, k in spec.columns.items())
            silver_files = glob.glob(os.path.join(self._table_dir("silver", spec.name),
                                                  "**", "*.parquet"), recursive=True)
            bronze_files = glob.glob(os.path.join(self._table_dir("bronze", spec.name),
                                                  "*.parquet"))
            if not silver_files or not bronze_files:
                return False, acct
            got = self.con.sql(
                f"SELECT count(*), sum(hash({canon})) FROM read_parquet({silver_files!r})"
            ).fetchone()
            truth = self.feed.truth(spec)  # noqa: F841 - read by DuckDB below
            want = self.con.sql(f"SELECT count(*), sum(hash({canon})) FROM truth").fetchone()
            pk = ", ".join(spec.pk)
            rules = " AND ".join(f"coalesce({r}, false)" for r in spec.expect.values())
            dead = "(op IS NULL OR op = 'D')"
            rows_in, n_latest, deleted, dropped = self.con.sql(f"""
                WITH b AS (SELECT * FROM read_parquet({bronze_files!r}, union_by_name=true)),
                l AS (SELECT * FROM b QUALIFY row_number() OVER (PARTITION BY {pk}
                      ORDER BY _ingested_at DESC, _file_modification_time DESC,
                               _source_file DESC) = 1)
                SELECT (SELECT count(*) FROM b), (SELECT count(*) FROM l),
                       (SELECT count(*) FROM l WHERE {dead}),
                       (SELECT count(*) FROM l WHERE NOT {dead} AND NOT ({rules}))
            """).fetchone()
            counts = {"rows_in": rows_in, "rows_out": got[0],
                      "dedup_collapsed": rows_in - n_latest, "soft_deleted": deleted,
                      "expectation_dropped": dropped}
            balanced = rows_in == (counts["rows_out"] + counts["dedup_collapsed"]
                                   + deleted + dropped)
            landed = rows_in == self.feed.landed[spec.name]
            if got != want or not balanced or not landed:
                ok = False
            for k, v in counts.items():
                acct[k] += v
        return ok, acct

    # -- tracing -----------------------------------------------------------------
    def install_tracing(self, tracer: Tracer) -> None:
        if self.probe is None:
            self.probe = StreamProbe()
            self.stage_metrics = StageMetrics(self.spark)
        self.spark.streams.addListener(self.probe)
        tracer.wrap("sources.infer_schema", [(stream_mod, "load_or_infer_schema"),
                                             (pipeline_mod, "load_or_infer_schema")])
        tracer.wrap("bronze.build", [(pipeline_mod.Pipeline, "build_bronze")])
        tracer.wrap("silver.build", [(pipeline_mod.Pipeline, "build_silver")])
        tracer.wrap("incremental.run", [(IncrementalSilver, "run")],
                    on_result=lambda s, stats: s.attrs.update(stats))
        tracer.wrap("views.build", [(pipeline_mod.Pipeline, "build_views")])
        tracer.wrap("dag.run", [(dag_mod.Dag, "run")])

    def uninstall_tracing(self, tracer: Tracer) -> None:
        tracer.uninstall()
        self.spark.streams.removeListener(self.probe)

    def layer_metrics(self, recorder, op_id: int, res: dict, acct: dict) -> dict:
        """Per-layer values for one traced op."""
        self.probe.wait_idle()
        progress = self.probe.drain()
        spans = recorder.of_op(op_id)
        upd = [s for s in spans if s.name == "pipeline.update"][0]
        snapshot = self.stage_metrics.collect(upd.job0, upd.job1)

        def named(n):
            return [s for s in spans if s.name == n]

        def total(n):
            return sum(s.dur for s in named(n))

        def jobs(n):
            return sum(s.job1 - s.job0 for s in named(n))

        silver_stage = {"task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
        for s in named("silver.build"):
            for k, v in sum_jobs(snapshot, s.job0, s.job1).items():
                silver_stage[k] += v
        bronze_new = [p for e in ENTITIES
                      for p in _new_files(self._table_dir("bronze", e.name), res["wall0"])]
        silver_new = [p for e in ENTITIES
                      for p in _new_files(self._table_dir("silver", e.name), res["wall0"])]
        silver_bytes = sum(os.path.getsize(p) for p in silver_new)
        silver_rows = sum(pq.read_metadata(p).num_rows for p in silver_new)
        inc = named("incremental.run")
        delta_rows = sum(s.attrs.get("new_rows", 0) for s in inc)
        buckets = sum(s.attrs.get("buckets_rewritten", 0) for s in inc)
        st = self_times(spans)
        nodes = total("bronze.build") + total("silver.build") + total("views.build")
        return {
            "sources.infer_schema_s": total("sources.infer_schema"),
            "sources.infer_schema_jobs": jobs("sources.infer_schema"),
            "sources.stream_latest_offset_ms": sum(
                p["durationMs"].get("latestOffset", 0) for p in progress),
            "sources.stream_add_batch_ms": sum(
                p["durationMs"].get("addBatch", 0) for p in progress),
            "sources.stream_input_rows": sum(p["numInputRows"] for p in progress),
            "bronze.build_s": total("bronze.build"),
            "bronze.self_s": st.get("bronze.build", 0.0),
            "bronze.jobs": jobs("bronze.build"),
            "bronze.bytes_written": sum(os.path.getsize(p) for p in bronze_new),
            "bronze.files_written": len(bronze_new),
            "silver.build_s": total("silver.build"),
            "silver.self_s": st.get("silver.build", 0.0),
            "silver.jobs": jobs("silver.build"),
            **{f"silver.{k}": v for k, v in silver_stage.items()},
            "silver.bytes_written": silver_bytes,
            "silver.files_written": len(silver_new),
            "silver.write_amp": silver_bytes / res["raw_bytes"] if res["raw_bytes"] else 0.0,
            **{f"silver.{k}": v for k, v in acct.items()},
            "incremental.run_s": total("incremental.run"),
            "incremental.delta_rows": delta_rows,
            "incremental.buckets_rewritten": buckets,
            "incremental.rewritten_frac": (buckets / (N_BUCKETS * len(inc))) if inc else 0.0,
            "incremental.rows_rewritten_per_delta_row": (
                silver_rows / delta_rows if delta_rows else 0.0),
            "views.build_s": total("views.build"),
            "pipeline.driver_s": upd.dur - nodes,
            "pipeline.jobs": upd.job1 - upd.job0,
        }
