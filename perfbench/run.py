"""End-to-end benchmark of the engine: two pipeline workloads and a query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_refresh --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, ops issued from one driver thread on
``local[nproc]``):

* ``pipeline_refresh``: ``full_refresh=True`` streaming updates of four
  generated CDC entities.
* ``pipeline_trickle``: the same entities bootstrapped in setup; each op
  lands one small delta per entity and runs an incremental update.
* ``query_mix``: a seeded order over 19 registered queries on fixed
  generated catalog tables, each op a build plus a ``collect()``.

Inputs are generated from ``--seed`` inside the run directory. Every op's
output is checked (see the workload modules); a failed check counts as a
failed op. ``--trace 0`` prints the end-to-end metrics. ``--trace 1``
measures the same loop untraced and then traced, and prints the
per-layer metrics, per-layer self times and the tracing overhead (traced
minus untraced median op latency).

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The full report, with the
load sentinel taken before and after the run and, for traced runs, every
span, is written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_refresh", "pipeline_trickle", "query_mix")
# Input size per workload: raw CDC rows for the pipelines, table scale
# for the query mix (1.0 is the sf0.01 size).
SIZES = {
    "full": {"pipeline_refresh": 240_000, "pipeline_trickle": 10_000, "query_mix": 0.25},
    "tiny": {"pipeline_refresh": 2_000, "pipeline_trickle": 2_000, "query_mix": 0.02},
}
MIN_WARMUP, MAX_WARMUP, STEADY = 3, 4, 0.1


def load_sentinel() -> dict:
    """Machine load beside the run: load average and a fixed CPU spin.
    Recorded only; never used to select, retry or drop runs."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc ^= i
    return {"loadavg": list(os.getloadavg()),
            "spin_ms": (time.perf_counter() - t0) * 1000.0}


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least 10 samples beyond it (nearest
    rank), never below the median. Returns (value, percentile)."""
    n = len(values)
    p = math.floor(100 * (1 - 10 / n))
    if p <= 50:
        return statistics.median(values), 50
    return sorted(values)[math.ceil(p / 100 * n) - 1], p


def start_session(run_dir: str):
    from datapipeline_template_spark.session import get_spark

    cpus = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # A fixed, pre-touched 1 GB driver heap: without it the peak RSS
        # follows when G1 happens to grow the heap, not what the run does.
        "spark.driver.memory": "1g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "10000",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: kill and reap
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> dict:
    """Peak RSS of the driver JVM and of this Python process, in MB."""
    jvm_kb = 0
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": jvm_kb / 1024.0, "python": py_kb / 1024.0}


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- setup -------------------------------------------------------------------
    def setup(self) -> None:
        from spans import Recorder

        args = self.args
        size = SIZES[args.size][args.workload]
        t0 = time.perf_counter()
        self.spark = start_session(self.run_dir)
        self.spark.range(1).count()  # first job: executor and codegen start
        self.session_start_s = time.perf_counter() - t0
        self.recorder = Recorder(self.spark)
        if args.workload == "query_mix":
            from querymix_bench import QueryMixWorkload

            self.wl = QueryMixWorkload(self.spark, self.run_dir, args.seed, size)
        else:
            from pipeline_bench import PipelineWorkload

            mode = "refresh" if args.workload == "pipeline_refresh" else "trickle"
            self.wl = PipelineWorkload(self.spark, self.run_dir, args.seed, size, mode)
        self.wl.setup()
        self.warmup = []
        if args.workload == "query_mix":
            # One warm-up pass runs every query of the mix once.
            self.warmup.append(self.wl.warmup_op())
        while args.workload != "query_mix" and len(self.warmup) < MAX_WARMUP:
            self.warmup.append(self.wl.op()["latency_s"])
            if len(self.warmup) >= MIN_WARMUP:
                a, b = self.warmup[-2:]
                if abs(a - b) <= STEADY * min(a, b):
                    break
        self.setup_s = time.perf_counter() - t0

    # -- measurement ---------------------------------------------------------------
    def _record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def measure(self, traced: bool) -> dict:
        """Closed loop for ``--seconds`` of op time. Returns the op samples
        and, when traced, the per-layer values."""
        from spans import Tracer

        wl, rec = self.wl, self.recorder
        tracer = Tracer(rec) if traced else None
        if traced:
            wl.install_tracing(tracer)
        samples: list[dict] = []
        layers: list[dict] = []
        try:
            if self.args.workload == "query_mix":
                self._measure_mix(samples, layers, traced)
            else:
                self._measure_pipeline(samples, layers, traced)
        finally:
            if traced:
                wl.uninstall_tracing(tracer)
        return {"samples": samples, "layers": layers}

    def _op_id(self) -> int:
        rec = self.recorder
        rec.op = 0 if rec.op is None else rec.op + 1
        return rec.op

    def _measure_pipeline(self, samples, layers, traced) -> None:
        wl, rec = self.wl, self.recorder
        spent, first = 0.0, True
        while first or spent < self.args.seconds:
            first = False
            op_id = self._op_id()
            try:
                res = wl.op(rec if traced else None)
                ok, acct = wl.check()
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                self._record(False, traceback.format_exc(limit=3))
                spent += 1.0
                continue
            self._record(ok, f"op {op_id}: silver or accounting check failed")
            spent += res["latency_s"]
            samples.append({"latency_s": res["latency_s"], "rows": res["rows"]})
            if traced:
                layers.append(wl.layer_metrics(rec, op_id, res, acct))

    def _measure_mix(self, samples, layers, traced) -> None:
        wl, rec = self.wl, self.recorder
        spent, first = 0.0, True
        while first or spent < self.args.seconds:
            first = False
            op_ids = []
            for short in wl.order:
                op_id = self._op_id()
                op_ids.append(op_id)
                try:
                    res = wl.op(short, rec if traced else None)
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    self._record(False, f"{short}: " + traceback.format_exc(limit=3))
                    continue
                self._record(wl.check(short, res), f"{short}: result differs from its oracle")
                spent += res["latency_s"]
                samples.append({"latency_s": res["latency_s"], "rows": len(res["rows"]),
                                "query": short, "build_s": res["build_s"],
                                "exec_s": res["exec_s"]})
            if traced:
                layers.append(wl.layer_metrics(rec, op_ids))

    # -- report --------------------------------------------------------------------
    def end_to_end(self, samples: list[dict]) -> dict:
        lat = [s["latency_s"] for s in samples]
        busy = sum(lat)
        tail_v, tail_p = tail(lat)
        self.tail_note = f"p{tail_p} of n={len(lat)}"
        self.rss = peak_rss_mb(self.spark)
        return {
            "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "latency_tail_s": {"value": tail_v, "unit": "s"},
            "rows_per_s": {"value": sum(s["rows"] for s in samples) / busy, "unit": "rows/s"},
            "queries_per_min": {"value": 60.0 * len(lat) / busy, "unit": "1/min"},
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "peak_rss_mb": {"value": sum(self.rss.values()), "unit": "MB"},
        }


def per_layer_units() -> dict:
    from pipeline_bench import PIPELINE_LAYER_METRICS
    from querymix_bench import querymix_layer_metrics

    units = {"session.start_s": "s", "trace.latency_p50_s": "s", "trace.overhead_s": "s"}
    units.update(PIPELINE_LAYER_METRICS)
    units.update(querymix_layer_metrics())
    return units


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    args = ap.parse_args(argv)
    # A terminated run still stops Spark: SystemExit unwinds through the
    # finally below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "datapipeline_template_spark")):
        print(f"engine package not found next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    out_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_root, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.makedirs(os.path.join(out_root, "results"), exist_ok=True)
    # Everything the run and its Spark processes write stays in run_dir;
    # Python workers import the engine through PYTHONPATH.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Also for the short-lived JVM spark-submit starts first.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]

    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "size": args.size, "sentinel_before": load_sentinel()}
    bench = Bench(args, run_dir)
    try:
        bench.setup()
        untraced = bench.measure(traced=False)
        metrics = bench.end_to_end(untraced["samples"])
        report["samples"] = untraced["samples"]
        report["warmup_s"] = bench.warmup
        report["peak_rss_mb"] = bench.rss
        if args.trace:
            traced = bench.measure(traced=True)
            report["traced_samples"] = traced["samples"]
            layer_ops = traced["layers"]
            units = per_layer_units()
            values = {k: statistics.median(op[k] for op in layer_ops)
                      for k in layer_ops[0]} if layer_ops else {}
            p50 = metrics["latency_p50_s"]["value"]
            traced_p50 = statistics.median(s["latency_s"] for s in traced["samples"])
            values["session.start_s"] = bench.session_start_s
            values["trace.latency_p50_s"] = traced_p50
            values["trace.overhead_s"] = traced_p50 - p50
            from spans import self_times

            report["self_times_s"] = self_times(bench.recorder.spans)
            report["spans"] = [s.to_json() for s in bench.recorder.spans]
            report["end_to_end"] = metrics
            metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}
        report["metrics"] = metrics
    except Exception:  # noqa: BLE001 - report the failure as the result line
        traceback.print_exc()
        bench.errors.append(traceback.format_exc(limit=5))
        metrics = None
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_session(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    report["sentinel_after"] = load_sentinel()
    report["errors"] = bench.errors
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_root, "results", name), "w") as f:
        json.dump(report, f, indent=1, default=str)

    if metrics is None:
        print("benchmark did not complete", file=sys.stderr)
        return 1
    for err in bench.errors:
        print(f"FAILED: {err}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed}: {bench.attempted} ops, "
          f"{bench.failed} failed, failed_frac "
          f"{bench.failed / max(1, bench.attempted):.4f}")
    print(f"latency_tail_s is {bench.tail_note}")
    print(f"load before {report['sentinel_before']}, after {report['sentinel_after']}")
    if args.trace:
        print(f"tracing overhead {metrics['trace.overhead_s']['value']:.4f} s on the "
              f"median op")
        for name_, v in sorted(report["self_times_s"].items()):
            print(f"self {name_} {v:.4f} s")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    correct = bench.failed == 0
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
