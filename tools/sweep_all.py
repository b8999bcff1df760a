"""Full-registry oracle sweep — the driver's correctness gate without
the 50-entry window.

The round driver records only the FIRST 50 registry entries in
`CORRECTNESS_r{N}.json`; everything past the window (the _OVERFLOW
families) otherwise relies on pytest + the judge's own sweep. This
tool runs EVERY registered query against its DuckDB oracle at the
driver's correctness scale and writes a same-shaped JSON artifact
(`SWEEP_FULL_r{N}.json`) so each round carries committed evidence for
all 100% of the registry.

Usage:
    python tools/sweep_all.py                # sf0.01, auto-named artifact
    python tools/sweep_all.py --round 5      # writes SWEEP_FULL_r05.json
    python tools/sweep_all.py --sf-dir /root/testdata/sf0.001 \
        --only dd10 --out /tmp/sweep.json    # quick targeted check

Each record carries `spark_digest` and `oracle_digest` (sha256 of the
canonical row set), so two sweeps of different code can be diffed for
byte-identical outputs; the printed summary is stamped with the UTC
time and the checkout's `git rev-parse HEAD`.

Exit status is non-zero if any query errors, mismatches, or returns an
empty result (an oracle-matched EMPTY result is a trivially-green
trap — see tools/audit_rowcounts.py).
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import math
import os
import re
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def _canon(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else value
    if isinstance(value, dt.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, dt.date):
        return value.isoformat()
    if isinstance(value, list):
        return tuple(_canon(v) for v in value)
    return value


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)


def _digest(rowset) -> str:
    return hashlib.sha256("\n".join(rowset).encode()).hexdigest()


def sweep(sf_dir: str, only: str | None = None) -> dict:
    import duckdb

    from datapipeline_template_spark.catalog import TABLES
    from datapipeline_template_spark.queries import load_all
    from datapipeline_template_spark.session import get_spark

    # Python workers inherit the environment, not the driver's sys.path:
    # without this, UDF-backed queries cannot import the package when
    # the tool runs from outside the repo.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(app_name="sweep_all", shuffle_partitions=8)
    registry = load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    results: dict[str, dict] = {}
    for name, q in registry.items():
        if only and not re.search(only, name):
            continue
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "spark_digest": None,
            "oracle_digest": None,
            "err": None,
        }
        try:
            sdf = q.fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(s_rows)
            s_set = _rowset(s_cols, s_rows)
            rec["spark_digest"] = _digest(s_set)
            if q.oracle is None:
                rec["err"] = "no_oracle"
            else:
                res = con.sql(q.oracle)
                o_cols = [c.lower() for c in res.columns]
                o_rows = res.fetchall()
                rec["oracle_rows"] = len(o_rows)
                o_set = _rowset(o_cols, o_rows)
                rec["oracle_digest"] = _digest(o_set)
                rec["rows_match"] = len(s_rows) == len(o_rows)
                rec["schema_match"] = sorted(s_cols) == sorted(o_cols)
                rec["hash_match"] = rec["schema_match"] and s_set == o_set
        except Exception as exc:  # noqa: BLE001 — per-query isolation
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
        results[name] = rec
    return results


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--round", type=int, default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None, help="regex filter on query names")
    args = ap.parse_args()

    results = sweep(args.sf_dir, args.only)
    out = args.out or (
        f"SWEEP_FULL_r{args.round:02d}.json" if args.round else "SWEEP_FULL.json"
    )
    with open(out, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)

    n = len(results)
    green = [k for k, r in results.items() if r["hash_match"]]
    rows_only = [k for k, r in results.items() if r["err"] == "no_oracle"]
    errors = {
        k: r["err"]
        for k, r in results.items()
        if r["err"] not in (None, "no_oracle")
    }
    mismatch = [
        k
        for k, r in results.items()
        if r["err"] is None and not r["hash_match"]
    ]
    empty = [k for k, r in results.items() if r["spark_rows"] == 0]
    head = subprocess.run(
        ["git", "-C", REPO_ROOT, "rev-parse", "HEAD"],
        capture_output=True,
        text=True,
    ).stdout.strip() or "unknown"
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    print(f"sweep at {stamp}, code {head}")
    print(
        f"sweep: {n} queries | {len(green)} hash-green | "
        f"{len(rows_only)} rows-only | {len(mismatch)} mismatched | "
        f"{len(errors)} errored | {len(empty)} empty -> {out}"
    )
    for k in mismatch:
        print(f"  MISMATCH {k}")
    for k, e in errors.items():
        print(f"  ERROR    {k}: {e}")
    for k in empty:
        print(f"  EMPTY    {k}")
    return 1 if (errors or mismatch or empty) else 0


if __name__ == "__main__":
    sys.exit(main())
