"""Compute the query-mix oracle results the benchmark checks against.

Generates the fixed query-mix tables at every size ``run.py`` uses, runs
every mix query's DuckDB oracle over them and writes, per table scale,
the row count and the row-set digest of each oracle result to
``expected_mix.json``, together with a digest of the generated tables.
Run it from the repository root after changing the table generator, the
mix or an oracle:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import duckdb  # noqa: E402

from gen_tables import TABLE_NAMES, generate_tables  # noqa: E402
from querymix_bench import (  # noqa: E402
    EXPECTED, MIX, TABLE_SEED, rowset_digest, tables_digest,
)
from run import SIZES  # noqa: E402

from datapipeline_template_spark.queries import load_all  # noqa: E402


def expected_for(scale: float) -> dict:
    oracles = {name.split("_")[0]: q.oracle for name, q in load_all().items()}
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        generate_tables(tmp, TABLE_SEED, scale)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tmp, t + '.parquet')}'")
        out = {"tables": tables_digest(tmp), "queries": {}}
        for short in MIX:
            res = con.sql(oracles[short])
            rows = res.fetchall()
            out["queries"][short] = {
                "rows": len(rows),
                "digest": rowset_digest([c.lower() for c in res.columns], rows),
            }
        con.close()
    return out


def main() -> int:
    expected = {}
    for scale in sorted({size["query_mix"] for size in SIZES.values()}):
        expected[str(scale)] = expected_for(scale)
        print(f"scale {scale}: {len(MIX)} oracle results")
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
