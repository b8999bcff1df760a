"""Registry-order contract: the driver's correctness sweep records the
FIRST 50 registry entries (CORRECTNESS_r02.json stopped at exactly
entry 50), so the window must cover every operator family."""

from __future__ import annotations

import pytest
import re

from datapipeline_template_spark.queries import _OVERFLOW, load_all

REGISTRY = load_all()
NAMES = list(REGISTRY)
WINDOW = NAMES[:50]


def _family(name: str) -> str:
    return re.match(r"[a-z]+", name).group()


# The driver's 50-entry window, pinned BY NAME: a new registration must
# land either past the window (relational q-variants) or in _OVERFLOW —
# any diff here is a deliberate, reviewed window change, never a silent
# mid-registry insertion reordering what the driver sweeps.
PINNED_WINDOW = [
    "pipe01_cdc_keep_latest", "pipe02_cdc_soft_delete",
    "pipe03_expectations", "pipe04_upcast_widening",
    "pipe05_renamed_columns", "pipe06b_bronze_audit_deterministic",
    "pipe07_cdc_tie_break",
    "dd01_exact_dedup_documents", "dd02_ngram_jaccard_pairs",
    "dd03_minhash_lsh_candidates", "dd05_minhash_lsh_kernel",
    "dd04_simhash_pairs", "dd06_dedup_components",
    "ss01_cosine_topk",
    "ss02_embedding_near_dup", "ss03_lsh_ann_pairs",
    "ss06_embedding_dedup_clusters", "ss15_ivf_kmeans_ann",
    "ss38_graph_ann_beam",
    "tx07b_token_collision_pandas",
    "tx02_quality_by_source", "tx03_language_id", "tx04_fingerprint",
    "tx06_tfidf", "tx05_top_bigrams",
    "tx10_stopword_punct_shares", "tx28_unigram_train",
    "st01_tumbling_counts", "st02_sliding_counts", "st03_session_windows",
    "st04_compacted_sketch_state",
    "mm01_media_byte_stats", "mm02_media_meta", "mm06_media_phash_pairs",
    "tj01_asof_prev_click", "tj02_cascade_rollup", "tj06_bucketed_asof",
    "w01_top_orders_per_customer",
    "w08_sessionize_events",
    "pipe22_e2e_training_pipeline",
    "q01_pricing_summary", "q02_top_revenue_orders", "q22_array_agg",
    "q37_full_outer_nations", "q40_null_safe_join",
    "q38_intersect_all_priorities",
    "q52_bucketed_join", "q53_join_strategy_chooser",
    "q54_kmv_rollup_cascade", "q55_width_sized_chooser",
]


# Exact registry size, bumped DELIBERATELY with every added query —
# a floor (`>= 82`) let accidental deregistration pass silently.
EXPECTED_REGISTRY_SIZE = 222


def test_registry_size_stable():
    assert len(NAMES) == len(set(NAMES)) == EXPECTED_REGISTRY_SIZE


def test_window_pinned_by_name():
    """The exact 50 names the driver sweeps (round-13 delta, r12
    verdict #2: five more stale near-dup slots — w02/w04/w06/w07
    (plain window-function variants; w01 top-k and w08 sessionize keep
    the family) and tx01 (~ tx02's stats) — rotated out to _OVERFLOW
    liveness rows, each re-verified hash-green immediately before the
    swap, so the hard signal now exercises compaction (st04), the e2e
    config pipeline (pipe22), the width-sized chooser (q55), the
    zero-Exchange bucketed as-of (tj06) and graph-walk ANN (ss38).
    Round-8 discipline unchanged: 50/50 hash-eligible)."""
    assert WINDOW == PINNED_WINDOW


def test_every_query_classified():
    """Every registered name is (a) in the pinned window, (b) a
    relational q-variant registered past it, or (c) explicitly listed
    in _OVERFLOW — no unclassified registrations that would silently
    reorder the window."""
    for n in NAMES[50:]:
        assert _family(n) == "q" or n in _OVERFLOW, (
            f"{n} is outside the window but not classified in _OVERFLOW"
        )


def test_sweep_window_covers_every_family():
    """All extension-family and window queries land inside the first 50
    (explicitly-overflowed names excepted — the window is full)."""
    outside = [n for n in NAMES[50:] if _family(n) != "q" and n not in _OVERFLOW]
    assert outside == [], f"extension queries outside sweep window: {outside}"
    assert {_family(n) for n in WINDOW} == {
        "pipe", "dd", "ss", "tx", "st", "mm", "tj", "w", "q",
    }


def test_overflow_names_registered_last():
    for n in _OVERFLOW:
        assert n in REGISTRY
    assert NAMES[-len(_OVERFLOW):] == list(_OVERFLOW)


def test_sweep_window_diversity_picks_present():
    # q24/q35/q31 were the trailing picks; pipe07 (CDC tie-break),
    # tj01 (as-of join) and tj02 (cascade rollup) displaced them —
    # those relational/subquery rows were already driver-green in
    # round 2, while the new operator rows need their first green row.
    picks = {
        "q01_pricing_summary",
        "q02_top_revenue_orders",
        "q22_array_agg",
        "q37_full_outer_nations",
        "q40_null_safe_join",
        "q38_intersect_all_priorities",
    }
    assert picks <= set(WINDOW)


def test_every_oracle_has_query():
    for name, q in REGISTRY.items():
        assert callable(q.fn), name


@pytest.mark.slow
def test_sweep_tool_runs_and_reports(tmp_path):
    """tools/sweep_all.py (the full-registry evidence artifact the
    driver's 50-entry window can't produce) must run, hash-compare
    against DuckDB, and write the same-shaped JSON record."""
    import json
    import subprocess
    import sys

    out = tmp_path / "sweep.json"
    proc = subprocess.run(
        [
            sys.executable,
            "tools/sweep_all.py",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--only",
            "^q01|^pipe01",
            "--out",
            str(out),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    rec = json.loads(out.read_text())
    assert set(rec) == {"q01_pricing_summary", "pipe01_cdc_keep_latest"}
    assert all(r["hash_match"] for r in rec.values())


def test_sweep_tool_runs_udf_queries_outside_the_repo(tmp_path, sf_dir):
    """Python workers import the package from PYTHONPATH, not from the
    driver's sys.path: run from another directory, a UDF-backed query
    (ss20's k-means assignment kernels) must still hash-match, and the
    record carries both row-set digests."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "sweep.json"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(root, "tools", "sweep_all.py"),
            "--sf-dir",
            sf_dir,
            "--only",
            "^ss20_pq_adc_recall$",
            "--out",
            str(out),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    rec = json.loads(out.read_text())["ss20_pq_adc_recall"]
    assert rec["err"] is None and rec["hash_match"], rec
    assert rec["spark_digest"] == rec["oracle_digest"]
    assert len(rec["spark_digest"]) == 64


def test_committed_full_sweep_artifact_is_current():
    """Round-6 process lapse, made structural: every round must carry
    a committed `SWEEP_FULL_r{N}.json` whose name set EQUALS the
    registry — a query can never again land without committed oracle
    evidence (dd14/tx17 did exactly that in round 6). The newest
    committed artifact is the binding one; regenerate with
    `python tools/sweep_all.py --round <N>` after any registry
    change."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    artifacts = sorted(glob.glob(os.path.join(root, "SWEEP_FULL_r*.json")))
    assert artifacts, "no committed SWEEP_FULL_r*.json artifact"
    newest = artifacts[-1]
    with open(newest) as f:
        rec = json.load(f)
    missing = sorted(set(NAMES) - set(rec))
    extra = sorted(set(rec) - set(NAMES))
    assert not missing and not extra, (
        f"{os.path.basename(newest)} is stale vs the registry "
        f"(missing={missing}, extra={extra}) — rerun tools/sweep_all.py"
    )
    bad = {
        k: r
        for k, r in rec.items()
        if (r["err"] not in (None, "no_oracle"))
        or (r["err"] is None and not r["hash_match"])
        or r["spark_rows"] == 0
    }
    assert not bad, f"sweep artifact records failures: {sorted(bad)}"
