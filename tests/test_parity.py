"""Oracle-parity harness: mimics the driver's correctness gate locally.

For every registered query with an oracle, run the Spark DataFrame and
the DuckDB SQL on the same parquet (sf0.001 for speed; the driver uses
sf0.01) and require identical row count, column names, and
order-insensitive values. Values must match EXACTLY — the engine's
determinism contract (integer-scaled aggregates, total orders on
top-k) is what makes this possible across engines.
"""

from __future__ import annotations

import datetime as dt
import math
import re

import duckdb
import pytest

from datapipeline_template_spark.catalog import TABLES
from datapipeline_template_spark.queries import load_all

REGISTRY = load_all()
WITH_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY = sorted(name for name, q in REGISTRY.items() if q.oracle is None)


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return value
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


# The vector-search family (ss20–ss35) replays in the default suite
# (about 2 min at sf0.001); every other row stays `slow`.
_DEFAULT_PARITY = re.compile(r"^ss(2[0-9]|3[0-5])_")


@pytest.mark.parametrize(
    "name",
    [
        n if _DEFAULT_PARITY.match(n) else pytest.param(n, marks=pytest.mark.slow)
        for n in WITH_ORACLE
    ],
)
def test_oracle_parity(spark, sf_dir, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    # The driver's pandas-based hasher cannot hash array/map/struct
    # cells (q22 was driver-RED in round 2 on exactly this): every
    # oracle-backed query must emit scalar columns only.
    complex_cols = [
        f.name for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not complex_cols, f"{name}: non-hashable columns {complex_cols}"
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    res = con.sql(q.oracle)
    duck_cols = [c.lower() for c in res.columns]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sset = _rowset(spark_cols, spark_rows)
    dset = _rowset(duck_cols, duck_rows)
    if sset != dset:
        diff_s = [r for r in sset if r not in dset][:5]
        diff_d = [r for r in dset if r not in sset][:5]
        raise AssertionError(f"{name}: value mismatch\n spark-only: {diff_s}\n duck-only: {diff_d}")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


@pytest.mark.slow
def test_contract_runs_in_vanilla_driver_session(tmp_path):
    """The round driver builds its OWN SparkSession (none of our
    DEFAULT_CONFS). catalog.table defensively pins UTC and branches on
    the ACTUAL dtype of events.ts (Spark 3 legacy-conf long nanos vs
    Spark 4 native TIMESTAMP_NTZ) — prove the contract holds in a bare
    session, in a session with the legacy conf pre-set (a no-op on
    Spark 4), including the TIMESTAMP_NANOS events path and an Arrow
    mapInPandas kernel."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    script = (
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[4]')"
        ".config('spark.sql.shuffle.partitions','8')"
        # Pre-set the Spark-3 legacy conf: on Spark 4 it is ignored and
        # must not change the dtype branch catalog.table picks.
        ".config('spark.sql.legacy.parquet.nanosAsLong','true')"
        ".getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "import __spark_entry__ as m\n"
        "from datapipeline_template_spark.catalog import table\n"
        "ts_type = table(spark, '/root/testdata/sf0.001', 'events')"
        ".schema['ts'].dataType.typeName()\n"
        "assert ts_type == 'timestamp', ts_type\n"
        "assert len(m.entry(spark).collect()) > 0\n"
        "qs = m.queries()\n"
        "for n in ('st01_tumbling_counts','dd05_minhash_lsh_kernel'):\n"
        "    assert qs[n](spark, '/root/testdata/sf0.001').count() > 0\n"
        "print('VANILLA-OK')\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=repo,
        env={**os.environ, "PYTHONPATH": repo},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0 and "VANILLA-OK" in proc.stdout, proc.stderr[-1500:]


def test_pinned_recall_constants_match_measurement(spark):
    """The chooser demos (ss10, ss12) pin MEASURED single-table recalls
    as constants; a plane-schedule or eval-slice change must fail HERE,
    not silently invalidate the hash-pinned chooser queries. Measured
    at the sf0.01 gate (the complete eval corpus)."""
    from datapipeline_template_spark.queries.similarity import (
        _SS10_P,
        _SS12_P3,
    )

    sf = "/root/testdata/sf0.01"
    ss08 = {
        r["n_planes"]: r["recall"]
        for r in REGISTRY["ss08_ann_recall"].fn(spark, sf).collect()
    }
    assert abs(ss08[8] - _SS10_P) < 5e-4, (
        f"ss08 8-plane recall {ss08[8]:.4f} drifted from pinned "
        f"_SS10_P={_SS10_P} — re-measure and update ss10's constant+oracle"
    )
    ss11 = {
        r["probe_bits"]: r["recall"]
        for r in REGISTRY["ss11_ann_recall_multiprobe"].fn(spark, sf).collect()
    }
    assert abs(ss11[3] - _SS12_P3) < 5e-4, (
        f"ss11 3-bit recall {ss11[3]:.4f} drifted from pinned "
        f"_SS12_P3={_SS12_P3} — re-measure and update ss12's constant+oracle"
    )


def test_k_for_corpus_policy_pinned(spark):
    """The SemDeDup/D4 k∝N policy (Abbas et al. §3): pinned values,
    monotonicity, the linear-pair-work shape, and — critically — that
    the sf0.01 oracle-gate corpus size maps to the SAME k the static
    DuckDB oracles were generated with (so Spark query and oracle can
    never disagree on k at the correctness gate)."""
    from datapipeline_template_spark.operators.clustering import k_for_corpus
    from datapipeline_template_spark.queries.dedup import (
        SF001_EMBEDDINGS_ROWS,
        _semdedup_k,
    )

    # Pinned policy values.
    assert k_for_corpus(0) == 8
    assert k_for_corpus(500) == 8          # sf0.01 gate -> k_min
    assert k_for_corpus(512) == 8
    assert k_for_corpus(5000) == 78        # sf0.1 bench corpus
    assert k_for_corpus(64_000_000) == 1_000_000
    with pytest.raises(ValueError):
        k_for_corpus(-1)
    # Monotone non-decreasing in n.
    ks = [k_for_corpus(n) for n in range(0, 4096, 37)]
    assert ks == sorted(ks)
    # The oracle-generation constant matches the LIVE testdata corpus
    # (drift in the driver-generated parquet must fail loudly, not
    # silently desync the oracle's k from the Spark query's).
    live = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").count()
    assert live == SF001_EMBEDDINGS_ROWS
    assert _semdedup_k() == k_for_corpus(live) == 8


def test_ss19_chooser_constant_matches_ss18_measurement(spark):
    """_SS19_P1 (the chooser's single-clustering recall input) must
    equal ss18's LIVE L=1 measurement at the sf0.01 gate — the ss12
    pattern: a clustering/k/eval-slice change can't silently stale the
    pinned constant."""
    from datapipeline_template_spark.queries.similarity import _SS19_P1

    sf = "/root/testdata/sf0.01"
    ss18 = {
        r["n_clusterings"]: r["recall"]
        for r in REGISTRY["ss18_mutual_knn_or_union"].fn(spark, sf).collect()
    }
    assert abs(ss18[1] - _SS19_P1) < 5e-4, (
        f"ss18 L=1 recall {ss18[1]:.4f} drifted from pinned "
        f"_SS19_P1={_SS19_P1} — re-measure and update ss19's constant+oracle"
    )


def test_tx23_pinned_terciles_match_measurement():
    """tx23 bands on ABSOLUTE pinned thresholds (so the query plan has
    no global ntile sort); the pins are the live sf0.01 tercile
    boundaries. A corpus or tokenizer change must fail HERE, not
    silently skew the bands. Pure-DuckDB re-measurement (the oracle's
    own spec), no Spark needed."""
    import duckdb

    from datapipeline_template_spark.queries.text import (
        TX23_HEAD_MB,
        TX23_TAIL_MB,
        _milli_log2_sql,
    )

    surp = f"({_milli_log2_sql('t.t')} - {_milli_log2_sql('c.c')})"
    q = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM read_parquet('/root/testdata/sf0.01/documents.parquet')
), cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tok),
surp AS (SELECT w, {surp} AS surp FROM cnt c CROSS JOIN tot t),
d AS (SELECT doc_id, CAST(SUM(surp) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_mb
      FROM tok JOIN surp USING (w) GROUP BY doc_id),
n AS (SELECT mean_mb, ntile(3) OVER (ORDER BY mean_mb, doc_id) AS trc FROM d)
SELECT MIN(CASE WHEN trc = 2 THEN mean_mb END) AS t1,
       MIN(CASE WHEN trc = 3 THEN mean_mb END) AS t2
FROM n
"""
    t1, t2 = duckdb.sql(q).fetchone()
    assert (t1, t2) == (TX23_HEAD_MB, TX23_TAIL_MB), (
        f"live tercile boundaries ({t1},{t2}) drifted from pinned "
        f"({TX23_HEAD_MB},{TX23_TAIL_MB}) — re-measure and update tx23"
    )


def test_rerank_depth_k_rows_equal_base_harness_rows(spark, sf_dir):
    """Cross-harness consistency invariants built into the re-rank
    designs: at shortlist depth == k the re-rank cannot change the
    answer set, so ss26's depth-5 row must equal ss24's SQ8 full-scan
    row and ss28's depth-5 row must equal ss25's n_probe=2 row —
    structurally, at ANY scale factor (asserted here at the test SF,
    pinned at sf0.01 in the docstrings)."""
    from datapipeline_template_spark.queries import load_all

    reg = load_all()
    ss24 = {
        r["bits"]: (r["n_truth"], r["n_hit"])
        for r in reg["ss24_sq_recall"].fn(spark, sf_dir).collect()
    }
    ss26 = {
        r["rerank_depth"]: (r["n_truth"], r["n_hit"])
        for r in reg["ss26_sq_rerank_recall"].fn(spark, sf_dir).collect()
    }
    assert ss26[5] == ss24[8]  # depth k ≡ SQ8 base ranking top-k

    ss25 = {
        r["n_probe"]: (r["n_truth"], r["n_hit"])
        for r in reg["ss25_ivfsq_recall"].fn(spark, sf_dir).collect()
    }
    ss28 = {
        r["rerank_depth"]: (r["n_truth"], r["n_hit"])
        for r in reg["ss28_ivfsq_rerank_recall"].fn(spark, sf_dir).collect()
    }
    assert ss28[5] == ss25[2]  # depth k ≡ routed SQ base ranking top-k
    # Re-ranking deeper never loses recall (supersets re-scored exactly).
    assert ss26[10][1] >= ss26[5][1] and ss26[25][1] >= ss26[10][1]
    assert ss28[25][1] >= ss28[5][1]


@pytest.mark.slow
def test_ss30_alone_rows_equal_source_harnesses(spark, sf_dir):
    """ss30's per-view alone hit counts (rank ≤ k of its depth-25
    shortlists) must equal the rows of the harnesses that own each
    view — ss24's SQ8, ss27's dim-32 truncation, ss29's dim-32
    projection — structurally at ANY scale factor: one view spec,
    one truth, three consumers. Also the fusion sanity invariant:
    a fused top-k can never out-hit the union of its two views'
    full shortlists."""
    from datapipeline_template_spark.queries import load_all

    reg = load_all()
    ss30 = {
        r["pair"]: r for r in reg["ss30_rrf_fusion"].fn(spark, sf_dir).collect()
    }
    ss24 = {
        r["bits"]: r["n_hit"]
        for r in reg["ss24_sq_recall"].fn(spark, sf_dir).collect()
    }
    ss27 = {
        r["dim"]: r["n_hit"]
        for r in reg["ss27_dim_truncation_recall"].fn(spark, sf_dir).collect()
    }
    ss29 = {
        r["dim"]: r["n_hit"]
        for r in reg["ss29_random_projection_recall"].fn(spark, sf_dir).collect()
    }
    weak = ss30["trunc32+rp32"]
    strong = ss30["sq8+trunc32"]
    assert weak["n_hit_a"] == ss27[32]
    assert weak["n_hit_b"] == ss29[32]
    assert strong["n_hit_a"] == ss24[8]
    assert strong["n_hit_b"] == ss27[32]
    for r in ss30.values():
        assert r["n_hit_fused"] <= r["n_truth"]


def test_ss31_unit_weight_row_equals_ss30_strong_pair(spark, sf_dir):
    """ss31 at w_strong=1 IS ss30's sq8+trunc32 composition (identical
    shortlists, contributions and top-k) — structural at any scale
    factor; one fusion spec, two consumers."""
    from datapipeline_template_spark.queries import load_all

    reg = load_all()
    ss30 = {
        r["pair"]: r for r in reg["ss30_rrf_fusion"].fn(spark, sf_dir).collect()
    }
    ss31 = {
        r["w_strong"]: r
        for r in reg["ss31_weighted_rrf"].fn(spark, sf_dir).collect()
    }
    assert (
        ss31[1]["n_hit_fused"] == ss30["sq8+trunc32"]["n_hit_fused"]
        and ss31[1]["n_truth"] == ss30["sq8+trunc32"]["n_truth"]
    )


def test_ss32_histograms_match_pinned_docstring_rows(spark):
    """ss32's docstring pins the measured sf0.01 hit histograms
    ((0,0,2,7,21,20) full-scan SQ8, (1,5,16,14,11,3) routed np=2) and
    the derived claims (floor 2 vs 0, 41 vs 14 queries at 4-5). A
    quantizer/routing/truth change must fail HERE, not silently
    invalidate the prose. Also the structural tie to the mean rows:
    the histograms' weighted sums must equal ss24/ss25's n_hit."""
    sf = "/root/testdata/sf0.01"
    rows = REGISTRY["ss32_tail_recall_histogram"].fn(spark, sf).collect()
    h = {}
    for r in rows:
        h.setdefault(r["variant"], {})[r["n_hit"]] = r["n_queries"]
    assert [h["sq8_full"][i] for i in range(6)] == [0, 0, 2, 7, 21, 20]
    assert [h["ivfsq_np2"][i] for i in range(6)] == [1, 5, 16, 14, 11, 3]
    ss24 = {
        r["bits"]: r["n_hit"]
        for r in REGISTRY["ss24_sq_recall"].fn(spark, sf).collect()
    }
    ss25 = {
        r["n_probe"]: r["n_hit"]
        for r in REGISTRY["ss25_ivfsq_recall"].fn(spark, sf).collect()
    }
    assert sum(i * h["sq8_full"][i] for i in range(6)) == ss24[8]
    assert sum(i * h["ivfsq_np2"][i] for i in range(6)) == ss25[2]


@pytest.mark.slow
def test_ss33_rotation_null_result_pinned(spark):
    """ss33's docstring pins the measured RR-PQ rows (39/62 at m=4/8)
    against ss20's unrotated 38/63 at sf0.01 — a codebook-spec or
    rotation-literal change must fail HERE, not silently invalidate
    the null-result prose. The shared-truth tie is structural: both
    harnesses report the same n_truth."""
    sf = "/root/testdata/sf0.01"
    ss20 = {
        r["m"]: r for r in REGISTRY["ss20_pq_adc_recall"].fn(spark, sf).collect()
    }
    ss33 = {
        r["m"]: r for r in REGISTRY["ss33_rrpq_recall"].fn(spark, sf).collect()
    }
    assert (ss33[4]["n_hit"], ss33[8]["n_hit"]) == (39, 62)
    assert (ss20[4]["n_hit"], ss20[8]["n_hit"]) == (38, 63)
    for m in (4, 8):
        assert ss33[m]["n_truth"] == ss20[m]["n_truth"]


def test_ss34_chooser_constant_matches_live_tail_measurement(spark):
    """SS34_CHOSEN_NPROBE (the tail-SLO chooser's pick, pinned for
    production callers) must equal the LIVE chooser row at the sf0.01
    gate — the ss12/ss19 closed-loop discipline. Structural ties to
    ss32: the np=2 row's n_ok must equal the np=2 histogram's mass at
    n_hit >= 2 (44 = 16+14+11+3), and the full-probe np=8 row must
    equal the full-scan SQ8 histogram's (50) — same truth, same codes,
    different reduction."""
    from datapipeline_template_spark.queries.similarity import (
        _SS34_MIN_HITS,
        _SS34_TARGET_MILLI,
        SS34_CHOSEN_NPROBE,
    )

    sf = "/root/testdata/sf0.01"
    rows = {
        r["n_probe"]: r
        for r in REGISTRY["ss34_tail_slo_nprobe_chooser"].fn(spark, sf).collect()
    }
    chosen = [np for np, r in rows.items() if r["chosen"] == 1]
    assert chosen == [SS34_CHOSEN_NPROBE], (
        f"live chooser picked {chosen}, pinned SS34_CHOSEN_NPROBE="
        f"{SS34_CHOSEN_NPROBE} — re-measure and update the pin+docstring"
    )
    assert [rows[np]["ok_milli"] for np in (1, 2, 4, 8)] == [660, 880, 980, 1000]
    # chosen = smallest n_probe meeting the declared target.
    meeting = sorted(np for np, r in rows.items() if r["meets_target"] == 1)
    assert meeting and meeting[0] == SS34_CHOSEN_NPROBE
    for np, r in rows.items():
        assert r["meets_target"] == int(r["ok_milli"] >= _SS34_TARGET_MILLI)

    h = {}
    for r in REGISTRY["ss32_tail_recall_histogram"].fn(spark, sf).collect():
        h.setdefault(r["variant"], {})[r["n_hit"]] = r["n_queries"]
    assert rows[2]["n_ok"] == sum(
        h["ivfsq_np2"][i] for i in range(_SS34_MIN_HITS, 6)
    )
    assert rows[8]["n_ok"] == sum(
        h["sq8_full"][i] for i in range(_SS34_MIN_HITS, 6)
    )


@pytest.mark.slow
def test_tx28_model_and_tx29_segmentations_pinned(spark):
    """The unigram-LM docstrings pin the measured sf0.01 model facts:
    44 final pieces, whole-word winners ('join' 964, 'hash' 947),
    the stable two-way splits, and the DP-unroll bound (max word
    length 8 at BOTH gate scales — the oracle unrolls positions to
    it, so a longer word must fail HERE first)."""
    import duckdb

    from datapipeline_template_spark.queries.text import _TX28_MAXW

    con = duckdb.connect()
    for sf in ("0.01", "0.1"):
        (mx,) = con.execute(
            "SELECT MAX(length(lower(t))) FROM (SELECT "
            "unnest(regexp_extract_all(text, '[a-zA-Z]+', 0)) AS t FROM "
            f"read_parquet('/root/testdata/sf{sf}/documents.parquet'))"
        ).fetchone()
        assert mx <= _TX28_MAXW, (
            f"max word length {mx} at sf{sf} exceeds the pinned DP "
            f"unroll {_TX28_MAXW} — re-measure and re-pin"
        )

    sf = "/root/testdata/sf0.01"
    model = {
        r["piece"]: r["cnt"]
        for r in REGISTRY["tx28_unigram_train"].fn(spark, sf).collect()
    }
    assert len(model) == 44
    assert model["join"] == 964 and model["hash"] == 947
    enc = {
        r["word"]: (r["n_pieces"], r["seg"])
        for r in REGISTRY["tx29_unigram_encode"].fn(spark, sf).collect()
    }
    assert len(enc) == 31
    assert enc["customer"] == (2, "cust omer")
    assert enc["column"] == (2, "colu mn")
    assert enc["join"] == (1, "join")
    assert sum(1 for n, _ in enc.values() if n == 1) == 8
    # Encode is self-consistent with the model: every emitted piece is
    # a model entry and concatenates back to its word.
    for w, (n, seg) in enc.items():
        parts = seg.split(" ")
        assert "".join(parts) == w and len(parts) == n
        assert all(p in model for p in parts)


@pytest.mark.slow
def test_dd20_overlap_matrix_pinned_and_structural(spark):
    """dd20's docstring pins the measured sf0.01 overlap story (exact
    marks zero; lexical family coheres; semantic family near-disjoint
    and dominant) — a method-spec change must fail HERE, not silently
    invalidate the prose. Structural invariants hold at any corpus:
    semdedup ⊂ d4 (so its unique count is 0 and its d4-overlap is its
    size), n_both ≤ min(n_a, n_b), and Σ unique ≤ |union|."""
    sf = "/root/testdata/sf0.01"
    rows = REGISTRY["dd20_dedup_overlap_matrix"].fn(spark, sf).collect()
    pair = {
        (r["method_a"], r["method_b"]): r for r in rows if r["kind"] == "pair"
    }
    uniq = {r["method_a"]: r for r in rows if r["kind"] == "unique"}
    assert len(pair) == 15 and len(uniq) == 6

    # Pinned sf0.01 measurements.
    assert uniq["exact"]["n_a"] == 0
    assert (uniq["minhash"]["n_a"], uniq["chunk"]["n_a"],
            uniq["substr"]["n_a"]) == (26, 38, 21)
    assert (uniq["semdedup"]["n_a"], uniq["d4"]["n_a"]) == (200, 258)
    assert uniq["d4"]["n_b"] == 283  # |union of all marks|
    assert (uniq["d4"]["n_both"], uniq["chunk"]["n_both"],
            uniq["minhash"]["n_both"], uniq["substr"]["n_both"],
            uniq["semdedup"]["n_both"]) == (51, 10, 3, 4, 0)
    assert pair[("chunk", "minhash")]["n_both"] == 13
    assert pair[("minhash", "substr")]["n_both"] == 11
    assert pair[("minhash", "semdedup")]["n_both"] == 12

    # Structural invariants.
    sem_d4 = pair[("d4", "semdedup")]
    assert sem_d4["n_both"] == sem_d4["n_b"] == uniq["semdedup"]["n_a"]
    for r in pair.values():
        assert r["n_both"] <= min(r["n_a"], r["n_b"])
    union = uniq["d4"]["n_b"]
    assert all(u["n_b"] == union for u in uniq.values())
    assert sum(u["n_both"] for u in uniq.values()) <= union


def test_ss35_rerank_curve_and_ss27_tie_pinned(spark):
    """ss35's docstring pins the measured truncate→re-rank curve
    (10.8/34.8/52.8/68.0% at depth 5/25/50/100). Structural tie: the
    depth-5 row IS ss27's dim-16 row (re-ranking 5 candidates for
    top-5 changes nothing), and recall must be depth-monotone."""
    sf = "/root/testdata/sf0.01"
    ss35 = {
        r["depth"]: r
        for r in REGISTRY["ss35_truncation_rerank_recall"].fn(spark, sf).collect()
    }
    assert [ss35[d]["n_hit"] for d in (5, 25, 50, 100)] == [27, 87, 132, 170]
    ss27 = {
        r["dim"]: r["n_hit"]
        for r in REGISTRY["ss27_dim_truncation_recall"].fn(spark, sf).collect()
    }
    assert ss35[5]["n_hit"] == ss27[16]
    hits = [ss35[d]["n_hit"] for d in sorted(ss35)]
    assert hits == sorted(hits)


@pytest.mark.slow
def test_tx30_comparison_consistent_with_tokenizers(spark):
    """tx30's rows must be DERIVABLE from the tokenizers it compares:
    the unigram fertility ties to tx29's per-word segmentations
    weighted by corpus frequency, the vocab sizes to tx28's model and
    tx20's final symbol set, and the docstring pins the measured
    sf0.01 values (BPE 3.737 pieces/word vs unigram 2.635)."""
    sf = "/root/testdata/sf0.01"
    rows = {
        r["tokenizer"]: r
        for r in REGISTRY["tx30_tokenizer_comparison"].fn(spark, sf).collect()
    }
    assert rows["bpe"]["fertility_milli"] == 3737
    assert rows["unigram"]["fertility_milli"] == 2635
    assert rows["bpe"]["n_words"] == rows["unigram"]["n_words"] == 27165
    assert rows["unigram"]["vocab_size"] == 44
    model = REGISTRY["tx28_unigram_train"].fn(spark, sf).collect()
    assert rows["unigram"]["vocab_size"] == len(model)
    # Unigram n_pieces == Σ freq·n_pieces over tx29's segmentations.
    enc = {
        r["word"]: r
        for r in REGISTRY["tx29_unigram_encode"].fn(spark, sf).collect()
    }
    want = sum(r["freq"] * r["n_pieces"] for r in enc.values())
    assert rows["unigram"]["n_pieces"] == want


def test_q50_sign_split_division_and_signal(spark):
    """q50's two pinned integer conventions: (1) the slope division
    runs on |num| with the sign re-applied — Spark DIV and DuckDB //
    both truncate toward zero (pinned here), but PYTHON's // floors,
    so a signed division would make every pure-Python twin (and any
    floor-division engine) silently diverge on negative numerators;
    the magnitude form is floor/trunc-AGNOSTIC. (2) the 3-step ·1000
    long division equals the exact big-int floor(|num|·1e9/den) — and
    the live result actually carries signal in nano units (both signs
    present; a milli-scale first cut hash-matched while returning all
    zeros)."""
    # Engine semantics pinned: both truncate, Python floors.
    assert duckdb.sql("SELECT (-7) // 2").fetchone()[0] == -3  # trunc
    row = (
        spark.range(1)
        .selectExpr("CAST(-7 AS BIGINT) DIV CAST(2 AS BIGINT) AS d")
        .first()
    )
    assert row["d"] == -3  # trunc
    assert (-7) // 2 == -4  # Python floors — the divergence guarded

    sf = "/root/testdata/sf0.01"
    out = {
        r["user_id"]: r
        for r in REGISTRY["q50_activity_trend"].fn(spark, sf).collect()
    }
    signs = {1 if r["slope_nano"] > 0 else (-1 if r["slope_nano"] < 0 else 0)
             for r in out.values()}
    assert {1, -1} <= signs  # both directions present — not vacuous

    # Long-division identity vs Python big-int floor on the five sums.
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    sums = con.sql("""
        WITH x AS (SELECT user_id, epoch_ns(ts)//3600000000000 AS hb
                   FROM events WHERE user_id IS NOT NULL),
        mn AS (SELECT MIN(hb) AS m FROM x),
        h AS (SELECT user_id, hb-(SELECT m FROM mn) AS xx,
                     CAST(COUNT(*) AS BIGINT) AS y
              FROM x GROUP BY user_id, hb)
        SELECT user_id, COUNT(*) n, SUM(xx) sx, SUM(y) sy,
               SUM(xx*y) sxy, SUM(xx*xx) sxx
        FROM h GROUP BY user_id HAVING COUNT(*) >= 2
    """).fetchall()
    for uid, n, sx, sy, sxy, sxx in sums:
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        want = (1 if num >= 0 else -1) * ((abs(num) * 10**9) // den)
        assert out[uid]["slope_nano"] == want
