"""CDC/medallion semantics as driver-checked queries (reference
R12/R15/R17/R18/R19 over the driver's tables).

The `events` table stands in for a CDC feed: key (user_id,
event_type), ordering (ts, event_id), a derived `op` column (including
NULLs, to pin the null-rejecting `op != 'D'` semantics —
`/root/reference/src/sdp_etl/transformations/02_silver_processing.py:134-135`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.dedup import keep_latest
from ..operators.expectations import expect_all_or_drop
from ..operators.projection import apply_renames, upcast_int_to_bigint
from . import register

# ---------------------------------------------------------------------------
# pipe01 — keep-latest CDC dedup (R19) via max_by aggregate
# ---------------------------------------------------------------------------

_PIPE01_ORACLE = """
SELECT user_id, event_type, event_id, ts, value
FROM (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("pipe01_cdc_keep_latest", oracle=_PIPE01_ORACLE)
def pipe01_cdc_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver keep-latest dedup. The engine's max_by aggregate form —
    map-side partial aggregation collapses duplicates before the
    shuffle (vs the reference's full-sort row_number window); the
    oracle states the same semantics as ROW_NUMBER...=1."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    return keep_latest(ev, ["user_id", "event_type"], ["ts", "event_id"])


# ---------------------------------------------------------------------------
# pipe02 — soft-delete filter with null-rejecting op != 'D' (R17)
# ---------------------------------------------------------------------------

_PIPE02_ORACLE = """
WITH latest AS (
  SELECT user_id, event_type, event_id,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN value < 1.0 THEN NULL
              ELSE 'U' END AS op
  FROM (
    SELECT user_id, event_type, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  )
  WHERE rn = 1
)
SELECT user_id, event_type, event_id, op
FROM latest
WHERE op != 'D'
"""


@register("pipe02_cdc_soft_delete", oracle=_PIPE02_ORACLE)
def pipe02_cdc_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC delete semantics: latest row per key, then `op != 'D'` —
    which also drops op-IS-NULL rows (three-valued logic; the NULL op
    branch here exists precisely to pin that behavior)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    latest = keep_latest(ev, ["user_id", "event_type"], ["ts", "event_id"])
    with_op = latest.select(
        "user_id",
        "event_type",
        "event_id",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("value") < 1.0, F.lit(None).cast("string"))
        .otherwise("U")
        .alias("op"),
    )
    return with_op.where(F.col("op") != "D")


# ---------------------------------------------------------------------------
# pipe03 — data-quality expectations (R18)
# ---------------------------------------------------------------------------

_PIPE03_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE n_chars > 0 AND lang IS NOT NULL AND n_chars >= 30
"""


@register("pipe03_expectations", oracle=_PIPE03_ORACLE)
def pipe03_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_all_or_drop: keep rows passing EVERY rule (SQL exprs
    evaluated by Catalyst; NULL counts as failure — DLT semantics)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return expect_all_or_drop(
        docs,
        {
            "nonempty": "n_chars > 0",
            "has_lang": "lang IS NOT NULL",
            "min_len": "n_chars >= 30",
        },
    )


# ---------------------------------------------------------------------------
# pipe04 — int→bigint widening projection (R12)
# ---------------------------------------------------------------------------

_PIPE04_ORACLE = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
"""


@register("pipe04_upcast_widening", oracle=_PIPE04_ORACLE)
def pipe04_upcast_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's overflow-avoidance rewrite: every 32/16-bit int
    column widened to bigint in a single Project
    (`00_config_loader.py:46-55`). The driver's schema comparison is
    the assertion here."""
    return upcast_int_to_bigint(table(spark, sf_dir, "nation"))


# ---------------------------------------------------------------------------
# pipe05 — renamed_columns support (R15 — declared, unimplemented in ref)
# ---------------------------------------------------------------------------

_PIPE05_ORACLE = """
SELECT r_regionkey AS region_key, r_name AS region_name FROM region
"""


@register("pipe05_renamed_columns", oracle=_PIPE05_ORACLE)
def pipe05_renamed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven column renames — the reference reserves the
    `renamed_columns` key but never implements it (README.md:100); we
    do."""
    return apply_renames(
        table(spark, sf_dir, "region"),
        {"r_regionkey": "region_key", "r_name": "region_name"},
    )


# ---------------------------------------------------------------------------
# pipe06 — bronze audit projection (R13) — rows-only (wall-clock col)
# ---------------------------------------------------------------------------


@register("pipe06_bronze_audit", oracle=None)
def pipe06_bronze_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze ingestion projection on a raw file scan: `_ingested_at`
    (current_timestamp), `_source_file` and `_file_modification_time`
    from the `_metadata` struct (`01_bronze_ingestion.py:113-121`).
    Rows-only check: `_ingested_at` is wall-clock."""
    from ..operators.projection import add_audit_columns

    raw = spark.read.parquet(f"{sf_dir}/region.parquet")
    df = add_audit_columns(upcast_int_to_bigint(raw))
    return df.select(
        "r_regionkey",
        "_ingested_at",
        F.substring_index("_source_file", "/", -1).alias("source_file_name"),
        "_file_modification_time",
    )


# ---------------------------------------------------------------------------
# pipe06b — deterministic audit projection (R5/R13, oracle-pinned twin)
# ---------------------------------------------------------------------------

_PIPE06B_ORACLE = """
SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
       r_name,
       'region.parquet' AS source_file_name
FROM region
"""


@register("pipe06b_bronze_audit_deterministic", oracle=_PIPE06B_ORACLE)
def pipe06b_bronze_audit_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipe06's oracle-pinned twin: the same audit-column machinery
    (`_metadata` projection through add_audit_columns) restricted to
    its DETERMINISTIC outputs — the `_source_file` basename must equal
    the physical file read, and the payload must flow through the
    widened projection unchanged. pipe06 stays registered (rows-only)
    as the liveness check for the wall-clock `_ingested_at` /
    `_file_modification_time` columns this twin excludes."""
    from ..operators.projection import add_audit_columns

    raw = spark.read.parquet(f"{sf_dir}/region.parquet")
    df = add_audit_columns(upcast_int_to_bigint(raw))
    return df.select(
        "r_regionkey",
        "r_name",
        F.substring_index("_source_file", "/", -1).alias("source_file_name"),
    )


# ---------------------------------------------------------------------------
# pipe07 — keep-latest under COMMON order-column ties (R19 edge)
# ---------------------------------------------------------------------------

_PIPE07_ORACLE = """
SELECT user_id, event_type, event_id, day, value
FROM (
  SELECT user_id, event_type, event_id,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY CAST(date_trunc('day', ts) AS TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("pipe07_cdc_tie_break", oracle=_PIPE07_ORACLE)
def pipe07_cdc_tie_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest where ties on the order column are COMMON: the
    ingestion timestamp is coarsened to a day, so most (user_id,
    event_type) keys have many rows sharing the max order value. The
    reference's window (`02_silver_processing.py:120-126`) is
    NONDETERMINISTIC on such ties; our documented divergence appends a
    unique tiebreaker (event_id) to the order tuple, and the oracle
    replays exactly that (ORDER BY day DESC, event_id DESC) — so the
    deterministic tie-break is value-pinned, not just documented."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "value",
    )
    return keep_latest(ev, ["user_id", "event_type"], ["day", "event_id"])


# ---------------------------------------------------------------------------
# pipe08 — SCD Type 2 history from the CDC feed. Registered in the
# registry OVERFLOW section.
# ---------------------------------------------------------------------------

_PIPE08_ORACLE = """
WITH feed AS (
  SELECT user_id, event_type, event_id, ts, value,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN value < 1.0 THEN NULL
              ELSE 'U' END AS op
  FROM events
), versions AS (
  SELECT user_id, event_type, event_id, ts, value, op,
         LEAD(ts) OVER (PARTITION BY user_id, event_type
                        ORDER BY ts ASC, event_id ASC) AS ts_end,
         LEAD(event_id) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts ASC, event_id ASC) AS event_id_end
  FROM feed
)
SELECT user_id, event_type, event_id, ts, value, op,
       ts_end, event_id_end,
       ts_end IS NULL AS is_current
FROM versions
WHERE op IS NULL OR op != 'D'
"""


@register("pipe08_scd2_history", oracle=_PIPE08_ORACLE)
def pipe08_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2: the CDC feed's every change becomes a version row
    with a (ts, event_id) validity interval — lead-closed by the next
    change, deletes close intervals without emitting versions, and a
    trailing delete leaves the key with no current row. History is
    what keep-latest (pipe01) throws away; same single key-shuffle
    cost. NULL ops stay in history (unlike the null-rejecting _active
    filter pipe02 pins)."""
    from ..operators.cdc import scd2_history

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    feed = ev.withColumn(
        "op",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("value") < 1.0, F.lit(None).cast("string"))
        .otherwise("U"),
    )
    return scd2_history(
        feed, ["user_id", "event_type"], ["ts", "event_id"], op_col="op"
    )


# ---------------------------------------------------------------------------
# pipe09 — end-to-end corpus-curation funnel (operator composition).
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

def _pipe09_flag_ctes() -> str:
    """Shared pipe09/pipe10 oracle fragment: per-doc stage flags
    (language, Gopher, prefix-dedup rank, classifier score) ending in
    ``flagged``. The classifier stage composes the SAME fragment tx19
    uses (queries/_classifier_sql.py) so the funnel and the standalone
    classifier can never disagree."""
    from ._classifier_sql import classifier_ctes
    from ._curation_sql import gopher_pass_sql, langid_case_sql

    return f"""base AS (
  SELECT doc_id, text, source, string_split(text, ' ') AS w FROM documents
), flags AS (
  SELECT doc_id, text, source,
    (({langid_case_sql('w', presplit=True)}) = 'en') AS f_lang,
    {gopher_pass_sql('w')} AS f_gopher
  FROM base
), ranked AS (
  SELECT doc_id, text, source, f_lang, f_gopher,
         (f_lang AND f_gopher) AS surv2,
         ROW_NUMBER() OVER (
           PARTITION BY list_aggregate(string_split(text, ' ')[1:10],
                                       'string_agg', ' '),
                        (f_lang AND f_gopher)
           ORDER BY doc_id) AS rn
  FROM flags
), {classifier_ctes()}, flagged AS (
  SELECT r.*, s.score, (r.surv2 AND r.rn = 1) AS f_dedup,
         (r.surv2 AND r.rn = 1 AND s.score > 0) AS f_cls
  FROM ranked r JOIN sc s USING (doc_id)
)"""


def _pipe09_oracle() -> str:
    return f"""
WITH {_pipe09_flag_ctes()}, counts AS (
  SELECT COUNT(*) AS n0,
         CAST(SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN surv2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN f_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN f_cls THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM flagged
)
SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_docs FROM counts
UNION ALL SELECT 1, 'language_en', n1 FROM counts
UNION ALL SELECT 2, 'gopher_quality', n2 FROM counts
UNION ALL SELECT 3, 'prefix_dedup', n3 FROM counts
UNION ALL SELECT 4, 'classifier', n4 FROM counts
ORDER BY stage_idx
"""


def _curation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pipe09/pipe10 stage evaluation: per-doc booleans for the
    language gate, Gopher gate, prefix-dedup survivorship, and
    classifier keep — all in one pass over the corpus (one
    prefix-partition window + the tx19 token joins)."""
    from functools import reduce

    from pyspark.sql import Window

    from ..operators.text import (
        CURATION_GOPHER_KEYS,
        gopher_rules,
        language_id,
        logodds_classifier,
    )

    docs = table(spark, sf_dir, "documents")
    rules = gopher_rules("text")
    gopher_ok = reduce(
        lambda a, b: a & b, [rules[k] for k in CURATION_GOPHER_KEYS]
    )
    flags = docs.select(
        "doc_id",
        "text",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        (language_id("text") == "en").alias("f_lang"),
        gopher_ok.alias("f_gopher"),
    ).withColumn("surv2", F.col("f_lang") & F.col("f_gopher"))
    prefix = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")
    w = Window.partitionBy(prefix, "surv2").orderBy("doc_id")
    ranked = flags.withColumn("rn", F.row_number().over(w))

    scores = logodds_classifier(
        docs, "doc_id", "text", F.col("source").isin("src0", "src1")
    )
    return ranked.join(scores.select("doc_id", "score"), on="doc_id").select(
        "doc_id",
        "source",
        "n_tokens",
        "score",
        "f_lang",
        "f_gopher",
        "surv2",
        (F.col("surv2") & (F.col("rn") == 1)).alias("f_dedup"),
        (F.col("surv2") & (F.col("rn") == 1) & (F.col("score") > 0)).alias("f_cls"),
    )


@register("pipe09_curation_funnel", oracle=_pipe09_oracle())
def pipe09_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-curation pipeline as one funnel query —
    language-ID ('en' only) → Gopher quality gate → 10-token-prefix
    dedup (boilerplate-head copies, keep-lowest-id) → log-odds classifier keep — with per-stage
    surviving-document counts, the drop-metrics shape every production
    curation run reports (C4 §2.2, Gopher A1, RefinedWeb fig. 2).

    Every stage reuses the registered operator (language_id,
    gopher_rules, logodds_classifier), so this is the composition
    proof: flags for all stages are computed in ONE pass over the
    corpus (no per-stage rescans), the dedup rank rides a single
    window partitioned by (10-token prefix, stage-2 survivorship), the classifier
    join is the tx19 token equi-join, and the funnel collapses to a
    1-row aggregate unpivoted via stack(). Scale: one text-partition
    window shuffle + the classifier's token shuffle; everything else
    is map-side."""
    full = _curation_flags(spark, sf_dir)
    counts = full.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(F.col("f_lang"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("surv2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("f_dedup"), 1).otherwise(0)).cast("long").alias("n3"),
        F.sum(F.when(F.col("f_cls"), 1).otherwise(0)).cast("long").alias("n4"),
    )
    return counts.select(
        F.expr(
            "stack(5, 0L, 'raw', n0, 1L, 'language_en', n1, "
            "2L, 'gopher_quality', n2, 3L, 'prefix_dedup', n3, "
            "4L, 'classifier', n4) AS (stage_idx, stage, n_docs)"
        )
    ).orderBy("stage_idx")


# ---------------------------------------------------------------------------
# pipe12 — the funnel with the EXPENSIVE dedup stages composed in:
# MinHash near-dup survivor selection (dd08's rule) and SemDeDup
# (dd15's marks), after the cheap gates. Registered in OVERFLOW;
# pipe10/pipe11 ride the same extended pass.
# ---------------------------------------------------------------------------


def _pipe12_flag_ctes() -> str:
    """The pipe09 flag chain extended with the corpus-level dedup mark
    sets, ending in ``flagged2``: MinHash→LSH→CC non-keepers (dd08's
    quality-ranked survivor rule, via the shared ``MINHASH_CC_CTES``
    fragment) and SemDeDup marks (dd15's shared ``sem`` fragment —
    embeddings.vec_id indexes the same documents corpus, the
    driver-generated aligned-id convention). Consumers must open with
    ``WITH RECURSIVE`` (the CC transitive closure)."""
    from .dedup import MINHASH_CC_CTES, _semdedup_ctes

    return f"""{_pipe09_flag_ctes()}, {MINHASH_CC_CTES}, {_semdedup_ctes()}
, mh_lab AS (
  SELECT d.doc_id, c.component, d.n_chars
  FROM documents d JOIN comp c ON d.doc_id = c.node
), mh_drop AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY component
             ORDER BY n_chars DESC, doc_id) AS r
    FROM mh_lab) WHERE r > 1
), flagged2 AS (
  SELECT f.*, (m.doc_id IS NULL) AS mh_keep, (s.vec_id IS NULL) AS sem_keep,
         (f.f_cls AND m.doc_id IS NULL) AS f_mh,
         (f.f_cls AND m.doc_id IS NULL AND s.vec_id IS NULL) AS f_sem
  FROM flagged f
  LEFT JOIN mh_drop m ON f.doc_id = m.doc_id
  LEFT JOIN (SELECT DISTINCT vec_id FROM sem) s ON f.doc_id = s.vec_id
)"""


def _curation_flags_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_curation_flags`` plus the two expensive corpus-level dedup
    mark sets, joined in as keep-booleans and composed into the
    stage-6/7 survivorship flags:

    - ``mh_keep``: the document is not a MinHash-near-dup non-keeper
      (dd08's rule — each LSH/CC cluster keeps its highest-quality
      member, n_chars DESC then doc_id ASC). Computed on the clustered
      subset only: singletons never join the component map, so the
      ranking window shuffles the few-% pair-participating docs, not
      the corpus (the select_survivors scale note).
    - ``sem_keep``: the document's embedding (vec_id == doc_id, the
      driver's aligned-id convention) is not marked by dd15's SemDeDup.

    Funnel-order rationale: the cheap map-only gates (language,
    Gopher, prefix dedup, classifier) run first so the quadratic-ish
    dedup machinery prices on the smallest surviving set in a real
    pipeline — but the MARK SETS here are corpus-level (computed once
    over the whole pool, the Dolma/dd15 artifact shape), so the stage
    flags are pure boolean composition and one shared pass serves
    pipe10/pipe11/pipe12."""
    from pyspark.sql import Window

    from ..operators.clustering import k_for_corpus, kmeans_fit, semdedup
    from ..operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures_kernel,
    )

    # The two corpus-level mark-set builders serialize the driver
    # (label-propagation CC checkpoints per round; the k-means fit
    # collects per iteration) yet share no state — run them on
    # concurrent driver threads (guide §2.6 / the pq_codebooks
    # precedent) so each chain's jobs back-fill the other's executor
    # tail. Both outputs are deterministic mark sets; composition
    # order below is unchanged.
    from ..session import run_concurrently

    flags = _curation_flags(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def _mh_drop() -> DataFrame:
        sigs = minhash_signatures_kernel(
            docs, "doc_id", "text", num_hashes=32
        )
        pairs = lsh_candidate_pairs(
            sigs, "doc_id", "sig", bands=8, rows_per_band=4
        )
        comp = connected_components(pairs, "id_a", "id_b")
        clustered = docs.select("doc_id", "n_chars").join(
            comp.select(F.col("node").alias("doc_id"), "component"),
            on="doc_id",
        )
        w = Window.partitionBy("component").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
        return (
            clustered.select("doc_id", F.row_number().over(w).alias("_r"))
            .where(F.col("_r") > 1)
            .select("doc_id", F.lit(True).alias("_mhd"))
        )

    def _sem() -> DataFrame:
        emb = table(spark, sf_dir, "embeddings")
        cent = kmeans_fit(
            emb, "vec_id", "embedding", k=k_for_corpus(emb.count()), n_iter=4
        )
        return (
            semdedup(emb, "vec_id", "embedding", centroids=cent, threshold=0.3)
            .select(F.col("vec_id").alias("doc_id"))
            .distinct()
            .withColumn("_semd", F.lit(True))
        )

    mh_drop, sem = run_concurrently(_mh_drop, _sem)
    return (
        flags.join(mh_drop, on="doc_id", how="left")
        .join(sem, on="doc_id", how="left")
        .withColumn("mh_keep", F.col("_mhd").isNull())
        .withColumn("sem_keep", F.col("_semd").isNull())
        .withColumn("f_mh", F.col("f_cls") & F.col("mh_keep"))
        .withColumn(
            "f_sem", F.col("f_cls") & F.col("mh_keep") & F.col("sem_keep")
        )
        .drop("_mhd", "_semd")
    )


def _pipe12_oracle() -> str:
    return f"""
WITH RECURSIVE {_pipe12_flag_ctes()}, counts AS (
  SELECT COUNT(*) AS n0,
         CAST(SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN surv2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN f_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN f_cls THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         CAST(SUM(CASE WHEN f_mh THEN 1 ELSE 0 END) AS BIGINT) AS n5,
         CAST(SUM(CASE WHEN f_sem THEN 1 ELSE 0 END) AS BIGINT) AS n6
  FROM flagged2
)
SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_docs FROM counts
UNION ALL SELECT 1, 'language_en', n1 FROM counts
UNION ALL SELECT 2, 'gopher_quality', n2 FROM counts
UNION ALL SELECT 3, 'prefix_dedup', n3 FROM counts
UNION ALL SELECT 4, 'classifier', n4 FROM counts
UNION ALL SELECT 5, 'minhash_neardup', n5 FROM counts
UNION ALL SELECT 6, 'semdedup', n6 FROM counts
ORDER BY stage_idx
"""


@register("pipe12_curation_funnel_full", oracle=_pipe12_oracle())
def pipe12_curation_funnel_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE modern curation funnel (Dolma/FineWeb/RefinedWeb
    shape): pipe09's cheap gates followed by the expensive dedup
    stages — MinHash near-dup survivor selection (dd08's
    quality-ranked rule over the dd03 LSH/CC graph) and SemDeDup
    (dd15's marks) — with per-stage surviving counts, all seven stages
    evaluated in ONE shared pass (``_curation_flags_extended``, also
    consumed by pipe10's attribution and pipe11's data card). Every
    stage reuses its registered operator AND its generated oracle
    fragment (curation/classifier SQL, ``MINHASH_CC_CTES``,
    ``_semdedup_ctes``), so the funnel cannot drift from the
    standalone queries it composes."""
    full = _curation_flags_extended(spark, sf_dir)
    counts = full.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(F.col("f_lang"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("surv2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("f_dedup"), 1).otherwise(0)).cast("long").alias("n3"),
        F.sum(F.when(F.col("f_cls"), 1).otherwise(0)).cast("long").alias("n4"),
        F.sum(F.when(F.col("f_mh"), 1).otherwise(0)).cast("long").alias("n5"),
        F.sum(F.when(F.col("f_sem"), 1).otherwise(0)).cast("long").alias("n6"),
    )
    return counts.select(
        F.expr(
            "stack(7, 0L, 'raw', n0, 1L, 'language_en', n1, "
            "2L, 'gopher_quality', n2, 3L, 'prefix_dedup', n3, "
            "4L, 'classifier', n4, 5L, 'minhash_neardup', n5, "
            "6L, 'semdedup', n6) AS (stage_idx, stage, n_docs)"
        )
    ).orderBy("stage_idx")


# ---------------------------------------------------------------------------
# pipe10 — per-document drop attribution (curation provenance).
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

def _pipe10_oracle() -> str:
    return f"""
WITH RECURSIVE {_pipe12_flag_ctes()}
SELECT doc_id,
       CASE WHEN NOT f_lang THEN 'language_en'
            WHEN NOT surv2 THEN 'gopher_quality'
            WHEN NOT f_dedup THEN 'prefix_dedup'
            WHEN NOT f_cls THEN 'classifier'
            WHEN NOT f_mh THEN 'minhash_neardup'
            WHEN NOT f_sem THEN 'semdedup'
            ELSE 'kept' END AS drop_stage
FROM flagged2
ORDER BY doc_id
"""


@register("pipe10_drop_attribution", oracle=_pipe10_oracle())
def pipe10_drop_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation provenance: the audit record production
    pipelines keep alongside the funnel — each document labeled with
    the FIRST stage that dropped it ('language_en', 'gopher_quality',
    'prefix_dedup', 'classifier', 'minhash_neardup', 'semdedup') or
    'kept'. Shares pipe12's one-pass extended stage evaluation
    (_curation_flags_extended) and its oracle's CTE chain, so funnel
    counts and attribution can never drift apart; the only added work
    over pipe12 is emitting rows instead of the 1-row aggregate.
    Production shape: compute the flag pass ONCE (checkpointed) and
    feed this + pipe11 + pipe13 from it — bench.py's
    ``curation_shared`` scenario times exactly that marginal cost via
    ``attribution_from_flags``."""
    return attribution_from_flags(_curation_flags_extended(spark, sf_dir))


def attribution_from_flags(flags: DataFrame) -> DataFrame:
    """pipe10's consumer stage over a precomputed extended-flags
    DataFrame — a narrow CASE projection, no recomputation."""
    stage = (
        F.when(~F.col("f_lang"), F.lit("language_en"))
        .when(~F.col("surv2"), F.lit("gopher_quality"))
        .when(~F.col("f_dedup"), F.lit("prefix_dedup"))
        .when(~F.col("f_cls"), F.lit("classifier"))
        .when(~F.col("f_mh"), F.lit("minhash_neardup"))
        .when(~F.col("f_sem"), F.lit("semdedup"))
        .otherwise(F.lit("kept"))
    )
    return flags.select("doc_id", stage.alias("drop_stage")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# pipe11 — per-source data card (corpus report rollup).
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------


def _pipe11_oracle() -> str:
    return f"""
WITH RECURSIVE {_pipe12_flag_ctes()}
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(SUM(CASE WHEN f_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
       CAST(SUM(CASE WHEN f_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN f_cls THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN f_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_kept,
       CAST(SUM(CASE WHEN f_sem THEN 1 ELSE 0 END) AS BIGINT) AS n_semdedup_kept,
       CAST(SUM(score) AS BIGINT) AS sum_score
FROM flagged2
GROUP BY source
ORDER BY source
"""


@register("pipe11_data_card", oracle=_pipe11_oracle())
def pipe11_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card — the corpus report every curation run
    publishes (Datasheets-for-Datasets practice): document and token
    counts, language share, quality-gate pass rate, dedup-unique and
    classifier-keep counts, and the summed classifier score, one row
    per source. Rides the same one-pass ``_curation_flags_extended``
    evaluation as pipe10/pipe12 (a third consumer of the shared
    fragment — the three reports cannot drift apart), now including
    the near-dup-survivor and SemDeDup keep counts, and collapses to
    a per-source partial aggregate. All exact integers. Marginal form
    over a shared flag pass: ``data_card_from_flags`` (bench.py
    ``curation_shared``)."""
    return data_card_from_flags(_curation_flags_extended(spark, sf_dir))


def data_card_from_flags(flags: DataFrame) -> DataFrame:
    """pipe11's consumer stage over a precomputed extended-flags
    DataFrame — one per-source partial aggregate."""
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.when(F.col("f_lang"), 1).otherwise(0)).cast("long").alias("n_en"),
            F.sum(F.when(F.col("f_gopher"), 1).otherwise(0)).cast("long")
            .alias("n_pass_quality"),
            F.sum(F.when(F.col("f_dedup"), 1).otherwise(0)).cast("long")
            .alias("n_unique"),
            F.sum(F.when(F.col("f_cls"), 1).otherwise(0)).cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("f_mh"), 1).otherwise(0)).cast("long")
            .alias("n_neardup_kept"),
            F.sum(F.when(F.col("f_sem"), 1).otherwise(0)).cast("long")
            .alias("n_semdedup_kept"),
            F.sum("score").cast("long").alias("sum_score"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pipe13 — quality-aware source mixing: the curation loop closed.
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

_PIPE13_TOTAL = 50


def _pipe13_oracle() -> str:
    return f"""
WITH RECURSIVE {_pipe12_flag_ctes()}, mxkept AS (
  SELECT doc_id, source FROM flagged2 WHERE f_sem
), mxcounts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM mxkept GROUP BY source
), mxw AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS wgt
  FROM mxcounts
), mxtot AS (
  SELECT CAST(SUM(wgt) AS BIGINT) AS s FROM mxw
), mxbase AS (
  SELECT source, wgt, ({_PIPE13_TOTAL} * wgt) // s AS q0,
         ({_PIPE13_TOTAL} * wgt) % s AS rem
  FROM mxw, mxtot
), mxlo AS (
  SELECT CAST({_PIPE13_TOTAL} - SUM(q0) AS BIGINT) AS leftover FROM mxbase
), mxalloc AS (
  SELECT source,
         q0 + CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
                        <= (SELECT leftover FROM mxlo)
              THEN 1 ELSE 0 END AS quota
  FROM mxbase
), mxrank AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY (doc_id * 2654435761) % 1000000007 ASC, doc_id ASC
         ) AS rnk
  FROM mxkept
)
SELECT r.doc_id, r.source
FROM mxrank r JOIN mxalloc a ON r.source = a.source
WHERE r.rnk <= a.quota
ORDER BY doc_id
"""


@register("pipe13_curated_mixing", oracle=_pipe13_oracle())
def pipe13_curated_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation loop CLOSED: training-mix allocation computed from
    the curated corpus itself — only documents surviving all seven
    pipe12 stages enter the pool, and the 50-doc draw is
    temperature-mixed across sources (p_s ∝ n_kept^0.5, pk06's exact
    integer largest-remainder) so head sources are damped by their
    post-curation mass, not their raw crawl share — the
    data-card-to-mixing step (pipe11 → pk06) a production pipeline
    runs between curation and packing. Sources whose kept mass
    under-fills their quota keep every row (documented
    temperature_allocation semantics, identical in the oracle's
    rnk <= quota form). One extended flag pass + a stratum-count
    collect (coordination-only) + the prefiltered quota draw — no
    full-stratum sort anywhere. Marginal form over a shared flag
    pass: ``mixing_from_flags`` (bench.py ``curation_shared``)."""
    return mixing_from_flags(_curation_flags_extended(spark, sf_dir))


def mixing_from_flags(flags: DataFrame) -> DataFrame:
    """pipe13's consumer stage over a precomputed extended-flags
    DataFrame. temperature_sample evaluates its input three times
    (stratum-count collect, prefilter-verify count, final rank
    window); the kept set is corpus-curated-small, so checkpoint it
    and pay the upstream flag plan ONCE (measured 15.8 → 10.9 s at
    sf0.1 when the flags are unshared — the remaining cost IS the
    single pass, cf. pipe12's 9.4 s; ~0 when fed a checkpointed
    shared pass)."""
    from ..operators.sampling import temperature_sample

    kept = (
        flags.where(F.col("f_sem"))
        .select("doc_id", "source")
        .localCheckpoint(eager=True)
    )
    return temperature_sample(
        kept, key="doc_id", stratum_col="source", total=_PIPE13_TOTAL
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# pipe19 — salted two-phase keep-latest on a degenerate hot key (R19 at
# 100 TB: SURVEY §7.3's prescribed skew hardening, measured end-to-end)
# ---------------------------------------------------------------------------

_PIPE19_ORACLE = """
SELECT hot_key, event_type, event_id, ts, value
FROM (
  SELECT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS hot_key,
         event_type, event_id, ts, value,
         ROW_NUMBER() OVER (
           PARTITION BY CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END,
                        event_type
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("pipe19_salted_keep_latest", oracle=_PIPE19_ORACLE)
def pipe19_salted_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest through the SALTED two-phase operator
    (``operators/dedup.py keep_latest_salted``) on a deliberately
    degenerate feed: 90 % of users collapse onto hot_key 0, the CDC
    shape where the reference's row_number window sorts nearly the
    whole table inside ONE task. Phase 1 splits the hot key across 16
    data-derived salts (pmod(xxhash64(ts, event_id), 16)), phase 2
    reduces the ≤ 16 partial winners — the largest task is bounded at
    ~|hot key|/16 regardless of how degenerate the key gets. The
    oracle states the same semantics as the unsalted window form
    (ROW_NUMBER … = 1 under the total (ts, event_id) order), so the
    hash match IS the salted==plain equivalence at sf0.01; the
    property test pins it on a synthetic 90 %-hot feed too."""
    from ..operators.dedup import keep_latest_salted

    ev = table(spark, sf_dir, "events").select(
        (
            F.when(F.col("user_id") % 10 < 9, F.lit(0))
            .otherwise(F.col("user_id"))
        )
        .cast("long")
        .alias("hot_key"),
        "event_type",
        "event_id",
        "ts",
        "value",
    )
    return keep_latest_salted(
        ev, ["hot_key", "event_type"], ["ts", "event_id"], n_salts=16
    )


# ---------------------------------------------------------------------------
# pipe21 — the round-11 scale patterns asked for from CONFIG (r11 verdict
# #2): one EntityConfig declares bucket_by + skew_hardened (+ renames +
# expectations) and the full batch pipeline runs bronze → silver on a
# CDC feed derived from events
# ---------------------------------------------------------------------------

_PIPE21_ORACLE = """
WITH latest AS (
  SELECT user_id, event_type, event_id, ts, value,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN value < 1.0 THEN NULL
              ELSE 'U' END AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts, value AS metric, op
FROM latest
WHERE rn = 1 AND op != 'D' AND user_id IS NOT NULL
"""


@register("pipe21_config_bucketed_silver", oracle=_PIPE21_ORACLE)
def pipe21_config_bucketed_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONFIG surface driving the round-11 scale operators end to
    end: an ``EntityConfig`` declares ``skew_hardened`` (silver dedup
    through the two-phase salted keep-latest,
    ``operators/dedup.py keep_latest_salted``), ``bucket_by`` (silver
    lands hash-bucketed + sorted via
    ``operators/layout.py write_bucketed`` — every later equi-join on
    user_id is Exchange-free, the q52 layout), a rename
    (value → metric, R15) and an expectation (user_id IS NOT NULL,
    R18) — and the stock batch ``Pipeline`` (plans/pipeline.py)
    executes bronze → silver with NO custom code. The feed is events
    with a pipe02-style derived op (error → 'D', small values → NULL
    op to pin null-rejecting R17).

    The oracle replays the whole silver contract in one SQL statement
    (keep-latest under the total (ts, event_id) order → null-rejecting
    op filter → rename → expectation), so the hash match proves the
    CONFIG path — salted dedup, bucketed write and all — changes
    nothing observable vs the declarative semantics. Bucketing and
    salting are PHYSICAL choices; this query is their semantic no-op
    proof, the E2E plan properties live in tests/test_pipeline.py.

    Reference anchors: README.md:92-101 (the config schema these keys
    extend), 02_silver_processing.py:115-141 (the silver flow order
    the Pipeline preserves)."""
    import os
    import tempfile

    from ..config import EntityConfig, PipelineParams
    from ..plans.pipeline import Pipeline

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("value") < 1.0, F.lit(None).cast("string"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    import shutil

    # The source dir is transient: bronze/silver are materialized
    # managed tables, so it is removed as soon as the run lands (a
    # leaked copy of events per invocation would pile up under /tmp
    # across sweeps and benches).
    root = tempfile.mkdtemp(prefix="pipe21_")
    src = os.path.join(root, "clicks")
    ev.write.mode("overwrite").parquet(src)
    # Cross-process hygiene (the write_bucketed stale-orphan rule): a
    # PREVIOUS process's run left these managed dirs on disk while this
    # process's fresh Derby catalog has never heard of them — DROP
    # DATABASE no-ops and saveAsTable dies LOCATION_ALREADY_EXISTS.
    # The names are fixture-private constants, so the delete is scoped.
    from ..operators.layout import clear_stale_managed_location

    for db in ("p21_bronze", "p21_silver"):
        clear_stale_managed_location(spark, db, database=True)
    params = PipelineParams(source_location=root, catalog="p21")
    entity = EntityConfig(
        name="clicks",
        unique_primary_key=["user_id", "event_type"],
        dedup_order_columns=["ts", "event_id"],
        renamed_columns={"value": "metric"},
        expect_all_or_drop={"has_user": "user_id IS NOT NULL"},
        bucket_by=["user_id"],
        n_buckets=8,
        skew_hardened=True,
    )
    try:
        Pipeline(spark, params, [entity], streaming=False).run()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # Silver is materialized in the warehouse; return its semantic
    # columns (audit columns are run-dependent by design).
    return spark.table("p21_silver.silver_clicks").select(
        "user_id", "event_type", "event_id", "ts", "metric", "op"
    )


# ---------------------------------------------------------------------------
# pipe23 — the salt loop closed FROM DATA (r12 verdict #4): measured key
# skew picks n_salts per feed, the way q53 picks join strategy and q55
# picks sketch width
# ---------------------------------------------------------------------------

# Parallelism target for the hottest key: n_salts = next pow2 >=
# hot_share * target bounds the largest dedup task at ~|feed|/target
# regardless of how degenerate the key distribution gets. 64 matches
# the engine's shuffle-partition grid (2x the 32-thread test box, and
# a realistic per-stage core count for one 100 TB job wave).
_PIPE23_TARGET_TASKS = 64
_PIPE23_POW2 = [1 << i for i in range(11)]  # 1 .. 1024 salt cap

_PIPE23_ORACLE = f"""
WITH feeds AS (
  SELECT 'hot' AS feed,
         CAST(CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS BIGINT) AS k,
         event_type, event_id, ts
  FROM events WHERE user_id IS NOT NULL
  UNION ALL
  SELECT 'uni' AS feed, CAST(user_id AS BIGINT) AS k,
         event_type, event_id, ts
  FROM events WHERE user_id IS NOT NULL
),
grp AS (
  SELECT feed, k, event_type, COUNT(*) AS c
  FROM feeds GROUP BY feed, k, event_type
),
dec AS (
  SELECT feed,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(c) AS BIGINT) AS total_rows,
         CAST(MAX(c) AS BIGINT) AS max_group_cnt
  FROM grp GROUP BY feed
),
dec2 AS (
  SELECT *,
         (1000 * max_group_cnt) // total_rows AS hot_share_milli,
         GREATEST(
           ((1000 * max_group_cnt) // total_rows
              * {_PIPE23_TARGET_TASKS} + 999) // 1000, 1) AS want
  FROM dec
),
dec3 AS (
  SELECT feed, n_groups, total_rows, max_group_cnt, hot_share_milli,
         CAST(list_min(list_filter({_PIPE23_POW2},
                                   p -> p >= want)) AS BIGINT) AS n_salts
  FROM dec2
),
winners AS (
  SELECT feed, event_id
  FROM (SELECT feed, event_id,
               ROW_NUMBER() OVER (PARTITION BY feed, k, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM feeds)
  WHERE rn = 1
),
summary AS (
  SELECT feed,
         CAST(COUNT(*) AS BIGINT) AS n_winners,
         CAST(SUM(event_id) AS BIGINT) AS winner_checksum
  FROM winners GROUP BY feed
)
SELECT d.feed, d.n_groups, d.total_rows, d.max_group_cnt,
       d.hot_share_milli, d.n_salts, s.n_winners, s.winner_checksum
FROM dec3 d JOIN summary s ON d.feed = s.feed
ORDER BY d.feed
"""


@register("pipe23_salt_sized_keep_latest", oracle=_PIPE23_ORACLE)
def pipe23_salt_sized_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n_salts chosen FROM MEASURED SKEW, in-plan — the chooser family
    (q53 join strategy, q55 sketch width) applied to pipe19's last
    hand-picked constant.

    Two feeds run side by side: pipe19's degenerate 90 %-hot mapping
    and the raw uniform key. For each, ONE map-side-combined count
    aggregate (per-(key, event_type) counts are additive, so the
    measurement itself is skew-immune — each reducer row is one
    partial per map partition, never the hot key's row mass) yields
    the hottest group's share; n_salts = next pow2 >=
    hot_share * {target} bounds the largest phase-1 task at
    ~|feed| / {target}. The decision joins back as a BROADCAST
    2-row frame and the salt is computed per row from the feed's own
    chosen modulus — the whole loop (measure -> choose -> execute)
    is one plan with NO window and NO driver-side collect. At sf0.01
    the hot feed measures share ~182 milli and chooses 16 salts; the
    uniform feed measures ~2 milli and chooses 1 — the provable
    no-op, a single-salt phase 1 that degenerates to plain
    keep_latest (the pow2 floor).

    Cost honesty: the measurement adds one count aggregate over the
    feed (map-side combined, output = |groups| rows) on top of the
    two-phase dedup — at 100 TB that is one extra reduce of group-
    cardinality rows, vs the unbounded single-task sort the window
    form pays on a degenerate key (pipe19's docstring prices WHEN the
    salting matters: the window/pre-partitioned shapes). The pow2
    array scan is a HOF over an 11-element literal array on a 2-row
    frame — interpreted per element, irrelevant off the hot path.

    The oracle replays the decision arithmetic (integer milli shares,
    the same pow2 ladder via list_filter) and the winner set via the
    ROW_NUMBER window twin, so the hash match proves BOTH the choice
    and that the chosen salted execution changes no winner.

    Reference anchor: 02_silver_processing.py:120-129 (the window
    dedup whose degenerate-key failure mode this sizes against)."""
    base = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_type", "event_id", "ts")
    )
    hot_k = (
        F.when(F.col("user_id") % 10 < 9, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("long")
    )
    feeds = base.select(
        F.lit("hot").alias("feed"), hot_k.alias("k"),
        "event_type", "event_id", "ts",
    ).unionAll(
        base.select(
            F.lit("uni").alias("feed"),
            F.col("user_id").cast("long").alias("k"),
            "event_type", "event_id", "ts",
        )
    )

    grp = feeds.groupBy("feed", "k", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    dec = (
        grp.groupBy("feed")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("c").cast("long").alias("total_rows"),
            F.max("c").alias("max_group_cnt"),
        )
        .withColumn(
            "hot_share_milli",
            F.expr("(1000 * max_group_cnt) DIV total_rows"),
        )
        .withColumn(
            "_want",
            F.expr(
                f"greatest((hot_share_milli * {_PIPE23_TARGET_TASKS} + 999)"
                " DIV 1000, 1L)"
            ),
        )
        .withColumn(
            "n_salts",
            F.array_min(
                F.filter(
                    F.array(*[F.lit(p).cast("long") for p in _PIPE23_POW2]),
                    lambda p: p >= F.col("_want"),
                )
            ),
        )
    )

    salted = feeds.join(
        F.broadcast(dec.select("feed", "n_salts")), "feed"
    ).withColumn(
        "_salt", F.pmod(F.xxhash64("ts", "event_id"), F.col("n_salts"))
    )
    payload = F.struct(F.col("ts"), F.col("event_id"))
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    p1 = salted.groupBy("feed", "k", "event_type", "_salt").agg(
        F.max_by(payload, order_key).alias("_w")
    )
    p2 = p1.groupBy("feed", "k", "event_type").agg(
        F.max_by(
            "_w", F.struct(F.col("_w.ts"), F.col("_w.event_id"))
        ).alias("_w")
    )
    summary = p2.groupBy("feed").agg(
        F.count(F.lit(1)).alias("n_winners"),
        F.sum("_w.event_id").alias("winner_checksum"),
    )
    return (
        dec.join(summary, "feed")
        .select(
            "feed", "n_groups", "total_rows", "max_group_cnt",
            "hot_share_milli", "n_salts", "n_winners", "winner_checksum",
        )
        .orderBy("feed")
    )
