"""Text-analysis operators (X11): token stats, quality scoring,
language identification, document fingerprinting.

All pure `pyspark.sql.functions` array/string expressions — vectorized
JVM execution, no Python in the hot path. At 100 TB these are narrow
per-row maps: no shuffle at all until a downstream aggregate.

The hashes/scores are engine-portable (polynomial hashing, exact
rational arithmetic) so the DuckDB oracle can replay them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — module scope so pandas_udf type
# hints ('pd.Series') resolve at decoration time (the queries/text.py
# and operators/similarity.py pattern; a function-local import makes
# pandas_udf raise UNSUPPORTED_SIGNATURE).
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import poly_hash

__all__ = [
    "tokenize",
    "token_count",
    "poly_hash_kernel",
    "bigram_hash_rows_kernel",
    "quality_score",
    "language_id",
    "fingerprint",
    "gopher_rules",
    "bigram_familiarity",
    "bpe_train",
    "logodds_classifier",
    "logodds_weights",
    "score_with_weights",
    "CURATION_GOPHER_KEYS",
    "LANG_MARKERS",
    "unigram_surprisal",
    "BM25_K1_M",
    "BM25_B_M",
    "bm25_topk",
    "bm25_index",
    "bm25_rank_from_index",
    "bm25_scores_from_index",
    "UNIGRAM_LMAX",
    "UNIGRAM_ROUNDS",
    "UNIGRAM_VOCAB",
    "unigram_seed_counts",
    "unigram_costs",
    "unigram_viterbi_segment",
    "unigram_train",
    "unigram_encode",
]

# The gopher_rules subset the curation funnel gates on — shared by the
# batch flag pass (queries/pipeline._curation_flags), its generated
# oracle fragment, and the streaming maintainer (streaming/curation.py)
# so the three can never disagree on which rules constitute "quality".
CURATION_GOPHER_KEYS = (
    "ok_min_words",
    "ok_mean_word_len",
    "ok_alpha_words",
    "ok_stopwords",
)


def tokenize(text: Column | str) -> Column:
    """Whitespace tokenizer (documents.text is space-separated)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokenize(text)).cast("long")


def quality_score(text: Column | str, n_chars: Column | str) -> Column:
    """Heuristic quality in [0,1]: long-enough docs with mid-length
    words score high. Pure rational arithmetic of exact ints:
    score = min(tokens,200)/200 * (1 - |avg_word_len - 5| / 10),
    clamped at 0. (The shape mirrors common LLM-corpus length/word
    heuristics, e.g. Gopher rules.)"""
    nc = (F.col(n_chars) if isinstance(n_chars, str) else n_chars).cast("double")
    toks = token_count(text).cast("double")
    avg_word = nc / toks
    length_part = F.least(toks, F.lit(200.0)) / F.lit(200.0)
    word_part = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.abs(avg_word - F.lit(5.0)) / F.lit(10.0)
    )
    return length_part * word_part


# Marker stopwords per language; fixed priority order breaks ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "los", "que", "de"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "est", "une"),
}


def language_id(text: Column | str) -> Column:
    """N-gram/stopword-marker language ID: count marker hits per
    language, argmax with deterministic priority (en>es>de>fr), 'und'
    when no markers hit. Token-set membership stays in codegen."""
    tokens = tokenize(text)

    def _member(markers: tuple[str, ...]):
        return lambda t: t.isin(*markers)

    counts = {
        lang: F.size(F.filter(tokens, _member(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    order = list(LANG_MARKERS)
    best = F.lit("und")
    best_cnt = F.lit(0)
    # Iterate in reverse priority so earlier languages win ties (>).
    for lang in reversed(order):
        cnt = counts[lang]
        best = F.when(cnt >= F.lit(1), F.when(cnt >= best_cnt, F.lit(lang)).otherwise(best)).otherwise(best)
        best_cnt = F.greatest(best_cnt, cnt)
    return best


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: polynomial rolling hash of
    the full text, mod 1e9+7 (functions.poly_hash)."""
    return poly_hash(text)


def gopher_rules(
    text: Column | str,
    *,
    min_words: int = 30,
    mean_word_len_bounds: tuple[int, int] = (4, 12),
    min_alpha_word_pct: int = 80,
    min_stopwords: int = 1,
    max_dup_bigram_pct: int = 8,
) -> dict[str, Column]:
    """Gopher-style composite document-quality rules (Rae et al. 2021,
    §A1.1 heuristics re-expressed over a whitespace corpus), each as a
    named boolean Column so callers can gate (``expect_all_or_drop``
    style, cf. reference 02_silver_processing.py:139-141) or report
    per-rule drop metrics.

    Every rule is an exact-integer comparison — ratios become
    cross-multiplications (mean word length in [lo,hi] ⇔
    lo·n_words ≤ Σlen(word) ≤ hi·n_words) — so a SQL oracle replays
    them bit-for-bit and no float noise crosses engines. Pure per-row
    array expressions: narrow map at any scale, no shuffle, no UDFs.

    Rules:
      - ``ok_min_words``: at least ``min_words`` tokens.
      - ``ok_mean_word_len``: mean token length within bounds.
      - ``ok_alpha_words``: ≥ ``min_alpha_word_pct``% of tokens contain
        an alphabetic character (symbol/garbage screen).
      - ``ok_stopwords``: ≥ ``min_stopwords`` marker stopwords (any
        supported language) — screens keyword-stuffing/no-prose docs.
      - ``ok_repetition``: duplicated token-bigram fraction ≤
        ``max_dup_bigram_pct``% (the tx11 repetition signal as a gate).
    """
    from ..functions import POLY_BASE, POLY_P, token_poly_hash

    w = tokenize(text)
    nw = F.size(w).cast("long")
    wlen = F.aggregate(
        F.transform(w, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(w, lambda t: t.rlike("[a-zA-Z]"))).cast("long")
    all_markers = tuple(m for ms in LANG_MARKERS.values() for m in ms)
    n_stop = F.size(F.filter(w, lambda t: t.isin(*all_markers))).cast("long")
    th = token_poly_hash(w)
    bigrams = F.when(
        nw >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(th) - 1),
            lambda i: (F.element_at(th, i) * F.lit(POLY_BASE) + F.element_at(th, i + 1))
            % F.lit(POLY_P),
        ),
    ).otherwise(F.array().cast("array<long>"))
    nb = F.greatest(nw - 1, F.lit(0)).cast("long")
    nd = F.size(F.array_distinct(bigrams)).cast("long")
    lo, hi = mean_word_len_bounds
    return {
        "ok_min_words": nw >= F.lit(min_words),
        "ok_mean_word_len": (F.lit(lo) * nw <= wlen) & (wlen <= F.lit(hi) * nw),
        "ok_alpha_words": F.lit(100) * n_alpha >= F.lit(min_alpha_word_pct) * nw,
        "ok_stopwords": n_stop >= F.lit(min_stopwords),
        "ok_repetition": F.lit(100) * (nb - nd) <= F.lit(max_dup_bigram_pct) * nb,
    }


# ---------------------------------------------------------------------------
# PII redaction (X11 text surface; regex subset shared by Java + RE2)
# ---------------------------------------------------------------------------

# Patterns deliberately restricted to the regex subset with identical
# semantics in Spark's Java regex and DuckDB's RE2: character classes,
# +/{m,} quantifiers, escaped literals. No lookaround, no \d shorthand.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\+1-[0-9]{3}-[0-9]{4}"


def pii_redact(col: Column | str) -> dict[str, Column]:
    """Regex PII scrub of a text column: emails then phone numbers are
    replaced by typed placeholder tags, with exact per-row match
    counts. Map-only Catalyst (``regexp_extract_all`` +
    ``regexp_replace``) — stays inside whole-stage codegen, no Python.

    Returns {"redacted", "n_emails", "n_phones"} column expressions.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).cast("long")
    no_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(
        F.regexp_extract_all(no_email, F.lit(PHONE_RE), F.lit(0))
    ).cast("long")
    return {
        "redacted": F.regexp_replace(no_email, PHONE_RE, "<PHONE>"),
        "n_emails": n_emails,
        "n_phones": n_phones,
    }


def bigram_familiarity(
    docs, id_col: str = "doc_id", text_col: str = "text"
):
    """Count-based fluency scoring — the exact-arithmetic stand-in for
    CCNet's KenLM-perplexity filter: score each document by how COMMON
    its bigrams are corpus-wide (familiarity = mean corpus frequency
    of the doc's bigrams). Boilerplate-heavy or templated text scores
    high, singleton noise scores ~1; the tails of this distribution
    are the same rows a perplexity filter flags, but the statistic is
    pure integer counting — bit-replayable by any engine, unlike a
    float LM log-prob.

    Returns (id_col, n_bigrams, freq_sum, familiarity): freq_sum is
    the exact int64 sum of corpus counts, familiarity the one final
    double division (0.0 for docs with < 2 tokens).

    Scale shape: bigram stream is a narrow explode; corpus counts are
    one partial-agg groupBy; the score join is a (bigram) equi-shuffle
    of the stream against the counts — at web scale hash bigrams to a
    64/128-bit fingerprint first so 8-byte keys shuffle instead of
    strings (here raw strings so DuckDB replays verbatim).
    """
    toks = tokenize(text_col)
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    stream = docs.select(F.col(id_col), F.explode(bigrams).alias("bg"))
    counts = stream.groupBy("bg").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = (
        stream.join(counts, "bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("_nb"),
            F.sum("_c").cast("long").alias("_fs"),
        )
    )
    out = docs.select(id_col).join(per_doc, id_col, "left")
    nb = F.coalesce(F.col("_nb"), F.lit(0)).cast("long")
    fs = F.coalesce(F.col("_fs"), F.lit(0)).cast("long")
    return out.select(
        F.col(id_col),
        nb.alias("n_bigrams"),
        fs.alias("freq_sum"),
        F.when(nb == 0, F.lit(0.0))
        .otherwise(fs.cast("double") / nb.cast("double"))
        .alias("familiarity"),
    )


def logodds_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    positive: Column,
) -> DataFrame:
    """fastText-style linear quality classifier, exact-arithmetic form.

    The standard LLM-curation move (GPT-3 §2.2, LLaMA, DSIR): score
    every document against a trusted reference slice and keep
    high-scorers. Weights are per-token log-odds SIGNS — token t gets
    +1 when its rate in the positive slice exceeds its rate in the
    rest, -1 when below, 0 at exact equality — and a document's score
    is Σ count(t, doc)·w(t), i.e. a naive-Bayes vote with unit
    log-likelihood ratios. Signs instead of float log-ratios keep
    every comparison exact (rate comparison = cross-multiplication),
    so DuckDB replays the whole train+score loop bit-for-bit.

    Rate cross-products are computed in DECIMAL(19,0)×DECIMAL(19,0)
    (exact to 1e38): at web scale token counts reach ~1e12 and the
    int64 cross-product would overflow at 1e19 — ~40 exact decimal
    digits is the scale-safe compare (DuckDB runs the same compare in
    DECIMAL(38,0)/hugeint).

    Plan shape: one explode over tokens feeds BOTH the vocabulary
    build (groupBy token — map-side combine collapses to |vocab| rows
    before the exchange) and per-doc term counts (groupBy id, token);
    the score join is a token equi-join (vocab never needs to fit in
    one executor), then one partial-agg groupBy(id). Totals are a
    1-row aggregate crossJoined in-plan — no driver round-trip.

    Returns (id_col, score, keep) with keep = score > 0.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        positive.alias("_pos"),
        F.explode(tokenize(text_col)).alias("tok"),
    )
    weights = _weights_from_toks(toks)
    per_doc = toks.groupBy("_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    scores = (
        per_doc.join(weights, on="tok")
        .groupBy("_id")
        .agg(F.sum(F.col("c") * F.col("w")).alias("score"))
    )
    return scores.select(
        F.col("_id").alias(id_col),
        F.col("score").cast("long").alias("score"),
        (F.col("score") > 0).alias("keep"),
    )


def _weights_from_toks(toks: DataFrame) -> DataFrame:
    """(_id, _pos, tok) exploded rows → the (tok, w) sign-weight table
    (the ``logodds_classifier`` training half, factored so both the
    combined operator and ``logodds_weights`` build weights from ONE
    implementation)."""
    vocab = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).cast("long").alias("pos_cnt"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1)).cast("long").alias("neg_cnt"),
    )
    totals = vocab.agg(
        F.sum("pos_cnt").alias("_tp"), F.sum("neg_cnt").alias("_tn")
    )
    dec = "decimal(19,0)"
    lhs = F.col("pos_cnt").cast(dec) * F.col("_tn").cast(dec)
    rhs = F.col("neg_cnt").cast(dec) * F.col("_tp").cast(dec)
    return vocab.join(F.broadcast(totals)).select(
        "tok",
        F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0)
        .cast("long").alias("w"),
    )


def logodds_weights(
    df: DataFrame, id_col: str, text_col: str, positive: Column
) -> DataFrame:
    """The classifier's (tok, w) weight table alone — the FREEZABLE
    training artifact a streaming curation run derives once from a
    bootstrap/reference corpus and then scores every micro-batch
    against (``streaming/curation.py``), exactly like frozen k-means
    centroids. Same arithmetic as ``logodds_classifier`` (one shared
    implementation)."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        positive.alias("_pos"),
        F.explode(tokenize(text_col)).alias("tok"),
    )
    return _weights_from_toks(toks)


def score_with_weights(
    df: DataFrame, id_col: str, text_col: str, weights: DataFrame
) -> DataFrame:
    """Score documents against a FROZEN (tok, w) weight table:
    Σ count(t, doc)·w(t) — the inference half of the classifier,
    map-only plus one token equi-join (identical join shape to the
    combined operator, so scores over the training corpus are
    bit-equal to ``logodds_classifier``'s). Documents with NO vocab
    token produce no row (the combined operator's inner-join
    semantics)."""
    per_doc = (
        df.select(
            F.col(id_col).alias("_id"), F.explode(tokenize(text_col)).alias("tok")
        )
        .groupBy("_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        per_doc.join(weights, on="tok")
        .groupBy("_id")
        .agg(F.sum(F.col("c") * F.col("w")).cast("long").alias("score"))
        .select(F.col("_id").alias(id_col), "score")
    )


def bpe_merge_word(rep: Column, x: str, y: str) -> Column:
    """Apply one learned BPE merge (x, y) to a sentinel-spaced word
    representation (``' c1 c2 ... cn '``) via TWO literal-replace
    passes — a pure codegen'd JVM string op (no per-symbol fold).

    THE PINNED SPEC IS THE TWO-PASS REPLACE ITSELF, shared verbatim
    with the DuckDB oracle (``replace(replace(rep, pat, rpl), pat,
    rpl)``) — training (bpe_train) and encoding (tx21 / bpe_encode)
    both apply it, so the tokenizer is self-consistent end-to-end.

    Relation to canonical left-to-right merging (Sennrich et al.
    2016), property-tested in tests/test_properties.py:

    * ``x != y``: exactly equal to LTR. A single ``replace`` scan
      consumes the trailing space of each match, which blocks ONLY an
      immediately following occurrence — and for distinct symbols two
      blocked occurrences are never adjacent, so pass 2 sees every
      survivor with its spaces restored and merges it; no new
      occurrence arises because ``xy`` is a single (longer) symbol.
    * ``x == y`` over runs of identical symbols: equal to LTR only
      for run length < 5. At run 5 the ORDER diverges
      (``a a a a a`` → ``aa a aa`` here vs LTR ``aa aa a``; same
      token multiset) and at run 6 the MULTISET diverges
      (``a a a a a a`` → ``aa a aa a`` vs LTR ``aa aa aa``): pass 1
      merges positions (1,2) and (3,4) leaving the singles stranded
      between merged tokens, so pass 2 finds no adjacent pair. Both
      regression cases are pinned in tests/test_properties.py."""
    pat = F.lit(f" {x} {y} ")
    rpl = F.lit(f" {x}{y} ")
    return F.replace(F.replace(rep, pat, rpl), pat, rpl)


def bpe_train(
    vocab: DataFrame,
    rep_col: str,
    freq_col: str,
    n_merges: int = 8,
    vocab_size: int | None = None,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Deterministic byte-pair-encoding merge learning over a word
    vocabulary — the k-means of text: N rounds, each one (pair →
    summed word frequency) partial aggregation, a deterministic argmax
    (count DESC, then pair lexicographic ASC), and a map-only vocab
    rewrite with the learned merge. Returns the merge table
    ``[(x, y, count), ...]`` in learned order and the final rewritten
    vocabulary DataFrame.

    ``vocab`` must carry ``rep_col`` — the sentinel-spaced symbol
    string ``' c1 c2 ... cn '`` (symbols contain no spaces) — and an
    integer ``freq_col``. Determinism: pair counts are exact integers;
    the argmax tie-break is total (cnt DESC, x ASC, y ASC — binary
    comparison on ASCII symbols, identical in DuckDB); the rewrite is
    the two-pass literal replace of ``bpe_merge_word``.

    Scale shape (the 100-TB story): the vocabulary is the DISTINCT
    word set (∼10⁷ rows at web scale — thousands of times smaller
    than the corpus, which is scanned ONCE to build it); each round
    shuffles only the (pair, count) partial aggregate — map-side
    combine collapses each partition to its distinct adjacent pairs —
    and ships exactly ONE winning row to the driver (coordination,
    never data: the kmeans_fit convention). The rewrite is a narrow
    map; the vocab is localCheckpointed per round so round i+1's scan
    does not re-execute rounds 1..i (the connected-components
    iterative-loop lesson: persist does NOT stop plan growth).

    ``vocab_size`` switches to the GPT-2-style stop rule: before each
    round the DISTINCT symbol count of the current vocabulary is
    measured (one countDistinct aggregate — coordination, like the
    argmax row) and training stops once it reaches ``vocab_size``;
    ``n_merges`` then acts as the safety cap. A merge adds at most one
    new symbol but can also REMOVE symbols (when every occurrence of
    x or y is consumed), so the executed round count is data-dependent
    — callers that need a replayable round count (tx20b's unrolled
    oracle) pin the measured count and cross-check it in a test.
    """

    def _distinct_symbols(df: DataFrame) -> int:
        return int(
            df.select(
                F.explode(F.split(F.trim(F.col("rep")), " ")).alias("s")
            )
            .agg(F.countDistinct("s").alias("c"))
            .collect()[0]["c"]
        )

    v = vocab.select(
        F.col(rep_col).alias("rep"), F.col(freq_col).cast("long").alias("freq")
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        if vocab_size is not None and _distinct_symbols(v) >= vocab_size:
            break
        syms = F.split(F.trim(F.col("rep")), " ")
        idx = F.when(
            F.size(syms) > 1, F.sequence(F.lit(1), F.size(syms) - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = (
            v.select(
                F.explode(
                    F.transform(
                        idx,
                        lambda j: F.struct(
                            F.element_at(syms, j).alias("x"),
                            F.element_at(syms, j + 1).alias("y"),
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.x", "p.y")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.col("cnt").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break  # no word has two symbols left — vocabulary exhausted
        x, y, cnt = top[0]["x"], top[0]["y"], int(top[0]["cnt"])
        merges.append((x, y, cnt))
        v = v.select(
            bpe_merge_word(F.col("rep"), x, y).alias("rep"), "freq"
        ).localCheckpoint(eager=True)
    return merges, v


def bpe_vocab_map(final_vocab: DataFrame) -> DataFrame:
    """Turn ``bpe_train``'s final vocabulary into the (word → n_sub,
    rep) encode map: the sentinel-spaced rep with spaces removed IS
    the original word (symbols are concatenations of its characters),
    so no word column needs threading through the merge rounds.
    Returns (word, rep, n_sub)."""
    return final_vocab.select(
        F.translate(F.col("rep"), " ", "").alias("word"),
        F.trim(F.col("rep")).alias("rep"),
        F.size(F.split(F.trim(F.col("rep")), " ")).cast("long").alias("n_sub"),
    )


def unigram_surprisal(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram surprisal — the deterministic form of
    CCNet-style LM/perplexity filtering (Wenzek et al. 2020 bucket
    documents by LM perplexity and keep the head/middle).

    A full KenLM is out of scope, but the unigram LM trained on the
    corpus ITSELF already carries the signal the filter needs: a
    document whose tokens are corpus-typical scores low (head), one
    full of rare tokens scores high (tail). Surprisal of token w is
    log2(T/c_w) = log2 T − log2 c_w, computed in exact integer
    MILLIBITS via functions.milli_log2 (binary-length + interpolation
    — no libm, so DuckDB replays it bit-for-bit; per-log error < 87.2
    mb, see milli_log2's measured bound. The float-entropy twin of
    this idea is tx07, rows-only for exactly that reason).

    Plan shape: explode tokens → one groupBy(w) for counts (partial
    agg) → per-DISTINCT-token surprisal (the milli_log2 expressions
    run once per vocab entry, not per occurrence) → equi-join back to
    the token stream → one groupBy(doc). Two shuffles keyed on w, one
    on doc id; nothing quadratic, no Python. The 1-row total attaches
    via broadcast crossJoin.

    Returns (id_col, n_tokens long, sum_mb long) — mean = sum_mb div
    n_tokens is left to the caller so downstream math stays integer.
    """
    from ..functions import milli_log2

    tok = docs.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("w")
    )
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("t"))
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    surp = cnt.crossJoin(F.broadcast(tot)).select(
        "w", (milli_log2("t") - milli_log2("c")).alias("surp")
    )
    return (
        tok.join(surp, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("surp").cast("long").alias("sum_mb"),
        )
    )


def dsir_logratio(
    docs: DataFrame,
    target_source: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-document DSIR importance score — Data Selection via
    Importance Resampling (Xie et al. 2023) with unigram LMs in exact
    integer millibits.

    DSIR scores each raw document by log p_target(x) − log p_raw(x)
    under two cheap bag-of-words models and keeps the top-weighted
    docs, steering a generic corpus toward a target domain without
    training a classifier. Here the target LM is the unigram model of
    the ``target_source`` slice, ADD-ONE smoothed over the RAW
    corpus's vocabulary (so out-of-target tokens score log(1/(T_t+V))
    instead of −∞); the raw LM is the full-corpus unigram model,
    unsmoothed (every scored token exists in it by construction).
    Per-token millibit ratio, via functions.milli_log2 exactly as
    unigram_surprisal:

        g(w) = (ml(c_t(w)+1) − ml(T_t+V)) − (ml(c(w)) − ml(T))

    Returns (id_col, n_tokens long, sum_mb long); mean and selection
    are the caller's (tx25 cuts the top third with the bounded
    distinct-value order statistic). Deterministic integer end-to-end
    — the paper's Gumbel-noise resampling step is deliberately
    replaced by a rank cut so the whole path stays hash-verifiable.

    Plan shape: one token explode feeding THREE partial aggregates
    (global counts, target counts, totals) — the target side is a
    filter over the same shuffle key, not a second scan family — then
    per-VOCAB-ENTRY score math (runs once per distinct token), an
    equi-join back to the token stream, one groupBy(doc). Same
    unbounded-corpus-safe map-reduce family as unigram_surprisal;
    target docs score themselves (self-bias) exactly as raw DSIR does
    when the target is a corpus subset.
    """
    from ..functions import milli_log2

    tok = docs.select(
        F.col(id_col),
        (F.col(source_col) == target_source).alias("_is_t"),
        F.explode(tokenize(text_col)).alias("w"),
    )
    cnt = tok.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).cast("long").alias("ct"),
    )
    tot = cnt.agg(
        F.sum("c").cast("long").alias("t"),
        F.sum("ct").cast("long").alias("tt"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    wsc = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        (
            (milli_log2(F.col("ct") + 1) - milli_log2(F.col("tt") + F.col("v")))
            - (milli_log2("c") - milli_log2("t"))
        ).alias("g"),
    )
    return (
        tok.join(wsc, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("g").cast("long").alias("sum_mb"),
        )
    )


def dsir_select(scores: DataFrame) -> DataFrame:
    """tx25's adaptive top-third selection over a DSIR scores frame
    (doc_id, n_tokens, sum_mb) → (doc_id, n_tokens, sum_mb, mean_mb,
    kept) — the SINGLE Spark source of the cut spec, shared by tx25,
    pipe17's keep set and the streaming maintainer.

    The cut is the descending order statistic over DISTINCT integer
    millibit means: keep mean_mb ≥ the ceil(n/3)-th-from-top value.
    The cumulative window runs over distinct mean VALUES (domain-
    bounded — the _tx23_cut_ctes trick), never over documents, so no
    global document sort exists anywhere in the plan; ties at the cut
    keep slightly over quota, deterministically.
    """
    from pyspark.sql import Window

    m = scores.select(
        "doc_id",
        "n_tokens",
        "sum_mb",
        F.expr("sum_mb DIV n_tokens").alias("mean_mb"),
    )
    vc = m.groupBy("mean_mb").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = Window.orderBy(F.col("mean_mb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = vc.select(
        "mean_mb",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    cut = cum.where(F.col("cum") >= F.expr("(n + 2) DIV 3")).agg(
        F.max("mean_mb").alias("tcut")
    )
    return m.crossJoin(F.broadcast(cut)).select(
        "doc_id",
        "n_tokens",
        "sum_mb",
        "mean_mb",
        F.when(F.col("mean_mb") >= F.col("tcut"), 1)
        .otherwise(0)
        .cast("long")
        .alias("kept"),
    )


def bigram_surprisal(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean CONDITIONAL surprisal under an add-one
    smoothed corpus bigram LM — one Markov order past
    unigram_surprisal, the next step toward CCNet's KenLM gate that
    integer math can still replay exactly.

    Surprisal of the transition w1→w2 is −log2 p(w2|w1) with add-one
    smoothing over the corpus vocabulary V (so unseen continuations
    stay finite):

        surp(w1, w2) = ml(c1(w1) + V) − ml(c2(w1, w2) + 1)

    in exact integer millibits (functions.milli_log2). c2 ≤ c1 and
    V ≥ 1 make every term non-negative (ml is monotone), so per-doc
    sums never need signed-division care. c1 counts ALL occurrences
    of w1 (the standard conditional denominator); transitions only —
    a document's first token is scored by the unigram model's callers
    (tx23), not double-counted here.

    Plan shape: bigrams come from a PER-ROW array zip of the token
    list with its own shift (map-only — no positional self-join, no
    window over token streams); then one groupBy((w1,w2)) + one
    groupBy(w1-side unigram) partial agg, per-DISTINCT-bigram score
    math, an equi-join back to the transition stream, one
    groupBy(doc). The same unbounded-corpus-safe map-reduce family as
    unigram_surprisal, one join wider. Documents with fewer than two
    tokens have no transitions and are absent from the output
    (callers left-join if they need every doc).

    Returns (id_col, n_bigrams long, sum_mb long).
    """
    from ..functions import milli_log2

    t = tokenize(text_col)
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    big = docs.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(t, 1, n1).alias("_w1"),
                F.slice(t, 2, n1).alias("_w2"),
            )
        ).alias("_b"),
    ).select(
        id_col,
        F.col("_b._w1").alias("w1"),
        F.col("_b._w2").alias("w2"),
    )
    tok = docs.select(F.explode(tokenize(text_col)).alias("w"))
    c1 = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    voc = c1.agg(F.count(F.lit(1)).cast("long").alias("v"))
    c2 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    surp = (
        c2.join(c1.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(voc))
        .select(
            "w1",
            "w2",
            (
                milli_log2(F.col("c1") + F.col("v"))
                - milli_log2(F.col("c2") + 1)
            ).alias("surp"),
        )
    )
    return (
        big.join(surp, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("surp").cast("long").alias("sum_mb"),
        )
    )


# ---------------------------------------------------------------------------
# Integer BM25 lexical retrieval — the inverted-index ranking surface
# (Robertson & Zaragoza 2009), in exact int64 millibit arithmetic so
# ranked lists are DuckDB-hash-verifiable (tx27) and fusable with the
# dense retrievers' integer scores (ss30's RRF shape).
# ---------------------------------------------------------------------------

BM25_K1_M = 1200  # k1 = 1.2, milli-scaled
BM25_B_M = 750  # b = 0.75, milli-scaled


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    k1_m: int = BM25_K1_M,
    b_m: int = BM25_B_M,
    max_df_num: int = 1,
    max_df_den: int = 2,
) -> DataFrame:
    """Top-``k`` lexical neighbors per query document under integer
    BM25: per matched term,

        contrib = idf_mb · tf · (1000+k1) DIV
                  (tf·1000 + k1 · ((1000−b) + b·dlr DIV 1000) DIV 1000)

    with idf_mb = milli_log2(N) − milli_log2(df) (the millibit idf —
    integer, ≥ 0 on kept terms), dlr = dl·10⁶ DIV avgdl_m the
    milli-scaled length ratio, and every division an explicit integer
    DIV, so the pinned spec is replayed verbatim by the oracle (the
    deterministic stand-in for float BM25; the DIV flooring perturbs
    scores < 1 part in 10³ — far under idf granularity). Query TERM
    PRESENCE scores (distinct query tokens; classic BM25 drops query
    tf for short queries). Self-matches are excluded by id.

    STOPWORD PRUNING IS PART OF THE SPEC: terms with 2·df > N carry
    near-zero idf but own the longest posting lists — at 100 TB they
    ARE the term-join blowup, so they are dropped before the join
    (df·2 ≤ N keeps idf_mb ≥ ~1000). Plan shape: tf/df/dl are three
    partial-aggregated counts off one token explode; the 1-row stats
    frame and the (bounded) query-term side broadcast onto the pruned
    posting lists; the only wide stages are the tf groupBy and the
    per-(query, doc) score sum — the inverted-index join, never a
    doc×doc product. Domain: dl·10⁶ stays inside int64 for dl < 2^43;
    the score numerator idf_mb·tf·(1000+k1_m) is bounded by
    milli_log2's 2^54 input domain — idf_mb < 54,000 millibits, so
    with the default k1 the product stays under 2^63 for tf < ~2^36
    (≈ 7·10¹⁰ occurrences of one term in one document; any realistic
    corpus is orders of magnitude under both bounds).

    Returns (query_id, neighbor_id, rk, score), rk 1..k per query in
    (score desc, neighbor asc) total order; query docs whose every
    token is pruned or unseen return no rows.
    """
    tf, dl, stats, dfreq = bm25_index(corpus, id_col, text_col)
    qt = queries.select(
        F.col(id_col).alias("query_id"), F.explode(tokenize(text_col)).alias("_t")
    ).distinct()
    return bm25_rank_from_index(
        tf, dl, stats, dfreq, qt, k, k1_m, b_m, max_df_num, max_df_den
    )


def bm25_index(corpus: DataFrame, id_col: str, text_col: str):
    """The BM25 index frames off one token explode: tf (_d,_t,_tf),
    dl (_d,_dl), stats (1-row _nd,_nt), dfreq (_t,_df). Shared by the
    batch ranker, the gate audit (dd19) and any other consumer so the
    index derivation is single-sourced (the oracle twin is
    queries/text._bm25_index_sql)."""
    toks = corpus.select(
        F.col(id_col).alias("_d"), F.explode(tokenize(text_col)).alias("_t")
    )
    tf = toks.groupBy("_d", "_t").agg(F.count(F.lit(1)).cast("long").alias("_tf"))
    dl = toks.groupBy("_d").agg(F.count(F.lit(1)).cast("long").alias("_dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("_nd"),
        F.sum("_dl").cast("long").alias("_nt"),
    )
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    return tf, dl, stats, dfreq


def bm25_rank_from_index(
    tf: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    dfreq: DataFrame,
    qt: DataFrame,
    k: int,
    k1_m: int = BM25_K1_M,
    b_m: int = BM25_B_M,
    max_df_num: int = 1,
    max_df_den: int = 2,
) -> DataFrame:
    """The ranking stage of bm25_topk over a PREBUILT index — tf
    (_d,_t,_tf), dl (_d,_dl), stats (1-row _nd,_nt), dfreq (_t,_df),
    qt (query_id,_t distinct). Shared by the batch operator and the
    incremental maintainer (streaming/bm25.py) so the two paths can
    never diverge on the scoring spec."""
    from pyspark.sql import Window

    scores = bm25_scores_from_index(
        tf, dl, stats, dfreq, qt, k1_m, b_m, max_df_num, max_df_den
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scores.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "rk", "score")
    )


def bm25_scores_from_index(
    tf: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    dfreq: DataFrame,
    qt: DataFrame,
    k1_m: int = BM25_K1_M,
    b_m: int = BM25_B_M,
    max_df_num: int = 1,
    max_df_den: int = 2,
) -> DataFrame:
    """The SCORING stage of BM25 over a prebuilt index: every
    (query_id, neighbor_id) pair sharing a kept term, with its summed
    integer contribution — no rank cut, so consumers that aggregate
    differently (dd19's per-candidate max over eval queries; tx27's
    per-query top-k via bm25_rank_from_index) share one spec."""
    from ..functions import milli_log2

    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .where(F.col("_df") * max_df_den <= F.col("_nd") * max_df_num)
        .select(
            "_t",
            (milli_log2(F.col("_nd")) - milli_log2(F.col("_df"))).alias("_idf"),
        )
    )
    cand = (
        tf.join(idf, "_t")  # stopword prune before anything widens
        .join(F.broadcast(qt), "_t")
        .where(F.col("_d") != F.col("query_id"))
        .join(dl, "_d")
        .crossJoin(F.broadcast(stats))
    )
    contrib = F.expr(
        f"(_idf * _tf * {1000 + k1_m}) DIV "
        f"(_tf * 1000 + ({k1_m} * ((1000 - {b_m}) + "
        f"({b_m} * ((_dl * 1000000) DIV ((_nt * 1000) DIV _nd))) DIV 1000)) DIV 1000)"
    )
    return (
        cand.withColumn("_c", contrib)
        .groupBy("query_id", F.col("_d").alias("neighbor_id"))
        .agg(F.sum("_c").cast("long").alias("score"))
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018, SentencePiece's unigram model) as
# deterministic integer HARD EM: piece log-probs in exact millibits
# (functions.milli_log2), Viterbi segmentation with a total tie-break,
# per-round counts re-derived from the single best segmentation. Soft
# EM's forward-backward needs real-valued marginals no integer spec
# can pin; hard EM keeps every intermediate an int64 the DuckDB oracle
# replays verbatim (queries/_unigram_sql.py unrolls every round — the
# tx20 merge-round pattern). Completes the tokenizer family beside BPE
# (tx20/tx20b): BPE grows pieces bottom-up by pair frequency, unigram
# starts from all substrings and prunes top-down by likelihood.
# ---------------------------------------------------------------------------

UNIGRAM_LMAX = 4  # max piece length (chars)
UNIGRAM_ROUNDS = 3  # hard-EM rounds before pruning
UNIGRAM_VOCAB = 24  # pruning target: top-N pieces by count (chars always kept)


def unigram_seed_counts(vocab: DataFrame, lmax: int = UNIGRAM_LMAX) -> DataFrame:
    """Seed piece counts: every substring of length 1..``lmax`` of
    every distinct word, counted with multiplicity × word frequency —
    the raw-substring initialisation of Kudo's seed vocabulary.
    ``vocab`` is (word, freq); returns (piece, cnt). One narrow
    explode over the DISTINCT-word vocab (≪ corpus) into one
    partial-aggregated count — the corpus itself is never touched."""
    subs = F.expr(
        "flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(1, least({int(lmax)}, length(word) - i + 1)), "
        "l -> substr(word, i, l))))"
    )
    return (
        vocab.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def unigram_costs(counts: DataFrame) -> DataFrame:
    """Millibit piece costs from counts: cost(p) = milli_log2(T) −
    milli_log2(cnt_p) with T = Σ cnt — the integer form of
    −log2 P(p). Returns (piece, cnt, cost_mb); the 1-row total
    attaches via broadcast crossJoin (no shuffle)."""
    from ..functions import milli_log2

    tot = counts.agg(F.sum("cnt").cast("long").alias("_t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        "cnt",
        (milli_log2("_t") - milli_log2("cnt")).cast("long").alias("cost_mb"),
    )


def unigram_viterbi_segment(
    words: DataFrame,
    cost_map: dict[str, int],
    lmax: int = UNIGRAM_LMAX,
    max_word_len: int | None = None,
) -> DataFrame:
    """Viterbi-segment every (word, freq) row under integer millibit
    costs: best[i] = min over piece lengths l of best[i−l] +
    cost(word[i−l..i]), tie-break = SMALLEST l achieving the min (the
    pinned spec the oracle's MIN(l)-over-achieving-edges replays).
    Returns (word, freq, pos, piece) — one row per emitted piece,
    ``pos`` its 0-based start, so the segmentation reads back in
    position order.

    Arrow-batched ``mapInPandas`` — the per-word DP is genuinely
    imperative (position loop with data-dependent predecessor reads),
    and it runs over the DISTINCT-word vocabulary, never the corpus.
    ``cost_map`` ships in the closure: it is the MODEL (vocab-sized,
    the k-means-centroid convention of bounded driver coordination),
    not data. Every word character must be a length-1 key in
    ``cost_map`` or the DP raises (single chars are never pruned by
    training, so an unseen char means out-of-corpus input — loud, not
    a silent drop). ``max_word_len`` (when set) raises on longer
    words: the ORACLE unrolls the DP to a pinned position count, so a
    longer word would silently fall off the replay — the q45 raise-in-
    pass precedent."""
    import pandas as pd

    lmax = int(lmax)
    costs = {str(k): int(v) for k, v in cost_map.items()}
    cap = None if max_word_len is None else int(max_word_len)

    def segment(batches):
        for pdf in batches:
            out_w, out_f, out_p, out_s = [], [], [], []
            for word, freq in zip(pdf["word"], pdf["freq"]):
                w = str(word)
                n = len(w)
                if cap is not None and n > cap:
                    raise ValueError(
                        f"word {w!r} is longer than the pinned DP unroll "
                        f"({cap}) — re-measure max word length and re-pin"
                    )
                best = [None] * (n + 1)
                best[0] = 0
                bp = [0] * (n + 1)
                for i in range(1, n + 1):
                    bb, bl = None, 0
                    for l in range(1, min(lmax, i) + 1):
                        c = costs.get(w[i - l : i])
                        if c is None or best[i - l] is None:
                            continue
                        v = best[i - l] + c
                        if bb is None or v < bb:
                            bb, bl = v, l
                    best[i], bp[i] = bb, bl
                if n > 0 and best[n] is None:
                    raise ValueError(
                        f"word {w!r} is not segmentable under the model — "
                        "a character is missing from the vocabulary"
                    )
                pos = n
                while pos > 0:
                    l = bp[pos]
                    out_w.append(w)
                    out_f.append(int(freq))
                    out_p.append(pos - l)
                    out_s.append(w[pos - l : pos])
                    pos -= l
            yield pd.DataFrame(
                {"word": out_w, "freq": out_f, "pos": out_p, "piece": out_s}
            )

    return words.select(
        F.col("word").cast("string"), F.col("freq").cast("long")
    ).mapInPandas(segment, "word string, freq long, pos long, piece string")


def _unigram_recount(
    words: DataFrame,
    costs: DataFrame,
    chars: DataFrame,
    lmax: int,
    max_word_len: int | None,
) -> DataFrame:
    """One hard-EM M-step: segment the word vocab under ``costs``,
    re-count pieces (× word freq), drop pieces that won no occurrence
    — EXCEPT single chars, which are kept with a count floor of 1 so
    every word stays segmentable (Kudo's never-prune-chars rule)."""
    cost_map = {r["piece"]: int(r["cost_mb"]) for r in costs.collect()}
    seg = unigram_viterbi_segment(words, cost_map, lmax, max_word_len)
    raw = seg.groupBy("piece").agg(F.sum("freq").cast("long").alias("cnt"))
    floored = chars.join(raw, "piece", "left").select(
        "piece",
        F.greatest(F.coalesce(F.col("cnt"), F.lit(0)), F.lit(1))
        .cast("long")
        .alias("cnt"),
    )
    return floored.unionByName(raw.where(F.length("piece") > 1))


def unigram_train(
    vocab: DataFrame,
    lmax: int = UNIGRAM_LMAX,
    rounds: int = UNIGRAM_ROUNDS,
    vocab_size: int = UNIGRAM_VOCAB,
    max_word_len: int | None = None,
) -> DataFrame:
    """Deterministic unigram-LM training over a (word, freq)
    vocabulary — the k-means/BPE-train shape applied to Kudo's model:

    1. seed counts c0 = all substrings ≤ ``lmax`` × word frequency;
    2. ``rounds`` hard-EM rounds: costs from c_r (unigram_costs) →
       Viterbi recount → c_{r+1} (char floor, zero-count drop);
    3. prune to the top ``vocab_size`` pieces by (cnt DESC, piece ASC)
       UNION all single chars, costs re-normalised over the kept set;
    4. one post-prune recount under those costs.

    Returns the final model (piece, cnt, cost_mb). Scale shape: the
    corpus is scanned ONCE into the distinct-word vocab (the tx20
    argument); each round is one Arrow-batched segmentation pass over
    that vocab plus one (piece → count) partial aggregate, and only
    the vocab-sized cost table touches the driver (coordination,
    never data). Counts are localCheckpointed per round so round r+1
    does not re-execute rounds 1..r (the CC iterative-loop lesson).
    Every arithmetic step is int64; queries/_unigram_sql.py replays
    all rounds unrolled, so the whole trajectory — not just the end
    state — is oracle-hash-pinned (tx28)."""
    words = vocab.select(
        F.col("word").cast("string"), F.col("freq").cast("long")
    ).localCheckpoint(eager=True)
    chars = (
        words.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.col("word").substr(i, F.lit(1)),
                )
            ).alias("piece")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    counts = unigram_seed_counts(words, lmax).localCheckpoint(eager=True)
    for _ in range(int(rounds)):
        counts = _unigram_recount(
            words, unigram_costs(counts), chars, lmax, max_word_len
        ).localCheckpoint(eager=True)
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(int(vocab_size))
        .select("piece")
    )
    kept = top.unionByName(chars).distinct()
    pruned = counts.join(kept, "piece", "left_semi")
    final_counts = _unigram_recount(
        words, unigram_costs(pruned), chars, lmax, max_word_len
    ).localCheckpoint(eager=True)
    return unigram_costs(final_counts)


def unigram_encode(
    vocab: DataFrame,
    model: DataFrame,
    lmax: int = UNIGRAM_LMAX,
    max_word_len: int | None = None,
) -> DataFrame:
    """Viterbi-encode every (word, freq) row under a trained model
    (piece, cnt, cost_mb): returns (word, freq, n_pieces, seg) with
    ``seg`` the space-joined pieces in position order — the
    SentencePiece encode step sharing the exact DP spec (and tie
    break) training used, so the tokenizer is self-consistent
    end-to-end (the tx20/tx21 relationship)."""
    cost_map = {r["piece"]: int(r["cost_mb"]) for r in model.collect()}
    seg = unigram_viterbi_segment(vocab, cost_map, lmax, max_word_len)
    return (
        seg.groupBy("word", "freq")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pieces"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "piece"))
                    ),
                    lambda s: s["piece"],
                ),
                " ",
            ).alias("seg"),
        )
    )


def grouped_median_mad(
    df: DataFrame, group_col: str, value_col: str, id_col: str
) -> DataFrame:
    """Exact per-group LOWER-MEDIAN and MAD (median absolute
    deviation) in pure integer order statistics: ``(group, n, med,
    mad)``.

    The robust-statistics basis for quality gates — mean/stddev move
    with the very outliers a gate exists to catch; median/MAD do not
    (50% breakdown point). 'Median' here is the ceil(n/2)-th smallest
    value (the LOWER median): a well-defined ORDER STATISTIC, always
    an actual data value, always an integer — the interpolated
    n-even median would mint .5 fractions and drag the whole
    downstream gate out of exact arithmetic. Ties inside the rank
    window break on ``id_col`` for a total order (any tie-break
    yields the same order STATISTIC value; the tie-break just makes
    the plan deterministic). MAD is the same statistic over
    |x − med|.

    Plan shape: two rank windows over the group partition (value
    pass, deviation pass) with a broadcast of the per-group medians
    between them — the exact-order-statistic price; at 100 TB grain
    use q45's mergeable log-histogram quantiles instead and accept
    the banded answer (this operator is the exact calibration tool,
    q45 the production sketch — the q26b/q45 split)."""
    from pyspark.sql import Window

    def lower_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        # The ceil(n/2)-th smallest == rank (n+1) div 2 — the LOWER
        # median for even n (rank n/2), the middle for odd.
        w = Window.partitionBy("_g").orderBy(col, "_id")
        m = F.col("_n") + 1
        return (
            frame.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("_g")))
            .where(F.col("_rn") == ((m - (m % 2)) / 2).cast("long"))
            .select(F.col("_g"), F.col(col).alias(out), F.col("_n").alias("n"))
        )

    # A NULL value would sort FIRST and shift the order statistic (or
    # become the median itself) — raise instead of silently ranking it.
    v = F.col(value_col).cast("long")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.when(v.isNotNull(), v)
        .otherwise(
            F.raise_error(
                F.lit(f"grouped_median_mad needs non-null {value_col!r}")
            ).cast("long")
        )
        .alias("_v"),
    )
    med = lower_median(base, "_v", "med")
    dev = base.join(F.broadcast(med.select("_g", "med")), "_g").withColumn(
        "_d", F.abs(F.col("_v") - F.col("med"))
    )
    mad = lower_median(dev, "_d", "mad")
    return (
        med.select("_g", "n", "med")
        .join(mad.select("_g", "mad"), "_g")
        .select(
            F.col("_g").alias(group_col),
            F.col("n").cast("long").alias("n"),
            "med",
            "mad",
        )
    )


def poly_hash_kernel(col: Column | str) -> Column:
    """Arrow-batched numpy twin of ``functions.poly_hash`` — bit-equal
    (parity test-pinned, incl. non-ASCII and NULL/empty rows), for the
    per-OCCURRENCE volume sites (q47 hashes every bigram occurrence in
    the corpus; the Catalyst form folds an interpreted HOF over every
    character of every row — the dominant cost of that pass, measured).

    Vectorization shape (the minhash_signatures_kernel precedent): the
    batch decodes to UTF-32-LE so the buffer is exactly one uint32 code
    point per character (the JVM form hashes code points — F.ascii =
    codePointAt), then the polynomial fold runs as a masked column
    sweep over (rows × max_len): acc = (acc·131 + cp) mod p per column.
    Every intermediate ≤ p·131 + 2^21 < 2^38, exact in int64. NULL in →
    NULL out (the Catalyst form's split(NULL) propagation); empty
    string → 0 (the fold's init).
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf
    import numpy as np

    from ..functions import POLY_BASE, POLY_P

    @pandas_udf(T.LongType())
    def _ph(s: pd.Series) -> pd.Series:
        res = pd.Series([None] * len(s), dtype="object")
        mask = s.notna().to_numpy()
        vals = s[mask]
        if len(vals):
            encs = [x.encode("utf-32-le") for x in vals]
            lens = np.fromiter((len(e) >> 2 for e in encs), dtype=np.int64)
            if lens.sum():
                buf = np.frombuffer(b"".join(encs), dtype=np.uint32).astype(
                    np.int64
                )
            else:
                buf = np.zeros(0, dtype=np.int64)
            off = np.zeros(len(encs), dtype=np.int64)
            np.cumsum(lens[:-1], out=off[1:])
            acc = np.zeros(len(encs), dtype=np.int64)
            mlen = int(lens.max()) if len(lens) else 0
            for j in range(mlen):
                live = lens > j
                acc[live] = (acc[live] * POLY_BASE + buf[off[live] + j]) % POLY_P
            res[mask] = acc
        return res.astype("object")

    c = F.col(col) if isinstance(col, str) else col
    return _ph(c)


def bigram_hash_rows_kernel(
    df: DataFrame, text_col: str, out_cols: tuple[str, str] = ("bigram", "h")
) -> DataFrame:
    """EXPLODED (bigram, poly_hash(bigram)) rows from raw text as one
    Arrow kernel pass — bit-equal to the Catalyst
    ``_bigram_stream + poly_hash`` chain (parity test-pinned): Spark's
    ``split(text, ' ')`` keeps empty tokens exactly like Python's
    ``str.split(' ')``, the bigram strings are the same
    space-joined adjacent-token pairs, and the hash is the UTF-32
    masked column sweep of ``poly_hash_kernel``. Replaces the
    per-occurrence interpreted transform/concat_ws/HOF-fold chain that
    dominated q47's checkpoint pass (measured: the stream build alone
    was 2.3 s of the 2.7 s pass at sf0.1). NULL/single-token docs emit
    no rows (explode-of-empty semantics)."""
    from pyspark.sql import types as T

    from ..functions import POLY_BASE, POLY_P

    import numpy as np

    bigram_col, h_col = out_cols
    out_schema = f"{bigram_col} string, {h_col} long"

    def crunch(batches):
        for pdf in batches:
            texts = pdf[text_col].dropna().tolist()
            grams: list[str] = []
            for t in texts:
                toks = t.split(" ")
                if len(toks) >= 2:
                    grams.extend(
                        toks[i] + " " + toks[i + 1]
                        for i in range(len(toks) - 1)
                    )
            if not grams:
                continue
            encs = [g.encode("utf-32-le") for g in grams]
            lens = np.fromiter((len(e) >> 2 for e in encs), dtype=np.int64)
            buf = np.frombuffer(b"".join(encs), dtype=np.uint32).astype(
                np.int64
            )
            off = np.zeros(len(encs), dtype=np.int64)
            np.cumsum(lens[:-1], out=off[1:])
            acc = np.zeros(len(encs), dtype=np.int64)
            for j in range(int(lens.max())):
                live = lens > j
                acc[live] = (
                    acc[live] * POLY_BASE + buf[off[live] + j]
                ) % POLY_P
            yield pd.DataFrame({bigram_col: grams, h_col: acc})

    return df.select(text_col).mapInPandas(crunch, schema=out_schema)
