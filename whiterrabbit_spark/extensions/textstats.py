"""Text analysis operators for training-data pipelines.

All expressions are JVM-side built-ins (regexp/array functions) — no
Python UDFs, no serialization hops. The split/regexp parts run inside
whole-stage codegen; the higher-order lambdas (``F.filter`` over token
arrays) evaluate as interpreted JVM expressions — still map-side and
shuffle-free, the documented cost of keeping token-equality semantics the
DuckDB oracle can reproduce exactly (``list_filter`` + ``IN``). Regex
literals are kept to the syntax subset shared by Java regex (Spark) and
RE2 (DuckDB) so the oracle recomputes them identically.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import pin

# Tiny per-language stopword lists for the n-gram/stopword-hit language
# heuristic. Deliberately small + deterministic; a real deployment would
# plug in fastText or CLD3 via a pandas UDF (see multimodal.py for the
# UDF plumbing pattern).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"),
}

PUNCT_CLASS = r"[.,;:!?]"
STOPWORDS = LANG_MARKERS["en"]


def _isin_fn(words: tuple[str, ...]):
    """One-arg HOF lambda testing membership in ``words``. A bare
    ``lambda x, w=words:`` would surface as a TWO-arg function to
    PySpark's higher-order-function arity sniffing (the second slot is
    the element index), so the closure must bind the word list outside
    the lambda."""
    return lambda x: x.isin(*words)


def tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(tokens(text)))


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_count(text: Column) -> Column:
    return F.size(F.split(text, PUNCT_CLASS)) - 1


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*stopwords)))


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc quality features: counts + ratios (length, punctuation,
    stopwords, mean token length)."""
    t = F.col(text_col)
    tc = token_count(t)
    return df.select(
        F.col(id_col).alias("doc_id"),
        char_count(t).alias("n_chars"),
        tc.alias("n_tokens"),
        punct_count(t).alias("n_punct"),
        stopword_count(t).alias("n_stopwords"),
        (punct_count(t) / F.greatest(char_count(t), F.lit(1))).alias("punct_ratio"),
        (stopword_count(t) / F.greatest(tc, F.lit(1))).alias("stopword_ratio"),
        (
            (char_count(t) - (tc - 1)) / F.greatest(tc, F.lit(1))
        ).alias("mean_token_len"),
    )


# GPT-2-style pretokenizer shape, restricted to the regex subset shared by
# Java regex (Spark) and RE2 (DuckDB): contraction tails, letter runs,
# digit runs, other-symbol runs — each with an optional leading space.
BPE_TOKEN_RE = r"'(?:ll|ve|re|[sdmt])| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column) -> Column:
    """Token count under a BPE-ish pretokenization regex (GPT-2 shaped).

    Counts pretokenizer pieces, the unit a byte-pair encoder would merge
    within — a far better LLM-token estimate than whitespace counting for
    punctuation-heavy or contraction-heavy text."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def quality_exprs_from_counts(
    nc: Column, tc: Column, n_punct: Column, n_stop: Column
) -> dict[str, Column]:
    """Quality-score formulas as pure arithmetic over already-computed
    counts. Callers on a hot path should compute the counts in their
    OWN projection aliases first (token split + HOF filters run once
    per row) and feed the aliases here — an expression tree that embeds
    ``stopword_count(t)`` directly re-evaluates the split/filter at
    every reference (quality_score + both quality_class branches = 3×;
    measured ~5× wall on the 2M-doc curation scan)."""
    nc = nc.cast("double")
    tc = tc.cast("double")
    length_score = F.when(nc < 50, nc / F.lit(50.0)).when(
        nc > 5000, F.greatest(F.lit(0.0), 1 - (nc - 5000) / F.lit(5000.0))
    ).otherwise(F.lit(1.0))
    punct_ratio = n_punct / F.greatest(nc, F.lit(1.0))
    stop_ratio = n_stop / F.greatest(tc, F.lit(1.0))
    punct_score = 1 - F.least(punct_ratio / F.lit(0.2), F.lit(1.0))
    stop_score = F.least(stop_ratio / F.lit(0.1), F.lit(1.0))
    score = 0.4 * length_score + 0.3 * punct_score + 0.3 * stop_score
    return {
        "length_score": length_score,
        "punct_score": punct_score,
        "stop_score": stop_score,
        "quality_score": score,
        "quality_class": F.when(score >= 0.7, F.lit("keep"))
        .when(score >= 0.4, F.lit("review"))
        .otherwise(F.lit("drop")),
    }


def quality_exprs(t: Column) -> dict[str, Column]:
    """Column-level quality features — composable into a single projection
    (see ``curation_pipeline``: feature extraction must not re-scan or
    self-join the corpus)."""
    return quality_exprs_from_counts(
        char_count(t), token_count(t), punct_count(t), stopword_count(t)
    )


def lang_id_from_hits(hits: dict[str, Column]) -> tuple[Column, Column]:
    """(detected_lang, marker_hits) from per-language hit-count columns —
    asc tie-break, 'und' on zero hits. The argmax chain references each
    hit count ~3× (comparison + greatest + carry), so on a hot path the
    counts must be projection aliases, not inline HOF filters."""
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(hits):
        s = hits[lang]
        best_lang = F.when(s > best_score, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(s, best_score)
    return best_lang, best_score


def lang_id_exprs(t: Column) -> tuple[Column, Column]:
    """(detected_lang, marker_hits) columns — asc tie-break, 'und' on zero
    hits."""
    return lang_id_from_hits(lang_scores(t))


def fingerprint_expr(t: Column) -> Column:
    return F.md5(F.regexp_replace(F.lower(F.trim(t)), r"\s+", " "))


# PII patterns, restricted to the Java-regex ∩ RE2 subset (no lookaround,
# no backreferences) so Spark and the DuckDB oracle match identically.
# Applied in list order — earlier categories consume their text before
# later ones run (email before phone, SSN before phone, so `a@1-555` style
# overlaps resolve deterministically).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def redact_pii_exprs(t: Column) -> dict[str, Column]:
    """``n_<category>`` match counts plus ``redacted`` text with every
    match replaced by its placeholder. Pure map-side regexp expressions —
    codegen'd, shuffle-free, and identical under RE2 (oracle-checkable).

    Counts are taken on the text as each pattern sees it (after earlier
    categories redacted), matching the sequential-replacement semantics a
    single-pass scrubber has.
    """
    out: dict[str, Column] = {}
    cur = t
    for name, pat, token in PII_PATTERNS:
        out[f"n_{name}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    out["redacted"] = cur
    return out


def redact_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per document: PII category counts + redacted text."""
    e = redact_pii_exprs(F.col(text_col))
    return df.select(
        F.col(id_col),
        *[e[f"n_{n}"].alias(f"n_{n}") for n, _, _ in PII_PATTERNS],
        e["redacted"].alias("redacted"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Composite document-quality score in [0, 1] from length, punctuation,
    and stopword signals (Gopher/C4-style rule-of-thumb filters, expressed
    as smooth penalties instead of hard drops):

    * length_score — 1 inside [50, 5000] chars, linear falloff outside;
    * punct_score  — 1 - min(punct_ratio / 0.2, 1): symbol soup penalized;
    * stop_score   — min(stopword_ratio / 0.1, 1): no stopwords ⇒ not prose.

    score = 0.4·length + 0.3·punct + 0.3·stop, plus a keep/review/drop
    class at 0.7 / 0.4. All JVM-side expressions, STAGED so the token
    split and stopword HOF filter run once per row (the formulas
    reference the counts 3-6x — quality_score plus both quality_class
    branches — and inline counts re-evaluate per reference)."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        char_count(t).alias("__nc"),
        punct_count(t).alias("__np"),
        (F.trim(t) == "").alias("__blank"),
        tokens(t).alias("__toks"),
    )
    toks = F.col("__toks")
    counts = base.select(
        "doc_id",
        "__nc",
        "__np",
        F.when(F.col("__blank"), F.lit(0)).otherwise(F.size(toks)).alias(
            "__tc"
        ),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).alias(
            "__nstop"
        ),
    )
    q = quality_exprs_from_counts(
        F.col("__nc"), F.col("__tc"), F.col("__np"), F.col("__nstop")
    )
    return counts.select(
        "doc_id",
        *[expr.alias(name) for name, expr in q.items()],
    )


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language ID: argmax of stopword hits, deterministic
    tie-break on language code ascending; 'und' (undetermined) when no
    marker hits at all. STAGED: the chained when/greatest argmax nests
    every earlier language's hit count, so each inline count would
    re-split + re-filter up to ~2·|langs| times per row (measured 32 s
    warm on a 2M-doc pass vs ~6 s hoisted); splitting once and counting
    once per language in their own projections keeps the argmax pure
    arithmetic."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(t).alias("__toks")
    )
    toks = F.col("__toks")
    hits = base.select(
        "doc_id",
        *[
            F.size(F.filter(toks, _isin_fn(words))).alias(
                f"__hit_{lang}"
            )
            for lang, words in sorted(LANG_MARKERS.items())
        ],
    )
    best_lang, best_score = lang_id_from_hits(
        {lang: F.col(f"__hit_{lang}") for lang in LANG_MARKERS}
    )
    return hits.select(
        "doc_id",
        best_lang.alias("detected_lang"),
        best_score.alias("marker_hits"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Document fingerprint: md5 over the whitespace-normalized, lowercased
    text — the cheap exact-dup key for normalized content."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        fingerprint_expr(F.col(text_col)).alias("fingerprint"),
    )


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array == the
    count of the most frequent element — computed as a single left fold
    (``F.aggregate``), entirely map-side.

    This is the shuffle-free form of "mode frequency": the obvious
    ``explode → groupBy(doc_id, gram) → max(count)`` costs a full shuffle
    of every n-gram occurrence (at 100 TB, a shuffle ~ the corpus size);
    sorting within the row and run-length-scanning is O(tokens·log tokens)
    per document with zero data movement. Parity between the two forms is
    pinned in tests/test_extensions.py.
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    * ``dup_token_frac`` — fraction of tokens that are repeats of an
      earlier token (1 − distinct/total); word-salad ≈ high.
    * ``top_bigram_count`` / ``top_bigram_frac`` — occurrences of the most
      frequent word bigram and its share of all bigrams ("the the the"
      boilerplate detector; Gopher filters at top-2-gram frac > 0.2).

    Every signal is a row-wise expression over the token array (split /
    array_distinct / sort + run-length fold) — no explode, no shuffle;
    the whole operator is a projection fused into the scan stage. The
    token split is hoisted into its own projection alias: inline inside
    the bigram ``transform`` lambda it would re-run per position (an
    expression in a lambda body evaluates per element — the dup_spans
    lesson, PLANS.md round 5).
    """
    t = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(t).alias("__n_tok"),
        tokens(t).alias("__toks"),
    )
    toks, n_tok = F.col("__toks"), F.col("__n_tok")
    n_distinct = F.when(n_tok == 0, F.lit(0)).otherwise(F.size(F.array_distinct(toks)))
    bigrams = F.when(
        n_tok >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_bigrams = F.size(bigrams)
    top_count = _max_run_length(F.array_sort(bigrams))
    return base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        ((n_tok - n_distinct) / F.greatest(n_tok, F.lit(1))).alias("dup_token_frac"),
        top_count.alias("top_bigram_count"),
        (top_count / F.greatest(n_bigrams, F.lit(1))).alias("top_bigram_frac"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF —
    keyword extraction over a corpus.

    Plan shape (the scalable decomposition):
    1. explode tokens → TF per (doc, term): one shuffle, partial counts
       map-side;
    2. document frequency per term from the TF table (``count(*)`` per
       term — no second corpus scan);
    3. DF joins back BROADCAST (a vocabulary is tiny next to its corpus),
       so scoring is map-side over the TF table;
    4. top-k per doc via ``row_number`` bounded-frame window
       (``WindowGroupLimit`` pushes the limit into the sort).

    score = tf · ln(n_docs / (1 + df)); ties break on term ascending.
    ``ln`` is IEEE-identical across engines, so the oracle reproduces
    scores bit-for-bit before rounding.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(tokens(F.col(text_col)), lambda t: t != "")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id", "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / (1 + F.col("df")))).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    character k-gram of the whitespace-normalized text, slide a window of
    w consecutive k-gram hashes, keep each window's minimum — a ~1/w
    subsample of positions that is robust to insertions/reordering (any
    shared substring ≥ w+k-1 chars yields a shared fingerprint).

    Rolling-hash note: Karp-Rabin rolling is an O(1)-per-position
    *computation* trick; the fingerprint set is defined by the k-gram hash
    values, which we compute via md5→int so the DuckDB oracle reproduces
    them bit-identically. Selection is a windowed running-min partitioned
    per doc — one shuffle on doc_id.

    Output: distinct (doc_id, fingerprint) rows.
    """
    from pyspark.sql import Window

    # normalization hoisted to its own projection: inline inside the
    # transform lambda the regexp_replace would re-run per character
    # position (lambda bodies evaluate per element)
    normed = df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_replace(
            F.lower(F.trim(F.col(text_col))), r"\s+", " "
        ).alias("__norm"),
    )
    norm = F.col("__norm")
    grams = normed.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
                lambda i: F.struct(i.alias("pos"), norm.substr(i, F.lit(k)).alias("g")),
            )
        ).alias("e"),
    ).select("doc_id", "e.pos", "e.g")
    hashed = grams.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("g")), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        hashed.withColumn("wmin", F.min("h").over(win))
        .where(F.col("h") == F.col("wmin"))
        .select("doc_id", F.col("h").alias("fingerprint"))
        .distinct()
    )


def unigram_logppl(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    train_df: DataFrame | None = None,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Unigram-LM perplexity scoring (the CCNet/Wikipedia-LM quality-filter
    family, reduced to its distributable core): fit an additive-smoothed
    unigram model p(t) = (count(t) + α) / (N + α·V) on ``train_df`` (the
    corpus itself when None — self-perplexity flags out-of-distribution
    documents), then score every document by the mean negative log
    probability of its token occurrences and its exp, the perplexity.
    Low perplexity ≈ in-distribution/common text, high ≈ gibberish or
    domain outliers; both tails are standard filter candidates. A KenLM
    5-gram model is the production upgrade — the Spark shape (broadcast
    model, map-side scoring, one groupBy) is identical.

    Returns ``(id_col, n_tokens, avg_neg_logp, perplexity)``. Documents
    with NULL text have no token rows and are absent from the output
    (same on the DuckDB oracle side) — callers using the frame as a
    keep/drop score table should treat missing ids as unscorable.

    Shapes: LM fit is one explode + groupBy(token) — O(tokens) shuffle
    collapsing to O(vocab); N and V collect as two scalars (inlined
    literals). Scoring joins the token stream against the O(vocab) count
    table — broadcast by default (a unigram vocab is MB-scale even at
    100 TB; ``broadcast_lm=False`` falls back to a shuffle join for
    pathological vocabularies), then ONE map-side-combinable
    groupBy(doc). Unseen tokens (cross-corpus scoring) get the α-mass via
    the LEFT join's coalesce.
    """
    train = train_df if train_df is not None else df
    lm = pin(
        # persisted (released with the caller's cache_scope): the N/V
        # action below and the scoring join both read it — without this
        # the O(tokens) fit shuffle runs twice
        train.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    n_total, vocab = lm.agg(F.sum("_c"), F.count(F.lit(1))).first()
    # empty training corpus: V=0 makes Laplace degenerate — fall back to
    # denom=alpha so every token scores p=alpha/alpha=1 (ppl 1) instead
    # of raising on float(None) / dividing by zero
    denom = float(n_total or 0) + alpha * float(vocab or 0) or alpha

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    joined = toks.join(F.broadcast(lm) if broadcast_lm else lm, "tok", "left")
    neg_logp = -F.log(
        (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(alpha)) / F.lit(denom)
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(neg_logp).alias("avg_neg_logp"),
        )
        .withColumn("perplexity", F.exp(F.col("avg_neg_logp")))
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Pointwise-mutual-information collocation mining: the corpus's
    ``top_k`` adjacent word pairs by PMI = ln(N·c_xy / (c_x·c_y)) among
    bigrams occurring at least ``min_count`` times — the standard
    phrase/term-of-art extractor (word2vec-phrases, Gensim ``Phrases``)
    over occurrence counts, not per-doc distinct sets.

    Returns ``(w1, w2, pair_count, pmi)``, PMI descending.

    Shapes: ONE explode+groupBy job over bigram occurrences (O(tokens)
    shuffle with map-side combine → O(distinct bigrams) rows, persisted);
    unigram counts derive from the bigram frame itself via PARTITIONED
    windows on each side — the corpus is scanned once. N (total bigram
    occurrences) is a scalar: it collects from one agg over the counted
    frame and inlines as a literal — never an unpartitioned window, which
    would funnel every distinct bigram through one task. The min_count
    HAVING runs before the top-k, and the final ordering is a distributed
    ``TakeOrderedAndProject`` over the O(distinct bigrams) frame.
    """
    toks = tokens(F.col(text_col))
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n),
        F.slice(toks, 2, n),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = df.select(F.explode(bigrams).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    # persisted across the in-function total agg AND the caller's
    # evaluation of the returned plan; O(distinct bigrams) rows, released
    # with the caller's cache_scope
    counted = pin(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    )
    total_n = counted.agg(F.sum("pair_count")).first()[0] or 0
    left = Window.partitionBy("w1")
    right = Window.partitionBy("w2")
    scored = counted.select(
        "w1", "w2", "pair_count",
        F.log(
            F.lit(float(total_n))
            * F.col("pair_count")
            / (
                F.sum("pair_count").over(left).cast("double")
                * F.sum("pair_count").over(right).cast("double")
            )
        ).alias("pmi"),
    ).where(F.col("pair_count") >= min_count)
    # top-k cut orders on PMI rounded to 6dp with a lexical tie-break, so
    # the ranking is reproducible cross-engine (a last-ulp ln() divergence
    # cannot reorder the cut)
    return scored.orderBy(
        F.desc(F.round("pmi", 6)), F.asc("w1"), F.asc("w2")
    ).limit(top_k)


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    top_v: int = 1000,
) -> DataFrame:
    """Vocabulary builder with coverage curve (the tokenizer-prep
    question: "how much of the corpus does a V-word vocabulary cover?"):
    the ``top_v`` most frequent tokens with rank, occurrence count, corpus
    frequency, and the cumulative covered fraction.

    Returns ``(rank, token, count, frac, cum_frac)``, rank ascending —
    ``cum_frac`` at rank V is the coverage a V-entry vocab achieves; the
    remainder is the OOV rate.

    Shapes: one explode+groupBy(token) job (O(tokens) shuffle with
    map-side combine → O(vocab) rows, persisted); the corpus total is a
    scalar collected from one agg and inlined as a literal (an
    unpartitioned window here would funnel the whole vocabulary through
    one task); the top-V cut is a distributed ``TakeOrderedAndProject``;
    only the ≤V-row cut frame passes through the single-partition ranking
    window (bounded by construction, the pack_shards rule). Ties break
    lexically for a reproducible cut.
    """
    # persisted across the total agg and the caller's evaluation;
    # O(vocab) rows, released with the caller's cache_scope
    counted = pin(
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    total = counted.agg(F.sum("count")).first()[0] or 0
    cut = counted.orderBy(F.desc("count"), F.asc("token")).limit(top_v)
    w = Window.orderBy(F.desc("count"), F.asc("token"))
    return cut.select(
        F.row_number().over(w).alias("rank"),
        "token",
        "count",
        (F.col("count") / F.lit(float(total))).alias("frac"),
        (
            F.sum("count").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            / F.lit(float(total))
        ).alias("cum_frac"),
    )


def normalize_expr(
    text: Column,
    form: str = "NFC",
    lowercase: bool = True,
    collapse_ws: bool = True,
) -> Column:
    """The normalization chain as a reusable Column (see
    :func:`normalize_text` for semantics/shape): unicodedata pandas UDF,
    then JVM-side case/whitespace folding."""
    import unicodedata

    import pandas as pd

    def _norm_fn(s):
        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    # real annotation objects: the module-wide postponed-annotations mode
    # would otherwise hand pyspark unresolvable string hints
    _norm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    out = F.pandas_udf(_norm_fn, "string")(text)
    if lowercase:
        out = F.lower(out)
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
    lowercase: bool = True,
    collapse_ws: bool = True,
) -> DataFrame:
    """Unicode text normalization — the canonicalization pass run before
    any hash-based dedup so that composed/decomposed encodings of the
    same glyphs (é as U+00E9 vs e+U+0301), width variants (NFKC), and
    whitespace/case noise produce identical fingerprints.

    Returns ``(id_col, norm_text)``.

    The Unicode normalization itself is the ONE text op here with no JVM
    built-in, so it is a declared slow path: an Arrow-batched pandas UDF
    over stdlib ``unicodedata`` — map-side, shuffle-free, vectorized
    transfer (the multimodal-module pattern). Case folding and whitespace
    collapse stay JVM-side expressions applied after it. The DuckDB
    oracle reproduces the chain with ``nfc_normalize`` (NFC only — NFKC
    is unit-pinned instead).
    """
    return df.select(
        F.col(id_col),
        normalize_expr(
            F.col(text_col), form, lowercase, collapse_ws
        ).alias("norm_text"),
    )


# Gopher (Rae et al. 2021, table A1) + C4 (Raffel et al. 2020 §2.2)
# heuristic document filters. Thresholds are the published defaults.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORD_HITS = 2
C4_MIN_SENTENCES = 3
C4_BAD_PHRASES = ("lorem ipsum", "javascript", "cookie policy", "terms of use")
# Gopher's stopword-presence rule uses a tiny common-word list, not the
# full stopword set: the document must contain ≥2 DISTINCT of these.
GOPHER_COMMON_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def heuristic_filter_exprs(t: Column) -> dict[str, Column]:
    """Per-document Gopher+C4 heuristic quality signals, all JVM
    built-ins (map-only, codegen):

    * ``word_count`` / ``mean_word_len`` — Gopher length gates;
    * ``symbol_ratio`` — (# + …) per word (Gopher symbol-to-word rule);
    * ``n_sentences`` — terminal-punctuation count (C4's "≥3 sentences"
      proxy: sentence segmentation without a model IS terminal-punct
      counting);
    * ``stopword_hits`` — distinct common-word presence (Gopher);
    * ``has_bad_phrase`` — C4 blocklist containment;
    * ``keep`` — conjunction of all gates.
    """
    toks = tokens(t)
    wc = token_count(t)
    # characters inside words = total minus whitespace
    word_chars = F.length(F.regexp_replace(t, r"\s", ""))
    mwl = word_chars / F.greatest(wc, F.lit(1))
    symbols = F.regexp_count(t, F.lit("#")) + F.regexp_count(t, F.lit(r"\.\.\."))
    symbol_ratio = symbols / F.greatest(wc, F.lit(1))
    n_sentences = F.regexp_count(t, F.lit("[.!?]"))
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in GOPHER_COMMON_WORDS]))
    )
    low = F.lower(t)
    bad = None
    for p in C4_BAD_PHRASES:
        c = low.contains(p)
        bad = c if bad is None else (bad | c)
    keep = (
        (wc >= GOPHER_MIN_WORDS)
        & (wc <= GOPHER_MAX_WORDS)
        & (mwl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mwl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (n_sentences >= C4_MIN_SENTENCES)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
        & ~bad
    )
    return {
        "word_count": wc,
        "mean_word_len": mwl,
        "symbol_ratio": symbol_ratio,
        "n_sentences": n_sentences,
        "stopword_hits": stop_hits,
        "has_bad_phrase": bad,
        "keep": keep,
    }


def heuristic_filters(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher+C4 document filter flags — ONE map-only projection fused
    into the scan (no shuffle; composes with any downstream dedup/split
    stage in the same stage)."""
    e = heuristic_filter_exprs(F.col(text_col))
    return df.select(
        F.col(id_col),
        e["word_count"].alias("word_count"),
        e["mean_word_len"].alias("mean_word_len"),
        e["symbol_ratio"].alias("symbol_ratio"),
        e["n_sentences"].alias("n_sentences"),
        e["stopword_hits"].alias("stopword_hits"),
        e["has_bad_phrase"].alias("has_bad_phrase"),
        e["keep"].alias("keep"),
    )


# Explicit codepoint ranges (identical by construction across engines —
# Unicode script property names vary between regex engines, raw ranges
# don't). Deliberately the major blocks only: a script profiler for
# corpus routing, not a full Unicode classifier.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z",
    "cyrillic": "\u0400-\u04FF",
    "greek": "\u0370-\u03FF",
    "arabic": "\u0600-\u06FF",
    "devanagari": "\u0900-\u097F",
    "cjk": "\u4E00-\u9FFF",
    "hangul": "\uAC00-\uD7AF",
    "digit": "0-9",
}


def script_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document writing-script profile: the fraction of characters in
    each major Unicode block plus the dominant script — the
    multilingual-corpus routing signal (language-ID models are per-script;
    mixed-script documents are a known spam/boilerplate marker).

    One map-only projection of ``regexp_count`` per block (JVM codegen,
    fused into the scan). ``dominant_script`` is the argmax with a fixed
    tie order (the SCRIPT_RANGES declaration order), 'other' when no
    block matches any character."""
    t = F.col(text_col)
    total = F.greatest(F.length(t), F.lit(1))
    fracs = {
        name: F.regexp_count(t, F.lit(f"[{rng}]")) / total
        for name, rng in SCRIPT_RANGES.items()
    }
    pairs = F.array(
        *[
            F.struct(F.col(f"{n}_frac").alias("f"), F.lit(-i).alias("ni"))
            for i, n in enumerate(SCRIPT_RANGES)
        ]
    )
    names = F.array(*[F.lit(n) for n in SCRIPT_RANGES])
    best = F.array_max(pairs)  # struct compare: max f, then max ni — ties
    # resolve to the FIRST declared block (a first-wins CASE chain in SQL)
    dominant = F.when(best["f"] > 0, F.element_at(names, -best["ni"] + 1)).otherwise(
        F.lit("other")
    )
    out = df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        *[e.alias(f"{n}_frac") for n, e in fracs.items()],
    )
    return out.withColumn("dominant_script", dominant)


def doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) adjacent-token pairs per document — the bigram
    stream; docs with <2 tokens produce no rows. Map-only
    (slice + arrays_zip + explode, all codegen)."""
    t = tokens(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))).alias("w1"),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("w2"),
    )
    return (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )


def bigram_logppl(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    lam: float = 0.7,
    train_df: DataFrame | None = None,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Interpolated bigram-LM perplexity — the next rung above
    ``unigram_logppl`` on the CCNet-style quality-filter ladder:

        p(w2 | w1) = λ · c(w1,w2)/c(w1)  +  (1−λ) · (c(w2)+α)/(N+α·V)

    (Jelinek-Mercer interpolation with an additive-smoothed unigram
    backoff; c(w1) is the token's full unigram count — the negligible
    last-token-of-doc context difference is absorbed by the backoff and
    mirrored exactly in the oracle). Documents with <2 tokens have no
    bigram rows and are absent from the output.

    Shapes: fit = ONE exploded-bigram groupBy (O(bigrams) shuffle →
    O(bigram-vocab)) + the unigram fit; scoring = the doc bigram stream
    joined against both count tables — broadcast by default (bigram
    vocabularies run ~10× unigram's, still MB-to-GB at web scale;
    ``broadcast_lm=False`` for the shuffle-join fallback) — then ONE
    map-side-combinable groupBy(doc).

    Returns ``(id_col, n_bigrams, avg_neg_logp, perplexity)``.
    """
    train = train_df if train_df is not None else df
    uni = pin(
        train.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_c1"))
    )
    bi = pin(
        doc_bigrams(train, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c12"))
    )
    n_total, vocab = uni.agg(F.sum("_c1"), F.count(F.lit(1))).first()
    denom = float(n_total or 0) + alpha * float(vocab or 0) or alpha

    stream = doc_bigrams(df, text_col, id_col)
    maybe_b = F.broadcast if broadcast_lm else (lambda x: x)
    joined = (
        stream.join(maybe_b(bi), ["w1", "w2"], "left")
        .join(
            maybe_b(uni.select(F.col("tok").alias("w1"), F.col("_c1").alias("_ctx"))),
            "w1",
            "left",
        )
        .join(
            maybe_b(uni.select(F.col("tok").alias("w2"), F.col("_c1").alias("_nxt"))),
            "w2",
            "left",
        )
    )
    cond = F.coalesce(F.col("_c12"), F.lit(0)) / F.greatest(
        F.coalesce(F.col("_ctx"), F.lit(0)), F.lit(1)
    )
    backoff = (F.coalesce(F.col("_nxt"), F.lit(0)) + F.lit(alpha)) / F.lit(denom)
    neg_logp = -F.log(F.lit(lam) * cond + F.lit(1.0 - lam) * backoff)
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(neg_logp).alias("avg_neg_logp"),
        )
        .withColumn("perplexity", F.exp(F.col("avg_neg_logp")))
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    max_single_reducer: int | None = None,
) -> DataFrame:
    """Zipf's-law fit for the corpus vocabulary: OLS slope of
    ln(frequency) against ln(rank) over the term-frequency table (a
    natural corpus has slope ≈ −1; a flat slope screams synthetic /
    templated text, a cliff screams boilerplate domination) plus the
    fit r² — one of the cheapest whole-corpus authenticity probes.

    Scale shape: one explode→groupBy(term) collapses the corpus to its
    |vocab|-row frequency table; the rank window and the regr_* fold
    run over THAT, never over tokens. Rank ties break by term so both
    engines rank identically. ADAPTIVE (VERDICT r6 #5): Heaps' law
    puts a 100 TB web corpus's vocabulary in the billions — past
    ``max_single_reducer`` approx-distinct terms (one extra
    partial-aggregable probe pass) the rank runs as
    ``profile.distributed_row_number`` over the same (f DESC, term)
    ordering — range partitioning splits even the huge f=1 tie block
    across tasks — instead of a single-reducer global window.

    Returns one row ``(n_terms, n_tokens, zipf_slope, r2)``.
    """
    from whiterrabbit_spark import scale as _scale
    from whiterrabbit_spark.profile import (
        _approx_distinct,
        distributed_row_number,
    )

    if max_single_reducer is None:
        max_single_reducer = _scale.MAX_SINGLE_REDUCER
    toks = df.select(
        F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    order = [F.col("f").desc(), F.col("term").asc()]
    if max_single_reducer > 0 and (
        _approx_distinct(toks, "term") <= max_single_reducer
    ):
        ranked = freq.withColumn(
            "r", F.row_number().over(Window.orderBy(*order))
        )
    else:
        ranked = distributed_row_number(freq, order, "r")
    lf, lr = F.log(F.col("f").cast("double")), F.log(
        F.col("r").cast("double")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("f").alias("n_tokens"),
        F.regr_slope(lf, lr).alias("zipf_slope"),
        F.regr_r2(lf, lr).alias("r2"),
    )


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Variance-to-mean ratio of per-document counts for the corpus's
    top-``top_k`` terms — the burstiness/dispersion diagnostic: VMR ≈ 1
    is Poisson scatter (function words), VMR ≫ 1 is a bursty topical
    term that floods the few documents it appears in, VMR < 1 is
    suspiciously uniform (templates). Zero-count documents are part of
    the distribution — the moments come from per-(doc, term) counts
    plus the corpus document total, so absent docs need no rows.

    Scale shape: one explode→groupBy(doc, term) (the TF table), one
    |vocab|-row total to pick the top terms (broadcast back), one
    per-term moment fold. Nothing row-sized crosses a window.

    Returns ``(term, total_count, n_docs_with, mean_per_doc, vmr)``
    ordered by total_count DESC.
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("__doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    top = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("total"))
        .orderBy(F.col("total").desc(), "term")
        .limit(top_k)
        .select("term")
    )
    n_docs = df.select(
        F.count_distinct(id_col).alias("__n")
    )
    t = F.col("tf").cast("double")
    per_term = (
        tf.join(F.broadcast(top), "term")
        .groupBy("term")
        .agg(
            F.sum("tf").alias("total_count"),
            F.count(F.lit(1)).alias("n_docs_with"),
            F.sum(t).alias("__s"),
            F.sum(t * t).alias("__q"),
        )
    )
    n = F.col("__n").cast("double")
    mean = F.col("__s") / n
    var = F.col("__q") / n - mean * mean
    return (
        per_term.join(F.broadcast(n_docs))
        .select(
            "term",
            "total_count",
            "n_docs_with",
            mean.alias("mean_per_doc"),
            F.when(mean > 0, var / mean).alias("vmr"),
        )
        .orderBy(F.col("total_count").desc(), "term")
    )


def heaps_law(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_checkpoints: int = 10,
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve + fitted exponent: vocabulary
    size V as a function of corpus token count T at ``n_checkpoints``
    prefixes of the corpus (in ``id_col`` order), with the log-log OLS
    fit V ≈ K·T^β — the tokenizer-vocabulary sizing curve ("how much
    new vocab does the next 10× of data bring"). β ≈ 0.4–0.6 for
    natural text; β → 1 flags ID-like/noise tokens inflating the vocab.

    A sequential scan is the textbook formulation; the distributed one
    used here needs no order at all: a token first enters the
    vocabulary at min(doc id), so V(d) = |{tokens: min_id ≤ d}| and
    T(d) = Σ_{id ≤ d} tokens(doc) — both plain aggregations over the
    token frame, evaluated at all checkpoints via one conditional-sum
    fold each (no per-checkpoint rescan, no global sort). Checkpoints
    are id-range fractions: ``cp_i = min_id + ceil(i/n · (max_id −
    min_id))``.

    Returns ``(checkpoint, cutoff_id, cum_tokens, vocab_size,
    heaps_beta, heaps_log_k)`` — the fit columns repeat per row (they
    describe the whole curve).
    """
    base = df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
    tok = base.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.col(text_col))).alias("__t"),
    ).where(F.col("__t") != "")
    bounds = base.agg(
        F.min(F.col(id_col)).alias("__lo"), F.max(F.col(id_col)).alias("__hi")
    ).collect()[0]
    lo, hi = bounds["__lo"], bounds["__hi"]
    if lo is None:  # empty / all-null corpus: degenerate zero curve
        lo = hi = 0
    cps = [
        (i + 1, int(lo + math.ceil((i + 1) * (hi - lo) / n_checkpoints)))
        for i in range(n_checkpoints)
    ]
    first = tok.groupBy("__t").agg(F.min("__id").alias("__first"))
    vocab = first.agg(
        *[
            F.coalesce(
                F.sum((F.col("__first") <= cut).cast("long")), F.lit(0)
            ).alias(f"v{i}")
            for i, cut in cps
        ]
    )
    toks = tok.agg(
        *[
            F.coalesce(
                F.sum((F.col("__id") <= cut).cast("long")), F.lit(0)
            ).alias(f"t{i}")
            for i, cut in cps
        ]
    )
    rows = vocab.crossJoin(toks).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("checkpoint"),
                    F.lit(cut).cast("long").alias("cutoff_id"),
                    F.col(f"t{i}").alias("cum_tokens"),
                    F.col(f"v{i}").alias("vocab_size"),
                )
                for i, cut in cps
            ])
        ).alias("e")
    ).select("e.*")
    # log-log OLS over the n_checkpoints curve points (a broadcast-sized
    # frame): beta = cov(ln T, ln V)/var(ln T)
    pts = rows.where((F.col("cum_tokens") > 0) & (F.col("vocab_size") > 0))
    fit = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.log("cum_tokens")).alias("sx"),
        F.sum(F.log("vocab_size")).alias("sy"),
        F.sum(F.log("cum_tokens") * F.log("vocab_size")).alias("sxy"),
        F.sum(F.log("cum_tokens") * F.log("cum_tokens")).alias("sxx"),
    )
    beta = F.when(
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
    )
    log_k = (F.col("sy") - beta * F.col("sx")) / F.col("m")
    return (
        rows.crossJoin(F.broadcast(fit))
        .select(
            "checkpoint",
            "cutoff_id",
            "cum_tokens",
            "vocab_size",
            F.round(beta, 6).alias("heaps_beta"),
            F.round(log_k, 6).alias("heaps_log_k"),
        )
        .orderBy("checkpoint")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval for one query over the corpus — the
    lexical-search baseline every retrieval stack (and every RAG
    pipeline) is measured against. Okapi weighting with the robust
    idf = ln(1 + (N − df + ½)/(df + ½)).

    Plan shape: the term filter lands BEFORE the token groupBy, so the
    only frame that shuffles is (doc, query-term) term frequencies —
    corpus tokens that never match the query die map-side. Document
    length is a map-side expression on the text column (no second
    explode), N/avgdl is a one-row broadcast, per-term df is a
    |query|-row broadcast. Top-k is a TakeOrderedAndProject on the
    6-dp-rounded score (ties broken by id), so the ranking is
    engine-reproducible.

    Returns ``(doc_id, score, n_terms_hit)``.
    """
    terms = sorted(set(query_terms))
    base = df.where(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        token_count(F.col(text_col)).cast("long").alias("__dl"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("__dl").alias("avgdl"),
    )
    tf = (
        base.select(
            "__id", "__dl", F.explode(tokens(F.col("__text"))).alias("__t")
        )
        .where(F.col("__t").isin(terms))
        .groupBy("__id", "__dl", "__t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    score_t = idf * F.col("tf") * (k1 + 1.0) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("__dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dft), "__t")
        .crossJoin(F.broadcast(stats))
        .groupBy(F.col("__id").alias("doc_id"))
        .agg(
            F.round(F.sum(score_t), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(top_k)
    )


def register_ngram_udtf(spark) -> None:
    """Register the ``ngrams_udtf`` Python UDTF (Spark 4 user-defined
    TABLE function): ``SELECT * FROM ngrams_udtf(text, n)`` emits one
    row per n-gram — the lateral-join form of n-gram explosion, usable
    straight from SQL. Arrow transfer is governed by
    ``spark.sql.execution.pythonUDTF.arrow.enabled`` (set in
    session.py); tokenization matches :func:`tokens` (lowercase,
    whitespace runs), so a DuckDB oracle reproduces the rows exactly.

    A UDTF is the right tool when one input row yields a VARIABLE
    number of output rows with python-side logic; for fixed built-in
    splitting, the explode(tokens()) form stays the fast path.
    """
    from pyspark.sql.functions import udtf

    import re

    # ASCII whitespace like Java regex \s (and the RE2 oracle), NOT
    # python str.split(), whose Unicode whitespace (e.g. U+00A0) would
    # tokenize differently from tokens()/the SQL mirror; leading
    # split artifacts are kept, same as F.split/string_split_regex
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @udtf(returnType="pos int, ngram string")
    class NGrams:
        def eval(self, text: str, n: int):
            if text is None or n is None or n < 1:
                return
            toks = ws.split(text.lower().strip(" "))
            for i in range(len(toks) - n + 1):
                yield i, " ".join(toks[i:i + n])

    spark.udtf.register("ngrams_udtf", NGrams)


def readability_exprs(t: Column) -> dict[str, Column]:
    """Deterministic Flesch-reading-ease ingredients over lowercased
    text, defined so a SQL engine reproduces them exactly:

    - words     = matches of ``[a-z]+`` in lower(text)
    - syllables = matches of ``[aeiouy]+`` in lower(text) (vowel-group
      heuristic; groups can't span words since words are letter runs)
    - sentences = max(1, matches of ``[.!?]+``)

    Flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    The classic heuristic's per-word min-1-syllable clamp is dropped on
    purpose — it needs a per-word explode; this closed form keeps the
    whole computation one JVM-side regexp projection.
    """
    low = F.lower(t)
    words = F.size(F.regexp_extract_all(low, F.lit(r"[a-z]+"), 0))
    syll = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), 0))
    sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(low, F.lit(r"[.!?]+"), 0))
    )
    return {
        "n_words": words.cast("long"),
        "n_syllables": syll.cast("long"),
        "n_sentences": sent.cast("long"),
        "flesch": F.when(
            words > 0,
            F.lit(206.835)
            - F.lit(1.015) * (words / sent)
            - F.lit(84.6) * (syll / words),
        ),
    }


def readability(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document readability: word/syllable/sentence counts and the
    Flesch reading-ease score (higher = easier; ~60-70 is plain
    English). In a pretraining pipeline this is a curation signal
    orthogonal to the Gopher/C4 filters: both too-low (legalese, OCR
    soup) and implausibly-high (listicles, boilerplate fragments)
    scores mark documents for the quality classifier to weigh.

    Pure map-side single-projection plan — three RE2-compatible regex
    counts per row, no shuffle, no UDF; scales linearly and pushes
    straight through whole-stage codegen at any corpus size.
    """
    ex = readability_exprs(F.col(text_col))
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[v.alias(k) for k, v in ex.items()],
    )


def code_signal_exprs(t: Column) -> dict[str, Column]:
    """Deterministic code-likeness signals, SQL-reproducible (RE2-safe
    patterns, no backreferences):

    - ``symbol_lines``: lines ending in ``;``, ``{`` or ``}``
    - ``indent_lines``: lines starting with 4+ spaces or a tab
    - ``kw_hits``: occurrences of hard code keywords with word
      boundaries (def/return/import/void/class/function/const)
    - ``assign_hits``: ``=`` signs (assignment/attr density)
    """
    lines = F.split(t, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    sym = F.size(
        F.filter(lines, lambda l: l.rlike(r"[;{}]\s*$"))
    )
    ind = F.size(
        F.filter(lines, lambda l: l.rlike(r"^(    |\t)"))
    )
    kw = F.size(
        F.regexp_extract_all(
            t,
            F.lit(
                r"\b(def|return|import|void|class|function|const)\b"
            ),
            0,
        )
    )
    eq = F.size(F.regexp_extract_all(t, F.lit(r"="), 0))
    return {
        "n_lines": n_lines.cast("long"),
        "symbol_lines": sym.cast("long"),
        "indent_lines": ind.cast("long"),
        "kw_hits": kw.cast("long"),
        "assign_hits": eq.cast("long"),
    }


def code_detect(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.15,
) -> DataFrame:
    """Code-vs-prose heuristic — the pretraining router that decides
    whether a document goes to the code pipeline (keep formatting,
    code tokenizer) or the text pipeline (NFC, boilerplate strip). A
    document is code-like when its structural-line fraction
    ((symbol_lines + indent_lines) / n_lines) clears ``threshold`` or
    it has keyword AND assignment density.

    Pure JVM single projection (split + higher-order filter + RE2
    counts) — no UDF, no shuffle; the decision column is exactly
    reproducible in SQL, unlike a learned classifier
    (quality_classifier covers that, rows-only by design).
    """
    ex = code_signal_exprs(F.col(text_col))
    base = df.select(F.col(id_col), *[v.alias(k) for k, v in ex.items()])
    frac = (F.col("symbol_lines") + F.col("indent_lines")) / F.col("n_lines")
    kw_dense = (F.col("kw_hits") >= 3) & (F.col("assign_hits") >= 3)
    return base.select(
        id_col,
        "n_lines", "symbol_lines", "indent_lines", "kw_hits",
        "assign_hits",
        F.round(frac, 6).alias("structural_frac"),
        ((frac > threshold) | kw_dense).cast("long").alias("is_code"),
    )


def encoding_artifacts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group encoding-damage audit — the curation signal that
    catches double-encoded UTF-8 ("mojibake": Ã©/â€™ sequences from
    UTF-8 bytes read as Latin-1), U+FFFD replacement characters
    (lossy transcoding) and stray C0 control bytes (binary bleed,
    broken extractors) BEFORE they poison a tokenizer's vocabulary.
    Extension beyond the reference surface (whiteRRabbit.R profiles
    typed values, never byte health).

    All signals are JVM string/regexp expressions fused into the scan
    (one projection + one bounded groupBy — no explode, no Python):

    * ``repl_chars``   — U+FFFD count (length-difference, no regex)
    * ``ctrl_chars``   — C0 controls except tab/newline/CR
    * ``mojibake_seqs``— ``Ã<non-whitespace>`` or ``â€`` occurrences,
      the two classic UTF-8-as-Latin-1 fingerprints (the whitespace
      class is spelled out character-by-character because Java's \\s
      includes U+000B and RE2's does not — the explicit class makes
      the DuckDB oracle's verbatim pattern exactly equivalent)
    * ``non_ascii_ratio`` — share of chars outside printable ASCII +
      tab/newline/CR (legitimate for non-English text — a RANKING
      signal, only flagged via the artifact counters above)

    Returns per ``group_col``: ``(group, n_docs, n_chars,
    docs_flagged, repl_chars, ctrl_chars, mojibake_seqs,
    max_non_ascii_ratio)`` ordered by group.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    repl = n_chars - F.length(F.replace(t, F.lit("�"), F.lit("")))
    ctrl = n_chars - F.length(
        F.regexp_replace(t, r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    )
    # whitespace class spelled out: Java \s includes U+000B, RE2 \s
    # does not — an explicit class pins ONE semantics in both engines
    moji = F.size(
        F.regexp_extract_all(t, F.lit("Ã[^ \t\n\x0b\f\r]|â€"), F.lit(0))
    )
    ascii_n = F.length(
        F.regexp_replace(t, r"[^\x09\x0A\x0D\x20-\x7E]", "")
    )
    per = df.select(
        F.col(group_col).alias("group"),
        n_chars.alias("__n"),
        repl.alias("__repl"),
        ctrl.alias("__ctrl"),
        moji.alias("__moji"),
        F.when(
            n_chars > 0, (n_chars - ascii_n) / n_chars.cast("double")
        ).otherwise(F.lit(0.0)).alias("__na_ratio"),
    )
    flagged = (
        (F.col("__repl") > 0) | (F.col("__ctrl") > 0) | (F.col("__moji") > 0)
    )
    return (
        per.groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("n_chars"),
            F.sum(flagged.cast("long")).alias("docs_flagged"),
            F.sum("__repl").alias("repl_chars"),
            F.sum("__ctrl").alias("ctrl_chars"),
            F.sum("__moji").alias("mojibake_seqs"),
            F.round(F.max("__na_ratio"), 6).alias("max_non_ascii_ratio"),
        )
        .orderBy("group")
    )
