"""Text analysis operators: token counting, quality scoring, language
identification, document fingerprinting.

Everything except language id is a pure Column expression (JVM-side,
whole-stage-codegen'd); language id is an Arrow-vectorized pandas UDF
whose hot path is C-backed pandas ``str.count`` regex scans — no per-row
Python anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

SPACE = " "

# small per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "von", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "las", "es", "una", "para", "con", "por", "del"],
    "it": ["il", "la", "che", "di", "non", "per", "una", "con", "del", "gli"],
    "pt": ["o", "a", "os", "as", "que", "uma", "para", "com", "por", "não"],
    "nl": ["de", "het", "een", "van", "en", "dat", "niet", "voor", "met", "zijn"],
}

STOPWORDS_EN = LANG_PROFILES["en"]


def tokens_col(text: Column | str, sep: str = SPACE) -> Column:
    """Whitespace tokens. Single-space split (matches SQL string_split
    semantics exactly, including empty tokens on runs of spaces)."""
    return F.split(F.col(text) if isinstance(text, str) else text, sep)


def let_col(value: Column, body) -> Column:
    """Evaluate ``value`` once per row and pass the result to ``body`` —
    the missing ``let`` for Column expressions. A higher-order-function
    lambda re-evaluates any non-attribute subexpression it references
    once PER ELEMENT (``transform(sequence(...), i -> slice(toks, ...))``
    re-runs the whole tokenize split per window — O(len²) per row);
    binding the value as a one-element transform's lambda variable makes
    every reference inside ``body`` an O(1) variable read. NULL in,
    body(NULL) out — identical semantics to inlining, by construction."""
    return F.element_at(F.transform(F.array(value), body), 1)


def sliding_ngrams_col(toks: Column, n: int, sep: str = SPACE) -> Column:
    """All length-``n`` sliding windows of a (non-null-element) string
    array, joined with ``sep``, order preserved. Built as ``n`` shifted
    slices zipped elementwise — O(n·len) — instead of the
    transform(sequence)+slice shape, whose lambda re-evaluates the token
    array expression per window (O(len²) per row). Every slice has
    exactly ``size - n + 1`` elements for j in 1..n, so zip_with never
    pads. Callers must guard ``size(toks) >= n``."""
    m = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc,
            F.slice(toks, j, m),
            lambda a, b: F.concat(a, F.lit(sep), b),
        )
    return acc


def spread_input(df: DataFrame) -> DataFrame:
    """Widen a narrow input to the session's default parallelism before
    per-row-heavy expression work (guide §2.5 input skew: a few-MB
    parquet file arrives as one or two scan splits, pinning a whole
    tokenize/hash pass to 1-2 cores of the cluster). No-op when the scan
    is already at least that wide — the at-scale case, where inputs
    arrive with thousands of splits — so the extra round-robin exchange
    exists only when it buys parallelism. Callers project to the narrow
    (id, text) shape first so the shuffle never carries decoded
    payloads."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def token_count_col(text: Column | str) -> Column:
    return F.size(tokens_col(text))


def token_chars_col(text: Column | str) -> Column:
    """Sum of token lengths (chars excluding separators)."""
    return F.aggregate(
        F.transform(tokens_col(text), lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def stopword_count_col(text: Column | str, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or STOPWORDS_EN
    arr = F.array(*[F.lit(w) for w in sw])
    return F.size(F.filter(tokens_col(text), lambda t: F.array_contains(arr, t)))


def quality_columns(text: Column | str, stopwords: list[str] | None = None) -> list[Column]:
    """Deterministic quality signals: token count, mean token length,
    stopword ratio, and a composite score in [0, 1]. Mirrors published
    webtext quality heuristics (length / stopword-density filters)."""
    n_tok = token_count_col(text)
    chars = token_chars_col(text)
    sw = stopword_count_col(text, stopwords)
    mean_len = F.when(n_tok > 0, F.round(chars.cast("double") / n_tok, 4)).otherwise(
        F.lit(0.0)
    )
    sw_ratio = F.when(n_tok > 0, F.round(sw.cast("double") / n_tok, 4)).otherwise(
        F.lit(0.0)
    )
    score = F.round(
        F.least(F.lit(1.0), n_tok.cast("double") / F.lit(100.0)) * 0.5
        + F.least(F.lit(1.0), sw.cast("double") * 10.0 / F.greatest(n_tok, F.lit(1)))
        * 0.5,
        4,
    )
    return [
        n_tok.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        sw_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    ]


# BPE-ish pre-tokenizer: letter runs, single digits, punctuation runs —
# the GPT-2-style split shape (contiguous letters are one token, digits
# split singly, punctuation separate), kept to a regex subset that means
# the same thing in Java regex (Spark) and RE2 (DuckDB/engines)
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def token_count_bpe_col(text: Column | str) -> Column:
    """Subword-ish token count via the BPE pre-tokenizer regex — the
    'how many tokens will the model see' estimator, pure JVM
    (regexp_count, whole-stage codegen)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_SPLIT_PATTERN))


def fingerprint_rolling_md5_col(text: Column | str, window: int = 8) -> Column:
    """Winnowing-style rolling fingerprint with a cross-engine hash:
    min over sliding token-window hashes, where the window hash is the
    top 60 bits of md5 — computable bit-identically in any ANSI engine
    (same trick as the md5_60 SimHash hasher), so the sketch is
    oracle-verifiable. Pure Column expressions. The token array is
    let-bound so the sliding windows read it O(1) per window instead of
    re-running the split per window (O(len²) per row)."""
    return let_col(
        tokens_col(text),
        lambda t: F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(t) - window, F.lit(0))),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.encode(
                                F.concat_ws(" ", F.slice(t, i + 1, window)),
                                "UTF-8",
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ),
    )


def fingerprint_md5_col(text: Column | str) -> Column:
    """Whole-document fingerprint (md5 hex) — ANSI-SQL portable."""
    return F.md5((F.col(text) if isinstance(text, str) else text).cast("binary"))


def langid_udf():
    """Arrow-vectorized language id: per-language stopword-hit counts via
    C-backed regex ``Series.str.count``; argmax over the score matrix.
    Deterministic ties -> lexicographically smallest language."""
    import re

    patterns = {
        lang: re.compile(r"(?:^| )(?:" + "|".join(map(re.escape, words)) + r")(?= |$)")
        for lang, words in sorted(LANG_PROFILES.items())
    }

    @pandas_udf("string")
    def _langid(texts: pd.Series) -> pd.Series:
        t = texts.fillna("")
        scores = pd.DataFrame(
            {lang: t.str.count(pat) for lang, pat in patterns.items()}
        )
        best = scores.idxmax(axis=1)
        best[scores.max(axis=1) <= 0] = "und"
        return best

    return _langid


# Gopher-style document quality rules (Rae et al. 2021, "Scaling
# Language Models", appendix A1.1 — public filtering heuristics used by
# most webtext pipelines). Thresholds follow the paper where the rule
# is computable from tokens alone.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_columns(
    text: Column | str,
    *,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    max_symbol_ratio: float = 0.1,
    min_stopwords: int = 2,
) -> list[Column]:
    """Per-rule signals + the overall pass flag, all pure Column
    expressions (one pass over the token array, whole-stage codegen):

      * token count in [min_tokens, max_tokens]
      * mean token length in [min_mean_len, max_mean_len]
      * fraction of tokens containing an alphabetic char > min_alpha_frac
      * symbol-to-token ratio ('#' or '...') < max_symbol_ratio
      * >= min_stopwords DISTINCT Gopher stop words present
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens_col(c)
    n = F.size(toks)
    nd = n.cast("double")
    chars = token_chars_col(c)
    mean_len = F.when(n > 0, chars.cast("double") / nd).otherwise(F.lit(0.0))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.when(n > 0, alpha.cast("double") / nd).otherwise(F.lit(0.0))
    symbols = F.size(F.split(c, r"#|\.\.\.")) - 1  # occurrences of # / ...
    symbol_ratio = F.when(n > 0, symbols.cast("double") / nd).otherwise(F.lit(0.0))
    swarr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    sw_distinct = F.size(
        F.array_distinct(F.filter(toks, lambda t: F.array_contains(swarr, t)))
    )
    passes = (
        n.between(min_tokens, max_tokens)
        & mean_len.between(min_mean_len, max_mean_len)
        & (alpha_frac > min_alpha_frac)
        & (symbol_ratio < max_symbol_ratio)
        & (sw_distinct >= min_stopwords)
    )
    return [
        n.alias("n_tokens"),
        F.round(mean_len, 4).alias("mean_token_len"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        sw_distinct.alias("n_gopher_stopwords"),
        passes.alias("gopher_pass"),
    ]


def unigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Perplexity-proxy quality score: per-document mean unigram
    -log2-probability under the corpus's own empirical distribution,
    QUANTIZED to whole bits — the cheap stand-in for the KenLM
    perplexity filter (high mean rarity = rare-token soup: gibberish,
    wrong-language shards).

    Token rarity = floor(log2(total / count)) computed as
    bit_length(total // count) - 1 — INTEGER math end to end, so the
    per-doc sum is exact and cross-engine reproducible regardless of
    aggregation order (a float avg-of-ln aggregate is last-ulp
    order-dependent and flaky under a driver value-hash). The final
    mean divides two exact integers, one double op in both engines.

    Three aggregations, no model artifact: (1) explode to (doc, token)
    and pre-aggregate to (doc, token, cnt) — this collapses the
    Zipf-hot tokens PER DOCUMENT before any join, so even if the vocab
    outgrows the broadcast threshold (multilingual corpus, ~10^8
    types) and Spark falls back to sort-merge, the join key "the"
    carries one row per document, not one row per occurrence; (2)
    hash-aggregate global token counts from the per-doc counts
    (map-side partial combine); (3) join per-doc counts to vocab
    counts (equi-join; AQE broadcasts the vocab when small) and
    aggregate per doc. Returns (id, n_tokens, mean_rarity_bits)."""
    # compact (doc, token, count) spine materialized once
    # (localCheckpoint): the vocab-count subtree and the scoring join
    # both read it, and the vocab side sits under a broadcast build
    # where exchange reuse does not apply — without the barrier the
    # corpus tokenize+explode runs twice (measured as duplicate
    # 32-task scan stages)
    doc_tok = (
        spread_input(
            df.select(
                F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
            )
        )
        .select("_id", F.explode(tokens_col("_txt")).alias("_tok"))
        .groupBy("_id", "_tok")
        .agg(F.count("*").alias("_n"))
        .localCheckpoint(eager=False)
    )
    counts = doc_tok.groupBy("_tok").agg(F.sum("_n").alias("_c"))
    total = counts.agg(F.sum("_c").alias("_total"))
    # floor(log2(ratio)) via base-2 string length: integer `div` plus
    # conv() are exact on BIGINT — no float division or log anywhere
    # (a double quotient could round across an integer boundary at
    # corpus-scale totals)
    ratio = F.expr("_total div _c")
    rarity = F.length(F.conv(ratio.cast("string"), 10, 2)) - 1
    return (
        doc_tok.join(counts, "_tok")
        .crossJoin(F.broadcast(total))
        .groupBy("_id")
        .agg(
            F.sum("_n").alias("n_tokens"),
            F.sum(rarity * F.col("_n")).alias("_sum_rarity"),
        )
        .select(
            F.col("_id").alias("id"),
            "n_tokens",
            (F.col("_sum_rarity").cast("double") / F.col("n_tokens")).alias(
                "mean_rarity_bits"
            ),
            # the exact integer numerator, for consumers that must
            # avoid float rounding entirely (perplexity_buckets' query
            # emits (sum*10000) div n — integer-exact in any engine)
            F.col("_sum_rarity").cast("long").alias("sum_rarity_bits"),
        )
    )


def bigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Conditional-LM quality score: per-document mean bigram
    -log2-probability under the corpus's own add-one-smoothed bigram
    model — the next step from :func:`unigram_logprob_scores` toward
    the CCNet/KenLM perplexity filter (a unigram model cannot see
    "scrambled common words": shuffled boilerplate scores fluent under
    unigrams but improbable under ANY conditional model).

    Model: ``P(cur | prev) = (c(prev,cur) + 1) / (c_prefix(prev) + V)``
    where ``c_prefix(prev)`` counts ``prev`` as a bigram prefix and
    ``V`` is the number of distinct continuation types. Rarity is
    quantized to whole bits with the same integer-exact trick as the
    unigram scorer: ``floor(log2(a/b)) == bit_length(a div b) - 1``
    whenever ``a >= b`` (here ``c_prefix + V >= c_bigram + 1`` always),
    so per-doc sums are exact integers and the score is reproducible
    across engines and aggregation orders.

    Plan at 10^12 docs (mirrors the unigram scorer's shape): explode
    collapses to per-doc ``(prev, cur, n)`` counts FIRST — the Zipf-hot
    bigram ("of the") carries one row per document into every join —
    then global bigram counts, prefix counts and V are map-side
    hash aggregates over successively tinier tables; the model joins
    back by (prev, cur) / prev with AQE free to broadcast. No model
    artifact is materialized; the corpus is its own training set.

    Returns one row per document with >= 2 tokens:
    ``(id, n_bigrams, mean_rarity_bits)``.
    """
    # tokenize AFTER the widening exchange: inside spread_input's input
    # the split/filter ran on the scan's 1-2 file splits (serial on 2
    # cores) and the exchange carried token ARRAYS instead of the
    # smaller raw text (same fix as the r6 semantic_dedup/pack sites)
    toks = (
        spread_input(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
        )
        .select("_id", tokens_col("_txt").alias("_t"))
        .where(F.size("_t") >= 2)
    )
    # adjacent pairs as two shifted slices zipped elementwise (the
    # size >= 2 filter above guarantees positive slice lengths);
    # same (prev, cur) structs as the per-index transform(sequence)
    # construction but O(len) per row instead of O(len²)
    m = F.size("_t") - 1
    pairs = toks.select(
        "_id",
        F.explode(
            F.zip_with(
                F.slice("_t", 1, m),
                F.slice("_t", 2, m),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("_p"),
    ).select("_id", F.col("_p.prev").alias("_prev"), F.col("_p.cur").alias("_cur"))
    # compact per-doc bigram counts materialized once (localCheckpoint):
    # the model subtrees (bg -> prefix -> vocab, all under broadcast
    # builds) and the scoring spine otherwise each re-run the corpus
    # tokenize+explode (unigram_logprob_scores rationale)
    doc_bg = pairs.groupBy("_id", "_prev", "_cur").agg(
        F.count("*").alias("_n")
    ).localCheckpoint(eager=False)
    # the bigram model is <= |vocab|^2 rows but is read three times
    # (bg join, prefix, vocab) — checkpoint so each reads the tiny
    # aggregate instead of re-aggregating the per-doc counts
    bg = (
        doc_bg.groupBy("_prev", "_cur")
        .agg(F.sum("_n").alias("_cb"))
        .localCheckpoint(eager=False)
    )
    prefix = bg.groupBy("_prev").agg(F.sum("_cb").alias("_cp"))
    vocab = bg.agg(F.countDistinct("_cur").alias("_v"))
    rarity = (
        F.length(
            F.conv(F.expr("(_cp + _v) div (_cb + 1)").cast("string"), 10, 2)
        )
        - 1
    )
    return (
        doc_bg.join(bg, ["_prev", "_cur"])
        .join(prefix, "_prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("_id")
        .agg(
            F.sum("_n").alias("n_bigrams"),
            F.sum(rarity.cast("long") * F.col("_n")).alias("_sum_rarity"),
        )
        .select(
            F.col("_id").alias("id"),
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            (F.col("_sum_rarity").cast("double") / F.col("n_bigrams")).alias(
                "mean_rarity_bits"
            ),
        )
    )


# ------------------------------------------------------ boilerplate ----


def ngram_col(text: Column | str, n: int = 5) -> Column:
    """Word n-grams as strings (pure Column: split -> sliding slice ->
    concat). Same construction as dedup.shingles_col but kept as a list
    WITH duplicates — boilerplate detection counts occurrences."""
    toks = tokens_col(text)
    size = F.size(toks)
    grams = sliding_ngrams_col(toks, n)
    # guard short docs (slice of non-positive length is an error)
    return F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate detection: word n-grams appearing in
    >= ``min_docs`` DISTINCT documents, with document frequency. The
    shared-phrase mining step of boilerplate removal (cookie banners,
    navigation chrome, legal footers) over a web corpus.

    Plan shape at scale: explode to (ngram, doc) pairs, distinct
    map-side, one hash aggregate on ngram. No joins, no UDFs — the
    explode output is ~|tokens| rows per doc but each row is a short
    string + id, and the distinct/aggregate combine partially before
    the shuffle."""
    pairs = df.select(
        F.col(id_col).alias("_id"),
        F.explode(ngram_col(text_col, n)).alias("ngram"),
    ).distinct()
    return (
        pairs.groupBy("ngram")
        .agg(F.count("*").alias("doc_freq"))
        .where(F.col("doc_freq") >= min_docs)
    )


# ---------------------------------------------------- url canonical ----

TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)="


def canonical_url_col(url: Column | str) -> Column:
    """Canonical URL form: lowercase scheme+host, default ports and
    fragments stripped, tracking query parameters (utm_*, fbclid, ...)
    removed, remaining parameters sorted. Pure Column expressions —
    regexp + array ops, no UDF; the dedup/blocking normalizer a crawl
    pipeline applies before url-keyed grouping."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(head) + F.lit(1), F.lit(1 << 30))
    head = F.lower(head)
    head = F.regexp_replace(head, r"^(http://[^/?#]*):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^/?#]*):443$", r"$1")
    base = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.when(
        F.length(rest) > F.length(base), F.substring(
            rest, F.length(base) + F.lit(2), F.lit(1 << 30)
        )
    ).otherwise(F.lit(None))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    params = F.array_sort(params)
    canon_q = F.when(
        params.isNotNull() & (F.size(params) > 0),
        F.concat(F.lit("?"), F.array_join(params, "&")),
    ).otherwise(F.lit(""))
    return F.concat(head, base, canon_q)


# -------------------------------------------------- stratified sample ----


def hash_sample(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    strata_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff the md5 of its
    id lands under the stratum's fraction of the hash space. Unlike
    df.sample(), membership is a pure function of (id, fractions) —
    re-running the pipeline (or running it on another engine: md5 is the
    cross-engine-stable choice) selects the SAME rows, which is what
    makes sampled corpus builds reproducible and joinable.

    Plan: one scan, no shuffle — the predicate is a Column expression.
    """
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    space = float(1 << 60)
    frac = F.lit(default_fraction)
    for value, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(float(f))).otherwise(frac)
    return df.where((bucket.cast("double") / F.lit(space)) < frac)


# ------------------------------------------------------ PII redaction ----

# Conservative, cross-dialect patterns (Java regex on Spark, RE2 in the
# DuckDB oracle — the shared subset: char classes, {m,n}, non-capturing
# groups, \b ASCII boundaries; no backreferences or lookaround).
# Replacement order matters: emails first (so their digits can't be
# phone-eaten), then IPv4 (dotted runs), then phone-like digit runs.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\-\s]{7,}\d", "<PHONE>"),
)


def redact_pii_col(text: Column | str) -> Column:
    """Redact emails / IPv4 addresses / phone-like digit runs with
    typed placeholders — the standard pre-training scrub pass. Pure
    Column expression (JVM regexp_replace chain): one scan, no
    shuffle, safe at any corpus size."""
    out = F.col(text) if isinstance(text, str) else text
    for pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), redact_pii_col(text_col).alias("redacted")
    )


# ------------------------------------------------ repetition signals ----


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1):

    * ``dup_token_frac`` — 1 - distinct/total tokens (pure Column);
    * ``top_2gram_frac`` — share of the document's 2-grams taken by
      its most frequent 2-gram (explode -> two hash aggregates with
      map-side partial combine; the (doc, gram) key is
      document-scoped, so no corpus-wide hot key exists and the plan
      holds at 10^12 docs).

    High values flag boilerplate soup and degenerate repetition that
    per-token quality scores miss. Exact integer counts; the final
    fractions are single double divisions, cross-engine stable."""
    # tokenize AFTER the widening exchange (not inside spread_input's
    # input, where it would run on the scan's 1-2 file splits)
    base = spread_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    ).select("id", tokens_col("_txt").alias("_t"))
    # adjacent 2-grams via shifted-slice zip (O(len) per row; identical
    # strings to the per-index transform(sequence) construction)
    grams = F.when(
        F.size("_t") >= 2, sliding_ngrams_col(F.col("_t"), 2)
    ).otherwise(F.array().cast("array<string>"))
    ex = base.select("id", F.explode(grams).alias("_g"))
    per = (
        ex.groupBy("id", "_g")
        .agg(F.count("*").alias("_c"))
        .groupBy("id")
        .agg(
            (F.max("_c").cast("double") / F.sum("_c")).alias("top_2gram_frac")
        )
    )
    dup = base.select(
        "id",
        (
            F.lit(1.0)
            - F.size(F.array_distinct("_t")).cast("double") / F.size("_t")
        ).alias("dup_token_frac"),
    )
    return dup.join(per, "id", "left").select(
        "id",
        "dup_token_frac",
        F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
    )

# --------------------------------------------- decontamination ----


def ngram_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    eval_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: per training document, the number of
    distinct word ``n``-grams it shares with an evaluation corpus
    (Brown et al. 2020 §C / PaLM §F use 8-13-gram overlap). One row
    per training doc: ``(id, n_hit, contaminated)``.

    Plan shape at scale: the eval side is DISTINCT n-grams of a
    benchmark suite — millions of rows, small enough to broadcast — so
    the exploded corpus grams stream map-side through the broadcast
    hash join WITHOUT being shuffled first (per-doc duplicate shared
    grams are collapsed after the join by count_distinct, over the
    tiny surviving hit set, not by a corpus-wide pre-join distinct);
    the only exchanges are the per-doc distinct-count aggregate on the
    unskewed document id and the join back to the id spine for clean
    docs' zero rows."""
    ev = eval_df.select(
        F.explode_outer(
            ngram_col(eval_text_col or text_col, n)
        ).alias("_g")
    ).where(F.col("_g").isNotNull()).distinct()
    grams = spread_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    ).select("id", ngram_col("_txt", n).alias("_gs")).select(
        "id", F.explode("_gs").alias("_g")
    )
    hits = (
        grams.join(F.broadcast(ev), "_g")
        .groupBy("id")
        .agg(F.count_distinct("_g").alias("n_hit"))
    )
    spine = df.select(F.col(id_col).alias("id"))
    return spine.join(hits, "id", "left").select(
        "id",
        F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        (F.coalesce("n_hit", F.lit(0)) > 0).cast("int").alias("contaminated"),
    )


def fuzzy_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    *,
    k: int = 32,
    bands: int = 16,
    n: int = 3,
    eval_text_col: str | None = None,
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag training documents whose
    word-``n``-gram shingle-set Jaccard against ANY eval document
    reaches ``threshold``. :func:`ngram_decontaminate` catches verbatim
    benchmark leakage; this catches lightly-edited leakage (reflowed
    whitespace aside, truncated or mildly paraphrased copies) the same
    way fuzzy dedup completes exact dedup. One row per training doc:
    ``(id, max_jac, contaminated)`` where ``max_jac`` is the best
    verified Jaccard at-or-above threshold (0.0 when clean — candidates
    verified BELOW threshold are reported as clean zeros so the output
    is a pure function of the corpus, not of LSH luck).

    Retrieval is MinHash/LSH restricted to train x eval band collisions
    (never train x train): the eval side is a benchmark suite — tiny —
    so its banded signatures and its hashed-shingle arrays both
    broadcast, and the corpus side streams through two broadcast joins
    without shuffling raw text; the only exchanges are the candidate
    distinct and the per-doc max on the unskewed id. Default
    ``bands=16`` (rows=2) biases for recall at high thresholds
    (miss prob at jac=0.7 is (1-0.49)^16 ~ 2e-5 per pair), the right
    operating point for a contamination screen where a missed hit is a
    leaked benchmark.
    """
    from .dedup import (
        hashed_shingles_col,
        jaccard_col,
        minhash_cols_from_hashed,
    )

    if k % bands:
        raise ValueError(f"bands={bands} must divide k={k}")
    rows = k // bands
    ev_txt = F.col(eval_text_col or text_col)

    # localCheckpoint barrier, not persist(): reclaimed by the
    # ContextCleaner once the result frame is dropped (a persist would
    # pin the shingle arrays in the session CacheManager until an
    # explicit unpersist). No spread_input here: the per-row work the
    # widening would parallelize (shingle hashing) is light next to
    # shuffling the text, and the measured A/B at sf1.0 is 1.5 s
    # without the exchange vs 2.2 s with it — the heavy minhash perms
    # run downstream of the checkpoint either way.
    tr = df.select(
        F.col(id_col).alias("_id"), hashed_shingles_col(text_col, n).alias("_hs")
    ).localCheckpoint(eager=False)
    # eval ids = text hash: deterministic, and identical eval docs
    # collapse (max/flag semantics are insensitive to eval multiplicity)
    ev = (
        eval_df.select(
            F.xxhash64(ev_txt).alias("_eid"),
            hashed_shingles_col(ev_txt, n).alias("_ehs"),
        )
        .dropDuplicates(["_eid"])
        .localCheckpoint(eager=False)
    )

    def _buckets(src: DataFrame, idc: str, hsc: str) -> DataFrame:
        sig = src.selectExpr(
            f"`{idc}`", *minhash_cols_from_hashed(hsc, k)
        )
        return sig.select(
            idc,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                            ).alias("h"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(idc, "bk.band", "bk.h")

    cand = (
        _buckets(tr, "_id", "_hs")
        .join(F.broadcast(_buckets(ev, "_eid", "_ehs")), ["band", "h"])
        .select("_id", "_eid")
        .distinct()
    )
    verified = (
        cand.join(tr, "_id")
        .join(F.broadcast(ev), "_eid")
        .select(
            "_id", jaccard_col(F.col("_hs"), F.col("_ehs")).alias("_jac")
        )
    )
    best = verified.groupBy("_id").agg(F.max("_jac").alias("_mj"))
    spine = df.select(F.col(id_col).alias("id"))
    hit = F.coalesce(F.col("_mj"), F.lit(0.0)) >= threshold
    return spine.join(best.withColumnRenamed("_id", "id"), "id", "left").select(
        "id",
        F.when(hit, F.round(F.col("_mj"), 4)).otherwise(F.lit(0.0)).alias("max_jac"),
        hit.cast("int").alias("contaminated"),
    )


# --------------------------------------------- HTML text extraction ----

# the five predefined XML entities; '&amp;' is unescaped LAST so the
# escaped form '&amp;lt;' yields the literal text '&lt;', not '<'
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]

# b"</html>" hex-encoded, uppercase to match F.hex / DuckDB hex()
_HTML_END_HEX = "3C2F68746D6C3E"
# lazy pair steps guarantee the marker match starts on a byte boundary,
# so a misaligned hex coincidence inside multi-byte data can't truncate
# mid-byte; no marker -> empty capture -> empty document
_HTML_DOC_RE = "^((?:..)*?" + _HTML_END_HEX + ")"


def html_unescape_col(text: Column | str) -> Column:
    """Unescape the five predefined XML/HTML entities (JVM replace
    chain, one pass per entity)."""
    out = F.col(text) if isinstance(text, str) else text
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def html_doc_col(html: Column | str) -> Column:
    """Document text of a raw crawl payload: the bytes up to and
    including the first ``</html>`` close tag, UTF-8 decoded.

    Real WARC payloads carry trailing bytes after the document —
    truncated responses, padding, charset detritus — that are not
    valid UTF-8, so the truncation must happen at the BYTE level,
    before any decode. Spark has no binary search function, so the
    scan runs on a hex view of the blob (``hex -> regexp_extract ->
    unhex -> decode``, all JVM Column ops inside whole-stage codegen):
    a lazy two-chars-per-step regex finds the first byte-aligned
    ``</html>`` and keeps everything before it. The hex detour doubles
    the scanned bytes but stays linear, shuffle-free, and — unlike
    ``decode`` on the raw blob — replays bit-identically in any
    engine with hex/unhex (the DuckDB oracle runs the same regex),
    with no dependence on a decoder's invalid-byte replacement policy.
    Payloads with no close tag yield the empty string. Invalid bytes
    INSIDE the kept document (rare: mislabeled charsets) become U+FFFD
    via ``make_valid_utf8`` — ANSI ``decode`` would abort the whole
    scan on the first bad payload, which a crawl pipeline can't afford.
    """
    h = F.col(html) if isinstance(html, str) else html
    doc = F.unhex(F.regexp_extract(F.hex(h), _HTML_DOC_RE, 1))
    return F.make_valid_utf8(doc.cast("string"))


def html_title_col(html: Column | str) -> Column:
    """Entity-unescaped contents of the first ``<title>`` element
    (empty string when absent). Case-insensitive, attribute-tolerant —
    real crawl HTML writes ``<TITLE>`` and ``<title lang=..>``."""
    return html_unescape_col(
        F.regexp_extract(
            html_doc_col(html), "(?i)<title[^>]*>([^<]*)</title>", 1
        )
    )


def html_text_col(html: Column | str) -> Column:
    """Visible text of an HTML payload: drop ``<head>``/``<script>``/
    ``<style>`` subtrees, replace every remaining tag with a space,
    unescape entities, collapse whitespace. Subtree patterns are
    case-insensitive and attribute-tolerant (``<SCRIPT>``,
    ``<head lang="en">`` are routine crawl inputs). The regex subset
    ('(?is)', lazy quantifiers, character classes) is shared by Java
    regex and RE2 so the DuckDB oracle replays it verbatim."""
    doc = html_doc_col(html)
    for pat in (
        "(?is)<head[^>]*>.*?</head>",
        "(?is)<script[^>]*>.*?</script>",
        "(?is)<style[^>]*>.*?</style>",
        "<[^>]*>",
    ):
        doc = F.regexp_replace(doc, pat, " ")
    return F.trim(F.regexp_replace(html_unescape_col(doc), r"\s+", " "))


def html_extract(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Per payload: ``(id, title, body_text, doc_bytes)`` — the
    text-extraction front of a crawl pipeline (the reference ingests
    pre-extracted text; raquet tables carry the raw ``html`` binary
    alongside, reference schema convention raquet_metadata.hpp). Pure
    Column plan: one projection, no shuffle, no Python."""
    return df.select(
        F.col(id_col).alias("id"),
        html_title_col(html_col).alias("title"),
        html_text_col(html_col).alias("body_text"),
        F.length(F.col(html_col)).cast("bigint").alias("doc_bytes"),
    )


# --------------------------------------------------- C4-style cleaning ----


def c4_line_keep_col(line: Column, min_words: int = 3) -> Column:
    """C4's line-retention predicate (Raffel et al. 2020 §2.2): keep a
    line only if it ends in terminal punctuation, has at least
    ``min_words`` whitespace words, and does not mention javascript.

    CRLF-safe: stray ``\\r`` is stripped before testing (a ``\\n``
    split leaves it as the last char) and the end anchor is ``\\z``
    (absolute end — Java's ``$`` matches BEFORE a trailing line
    terminator while RE2's does not, so ``$`` would make the Spark
    predicate and its SQL replay disagree on CRLF text). Words are
    whitespace runs (``\\s+``), not single spaces, so tab-separated
    lines count correctly."""
    t = F.trim(F.regexp_replace(line, "\r", ""))
    words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != F.lit("")))
    return (
        t.rlike('[.!?"]\\z')
        & (words >= F.lit(min_words))
        & ~F.contains(F.lower(line), F.lit("javascript"))
    )


def c4_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 3,
    min_lines: int = 3,
) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2), the standard
    webtext pre-training scrub: per document, drop lines that don't
    end in terminal punctuation / have < ``min_words`` words / mention
    javascript; drop the whole PAGE when fewer than ``min_lines``
    lines survive or the raw text contains 'lorem ipsum' or a curly
    brace (code). Returns ``(id, clean_text, n_kept, n_dropped,
    page_kept)`` — dropped pages keep their counts so filter-rate
    monitoring is one aggregate over the output.

    Plan shape: one projection — split / higher-order filter /
    array_join are all JVM Column expressions inside whole-stage
    codegen; no explode, no shuffle, no Python. At 100 TB this is a
    single map-side pass over the text column."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, lambda l: c4_line_keep_col(l, min_words))
    raw_lower = F.lower(F.col(text_col))
    page_kept = (
        (F.size(kept) >= F.lit(min_lines))
        & ~F.contains(raw_lower, F.lit("lorem ipsum"))
        & ~F.contains(F.col(text_col), F.lit("{"))
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).cast("bigint").alias("n_kept"),
        (F.size(lines) - F.size(kept)).cast("bigint").alias("n_dropped"),
        page_kept.cast("int").alias("page_kept"),
    )


# --------------------------------------------------- tf-idf keywords ----


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
) -> DataFrame:
    """Top-``k`` tf-idf keywords per document — the classic corpus
    characterization / keyword-extraction pass, with the idf QUANTIZED
    to whole bits: ``score = tf * bit_length(N div df)`` (= ``tf *
    (floor(log2(N/df)) + 1)``). Integer math end to end — same
    convention as :func:`unigram_logprob_scores` and for the same
    reason: a float ``ln`` differs by an ulp between libm
    implementations, which can flip a rounded 6th decimal and with it
    a rank, so an exact value-hash oracle would be flaky; the
    bit-quantized score is exact in ANY engine (``length(bin(N //
    df))`` in DuckDB), ranks identically everywhere, and preserves the
    idf's rare-term ordering at whole-bit granularity. Ties broken by
    term asc. Rows with a NULL id are excluded (they are not a
    document; a SQL ``count(DISTINCT id)`` would skip them too).
    Returns ``(id, term, rank, score)`` with ``score`` an exact
    BIGINT.

    Plan shape at corpus scale: tf is a map-side-combining aggregate
    on the DOC-scoped ``(doc, term)`` key (never a corpus-wide hot
    key); df counts over those already-distinct pairs collapse
    Zipf-hot terms in per-partition partials before the exchange; the
    tf<->df join ships one row per distinct (doc, term) — the hot
    term's fan-out equals its df and AQE's skew-join splitting applies
    — and the df side is (term, df), pruned to terms that appear (a
    broadcast when the vocab fits, a shuffle join beyond); the final
    top-k window partitions by doc id, bounded by the doc's own
    distinct-term count."""
    base = df.where(F.col(id_col).isNotNull())
    toks = spread_input(
        base.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    ).select(
        "id",
        F.explode(
            F.filter(tokens_col("_txt"), lambda w: w != F.lit(""))
        ).alias("term"),
    )
    # compact (doc, term, tf) spine materialized once (localCheckpoint):
    # the df-count subtree sits under a broadcast build, so without the
    # barrier the corpus tokenize+explode runs twice
    tf = (
        toks.groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    n_docs = base.select(F.col(id_col)).distinct().count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # bit_length(N div df) via base-2 string length — exact BIGINT
    # everywhere (df >= 1 and df <= N, so the ratio is >= 1; integer
    # `div` so a double quotient can never round across a bit boundary)
    idf_bits = F.length(
        F.conv(
            F.expr(f"CAST({int(n_docs)} AS BIGINT) div df").cast("string"),
            10,
            2,
        )
    )
    scored = tf.join(dfreq, "term").select(
        "id",
        "term",
        (F.col("tf") * idf_bits).cast("long").alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "term", F.col("rank").cast("int").alias("rank"), "score")
    )


# ------------------------------------------- perplexity partitioning ----


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_tiles: int = 3,
    n_buckets: int = 1024,
) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020 §4.3):
    rank every document by its language-model score and cut the corpus
    into ``n_tiles`` equal tiles — head (most fluent) / middle / tail.
    The score is :func:`unigram_logprob_scores`' integer-exact mean
    rarity (the in-repo KenLM stand-in); the rank is the EXACT global
    rank under ``(mean_rarity_bits ASC, id ASC)``. Returns ``(id,
    n_tokens, mean_rarity_bits, sum_rarity_bits, rank, tile)`` with
    ``tile`` 0-based (0 = head); ``tile = floor((rank-1) * n_tiles /
    N)``; ``sum_rarity_bits`` is the exact integer numerator so
    downstream emitters can avoid float rounding entirely.

    Plan at 10^12 docs: a global ``row_number() OVER (ORDER BY score)``
    is a single-partition window — a non-starter. Instead the COMPOSITE
    sort key drives a range repartition (``repartitionByRange(score,
    id)`` — Spark's range partitioner samples the composite key and
    assigns contiguous (score, id) ranges), per-partition counts come
    back to the driver (O(n_buckets) state) for an exclusive prefix
    sum, and a window ranks WITHIN each range partition only; the
    broadcast offset join lifts it to the global rank. Because the
    partitioner splits on the composite key, even a corpus-scale group
    of EQUAL scores (mass-duplicated boilerplate, empty pages) is
    spread across partitions by id — no tie group can recreate the
    single-partition window (the failure mode of bucketing on the
    score alone). Partition boundaries never affect the result: any
    contiguous split of the total order composes to the same global
    rank. The mean is one double division of two exact integers, so
    the sort key is bit-identical in any IEEE engine and the ranking
    replays exactly in SQL."""
    s = unigram_logprob_scores(df, id_col, text_col)
    empty = s.select(
        "id",
        "n_tokens",
        "mean_rarity_bits",
        "sum_rarity_bits",
        F.lit(0).cast("long").alias("rank"),
        F.lit(0).cast("int").alias("tile"),
    ).limit(0)
    # scale-adaptive bucket count: ranks are independent of partition
    # boundaries (any contiguous split of the total order composes to
    # the same global rank), so the bucket count is purely a
    # parallelism/driver-state knob — cap it at a small multiple of the
    # session's cores instead of paying 1024 range partitions (plus the
    # range sampler over them) on a session 32 wide; ``n_buckets``
    # remains the upper bound on driver state at any scale
    par = df.sparkSession.sparkContext.defaultParallelism
    nb = max(1, min(int(n_buckets), par))
    ranged = (
        s.repartitionByRange(
            nb, F.col("mean_rarity_bits").asc(), F.col("id").asc()
        )
        .withColumn("_p", F.spark_partition_id().cast("long"))
        .localCheckpoint(eager=False)
    )
    # pass 1: per-range-partition counts -> exclusive rank offsets
    # (driver state is O(n_buckets), bounded regardless of table size);
    # total N falls out of the same pass — no extra count() job
    counts = {
        r["_p"]: r["c"]
        for r in ranged.groupBy("_p").agg(F.count("*").alias("c")).collect()
    }
    n = sum(int(c) for c in counts.values())
    if n == 0:
        return empty
    offsets, acc = [], 0
    for b in sorted(counts):
        offsets.append((b, acc))
        acc += int(counts[b])
    off_df = df.sparkSession.createDataFrame(offsets, "_p long, _roff long")
    from pyspark.sql import Window

    # pass 2: window within one range partition only + broadcast lift
    w = Window.partitionBy("_p").orderBy(
        F.col("mean_rarity_bits").asc(), F.col("id").asc()
    )
    return (
        ranged.join(F.broadcast(off_df), "_p")
        .withColumn(
            "rank", (F.row_number().over(w) + F.col("_roff")).cast("long")
        )
        .withColumn(
            "tile",
            F.floor((F.col("rank") - 1) * n_tiles / F.lit(n)).cast("int"),
        )
        .select(
            "id",
            "n_tokens",
            "mean_rarity_bits",
            "sum_rarity_bits",
            "rank",
            "tile",
        )
    )


# --------------------------------------- DSIR importance scoring ----


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    *,
    n_buckets: int = 8192,
) -> DataFrame:
    """Data Selection with Importance Resampling scores (Xie et al.
    2023, arXiv:2302.03169): rank raw-corpus documents by how much
    more likely their hashed-n-gram features are under a TARGET
    domain's bag-of-grams model than under the raw corpus's own — the
    pretraining-data curation step that upweights pages "shaped like"
    a trusted corpus (Wikipedia, books) without a trained classifier.

    ``target_col`` is a boolean column marking the in-domain sample
    rows inside ``df``; every row is scored (targets included, so the
    threshold can be calibrated on the targets' own score range).
    ``id_col`` must be unique per row (it keys the score join).
    Features are hashed BIGRAMS of adjacent non-empty whitespace
    tokens, bucketed to ``n_buckets`` by the engine-portable md5
    convention shared with :func:`hash_sample`.

    The log-likelihood ratio is quantized to WHOLE BITS — the
    :func:`tfidf_topk` / :func:`unigram_logprob_scores` convention,
    for the same reason (a float ``ln`` differs by an ulp between
    libm implementations, so an exact value-hash oracle would be
    flaky).  With ``bits(x) = floor(log2(x)) + 1`` (= digits of the
    base-2 string — exact BIGINT in any engine):

    ``llr_bits = n_grams * (bits(R+1) - bits(T+1))
                 + sum_b cnt_b * (bits(t_b+1) - bits(r_b+1))``

    where ``t_b``/``r_b`` are the bucket's gram counts in the target
    sample / whole corpus and ``T``/``R`` their totals — i.e. the
    exact integer-bit rendering of
    ``sum_gram log2( (t_b/T) / (r_b/R) )`` with add-one smoothing.
    Higher = more target-like.  Docs with < 2 tokens have no bigrams
    and score 0 with ``n_grams = 0``.

    Plan at 10^12 docs: gram bytes never shuffle — each doc's bigrams
    hash to ints in-plan and collapse to doc-scoped ``(id, bucket)``
    partial counts before the one exchange (Zipf-hot boilerplate
    grams cost one combiner row per partition per doc-bucket); both
    n-gram models are ≤ ``n_buckets`` rows (a broadcast, whatever the
    corpus size); the totals are one 1-row aggregate.  No Python, no
    windows.
    """
    base = df.select(
        F.col(id_col).alias("id"), F.col(target_col).cast("boolean").alias("_t")
    )
    t = F.filter(tokens_col("_txt"), lambda w: w != F.lit(""))
    n = F.size(t)
    # adjacent-pair grams as two shifted slices zipped elementwise —
    # NULL when < 2 tokens (explode drops it), identical strings to the
    # per-index element_at construction but O(len) per row instead of
    # O(len²) (see sliding_ngrams_col); the md5 bucket is computed
    # INSIDE the array so the explode emits longs, not gram strings
    bucket_of = lambda g: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    )
    bks = F.when(n >= 2, F.transform(sliding_ngrams_col(t, 2), bucket_of))
    # narrow (id, is_target, bucket) gram rows materialized once
    # (localCheckpoint, the pack_sequences convention): the model
    # build, the totals and the scoring pass all read it, and without
    # the checkpoint each would re-tokenize the full text column.
    #
    # No per-(id, bucket) pre-aggregation exchange: the r5 shape
    # grouped on (id, _t, _b) before scoring to bound the model join's
    # hot-bucket fan, but the model side is a broadcast (<= n_buckets
    # rows) — gram rows never shuffle INTO the join at all, so that
    # corpus-wide exchange bought nothing; the per-doc aggregate below
    # collapses map-side exactly the same. One exchange (groupBy id)
    # instead of two. Values are unchanged: sum_b cnt_b * w_b over
    # grouped counts == sum over gram occurrences of w_bucket(gram).
    rows = (
        spread_input(
            df.select(
                F.col(id_col).alias("id"),
                F.col(target_col).cast("boolean").alias("_t"),
                F.col(text_col).alias("_txt"),
            )
        )
        .select("id", "_t", F.explode(bks).alias("_b"))
        .localCheckpoint(eager=False)
    )
    model = rows.groupBy("_b").agg(
        F.count(F.when(F.col("_t"), True)).alias("_tb"),
        F.count(F.lit(1)).alias("_rb"),
    )
    # totals ride the plan as a 1-row broadcast (no mid-construction
    # .first() job): bits(x+1) == length(bin(x+1)) for x >= 0 in any
    # engine, the same integer-exact identity the Python bit_length
    # path used
    tot = model.agg(F.sum("_tb").alias("_gT"), F.sum("_rb").alias("_gR"))

    def _bits(c) -> Column:
        return F.length(F.conv(c.cast("string"), 10, 2))

    n_grams = F.count(F.lit(1))
    k_const = _bits(F.first("_gR") + 1) - _bits(F.first("_gT") + 1)
    scored = (
        rows.join(F.broadcast(model), "_b")
        .crossJoin(F.broadcast(tot))
        .groupBy("id")
        .agg(
            n_grams.cast("long").alias("n_grams"),
            (
                n_grams * k_const
                + F.sum(_bits(F.col("_tb") + 1) - _bits(F.col("_rb") + 1))
            ).cast("long").alias("llr_bits"),
        )
    )
    return base.join(scored, "id", "left").select(
        F.col("id").alias(id_col),
        "_t",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("llr_bits", F.lit(0)).cast("long").alias("llr_bits"),
    ).withColumnRenamed("_t", "is_target")


# ------------------------------------------------ URL blocklist filter ----


def url_host_col(url: Column | str) -> Column:
    """Lowercased host of a URL (port and userinfo stripped), or NULL
    when no ``scheme://host`` prefix parses. Pure Column regexp."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.regexp_extract(
        F.lower(u), r"^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1
    )
    return F.when(host != "", host)


def url_block_filter(
    df: DataFrame,
    url_col: str,
    blocked: DataFrame | list[str],
) -> DataFrame:
    """Domain-blocklist filtering (the RefinedWeb / C4 "URL filtering"
    stage: adult/fraud/opt-out domain lists applied before any content
    work).  A blocklist entry matches its own domain AND every
    subdomain — ``example.com`` blocks ``a.b.example.com`` — the
    standard suffix rule, done scalably: each URL's host explodes to
    its registrable suffixes (``a.b.c`` -> ``a.b.c``, ``b.c``, ``c`` —
    bounded by label count, ~5 for real hosts), which semi-join the
    blocklist.  Blocklists are small next to a crawl (10^5-10^6 rows
    vs 10^12 pages): Spark broadcasts the join, so no corpus shuffle
    — the plan is scan -> generate -> broadcast-join -> aggregate
    back to one row per input.

    ``blocked`` is a one-string-column DataFrame (first column used)
    or a Python list of domains (lowercased exact labels, no dots
    leading/trailing).  Returns the input rows plus ``host`` and
    ``blocked`` (boolean; NULL-host rows — unparseable URLs — come
    back ``blocked = false`` so the caller decides their fate
    explicitly rather than losing them in a join).
    """
    spark = df.sparkSession
    if isinstance(blocked, list):
        bl = spark.createDataFrame(
            [(d,) for d in blocked], "domain string"
        )
    else:
        bl = blocked.select(F.col(blocked.columns[0]).alias("domain"))
    bl = bl.select(F.lower(F.col("domain")).alias("_bl_dom")).distinct()

    host = url_host_col(F.col(url_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.when(n >= 1, F.sequence(F.lit(1), n)),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    # one row per (row, suffix), rejoined on a synthetic unique row key
    # so duplicate input ids are preserved as duplicates. The key comes
    # from monotonically_increasing_id, which is NON-deterministic
    # across re-evaluations if the upstream reorders (e.g. after a
    # shuffle) — localCheckpoint freezes one evaluation so the explode
    # subtree and the final join see identical keys (and the corpus is
    # scanned once instead of twice)
    keyed = (
        df.withColumn("_rk", F.monotonically_increasing_id())
        .withColumn("host", host)
        .localCheckpoint(eager=False)
    )
    exploded = keyed.select(
        "_rk", F.explode_outer(suffixes).alias("_sfx")
    )
    hits = (
        exploded.join(
            F.broadcast(bl), exploded["_sfx"] == bl["_bl_dom"], "left_semi"
        )
        .select("_rk")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        keyed.join(hits, "_rk", "left")
        .withColumn("blocked", F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_rk", "_hit")
    )
