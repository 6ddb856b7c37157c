"""Text pipeline over web-page payloads: JVM-side column functions only
(input_hint: "no per-row Python"), so every transform here compiles into
Catalyst expressions and runs under whole-stage codegen.

The extraction invariant: ``extract_text(html)`` must be byte-identical per
url against the oracle. It is one expression chain with an explicit UTF-8
repair and an explicit ASCII whitespace class, so no locale or regex-flavour
default can change its bytes.

Also carries the reference's scalar surface (SURVEY.md §2.6) and adds the
training-data-pipeline text analysis set: language-ID heuristic, quality
scoring, token counting, rolling-hash document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# python's bytes-regex \s: exactly the six ASCII whitespace bytes (Java's \s
# is the same set, but spelled out so no flag or flavour can widen it)
_WS_CLASS = "[ \\t\\n\\r\\u000B\\f]+"


def extract_text(html: Column | str) -> Column:
    """html binary → visible text: strip tags, collapse whitespace, trim.

    Semantics are those of the bytes reference ``re.sub(rb"\\s+", b" ",
    re.sub(rb"<[^>]*>", b" ", html)).strip().decode("utf-8",
    errors="replace")``. Decoding first (``make_valid_utf8`` replaces each
    maximal invalid subpart with U+FFFD, as python does) gives the same bytes,
    because both patterns only match ASCII and an ASCII byte always ends an
    invalid sequence. Runs have already collapsed to one ``' '``, so ``trim``
    (spaces only) equals ``bytes.strip()``. Null in, null out."""
    c = F.col(html) if isinstance(html, str) else html
    text = F.make_valid_utf8(c.cast("string"))
    text = F.regexp_replace(text, "<[^>]*>", " ")
    return F.trim(F.regexp_replace(text, _WS_CLASS, " "))


# the name perfbench/workloads.py imports for its standalone text probe
extract_text_arrow = extract_text


def fingerprint64(col: Column | str) -> Column:
    """Deterministic 64-bit content-identity fingerprint, JVM-side
    (whole-stage codegen): xxhash64 over the exact string bytes. Round 1
    shipped this as an FNV-1a pandas UDF with a per-byte Python loop — a
    row-at-a-time anti-pattern at 100 TB; xxhash64 yields the same
    content-identity semantics for ~free."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def winnow_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    seed: int = 11,
):
    """Winnowing document fingerprints (the MOSS local rolling-hash scheme,
    Schleimer/Wilkerson/Aiken 2003): hash every word k-gram, then keep the
    MIN hash of each sliding window of `window` consecutive k-gram hashes.
    Returns (id_col, fingerprints array<long> — distinct selected hashes).

    Guarantees: identical documents → identical fingerprint sets; any shared
    run of ≥ k+window-1 words shares ≥1 fingerprint (the winnowing locality
    property) — so fingerprint-set overlap finds partial-copy documents that
    whole-document hashing misses.

    Staged like minhash_signatures: each expensive array expression is
    materialized behind a repartition barrier, because HOF lambdas are
    interpreted with no common-subexpression elimination — the window `slice`
    must read a physical hash-array column, not re-inline the shingle
    pipeline per window."""
    from embulk_input_marketo_spark.operators.dedup_docs import (
        shingles_from_words,
        words_barrier,
    )

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    hashed = (
        words_barrier(df, text_col, keep=[id_col])
        .select(
            F.col(id_col),
            F.transform(
                shingles_from_words(F.col("_words"), k),
                lambda s: F.xxhash64(s, F.lit(seed)),
            ).alias("_h"),
        )
        .repartition(n_parts)
    )
    h = F.col("_h")
    idx = F.sequence(F.lit(1), F.greatest(F.size(h) - F.lit(window - 1), F.lit(1)))
    return hashed.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(idx, lambda i: F.array_min(F.slice(h, i, window)))
        ).alias("fingerprints"),
    )


# ---------------------------------------------------------------------------
# JVM-side (whole-stage-codegen) text analysis — preferred in hot paths
# ---------------------------------------------------------------------------

def token_count(col: Column | str) -> Column:
    """Whitespace token count, null-safe, JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def char_classes(col: Column | str) -> dict[str, Column]:
    """Character-class counts used by quality scoring (all codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    return {
        "n_chars": total.cast("long"),
        "n_alpha": (total - F.length(F.regexp_replace(c, "[a-zA-Z]", ""))).cast("long"),
        "n_digit": (total - F.length(F.regexp_replace(c, "[0-9]", ""))).cast("long"),
        "n_punct": (total - F.length(F.regexp_replace(c, "[.,;:!?]", ""))).cast("long"),
        "n_space": (total - F.length(F.regexp_replace(c, " ", ""))).cast("long"),
    }


# a deliberately tiny, deterministic stopword set per language — heuristic
# language ID by stopword hit-rate (n-gram-free so it is SQL-oracle-checkable)
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Count of stopword occurrences (word-boundary) for a language: ONE
    alternation regex per language — 4 regex passes over the corpus
    instead of 20 (one regexp_replace per word).

    r6: ``regexp_count`` instead of ``size(split(c, pat)) - 1``. The count
    is identical for any input — non-overlapping matches ≡ split points
    (Spark's split keeps trailing empties at limit -1, so pieces =
    matches + 1; null in → null out both ways; the pattern cannot match
    the empty string) — verified mismatch-free over the full sf1.0 corpus,
    but skips allocating the split pieces (each a copy of a text chunk)."""
    c = F.col(col) if isinstance(col, str) else col
    pat = r"\b(" + "|".join(_STOPWORDS[lang]) + r")\b"
    return F.regexp_count(c, F.lit(pat)).cast("long")


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality score from length / punctuation / alpha
    ratios — the length-punct-stopword heuristic of web-text cleaning
    pipelines, all in native expressions."""
    c = F.col(col) if isinstance(col, str) else col
    cls = char_classes(c)
    n = F.greatest(cls["n_chars"], F.lit(1)).cast("double")
    alpha_ratio = cls["n_alpha"] / n
    space_ratio = cls["n_space"] / n
    len_score = F.least(cls["n_chars"].cast("double") / F.lit(500.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * alpha_ratio + F.lit(0.2) * F.least(space_ratio * 5, F.lit(1.0))
        + F.lit(0.3) * len_score,
        6,
    )


def doc_repetition(
    df, text_col: str = "text", id_col: str = "doc_id"
):
    """Within-document repetition metrics (the Gopher-rules quality family):
    duplicate-word fraction and most-common-bigram mass per document —
    machine-generated / keyword-stuffed pages score high on both.

    Output: (doc_id, n_words, n_distinct_words, top_bigram_n, n_bigrams,
    dup_word_frac, top_bigram_frac). Counts are exact longs (hash-stable
    across engines); fractions are ROUND(x, 6) of ratios of those longs.

    Scale shape: word stats are per-row array expressions (no shuffle); the
    bigram mode is two map-side-combined aggregates keyed by (doc, 8-byte
    bigram hash) then doc — never wider than one document's vocabulary per
    task."""
    from embulk_input_marketo_spark.operators.dedup_docs import (
        shingles_from_words, words_barrier,
    )

    base = words_barrier(df, text_col, keep=[id_col])
    stats = base.select(
        id_col,
        F.size("_words").cast("long").alias("n_words"),
        F.size(F.array_distinct("_words")).cast("long").alias("n_distinct_words"),
    )
    bigrams = base.select(
        id_col,
        F.explode(shingles_from_words(F.col("_words"), 2)).alias("_g"),
    ).select(id_col, F.xxhash64("_g").alias("_h"))
    mode = (
        bigrams.groupBy(id_col, "_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(
            F.max("_c").alias("top_bigram_n"),
            F.sum("_c").cast("long").alias("n_bigrams"),
        )
    )
    return stats.join(mode, id_col).select(
        id_col,
        "n_words",
        "n_distinct_words",
        "top_bigram_n",
        "n_bigrams",
        F.round(
            F.lit(1.0) - F.col("n_distinct_words") / F.col("n_words"), 6
        ).alias("dup_word_frac"),
        F.round(F.col("top_bigram_n") / F.col("n_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
    )


def token_frequency_stats(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_max: int = 2,
    heavy_hitters: int = 10_000,
):
    """Corpus-statistical token scoring (the unigram-LM quality signal,
    integer-exact): per document, how frequent its tokens are in the WHOLE
    corpus — gibberish and OCR noise score low-frequency, boilerplate scores
    very high. Formulated with exact integer aggregates (counts and a long
    sum) so the derived ratios are single double divisions — bit-stable
    across engines, unlike a floating mean-log-likelihood whose summation
    order is engine-dependent.

    Output: (doc_id, n_tokens, n_rare, min_freq, avg_freq, rare_ratio),
    where a token is 'rare' if its corpus count ≤ ``rare_max``.

    Scale shape: the vocabulary count is one map-side-combined aggregate
    (its reduce side sees ≤ one partial row per word per map partition —
    never skewed). The risk was the count JOIN-BACK: partitioned by word,
    Zipf's law puts a constant fraction of ALL corpus token occurrences
    ("the", "of", …) into single partitions (round-3 VERDICT). The split:
    the ``heavy_hitters`` most frequent words' counts BROADCAST — their
    occurrences (most of the corpus, under Zipf) take a map-side broadcast
    join and never shuffle by word — and only the long tail, whose
    per-word mass is bounded by the top-K cutoff, shuffle-joins. The final
    per-doc reduce is keyed by doc (uniform) and map-side combined.
    ``heavy_hitters=0`` restores the plain co-partitioned join (useful for
    A/B and as the no-skew fast path)."""
    words = df.select(
        id_col,
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "_w"
        ),
    ).where(F.col("_w") != "")
    vocab = words.groupBy("_w").agg(F.count(F.lit(1)).alias("_n"))
    if heavy_hitters > 0:
        # TakeOrderedAndProject (per-partition top-K, driver merge), NOT a
        # global sort; deterministic tiebreak on the word
        hot = F.broadcast(
            vocab.orderBy(F.desc("_n"), F.asc("_w"))
            .limit(int(heavy_hitters))
            .withColumnRenamed("_n", "_hn")
        )
        tagged = words.join(hot, "_w", "left")
        hot_occ = tagged.where(F.col("_hn").isNotNull()).select(
            id_col, F.col("_hn").alias("_n")
        )
        tail_vocab = vocab.join(hot.select("_w"), "_w", "left_anti")
        tail_occ = (
            tagged.where(F.col("_hn").isNull())
            .select(id_col, "_w")
            .join(tail_vocab, "_w")
            .select(id_col, "_n")
        )
        freqs = hot_occ.unionByName(tail_occ)
    else:
        freqs = words.join(vocab, "_w").select(id_col, "_n")
    return (
        freqs.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("_n") <= rare_max).alias("n_rare"),
            F.min("_n").alias("min_freq"),
            F.sum("_n").cast("long").alias("_sum_freq"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_rare",
            "min_freq",
            F.round(F.col("_sum_freq") / F.col("n_tokens"), 6).alias(
                "avg_freq"
            ),
            F.round(F.col("n_rare") / F.col("n_tokens"), 6).alias(
                "rare_ratio"
            ),
        )
    )


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count, JVM-side: the number of pre-tokenizer units —
    letter runs, digit runs, and individual punctuation marks — the
    GPT-2-family pre-tokenization shape without the merges table. A real
    BPE count is ≥ this (merges only split pre-tokens further for unknown
    words; digit runs fan out per tokenizer), so this is the cheap
    screening estimate for token budgets; exact counts come from running
    the actual tokenizer as an Arrow UDF upstream. Pattern kept to the
    regex intersection of Java (Spark) and RE2 (DuckDB oracle) dialects."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(
        c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    ).cast("long")


# PII patterns, ordered: emails first (their local parts contain digits and
# dots that the looser patterns would otherwise chew on), then IPs (dots
# disambiguate from phones), then phone-like digit runs.
_PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
]


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (emails, IPv4s, phone-like digit runs) —
    JVM regexp_count, one pass per pattern. The counting and the redaction
    share the ordered pattern table so counts always describe what
    :func:`pii_redact` would remove."""
    c = F.col(col) if isinstance(col, str) else col
    out = {}
    cur = c
    for name, pat, repl in _PII_PATTERNS:
        out[f"n_{name}"] = F.regexp_count(cur, F.lit(pat)).cast("long")
        # count on the progressively-redacted text: an IP inside an email
        # already replaced must not double-count
        cur = F.regexp_replace(cur, pat, repl)
    return out


def pii_redact(col: Column | str) -> Column:
    """Deterministic PII redaction for training corpora: emails → <EMAIL>,
    IPv4s → <IP>, phone-like runs → <PHONE>, applied in that order (chained
    regexp_replace, whole-stage codegen — no UDF). The screening pass of a
    compliance pipeline; entity-model redaction slots in upstream as an
    Arrow UDF where the regex tier is not enough."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in _PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def lang_id_argmax(scores: dict[str, Column]) -> Column:
    """The lang_id argmax fold over ALREADY-COMPUTED per-language scores:
    'und' unless some score is strictly greater than every earlier one
    (earlier language in dict order wins ties). Split out in r6 so callers
    can stage the scores behind a materialization barrier: the nested
    when-chains reference each score O(2^langs) times, and with the regex
    counts inlined that re-ran every regex per reference (the sf1.0 bench's
    lang_id was 14.5 s; staged + counted it is 2.0 s, hash-identical —
    see plans/r06/lang_id_*.txt)."""
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    # deterministic tie-break: earlier language in _STOPWORDS order wins ties
    for lang, score in scores.items():
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    'und' (undetermined) when all zero. Pure column expressions. For bulk
    scoring prefer computing the per-language scores as their own projection
    behind a barrier and folding with :func:`lang_id_argmax` (see there)."""
    c = F.col(col) if isinstance(col, str) else col
    lc = F.lower(c)
    return lang_id_argmax(
        {lang: stopword_hits(lc, lang) for lang in _STOPWORDS}
    )


# ---------------------------------------------------------------------------
# Gopher-style document quality rules + hashed linear classifier
# ---------------------------------------------------------------------------

def gopher_flags(
    col: Column | str,
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> dict[str, Column]:
    """Gopher-family document-level quality rules (Rae et al. 2021 §A.1.1,
    the MassiveWeb repetition-free subset), each as a named column plus the
    conjunction ``keep`` — the standard pre-training heuristic filter
    stack. Thresholds are parameters; defaults follow the paper scaled to
    short fixture documents (the paper uses 50..100k words).

    Everything is JVM-side: counts via regexp/length arithmetic, the one
    per-word predicate (does the word contain a letter) via a ``filter``
    HOF over the split array — interpreted, but a single pass over each
    doc's own words, never wider than one row. ``mean_word_len`` divides
    the space-free character count by the whitespace word count, which is
    exact for any run of whitespace because both sides ignore it.
    """
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    n_words = token_count(c)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = F.length(F.regexp_replace(t, r"\s+", "")).cast("double") / nw
    words = F.split(t, r"\s+")
    n_alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    # ellipsis / hash marks per word — the Gopher "symbol ratio" rule
    n_sym = F.regexp_count(t, F.lit(r"\.\.\.|#")).cast("long")
    hits = stopword_hits(F.lower(t), "en")
    flags = {
        "n_words": n_words,
        "mean_word_len": F.round(mean_wl, 6),
        "alpha_word_frac": F.round(n_alpha_words.cast("double") / nw, 6),
        "symbol_ratio": F.round(n_sym.cast("double") / nw, 6),
        "stopword_hits": hits,
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "ok_alpha_words": (n_alpha_words.cast("double") / nw)
        >= min_alpha_word_frac,
        "ok_symbol_ratio": (n_sym.cast("double") / nw) <= max_symbol_ratio,
        "ok_stopwords": hits >= min_stopword_hits,
    }
    flags["keep"] = (
        flags["ok_word_count"]
        & flags["ok_mean_word_len"]
        & flags["ok_alpha_words"]
        & flags["ok_symbol_ratio"]
        & flags["ok_stopwords"]
    )
    return flags


def hashed_classifier_score(
    col: Column | str, seed: str = "w7", scale: int = 500
) -> dict[str, Column]:
    """Hashed-bag-of-words linear classifier scoring — the fasttext /
    DCLM-style quality-classifier pass re-expressed as pure column
    functions. Each token's weight is an integer in [-scale, scale]
    derived from md5(token|seed) (a stand-in weight table: a real model's
    weights would arrive as a broadcast hash-bucket array with identical
    plan shape); the document score is the integer weight sum normalized
    by scale·n_words into [-1, 1].

    Integer-exact until the single final division (the
    token_frequency_stats discipline), so the DuckDB oracle reproduces the
    score bit-for-bit. The weight map + fold run as transform/aggregate
    HOFs over each doc's own token array — interpreted eval, one pass,
    per-row bounded; at corpus scale the numpy Arrow backend pattern
    (dedup_docs._minhash_np_udf) is the drop-in accel if this stage ever
    dominates.
    """
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    n_words = token_count(c)
    words = F.split(t, r"\s+")
    weights = F.transform(
        words,
        lambda w: F.conv(
            F.substring(F.md5(F.concat(w, F.lit("|" + seed))), 1, 4), 16, 10
        ).cast("long")
        % (2 * scale + 1)
        - scale,
    )
    wsum = F.aggregate(
        weights, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    score = wsum.cast("double") / (
        F.lit(float(scale)) * F.greatest(n_words, F.lit(1)).cast("double")
    )
    return {
        "n_words": n_words,
        "weight_sum": wsum,
        "clf_score": F.round(score, 6),
        "clf_label": score > 0,
    }


def gopher_quality_stats(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
):
    """Staged DataFrame form of :func:`gopher_flags` for bulk scoring:
    the five per-document raw counts (each one regex/HOF pass over the
    text) are computed as their own projection behind a localCheckpoint
    barrier, then every flag/ratio derives from the cheap counted
    attributes. The Column-dict form re-evaluates shared sub-expressions
    per referencing output column (the word-split filter HOF and
    token_count are CodegenFallback/interpreted, so subexpression
    elimination never merges them — r6 plan audit; guide §4.1). Same
    formulas on the same counts ⇒ identical values; pinned against
    :func:`gopher_flags` by test and oracle.

    Output columns: (id, n_words, mean_word_len, alpha_word_frac,
    symbol_ratio, stopword_hits, keep) — the gopher_quality query shape."""
    c = F.col(text_col)
    t = F.trim(c)
    words = F.split(t, r"\s+")
    base = df.select(
        id_col,
        token_count(c).alias("_nw"),
        F.length(F.regexp_replace(t, r"\s+", "")).alias("_lns"),
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        .cast("long").alias("_na"),
        F.regexp_count(t, F.lit(r"\.\.\.|#")).cast("long").alias("_ns"),
        stopword_hits(F.lower(t), "en").alias("_h"),
    ).localCheckpoint(eager=False)
    n_words = F.col("_nw")
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = F.col("_lns").cast("double") / nw
    alpha_frac = F.col("_na").cast("double") / nw
    sym_ratio = F.col("_ns").cast("double") / nw
    hits = F.col("_h")
    keep = (
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
        & (alpha_frac >= min_alpha_word_frac)
        & (sym_ratio <= max_symbol_ratio)
        & (hits >= min_stopword_hits)
    )
    return base.select(
        id_col,
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        hits.alias("stopword_hits"),
        keep.alias("keep"),
    )


def hashed_classifier_stats(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "w7",
    scale: int = 500,
):
    """Staged DataFrame form of :func:`hashed_classifier_score`: the
    md5-per-token weight fold (an interpreted transform/aggregate HOF —
    the expensive part) and the token count run ONCE behind a barrier;
    score and label derive from the two attributes. The Column-dict form
    re-evaluated the whole fold for each of weight_sum / clf_score /
    clf_label (CodegenFallback ⇒ no subexpression elimination — r6 plan
    audit). Identical arithmetic on identical integers ⇒ bit-identical
    outputs; pinned by oracle parity.

    Output columns: (id, n_words, weight_sum, clf_score, clf_label).

    (r6 A/B note: a hashlib-per-token Python kernel was measured SLOWER
    than the JVM md5 fold here — 4.9 s vs 3.3 s at sf1.0 — Python call
    overhead per token beats the interpreted-HOF tax, so the expression
    form stays.)"""
    c = F.col(text_col)
    t = F.trim(c)
    words = F.split(t, r"\s+")
    weights = F.transform(
        words,
        lambda w: F.conv(
            F.substring(
                F.md5(F.concat(w, F.lit("|" + seed))), 1, 4
            ), 16, 10
        ).cast("long")
        % (2 * scale + 1)
        - scale,
    )
    wsum = F.aggregate(
        weights, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    base = df.select(
        id_col,
        token_count(c).alias("_nw"),
        wsum.alias("_ws"),
    ).localCheckpoint(eager=False)
    score = F.col("_ws").cast("double") / (
        F.lit(float(scale)) * F.greatest(F.col("_nw"), F.lit(1)).cast("double")
    )
    return base.select(
        id_col,
        F.col("_nw").alias("n_words"),
        F.col("_ws").alias("weight_sum"),
        F.round(score, 6).alias("clf_score"),
        (score > 0).alias("clf_label"),
    )


def chunk_documents(
    df,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    size: int = 128,
    overlap: int = 32,
):
    """Overlapping fixed-window document chunking — the context-window prep
    stage of a training/RAG corpus pipeline (pack_documents' upstream twin:
    packing bins whole docs into budgets; chunking splits docs that exceed
    one).

    Whitespace tokens (the ``token_count`` tokenizer); chunk ``k`` covers
    tokens ``[k*stride, k*stride + size)`` with ``stride = size - overlap``,
    so consecutive chunks share ``overlap`` tokens and the last chunk is the
    only one that may run short (it is never empty: its start is < the token
    count by construction). Documents with NULL/blank text yield no chunks.
    Emits ``(*id_cols, chunk_idx, chunk_text, n_tokens)``.

    Scale shape: pure JVM expressions — one ``split`` per doc, a
    ``sequence``/``explode`` Generate (streamed, never a materialized
    per-doc array of chunks), ``slice``/``array_join`` per chunk. No
    shuffle, no UDF; output rows ∝ input tokens / stride, produced
    pipeline-parallel within each scan partition — the plan is identical at
    100 TB. Chunk identity is (id, chunk_idx): deterministic, so downstream
    dedup/packing can key on it.

    Reference seam: the reference slices an export by TIME window into
    fixed ranges (``MarketoBaseBulkExtractInputPlugin.java`` window loops);
    this is the same fixed-window-with-boundary-rule discipline applied to
    token position instead of timestamp.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap=} {size=}")
    stride = size - overlap
    ids = id_cols or ["doc_id"]
    # FULL whitespace strip, not trim(): trim strips only spaces, and
    # split(\s+) keeps a leading/trailing empty token when the text is
    # tab/newline-padded — that empty token would count in n_tokens and a
    # tab-only doc would emit a phantom chunk (r4 ADVICE). The oracle
    # mirrors this normalization.
    t = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
    words = F.split(t, r"\s+")
    n = F.size(words)
    extra = F.greatest(
        F.ceil((n - F.lit(size)) / F.lit(float(stride))), F.lit(0).cast("long")
    )
    kept = df.where(F.col(text_col).isNotNull() & (t != "")).select(
        *ids, words.alias("_w"), n.alias("_n"), extra.alias("_extra")
    )
    k = F.col("chunk_idx")
    return (
        kept.select(
            *ids, "_w", "_n",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_extra")))
            .alias("chunk_idx"),
        )
        .select(
            *ids,
            k,
            F.array_join(
                F.slice("_w", (k * stride + 1).cast("int"), size), " "
            ).alias("chunk_text"),
            F.least(F.col("_n") - k * stride, F.lit(size))
            .cast("long")
            .alias("n_tokens"),
        )
    )
