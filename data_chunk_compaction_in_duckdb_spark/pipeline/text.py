"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

Everything except language_id is pure built-in expressions (oracle-
checkable); language_id is a closure-serialized pandas UDF implementing
a stopword/character n-gram heuristic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Tiny per-language marker sets for the heuristic language ID — function
# words chosen for distinctiveness, not coverage.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "with", "for", "that"),
    "de": ("der", "die", "das", "und", "ist", "mit", "für", "nicht"),
    "es": ("el", "la", "los", "las", "es", "con", "para", "que"),
    "fr": ("le", "la", "les", "est", "avec", "pour", "que", "des"),
    "zh": (),  # handled by the CJK character-ratio rule
}

STOPWORDS = _LANG_MARKERS["en"]


def token_counts(col: Column | str) -> dict[str, Column]:
    """Whitespace tokens and BPE-ish subword tokens (letter runs, digit
    runs, single punctuation — the common pre-tokenizer regex)."""
    c = F.col(col) if isinstance(col, str) else col
    ws = F.size(F.split(F.trim(c), r"\s+"))
    bpe = F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
    return {"ws_tokens": ws, "bpe_tokens": bpe}


def word_ngrams(col: Column | str, n: int, distinct: bool = True) -> Column:
    """Word n-grams of a text column as an array of space-joined strings.

    Documents shorter than ``n`` words yield one gram (the whole text) so
    every non-empty document contributes at least one row downstream —
    the convention the contamination/top-k operators rely on.  A NULL
    text yields ``[NULL]``, so exploding it emits one (id, NULL) row
    (pinned by tests/test_pipeline.py::test_word_ngrams_pinned_rows).
    Pure built-ins (split/sequence/transform/slice), so the expression stays
    inside whole-stage codegen and is replayable in DuckDB as
    list_transform over list_slice."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(c), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.array_distinct(grams) if distinct else grams


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: for each candidate document, the
    fraction of its distinct word ``n``-grams that also occur anywhere in
    the benchmark set — the standard train/test decontamination step of a
    corpus build.

    Scale shape: the benchmark gram set is DISTINCT-reduced first (it is
    bounded — eval sets are small) and broadcasts into the probe join,
    so the candidate side is never shuffled as grams; what shuffles is
    ONE partially-aggregated row per (doc, partition).  Single corpus
    pass: the gram array is computed and exploded once per document
    (the former two-branch form — a size() projection plus a separate
    explode branch — re-derived the n-gram expression twice and joined
    the branches back together; plan audit showed 2 corpus subtrees,
    4 exchanges).  ``n_grams`` is simply COUNT(*) per document over the
    exploded distinct grams — the identical value size() produced, and
    the exact shape of the DuckDB oracle (COUNT(*) / COUNT(b.gram)
    over cand LEFT JOIN bench).  Every non-empty document yields >= 1
    gram (word_ngrams' whole-text convention), so no document is lost.
    NOTE: do NOT project size(grams) next to explode(grams) — Catalyst
    duplicates the gram expression above the Generate and re-evaluates
    it per exploded row (measured 8x slower)."""
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    docs = fan_out(docs)  # single-file local scans plan as one task
    cand = docs.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram")
    )
    bgrams = bench.select(
        F.explode(word_ngrams(text_col, n)).alias("gram")
    ).distinct()
    hit = (
        cand.join(
            F.broadcast(bgrams.withColumn("_hit", F.lit(1))), "gram", "left"
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
    )
    return hit.select(
        F.col(id_col),
        "n_grams",
        "n_hit",
        F.round(F.col("n_hit").cast("double") / F.col("n_grams"), 6).alias(
            "contamination"
        ),
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring features: length, punctuation/digit/space ratios,
    stopword ratio, mean word length — the standard cheap filters applied
    before expensive model-based scoring."""
    c = F.col(col) if isinstance(col, str) else col
    length = F.length(c)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_digit = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    words = F.split(F.trim(F.lower(c)), r"\s+")
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    return {
        "n_chars": length,
        "punct_ratio": F.round(n_punct / F.greatest(length, F.lit(1)), 6),
        "digit_ratio": F.round(n_digit / F.greatest(length, F.lit(1)), 6),
        "stopword_ratio": F.round(
            n_stop / F.greatest(n_words, F.lit(1)).cast("double"), 6
        ),
        "mean_word_len": F.round(
            (F.length(F.regexp_replace(c, r"\s+", "")))
            / F.greatest(n_words, F.lit(1)).cast("double"),
            6,
        ),
    }


def text_fingerprint(col: Column | str, hex_chars: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, whitespace-collapsed, punctuation-stripped), truncated.
    Engine-portable; two documents with the same fingerprint are
    duplicates up to normalization."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(
        F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))), r"[^\w ]", ""
    )
    return F.substring(F.md5(normalized), 1, hex_chars)


def _make_language_id():
    markers = {k: frozenset(v) for k, v in _LANG_MARKERS.items()}

    @F.pandas_udf(T.StringType())
    def udf(texts: pd.Series) -> pd.Series:
        def lid(t: str | None) -> str | None:
            if t is None:
                return None
            # CJK character-ratio rule first.
            cjk = sum(1 for ch in t if "一" <= ch <= "鿿")
            if len(t) > 0 and cjk / len(t) > 0.2:
                return "zh"
            words = t.lower().split()
            if not words:
                return "und"
            best, best_score = "und", 0.0
            for lang, stops in markers.items():
                if not stops:
                    continue
                score = sum(1 for w in words if w in stops) / len(words)
                if score > best_score:
                    best, best_score = lang, score
            return best if best_score > 0.02 else "und"

        return texts.map(lid)

    return udf


language_id = _make_language_id()


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 32,
    overlap_words: int = 8,
) -> DataFrame:
    """Split each document into fixed-size word-window chunks with
    overlap — the training-data chunking stage (context-window packing).

    Pure narrow built-ins: split → sequence(#chunks) → explode → slice →
    array_join; no UDF, no shuffle, output grows by the overlap factor
    only.  Chunk starts advance by ``chunk_words − overlap_words``; the
    final partial chunk is kept (truncated slice), matching the greedy
    packing a tokenizer-side chunker performs."""
    if overlap_words >= chunk_words:
        raise ValueError("overlap_words must be < chunk_words")
    step = chunk_words - overlap_words
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    # greedy chunk count: new chunks start while start < n - overlap,
    # so ceil((n - overlap) / step), min 1 — no chunk is a pure suffix
    # of the previous one
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((n - F.lit(overlap_words) + F.lit(step - 1)) / F.lit(step)),
    ).cast("int")
    return (
        df.select(
            F.col(id_col),
            words.alias("_words"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join(
                F.slice(
                    "_words", F.col("chunk_idx") * step + 1, chunk_words
                ),
                " ",
            ).alias("chunk_text"),
            F.size(
                F.slice("_words", F.col("chunk_idx") * step + 1, chunk_words)
            ).alias("n_words"),
        )
    )


def redact_patterns(
    col: Column | str,
    patterns: list[tuple[str, str]] | None = None,
) -> Column:
    """Chained regexp_replace redaction — the PII-scrub stage of a
    training-data pipeline.  Default patterns cover emails, long digit
    runs (phone/account numbers), and IPv4 addresses; pass your own
    (pattern, replacement) list for other categories.  JVM-side
    regexp_replace, whole-stage codegen, no UDF."""
    if patterns is None:
        patterns = [
            (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
            (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
            (r"\b\d{7,}\b", "[NUM]"),
        ]
    out = F.col(col) if isinstance(col, str) else col
    for pat, repl in patterns:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_ratio(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Repetition-ratio quality metric: 1 - distinct/total word n-grams
    per document — the standard repetitious-text gate of a corpus build
    (heavily duplicated phrasing scores high and gets filtered).

    Pure narrow built-ins (no explode, no shuffle): both gram counts are
    array sizes computed in one projection."""
    grams = word_ngrams(text_col, n, distinct=False)
    n_total = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return docs.select(
        F.col(id_col),
        n_total.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        F.round(
            F.lit(1.0) - n_distinct.cast("double") / n_total, 6
        ).alias("repetition"),
    )


def unigram_logprob(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Perplexity-proxy scoring with a corpus unigram LM: mean
    -ln p(word) per document, p from the corpus's own word frequencies.

    Scale shape: the frequency table is vocabulary-bounded (Heaps' law),
    built by one explode + map-side partial count; the corpus total
    rides a 1-row broadcast crossJoin (no driver scalar); the per-word
    join keys both sides on the word and re-groups on the document id.
    Words explode via fan_out so single-file local scans parallelize."""
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    docs = fan_out(docs)
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
    )
    freq = words.groupBy("word").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    scored = (
        words.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.ln(F.col("cnt").cast("double") / F.col("total")).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.round(-F.sum("lp") / F.count("*"), 6).alias("mean_neg_logprob"),
    )


# Typed PII categories for the scrub stage.  Category patterns are kept
# RE2-compatible (no backreferences/lookaround) so the DuckDB oracle can
# replay redaction and counting verbatim; \b and bounded repetition behave
# identically in Java regex and RE2 over ASCII.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
]


def redact_pii(col: Column | str) -> Column:
    """Typed PII redaction: emails, IPv4, SSN-shaped, phone-shaped spans
    replaced with category tags, in PII_PATTERNS order (IP before the
    dash-digit shapes so dotted quads are never half-eaten by a later
    pattern).  Chained JVM regexp_replace — whole-stage codegen, no UDF."""
    return redact_patterns(
        col, [(pat, repl) for _, pat, repl in PII_PATTERNS]
    )


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-category PII hit counts (non-overlapping matches, computed on
    the ORIGINAL text so counts are independent of redaction order) —
    the audit/reporting side of the scrub stage."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        f"n_{name}": F.regexp_count(c, F.lit(pat))
        for name, pat, _ in PII_PATTERNS
    }


def top_gram_fraction(
    docs: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style top-n-gram filter signal: the most frequent word
    n-gram per document and the fraction of the document's characters
    its occurrences cover (heavily templated text scores high).

    Scale shape: per-document single pass — array_sort the gram list,
    then one F.aggregate fold tracks the current run length and the best
    (count, gram); O(t log t) per doc, map-only, no shuffle and no UDF,
    so a 100 TB corpus scores in one narrow projection.  Ties on count
    resolve to the lexicographically smallest gram (the fold only
    replaces on a strictly longer run over the sorted list), which the
    SQL oracle mirrors with ORDER BY cnt DESC, gram ASC."""
    grams = word_ngrams(text_col, n, distinct=False)
    base = docs.select(
        F.col(id_col),
        F.length(F.trim(F.col(text_col))).alias("_len"),
        F.array_sort(grams).alias("_g"),
    )
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best_cnt"),
        F.lit(None).cast("string").alias("best_gram"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        better = run > acc["best_cnt"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best_cnt"]).alias("best_cnt"),
            F.when(better, x).otherwise(acc["best_gram"]).alias("best_gram"),
        )

    best = F.aggregate(F.col("_g"), init, step)
    return base.select(
        F.col(id_col),
        best["best_gram"].alias("top_gram"),
        best["best_cnt"].alias("top_cnt"),
        F.size("_g").alias("n_grams"),
        F.round(
            (F.length(best["best_gram"]) * best["best_cnt"]).cast("double")
            / F.greatest(F.col("_len"), F.lit(1)),
            6,
        ).alias("top_gram_char_frac"),
    )
