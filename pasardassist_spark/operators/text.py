"""Text-analysis operators for large-scale training-data pipelines.

All expressions are built-in Column functions (JVM-side, whole-stage
codegen) — no Python in the hot path, so a 100 TB documents table runs these
at parquet-scan speed. Token/shingle arrays are computed once per row and
shared by downstream dedup/fingerprint operators.

The reference has no text pipeline (closed JS helper set, SURVEY.md §2.10);
this is the driver-mandated extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Marker stopwords per language for the n-gram/stopword language-ID heuristic.
# Priority order (ties resolve to the earlier entry) is part of the contract.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "le"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")

def tokens(text: Column) -> Column:
    """Whitespace tokenization (trim first so no empty edge tokens)."""
    return F.split(F.trim(text), r"\s+")


def word_ngrams(toks: Column, n: int) -> Column:
    """Overlapping word n-grams joined by single spaces; empty if < n tokens.

    NB: Spark's sequence(1, 0) auto-steps DOWN to [1, 0]; the when() guard
    returns an empty array for short documents instead.
    """
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def token_count(toks: Column) -> Column:
    return F.size(toks).cast("long")


def distinct_token_count(toks: Column) -> Column:
    return F.size(F.array_distinct(toks)).cast("long")


# GPT-2-style pretokenizer, ASCII form (unicode classes behave differently
# across regex engines; the synthetic corpus is ASCII — see TESTDATA.md):
# contractions | space?+letters | space?+digits | space?+other-punct runs.
# Counting these pretokens is the standard fast proxy for BPE token counts
# (real BPE only ever SPLITS pretokens further, so this is a lower bound
# within ~1.3x for English text).
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_tokens(text: Column) -> Column:
    """Subword-ish pretokens via the GPT-2 split regex (JVM regexp, no
    Python). Real tokenizer vocabularies plug in as a broadcast merge table;
    the pretoken split is the part that matters for distributed counting."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens that appear in ``words`` (with multiplicity)."""
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def quality_score(n_tok: Column, stop_ratio: Column, type_token_ratio: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation + stopword
    density + lexical diversity. Pure double arithmetic — identical in any
    engine evaluating the same formula."""
    length_part = F.least(F.lit(1.0), n_tok.cast("double") / F.lit(50.0))
    return length_part * 0.4 + stop_ratio * 0.3 + type_token_ratio * 0.3


def quality_bucket(score: Column) -> Column:
    return (
        F.when(score >= 0.6, "high").when(score >= 0.4, "medium").otherwise("low")
    )


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: hits(toks, words) for lang, words in LANG_MARKERS.items()}


def predict_lang(scores: dict[str, Column]) -> Column:
    """Argmax over marker-hit counts; ties resolve in LANG_MARKERS order.

    Implemented as ``array_max`` over (score, -position, lang) structs —
    struct comparison is lexicographic, so the max is the highest score,
    earliest-declared on ties. Crucially each score expression appears
    EXACTLY ONCE: the score columns are lambda-bearing higher-order
    functions, which Spark's subexpression elimination skips
    (LambdaVariable binding), so the equivalent pairwise CASE re-evaluates
    every referenced score per comparison — ~4 full token-array traversals
    per row for 5 languages. Single-reference argmax is the fused-scan
    form that stays cheap at 100 TB.
    """
    langs = list(LANG_MARKERS)
    candidates = F.array(
        *[
            F.struct(
                scores[lang].alias("s"),
                F.lit(-i).alias("np"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    return F.array_max(candidates).getField("lang")


def max_run_count(sorted_toks: Column) -> Column:
    """Count of the most frequent element of an array, via one O(n log n)
    sort + one linear scan (longest equal run of the sorted array). The
    scalable row-local form of "top token frequency": no explode, no
    shuffle, no O(distinct x n) nested filter — the whole computation stays
    inside the parquet scan stage. Pass an already-sorted array.
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc.getField("prev")), acc.getField("run") + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.getField("best"), run).alias("best")
        )

    return F.aggregate(sorted_toks, init, step, lambda acc: acc.getField("best"))


# Synthetic-PII redaction patterns (shared Spark/DuckDB dialect subset:
# \d, \b, bounded repetition all behave identically in Java regex and RE2).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b555-\d{4}\b", "<PHONE>"),
)


def redact_pii(text: Column) -> tuple[Column, dict[str, Column]]:
    """(redacted_text, {kind: match_count}) for the PII_PATTERNS chain.
    Pattern order matters (emails contain dots+digits, so they redact
    before IPs can half-match inside them). Pure JVM regexp — the 100 TB
    corpus-scrub runs at scan speed."""
    counts = {name: F.regexp_count(text, F.lit(pat)).cast("long") for name, pat, _ in PII_PATTERNS}
    red = text
    for _, pat, marker in PII_PATTERNS:
        red = F.regexp_replace(red, pat, marker)
    return red, counts


def fingerprint(toks: Column, shingle_len: int = 5) -> Column:
    """Document fingerprint: min-md5 over word shingles (winnowing-style
    min-selection; rolling-hash analog kept engine-portable via md5).
    Null for documents shorter than one shingle."""
    grams = word_ngrams(toks, shingle_len)
    return F.array_min(F.transform(grams, F.md5))


# Unicode script ranges for script-based language routing (BMP core blocks;
# supplementary planes are out of scope for this corpus). Ordered PRIORITY
# rules: the first script whose character share meets its threshold wins —
# kana is checked before Han because Japanese text is Han-heavy with a
# minority of kana (a pure argmax would route ja -> zh), and 5% kana is
# decisive while 30% is the general "dominant script" bar.
SCRIPT_RULES: tuple[tuple[str, int, int, float], ...] = (
    ("ja", 0x3040, 0x30FF, 0.05),  # hiragana + katakana
    ("zh", 0x4E00, 0x9FFF, 0.30),  # CJK unified ideographs
    ("ko", 0xAC00, 0xD7AF, 0.30),  # hangul syllables
    ("ru", 0x0400, 0x04FF, 0.30),  # cyrillic
    ("ar", 0x0600, 0x06FF, 0.30),  # arabic
    ("el", 0x0370, 0x03FF, 0.30),  # greek + coptic
    ("hi", 0x0900, 0x097F, 0.30),  # devanagari
)


def script_class_pattern(lo: int, hi: int) -> str:
    """Java-regex character class for a BMP codepoint range (Spark side).
    DuckDB's RE2 uses the same class with \\x{...} escapes — both are
    generated from the SAME (lo, hi) constants so they cannot drift."""
    return f"[\\u{lo:04X}-\\u{hi:04X}]"


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script character counts (regexp_count stays JVM-side and fuses
    into the scan projection)."""
    return {
        lang: F.regexp_count(text, F.lit(script_class_pattern(lo, hi)))
        for lang, lo, hi, _thr in SCRIPT_RULES
    }


def predict_lang_script(text: Column, toks: Column) -> Column:
    """Two-stage language ID: ordered script-share rules first (SCRIPT_RULES),
    marker-stopword argmax (:func:`predict_lang`) for Latin-script text.
    ``total`` counts non-whitespace characters; an all-whitespace document
    falls through to the marker stage (score 0 everywhere -> 'en')."""
    total = F.length(F.regexp_replace(text, r"\s", ""))
    counts = script_counts(text)
    result = predict_lang(lang_scores(toks))
    # build the priority chain back-to-front so the first rule is outermost
    for lang, _lo, _hi, thr in reversed(SCRIPT_RULES):
        result = F.when(
            (total > 0) & (counts[lang] >= thr * total), F.lit(lang)
        ).otherwise(result)
    return result
