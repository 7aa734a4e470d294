"""Text analysis for training-data pipelines — JVM-side expressions.

Language-ID (stopword-hit heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and content
fingerprinting. Everything is a composition of built-in functions so the
whole stage stays inside codegen; nothing here needs Python at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.tableio.snapshot import _q

# tiny public stopword lists (language-ID heuristic)
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "zu"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "en"),
}

BPE_ISH_REGEX = "[A-Za-z]+|[0-9]"


def _words_sql(c: str) -> str:
    """SQL text of ``words`` over the SQL expression ``c``, for building
    plans from text (one parse instead of a pyspark call per operator)."""
    return f"filter(split(trim({c}), '[ \\t\\n\\r]+'), w -> w != '')"


def words(col: str = "text") -> F.Column:
    """Canonical whitespace tokenization: split on runs of space / tab /
    newline / CR, empty tokens dropped. The explicit class (not regex
    \\s) keeps Spark (Java regex) and DuckDB (RE2) byte-identical — the
    two dialects disagree on \\x0B membership in \\s. The empty-token
    filter matters twice: split('') yields [''] (a phantom token that
    made empty docs count n_words=1), and a leading newline survives
    trim (which strips spaces only), yielding a leading ''."""
    return F.expr(_words_sql(_q(col)))


def ws_token_count(col: str = "text") -> F.Column:
    return F.size(words(col))


def bpe_ish_token_count(col: str = "text") -> F.Column:
    """Rough BPE token estimate: alpha runs + single digits."""
    return F.regexp_count(F.col(col), F.lit(BPE_ISH_REGEX))


def _hits_in(w: F.Column, lang: str) -> F.Column:
    sw = F.array(*[F.lit(x) for x in STOPWORDS[lang]])
    return F.size(F.filter(w, lambda t: F.array_contains(sw, t)))


def lang_id_heuristic(col: str = "text") -> F.Column:
    """Pick the language whose stopword list hits most. Deterministic tie
    break: struct comparison falls through to the lang string, so the
    lexicographically LAST language wins a tie. Swap the lists for
    fastText-style profiles in prod.

    The words array is BOUND as a lambda variable (transform-over-
    singleton, the word_shingles idiom): four per-language hit counts
    referencing words() directly would re-split the document four
    times."""

    def guess(w: F.Column) -> F.Column:
        pairs = F.array(
            *[
                F.struct(
                    _hits_in(w, lang).alias("hits"),
                    F.lit(lang).alias("lang"),
                )
                for lang in sorted(STOPWORDS)
            ]
        )
        return F.array_max(pairs)["lang"]

    return F.transform(F.array(words(col)), guess)[0]


def quality_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Quality-scoring features: exact integer counts + deterministic
    ratios. Mirrors the shape of the reference's GE numeric-bounds checks
    (ge_validate_silver.py:36-53) applied to text instead of invoices."""
    c = F.col(col)
    n_chars = F.length(c)
    n_spaces = n_chars - F.length(F.replace(c, F.lit(" "), F.lit("")))
    n_punct = F.regexp_count(c, F.lit(r"[\.,;:!\?]"))
    # words bound once (transform-over-singleton): n_words and en_hits
    # referencing words() separately would split the document twice
    wq = F.transform(
        F.array(words(col)),
        lambda w: F.struct(
            F.size(w).alias("n"), _hits_in(w, "en").alias("en")
        ),
    )[0]
    n_words = wq["n"]
    en_hits = wq["en"]
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        (n_spaces.cast("double") / n_chars).alias("space_ratio"),
        (en_hits.cast("double") / n_words).alias("stopword_ratio"),
        (
            (n_words >= 5) & (en_hits > 0) & (n_chars < 1_000_000)
        ).alias("passes_quality"),
    )


def mask_terms(col: str = "text", terms: tuple[str, ...] = ("table", "row", "scan")) -> tuple[F.Column, F.Column]:
    """Vocabulary term masking (training-data scrubbing shape: the same
    regexp_replace pipeline masks PII patterns in prod — emails, digit
    runs). Returns (masked_text, n_masked). Terms are regex-escaped (PII
    term lists routinely contain metacharacters — '192.168.0.1' must not
    match '192x168y0z1', 'c++' must not throw); the escaped word-boundary
    alternation stays RE2-safe, so DuckDB replays it exactly."""
    import re as _re

    pat = r"\b(" + "|".join(_re.escape(t) for t in terms) + r")\b"
    c = F.col(col)
    return (
        F.regexp_replace(c, pat, "<MASK>"),
        F.regexp_count(c, F.lit(pat)),
    )


def content_fingerprint(col: str = "text") -> F.Column:
    """Exact content fingerprint (md5 hex) — the exact-dedup key. md5 is
    engine-portable (same string in Spark, DuckDB, Python hashlib)."""
    return F.md5(F.col(col))
