"""Web-text operators: extraction, language ID, quality scoring,
token counting, fingerprinting.

All hot-path expressions are native Spark SQL (JVM, whole-stage
codegen); nothing here drops to Python. Every operator has an exact
ANSI-SQL twin runnable by DuckDB (see __spark_entry__.oracle_sql) —
the cross-engine-portable hash primitive is
``int64(md5(x)[:15 hex digits])``.

extract_text upholds the graft's per-row invariant: the text column
recovered from html is byte-identical per url (BASELINE.json
input_hint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_RE = r"([A-Za-z0-9]+)"

# n-gram heuristic language profiles: high-frequency function words
# (ASCII-only: the tokenizer is [A-Za-z0-9]+, so accented forms would
# split; scripts outside Latin need a different tokenizer and are out
# of scope for this heuristic).
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "que", "de", "los", "una", "es", "por", "con", "para"],
    "it": ["che", "di", "per", "non", "con", "sono", "della", "anche", "come", "nel"],
    "pt": ["de", "que", "para", "com", "uma", "por", "mais", "como", "mas", "dos"],
    "nl": ["het", "een", "van", "dat", "niet", "met", "voor", "zijn", "maar", "ook"],
}


def portable_hash64(col: Column) -> Column:
    """Unsigned-ish 60-bit integer hash identical across Spark and
    DuckDB: both implement standard MD5; 15 hex chars < 2^60 fit int64.
    DuckDB twin: CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def extract_text(html_col: Column) -> Column:
    """Recover the text payload from the deterministic HTML wrapper
    (sources/fixtures.page_html). Byte-identical inversion —
    regexp with DOTALL so embedded newlines survive."""
    return F.regexp_extract(F.decode(html_col, "UTF-8"), r"(?s)<p>(.*)</p>", 1)


def with_extracted_text(pages_df: DataFrame, html: str = "html", out: str = "extracted_text") -> DataFrame:
    return pages_df.withColumn(out, extract_text(F.col(html)))


def token_count(text_col: Column) -> Column:
    """Number of [A-Za-z0-9]+ tokens (regexp-based BPE-ish pre-token
    count)."""
    return F.size(F.regexp_extract_all(text_col, F.lit(TOKEN_RE)))


def char_count(text_col: Column) -> Column:
    return F.length(text_col)


def quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features, the
    standard pre-training text-quality signals, all codegen'd SQL."""
    tcol = F.col(text)
    tokens = F.regexp_extract_all(F.lower(tcol), F.lit(TOKEN_RE))
    stop = F.array([F.lit(w) for w in LANG_PROFILES["en"]])
    n_tokens = F.size(tokens)
    return (
        df.withColumn("n_chars_", F.length(tcol))
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "mean_token_len",
            F.when(n_tokens > 0, F.aggregate(F.transform(tokens, lambda t: F.length(t).cast("double")), F.lit(0.0), lambda a, x: a + x) / n_tokens).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(
                F.length(tcol) > 0,
                (F.length(tcol) - F.length(F.regexp_replace(tcol, r"[^\w\s]", ""))).cast("double") / F.length(tcol),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(
                n_tokens > 0,
                F.size(F.filter(tokens, lambda t: F.array_contains(stop, t))).cast("double") / n_tokens,
            ).otherwise(F.lit(0.0)),
        )
    )


def language_scores(text_col: Column) -> Column:
    """Map of lang -> stopword-hit ratio (the n-gram heuristic
    language-ID signal)."""
    tokens = F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE))
    n = F.greatest(F.size(tokens), F.lit(1))
    entries = []
    for lang, words in LANG_PROFILES.items():
        vocab = F.array([F.lit(w) for w in words])
        hits = F.size(F.filter(tokens, lambda t: F.array_contains(vocab, t)))
        entries.append(F.struct(F.lit(lang).alias("lang"), (hits.cast("double") / n).alias("score")))
    return F.map_from_entries(F.array(*entries))


def _argmax_lang(df: DataFrame, scores: Column, out: str) -> DataFrame:
    """``out`` = the lang with the highest score in a lang -> score map.
    array_max on (score, lang) structs orders by score, then lang:
    deterministic, and on score ties the LARGEST lang name wins
    (lexicographic)."""
    df = df.withColumn("_scores", scores)
    best = F.array_max(
        F.transform(
            F.map_entries(F.col("_scores")),
            lambda e: F.struct(e["value"].alias("score"), e["key"].alias("lang")),
        )
    )
    return df.withColumn(out, best["lang"]).drop("_scores")


def detect_language(df: DataFrame, text: str = "text", out: str = "lang_pred") -> DataFrame:
    """argmax over language_scores with deterministic lang-name
    tie-break."""
    return _argmax_lang(df, language_scores(F.col(text)), out)


# character-trigram profiles (high-frequency trigrams incl. word
# boundaries; ASCII-only for cross-engine byte/char-length agreement).
# Char n-grams see morphology the stopword lists miss (inflected or
# stopword-poor text still carries its language's trigram signature).
CHAR_TRIGRAM_PROFILES = {
    "en": ["the", "he ", " th", "ing", "and", " an", "ion", " of", "tio", "ed "],
    "de": ["der", "die", "und", "ein", "ich", "sch", "che", "en ", "ung", "nde"],
    "fr": [" de", "es ", "le ", " le", "les", " la", "que", " qu", "ent", "ait"],
    "es": ["de ", " de", "os ", " la", "la ", "el ", " el", "que", " qu", "ado"],
    "it": [" di", "di ", "la ", " la", "che", " ch", "to ", "zio", "ell", "nte"],
    "pt": [" de", "de ", "os ", " do", "do ", "da ", " da", "que", " qu", "ar "],
    "nl": ["en ", "de ", " de", "et ", "een", " ee", "van", " va", "er ", "ij "],
}


def char_trigram_scores(text_col: Column) -> Column:
    """Map of lang -> character-trigram hit rate.

    Occurrences are counted with the replace-length trick —
    (length(t) - length(replace(t, g, ''))) / 3 — which is LINEAR in
    text length per profile gram (O(|profiles| * n) total), not the
    O(n^2) enumerate-all-trigrams formulation; leftmost-non-overlapping
    replace semantics are identical in Spark and DuckDB, so the score
    arithmetic (int sums, /3.0, /max(len-2,1)) is exactly twinnable.
    """
    t = F.lower(text_col)
    denom = F.greatest(F.length(t) - 2, F.lit(1)).cast("double")
    entries = []
    for lang, grams in CHAR_TRIGRAM_PROFILES.items():
        diffs = [
            F.length(t) - F.length(F.replace(t, F.lit(g), F.lit(""))) for g in grams
        ]
        total = diffs[0]
        for d in diffs[1:]:
            total = total + d
        hits = total.cast("double") / F.lit(3.0)
        entries.append(
            F.struct(F.lit(lang).alias("lang"), (hits / denom).alias("score"))
        )
    return F.map_from_entries(F.array(*entries))


def detect_language_ngram(df: DataFrame, text: str = "text", out: str = "lang_pred") -> DataFrame:
    """argmax over char_trigram_scores with the same deterministic
    largest-lang-name tie-break as detect_language."""
    return _argmax_lang(df, char_trigram_scores(F.col(text)), out)


def doc_fingerprint(text_col: Column) -> Column:
    """Document fingerprint: portable 60-bit hash of the
    whitespace-normalized text (rolling-hash-equivalent content id)."""
    normalized = F.regexp_replace(F.trim(text_col), r"\s+", " ")
    return portable_hash64(normalized)
