"""Text-analysis operators for training-data pipelines.

All hot-path logic is JVM-side ``pyspark.sql.functions`` (codegen'd, no
Python). Each operator is deliberately expressible in ANSI SQL so the
DuckDB oracle can verify it value-for-value (driver contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS_EN = [
    "the", "a", "of", "to", "and", "in", "is", "it", "you", "that",
    "he", "was", "for", "on", "are", "with", "as", "his", "they", "be",
]
STOPWORDS_FR = ["le", "la", "les", "de", "des", "un", "une", "et", "est", "que", "pour", "dans"]
STOPWORDS_DE = ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "auf", "zu"]
STOPWORDS_ES = ["el", "la", "los", "las", "de", "y", "es", "que", "un", "una", "por", "para"]

_LANGS = [("en", STOPWORDS_EN), ("fr", STOPWORDS_FR), ("de", STOPWORDS_DE), ("es", STOPWORDS_ES)]


def words_col(text: Column) -> Column:
    """Whitespace tokenization with empty tokens dropped — identical
    semantics to the SQL oracle's regexp_split + filter."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def with_token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    return df.withColumn(out, F.size(words_col(F.col(text_col))))


def normalize_text(text: Column) -> Column:
    """Canonical text form for dedup pre-passes: lowercase, every
    non-alphanumeric run collapsed to a single space, trimmed. Catches
    the case/punctuation/whitespace near-dup class BEFORE the expensive
    probabilistic blockers run (normalized exact dedup is one 16-byte-key
    shuffle vs a MinHash pass). Pure JVM regexp — the character class is
    dialect-portable (identical in Java regex and RE2), so the transform
    is oracle-checkable value-for-value."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def normalized_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized content hash."""
    h = F.md5(normalize_text(F.col(text_col)).cast("binary")).alias("norm_hash")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("norm_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="semi")


def with_bpe_ish_token_estimate(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish token estimate: count of regex word/punct chunks — the
    standard cheap proxy (≈ GPT-2 pre-tokenizer granularity) without a
    vocab. JVM regexp, no UDF."""
    chunks = F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return df.withColumn(out, F.size(chunks))


def quality_columns(text: Column) -> dict[str, Column]:
    """Deterministic quality signals (length/punct/stopword ratios)."""
    n_chars = F.length(text)
    ws = words_col(text)
    n_words = F.size(ws)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    n_stop = F.size(F.array_intersect(ws, F.array(*[F.lit(w) for w in STOPWORDS_EN])))
    mean_word_len = F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(F.lit(0.0))
    return {
        "n_chars_q": n_chars,
        "n_words": n_words,
        "alpha_ratio": F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_hits": n_stop,
        "mean_word_len": mean_word_len,
    }


def with_quality_score(df: DataFrame, text_col: str = "text", out: str = "quality_score") -> DataFrame:
    """Scalar quality score in [0,1]: favors alphabetic, stopword-bearing,
    mid-length documents; punishes punctuation soup. Fully JVM-side."""
    q = quality_columns(F.col(text_col))
    score = (
        F.least(q["n_words"] / F.lit(50.0), F.lit(1.0)) * 0.3
        + q["alpha_ratio"] * 0.3
        + (1.0 - F.least(q["punct_ratio"] * 5.0, F.lit(1.0))) * 0.2
        + F.least(q["stopword_hits"] / F.lit(5.0), F.lit(1.0)) * 0.2
    )
    return df.withColumn(out, F.round(score, 6))


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-hit language ID (n-gram-heuristic family): the language
    with the most distinct stopword hits wins; ties resolve in fixed
    registry order; zero hits → 'und'."""
    ws = words_col(F.lower(F.col(text_col)))
    scored = None
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang, stops in _LANGS:
        hits = F.size(F.array_intersect(ws, F.array(*[F.lit(w) for w in stops])))
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return df.withColumn(out, best_lang)


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (md5 is bit-identical in DuckDB → oracle-checkable; the rolling-hash
    shingle variant lives in dedup.py as minhash)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out, F.md5(normalized.cast("binary")))


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams (shingles) of normalized text —
    building block for minhash/jaccard. Pure HOF: sequence + transform
    + substring, no Python."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    ln = F.length(normalized)
    idx = F.sequence(F.lit(1), F.greatest(ln - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: normalized.substr(i, F.lit(n))))


def word_ngrams_all(text: Column, n: int = 3) -> Column:
    """ALL word n-grams in order (duplicates kept), built with n-1
    ``zip_with`` passes over shifted slices — O(words·n) total.  (The
    obvious ``transform(sequence(...), i -> concat_ws(slice(ws, i+1, n)))``
    formulation is O(words²): the per-index ``slice`` copies a subarray
    for every gram — measured 4x slower on the documents table, and an
    ``element_at`` variant 10x slower still.)"""
    ws = words_col(F.lower(text))
    count = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    g = F.slice(ws, 1, count)
    for j in range(1, n):
        g = F.zip_with(g, F.slice(ws, j + 1, count), lambda a, b: F.concat_ws(" ", a, b))
    return F.when(count > 0, g).otherwise(F.array().cast("array<string>"))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (set semantics, for Jaccard/minhash)."""
    return F.array_distinct(word_ngrams_all(text, n))


# PII scrub patterns: dialect-portable regexes (identical semantics in
# Java regex and RE2, so the transform is oracle-checkable). Order
# matters: emails first (their local parts contain digits), then IPv4
# before the greedy phone pattern can eat dotted quads.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
]


def scrub_pii(text: Column) -> Column:
    """Replace emails / IPv4 addresses / phone-number runs with typed
    placeholder tokens — the standard pre-training redaction pass. One
    chained regexp_replace projection, codegen'd, no UDF."""
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def with_pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-category match counts and the scrubbed text. Counts
    are taken BEFORE scrubbing (on the raw text) in pattern order, with
    earlier categories masked so the phone pattern never re-counts an
    IP's digits."""
    out = df
    masked = F.col(text_col)
    for name, pattern, token in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(masked, F.lit(pattern)))
        masked = F.regexp_replace(masked, pattern, token)
    return out.withColumn("scrubbed_text", masked)


def repetition_columns(text: Column) -> dict[str, Column]:
    """Gopher/Dolma-family repetition signals — the standard machine-text
    and boilerplate tells. All JVM HOFs over one pass of lines/words
    (codegen'd, no shuffle), each reproducible in ANSI SQL:

    - dup_line_fraction:  1 - distinct/total over trimmed non-empty lines
    - dup_2gram_fraction / dup_3gram_fraction: 1 - distinct/total word
      n-grams (the linear-time surrogate for Gopher's duplicate-n-gram
      character mass)
    - bullet_line_fraction, ellipsis_line_fraction: list-y layout tells
    """
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)), lambda l: l != ""
    )
    n_lines = F.size(lines)
    dup_lines = F.when(
        n_lines > 0, 1.0 - F.size(F.array_distinct(lines)) / n_lines
    ).otherwise(F.lit(0.0))

    def dup_grams(n: int) -> Column:
        g = word_ngrams_all(text, n)
        total = F.size(g)
        return F.when(total > 0, 1.0 - F.size(F.array_distinct(g)) / total).otherwise(
            F.lit(0.0)
        )

    bullet = F.size(F.filter(lines, lambda l: l.rlike("^[-*•]")))
    ellipsis = F.size(F.filter(lines, lambda l: l.rlike("\\.\\.\\.$")))
    return {
        "n_lines": n_lines,
        "dup_line_fraction": dup_lines,
        "dup_2gram_fraction": dup_grams(2),
        "dup_3gram_fraction": dup_grams(3),
        "bullet_line_fraction": F.when(n_lines > 0, bullet / n_lines).otherwise(F.lit(0.0)),
        "ellipsis_line_fraction": F.when(n_lines > 0, ellipsis / n_lines).otherwise(F.lit(0.0)),
    }


def repetition_gate(
    text: Column,
    max_dup_line_fraction: float = 0.30,
    max_dup_2gram_fraction: float = 0.20,
    max_dup_3gram_fraction: float = 0.18,
    max_bullet_line_fraction: float = 0.90,
    max_ellipsis_line_fraction: float = 0.30,
) -> Column:
    """Boolean keep-gate over the repetition signals (Gopher-rule
    thresholds as defaults). Compose with with_quality_score /
    audio_quality_flags in a curation plan — everything stays one
    codegen'd projection."""
    r = repetition_columns(text)
    return (
        (r["dup_line_fraction"] <= max_dup_line_fraction)
        & (r["dup_2gram_fraction"] <= max_dup_2gram_fraction)
        & (r["dup_3gram_fraction"] <= max_dup_3gram_fraction)
        & (r["bullet_line_fraction"] <= max_bullet_line_fraction)
        & (r["ellipsis_line_fraction"] <= max_ellipsis_line_fraction)
    )


def with_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the repetition signal columns plus the ``repetition_ok``
    gate (default thresholds). The gate derives from the NAMED signal
    columns of a lower projection rather than recomputing
    `repetition_gate(text)`: each fraction is referenced twice
    (passthrough + gate), which stops Catalyst's CollapseProject from
    inlining the n-gram HOF chains twice — measured 2.2 s vs 3.6-5.3 s
    on the sf0.1 documents table."""
    cols = repetition_columns(F.col(text_col))
    staged = df.select("*", *[c.alias(k) for k, c in cols.items()])
    gate = (
        (F.col("dup_line_fraction") <= 0.30)
        & (F.col("dup_2gram_fraction") <= 0.20)
        & (F.col("dup_3gram_fraction") <= 0.18)
        & (F.col("bullet_line_fraction") <= 0.90)
        & (F.col("ellipsis_line_fraction") <= 0.30)
    )
    return staged.withColumn("repetition_ok", gate)


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    langs: tuple = ("en",),
) -> DataFrame:
    """Composed curation pipeline: quality gate → language gate →
    exact-dedup keep-first. One declarative plan: the quality/lang
    expressions are codegen'd map-side, and the dedup is a window
    row_number over the content hash (deterministic keep = lowest id),
    so the only shuffle is the hash-partitioned window — 16-byte keys,
    map-side-combinable at any scale. Fully SQL-expressible (oracle:
    driver query ``doc_curation``)."""
    from pyspark.sql import Window

    staged = with_quality_score(with_lang_id(df, text_col=text_col), text_col=text_col)
    kept = staged.where(
        (F.col("quality_score") >= min_quality) & F.col("lang_pred").isin(*langs)
    )
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        kept.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, "lang_pred", "quality_score")
    )
