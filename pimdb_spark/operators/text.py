"""Text-analysis operators for large-scale training-data pipelines:
tokenization, document stats, quality scoring, language identification,
token counting, and fingerprinting.

All operators are pure column expressions (JVM-side, whole-stage codegen —
no Python UDFs in the hot path), so they cost one projection over the scan
and scale linearly with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small deterministic "function word" lists per language used by the
# stopword-overlap language scorer.  These are operator parameters, not
# linguistics — callers supply their own lists for real corpora.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht"],
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "de", "et", "que"],
    "zh": ["de", "le", "shi", "bu", "wo"],
}


def tokens(text: Column | str, sep: str = " ") -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(text, sep)


def bpe_ish_token_count(text: Column | str) -> Column:
    """Token-count proxy for BPE vocabularies: split on whitespace AND
    between letter/digit/punctuation class transitions — a cheap regex
    stand-in for subword tokenizers (counts, not token ids)."""
    text = F.col(text) if isinstance(text, str) else text
    pieces = F.split(text, r"\s+|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])")
    return F.size(F.filter(pieces, lambda p: p != F.lit("")))


def stopword_count(toks: Column, stopwords: list[str]) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def doc_stats(text: Column | str) -> dict[str, Column]:
    """Length/token/stopword statistics + a simple quality score in [0,1]:
    fraction of tokens that are 'wordlike' (2..20 chars), damped by the
    stopword ratio — deterministic integer/double arithmetic only."""
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text) if isinstance(text, str) else text)
    n_stop = stopword_count(toks, LANG_STOPWORDS["en"])
    n_wordlike = F.size(F.filter(toks, lambda t: (F.length(t) >= 2) & (F.length(t) <= 20)))
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "n_stopwords": n_stop,
        "stop_ratio": n_stop.cast("double") / n_tokens,
        "quality": (n_wordlike.cast("double") / n_tokens)
        * (F.lit(1.0) - n_stop.cast("double") / (2 * n_tokens)),
    }


def language_scores(toks: Column) -> dict[str, Column]:
    return {lang: stopword_count(toks, sw) for lang, sw in sorted(LANG_STOPWORDS.items())}


def language_id(text: Column | str) -> Column:
    """Argmax stopword-overlap language guess; ties break alphabetically
    (the CASE checks languages in sorted order).  One projection, no
    shuffle, no UDF."""
    toks = tokens(text)
    scores = language_scores(toks)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best == 0, F.lit("und")).otherwise(expr)


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the lowercased text.
    (The rolling-hash variant for shingle-level fingerprints lives in
    operators/dedup.py as part of MinHash.)"""
    text = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(text))


def rolling_fingerprint(
    text: Column | str, k: int = 8, stride: int = 7
) -> Column:
    """Winnowing-style rolling fingerprint: hash the character k-gram at
    every ``stride``-th position and keep the MINIMUM hash — a content-
    anchored fingerprint that survives edits outside the minimizing gram
    (unlike whole-document md5, where any edit changes everything).
    Texts shorter than k fall back to the whole-text hash.
    Scale: one projection; ~len/stride md5 calls per document."""
    text = F.col(text) if isinstance(text, str) else text
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1)), F.lit(stride)
    )
    gram_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.substring(text, i, k)), 1, 8), 16, 10
    ).cast("bigint")
    return F.array_min(F.transform(positions, gram_hash))


# PII patterns (C4 / RefinedWeb scrub step).  Chosen to compile and match
# IDENTICALLY under Java regex (Spark) and RE2 (DuckDB): character
# classes, bounded repetition, and \b word boundaries only — no
# lookaround, no backreferences.  Dict order IS the redaction priority
# and is load-bearing: an IP-shaped domain ("a@1.2.3.4.co") or a
# phone-shaped local part nests one pattern's match inside another's,
# so email must redact FIRST (the widest identifier wins and the inner
# span is masked with it); reordering would leave half-redacted
# identifiers.  pii_counts counts each pattern independently, so a
# nested identifier is counted under BOTH types — counts are per-pattern
# detection signals, not a partition of the text (r15 self-review).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+1-555-\d{4}", "<PHONE>"),
}


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-type PII match counts as pure column expressions (JVM regex,
    whole-stage codegen — one projection, no shuffle)."""
    col = F.col(text) if isinstance(text, str) else text
    out: dict[str, Column] = {}
    for kind, (pat, _) in PII_PATTERNS.items():
        out[f"n_{kind}"] = F.size(
            F.regexp_extract_all(col, F.lit(pat), F.lit(0))
        )
    return out


def pii_redact(text: Column | str) -> Column:
    """Replace every PII match with its typed mask token, applying
    PII_PATTERNS in dict order (email first — see the priority note on
    PII_PATTERNS).  A chain of regexp_replace projections —
    shuffle-free, linear, and embarrassingly parallel; the scrub step
    that runs BEFORE text is hashed, shingled, or tokenized so masks
    (not raw identifiers) flow into every downstream dedup/index key."""
    col = F.col(text) if isinstance(text, str) else text
    for pat, mask in PII_PATTERNS.values():
        col = F.regexp_replace(col, pat, mask)
    return col


def tokenizer_fertility(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer fertility / compression diagnostics: n_docs,
    total whitespace words (nonempty), total bpe-ish subword tokens,
    total bytes, plus fertility = bpe/words and bytes_per_token ratios
    (NULL on empty slices).  The SINGLE definition behind both the
    oracle-gated catalog entry (catalog_text.q_tokenizer_fertility) and
    scripts/bench_scale.py's scale op — factored in builder r17 (r14
    ADVICE) so the benched shape can never drift from the gated one.

    Exact integer sums; each ratio is one IEEE division of exact BIGINTs
    (bit-identical across engines).  Scale: one partial-aggregated
    groupBy — the shuffle carries one row per group."""
    toks = F.split(text_col, " ")
    g = docs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.filter(toks, lambda t: t != F.lit("")))).alias("total_words"),
        F.sum(bpe_ish_token_count(text_col)).alias("total_bpe_tokens"),
        F.sum(F.octet_length(text_col)).alias("total_bytes"),
    )
    return g.select(
        *group_cols, "n_docs", "total_words", "total_bpe_tokens", "total_bytes",
        F.when(
            F.col("total_words") > 0,
            F.col("total_bpe_tokens").cast("double")
            / F.col("total_words").cast("double"),
        ).alias("fertility"),
        F.when(
            F.col("total_bpe_tokens") > 0,
            F.col("total_bytes").cast("double")
            / F.col("total_bpe_tokens").cast("double"),
        ).alias("bytes_per_token"),
    )


# CCNet-style normalization (Wenzek et al. 2020 §3: the text form used
# for dedup hashing, not the form that is trained on): lowercase, every
# non-alphanumeric to a space, digit runs to '0', whitespace collapsed.
# ASCII-only transforms, so Spark and DuckDB agree byte-for-byte.
def normalize_text(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    col = F.lower(col)
    col = F.regexp_replace(col, r"[^a-z0-9 ]", " ")
    col = F.regexp_replace(col, r"[0-9]+", "0")
    col = F.regexp_replace(col, r" +", " ")
    return F.trim(col)
