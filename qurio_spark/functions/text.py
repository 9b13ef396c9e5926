"""Text column-expression library (JVM-side, no Python UDFs).

Tokenization contract (shared with the DuckDB oracle SQL in
``__spark_entry__.py``): lowercase, split on runs of ``[^a-z0-9]+``,
drop empty strings.  Keeping the contract this small is what lets every
text operator stay inside whole-stage codegen AND be oracle-checkable.

The reference has no tokenizer of its own — BM25 tokenization was
delegated to Weaviate (SURVEY §4) — so the rebuild owns these semantics
and locks them with goldens.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.column import Column

TOKEN_SPLIT_RE = r"[^a-z0-9]+"

#: Tiny English stopword list used by quality scoring + language ID.
#: Frozen: changing it changes oracle results.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "this", "by", "are", "be", "at",
]


def tokenize(col: Column) -> Column:
    """string -> array<string> of lowercase alnum tokens."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_RE),
        lambda x: x != F.lit(""),
    )


def token_count(col: Column) -> Column:
    return F.size(tokenize(col))


def word_ngrams(col: Column, n: int = 3) -> Column:
    """array of n-token shingles joined by a space.

    The token array is bound to a lambda variable (single-element array
    + transform) so the regex split runs ONCE per row.  Referencing
    ``tokenize(col)`` directly inside the per-position lambda would
    inline the split into every sequence element — quadratic re-parsing
    that dominates shingling cost on real corpora."""
    return F.get(
        F.transform(
            F.array(tokenize(col)),
            lambda toks: F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ),
        F.lit(0),
    )


#: GPT-2-flavor pre-tokenizer regex: contraction suffixes, space-prefixed
#: letter runs, digit runs, punctuation runs, residual whitespace.  RE2
#: (DuckDB) and java.util.regex both support \p{L}/\p{N}, so the same
#: pattern counts identically in the oracle.
BPEISH_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpeish_token_count(col: Column) -> Column:
    """Approximate BPE token count: number of pre-tokenizer pieces —
    the cheap whole-corpus budget estimator (exact BPE needs the merge
    table; the pre-tokenizer piece count is the standard proxy)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPEISH_RE), F.lit(0)))


def stopword_ratio(col: Column) -> Column:
    """fraction of tokens that are (English) stopwords — one signal in
    the quality score.
    """
    toks = tokenize(col)
    sw = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    return F.when(F.size(toks) > 0, sw / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    """fraction of characters that are not alnum/whitespace."""
    total = F.length(col)
    stripped = F.length(F.regexp_replace(F.lower(col), r"[a-z0-9\s]", ""))
    return F.when(total > 0, stripped / total).otherwise(F.lit(0.0))


#: PII patterns, applied IN ORDER (more specific shapes first so e.g.
#: an email local-part containing a phone-shaped run is consumed as
#: [EMAIL] before the phone pass sees it).  Strict shared subset of
#: java.util.regex and RE2 — no lookaround — so Spark and the DuckDB
#: oracle redact identically.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
]


def _pii_stages(col: Column):
    """The ONE staged replacement chain both ``redact_pii`` and
    ``pii_count`` derive from: yields (match_count_on_current_stage,
    text_after_this_pattern's_replacement) per pattern, in order —
    keeping count and redaction in lock-step by construction (the SQL
    twin ``_pii_sql`` in ``__spark_entry__.py`` mirrors the staging)."""
    for pat, repl in PII_PATTERNS:
        count = F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        col = F.regexp_replace(col, pat, repl)
        yield count, col


def redact_pii(col: Column) -> Column:
    """Sequentially replace every PII pattern with its tag — pure
    ``regexp_replace`` chain, whole-stage codegen, no Python."""
    for _count, col in _pii_stages(col):
        pass
    return col


def pii_count(col: Column) -> Column:
    """Number of redactions ``redact_pii`` performs: each pattern is
    counted on the text AFTER the earlier patterns' replacements, so a
    phone/SSN-shaped run inside an email local-part is counted once as
    [EMAIL], never double-counted — n_pii always equals the number of
    tags in the redacted text."""
    total = F.lit(0)
    for count, _staged in _pii_stages(col):
        total = total + count
    return total


def contextual_prefix(
    source_name: Column, title: Column, path: Column, content: Column
) -> Column:
    """T5: contextual embedding string (embedder_consumer.go:50-60) —
    'Documentation: {src}\\nTitle: {title}\\nSection: {path}\\n---\\n{content}'.
    Stored content stays WITHOUT the prefix; only the embedder sees it.
    """
    return F.concat(
        F.lit("Documentation: "), F.coalesce(source_name, F.lit("")),
        F.lit("\nTitle: "), F.coalesce(title, F.lit("")),
        F.lit("\nSection: "), F.coalesce(path, F.lit("")),
        F.lit("\n---\n"), F.coalesce(content, F.lit("")),
    )
