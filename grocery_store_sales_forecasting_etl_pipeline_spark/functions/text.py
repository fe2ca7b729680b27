"""Text-analysis column functions for training-data pipelines.

Everything here is built from JVM-side ``pyspark.sql.functions`` (split /
transform / aggregate / md5 …) — no Python UDFs — so text scoring over
100 TB of documents stays inside whole-stage codegen with zero
serialization to Python. Each function returns a Column usable in any
select/agg.

Design sources: standard published heuristics (stopword/length/ratio
quality signals as in Gopher/C4-style filtering; shingle fingerprints per
Broder's MinHash paper; SimHash per Charikar) — implementations original,
Spark-first.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# small, fixed marker lists for the language-ID heuristic (presence-based,
# deterministic; mirrors classic stopword-profile langid)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de5", "shi4", "zai4", "le5", "he2"),  # romanized markers
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "is", "in", "to", "it")


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization (single-space split — documents are
    pre-normalized)."""
    return F.split(col, " ")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col)).cast("long")


def distinct_token_count(col: str | Column) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("long")


def _gram_index(t: Column, k: int) -> Column:
    """1-based start indices of the k-grams of token array ``t``, empty
    when the doc has fewer than k tokens. The guard matters:
    ``sequence(1, size-1)`` with size < k would produce a DESCENDING
    sequence (e.g. ``sequence(1, 0) = [1, 0]``) and ``element_at(t, 0)``
    raises INVALID_INDEX_OF_ZERO, failing the whole query on one short
    document. DuckDB's ``generate_series(1, n)`` is empty for n < 1, so
    the guard also keeps Spark aligned with the oracle SQL."""
    return F.when(
        F.size(t) >= k, F.sequence(F.lit(1), F.size(t) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))


def shingles_from_tokens(t: Column, k: int = 2) -> Column:
    """Distinct word k-gram shingles from an ALREADY-MATERIALIZED token
    array column. Callers on the hot path must project ``tokens(...)``
    into a column first and pass its attribute here: passing the raw
    ``tokens(text)`` expression instead re-evaluates the split inside
    every ``element_at`` lambda call — k full splits per gram, O(len²)
    per document (measured 10× slower at sf0.1 for k=4)."""
    gram = F.transform(
        _gram_index(t, k),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)]),
    )
    return F.array_distinct(gram)


def ngrams_from_tokens(t: Column, k: int = 2) -> Column:
    """ALL word k-grams (non-distinct — repetition metrics count every
    occurrence) from a materialized token array column; same
    re-evaluation warning as ``shingles_from_tokens``."""
    return F.transform(
        _gram_index(t, k),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)]),
    )


def winnow_select(gram_hashes: Column, w: int = 8) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS rolling-hash scheme): slide a window of ``w``
    consecutive k-gram hashes over the document and keep the minimum
    hash of each window. Guarantees every shared run of at least
    ``w + k - 1`` tokens between two documents contributes at least one
    shared fingerprint, while selecting only ~``2/(w+1)`` of all gram
    hashes — the local-fingerprinting density/recall trade-off the
    paper proves optimal.

    ``gram_hashes`` must be an ALREADY-MATERIALIZED column of ordered
    (non-distinct) k-gram hashes — same re-evaluation warning as
    ``shingles_from_tokens``: passing a raw expression re-runs it inside
    every lambda call. Hashes are compared as strings (md5 hex), which
    orders identically in any engine, so the selection is
    oracle-reproducible. Documents with fewer than ``w`` grams yield an
    empty selection (the ``_gram_index`` guard).
    """
    return F.transform(
        _gram_index(gram_hashes, w),
        lambda j: F.array_min(F.slice(gram_hashes, j, w)),
    )


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 of the lower-cased,
    whitespace-collapsed text. Stable across engines (md5 is md5)."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), "\\s+", " ")
    return F.md5(normalized)


def stopword_hits(col: str | Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    """How many of the marker stopwords occur in the text (presence, not
    frequency): |distinct tokens ∩ markers| as ONE array_intersect —
    identical semantics to a per-word array_contains sum, but a
    constant-size expression node instead of an N-term tree (the summed
    form, multiplied across marker sets, pushed whole-stage codegen past
    janino's 64KB method limit and forced interpreted fallback)."""
    t = F.array_distinct(tokens(col))
    return F.size(F.array_intersect(t, F.array(*[F.lit(w) for w in words]))).cast("long")


def quality_score(col: str | Column) -> Column:
    """Composite document-quality score in [0,1] from public filtering
    heuristics: length band, mean word length band, stopword presence,
    vocabulary diversity. Deterministic; SQL-expressible."""
    n_tok = token_count(col)
    n_char = F.length(col).cast("double")
    mean_word_len = F.round(n_char / n_tok, 4)
    diversity = F.round(distinct_token_count(col) / n_tok, 4)
    len_ok = (n_tok >= F.lit(20)) & (n_tok <= F.lit(1000))
    word_len_ok = (mean_word_len >= 3.0) & (mean_word_len <= 12.0)
    has_stop = stopword_hits(col) >= 2
    return F.round(
        len_ok.cast("double") * 0.3
        + word_len_ok.cast("double") * 0.2
        + has_stop.cast("double") * 0.2
        + F.least(diversity * F.lit(2.0), F.lit(1.0)) * 0.3,
        4,
    )


def langid(col: str | Column) -> Column:
    """Marker-presence language ID: score each language by how many of
    its marker words appear; argmax with deterministic tie order (markers
    dict order), 'und' when no marker hits."""
    t = F.array_distinct(tokens(col))
    scores = {
        lang: F.size(F.array_intersect(t, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier dict entries win ties
    for lang in reversed(list(scores)):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best == 0, F.lit("und")).otherwise(expr)


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene: strip contact info before training)
# ---------------------------------------------------------------------------

# conservative, engine-portable regexes (same semantics in Java regex and
# DuckDB's RE2): emails, IPv4 addresses, international-ish phone numbers
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+[0-9]{1,3}([- ][0-9]{3,4}){2,3}", "<PHONE>"),
)


def redact_pii(col: str | Column) -> Column:
    """Replace emails / IPv4 addresses / +international phone numbers
    with placeholder tokens — chained ``regexp_replace`` JVM scalars, so
    redaction over 100 TB is map-only inside codegen. Pattern order
    matters (emails before IPs: 'a@1.2.3.4' redacts as one email)."""
    out = F.col(col) if isinstance(col, str) else col
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_counts(col: str | Column) -> dict[str, Column]:
    """Per-category PII hit counts ({name: Column}) for audit metrics."""
    return {
        name: F.regexp_count(col if isinstance(col, Column) else F.col(col), F.lit(pat))
        for name, pat, _ in PII_PATTERNS
    }
