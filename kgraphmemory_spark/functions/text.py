"""Text functions.

- ``extract_text_udf`` — the HTML→text pandas UDF (Arrow-batched; wraps the
  pure ``semantics.extract_text`` so Spark and the oracle are byte-identical
  by construction).
- JVM-side column builders for the training-data-pipeline text analysis
  family (token count, quality score, language-ID heuristic, fingerprints).
  These are pure ``pyspark.sql.functions`` expressions — whole-stage
  codegen, no Python in the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..semantics import extract_text


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


# ---------------------------------------------------------------------------
# JVM-side text analysis (documents table / training-data pipeline family)
# ---------------------------------------------------------------------------

def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/null)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    stripped = F.regexp_replace(text, r"[!-/:-@\[-`{-~]", "")
    return (
        (F.length(text) - F.length(stripped)) / F.greatest(F.length(text), F.lit(1))
    ).cast("double")


_EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords — the language-ID /
    quality heuristic. Pure built-ins: split + filter on array."""
    sw = F.array(*[F.lit(w) for w in (stopwords or _EN_STOPWORDS)])
    toks = F.split(F.trim(text), r"\s+")
    n = F.greatest(F.size(toks), F.lit(1))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return (hits / n).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length band + low punctuation +
    reasonable mean token length.  Deterministic, SQL-mirrorable."""
    n_tok = token_count(text)
    n_chr = char_count(text)
    mean_tok = n_chr / F.greatest(n_tok, F.lit(1))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
    tok_ok = F.when((mean_tok >= 2.0) & (mean_tok <= 12.0), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.0)
    return ((len_ok + tok_ok + punct_ok) / F.lit(3.0)).cast("double")


def lang_guess(text: Column) -> Column:
    """N-gram-free heuristic language ID: 'en' if stopword ratio high,
    else 'unknown'.  (Real model would be a pandas UDF; plumbing is what
    matters here — see SURVEY.md §2.10.)"""
    return F.when(stopword_ratio(text) >= 0.05, F.lit("en")).otherwise(F.lit("unknown"))


def fingerprint64(text: Column) -> Column:
    """Stable 64-bit document fingerprint (xxhash64 of normalized text) —
    the fast production path (JVM hash, codegen)."""
    return F.xxhash64(F.lower(F.trim(text)))


def fingerprint_hex(text: Column) -> Column:
    """64-bit document fingerprint as the first 16 hex chars of
    md5(lower(trim(text))) — identical in DuckDB
    (`substr(md5(lower(trim(text))),1,16)`), so the driver's oracle gate
    can verify it value-for-value (VERDICT.md round-1 item 2)."""
    return F.substring(F.md5(F.lower(F.trim(text))), 1, 16)


def shingles(text: Column, k: int = 3) -> Column:
    """Array of k-token shingles (strings) — input to MinHash / Jaccard.

    Built-ins only: split → transform over index range → join slices.
    """
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    )


# MinHash / SimHash signature computation moved to operators/dedup.py
# (round 2): the column-level builders here were K/64 separate passes over
# each shingle array fused into one giant codegen unit — a scale-killer.
# The DataFrame-level rewrite is one explode + one hash aggregation.
