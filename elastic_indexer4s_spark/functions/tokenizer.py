"""Code-aware tokenization — the engine-native analyzer chain.

The reference configures analyzers on the ES index (`MappingSetting.scala:13`,
`ElasticWriter.scala:55`, README.md:98-112) and lets Lucene run them; here the
chain is explicit (SURVEY §2 B1): extract identifier runs → snake_case split →
camelCase split (incl. the acronym boundary ``HTMLParser → HTML Parser``) →
lowercase → length filter.

Two implementations with identical output (tested against each other):

* ``tokens_expr(col)`` — pure Catalyst expressions, the build's analyzer:
  one regex extraction for the default config, the explicit multi-pass
  replace chain for any other.  No Python per row.
* ``tokenize_py`` — the pure-Python twin: the query analyzer of both tiers
  and the oracle's (reference_bm25.py), so engine↔oracle token streams are
  identical by construction.

Logic that regexps can't express goes through the build's per-row
``analyzer=`` hook (``operators.build.build_index``) instead.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import TokenizerConfig

# identifier runs: letters/digits/underscore; everything else is a separator
_RUN = r"[^A-Za-z0-9_]+"
# camel boundaries: aB -> a B ; ABc -> A Bc (acronym end)
_CAMEL_LOWER_UPPER = r"(?<=[a-z0-9])(?=[A-Z])"
_CAMEL_ACRONYM = r"(?<=[A-Z])(?=[A-Z][a-z])"

# Single-pass token grammar equivalent to the 4-pass replace chain below
# (punct strip -> snake split -> two camel splits).  A token is one of:
#   [A-Z]+[0-9][a-z0-9]*  uppercase run glued to digits (HTML2, AB2c3)
#   [A-Z]+(?![a-z0-9])    acronym (HTML in HTMLParser; backtracks off Parser)
#   [A-Z][a-z0-9]*        capitalized word (Parser, Cd3)
#   [a-z0-9]+             plain run (user2, 42)
# Equivalence to the multi-pass chain is pinned by a 20k-string fuzz test.
_TOKEN_GRAMMAR = r"[A-Z]+[0-9][a-z0-9]*|[A-Z]+(?![a-z0-9])|[A-Z][a-z0-9]*|[a-z0-9]+"


def tokens_expr(col: Column, cfg: TokenizerConfig = TokenizerConfig()) -> Column:
    """Tokenizer as Catalyst expressions → array<string>.

    Default config takes the single-regex extraction path (one pass over the
    string instead of four regexp_replace passes — the analyzer dominates
    index-build CPU, and this is ~2-3x faster); non-default configs fall back
    to the composable multi-pass chain.  Identical output to ``tokenize_py``.
    """
    if cfg == TokenizerConfig():
        toks = F.regexp_extract_all(col, F.lit(_TOKEN_GRAMMAR), 0)
        toks = F.filter(
            toks,
            lambda t: (F.length(t) >= cfg.min_len)
            & (F.length(t) <= cfg.max_len))
        return F.transform(toks, F.lower)
    return tokens_expr_multipass(col, cfg)


def tokens_expr_multipass(col: Column,
                          cfg: TokenizerConfig = TokenizerConfig()) -> Column:
    """The explicit analyzer chain (reference semantics, any config)."""
    c = F.regexp_replace(col, _RUN, " ")
    if cfg.split_snake:
        c = F.regexp_replace(c, "_", " ")
    if cfg.split_camel:
        c = F.regexp_replace(c, _CAMEL_LOWER_UPPER, " ")
        c = F.regexp_replace(c, _CAMEL_ACRONYM, " ")
    if cfg.lowercase:
        c = F.lower(c)
    toks = F.split(F.trim(c), r"\s+")
    return F.filter(
        toks,
        lambda t: (F.length(t) >= cfg.min_len) & (F.length(t) <= cfg.max_len),
    )


def tokenize_py(text: str, cfg: TokenizerConfig = TokenizerConfig()) -> list[str]:
    """Pure-Python twin (query analyzer, oracle). Must match
    ``tokens_expr`` exactly."""
    t = re.sub(_RUN, " ", text or "")
    if cfg.split_snake:
        t = t.replace("_", " ")
    if cfg.split_camel:
        t = re.sub(_CAMEL_LOWER_UPPER, " ", t)
        t = re.sub(_CAMEL_ACRONYM, " ", t)
    if cfg.lowercase:
        t = t.lower()
    return [w for w in t.split() if cfg.min_len <= len(w) <= cfg.max_len]


# ---------------------------------------------------------------------------
# Oracle-compatible "simple" tokenizer for the driver's `documents` table.
# Keeps Spark and DuckDB token streams identical: lower → split on any
# non-[a-z0-9] run → drop tokens shorter than 2 chars.
# ---------------------------------------------------------------------------

def simple_tokens_expr(col: Column) -> Column:
    toks = F.split(F.lower(col), "[^a-z0-9]+")
    return F.filter(toks, lambda t: F.length(t) >= 2)


def simple_tokens_sql(col: str) -> str:
    """DuckDB SQL fragment producing the same array as simple_tokens_expr."""
    return (
        f"list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'),"
        f" t -> length(t) >= 2)"
    )


def token_ngrams_expr(col: Column, n: int) -> Column:
    """ALL overlapping word n-grams (multiplicity-preserving, in order)
    over the simple-token stream, as ONE codegen regex pass: the
    space-joined tokens are scanned with a zero-width lookahead
    ``\\b(?=(tok tok ...))`` capturing the n-gram at every token boundary.

    The single source of truth for the n-gram stream — dedup.doc_shingles
    (distinct over it) and textstats.repetition_metrics (explode of it)
    both build on this, so the token atom can never drift between them.
    The atom MUST mirror simple_tokens_expr's charset ([a-z0-9]+, len>=2
    enforced upstream by the join) so captured words are exactly the
    tokens."""
    token = "[a-z0-9]+"
    pat = r"\b(?=(" + " ".join([token] * n) + r"))"
    norm = F.array_join(simple_tokens_expr(col), " ")
    return F.regexp_extract_all(norm, F.lit(pat), 1)
