"""Gopher/C4-style heuristic text features — dual implementation.

Each feature exists twice with PINNED-identical semantics:
  * ``col_*``  — native Spark Column (JVM, whole-stage codegen; the hot path)
  * ``py_*``   — plain-Python (the single-process oracle, reference-style
                 pandas backend reborn — SURVEY.md §2.3)

The reference ancestor of this module is the ``Custom`` check
(/root/reference/data_quality/src/checks/custom.py:19-40): arbitrary boolean
SQL per rule. Here the "custom conditions" are real quality heuristics
compiled to expressions.

Tokenization contract (shared): tokens = non-empty runs of non-whitespace
(ASCII corpus by construction); lines = split on '\\n'. Any change here must
change BOTH paths.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_quality_spark.colmemo import memo

SYMBOL_CLASS = r"[#@%^*~|<>+=_{}\[\]\\]"
_PY_SYMBOL = re.compile(SYMBOL_CLASS)
# re.ASCII: python \s is Unicode-aware (splits NBSP etc.) while the Java
# regex in F.split and DuckDB's RE2 are ASCII-only — the twin must match THEM
_PY_WS = re.compile(r"\s+", re.ASCII)

# Stopword seeds per supported language (public common-word lists).
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "it", "that", "for", "was",
           "on", "are", "with", "as", "at", "be", "this", "have", "from", "or"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "auf", "für", "nicht",
           "ein", "eine", "als", "auch", "es", "an", "werden", "aus", "er", "zu"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "en", "un", "une",
           "du", "que", "qui", "dans", "pour", "pas", "sur", "au", "plus", "par"],
    "es": ["el", "la", "los", "las", "de", "y", "es", "en", "un", "una",
           "del", "que", "no", "se", "con", "por", "para", "su", "al", "lo"],
    "zh": ["de", "shi", "bu", "le", "ren", "wo", "zai", "you", "ta", "zhe",
           "zhong", "da", "lai", "shang", "guo", "dao", "shuo", "men", "wei", "he"],
}
ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})


# ---------------------------------------------------------------------------
# tokens / words
# ---------------------------------------------------------------------------


def col_tokens(text: Column) -> Column:
    # split on whitespace; filter empties (split of '' yields [''])
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def py_tokens(text: str) -> list[str]:
    return [t for t in _PY_WS.split(text) if t]


def col_n_words(text: Column) -> Column:
    return F.size(col_tokens(text))


def py_n_words(text: str) -> int:
    return len(py_tokens(text))


def col_n_chars(text: Column) -> Column:
    return F.length(text)


def py_n_chars(text: str) -> int:
    return len(text)


def col_mean_word_len(text: Column) -> Column:
    toks = col_tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def py_mean_word_len(text: str) -> float:
    toks = py_tokens(text)
    return (sum(len(t) for t in toks) / len(toks)) if toks else 0.0


# ---------------------------------------------------------------------------
# symbol-to-word ratio (Gopher: symbol spam)
# ---------------------------------------------------------------------------


def col_symbol_ratio(text: Column) -> Column:
    n_sym = F.regexp_count(text, F.lit(SYMBOL_CLASS))
    n_w = col_n_words(text)
    return F.when(n_w > 0, n_sym.cast("double") / n_w).otherwise(
        # all-symbol, zero-word text is max-spam, not zero-spam
        F.when(n_sym > 0, F.lit(1e9)).otherwise(F.lit(0.0))
    )


def py_symbol_ratio(text: str) -> float:
    n_sym = len(_PY_SYMBOL.findall(text))
    n_w = py_n_words(text)
    if n_w > 0:
        return n_sym / n_w
    return 1e9 if n_sym > 0 else 0.0


# ---------------------------------------------------------------------------
# repeated-line fraction (Gopher: boilerplate)
# ---------------------------------------------------------------------------


def col_repeated_line_fraction(text: Column) -> Column:
    lines = F.filter(F.split(text, r"\n"), lambda x: x != "")
    n = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    return F.when(n > 0, (n - n_dist).cast("double") / n).otherwise(F.lit(0.0))


def py_repeated_line_fraction(text: str) -> float:
    lines = [l for l in text.split("\n") if l != ""]
    if not lines:
        return 0.0
    return (len(lines) - len(set(lines))) / len(lines)


# ---------------------------------------------------------------------------
# stopword density (C4/Gopher: gibberish has ~no stopwords)
# ---------------------------------------------------------------------------


def col_stopword_density(text: Column) -> Column:
    toks = col_tokens(text)
    n_sw = F.size(F.filter(toks, lambda t: F.lower(t).isin(ALL_STOPWORDS)))
    n = F.size(toks)
    return F.when(n > 0, n_sw.cast("double") / n).otherwise(F.lit(0.0))


_SW_SET = set(ALL_STOPWORDS)


def py_stopword_density(text: str) -> float:
    toks = [t.lower() for t in py_tokens(text)]
    if not toks:
        return 0.0
    return sum(1 for t in toks if t in _SW_SET) / len(toks)


# ---------------------------------------------------------------------------
# bundle: one projection with every feature (engine-side single pass)
# ---------------------------------------------------------------------------

FEATURES = {
    "n_chars": (col_n_chars, py_n_chars),
    "n_words": (col_n_words, py_n_words),
    "mean_word_len": (col_mean_word_len, py_mean_word_len),
    "symbol_ratio": (col_symbol_ratio, py_symbol_ratio),
    "repeated_line_fraction": (col_repeated_line_fraction, py_repeated_line_fraction),
    "stopword_density": (col_stopword_density, py_stopword_density),
}


_TOKS, _LINES = "__qf_toks", "__qf_lines"


def with_features(df, text_col: str = "text", prefix: str = "f_"):
    """Engine: attach every feature column, tokenizing ONCE.

    Semantically identical to applying each ``col_*`` function directly, but
    hand-fused: the whitespace-split (the expensive regex pass) happens in
    one projection and the features derive from the shared token array in
    the next. Catalyst does not CSE across higher-order-function lambdas
    (fresh lambda variable ids defeat expression equality), so without this
    fusion every feature re-splits the text.
    """
    staged, feature_cols = memo(
        ("textstats.with_features", text_col, prefix),
        lambda: _feature_cols(text_col, prefix),
    )
    return df.withColumns(staged).withColumns(feature_cols).drop(_TOKS, _LINES)


def _feature_cols(text_col: str, prefix: str) -> tuple[dict, dict]:
    """(staged token/line arrays, feature columns over them) for
    with_features — built once per JVM (colmemo)."""
    text = F.col(text_col)
    staged = {
        _TOKS: col_tokens(text),
        _LINES: F.filter(F.split(text, r"\n"), lambda x: x != ""),
    }
    toks = F.col(_TOKS)
    lines = F.col(_LINES)
    n_words = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_sym = F.regexp_count(text, F.lit(SYMBOL_CLASS))
    # isin → Catalyst InSet (hash-set membership); array_contains would be
    # a linear scan over the ~100 literals for every token
    n_sw = F.size(F.filter(toks, lambda t: F.lower(t).isin(ALL_STOPWORDS)))
    n_lines = F.size(lines)
    n_dist_lines = F.size(F.array_distinct(lines))
    feature_cols = {
        prefix + "n_chars": F.length(text),
        prefix + "n_words": n_words,
        prefix + "mean_word_len": F.when(
            n_words > 0, total_len.cast("double") / n_words
        ).otherwise(F.lit(0.0)),
        prefix + "symbol_ratio": F.when(
            n_words > 0, n_sym.cast("double") / n_words
        ).otherwise(F.when(n_sym > 0, F.lit(1e9)).otherwise(F.lit(0.0))),
        prefix + "repeated_line_fraction": F.when(
            n_lines > 0, (n_lines - n_dist_lines).cast("double") / n_lines
        ).otherwise(F.lit(0.0)),
        prefix + "stopword_density": F.when(
            n_words > 0, n_sw.cast("double") / n_words
        ).otherwise(F.lit(0.0)),
    }
    return staged, feature_cols


def py_features(text: str, prefix: str = "f_") -> dict:
    """Oracle: same features for one document."""
    return {prefix + name: py_fn(text) for name, (_, py_fn) in FEATURES.items()}
