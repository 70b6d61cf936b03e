"""Compiled-regex PII / toxicity scrub pass — dual path, byte-identical.

Reference ancestor: the ``MatchRegex`` check plus its shipped PII regex seeds
(/root/reference/data_quality/src/utils.py:3-5 — email, Italian fiscal code;
dialect regex fns impala.py:75-79). The reference only *detects*; the target
pipeline must *rewrite* text (north_star: scrub pass, byte-identical output
per url).

Patterns are written to the COMMON subset of Python ``re`` and Java
``j.u.regex`` semantics: explicit ASCII classes (never ``\\d``/``\\w``, which
are unicode-aware in Python), no inline flags, no lookbehind. This keeps the
two engine paths equivalent:

  * ``py_scrub``    — compiled-``re`` chain; the oracle
  * ``native_scrub``— ``F.regexp_replace`` chain (JVM hot path, no Python);
                      pinned equal to ``py_scrub`` by tests on randomized
                      and synthetic-corpus text (tests/test_properties.py)

The engine path is NATIVE (whole-stage codegen); ``py_scrub`` is its
byte-parity reference.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# (name, pattern, replacement) — applied strictly in this order.
SCRUB_PATTERNS: list[tuple[str, str, str]] = [
    # email: local@domain.tld (pragmatic form, not RFC-full)
    ("email",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
     "<EMAIL>"),
    # Italian codice fiscale: 16 chars LLLLLL NN L NN L NNN L
    ("fiscal_code",
     r"\b[A-Z]{6}[0-9]{2}[A-Z][0-9]{2}[A-Z][0-9]{3}[A-Z]\b",
     "<FISCAL_CODE>"),
    # Italian ATECO activity code NN.NN.X[X] (reference seed
    # /root/reference/data_quality/src/utils.py:5, de-anchored for in-text
    # scrubbing; explicit classes — portable across re/Java/DuckDB)
    ("ateco",
     r"\b[0-9]{2}\.[0-9]{2}\.[0-9A-Za-z]{1,2}\b",
     "<ATECO>"),
    # IPv4
    ("ipv4",
     r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
     "<IP>"),
    # credit-card-ish: 4 groups of 4 digits with - or space separators
    ("credit_card",
     r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b",
     "<CREDIT_CARD>"),
    # international-ish phone: +CC then 8-12 digits with optional separators
    ("phone",
     r"\+[0-9]{1,3}[- ]?[0-9]{3}[- ]?[0-9]{3}[- ]?[0-9]{2,4}",
     "<PHONE>"),
]

# toxicity lexicon (placeholder-mild; swap in a real lexicon in production —
# word-boundary replace, lowercase-insensitive via explicit class pairs)
TOXIC_WORDS = ["idiot", "moron", "scumbag"]


def _toxic_pattern(word: str) -> str:
    # case-insensitive without flags: per-char class, identical both engines
    cls = "".join(f"[{c.upper()}{c.lower()}]" for c in word)
    return rf"\b{cls}\b"


ALL_PATTERNS: list[tuple[str, str, str]] = SCRUB_PATTERNS + [
    (f"toxic_{w}", _toxic_pattern(w), "<TOXIC>") for w in TOXIC_WORDS
]

_COMPILED = [(re.compile(p), repl) for _, p, repl in ALL_PATTERNS]


# -- python path (oracle) ----------------------------------------------------


def py_scrub(text: str | None) -> str | None:
    if text is None:
        return None
    for rx, repl in _COMPILED:
        text = rx.sub(repl, text)
    return text


def py_pii_found(text: str | None) -> bool:
    if not text:
        return False
    return any(rx.search(text) for rx, _ in _COMPILED)


# -- native path (JVM regexp_replace chain — the hot path) -------------------


def native_scrub(col: Column, found: Column | None = None) -> Column:
    """Gated rewrite: the replace chain allocates a full string copy per
    pattern per row, but only a small fraction of a web corpus contains
    PII — so run the detector first and rewrite ONLY matching rows. Output
    identical by definition (non-matching text is a fixed point of every
    replace). Pass `found` (a precomputed native_pii_found column) to
    share ONE detector evaluation with the pii rule — the pipeline does."""
    out = col
    for _, pat, repl in ALL_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    gate = native_pii_found(col) if found is None else found
    return F.when(gate, out).otherwise(col)


# Detection, two-stage (Spark side only — a pure optimization, provably
# equivalent to one big alternation):
#   stage 1: a single char-class scan [0-9@+]. Every SCRUB_PATTERN requires
#            at least one of these characters (emails '@', phones '+',
#            fiscal/ATECO/IP/card digits) — asserted by a unit test over
#            the pattern list, so adding a pattern that violates the
#            invariant fails CI rather than silently missing PII.
#   stage 2: the full pattern alternation, evaluated ONLY on rows passing
#            stage 1 (boolean AND short-circuits in codegen).
# The toxic words are pure letters (stage 1 would miss them) and get their
# own small alternation. Measured on 400k web docs @8 cores: 11.6 s for the
# single big alternation vs 1.4 s for the char-class scan — the alternation
# tries every branch at every position, the class scan is one pass.
GATE_CLASS = "[0-9@+]"
_PII_DETECT = "|".join(f"(?:{pat})" for _, pat, _ in SCRUB_PATTERNS)
_TOXIC_DETECT = "|".join(_toxic_pattern(w) for w in TOXIC_WORDS)


def native_pii_found(col: Column) -> Column:
    return (col.rlike(GATE_CLASS) & col.rlike(_PII_DETECT)) | col.rlike(
        _TOXIC_DETECT
    )
