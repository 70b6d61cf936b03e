"""fastText-STYLE language identification, built from scratch (no network:
SURVEY.md §7 constraint — the sandbox cannot download fastText binaries).

Model: hashed character n-gram (2..3) multinomial Naive-Bayes / linear scorer.
Profiles are trained deterministically at import time from the embedded
per-language seed vocabularies (public common-word lists in
``textstats.STOPWORDS`` extended below) — identical bytes on driver, executor
and oracle, so scores match bit-for-bit.

Engine path: ``predict_batch`` inside the fused model UDF
(functions/models.py), model built lazily once per executor process at
module import — the "broadcast model" pattern from the north_star
(module-level state ships with --py-files; no per-row Python UDF). Oracle
path: the SAME ``predict_batch`` numpy function.

Reference ancestor: ``ValuesInList`` on a lang column
(/root/reference/data_quality/src/checks/values_in_list.py:24-33) — upgraded
to model-based scoring plugged into the same rule slot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from data_quality_spark.functions.textstats import STOPWORDS

# Extended seed corpus per language: stopwords + frequent content words.
# Deterministic constants — the entire "training set".
SEED_WORDS = {
    "en": STOPWORDS["en"]
    + ["people", "time", "year", "world", "about", "would", "there", "which",
       "their", "when", "make", "like", "just", "know", "take", "into", "good",
       "some", "could", "them", "other", "than", "then", "look", "only", "come",
       "over", "think", "also", "back", "after", "work", "first", "well", "way"],
    "de": STOPWORDS["de"]
    + ["aber", "durch", "haben", "kann", "mehr", "noch", "schon", "sein",
       "sehr", "über", "wenn", "wieder", "zeit", "jahr", "welt", "mensch",
       "machen", "gehen", "sehen", "wissen", "sagen", "kommen", "wollen",
       "sollen", "unter", "zwischen", "immer", "heute", "leben", "arbeit"],
    "fr": STOPWORDS["fr"]
    + ["avec", "tout", "mais", "nous", "vous", "être", "avoir", "faire",
       "comme", "leur", "bien", "autre", "temps", "très", "sans", "deux",
       "même", "monde", "encore", "aussi", "alors", "après", "jour", "homme",
       "femme", "année", "chose", "donner", "prendre", "savoir"],
    "es": STOPWORDS["es"]
    + ["pero", "más", "este", "esta", "entre", "cuando", "hacer", "puede",
       "tiempo", "mismo", "también", "hasta", "desde", "todo", "vida", "año",
       "mundo", "sobre", "decir", "cada", "nuevo", "ahora", "parte", "donde",
       "gente", "casa", "día", "otro", "mucho", "saber"],
    "zh": STOPWORDS["zh"]
    + ["zhei", "ge", "hao", "xiang", "kan", "xiao", "nian", "tian", "sheng",
       "xue", "hui", "jia", "dui", "zi", "li", "xing", "ming", "dian", "jian",
       "zuo", "qu", "hou", "neng", "mei", "yao", "gei", "zhi", "hua", "xin"],
}

LANGS = sorted(SEED_WORDS)
N_BUCKETS = 1 << 14
_NGRAM_RANGE = (2, 3)
_ALPHA = 0.5  # add-k smoothing


_FNV_OFFSET = np.uint64(0x811C9DC5)
_FNV_PRIME = np.uint64(0x01000193)
_MASK32 = np.uint64(0xFFFFFFFF)


def _fnv_step(h: np.ndarray, b: np.ndarray) -> np.ndarray:
    return ((h ^ b) * _FNV_PRIME) & _MASK32


def _ngram_buckets(text: str) -> np.ndarray:
    """Bucket ids of all char 2- and 3-grams of ' text.lower() ' — the
    vectorized twin of scalar FNV-1a over each gram's UTF-8 bytes.

    Grams are taken over the UTF-8 BYTE stream, which for multibyte chars
    differs from char-grams — but training (the seed words go through this
    same function) and every consumer apply it identically, so the model is
    self-consistent.
    """
    t = f" {text.lower()} "
    b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if len(b) < 3:
        return np.empty(0, dtype=np.int64)
    h1 = _fnv_step(_FNV_OFFSET, b)
    h2 = _fnv_step(h1[:-1], b[1:])  # all byte-bigrams
    h3 = _fnv_step(h2[:-1], b[2:])  # all byte-trigrams
    return np.concatenate([h2, h3]).astype(np.int64) % N_BUCKETS


def _build_profiles() -> np.ndarray:
    """log P(bucket | lang) matrix, shape (n_langs, N_BUCKETS)."""
    mat = np.full((len(LANGS), N_BUCKETS), _ALPHA, dtype=np.float64)
    for li, lang in enumerate(LANGS):
        for word in SEED_WORDS[lang]:
            for b in _ngram_buckets(word):
                mat[li, b] += 1.0
    mat /= mat.sum(axis=1, keepdims=True)
    return np.log(mat)


_PROFILES: np.ndarray | None = None
_PRIOR = None


def profiles() -> np.ndarray:
    global _PROFILES
    if _PROFILES is None:
        _PROFILES = _build_profiles()
    return _PROFILES


def predict_one(text: str) -> tuple[str, float]:
    """(predicted_lang, margin) for one doc. margin = best − runner-up mean
    log-prob; low margin ⇒ uncertain."""
    if not text:
        return "und", 0.0
    grams = _ngram_buckets(text[:2000])
    if len(grams) == 0:
        return "und", 0.0
    P = profiles()
    counts = np.bincount(grams, minlength=N_BUCKETS)
    nz = counts.nonzero()[0]
    scores = P[:, nz] @ counts[nz].astype(np.float64)
    scores /= len(grams)
    order = np.argsort(scores)
    best, second = order[-1], order[-2]
    return LANGS[int(best)], float(scores[best] - scores[second])


def predict_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized batch path (shared by the fused model UDF and oracle)."""
    langs, margins = [], []
    for t in texts.fillna(""):
        l, m = predict_one(t)
        langs.append(l)
        margins.append(m)
    return pd.DataFrame({"lang_pred": langs, "lang_margin": margins})
