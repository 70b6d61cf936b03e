"""KenLM-STYLE n-gram perplexity scorer, from scratch (no network — the
sandbox cannot fetch KenLM binaries; SURVEY.md §7).

Model: interpolated character bigram/trigram LM with add-k smoothing,
"trained" deterministically at import on the embedded multilingual seed
corpus (langid.SEED_WORDS). Clean prose built from seed vocabularies scores
low perplexity; gibberish (random char runs) scores high — exactly the
separation the quality filter needs.

Same dual-path contract as langid: ``ppl_batch`` is shared verbatim by the
fused model UDF (engine, functions/models.py) and the oracle, so scores
match bit-for-bit.

Plugs into the rule engine like a ColumnBetweenValues threshold
(/root/reference/data_quality/src/checks/column_between_values.py:38-51).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from data_quality_spark.functions.langid import SEED_WORDS

_CHARS = "abcdefghijklmnopqrstuvwxyzüéàè '"
_C2I = {c: i for i, c in enumerate(_CHARS)}
V = len(_CHARS)
_ALPHA = 0.1
_LAMBDA3, _LAMBDA2, _LAMBDA1 = 0.6, 0.3, 0.1

_MODEL = None


def _norm_char(ch: str) -> int:
    return _C2I.get(ch, _C2I[" "])


# vectorized codepoint→id lookup table (codepoints above the table map to ' ')
_MAX_CP = max(ord(c) for c in _CHARS) + 1
_CP_TABLE = np.full(_MAX_CP, _C2I[" "], dtype=np.int64)
for _c, _i in _C2I.items():
    _CP_TABLE[ord(_c)] = _i


def _char_ids(text: str) -> np.ndarray:
    """Vectorized twin of [_norm_char(c) for c in text]: decode to
    codepoints via utf-32 and table-lookup (unknown → space id)."""
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    ids = np.where(cps < _MAX_CP, _CP_TABLE[np.minimum(cps, _MAX_CP - 1)], _C2I[" "])
    return ids


def _train():
    uni = np.full(V, _ALPHA)
    bi = np.full((V, V), _ALPHA)
    tri = np.full((V, V, V), _ALPHA)
    corpus = " ".join(" ".join(ws) for _, ws in sorted(SEED_WORDS.items()))
    ids = [_norm_char(c) for c in corpus.lower()]
    for i, c in enumerate(ids):
        uni[c] += 1
        if i >= 1:
            bi[ids[i - 1], c] += 1
        if i >= 2:
            tri[ids[i - 2], ids[i - 1], c] += 1
    p_uni = uni / uni.sum()
    p_bi = bi / bi.sum(axis=1, keepdims=True)
    p_tri = tri / tri.sum(axis=2, keepdims=True)
    return np.log(
        _LAMBDA3 * p_tri
        + _LAMBDA2 * p_bi[np.newaxis, :, :]
        + _LAMBDA1 * p_uni[np.newaxis, np.newaxis, :]
    )


def model() -> np.ndarray:
    global _MODEL
    if _MODEL is None:
        _MODEL = _train()
    return _MODEL


def ppl_one(text: str, max_chars: int = 2000) -> float:
    """Char-level perplexity; empty text → +inf sentinel (1e9)."""
    if not text:
        return 1e9
    ids = _char_ids(text[:max_chars].lower())
    if len(ids) < 3:
        return 1e9
    M = model()
    lp = M[ids[:-2], ids[1:-1], ids[2:]]
    return float(math.exp(-lp.mean()))


def ppl_batch(texts: pd.Series) -> pd.Series:
    return texts.fillna("").map(ppl_one).astype("float64")
