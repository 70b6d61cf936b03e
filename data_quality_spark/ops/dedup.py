"""Deduplication operators for web-scale corpora.

Four tiers, cheapest first (a production pipeline runs them in this order,
each stage shrinking the input of the next):

  1. exact_dup_groups      — hash-groupBy on md5(text): one shuffle of
                             (hash, id) pairs only, never the text.
  2. minhash_lsh_pairs     — word-shingle MinHash signatures, banded LSH
                             bucketing, candidate self-join, exact-Jaccard
                             verification. The scale path: candidate
                             generation shuffles (band_key, id) pairs.
  3. simhash_pairs         — 32-bit SimHash over shingles; nibble-banded
                             candidate join; Hamming-distance verification.
  4. ngram_jaccard_pairs   — exact Jaccard within caller-provided blocking
                             keys (the brute-force baseline / verifier).

All hashes are md5-portable (ops.hashing), so every stage has an exact
ANSI-SQL oracle. Reference ancestor: the duplicate check
(/root/reference/data_quality/src/checks/values_duplicate.py) — exact dups
only; tiers 2-4 are the web-scale extension the target demands.

Scale notes (100 TB): every stage is expressed so the WIDE columns (text)
stay put until verification joins, which move only candidate-pair id lists;
LSH parameters (bands×rows) govern the recall/candidate-volume trade-off:
P(candidate | J) = 1 − (1 − J^rows)^bands.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_quality_spark.ops.hashing import portable_hash64

# MinHash defaults: 12 hashes = 4 bands × 3 rows → P(cand|J=0.7) ≈ 0.89,
# P(cand|J=0.3) ≈ 0.10. Verification removes false positives exactly.
MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = 3

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8-bit bands; pairs sharing ≥1 band are candidates

# Buckets larger than this never generate candidate pairs (degenerate-key
# O(bucket²) guard). Shared by the Spark operators AND the SQL oracles —
# the dual-path bit-exact invariant requires both sides to drop the same
# buckets.
MAX_BUCKET = 1000


# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------


def tokens_col(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


# ---------------------------------------------------------------------------
# 1 — exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(text_md5, n_dups, keep_id): one row per duplicated text; keep_id =
    min id (the canonical survivor). Only (md5, id) shuffles."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def dup_group_sizes(df: DataFrame, text_col: str) -> DataFrame:
    """(group_size, n_groups): the duplication profile of a corpus — how
    many distinct texts occur exactly k times (k=1 = unique). The first
    number a curation report quotes ("x% of the corpus is copies") and the
    input to choosing a dedup strategy. Two partial-aggregated shuffles on
    strictly shrinking keys: (md5 → count), then (count → count); no text
    ever shuffles. NULL texts are excluded (they are emptiness, not
    content)."""
    per_text = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    return per_text.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_groups")
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per distinct text; null-text rows all kept.
    Implemented as groupBy-min + semi join so the wide frame never shuffles
    fully (ids are the only shuffled payload besides the md5)."""
    keep = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    kept = df.join(keep, on=id_col, how="left_semi")
    return kept.unionByName(df.where(F.col(text_col).isNull()))


def seen_hash_index(df: DataFrame, text_col: str) -> DataFrame:
    """DataFrame[text_md5] — the persisted exact-dedup index of a corpus
    snapshot. Write this once per ingested batch (partitioned/bucketed by
    text_md5 at scale) and feed it to dedup_incremental for the next batch."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("text_md5"))
        .distinct()
    )


def dedup_incremental(
    new_df: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    seen_col: str = "text_md5",
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against an already-ingested
    corpus: drop rows whose text hash exists in the `seen` index, then drop
    in-batch duplicates keeping the min id (drop_exact_dups semantics);
    null-text rows pass through. This is the daily-crawl shape — re-hashing
    or re-shuffling the historical corpus per batch would be O(corpus), this
    is O(batch + index probe).

    Scale shape: only (md5, id) pairs shuffle — the anti-join against the
    index and the min-id group key on the md5; the wide rows re-enter via an
    id semi-join. With the index bucketed by text_md5 the anti-join is
    shuffle-free on the index side; AQE broadcasts it when small."""
    hashed = (
        new_df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("__h"), F.col(id_col))
    )
    fresh = hashed.join(
        seen.select(F.col(seen_col).alias("__h")), "__h", "left_anti"
    )
    keep_ids = fresh.groupBy("__h").agg(F.min(id_col).alias(id_col)).select(id_col)
    kept = new_df.join(keep_ids, on=id_col, how="left_semi")
    return kept.unionByName(new_df.where(F.col(text_col).isNull()))


# ---------------------------------------------------------------------------
# 1c — Bloom-filter incremental dedup (Dolma-style)
# ---------------------------------------------------------------------------

# Defaults size the filter for ~10^9 seen docs at <1% FP with m=2^33 bits
# (1 GiB) in production; the library default keeps the bitmap collectable
# in tests. FP rate ≈ (1 - e^{-k·n/m})^k.
BLOOM_M = 1 << 20
BLOOM_K = 4


def bloom_positions(text_md5: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> Column:
    """array<bigint> of the k Bloom bit positions of one document:
    pos_i = portable_hash64(md5(text), salt='#bloom⌊i/2⌋') % m, taking hex
    digits [1,15] for even i and [16,30] for odd i — one md5 call yields two
    independent 60-bit hashes, so k positions cost ⌈k/2⌉ md5 calls over a
    33-char string. Identical in Spark / DuckDB / python (ops.hashing)."""
    return F.array(
        *[
            F.pmod(
                portable_hash64(text_md5, f"#bloom{i // 2}", 1 + 15 * (i % 2)),
                F.lit(m),
            )
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame, text_col: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """DataFrame[word_idx, bits] — the Bloom bitmap of a corpus snapshot,
    packed 64 bits per row via a bit_or partial aggregate (map-side combine
    collapses each task's positions before the ≤m/64-row shuffle). Persist
    this per ingested batch: probing later batches never touches the
    historical corpus again, and unioning two snapshots' filters is a
    bit_or merge of two tiny tables. At m=2^27 the bitmap is ≤2M rows /
    ~16 MiB — broadcastable; the corpus side contributes one scan."""
    pos = df.where(F.col(text_col).isNotNull()).select(
        F.explode(bloom_positions(F.md5(F.col(text_col)), m, k)).alias("pos")
    )
    return _bloom_pack(pos)


def _bloom_pack(pos: DataFrame) -> DataFrame:
    """Pack a single-column [pos] frame into the [word_idx, bits] bitmap."""
    return (
        pos.groupBy(F.shiftright(F.col("pos"), 6).alias("word_idx"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos & 63 AS INT)))"
            ).alias("bits")
        )
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two Bloom filters with the same (m, k): bit_or of the two
    ≤m/64-row tables — this is how per-batch snapshot filters compose into
    one corpus filter without touching any document."""
    return (
        a.unionByName(b)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )


def _collect_bitmap(bloom: DataFrame, m: int) -> np.ndarray:
    """Driver-side uint64 bitmap from the packed [word_idx, bits] table
    (m/8 bytes — 128 KiB at the library default, 1 GiB at the documented
    2^33 production ceiling). Arrow-vectorized: no per-row python loop, so
    a 2^27-bit pipeline-default filter (≤2M words) stages in one gather.

    Rejects a table whose word_idx exceeds m/64 — that means the filter
    was BUILT under a larger m than this probe's; probing it mod the wrong
    m silently matches almost nothing (and the reverse direction crashes
    with an opaque IndexError), so mismatches fail loudly here instead."""
    words = max(1, (m + 63) // 64)
    pdf = bloom.toPandas()
    idx = pdf["word_idx"].to_numpy(dtype=np.int64)
    if len(idx) and int(idx.max()) >= words:
        raise ValueError(
            f"Bloom bitmap word_idx {int(idx.max())} >= m/64 = {words}: the "
            f"filter was built with a larger m than this probe's m={m}. "
            "Pass the bloom_m the index was built with (recorded in the "
            "index's _bloom_meta.json when written by run_pipeline)."
        )
    bitmap = np.zeros(words, dtype=np.uint64)
    bitmap[idx] = pdf["bits"].to_numpy(dtype=np.int64).view(np.uint64)
    return bitmap


def bloom_fill_ratio(
    bitmap: np.ndarray, max_sample_words: int = 1 << 17
) -> float:
    """Fraction of bits set — the saturation gauge of a collected filter.
    FP rate ≈ fill**k, so fill 0.5 with k=4 is already ~6% of genuinely-new
    documents dropped. Small bitmaps are popcounted exactly; past
    max_sample_words (default 128Ki words = 1 MiB) an evenly-strided sample
    is used instead — the saturation warning needs ~2 significant digits,
    and an exact sweep at the documented 2^33 production ceiling would
    churn 8 GiB of unpacked bytes per probe call (r3 advice). Sampled
    8M+ bits put the estimate's standard error below 0.02% of fill."""
    words = len(bitmap)
    if words > max_sample_words:
        stride = -(-words // max_sample_words)  # ceil: ≤ max_sample_words
        sel = np.ascontiguousarray(bitmap[::stride])
    else:
        sel = bitmap
    u8 = sel.view(np.uint8)
    step = 1 << 20
    set_bits = sum(
        int(np.unpackbits(u8[i : i + step]).sum())
        for i in range(0, len(u8), step)
    )
    return set_bits / (len(sel) * 64)


def _warn_if_saturated(bitmap: np.ndarray, m: int, k: int) -> None:
    """Loud warning when a probe uses a filter past half-full — the silent
    failure mode of an undersized bloom_m is every later run dropping
    nearly all NEW content as maybe-seen (rows_kept just shrinks)."""
    import warnings

    fill = bloom_fill_ratio(bitmap)
    if fill > 0.5:
        warnings.warn(
            f"Bloom filter is {fill:.0%} full (m={m}, k={k}): expected "
            f"false-positive rate ~{fill ** k:.1%} — genuinely-new "
            "documents are being dropped as maybe-seen. Rebuild the index "
            "with a larger bloom_m (2**33 sizes ~10^9 docs at <1% FP).",
            RuntimeWarning,
            stacklevel=3,
        )


def _bloom_membership_udf(bitmap: np.ndarray, k: int):
    """Vectorized bitmap probe: positions arrays are fixed length k, so a
    whole Arrow batch flattens to ONE (rows × k) numpy gather + shift."""

    @F.pandas_udf("boolean")
    def member(pos_arrays: pd.Series) -> pd.Series:
        vals = pos_arrays.to_numpy()
        null_mask = np.array([v is None for v in vals])
        if null_mask.all():
            return pd.Series([False] * len(vals))
        flat = np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in vals[~null_mask]]
        ).reshape(-1, k)
        word = (flat >> 6).astype(np.int64)
        bit = (flat & 63).astype(np.uint64)
        hit = (bitmap[word] >> bit) & np.uint64(1)
        seen = hit.all(axis=1)
        out = np.zeros(len(vals), dtype=bool)
        out[~null_mask] = seen
        return pd.Series(out)

    return member


def bloom_maybe_seen(
    new_df: DataFrame,
    bloom: DataFrame,
    text_col: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Adds boolean ``maybe_seen``: True iff ALL k Bloom positions of
    md5(text) are set in the snapshot bitmap. Null-text rows get False.

    Scale shape: the bitmap (≤m/64 rows) collects once to the driver into a
    numpy uint64 array and is broadcast; the probe is then MAP-ONLY — the
    new batch never shuffles and the historical corpus is never read. False
    positives are inherent to Bloom filters but DETERMINISTIC given (m, k)
    and the md5 hash contract, so the SQL oracle reproduces every FP exactly
    and dedup decisions stay auditable across engines."""
    bitmap = _collect_bitmap(bloom, m)
    _warn_if_saturated(bitmap, m, k)
    member = _bloom_membership_udf(bitmap, k)
    pos = F.when(
        F.col(text_col).isNotNull(),
        bloom_positions(F.md5(F.col(text_col)), m, k),
    )
    return new_df.withColumn("maybe_seen", member(pos))


def dedup_bloom_incremental(
    new_df: DataFrame,
    bloom: DataFrame,
    id_col: str,
    text_col: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Incremental exact dedup of a new batch against a PERSISTED Bloom
    bitmap of everything already ingested (the Dolma / CCNet shape): drop
    rows the filter reports maybe-seen, then drop in-batch exact duplicates
    keeping the min id; null-text rows pass through.

    vs dedup_incremental (seen-hash anti-join): the index here is O(m) bits
    instead of O(corpus) hashes and the probe is map-only instead of a
    join — the trade is a configurable FP rate (genuinely-new docs dropped
    as (1-e^{-kn/m})^k). Reference ancestor: the duplicate check
    (/root/reference/data_quality/src/checks/values_duplicate.py), extended
    to the cross-batch streaming-ingest setting."""
    flagged = bloom_maybe_seen(new_df, bloom, text_col, m, k)
    return bloom_keep(flagged, id_col, text_col).drop("maybe_seen")


def bloom_keep(flagged: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keeper step over an already-``maybe_seen``-annotated frame (the
    output of bloom_maybe_seen): drop flagged rows, keep the min id per
    distinct md5(text) among the rest, pass null-text rows through. Split
    out so callers that also need the flags probe the bitmap ONCE (persist
    the flagged frame) instead of re-running the Arrow UDF per consumer."""
    fresh = flagged.where(~F.col("maybe_seen") & F.col(text_col).isNotNull())
    keep_ids = (
        fresh.select(F.md5(F.col(text_col)).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    kept = flagged.join(keep_ids, on=id_col, how="left_semi")
    return kept.unionByName(flagged.where(F.col(text_col).isNull()))


# ---------------------------------------------------------------------------
# 1d — paragraph-level Bloom dedup (Dolma's paragraph dedupe mode)
# ---------------------------------------------------------------------------

# Paragraph contract: newline-delimited (the same F.split(text, '\n') as the
# boilerplate/line operators — empties preserved). Paragraphs shorter than
# min_chars are never indexed and never dropped (default 1: blank separator
# lines survive, so paragraph breaks are not rewritten corpus-wide).


def _para_positions(text_col: str, m: int, k: int, min_chars: int) -> Column:
    """array<array<bigint>> — per paragraph, its k Bloom positions (NULL
    entry for short paragraphs). The md5 chain runs JVM-side inside the
    transform lambdas (interpreted, no codegen — but still native hashing;
    the inner md5(para) is its own transform pass so the NOTES no-CSE trap
    costs k/2+1, not 2k, md5 calls per paragraph)."""
    paras = F.split(F.col(text_col), r"\n")
    md5s = F.transform(paras, lambda p: F.md5(p))
    short = F.transform(paras, lambda p: F.length(p) < min_chars)
    pos = F.transform(md5s, lambda h: bloom_positions(h, m, k))
    return F.zip_with(short, pos, lambda s, p: F.when(~s, p))


def bloom_para_build(
    df: DataFrame,
    text_col: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    min_chars: int = 1,
) -> DataFrame:
    """[word_idx, bits] Bloom bitmap of every (>= min_chars) paragraph in
    the corpus snapshot — the paragraph-granular sibling of bloom_build,
    same packing, same merge algebra (bloom_merge). One scan; only the
    ≤m/64-row packed words shuffle."""
    pos = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.explode(_para_positions(text_col, m, k, min_chars)).alias("pp")
        )
        .where(F.col("pp").isNotNull())
        .select(F.explode("pp").alias("pos"))
    )
    return _bloom_pack(pos)


def remove_seen_paragraphs(
    df: DataFrame,
    bloom: DataFrame,
    text_col: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    min_chars: int = 1,
    out_col: str = "text_clean",
) -> DataFrame:
    """Dolma-style paragraph dedupe: adds ``out_col`` = the document with
    every paragraph whose k Bloom positions are all set in the snapshot
    bitmap removed (surviving paragraphs in original order, '\\n'-joined).
    NULL text -> NULL; a fully-duplicated doc -> ''.

    Scale shape: MAP-ONLY end to end — paragraph positions are computed
    JVM-side per row (no explode/re-group shuffle of paragraph text), the
    bitmap collects once and broadcasts, and the Arrow UDF does one flat
    numpy gather per batch plus the string rebuild. In-batch cross-document
    paragraph repeats are NOT dropped (only the persisted filter decides) —
    fold the batch's own bloom_para_build in via bloom_merge first if
    self-dedup is wanted."""
    bitmap = _collect_bitmap(bloom, m)
    _warn_if_saturated(bitmap, m, k)

    @F.pandas_udf("string")
    def rebuild(texts: pd.Series, posmat: pd.Series) -> pd.Series:
        out = []
        for text, mat in zip(texts, posmat):
            if text is None:
                out.append(None)
                continue
            paras = text.split("\n")
            flat = [p for p in mat if p is not None]
            if flat:
                arr = np.asarray(
                    [np.asarray(p, dtype=np.int64) for p in flat]
                ).reshape(-1, k)
                hit = (
                    bitmap[arr >> 6] >> (arr & 63).astype(np.uint64)
                ) & np.uint64(1)
                seen = iter(hit.all(axis=1))
            else:
                seen = iter(())
            kept = [
                p
                for p, pp in zip(paras, mat)
                if pp is None or not next(seen)
            ]
            out.append("\n".join(kept))
        return pd.Series(out, dtype=object)

    pos = F.when(
        F.col(text_col).isNotNull(),
        _para_positions(text_col, m, k, min_chars),
    )
    return df.withColumn(out_col, rebuild(F.col(text_col), pos))


# ---------------------------------------------------------------------------
# 2 — MinHash + LSH
# ---------------------------------------------------------------------------


# -- the shingling and hash functions the engine runs (same \s+
#    tokenization with ASCII classes as Java/RE2, same md5 hex-slice hashes
#    as the SQL oracles). Catalyst higher-order functions are interpreted
#    (CodegenFallback, no CSE), so the equivalent native expressions are
#    ~10× slower than a vectorized Arrow batch over these.

_WS = re.compile(r"\s+", re.ASCII)
_H64_MAX = (1 << 60) - 1


def py_shingles(text: str, n: int = 3) -> list[str]:
    toks = [t for t in _WS.split(text) if t]
    if len(toks) < n:
        return []
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


# Per-worker shingle-hash memo (the classifier's md5-per-token memo
# pattern): shingles repeat massively across a web corpus (boilerplate,
# navigation, common phrases — Zipf), so each distinct shingle's k hash
# values are computed once per worker and reused. Values are UNCHANGED
# (same md5 scheme — the hash contract is not forked), so signatures,
# band keys and the SQL oracles are unaffected. Bounded size; cleared
# when full rather than evicted (hit paths stay dict-lookup cheap).
# Bound: 2^17 entries ≈ tens of MB per python worker (~500 B/entry) —
# sized for ordinary executor memory while still covering the Zipf head
# where virtually all repeat mass lives.
_MH_MEMO: dict[str, list[int]] = {}
_MH_MEMO_MAX = 1 << 17


def _mh_vals(s: str, k: int) -> list[int]:
    v = _MH_MEMO.get(s)
    if v is None or len(v) < k:
        v = []
        for j in range((k + 1) // 2):
            hx = hashlib.md5(f"{s}#{j}".encode("utf-8")).hexdigest()
            v.append(int(hx[:15], 16))
            v.append(int(hx[15:30], 16))
        if len(_MH_MEMO) >= _MH_MEMO_MAX:
            _MH_MEMO.clear()
        _MH_MEMO[s] = v
    return v


def py_minhash(sh: list[str], k: int = MINHASH_K) -> list[int]:
    """k minhash values. Hash i = 60 bits of md5(shingle||'#⌊i/2⌋'), taking
    hex digits [1,15] for even i and [16,30] for odd i — one md5 call feeds
    two hash functions, so k hashes cost ⌈k/2⌉ md5 passes per shingle."""
    mins = [_H64_MAX] * k
    for s in sh:
        v = _mh_vals(s, k)
        for i in range(k):
            if v[i] < mins[i]:
                mins[i] = v[i]
    return mins


_SH_MEMO: dict[str, int] = {}


def _sh_val(s: str) -> int:
    v = _SH_MEMO.get(s)
    if v is None:
        v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        if len(_SH_MEMO) >= _MH_MEMO_MAX:
            _SH_MEMO.clear()
        _SH_MEMO[s] = v
    return v


def py_simhash(sh: list[str], bits: int = SIMHASH_BITS) -> int:
    hs = np.array([_sh_val(s) for s in sh], dtype=np.uint64)
    ones = ((hs[:, None] >> np.arange(bits, dtype=np.uint64)) & 1).sum(axis=0)
    bit_on = (2 * ones).astype(np.int64) - len(hs) > 0
    return int((bit_on.astype(np.int64) << np.arange(bits)).sum())


def _minhash_udf(n: int, k: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("shingles array<string>, minhash array<bigint>")
    def mh(texts: pd.Series) -> pd.DataFrame:
        sh_out, mh_out = [], []
        for t in texts.fillna(""):
            sh = py_shingles(t, n)
            sh_out.append(sh)
            mh_out.append(py_minhash(sh, k) if sh else None)
        return pd.DataFrame({"shingles": sh_out, "minhash": mh_out})

    return mh


def _simhash_udf(n: int, bits: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def sh_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts.fillna(""):
            sh = py_shingles(t, n)
            out.append(py_simhash(sh, bits) if sh else None)
        return pd.Series(out, dtype="object")

    return sh_udf


def with_minhash(
    df: DataFrame, text_col: str, n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """df + (shingles, minhash): py_shingles and py_minhash per row in one
    Arrow-batched UDF. An empty shingle set gives a NULL minhash."""
    from data_quality_spark.ops.util import spread_narrow

    df = spread_narrow(df)
    m = _minhash_udf(n, k)(F.col(text_col))
    return (
        df.withColumn("_mh", m)
        .select("*", F.col("_mh.shingles").alias("shingles"),
                F.col("_mh.minhash").alias("minhash"))
        .drop("_mh")
    )


def _band_key(mh: Column, band: int, rows: int = LSH_ROWS) -> Column:
    """ONE bigint band key: the portable 60-bit hash of the band's row
    values (prefixed by the band index). The band exchange previously
    carried the '_'-joined value string (~20-40 bytes/row×band); the packed
    key is 8 bytes on the wire — the exchange payload for the MinHash
    family's shuffles (r3 verdict task #6). A 60-bit collision can merge
    two buckets, which only ADDS candidate pairs that exact verification
    rejects; the SQL oracles pack with the same md5 scheme, so buckets —
    and bucket-cap decisions — match bit-exact across engines."""
    vals = [F.element_at(mh, band * rows + j + 1) for j in range(rows)]
    joined = F.concat_ws(
        "_", F.lit(str(band)), *[v.cast("string") for v in vals]
    )
    return portable_hash64(joined)


def _text_jaccard_udf(n: int):
    """Exact Jaccard over word n-gram sets computed FROM RAW TEXT inside the
    verify stage. Lets candidate generation stay id-only: the verification
    join pulls (id → text) — already sitting in the source table — instead
    of shuffling multi-KB shingle arrays through the band exchange. Same
    shingling/ratio as the shingle-array twin (pinned by the shared
    py_shingles), so values are bit-identical."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jac(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            sx = set(py_shingles(x if isinstance(x, str) else "", n))
            sy = set(py_shingles(y if isinstance(y, str) else "", n))
            union = len(sx) + len(sy) - len(sx & sy)
            out.append(len(sx & sy) / union if union > 0 else 0.0)
        return pd.Series(out, dtype="float64")

    return jac


def _pairs_from_buckets(
    banded: DataFrame,
    key_col: str,
    id_col: str,
    payload: list[str],
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Unordered within-bucket pairs via ONE aggregation (no self-join — a
    self-join would re-evaluate the whole upstream pipeline twice and
    shuffle it twice). Buckets larger than max_bucket are skipped: an
    O(bucket²) blow-up on a degenerate key is the classic LSH failure mode
    at scale; the cap bounds it (pairs lost there are recovered by the
    remaining bands with high probability)."""
    items = (
        banded.groupBy(key_col)
        .agg(F.collect_list(F.struct(*payload)).alias("items"))
        .where(F.size("items").between(2, max_bucket))
    )
    return (
        items.select(F.posexplode("items").alias("pos", "a"), F.col("items"))
        .select(
            "a",
            F.explode(
                F.slice(F.col("items"), F.col("pos") + 2, F.size("items"))
            ).alias("b"),
        )
        .select(
            F.when(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("lo"),
            F.when(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("hi"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Plan shape (id-only candidates — nothing wide crosses a shuffle):
    [project signature] → [explode bands: (band_key, id) ONLY] → [bucket
    aggregation → candidate id pairs] → [distinct] → [join (id → text) back
    from the source] → [exact Jaccard verify recomputing shingles from text
    inside the Arrow verify stage]. The band exchange payload is one string
    key + the id.

    The verify joins carry NO broadcast hint — AQE converts them to
    broadcast at runtime exactly when the candidate set measures small.
    The pair count is data-dependent and unbounded (a high-duplication
    corpus yields O(corpus) pairs, up to ~C(MAX_BUCKET,2) per bucket), and
    a forced hint would bypass autoBroadcastJoinThreshold and OOM the
    driver at the 100 TB design point."""
    base = (
        with_minhash(df.select(id_col, text_col), text_col, n, k)
        .where(F.size("shingles") > 0)
        .select(id_col, "minhash")
    )
    banded = base.select(
        F.col(id_col),
        F.explode(
            F.array(*[_band_key(F.col("minhash"), b, rows) for b in range(bands)])
        ).alias("band_key"),
    )
    cand = (
        _pairs_from_buckets(banded, "band_key", id_col, [id_col])
        .select(
            F.col(f"lo.{id_col}").alias("id_a"),
            F.col(f"hi.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    txt = df.select(id_col, text_col)
    ta = txt.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    tb = txt.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    paired = ta.join(cand, "id_a").join(tb, "id_b")
    return paired.select(
        "id_a",
        "id_b",
        F.round(_text_jaccard_udf(n)(F.col("__ta"), F.col("__tb")), 6).alias(
            "jaccard"
        ),
    ).where(F.col("jaccard") >= threshold)


def drop_near_dups(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    policy: str = "keep_lowest",
) -> DataFrame:
    """Survivor set after near-dedup. Works with any pair source
    (minhash_lsh_pairs / simhash_pairs / cosine_lsh_pairs; id_a < id_b).

    policy='keep_lowest' (default): drop every row appearing as the HIGHER
    id of a verified pair. In a chain a–b, b–c the rows b and c each appear
    as some pair's id_b and drop, keeping a — no transitive-closure pass.
    BUT pairs (a,c),(b,c) keep BOTH a and b (they never appear as id_b):
    one survivor per EDGE-dominated set, not per connected component.

    policy='cluster': exactly ONE survivor (the min id) per connected
    component of the pair graph, from graph.connected_components over
    (id_a, id_b); the losers are the ids whose component label is not
    themselves. Ids may be of any orderable type (numeric doc ids, url
    strings). connected_components raises RuntimeError if it does not
    converge within graph.CC_MAX_ROUNDS rounds, rather than leaving extra
    survivors. The components run on the PAIR graph only (the
    candidate-dup set, ≪ corpus); the corpus-side plan is the same single
    anti-join either way, so the wide frame never shuffles (AQE broadcasts
    the loser set)."""
    if policy == "keep_lowest":
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    elif policy == "cluster":
        from data_quality_spark.ops.graph import connected_components

        losers = (
            connected_components(pairs, "id_a", "id_b")
            .where(F.col("component") != F.col("host"))
            .select(F.col("host").alias(id_col))
        )
    else:
        raise ValueError(f"unknown survivor policy: {policy}")
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# 2b — incremental MinHash: new batch vs persisted signature index
# ---------------------------------------------------------------------------


def minhash_signature_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """(id, minhash) signature index of an ingested corpus snapshot — the
    near-dup twin of seen_hash_index. Persist it per batch (partitioned /
    bucketed by a band key at scale) and feed minhash_incremental_matches:
    cross-batch near-dedup then never re-reads or re-shingles historical
    TEXT — k bigints per historical doc is the entire retained state."""
    return (
        with_minhash(df.select(id_col, text_col), text_col, n, k)
        .where(F.size("shingles") > 0)
        .select(id_col, "minhash")
    )


def sig_jaccard(a: Column, b: Column, k: int = MINHASH_K) -> Column:
    """MinHash-estimated Jaccard: fraction of equal signature components
    (the standard unbiased estimator; resolution 1/k)."""
    eq = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    return F.round(F.size(eq) / F.lit(float(k)), 6)


def minhash_incremental_matches(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """(new_id, seen_id, sig_jaccard ≥ threshold): new-batch documents that
    near-duplicate the already-ingested corpus, via shared LSH bands against
    the PERSISTED signature index (minhash_signature_index). Verification is
    signature-estimated Jaccard — historical text is not retained, and at
    1/k resolution that is the correct cross-batch contract (document it to
    consumers; exact text Jaccard applies only in-batch).

    Scale shape: both band exchanges carry (band_key, id, k bigints) — no
    text crosses the wire. Degenerate band buckets are capped at max_bucket
    PER SIDE (mirrors minhash_lsh_pairs; skipped keys are recovered by the
    other bands with high probability) via a count window over band_key —
    NOT a count-aggregate self-join, which would re-derive the signature
    UDF stage per reference; the window's hash exchange doubles as the
    join's co-partitioning, so each side computes signatures exactly once
    and shuffles exactly once."""

    def banded(sigs: DataFrame, out_id: str, out_mh: str) -> DataFrame:
        b = sigs.select(
            F.col(sigs.columns[0]).alias(out_id),
            F.col("minhash").alias(out_mh),
            F.explode(
                F.array(
                    *[_band_key(F.col("minhash"), i, rows) for i in range(bands)]
                )
            ).alias("band_key"),
        )
        over = Window.partitionBy("band_key")
        return (
            b.withColumn("__c", F.count(F.lit(1)).over(over))
            .where(F.col("__c") <= max_bucket)
            .drop("__c")
        )

    # fail FAST on a k mismatch with the persisted index: zip_with would
    # zero-pad the component comparison and silently skew every estimate
    probe = index.select("minhash").take(1)
    if probe and probe[0][0] is not None and len(probe[0][0]) != k:
        raise ValueError(
            f"signature index has k={len(probe[0][0])} components but "
            f"k={k} was requested — pass the index's parameters"
        )
    new_sigs = minhash_signature_index(new_df, id_col, text_col, n, k).select(
        id_col, "minhash"
    )
    nb = banded(new_sigs, "new_id", "__mn")
    ib = banded(index.select(id_col, "minhash"), "seen_id", "__ms")
    cand = (
        nb.join(ib, "band_key")
        .select("new_id", "seen_id", "__mn", "__ms")
        .dropDuplicates(["new_id", "seen_id"])
    )
    return cand.select(
        "new_id",
        "seen_id",
        sig_jaccard(F.col("__mn"), F.col("__ms"), k).alias("sig_jaccard"),
    ).where(F.col("sig_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# 3 — SimHash
# ---------------------------------------------------------------------------


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share ≥1 of `bands` equal
    byte-bands; verified by Hamming distance ≤ max_hamming."""
    from data_quality_spark.ops.util import spread_narrow

    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    df = spread_narrow(df)
    base = df.select(
        id_col, _simhash_udf(n, bits)(F.col(text_col)).alias("simhash")
    ).where(F.col("simhash").isNotNull())
    # packed bigint band key: band_idx·2^bits + band value — exact (no
    # hashing; band values are < 2^band_bits), 8 B on the wire instead of
    # a "b_value" string; the SQL oracle packs identically
    banded = base.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    (
                        F.lit(b * (1 << bits)).cast("long")
                        + F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask).cast("long"))
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    cand = (
        _pairs_from_buckets(banded, "band_key", id_col, [id_col, "simhash"])
        .select(
            F.col(f"lo.{id_col}").alias("id_a"),
            F.col(f"hi.{id_col}").alias("id_b"),
            F.col("lo.simhash").alias("sim_a"),
            F.col("hi.simhash").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# 4 — blocked exact n-gram Jaccard (brute-force baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.7,
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets within blocking-key groups.
    O(Σ block²) by definition — the verifier/baseline, not the scale path.

    Shape: groupBy(block) → applyInPandas enumerating in-block pairs in
    Python. Each doc's shingle set crosses the Arrow boundary ONCE; a
    self-join formulation would materialize |block|² pair rows each carrying
    two full shingle arrays through a shuffle (measured ~6× slower). Blocks
    must individually fit an executor (the caller picks blocking keys —
    that's the contract of a blocked baseline).

    Rounding note: round-half ties at the 6th decimal cannot occur — jaccard
    is p/q with q ≤ |shingle-union| ≪ 2·10⁶, so python/Spark/DuckDB rounding
    agree exactly."""

    id_type = df.schema[id_col].dataType.simpleString()

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].tolist()
        shs = [frozenset(py_shingles(t if isinstance(t, str) else "", n))
               for t in pdf[text_col]]
        rows = []
        for i in range(len(ids)):
            if not shs[i]:
                continue
            for j in range(i + 1, len(ids)):
                if not shs[j]:
                    continue
                inter = len(shs[i] & shs[j])
                union = len(shs[i]) + len(shs[j]) - inter
                jac = round(inter / union, 6) if union else 0.0
                if jac >= threshold:
                    a, b = ids[i], ids[j]
                    rows.append((min(a, b), max(a, b), jac))
        return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])

    return (
        df.select(id_col, text_col, *block_cols)
        .groupBy(*block_cols)
        .applyInPandas(
            block_pairs, f"id_a {id_type}, id_b {id_type}, jaccard double"
        )
    )


# ---------------------------------------------------------------------------
# 5 — cross-document repeated spans (exact-substring dedup signal)
# ---------------------------------------------------------------------------

DUP_SPAN_W = 8       # window length in tokens
DUP_SPAN_MIN_DOCS = 2


def dup_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = DUP_SPAN_W,
    stride: int = 1,
    min_docs: int = DUP_SPAN_MIN_DOCS,
) -> DataFrame:
    """Per-document duplicated-span fraction: the share of w-token windows
    (every `stride`-th start position) whose exact token sequence also
    occurs in >= min_docs distinct documents. This is the exact-substring
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") re-expressed for Spark: instead of a global
    suffix array, overlapping windows are hashed (ops.hashing portable md5
    scheme) and counted corpus-wide.

    Returns (id, n_windows, n_dup, dup_frac). Documents with < w tokens
    (or NULL text) produce no row. Filter `dup_frac > tau` downstream to
    drop heavily-copied documents, or use n_dup for span-level triage.

    Scale shape (100 TB): SINGLE PASS over the text — the corpus is
    scanned, tokenized and window-hashed exactly once, and the only
    full-volume shuffle is the position stream (id, 60-bit hash), ~tokens
    x 16 bytes at stride 1, reduced map-side by the (whash, id) partial
    aggregation (duplicated spans collapse before the wire). Raise
    `stride` to cut the stream linearly (recall trade: a duplicated span
    is still caught as long as it covers one sampled start). The
    distinct-doc count is a window over whash on the REDUCED pair set —
    no join, so there is no data-dependent dup-set broadcast to blow up
    on a high-duplication corpus — and the per-doc rollup shuffles one
    row per (id, whash). No HOF-interpreted hashing: positions are
    exploded first so md5 runs in whole-stage codegen, once per window.

    Reference ancestor: values_duplicate.py (exact row dups); this is the
    substring-level extension for web text.
    """
    # Short/empty docs are dropped by exploding an EMPTY start array rather
    # than a `size(__ts) >= w` row filter: predicate pushdown would inline
    # the (interpreted-HOF) tokenize expression into the Filter condition
    # and every row would tokenize TWICE (NOTES.md CaseWhen/CSE lesson).
    toks = tokens_col(F.col(text_col))  # the ONE tokenize grammar
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), toks.alias("__ts")
    )
    starts = F.when(
        F.size("__ts") >= w,
        F.sequence(F.lit(1), F.size("__ts") - (w - 1), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    pos = base.select(
        "id", F.explode(starts).alias("__i"), F.col("__ts")
    ).select(
        "id",
        portable_hash64(
            F.concat_ws(" ", F.slice(F.col("__ts"), F.col("__i"), w))
        ).alias("whash"),
    )
    pair_counts = pos.groupBy("whash", "id").agg(
        F.count(F.lit(1)).alias("__np")
    )
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("whash"))
    return (
        pair_counts.withColumn("__ndocs", ndocs)
        .groupBy("id")
        .agg(
            F.sum("__np").alias("n_windows"),
            F.sum(
                F.when(F.col("__ndocs") >= min_docs, F.col("__np")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_windows",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_windows")).alias(
                "dup_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 6 — corpus-level duplicated-span REMOVAL (C4 / Lee et al. rewrite twin of
#     the dup_span_stats REPORT op)
# ---------------------------------------------------------------------------

SPAN_N = 3                       # C4 deduplicated three-sentence spans
SPAN_SENT_SEP = "\x02"           # span-key joiner (never occurs in text)
SPAN_SENTINEL = "\x01"           # sentence-boundary marker
# sentence boundary: terminal punctuation + whitespace. Explicit ws class
# (Java/RE2 \s differ on \x0B) and captured punct (RE2 has no lookbehind);
# the SAME constant renders in both engines (group syntax differs: $1 vs \1)
SPAN_SPLIT_PAT = r"([.!?])[ \t\n\r\f]+"


def split_sentences(text: Column) -> Column:
    """Deterministic sentence split: insert a sentinel after terminal
    punctuation + whitespace, then split on it (portable — no lookbehind)."""
    return F.split(
        F.regexp_replace(text, SPAN_SPLIT_PAT, "$1" + SPAN_SENTINEL),
        SPAN_SENTINEL,
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SPAN_N,
    unit: str = "sentence",
    min_chars: int = 0,
) -> DataFrame:
    """C4-style corpus-level duplicated-span REMOVAL: any run of `n`
    consecutive units occurring more than once across the corpus is
    kept at its FIRST occurrence (min (id, start)) and removed everywhere
    else; affected documents are rebuilt from their surviving units.
    Returns (id_col, text_dedup, n_removed) for every input row.

    unit='sentence' (default): terminal-punctuation split, single-space
    rejoin (the boundary whitespace is consumed by the split; unaffected
    documents pass through byte-identical) — C4's three-sentence dedup /
    Lee et al. 2022's exact-substring removal at sentence granularity.
    unit='paragraph': newline split, newline rejoin — with n=1 this is
    Dolma-style exact paragraph dedup as a corpus-level first-occurrence
    keeper (the Bloom sibling remove_seen_paragraphs dedups against a
    PERSISTED snapshot instead and cannot pick in-corpus keepers).

    min_chars: spans containing any unit shorter than this are never
    dedup candidates (no key emitted). Essential at paragraph grain —
    blank lines and one-word paragraphs repeat corpus-wide by nature, and
    removing them would rewrite formatting everywhere (same rationale as
    boilerplate_lines' min_line_chars).

    Scale shape (100 TB): the span exchange carries (key, id, start) ONLY —
    md5 span keys, never unit text; duplicate detection and keeper
    selection are ONE window over the key (single shuffle, occ evaluated
    once). Only AFFECTED documents' units re-shuffle for reassembly
    (cost ∝ duplicated content, not corpus). Ids of any orderable type
    work — the keeper is a lexicographic (id, start) struct min."""
    if unit == "paragraph":
        units = F.split(F.col(text_col), r"\n")
        joiner = "\n"
    elif unit == "sentence":
        units = split_sentences(F.col(text_col))
        joiner = " "
    else:
        raise ValueError(f"unknown unit {unit!r}: 'sentence' or 'paragraph'")
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), units.alias("__s"))
    )
    nspan = F.size(F.col("__s")) - (n - 1)

    def span_at(i):
        key = F.md5(
            F.concat_ws(
                SPAN_SENT_SEP,
                *[F.element_at(F.col("__s"), i + j) for j in range(n)],
            )
        )
        if min_chars > 0:
            ok = F.lit(True)
            for j in range(n):
                ok = ok & (
                    F.length(F.element_at(F.col("__s"), i + j)) >= min_chars
                )
            key = F.when(ok, key)
        return F.struct(i.alias("start"), key.alias("key"))

    occ = (
        base.select(
            "id",
            F.explode(
                F.when(
                    nspan > 0,
                    F.transform(F.sequence(F.lit(1), nspan), span_at),
                ).otherwise(F.array())
            ).alias("sp"),
        )
        .select("id", F.col("sp.start").alias("start"), F.col("sp.key").alias("key"))
        .where(F.col("key").isNotNull())
    )
    # duplicate detection + keeper selection as a WINDOW over the span key,
    # not a count/min-aggregate self-join: occ appears ONCE in the plan
    # (one shuffle on key; a self-join would re-split and re-hash the
    # corpus per reference — and the interim persist it then needs leaked
    # a cached frame per call). Keeper = lexicographic min (id, start) as
    # a STRUCT: works for string/arbitrary ids and cannot overflow (the
    # earlier id*SPAN_MAX_SENTS+start combined key silently broke on
    # string ids — NULL under ANSI-off — and wrapped on 60-bit hash ids).
    over = Window.partitionBy("key")
    pos = F.struct("id", "start")
    rem_sents = (
        occ.withColumn("__n", F.count(F.lit(1)).over(over))
        .withColumn("__keeper", F.min(pos).over(over))
        .where((F.col("__n") > 1) & (pos != F.col("__keeper")))
        .select(
            "id",
            F.explode(F.sequence(F.col("start"), F.col("start") + (n - 1))).alias(
                "idx"
            ),
        )
        .distinct()
    )
    sent_tbl = base.select(
        "id", F.posexplode(F.col("__s")).alias("idx0", "sent")
    ).select("id", (F.col("idx0") + 1).alias("idx"), "sent")
    nrem = rem_sents.groupBy("id").agg(F.count(F.lit(1)).alias("n_removed"))
    kept = sent_tbl.join(rem_sents, ["id", "idx"], "left_anti")
    rebuilt = (
        kept.join(nrem.select("id"), "id", "left_semi")
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "sent"))),
                    lambda x: x["sent"],
                ),
                joiner,
            ).alias("__txt")
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__orig"))
        .join(nrem, "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(
                F.col("n_removed").isNotNull(),
                F.coalesce(F.col("__txt"), F.lit("")),
            )
            .otherwise(F.col("__orig"))
            .alias("text_dedup"),
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# 7 — token-grain duplicated-span REMOVAL (completes the Lee et al. 2022
#     exact-substring family: dup_span_stats REPORTS at token grain,
#     remove_dup_spans REWRITES at sentence grain, this REWRITES at token
#     grain — the closest Spark-native analogue of ExactSubstr removal)
# ---------------------------------------------------------------------------


def remove_dup_token_spans(
    df: DataFrame, id_col: str, text_col: str, w: int = DUP_SPAN_W
) -> DataFrame:
    """Exact-substring removal at TOKEN granularity: every w-token window
    (stride 1) is hashed corpus-wide (ops.hashing portable md5 scheme —
    the same whash as dup_span_stats); a window occurring more than once
    keeps its FIRST occurrence (lexicographic min (id, start) struct) and
    every other occurrence marks its w token positions for removal.
    Overlapping duplicated windows union into maximal removed spans (the
    explode + distinct over token indexes), so a long copied passage is
    excised as one contiguous hole, not w-token confetti. Affected
    documents are rebuilt from surviving tokens (single-space joins — the
    \\s+ tokenize consumes original whitespace); unaffected documents pass
    through byte-identical. Returns (id_col, text_dedup, n_removed) for
    every input row, n_removed in TOKENS.

    vs remove_dup_spans (sentence grain): token windows catch copied
    passages that straddle sentence boundaries or carry no terminal
    punctuation (navigation strings, code, tables — common in web text);
    the price is w-token resolution instead of sentence resolution.

    Scale shape (100 TB): single corpus scan for window hashing; the span
    exchange carries (whash, id, start) ONLY — never token text; duplicate
    detection + keeper selection are ONE window over whash (occ appears
    once in the plan — no count/min self-join to re-tokenize the corpus
    per reference); only AFFECTED documents' tokens re-shuffle for
    reassembly (cost ∝ duplicated content, not corpus size).

    Reference ancestor: values_duplicate.py (exact row dups); this is the
    Lee et al. 2022 ExactSubstr rewrite re-expressed for Spark (windows +
    first-occurrence keeper instead of a global suffix array).
    """
    toks = tokens_col(F.col(text_col))  # the ONE tokenize grammar
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), toks.alias("__ts")
    )
    # empty-starts explode (not a size() row filter): predicate pushdown
    # would inline the interpreted-HOF tokenize into the Filter and every
    # row would tokenize twice (NOTES.md CaseWhen/CSE lesson).
    starts = F.when(
        F.size("__ts") >= w,
        F.sequence(F.lit(1), F.size("__ts") - (w - 1)),
    ).otherwise(F.array().cast("array<int>"))
    occ = base.select(
        "id", F.explode(starts).alias("start"), F.col("__ts")
    ).select(
        "id",
        "start",
        # hash AFTER the explode so md5 runs in whole-stage codegen once
        # per window (never inside a per-element lambda)
        portable_hash64(
            F.concat_ws(" ", F.slice(F.col("__ts"), F.col("start"), w))
        ).alias("whash"),
    )
    over = Window.partitionBy("whash")
    pos = F.struct("id", "start")
    rem_toks = (
        occ.withColumn("__n", F.count(F.lit(1)).over(over))
        .withColumn("__keeper", F.min(pos).over(over))
        .where((F.col("__n") > 1) & (pos != F.col("__keeper")))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (w - 1))
            ).alias("idx"),
        )
        .distinct()
    )
    tok_tbl = base.select(
        "id", F.posexplode(F.col("__ts")).alias("idx0", "tok")
    ).select("id", (F.col("idx0") + 1).alias("idx"), "tok")
    nrem = rem_toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_removed"))
    kept = tok_tbl.join(rem_toks, ["id", "idx"], "left_anti")
    rebuilt = (
        kept.join(nrem.select("id"), "id", "left_semi")
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("__txt")
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__orig"))
        .join(nrem, "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(
                F.col("n_removed").isNotNull(),
                F.coalesce(F.col("__txt"), F.lit("")),
            )
            .otherwise(F.col("__orig"))
            .alias("text_dedup"),
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        )
    )
