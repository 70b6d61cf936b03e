"""Text-analysis operators for training-data pipelines: heuristic
language-ID, composite quality scoring, token counting, and document
fingerprinting. All pure Catalyst expressions (whole-stage codegen, zero
Python in the row path) with exact SQL oracles.

The model-based twins live in functions/langid.py (hashed n-gram classifier)
and functions/perplexity.py (char LM) — those run as Arrow pandas UDFs and
are verified by rows-only checks; the operators HERE are the SQL-expressible
heuristic tier a 100 TB pipeline runs first (cheap, exact, auditable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_spark.functions.textstats import STOPWORDS
from data_quality_spark.ops.hashing import portable_hash64

LANGS = sorted(STOPWORDS)

# BPE-ish pre-tokenizer: letter runs | single digits | single punctuation.
# ASCII-explicit classes so Java (Spark) and RE2 (DuckDB oracle) agree.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def _toks(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


# ---------------------------------------------------------------------------
# heuristic language-ID: argmax of per-language stopword hit counts
# ---------------------------------------------------------------------------


def stopword_hits(text: Column, lang: str) -> Column:
    return F.size(F.filter(_toks(text), lambda t: F.lower(t).isin(STOPWORDS[lang])))


def heuristic_langid(text: Column) -> Column:
    """Predicted language = argmax over stopword-hit counts; ties broken by
    language name ascending (deterministic); zero hits anywhere → 'und'."""
    hits = [(lang, stopword_hits(text, lang)) for lang in LANGS]
    best = F.greatest(*[h for _, h in hits])
    pred = F.lit("und")
    # reverse order so earlier (asc) languages win ties
    for lang, h in reversed(hits):
        pred = F.when(h == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def with_heuristic_langid(df: DataFrame, text_col: str, out_col: str = "lang_heur"):
    return df.withColumn(out_col, heuristic_langid(F.col(text_col)))


# ---------------------------------------------------------------------------
# composite quality score
# ---------------------------------------------------------------------------


def quality_score(text: Column) -> Column:
    """Score in [0,1]: 0.4·length_term + 0.3·stopword_term + 0.3·alpha_term.

      length_term   = least(n_words/100, 1)            (enough content)
      stopword_term = least(stop_density·5, 1)          (natural prose)
      alpha_term    = alpha_chars / greatest(n_chars,1) (not symbol soup)

    Exact formula mirrored in the SQL oracle; round(6) pins the float."""
    toks = _toks(text)
    n_words = F.size(toks)
    all_sw = [w for ws in STOPWORDS.values() for w in ws]
    n_sw = F.size(F.filter(toks, lambda t: F.lower(t).isin(all_sw)))
    stop_density = F.when(n_words > 0, n_sw.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    length_term = F.least(n_words.cast("double") / 100.0, F.lit(1.0))
    stop_term = F.least(stop_density * 5.0, F.lit(1.0))
    alpha_term = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    return F.round(0.4 * length_term + 0.3 * stop_term + 0.3 * alpha_term, 6)


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_ws_tokens, n_bpe_tokens): whitespace tokens and BPE-ish
    pre-tokens (letter runs / digits / punctuation). NULL text → NULL
    counts (matching the SQL twin's NULL propagation) — NOT the legacy
    size(NULL) = -1, which silently corrupts any downstream cumsum
    (token budgets, shard packing) or aggregate."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.when(text.isNotNull(), F.size(_toks(text))).alias("n_ws_tokens"),
        F.when(
            text.isNotNull(),
            F.size(
                F.filter(
                    F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0),
                    lambda x: x != "",
                )
            ),
        ).alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# corpus statistics
# ---------------------------------------------------------------------------


def top_tokens(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """(token, n): the k most frequent whitespace tokens corpus-wide, ties
    broken by token ascending. Plan shape at 100 TB: explode is map-only,
    the count is a partial aggregate (map-side combine collapses each
    partition to its distinct tokens before the exchange — token frequency
    follows Zipf, so hot keys are EXACTLY the ones partial agg compresses
    best), and the top-k is TakeOrderedAndProject (per-partition heap, no
    global sort)."""
    toks = df.select(F.explode(_toks(F.col(text_col))).alias("token"))
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return counted.orderBy(F.col("n").desc(), F.col("token")).limit(k)


def group_doc_stats(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Per-group corpus stats: (group, n_docs, total_words, avg_words,
    n_langs if a lang column exists). All aggregates are algebraic, so
    Spark's partial aggregation already neutralizes group-key skew (each
    hot key collapses to one partial row per partition before the
    exchange) — no salting needed for sums/counts."""
    # size(NULL) is -1 with ANSI off — NULL-text docs must contribute NULL
    # (excluded from sum/avg, like the SQL oracle's len(NULL)), not -1
    n_words = F.when(
        F.col(text_col).isNotNull(), F.size(_toks(F.col(text_col)))
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_words.cast("long")).alias("total_words"),
        F.round(F.avg(n_words), 6).alias("avg_words"),
    ]
    if "lang" in df.columns:
        aggs.append(F.countDistinct("lang").alias("n_langs"))
    return df.groupBy(F.col(group_col).alias("grp")).agg(*aggs)


NORM_WS_CLASS = r"[ \t\n\r\f]+"  # explicit class: Java and RE2 \s differ on \x0B


def normalize_text(text: Column) -> Column:
    """Canonical text form for dedup/statistics keys: lowercase, whitespace
    runs collapsed to single spaces, trimmed. Pure codegen (3 JVM string
    ops); the exact chain is mirrored in the SQL oracle."""
    return F.trim(F.regexp_replace(F.lower(text), NORM_WS_CLASS, " "))


def with_normalized(df: DataFrame, text_col: str, out_col: str = "text_norm"):
    return df.withColumn(out_col, normalize_text(F.col(text_col)))


def remove_repeated_lines(text: Column) -> Column:
    """Boilerplate suppression INSIDE a document: keep only the FIRST
    occurrence of each NON-BLANK line (web pages repeat nav/footer/cookie
    banners; Gopher-style filters drop whole docs on repetition — this op
    rewrites instead, the in-document sibling of corpus-level dedup).
    BLANK lines always survive: they are paragraph breaks, not content —
    a plain array_distinct would collapse every break after the first and
    merge paragraphs corpus-wide (the same contract as the boilerplate
    op's blank-line rule). One split, one aggregate pass (the seen-set
    accumulator lives inside the expression — the input array is never
    re-evaluated per element); membership is O(distinct lines) per line,
    doc-local. NULL text → NULL."""
    lines = F.split(text, r"\n")
    init = F.struct(
        F.array().cast("array<string>").alias("seen"),
        F.array().cast("array<string>").alias("out"),
    )
    step = lambda acc, x: F.struct(  # noqa: E731
        F.when(x == "", acc["seen"])
        .otherwise(F.array_union(acc["seen"], F.array(x)))
        .alias("seen"),
        F.when(
            (x == "") | ~F.array_contains(acc["seen"], x),
            F.concat(acc["out"], F.array(x)),
        )
        .otherwise(acc["out"])
        .alias("out"),
    )
    return F.aggregate(
        lines, init, step, lambda acc: F.array_join(acc["out"], "\n")
    )


# URL canonicalization patterns, applied strictly in order; each is a
# (pattern, spark_replacement, duckdb_replacement) triple — group syntax
# differs ($1 vs \1), the PATTERNS are the shared constants. Explicit ASCII
# classes, no lookbehind (portable re/Java/RE2 subset, like scrub.py).
URL_CANON_STEPS: list[tuple[str, str, str]] = [
    # 1. drop the fragment
    (r"#.*$", "", ""),
    # 2. drop tracking params (utm_*, gclid, fbclid) wherever they appear
    (r"[?&](?:utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&#]*", "", ""),
    # 3. a surviving '&param' that now leads the query becomes '?param'
    #    (prefix contains neither '?' nor '&' — i.e. the '?' was removed
    #    along with a leading tracking param)
    (r"^([^?&]*)&", "$1?", r"\1?"),
    # 4. drop default ports (delimiter captured — RE2 has no lookahead)
    (r"^(http://[^/:?#]+):80([/?#]|$)", "$1$2", r"\1\2"),
    (r"^(https://[^/:?#]+):443([/?#]|$)", "$1$2", r"\1\2"),
    # 5. dangling '?' or '&' at end
    (r"[?&]$", "", ""),
]

SAMPLE_DENOM = 1_000_000  # hash-bucket resolution: fractions to 1e-6


def canonicalize_url(url: Column) -> Column:
    """Canonical url for dedup keys / host grouping: strip fragments,
    tracking params (utm_*, gclid, fbclid), and default ports — the
    standard web-pipeline normalization before url-keyed dedup. Pure
    regexp_replace chain (codegen); the pattern constants are shared with
    the SQL oracle (replacement group syntax rendered per engine)."""
    out = url
    for pat, spark_repl, _ in URL_CANON_STEPS:
        out = F.regexp_replace(out, pat, spark_repl)
    return out


def sample_stratified(
    df: DataFrame,
    id_col: str,
    fractions: dict | float,
    strata_col: str | None = None,
    salt: str = "sample",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling for training-data mixes: keep a
    row iff portable_hash64(id||'#'||salt) mod 1e6 < fraction·1e6 for its
    stratum (e.g. per-language downsampling rates). Properties a training
    pipeline needs that `df.sample`/`sampleBy` lack:

      * reproducible across runs, engines, AND partitionings (the hash is
        a pure function of the row id — Spark's samplers are seeded per
        partition, so a repartition changes the selected set);
      * consistent across tables (the same id samples identically
        everywhere — joins between sampled tables stay aligned);
      * auditable in SQL (md5-portable — the oracle reproduces the exact
        row set).

    Plan shape: map-only filter, no shuffle; different salts give
    independent samples."""
    from data_quality_spark.ops.hashing import portable_hash64

    bucket = F.pmod(
        portable_hash64(F.col(id_col).cast("string"), f"#{salt}"),
        F.lit(SAMPLE_DENOM),
    )
    if strata_col is None:
        thr: Column = F.lit(int(round(float(fractions) * SAMPLE_DENOM)))
    else:
        case = None
        for k, v in fractions.items():
            cond = F.col(strata_col).cast("string") == str(k)
            n = int(round(v * SAMPLE_DENOM))
            case = F.when(cond, n) if case is None else case.when(cond, n)
        dflt = int(round(default_fraction * SAMPLE_DENOM))
        thr = case.otherwise(dflt) if case is not None else F.lit(dflt)
    return df.where(bucket < thr)


def token_budget_cap(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tokens_col: Column | str,
    budget: int,
) -> DataFrame:
    """Per-group TOKEN budget (the LLM-mix sibling of group_quota's row
    cap): admit rows of each group in `order_col` order while the running
    token total of the rows admitted BEFORE them is < budget — so the row
    that crosses the budget is the last one admitted, and every group with
    any rows contributes at least one (no budget starvation on long docs).

    `tokens_col` may be a column name or an expression (e.g. the ws-token
    count of a text column). `order_col` must be unique per group for a
    deterministic result. Window cumsum per group — the group key (source /
    lang / host) parallelizes when its cardinality ≫ executors; a single
    giant group serializes, like any per-group total order."""
    from pyspark.sql import Window

    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(toks).over(w), F.lit(0).cast("long"))
    return (
        df.withColumn("__tok_before", before)
        .where(F.col("__tok_before") < budget)
        .drop("__tok_before")
    )


def pack_shards(
    df: DataFrame,
    id_col: str,
    tokens_col: Column | str,
    shard_tokens: int,
    n_buckets: int = 1024,
    salt: str = "shard",
) -> DataFrame:
    """Token-aware training-shard assignment: df + (shard_bucket,
    shard_seq), where a shard = (bucket, seq) holds ~shard_tokens tokens.
    Rows hash into n_buckets (the hash order doubles as the corpus shuffle
    training wants — deterministic, reproducible across engines/partition-
    ings); within a bucket, rows in (hash, id) order are packed by running
    token position: shard_seq = floor(tokens_before / shard_tokens), so a
    shard closes once the doc that crosses the budget is admitted and every
    shard has at least one doc.

    Scale shape: ONE shuffle (the window by shard_bucket); buckets ≫
    executors parallelize, and shard sizes stay balanced because the hash
    order decorrelates doc length from position. tokens_col may be a name
    or expression; rows with NULL/negative token counts are the caller's
    responsibility (filter or coalesce first)."""
    from pyspark.sql import Window

    from data_quality_spark.ops.hashing import portable_hash64

    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    h = portable_hash64(F.col(id_col).cast("string"), f"#{salt}")
    out = df.withColumn("__h", h).withColumn(
        "shard_bucket", F.pmod(F.col("__h"), F.lit(n_buckets)).cast("int")
    )
    w = (
        Window.partitionBy("shard_bucket")
        .orderBy(F.col("__h"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(toks).over(w), F.lit(0).cast("long"))
    return out.withColumn(
        "shard_seq", F.floor(before / F.lit(shard_tokens)).cast("int")
    ).drop("__h")


def top_fraction(
    df: DataFrame,
    score_col: str,
    frac: float,
    tiebreak_col: str,
    group_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Adaptive-threshold quality filter: keep the top `frac` of rows by
    score — percent_rank() <= frac — rather than a fixed score cutoff
    (CCNet-style 'keep the best X%' selection; the threshold adapts to the
    corpus' score distribution with no quantile estimation step, and the
    exact kept fraction is engine-reproducible where approx quantiles are
    not). `tiebreak_col` must be unique so ranks (hence the kept set) are
    deterministic.

    With group_col (lang / source / host) the window partitions by stratum
    and parallelizes when stratum cardinality >> executors — the scale
    path. Without it the rank is a single global total order (one
    partition) — fine for samples, not for the full corpus; prefer a
    stratified call or sample_stratified at scale."""
    from pyspark.sql import Window

    score = F.col(score_col).desc() if descending else F.col(score_col).asc()
    base = Window.partitionBy(group_col) if group_col else Window.partitionBy()
    w = base.orderBy(score, F.col(tiebreak_col).asc())
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .where(F.col("__pr") <= frac)
        .drop("__pr")
    )


def group_quota(
    df: DataFrame, group_col: str, order_col: str, quota: int
) -> DataFrame:
    """Per-group admission cap: keep the first `quota` rows of each group in
    `order_col` order (training-data use: cap any single host/domain's
    contribution to the corpus). Windowed rank per group — the partition key
    (host) has cardinality ≫ executors at web scale, so the window
    parallelizes."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= quota)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# benchmark-contamination check (n-gram overlap vs a probe set)
# ---------------------------------------------------------------------------


def _shingle_hash_udf(n: int):
    from pyspark.sql.functions import pandas_udf

    from data_quality_spark.ops.dedup import py_shingles
    from data_quality_spark.ops.hashing import py_hash64

    @pandas_udf("array<bigint>")
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [py_hash64(s) for s in py_shingles(t if isinstance(t, str) else "", n)]
                for t in texts
            ]
        )

    return sh


def contamination(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination scan: for each PROBE document (e.g. an eval
    set), the fraction of its distinct word n-grams that appear anywhere in
    the (training) CORPUS → (id, n_shingles, n_hit, overlap).

    Scale shape — the corpus side NEVER shuffles: the (small) probe shingle
    set broadcasts into a map-only semi-join over the corpus shingles, and
    only the surviving hit-hashes (≤ |probe shingles|) are aggregated. The
    classic wrong plan — corpus-shingles.distinct() then join — would
    shuffle the full corpus's shingle set.
    """
    from data_quality_spark.ops.util import spread_narrow

    sh = _shingle_hash_udf(n)
    corpus = spread_narrow(corpus)
    probe_sh = probe.select(
        F.col(id_col), F.explode(sh(F.col(text_col))).alias("h")
    ).dropDuplicates([id_col, "h"])
    probe_hashes = probe_sh.select("h").distinct()
    corpus_sh = corpus.select(F.explode(sh(F.col(text_col))).alias("h"))
    hit_hashes = (
        corpus_sh.join(F.broadcast(probe_hashes), "h", "left_semi")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    joined = probe_sh.join(F.broadcast(hit_hashes), "h", "left")
    stats = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(False)).cast("long")).alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(False)).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("overlap"),
    )
    # probe docs with < n tokens yield no shingles and would vanish from the
    # explode — report them as unmeasurable (0 shingles, NULL overlap)
    # instead of silently omitting them from the contamination report
    all_probe = probe.select(id_col).distinct()
    return (
        all_probe.join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.col("overlap"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark DECONTAMINATION (the removal twin of the contamination
    scan): drop every training document sharing ≥ `min_hits` distinct word
    n-grams with the probe set (eval/benchmark docs) — the GPT-3 / Llama
    n-gram-overlap decontamination rule applied corpus-side. Returns the
    KEPT rows of `corpus`, all columns.

    Scale shape (100 TB): the probe n-gram hash set is benchmark-sized —
    broadcast by construction; the corpus side is a map-only explode +
    broadcast semi-join, so the corpus NEVER shuffles its payload. Only the
    contaminated ids (≤ hit docs) flow into the anti-join, which AQE
    broadcasts when small. min_hits=1 short-circuits without a count
    aggregate. Docs with < n tokens (no shingles) are never dropped."""
    from data_quality_spark.ops.util import spread_narrow

    sh = _shingle_hash_udf(n)
    probe_hashes = (
        probe.select(F.explode(sh(F.col(text_col))).alias("h")).distinct()
    )
    corpus_sh = spread_narrow(corpus).select(
        F.col(id_col), F.explode(sh(F.col(text_col))).alias("h")
    )
    hits = corpus_sh.join(F.broadcast(probe_hashes), "h", "left_semi")
    if min_hits <= 1:
        contaminated = hits.select(id_col).distinct()
    else:
        contaminated = (
            hits.dropDuplicates([id_col, "h"])
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__nh"))
            .where(F.col("__nh") >= min_hits)
            .select(id_col)
        )
    return corpus.join(contaminated, id_col, "left_anti")


# ---------------------------------------------------------------------------
# document fingerprinting (winnowing-style min-hash selection)
# ---------------------------------------------------------------------------


def fingerprint(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, fp_min, fp_max, n_shingles): min/max 60-bit hash over word
    n-gram shingles — the two winnowing anchors. Equal fp_min across docs ⇒
    shared rare shingle ⇒ near-dup candidate (cheap pre-cluster key).
    Arrow-batched hashlib path (py_shingles + py_hash64): ~10× faster than
    the same hashes as interpreted higher-order-function expressions."""
    from pyspark.sql.functions import pandas_udf

    from data_quality_spark.ops.dedup import py_shingles
    from data_quality_spark.ops.hashing import py_hash64

    @pandas_udf("fp_min bigint, fp_max bigint, n_shingles int")
    def fp(texts: pd.Series) -> pd.DataFrame:
        mins, maxs, ns = [], [], []
        for t in texts.fillna(""):
            sh = py_shingles(t, n)
            hs = [py_hash64(s) for s in sh]
            mins.append(min(hs) if hs else None)
            maxs.append(max(hs) if hs else None)
            ns.append(len(hs))
        return pd.DataFrame({"fp_min": mins, "fp_max": maxs, "n_shingles": ns})

    out = df.select(F.col(id_col), fp(F.col(text_col)).alias("_fp"))
    return out.select(
        id_col,
        F.col("_fp.fp_min").alias("fp_min"),
        F.col("_fp.fp_max").alias("fp_max"),
        F.col("_fp.n_shingles").alias("n_shingles"),
    ).where(F.col("n_shingles") > 0)


# ---------------------------------------------------------------------------
# corpus-level boilerplate line removal (CCNet / RefinedWeb-style)
# ---------------------------------------------------------------------------

# Cap on the boilerplate-line set collected to the driver for the map-only
# rewrite pass. By construction each boilerplate line accounts for
# >= min_docs documents, so |set| <= total_lines / min_docs — small for any
# sane threshold; a pathological corpus over the cap takes the shuffle-join
# rewrite instead of risking driver OOM.
BOILER_MAX_BROADCAST = 200_000


def boilerplate_lines(
    df: DataFrame, text_col: str, min_docs: int, min_line_chars: int = 1
) -> DataFrame:
    """Corpus-wide boilerplate detection: (line, n_docs) for every line that
    appears in >= min_docs DISTINCT documents (nav bars, cookie banners,
    copyright footers — the CCNet/RefinedWeb 'line appears verbatim across
    the corpus' signal; the in-document sibling is remove_repeated_lines).

    Scale shape — full line text never shuffles in bulk:
      1. per-doc distinct lines (array_distinct BEFORE explode, so a plain
         count equals the document count — no countDistinct double shuffle);
      2. candidate pass groups by the 60-bit portable hash only (16 bytes/
         line on the wire instead of the line bytes);
      3. exact confirm re-aggregates ONLY the candidate lines (those whose
         hash bucket reached min_docs — rare by definition), eliminating
         hash-collision false positives, with the candidate-hash set
         broadcast into a map-only semi-join.
    Lines shorter than min_line_chars are never boilerplate (default 1:
    blank lines are kept — stripping them would rewrite paragraph breaks
    corpus-wide)."""
    from data_quality_spark.ops.hashing import portable_hash64

    per_doc = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.explode(F.array_distinct(F.split(F.col(text_col), r"\n"))).alias(
                "line"
            )
        )
        .where(F.length("line") >= min_line_chars)
    )
    hashed = per_doc.select("line", portable_hash64(F.col("line")).alias("__h"))
    cand = (
        hashed.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_docs)
        .select("__h")
    )
    return (
        hashed.join(F.broadcast(cand), "__h", "left_semi")
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int,
    out_col: str = "text_clean",
    min_line_chars: int = 1,
    max_broadcast: int = BOILER_MAX_BROADCAST,
) -> DataFrame:
    """Strip corpus-level boilerplate lines (see boilerplate_lines) from
    every document: df + out_col with the offending lines removed, remaining
    lines in original order. NULL text -> NULL; a doc whose every line is
    boilerplate -> ''.

    The detected line set is collected up to max_broadcast + 1 lines. When
    it fits the cap it is shipped once per executor and the rewrite is a
    map-only Arrow UDF with O(1) set membership per line — the full corpus
    never shuffles. Over the cap, the rewrite runs without a driver
    collection: posexplode + anti-join against the detected set + ordered
    re-assembly, then an id-keyed join back, at the cost of one full-corpus
    shuffle (the re-group). Both paths give the same output."""
    bl = boilerplate_lines(df, text_col, min_docs, min_line_chars)
    rows = bl.select("line").limit(max_broadcast + 1).collect()

    if len(rows) > max_broadcast:
        lines = (
            df.where(F.col(text_col).isNotNull())
            .select(
                F.col(id_col),
                F.posexplode(F.split(F.col(text_col), r"\n")).alias(
                    "__pos", "__line"
                ),
            )
            # no broadcast hint: this set is over the cap by construction,
            # so AQE picks the join from its measured size
            .join(bl.select(F.col("line").alias("__line")), "__line", "left_anti")
        )
        rebuilt = lines.groupBy(id_col).agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias(out_col)
        )
        return df.join(rebuilt, id_col, "left").withColumn(
            out_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
                F.coalesce(F.col(out_col), F.lit(""))
            ),
        )

    blset = frozenset(r["line"] for r in rows)
    b = df.sparkSession.sparkContext.broadcast(blset)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def strip(texts: pd.Series) -> pd.Series:
        s = b.value
        return pd.Series(
            [
                None
                if not isinstance(t, str)
                else "\n".join(ln for ln in t.split("\n") if ln not in s)
                for t in texts
            ],
            dtype=object,
        )

    return df.withColumn(out_col, strip(F.col(text_col)))


# ---------------------------------------------------------------------------
# n-gram repetition metrics + corpus n-gram counts
# ---------------------------------------------------------------------------

NGRAM_REP_N = 2          # Gopher uses n=2..4 for top-frac, 5..10 for dup-frac
CORPUS_NGRAM_N = 3
CORPUS_NGRAM_K = 20


def ngram_repetition(
    df: DataFrame, id_col: str, text_col: str, n: int = NGRAM_REP_N
) -> DataFrame:
    """Gopher-style per-document n-gram repetition metrics (Rae et al. 2021
    Table A1: "fraction of characters in the most common n-gram" /
    "... in duplicate n-grams"), with a pinned deterministic formula:

      doc_chars      = length of the single-space-joined token stream
      for each distinct word n-gram g (joined by single spaces):
        chars(g)     = occurrences(g) * (length(g))
      top_ngram_frac = max_g chars(g) / doc_chars
      dup_ngram_frac = least(1, sum_{g: occ>=2} chars(g) / doc_chars)

    dup_ngram_frac counts every occurrence of a repeated n-gram
    (overlapping windows can exceed the doc, hence the cap at 1.0).
    Documents with < n tokens (or NULL text) produce no row. round(6)
    pins the floats against the SQL oracle.

    Scale shape (100 TB): one scan; the gram stream (id, gram) is the only
    full-volume exchange and is collapsed map-side by the (id, gram)
    partial aggregate BEFORE the wire — repeated grams (the thing being
    measured) compress best. The per-doc rollup then shuffles one row per
    (id, distinct gram). No joins, no windows, no Python.
    """
    # No `size(__ts) >= n` row filter: pushdown would inline the tokenize
    # HOF into the Filter and re-evaluate it per row (NOTES.md lesson) —
    # short docs instead explode an empty start array and vanish.
    toks = _toks(F.col(text_col))
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), toks.alias("__ts"))
        # separate projection: __ts is multi-referenced and non-cheap, so
        # CollapseProject keeps it materialized (tokenize runs once)
        .select(
            "id",
            F.col("__ts"),
            F.length(F.concat_ws(" ", F.col("__ts"))).alias("doc_chars"),
        )
    )
    starts = F.when(
        F.size("__ts") >= n, F.sequence(F.lit(1), F.size("__ts") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "id", "doc_chars", F.explode(starts).alias("__i"), F.col("__ts")
    ).select(
        "id",
        "doc_chars",
        F.concat_ws(" ", F.slice(F.col("__ts"), F.col("__i"), n)).alias("gram"),
    )
    counts = grams.groupBy("id", "doc_chars", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    chars = F.col("c") * F.length("gram")
    return (
        counts.groupBy("id", "doc_chars")
        .agg(
            F.sum("c").alias("n_grams"),
            F.max(chars).alias("__top_chars"),
            F.sum(F.when(F.col("c") >= 2, chars).otherwise(F.lit(0))).alias(
                "__dup_chars"
            ),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.round(
                F.col("__top_chars").cast("double") / F.col("doc_chars"), 6
            ).alias("top_ngram_frac"),
            F.round(
                F.least(
                    F.col("__dup_chars").cast("double") / F.col("doc_chars"),
                    F.lit(1.0),
                ),
                6,
            ).alias("dup_ngram_frac"),
        )
    )


def corpus_ngrams(
    df: DataFrame, text_col: str, n: int = CORPUS_NGRAM_N, k: int = CORPUS_NGRAM_K
) -> DataFrame:
    """(gram, n) — the k most frequent word n-grams corpus-wide, ties
    broken by gram ascending. This is the count-collection path for
    training an n-gram LM (the KenLM-style perplexity scorer's model
    build): run once per corpus snapshot, persist, feed the scorer.

    Scale shape: identical to top_tokens — explode is map-only, the count
    is a partial aggregate (Zipf head collapses map-side), top-k is
    TakeOrderedAndProject (per-partition heap, no global sort). For a full
    LM table (no top-k) drop the limit and write the aggregate out
    partitioned by a gram-hash prefix.
    """
    # same no-row-filter shape as ngram_repetition: short docs explode an
    # empty start array instead of a pushed-down (tokenize-duplicating) filter
    toks = _toks(F.col(text_col))
    base = df.select(toks.alias("__ts"))
    starts = F.when(
        F.size("__ts") >= n, F.sequence(F.lit(1), F.size("__ts") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(F.explode(starts).alias("__i"), F.col("__ts")).select(
        F.concat_ws(" ", F.slice(F.col("__ts"), F.col("__i"), n)).alias("gram")
    )
    counted = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    return counted.orderBy(F.col("n").desc(), F.col("gram")).limit(k)


# ---------------------------------------------------------------------------
# encoding-noise detection (mojibake / replacement chars / control chars)
# ---------------------------------------------------------------------------

# classic UTF-8-decoded-as-Latin-1 artifact prefixes: 'Ã'/'Â' lead bytes,
# 'â€' (mangled smart punctuation). Literal counts, shared with the oracle.
MOJIBAKE_LITS = ["Ã", "Â", "â€"]
REPLACEMENT_CHAR = "�"
# C0 controls except \t \n \r — identical in Java and RE2 regex
CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
ENC_MOJI_MAX = 0.01   # enc_ok thresholds (fraction of chars)
ENC_CTRL_MAX = 0.01


def _lit_count(text: Column, lit: str) -> Column:
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(lit), F.lit(""))))
        / len(lit)
    ).cast("long")


def encoding_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document encoding-noise signals for web-crawl text (the ftfy-ish
    heuristic tier): (id, n_chars, n_replacement, moji_frac, ctrl_frac,
    enc_ok).

      n_replacement = count of U+FFFD replacement chars (decoder damage)
      moji_frac     = (count of 'Ã' + 'Â' + 'â€' artifacts) / n_chars
      ctrl_frac     = C0 control chars (minus \\t\\n\\r) / n_chars
      enc_ok        = no replacement chars AND moji_frac < 0.01
                      AND ctrl_frac < 0.01

    NULL text → NULL metrics, enc_ok false. All pure codegen string ops
    (literal replace-counts + one regexp_replace) — map-only, no shuffle,
    no Python; at 100 TB this rides the same scan as the other heuristic
    features. round(6) pins floats against the SQL oracle.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    denom = F.greatest(n_chars, F.lit(1)).cast("double")
    n_repl = _lit_count(text, REPLACEMENT_CHAR)
    n_moji = sum(_lit_count(text, m) for m in MOJIBAKE_LITS)
    n_ctrl = n_chars - F.length(F.regexp_replace(text, CTRL_CLASS, ""))
    moji_frac = F.round(n_moji.cast("double") / denom, 6)
    ctrl_frac = F.round(n_ctrl.cast("double") / denom, 6)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        moji_frac.alias("moji_frac"),
        ctrl_frac.alias("ctrl_frac"),
        F.coalesce(
            (n_repl == 0)
            & (moji_frac < ENC_MOJI_MAX)
            & (ctrl_frac < ENC_CTRL_MAX),
            F.lit(False),
        ).alias("enc_ok"),
    )


# ---------------------------------------------------------------------------
# document chunking into fixed-token training sequences
# ---------------------------------------------------------------------------

CHUNK_MAX_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = CHUNK_MAX_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Split each document's whitespace-token stream into training chunks of
    at most `max_tokens` tokens with `overlap` tokens of context carried
    between consecutive chunks — the sequence-preparation step between
    quality filtering and shard packing (pack_shards sizes SHARDS from
    docs; this sizes SEQUENCES from long docs).

    Chunk starts are 1, 1+stride, ... (stride = max_tokens - overlap)
    while start <= greatest(n_tokens - overlap, 1), so every token lands
    in at least one chunk, the final chunk may be short, and a chunk is
    never pure overlap. Returns (id, chunk_id, n_tokens, chunk_text) with
    chunk_id 0-based per document. Empty/NULL docs produce no row.

    Scale shape: map-only — tokenize once, explode the start sequence,
    slice per chunk. No shuffle at all; output order is input order. The
    1→N fan-out multiplies bytes ~(1 + overlap/max_tokens); writing
    `partitionBy(shard)` downstream is where the exchange belongs.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    toks = _toks(F.col(text_col))
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), toks.alias("__ts"))
    )
    n = F.size("__ts")
    starts = F.when(
        n >= 1,
        F.sequence(
            F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(stride)
        ),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        "id", F.explode(starts).alias("__s"), F.col("__ts")
    ).select(
        F.col("id").alias(id_col),
        ((F.col("__s") - 1) / stride).cast("long").alias("chunk_id"),
        F.least(
            F.size("__ts") - F.col("__s") + 1, F.lit(max_tokens)
        ).alias("n_tokens"),
        F.concat_ws(" ", F.slice(F.col("__ts"), F.col("__s"), max_tokens)).alias(
            "chunk_text"
        ),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (data selection for LM training)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-style per-document importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): documents are
    featurized as hashed token counts over `buckets` buckets; a target
    (in-domain) unigram distribution and the raw-corpus distribution are
    estimated with add-one smoothing; each document scores the
    log-likelihood ratio

        dsir_logw = Σ_b cnt(doc, b) · ( ln p_target(b) − ln p_raw(b) )

    Select the top weights (compose with top_fraction, or gumbel-resample
    downstream) to shift the corpus toward the target domain. `target` is
    any boolean Column over df's rows marking the in-domain exemplars.

    Scale shape (100 TB): tokenize once; the (id, bucket) token stream is
    collapsed map-side by a partial aggregate BEFORE the wire — one
    full-volume shuffle at (id, bucket) grain. Both distributions derive
    from that SAME aggregate (no second corpus scan), reduce to ≤`buckets`
    rows, and join back as a broadcast. Per-bucket weights and the final
    sum round 6dp (cross-engine float parity). Documents with NULL text or
    zero tokens produce no row.

    Returns (id_col, n_toks, dsir_logw)."""
    toks = _toks(F.col(text_col))
    grams = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            target.alias("__tgt"),
            F.explode(toks).alias("__tok"),
        )
        .select(
            "id", "__tgt", (portable_hash64(F.col("__tok")) % buckets).alias("b")
        )
    )
    g = grams.groupBy("id", "__tgt", "b").agg(F.count(F.lit(1)).alias("cnt"))
    raw = g.groupBy("b").agg(F.sum("cnt").alias("r"))
    tgt = g.where(F.col("__tgt")).groupBy("b").agg(F.sum("cnt").alias("t"))
    totals = raw.agg(F.sum("r").alias("rtot")).crossJoin(
        tgt.agg(F.coalesce(F.sum("t"), F.lit(0)).alias("ttot"))
    )
    w = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                F.log((F.coalesce(F.col("t"), F.lit(0)) + 1)
                      / (F.col("ttot") + buckets))
                - F.log((F.col("r") + 1) / (F.col("rtot") + buckets)),
                6,
            ).alias("w"),
        )
    )
    return (
        g.join(F.broadcast(w), "b")
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_toks"),
            F.round(F.sum(F.col("cnt") * F.col("w")), 6).alias("dsir_logw"),
        )
        .select(F.col("id").alias(id_col), "n_toks", "dsir_logw")
    )


# ---------------------------------------------------------------------------
# crawl snapshot diff (ingest ops: what changed between two snapshots)
# ---------------------------------------------------------------------------


def crawl_diff(
    old_df: DataFrame, new_df: DataFrame, key_col: str, text_col: str
) -> DataFrame:
    """Key-wise diff of two corpus snapshots (e.g. consecutive crawls of
    the same url space): returns (key_col, status, old_md5, new_md5) with
    status ∈ added / removed / changed / unchanged. The ingest-ops
    companion to the incremental dedup ops — decides what to re-process.

    Duplicate keys within a snapshot are collapsed to their min text-md5
    (deterministic; a multi-capture url compares by content set minimum).
    NULL text hashes to NULL: a key whose text went NULL→value or
    value→NULL counts as changed.

    Scale shape: each side reduces to (key, md5) — ONE column-pruned scan
    and one partial-aggregated min per side; the full-outer join carries
    33-byte rows. Bucket both snapshots by key on write and the join is
    shuffle-free."""
    def hashed(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(F.col(key_col), F.md5(F.col(text_col)).alias(out))
            .groupBy(key_col)
            .agg(F.min(out).alias(out))
        )

    o = hashed(old_df, "old_md5").withColumn("__in_old", F.lit(True))
    n = hashed(new_df, "new_md5").withColumn("__in_new", F.lit(True))
    status = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(F.col("old_md5").eqNullSafe(F.col("new_md5")), "unchanged")
        .otherwise("changed")
    )
    return o.join(n, key_col, "full_outer").select(
        key_col, status.alias("status"), "old_md5", "new_md5"
    )


# ---------------------------------------------------------------------------
# corpus datasheet (pre-release reporting: one-scan corpus summary)
# ---------------------------------------------------------------------------


def corpus_datasheet(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """One-row corpus summary for a dataset datasheet / release report:
    doc and token totals, NULL/empty counts, token-length mean and exact
    percentiles, group (lang/source) cardinality. ONE scan, ONE partial
    aggregate — the exact-percentile terms are the only non-streaming
    aggregates (Spark's `percentile` collects per-partition digests; for
    10^12-row corpora swap in percentile_approx and accept ±ε, documented
    here rather than silently).

    Returns (n_docs, n_null_text, n_empty_text, n_groups, n_toks_total,
    mean_toks, p50_toks, p90_toks) — floats rounded 6dp."""
    toks = F.size(_toks(F.col(text_col)))
    nt = F.when(F.col(text_col).isNotNull(), toks)
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col(text_col).isNull(), 1)).alias("n_null_text"),
        F.count(F.when(F.col(text_col) == "", 1)).alias("n_empty_text"),
        F.countDistinct(F.col(group_col)).alias("n_groups"),
        F.coalesce(F.sum(nt), F.lit(0)).alias("n_toks_total"),
        F.round(F.avg(nt), 6).alias("mean_toks"),
        # nt (not the raw size) everywhere: with ANSI off size(NULL) is -1
        # (legacy), which would silently drag the percentiles down
        F.round(F.percentile(nt, F.lit(0.5)), 6).alias("p50_toks"),
        F.round(F.percentile(nt, F.lit(0.9)), 6).alias("p90_toks"),
    )


def token_histogram(df: DataFrame, text_col: str) -> DataFrame:
    """Doc-length histogram on power-of-two token buckets (corpus
    reporting / chunk-size planning): (bucket_lo, n_docs, n_toks). Exact,
    one partial aggregate; zero-token docs land in bucket_lo=0, NULL text
    is excluded."""
    n = F.size(_toks(F.col(text_col)))
    # floor(log2(n)) via the binary-repr length — float log2 is NOT exact
    # at powers of two in every engine (log(x)/log(2) can come out
    # 2.9999…96 and floor under it); length(bin(n))-1 is integer-exact in
    # both Spark and the DuckDB oracle
    lo = F.when(n <= 0, F.lit(0).cast("bigint")).otherwise(
        F.pow(
            F.lit(2.0), (F.length(F.bin(n.cast("bigint"))) - 1).cast("double")
        ).cast("bigint")
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select(n.alias("__n"), lo.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("n_toks"),
        )
    )


def latest_snapshot(
    df: DataFrame, key_col: str, order_col: str, payload_cols: list[str]
) -> DataFrame:
    """Keep each key's row from the LATEST crawl snapshot (max order_col —
    a crawl id / fetch timestamp): the standard cross-snapshot revision
    dedup when several crawls of the same url sit in one lake.

    ONE partial-aggregated groupBy of a struct max — no window, so no
    per-key sort and no full-row shuffle beyond the single exchange, and
    map-side combine collapses same-key rows before the wire (a row_number
    window would sort every partition and carry every row to the reducer).
    Ties on order_col break lexicographically on the payload struct —
    deterministic, documented. Reference ancestor: the duplicate check's
    keep-first semantics (values_duplicate.py) lifted to version order."""
    m = F.max(
        F.struct(F.col(order_col), *[F.col(c) for c in payload_cols])
    ).alias("__m")
    return df.groupBy(key_col).agg(m).select(
        key_col,
        *[F.col(f"__m.{c}").alias(c) for c in [order_col] + payload_cols],
    )


def fertility_stats(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Tokenizer-fertility profile per group (lang/source): whitespace vs
    BPE-ish pre-token counts, plus chars-per-token and bytes-per-token —
    the standard sizing signal for tokenizer/vocab decisions and for
    estimating training-token yield per language before a full tokenize
    run (multi-byte scripts show bytes_per_tok ≫ chars_per_tok).

    ONE scan, one partial aggregate on a low-cardinality key; every ratio
    is a single double division of exact integer sums (bit-portable for
    the oracle gate — no rounding applied). Zero-token groups yield NULL
    ratios rather than a division error (ANSI off, matched by NULLIF in
    the SQL twin). Reference ancestor: the rollup pattern of
    table.py:151-165; this is its corpus-statistics extension."""
    text = F.col(text_col)
    n_ws = F.size(_toks(text))
    n_bpe = F.size(
        F.filter(
            F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0),
            lambda x: x != "",
        )
    )
    d = F.col  # noqa: E731 — alias for brevity below
    return (
        df.where(text.isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            n_ws.alias("__ws"),
            n_bpe.alias("__bpe"),
            F.length(text).alias("__ch"),
            F.octet_length(text).alias("__by"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ws").alias("ws_tokens"),
            F.sum("__bpe").alias("bpe_tokens"),
            F.sum("__ch").alias("n_chars"),
            F.sum("__by").alias("n_bytes"),
        )
        .select(
            "grp",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            (d("ws_tokens").cast("double") / d("n_docs")).alias(
                "toks_per_doc"
            ),
            F.when(
                d("ws_tokens") > 0,
                d("bpe_tokens").cast("double") / d("ws_tokens"),
            ).alias("fertility"),
            F.when(
                d("bpe_tokens") > 0,
                d("n_chars").cast("double") / d("bpe_tokens"),
            ).alias("chars_per_tok"),
            F.when(
                d("bpe_tokens") > 0,
                d("n_bytes").cast("double") / d("bpe_tokens"),
            ).alias("bytes_per_tok"),
        )
    )


# ---------------------------------------------------------------------------
# domain-mixture reweighting (offline training-mix rebalancing)
# ---------------------------------------------------------------------------


MIX_MAX_UPSAMPLE = 10.0


def mix_rates(
    df: DataFrame,
    group_col: str,
    text_col: str,
    targets: dict[str, float],
    mode: str = "down",
) -> DataFrame:
    """mode='down' (default): downsample-only rates shifting the corpus TOKEN mix toward `targets`
    (group → target share; renormalized over the groups listed, so any
    positive weights work) — offline mixture rebalancing in the DoReMi /
    data-mixing tradition, solved in closed form for the downsample-only
    case:

        rate_g = (t_g / c_g) / max_h(t_h / c_h)

    where c_g is the group's current token share. The most under-represented
    group (relative to target) keeps everything (rate 1); every other group
    downsamples proportionally so the SURVIVING token mix equals the target
    mix exactly (in expectation). Groups absent from `targets` get rate 0.

    mode='balance': rate_g = t_g / c_g uncapped below MIX_MAX_UPSAMPLE —
    >1 means UPSAMPLE by repetition (LLaMA/DoReMi-style epoch factors for
    curated under-represented sources); expected total token count is
    preserved while the mix hits the target exactly.

    Scale shape: tokenize once, ONE partial-aggregated count per group over
    ONE corpus scan — the per-group token counts (≤ |groups| rows; group
    cardinality must be driver-bounded, true for lang/source mixes) are
    collected and the share/rate arithmetic runs on a LOCAL DataFrame with
    the same Spark expressions (float parity with the SQL oracle). The lazy
    formulation re-scanned the corpus once per derived aggregate (total,
    max-ratio — no CSE across DataFrame references). Returns
    (group_col, n_toks, cur_share, rate) — shares/rates rounded 6dp."""
    if mode not in ("down", "balance"):
        # validate BEFORE the eager corpus aggregate below — an argument
        # typo must not cost a full-corpus tokenize first
        raise ValueError(f"unknown mix mode: {mode}")
    tgt_sum = sum(targets.values())
    if tgt_sum <= 0:
        raise ValueError("targets must contain positive weights")
    case = None
    for k, v in targets.items():
        cond = F.col(group_col).cast("string") == str(k)
        case = F.when(cond, v) if case is None else case.when(cond, v)
    tgt = case.otherwise(F.lit(0.0))
    agg_df = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(group_col)
        .agg(F.sum(F.size(_toks(F.col(text_col)))).alias("n_toks"))
    )
    g = df.sparkSession.createDataFrame(
        agg_df.collect(), agg_df.schema
    ).withColumn("__tgt", tgt / F.lit(float(tgt_sum)))
    tot = g.groupBy().agg(F.sum("n_toks").alias("__tot"))
    shares = g.crossJoin(F.broadcast(tot)).withColumn(
        "__cur", F.col("n_toks") / F.col("__tot")
    )
    ratio = F.when(
        (F.col("__cur") > 0) & (F.col("__tgt") > 0),
        F.col("__tgt") / F.col("__cur"),
    ).otherwise(F.lit(0.0))
    shares = shares.withColumn("__ratio", ratio)
    if mode == "balance":
        # rates hit the target EXACTLY while preserving expected corpus
        # token count: rate_g = t_g/c_g, >1 for under-represented groups
        # (upsample by repetition). Capped — a vanishing group would
        # otherwise be repeated unboundedly (epochs ≫ anything useful).
        return shares.select(
            group_col,
            "n_toks",
            F.round(F.col("__cur"), 6).alias("cur_share"),
            F.round(
                F.least(F.col("__ratio"), F.lit(MIX_MAX_UPSAMPLE)), 6
            ).alias("rate"),
        )
    # mode validated at entry; only "down" reaches here
    mx = shares.groupBy().agg(F.max("__ratio").alias("__mx"))
    return (
        shares.crossJoin(F.broadcast(mx))
        .select(
            group_col,
            "n_toks",
            F.round(F.col("__cur"), 6).alias("cur_share"),
            F.when(F.col("__mx") > 0, F.round(F.col("__ratio") / F.col("__mx"), 6))
            .otherwise(F.lit(0.0))
            .alias("rate"),
        )
    )


def resample_to_mix(
    df: DataFrame,
    id_col: str,
    group_col: str,
    text_col: str,
    targets: dict[str, float],
    salt: str = "mix",
    mode: str = "down",
) -> DataFrame:
    """Apply mix_rates: keep each row iff its deterministic hash bucket
    falls under its group's rate — same portable hash-threshold contract as
    sample_stratified (reproducible across runs/engines/partitionings).
    Rows of groups absent from `targets` (or with no tokenizable text in
    the whole group) are dropped. Rate table broadcasts (≤ |groups| rows);
    the corpus side stays map-only.

    mode='balance' additionally UPSAMPLES groups with rate > 1: each row is
    emitted floor(rate) times plus once more iff its hash bucket falls
    under the fractional part (deterministic epoch factors), with a `copy`
    ordinal column appended (1..n_copies) so downstream shuffles/training
    can distinguish repeats."""
    from data_quality_spark.ops.hashing import portable_hash64

    bucket = F.pmod(
        portable_hash64(F.col(id_col).cast("string"), f"#{salt}"),
        F.lit(SAMPLE_DENOM),
    )
    if mode == "down":
        rates = mix_rates(df, group_col, text_col, targets).select(
            group_col,
            F.round(F.col("rate") * SAMPLE_DENOM, 0).cast("bigint").alias("__thr"),
        )
        return (
            df.join(F.broadcast(rates), group_col)
            .where(bucket < F.col("__thr"))
            .drop("__thr")
        )
    if mode != "balance":
        raise ValueError(f"unknown mix mode: {mode}")
    rates = mix_rates(df, group_col, text_col, targets, mode="balance").select(
        group_col,
        F.round(F.col("rate") * SAMPLE_DENOM, 0).cast("bigint").alias("__r6"),
    )
    n_copies = (
        F.floor(F.col("__r6") / F.lit(SAMPLE_DENOM)).cast("int")
        + (bucket < F.pmod(F.col("__r6"), F.lit(SAMPLE_DENOM))).cast("int")
    )
    joined = df.join(F.broadcast(rates), group_col).withColumn("__nc", n_copies)
    return (
        joined.where(F.col("__nc") > 0)
        .select(
            *[c for c in joined.columns if c not in ("__r6", "__nc")],
            F.explode(F.sequence(F.lit(1), F.col("__nc"))).alias("copy"),
        )
    )


# ---------------------------------------------------------------------------
# URL / host blocklist filtering (RefinedWeb-style URL filtering stage)
# ---------------------------------------------------------------------------

HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"


def host_of(url: Column) -> Column:
    """Lowercased registrable host of a URL (credentials and port stripped).
    One regexp_extract — Java and RE2 agree on this pattern (no backrefs)."""
    return F.lower(F.regexp_extract(url, HOST_RE, 1))


def _host_suffixes(host: Column) -> Column:
    """All dot-suffixes of a host: a.b.example.com →
    [a.b.example.com, b.example.com, example.com, com]. Bounded by label
    count (≤ ~10) — turns subdomain blocklist matching into set overlap /
    equi-join instead of a per-row LIKE scan over the blocklist."""
    labels = F.split(host, r"\.")
    return F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(F.slice(labels, i, F.size(labels)), "."),
    )


def url_blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocked_hosts,
    include_subdomains: bool = True,
) -> DataFrame:
    """RefinedWeb-style URL filtering: drop documents whose host (or any
    parent domain, with include_subdomains) is on a blocklist.

    `blocked_hosts` as a list[str] (the usual curated blocklist — fits the
    driver) compiles to a MAP-ONLY arrays_overlap against a literal array:
    no join, no shuffle, fully codegen. A DataFrame blocklist (column
    `host`) instead suffix-explodes the fact side and anti-joins — AQE
    broadcasts the blocklist; the fact table never shuffles. Returns the
    KEPT rows of df with a `host` column appended."""
    h = host_of(F.col(url_col))
    keys = _host_suffixes(h) if include_subdomains else F.array(h)
    out = df.withColumn("host", h)
    if isinstance(blocked_hosts, (list, tuple, set)):
        blocked = F.array(*[F.lit(b.lower()) for b in sorted(blocked_hosts)])
        # coalesce: a NULL url yields NULL suffix keys → NULL overlap — the
        # row must be KEPT (no host, no blocklist evidence), matching the
        # DataFrame-blocklist branch where a NULL never joins
        return out.where(
            ~F.coalesce(
                F.arrays_overlap(
                    _host_suffixes(F.col("host"))
                    if include_subdomains
                    else F.array(F.col("host")),
                    blocked,
                ),
                F.lit(False),
            )
        )
    bl = blocked_hosts.select(F.lower(F.col("host")).alias("__bh")).distinct()
    hit = (
        out.select(F.col(url_col).alias("__u"), F.explode(keys).alias("__bh"))
        .join(bl, "__bh", "left_semi")
        .select(F.col("__u"))
        .distinct()
    )
    return out.join(hit, out[url_col] == hit["__u"], "left_anti")


def py_host_of(url: str) -> str:
    """Python twin of host_of (pipeline pandas oracle parity)."""
    import re

    m = re.match(HOST_RE, url)
    return m.group(1).lower() if m else ""


# ---------------------------------------------------------------------------
# soft URL spam scoring (RefinedWeb's weighted-fragment URL filter — the
# graded companion of the hard host blocklist above)
# ---------------------------------------------------------------------------

# fragment -> integer points (per occurrence). RefinedWeb scores URLs by
# weighted word-fragment matches (subword matches intended — 'bet' hits
# 'best-bets'); the production list is curated content, not algorithm —
# pass your own. Integer points keep the arithmetic exact in both engines;
# the score is points/100 per occurrence.
URL_SPAM_FRAGMENTS_DEFAULT = {
    "casino": 100, "porn": 100, "viagra": 100, "spam": 100,
    "escort": 80, "xxx": 80, "adult": 60, "pills": 60,
    "free-download": 60, "bet": 40, "ads.": 30, "track": 20,
}
URL_SPAM_THRESHOLD = 1.0


def url_spam_score(
    df: DataFrame,
    url_col: str,
    fragments: dict[str, int] | None = None,
    threshold: float = URL_SPAM_THRESHOLD,
) -> DataFrame:
    """Soft URL spam scoring: spam_score = Σ points(frag) × occurrences of
    frag in lower(url), divided by 100; url_keep = score < threshold.
    Occurrence counting is pure string arithmetic —
    (len(u) − len(replace(u, frag, ''))) / len(frag) — so the whole scorer
    is ONE map-only whole-stage-codegen projection: no UDF, no regex, no
    shuffle, and the plan survives any scale-up trivially. The per-fragment
    integer points sum exactly in double (every intermediate is an integer
    < 2^53) and the single final /100.0 rounds identically in Spark and
    DuckDB, so the score is bit-portable for the oracle gate.

    Reference ancestor: checks/values_in_list.py (hard membership) — this
    is the graded web-scale extension (RefinedWeb §URL filtering)."""
    score = url_spam_score_col(F.col(url_col), fragments)
    return df.withColumn("spam_score", score).withColumn(
        "url_keep", score < F.lit(threshold)
    )


def url_spam_score_col(
    url: Column, fragments: dict[str, int] | None = None
) -> Column:
    """The spam-score Column itself (shared by the standalone op and the
    pipeline's url_spam rule — one definition, both call sites)."""
    frs = fragments or URL_SPAM_FRAGMENTS_DEFAULT
    u = F.lower(url)
    pts = F.lit(0).cast("double")
    for frag in sorted(frs):
        occ = (
            F.length(u) - F.length(F.replace(u, F.lit(frag), F.lit("")))
        ) / F.lit(len(frag))
        pts = pts + occ * F.lit(frs[frag])
    return pts / F.lit(100.0)


def py_url_spam_score(
    url: str, fragments: dict[str, int] | None = None
) -> float:
    """Python twin of url_spam_score_col (pipeline pandas oracle parity) —
    same integer-points arithmetic, same single final division."""
    frs = fragments or URL_SPAM_FRAGMENTS_DEFAULT
    u = url.lower()
    pts = 0
    for frag in sorted(frs):
        pts += (len(u) - len(u.replace(frag, ""))) // len(frag) * frs[frag]
    return pts / 100.0


# ---------------------------------------------------------------------------
# bad-words document gate (C4's first content filter)
# ---------------------------------------------------------------------------

# Tiny spam/adult seed list. C4's production stage uses the full "List of
# Dirty, Naughty, Obscene and Otherwise Bad Words"; the list itself is
# curated content, not algorithm — pass it in. ASCII lowercase words only:
# the match is (?i) word-boundary over [A-Za-z0-9_] word chars, identical
# in Java regex (Spark) and RE2 (DuckDB oracle); non-ASCII case folding is
# engine-divergent and deliberately out of contract.
BADWORDS_DEFAULT = ("casino", "escort", "nude", "porn", "viagra", "xxx")


def _badwords_pattern(words) -> str:
    """One compiled case-insensitive word-boundary alternation — shared
    verbatim by the Column path and the SQL oracle twin."""
    ws = sorted(set(w.lower() for w in words))
    if not ws:
        raise ValueError("badwords list is empty")
    for w in ws:
        if not w.isascii() or not all(c.isalnum() or c == "_" for c in w):
            raise ValueError(
                f"badword {w!r} outside the [A-Za-z0-9_] ASCII contract "
                "(word-boundary semantics diverge across engines otherwise)"
            )
    return r"(?i)\b(?:" + "|".join(ws) + r")\b"


def badwords_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words=BADWORDS_DEFAULT,
) -> DataFrame:
    """Per-document blocklist-word occurrences + flag — the audit/metrics
    twin of the C4 bad-words gate, which the pipeline runs as its
    `badwords_found` rule when QFConfig.badwords is set (corpora report
    what the gate WOULD drop before flipping it on). ONE regexp scan per row, map-only, pure
    codegen; a ~400-word production list compiles into the same single
    alternation. NULL-text docs produce no row (pii_counts convention)."""
    pat = _badwords_pattern(words)
    n = F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
    # stage the count as its own alias so the flag derives from it instead
    # of re-running the regex (CollapseProject keeps non-cheap
    # multi-referenced aliases; NOTES.md invariant)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), n.alias("n_badwords"))
        .withColumn("has_badwords", F.col("n_badwords") > 0)
    )


# ---------------------------------------------------------------------------
# PII audit counts (the reporting twin of the scrub stage)
# ---------------------------------------------------------------------------


def pii_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-type PII match counts per document — the audit/metrics twin of
    the scrub stage (what would be redacted, how much, of which type;
    corpora report these before release). One non-overlapping
    regexp_extract_all count per SCRUB_PATTERNS entry, evaluated on the
    RAW text independently per type (the scrub chain replaces in order;
    an audit wants per-type totals, not post-replacement leftovers).
    Map-only, pure codegen, no Python. NULL-text docs produce no row."""
    from data_quality_spark.functions.scrub import SCRUB_PATTERNS

    text = F.col(text_col)
    cols = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in SCRUB_PATTERNS
    ]
    out = df.where(text.isNotNull()).select(F.col(id_col), *cols)
    total = None
    for name, _, _ in SCRUB_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("n_pii_total", total)


# ---------------------------------------------------------------------------
# hashed linear quality classifier (fastText-style train + score-and-filter)
# ---------------------------------------------------------------------------

CLF_BUCKETS = 1024
CLF_BIAS_BUCKET = -1  # weights-table row carrying the document-prior bias
CLF_THRESHOLD = 0.5


def train_nb_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label: Column,
    buckets: int = CLF_BUCKETS,
) -> DataFrame:
    """Train a multinomial-Naive-Bayes linear classifier over hashed unigram
    counts — the model family behind fastText-style quality classifiers
    (fineweb-edu / DCLM filter stage): a supervised twin of dsir_weights.
    `label` is any boolean Column over df's rows marking the positive
    (high-quality exemplar) class.

    Returns a small weights table DataFrame(b:int, w:double) with ONE row
    per bucket 0..buckets-1 (so scoring joins are complete — no unseen-
    bucket special case) plus a bias row at b = CLF_BIAS_BUCKET carrying the
    document-count class prior. Persist it like a model artifact and feed
    classifier_score repeatedly.

        w_b  = round( ln((pos_b+1)/(ptot+B)) − ln((neg_b+1)/(ntot+B)), 6 )
        bias = round( ln((n_pos_docs+1)/(n_neg_docs+1)), 6 )

    Scale shape (100 TB): tokenize once; one full-volume shuffle at
    (id, label, bucket) grain with map-side partial agg; class token totals
    AND the doc-count prior both derive from that same aggregate. Training
    is EAGER: the (id, label, bucket) aggregate is persisted so the class
    counts, totals, and prior each reuse it instead of re-scanning the
    corpus (Catalyst does not CSE across DataFrame references — the lazy
    formulation scanned the corpus ~8×, verified in the plan audit), the
    ≤ buckets+1 weight rows are collected, the cache is released, and a
    local DataFrame is returned — exactly how a training job materializes
    a model artifact. Weights round 6dp (cross-engine float parity).
    Zero-token docs contribute to neither weights nor prior (documented:
    the prior is over tokenizable docs)."""
    toks = _toks(F.col(text_col))
    g = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            label.alias("__pos"),
            F.explode(toks).alias("__tok"),
        )
        .select(
            "id", "__pos", (portable_hash64(F.col("__tok")) % buckets).alias("b")
        )
        .groupBy("id", "__pos", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    g.count()  # materialize ONCE; every derivation below reuses the cache
    cls = g.groupBy("__pos", "b").agg(F.sum("cnt").alias("cnt"))
    pos = cls.where(F.col("__pos")).select("b", F.col("cnt").alias("p"))
    neg = cls.where(~F.col("__pos")).select("b", F.col("cnt").alias("n"))
    docs = g.select("id", "__pos").distinct()
    prior = docs.groupBy().agg(
        F.sum(F.col("__pos").cast("long")).alias("npos"),
        F.sum((~F.col("__pos")).cast("long")).alias("nneg"),
    )
    totals = (
        cls.groupBy()
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__pos"), F.col("cnt"))), F.lit(0)
            ).alias("ptot"),
            F.coalesce(
                F.sum(F.when(~F.col("__pos"), F.col("cnt"))), F.lit(0)
            ).alias("ntot"),
        )
        .crossJoin(F.broadcast(prior))
    )
    spine = (
        df.sparkSession.range(buckets).select(F.col("id").cast("int").alias("b"))
    )
    w = (
        spine.join(pos, "b", "left")
        .join(neg, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                F.log((F.coalesce(F.col("p"), F.lit(0)) + 1)
                      / (F.col("ptot") + buckets))
                - F.log((F.coalesce(F.col("n"), F.lit(0)) + 1)
                        / (F.col("ntot") + buckets)),
                6,
            ).alias("w"),
        )
    )
    bias = totals.select(
        F.lit(CLF_BIAS_BUCKET).cast("int").alias("b"),
        F.round(F.log((F.col("npos") + 1) / (F.col("nneg") + 1)), 6).alias("w"),
    )
    try:
        rows = w.unionByName(bias).collect()  # ≤ buckets+1 rows — bounded
    finally:
        g.unpersist()
    return df.sparkSession.createDataFrame(rows, "b int, w double")


def save_nb_weights(path: str, weights: DataFrame, buckets: int) -> str:
    """Persist a trained classifier weights table as parquet plus a
    `<path>.meta.json` sidecar pinning the hash geometry (buckets,
    bias_bucket) — the Bloom `_bloom_meta.json` convention. Scoring with a
    model hashed into a different bucket count produces garbage silently
    (every token lands on the wrong weight row), so loads validate the
    recorded geometry instead of trusting the caller's constant."""
    import json
    import os

    rows = weights.collect()  # ≤ buckets+1 rows by contract — bounded
    n_w = sum(1 for r in rows if r["b"] >= 0)
    if n_w != buckets:
        raise ValueError(
            f"weights table carries {n_w} bucket rows but buckets={buckets} "
            "was declared — persist the model with the geometry it was "
            "trained under"
        )
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(
            [{"b": int(r["b"]), "w": float(r["w"])} for r in rows],
            schema=pa.schema([("b", pa.int32()), ("w", pa.float64())]),
        ),
        path,
    )
    with open(path + ".meta.json", "w") as fh:
        json.dump({"buckets": buckets, "bias_bucket": CLF_BIAS_BUCKET}, fh)
    return path


def load_nb_weights(
    spark, path: str, buckets: int = CLF_BUCKETS
) -> DataFrame:
    """Inverse of save_nb_weights. The artifact's recorded bucket count
    governs: a caller expecting a different geometry fails loudly (stale
    model vs. new pipeline constant), and pre-sidecar artifacts are
    validated against the table's actual bucket-row count."""
    import json
    import os

    import pyarrow.parquet as pq

    pdf = pq.read_table(path).to_pandas()
    actual = int((pdf["b"] >= 0).sum())
    recorded = actual
    if os.path.exists(path + ".meta.json"):
        meta = json.load(open(path + ".meta.json"))
        recorded = int(meta["buckets"])
        if recorded != actual:
            raise ValueError(
                f"NB weights at {path} are inconsistent: sidecar records "
                f"buckets={recorded} but the table has {actual} bucket "
                "rows — the artifact is corrupt or partially overwritten; "
                "retrain it."
            )
        if int(meta.get("bias_bucket", CLF_BIAS_BUCKET)) != CLF_BIAS_BUCKET:
            raise ValueError(
                f"NB weights at {path} use bias_bucket="
                f"{meta['bias_bucket']}, this build uses {CLF_BIAS_BUCKET} "
                "— retrain the model or match the convention."
            )
    if buckets != recorded:
        raise ValueError(
            f"NB weights at {path} were trained with buckets={recorded}, "
            f"but scoring was requested with buckets={buckets} — hashed "
            "tokens would land on the wrong weight rows (silent garbage). "
            "Pass the recorded bucket count or retrain."
        )
    return spark.createDataFrame(
        [(int(r.b), float(r.w)) for r in pdf.itertuples(index=False)],
        "b int, w double",
    )


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    threshold: float = CLF_THRESHOLD,
    buckets: int = CLF_BUCKETS,
) -> DataFrame:
    """Score documents with a trained hashed-linear classifier (weights table
    from train_nb_classifier, or any persisted (b, w) model) and decide
    keep/drop at `threshold` — the fineweb-edu / DCLM classifier-filter
    stage.

        clf_logit = round( bias + Σ_b cnt(doc,b)·w_b / n_toks, 6 )   (mean pooling)
        clf_score = round( sigmoid(clf_logit), 6 );  clf_keep = score ≥ threshold

    Scale shape: the weights table is ≤ buckets+1 rows — broadcast by
    construction (explicit hint; it is a model artifact, size known at plan
    time, so the ADVICE concern about unbounded broadcast hints does not
    apply). One (id, bucket) shuffle with map-side combine; the corpus
    never joins anything non-broadcast. Zero-token / NULL-text docs yield
    no row (they carry no evidence; route them to the heuristic tier).

    Returns (id_col, n_toks, clf_logit, clf_score, clf_keep)."""
    toks = _toks(F.col(text_col))
    g = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.explode(toks).alias("__tok"))
        .select("id", (portable_hash64(F.col("__tok")) % buckets).alias("b"))
        .groupBy("id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bias = weights.where(F.col("b") == CLF_BIAS_BUCKET).select(
        F.col("w").alias("__bias")
    )
    # fail FAST on a model without the bias row: the crossJoin below would
    # otherwise return an EMPTY frame — a filter stage that silently drops
    # the whole corpus. The weights table is ≤ buckets+1 rows by contract,
    # so the probe is cheap.
    if not bias.take(1):
        raise ValueError(
            "weights table has no bias row "
            f"(b = {CLF_BIAS_BUCKET}); train_nb_classifier emits one — "
            "persist the model WITH it"
        )
    # weights are 6dp-rounded: scale to integers so the per-doc dot product
    # sums EXACTLY (order-independent — float accumulation order differs
    # between engines/partitionings and can flip the 6dp logit rounding).
    # LEFT join + coalesce: a model missing bucket rows contributes weight
    # 0 for those tokens instead of silently deflating n_toks (a complete
    # train_nb_classifier spine makes this a no-op).
    w6 = F.coalesce(F.round(F.col("w") * 1e6, 0).cast("bigint"), F.lit(0))
    dots = (
        g.join(F.broadcast(weights.where(F.col("b") >= 0)), "b", "left")
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_toks"),
            F.sum(F.col("cnt") * w6).alias("__dot6"),
        )
    )
    # exact 6dp logit: logit = bias + dot6/(1e6·n) is a rational of integers
    # (bias6·n + dot6) / (1e6·n) — round it HALF-AWAY-FROM-ZERO in integer
    # arithmetic. Float round() here is engine-divergent at half boundaries
    # (Spark rounds the shortest decimal repr, DuckDB the binary value),
    # and mean-pooled logits DO land exactly on x.xxxxxx5.
    scored = (
        dots.crossJoin(F.broadcast(bias))
        .select(
            F.col("id").alias(id_col),
            "n_toks",
            (
                F.round(F.col("__bias") * 1e6, 0).cast("bigint")
                * F.col("n_toks")
                + F.col("__dot6")
            ).alias("__num"),
            F.col("n_toks").alias("__den"),
        )
        .select(
            id_col,
            "n_toks",
            (
                F.when(
                    F.col("__num") >= 0,
                    F.expr("(2 * __num + __den) div (2 * __den)"),
                )
                .otherwise(-F.expr("(2 * -__num + __den) div (2 * __den)"))
                .cast("double")
                / F.lit(1e6)
            ).alias("clf_logit"),
        )
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("clf_logit"))), 6)
    return scored.withColumn("clf_score", score).withColumn(
        "clf_keep", F.col("clf_score") >= F.lit(threshold)
    )


def stage_clf_weight_pairs(pairs, buckets: int = CLF_BUCKETS) -> tuple:
    """(w6 list[buckets], bias6 int) from raw (b, w) weight rows — the ONE
    definition of the 6dp integer scaling and bias/bucket routing, shared
    by the engine (classifier_weights_local) and the pandas oracle so a
    bias-less weights table is the same loud ValueError on every path
    (missing bucket rows contribute 0)."""
    from data_quality_spark.pipeline.expected import round_half_up

    w6 = [0] * buckets
    bias6 = None
    for b, w in pairs:  # ≤ buckets+1 rows by contract
        b = int(b)
        v = int(round_half_up(float(w) * 1e6, 0))
        if b == CLF_BIAS_BUCKET:
            bias6 = v
        elif 0 <= b < buckets:
            w6[b] = v
    if bias6 is None:
        raise ValueError(
            "weights table has no bias row "
            f"(b = {CLF_BIAS_BUCKET}); train_nb_classifier emits one — "
            "persist the model WITH it"
        )
    return w6, bias6


def classifier_weights_local(
    weights: DataFrame, buckets: int = CLF_BUCKETS
) -> tuple:
    """(w6 int64 array[buckets], bias6 int) — the model table staged for
    in-row scoring. Same validation and 6dp integer scaling as
    classifier_score."""
    w6, bias6 = stage_clf_weight_pairs(
        ((r["b"], r["w"]) for r in weights.collect()), buckets
    )
    return np.asarray(w6, dtype=np.int64), bias6


def py_clf_logits(texts, wlist, bias6: int, buckets: int, cache: dict):
    """(n_toks list, clf_logit list) for an iterable of texts — the exact
    integer-rational logit of classifier_score, computed row-local. The
    md5 token->bucket contract is preserved; per-token md5 amortizes via
    the caller-owned memo dict (Zipfian web text → mostly dict hits after
    warmup; cleared at 2^21 entries). Shared by classifier_score_inrow and
    the fused pipeline model stage (functions.models)."""
    from data_quality_spark.functions.textstats import py_tokens
    from data_quality_spark.ops.hashing import py_hash64

    ns, logits = [], []
    for text in texts:
        toks = py_tokens(text) if text is not None else []
        n = len(toks)
        if n == 0:
            ns.append(0)
            logits.append(None)
            continue
        if len(cache) > (1 << 21):
            cache.clear()
        dot6 = 0
        for t in toks:
            b = cache.get(t)
            if b is None:
                b = py_hash64(t) % buckets
                cache[t] = b
            dot6 += wlist[b]
        num = bias6 * n + dot6
        q = (2 * num + n) // (2 * n) if num >= 0 else -(
            (2 * -num + n) // (2 * n)
        )
        ns.append(n)
        logits.append(q / 1e6)
    return ns, logits


def classifier_score_inrow(
    df: DataFrame,
    text_col: str,
    weights: DataFrame,
    threshold: float = CLF_THRESHOLD,
    buckets: int = CLF_BUCKETS,
) -> DataFrame:
    """IN-ROW twin of classifier_score: identical numbers, ZERO exchanges —
    df + (n_toks, clf_logit, clf_score, clf_keep) computed per row, so the
    classifier composes into a map-only pipeline (e.g. fused alongside the
    langid/perplexity Arrow stage) instead of costing an (id, bucket)
    shuffle over the corpus.

    The md5 token->bucket hash contract is preserved (NOT forked to a
    cheaper numpy hash): per-token md5 cost is amortized through a
    per-worker memo dict — web-text token frequency is Zipfian, so almost
    every token is a dict hit after warmup (bounded: cleared at 2^21
    entries). The Arrow UDF emits n_toks and the EXACT 6dp rational logit
    (integer half-away-from-zero, the classifier_score formula); sigmoid +
    threshold stay JVM-side so clf_score/clf_keep share classifier_score's
    exp/round float semantics bit for bit. Zero-token / NULL-text rows get
    n_toks=0 and NULL scores (they are rows here, unlike the corpus-stage
    variant which omits them — filter n_toks > 0 for exact output parity).
    """
    w6, bias6 = classifier_weights_local(weights, buckets)
    wlist = [int(v) for v in w6]  # plain ints: exact python accumulation
    cache: dict = {}

    @F.pandas_udf("struct<n_toks:bigint, clf_logit:double>")
    def score(texts: pd.Series) -> pd.DataFrame:
        ns, logits = py_clf_logits(texts, wlist, bias6, buckets, cache)
        return pd.DataFrame({"n_toks": ns, "clf_logit": logits})

    out = df.withColumn("__clf", score(F.col(text_col)))
    sc = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("clf_logit"))), 6)
    return (
        out.select(*df.columns, F.col("__clf.n_toks").alias("n_toks"),
                   F.col("__clf.clf_logit").alias("clf_logit"))
        .withColumn("clf_score", sc)
        .withColumn("clf_keep", F.col("clf_score") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# precision/recall curve (score-threshold calibration)
# ---------------------------------------------------------------------------


def pr_curve(
    df: DataFrame,
    label: Column,
    score: Column,
    n_thresholds: int = 21,
) -> DataFrame:
    """Precision/recall/F1 at evenly spaced score thresholds — how a
    quality-classifier operating point is picked (e.g. QFConfig's
    clf_threshold) before gating a corpus on it.

    ONE corpus scan: 2·n+1 conditional sums in a single partial-aggregated
    agg (predicted-positive and true-positive counts per threshold, plus
    the positive total); the curve itself is assembled driver-side from
    that 1-row result — nothing else leaves the executors. NULL scores
    count toward no prediction at any threshold (CASE NULL → 0, mirrored
    in the oracle); F1 uses the 2·TP/(pred+actual) identity so both
    engines compute ONE rounded division per cell, not a composition of
    rounded intermediates. An EMPTY input yields an empty curve (the SQL
    twin's CROSS JOIN produces no groups — parity over convenience)."""
    if n_thresholds < 2:
        raise ValueError(f"n_thresholds must be >= 2, got {n_thresholds}")
    spark = df.sparkSession
    n = n_thresholds
    # project the (possibly expensive) score/label expressions ONCE per
    # row; the 2n+1 conditional sums then reference plain columns instead
    # of re-embedding the expression in every CASE branch
    staged = df.select(score.alias("__s"), label.alias("__l"))
    s, lab = F.col("__s"), F.col("__l")
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i in range(n):
        t = i / (n - 1)
        aggs.append(F.sum(F.when(s >= t, 1).otherwise(0))
                    .alias(f"__pp{i}"))
        aggs.append(F.sum(F.when((s >= t) & lab, 1).otherwise(0))
                    .alias(f"__tp{i}"))
    aggs.append(F.sum(F.when(lab, 1).otherwise(0)).alias("__pos"))
    row = staged.agg(*aggs).collect()[0]
    pos = int(row["__pos"] or 0)
    rows = [] if int(row["__total"]) == 0 else [
        (i / (n - 1), int(row[f"__pp{i}"] or 0), int(row[f"__tp{i}"] or 0),
         pos) for i in range(n)
    ]
    local = spark.createDataFrame(
        rows, "threshold double, n_pred bigint, n_tp bigint, n_pos bigint",
    )
    tp, npd, npos = F.col("n_tp"), F.col("n_pred"), F.col("n_pos")
    return local.select(
        "threshold", "n_pred", "n_tp", "n_pos",
        F.when(npd > 0, F.round(tp / npd, 6)).alias("precision"),
        F.when(npos > 0, F.round(tp / npos, 6)).alias("recall"),
        F.when(npd + npos > 0, F.round(2 * tp / (npd + npos), 6))
        .alias("f1"),
    )


# ---------------------------------------------------------------------------
# exact group quantiles over integer-valued metrics (doc length, token
# count) — the distribution-reporting primitive datasheets and filter
# tuning need. approx_percentile is engine-specific (never oracle-exact);
# this is the EXACT k-th smallest, computed over the compact (group,
# distinct value) frame instead of sorting rows.
# ---------------------------------------------------------------------------

QUANTILE_PCTS_DEFAULT = (25, 50, 75, 90)


def group_quantiles(
    df: DataFrame,
    key_cols,
    value_col: str,
    pcts=QUANTILE_PCTS_DEFAULT,
) -> DataFrame:
    """Exact lower-rank quantiles per group: for each integer percent p,
    the k-th smallest value with k = (n-1)·p div 100 + 1 (the 'lower'
    interpolation — pure rank selection, no float interpolation, so the
    result is a VALUE FROM THE DATA and bit-portable across engines).
    NULL values are ignored; groups with no non-NULL values are absent.

    Scale shape: rows collapse to (key, distinct value, count) in one
    partial-aggregated groupBy FIRST — for integer metrics (lengths,
    token counts) that is ≤ ~10^6 rows per key no matter the corpus —
    then a window cumsum over that compact frame selects the target
    ranks. The sort under the window orders distinct VALUES per key,
    never corpus rows (vs the naive row_number plan whose per-key sort
    is the dataset). Returns (key..., pct, value)."""
    from pyspark.sql import Window

    if isinstance(key_cols, str):
        key_cols = [key_cols]
    pcts = sorted(int(p) for p in pcts)
    if not pcts or pcts[0] < 0 or pcts[-1] > 100:
        raise ValueError(f"group_quantiles: pcts must be in [0,100]: {pcts}")
    v = F.col(value_col)
    counts = (
        df.where(v.isNotNull())
        .groupBy(*key_cols, v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*key_cols)
    cum = counts.select(
        *key_cols,
        "__v",
        "__c",
        F.sum("__c").over(w_cum).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    # k-th smallest target per pct, integer arithmetic only
    targets = F.array(
        *[
            F.struct(
                F.lit(p).alias("pct"),
                (
                    F.expr(f"((__n - 1) * {p}) div 100") + F.lit(1)
                ).alias("k"),
            )
            for p in pcts
        ]
    )
    return (
        cum.select(*key_cols, "__v", "__c", "__cum",
                   F.explode(targets).alias("__t"))
        .where(
            (F.col("__cum") >= F.col("__t.k"))
            & (F.col("__cum") - F.col("__c") < F.col("__t.k"))
        )
        .select(*key_cols, F.col("__t.pct").alias("pct"),
                F.col("__v").alias("value"))
    )


def sql_group_quantiles(
    rows_sql: str, key_cols, value_col: str, pcts=QUANTILE_PCTS_DEFAULT
) -> str:
    """DuckDB twin of group_quantiles (same rank arithmetic)."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    keys = ", ".join(key_cols)
    pcts = sorted(int(p) for p in pcts)
    plist = ", ".join(str(p) for p in pcts)
    return f"""
WITH rows_in AS ({rows_sql}),
counts AS (
  SELECT {keys}, {value_col} AS v, count(*) AS c
  FROM rows_in WHERE {value_col} IS NOT NULL GROUP BY ALL
),
cum AS (
  SELECT {keys}, v, c,
         sum(c) OVER (PARTITION BY {keys} ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY {keys}) AS n
  FROM counts
),
t AS (
  SELECT cum.*, p.pct, ((n - 1) * p.pct) // 100 + 1 AS k
  FROM cum, unnest([{plist}]) AS p(pct)
)
SELECT {keys}, pct::INT AS pct, v AS value
FROM t WHERE cum >= k AND cum - c < k
"""


# ---------------------------------------------------------------------------
# registered-domain extraction (public-suffix rules) — the quota/dedup
# grain real crawl pipelines group by: example.co.uk and a.example.co.uk
# are ONE publisher, example.com and example.org are two. host_of gives
# the raw host; this collapses it to label-before-public-suffix.
# ---------------------------------------------------------------------------

# minimal multi-label public-suffix set for tests/fixtures — production
# passes the full publicsuffix.org list (it is curated content, ~9k
# entries, comfortably a literal array / tiny broadcast).
PSL_MULTI_DEFAULT = (
    "co.uk", "org.uk", "ac.uk", "com.au", "net.au", "co.jp", "com.br",
    "com.cn", "co.in",
)


def registered_domain(host: Column, psl_multi=PSL_MULTI_DEFAULT) -> Column:
    """Registrable domain of a lowercase host, entirely in codegen string
    arithmetic (no UDF, no join): the longest dot-suffix present in the
    multi-label public-suffix set wins (suffix list is longest-first, so
    the FIRST match is the longest); otherwise the default PSL '*' rule
    applies — the public suffix is the bare last label. The registrable
    domain is the label immediately left of the public suffix plus the
    suffix. A host that IS a public suffix (or a single bare label) has
    no registrable domain → NULL. NULL/'' host → NULL."""
    suffixes = _host_suffixes(host)
    psl = F.array(*[F.lit(s.lower()) for s in sorted(set(psl_multi))])
    matches = F.filter(suffixes, lambda s: F.array_contains(psl, s))
    # suffixes run longest→shortest, so element 1 is the longest match;
    # the bare-TLD default rule is the 1-label suffix (last element)
    pub = F.coalesce(
        F.try_element_at(matches, F.lit(1)),
        F.try_element_at(suffixes, F.size(suffixes)),
    )
    prefix = F.substring(
        host, F.lit(1), F.length(host) - F.length(pub) - F.lit(1)
    )
    label = F.regexp_extract(prefix, r"([^.]+)$", 1)
    return F.when(
        host.isNull() | (host == "") | (host == pub) | (label == ""),
        F.lit(None).cast("string"),
    ).otherwise(F.concat(label, F.lit("."), pub))


def sql_registered_domain(host_expr: str, psl_multi=PSL_MULTI_DEFAULT) -> str:
    """DuckDB twin of registered_domain (same suffix walk via scalar
    list functions — lateral generate_series is not DuckDB-bindable)."""
    psl = ", ".join(f"'{s.lower()}'" for s in sorted(set(psl_multi)))
    h = host_expr
    labels = f"string_split({h}, '.')"
    sufs = (f"list_transform(range(1, len({labels}) + 1), "
            f"i -> array_to_string({labels}[i:], '.'))")
    pub = (f"coalesce(list_filter({sufs}, "
           f"s -> list_contains([{psl}], s))[1], {labels}[-1])")
    reg_label = (f"regexp_extract(substring({h}, 1, "
                 f"length({h}) - length(pub) - 1), '([^.]+)$', 1)")
    return f"""(
      SELECT CASE
        WHEN {h} IS NULL OR {h} = '' OR {h} = pub OR {reg_label} = ''
        THEN NULL
        ELSE {reg_label} || '.' || pub END
      FROM (SELECT {pub} AS pub)
    )"""


# ---------------------------------------------------------------------------
# readability scoring (Flesch reading ease, integer milli-units)
# ---------------------------------------------------------------------------

READ_SENT_RE = r"[.!?]+"            # sentence-terminator runs
READ_SYL_RE = r"[AEIOUYaeiouy]+"    # vowel-group syllable proxy
# Flesch reading-ease bands (milli-units): score ≥ band → label
READ_BANDS = (
    (90_000, "very_easy"),
    (70_000, "easy"),
    (50_000, "standard"),
    (30_000, "difficult"),
)


def readability(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch reading-ease per document, exact integer milli-units.

    The classic readability family (Flesch/Kincaid) is a standard web-text
    quality feature next to Gopher's ratios: machine-generated keyword
    stuffing scores absurdly low, boilerplate listings absurdly high, and
    pretraining curricula bucket documents by band. Counts are cheap
    proxies computed engine-portably:

      words     = whitespace tokens (the shared \\s+ contract)
      sentences = occurrences of [.!?]+ runs (min 1)
      syllables = vowel-group runs [AEIOUYaeiouy]+ (the standard
                  dictionary-free proxy; min clamp not needed — a zero
                  numerator is fine)

    Flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    rendered in integer milli-units with floor division:

      flesch_milli = 206835 − (1015·words) div max(sentences,1)
                            − (84600·syllables) div max(words,1)

    Every intermediate is a bigint (≤ 10^3 · words, no overflow until
    ~10^15-token docs) and `div` floors identically in Spark and DuckDB —
    bit-portable, no float rounding contract needed. The whole operator
    is ONE map-only whole-stage-codegen projection: two regex counts + a
    token count per row, no UDF, no shuffle — survives any scale-up.

    Returns (id, n_words, n_sents, n_syll, flesch_milli, flesch double,
    read_band string).
    """
    t = F.col(text_col)
    out = df.select(
        F.col(id_col),
        F.size(_toks(t)).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all(t, F.lit(READ_SENT_RE), F.lit(0)))
        .cast("bigint").alias("n_sents"),
        F.size(F.regexp_extract_all(t, F.lit(READ_SYL_RE), F.lit(0)))
        .cast("bigint").alias("n_syll"),
    )
    fm = F.expr(
        "206835 - (1015 * n_words) div greatest(n_sents, 1L)"
        " - (84600 * n_syll) div greatest(n_words, 1L)"
    ).cast("bigint")
    band = None
    for thr, label in READ_BANDS:
        c = F.col("flesch_milli") >= F.lit(thr)
        band = F.when(c, label) if band is None else band.when(c, label)
    band = band.otherwise("very_difficult")
    return (
        out.withColumn("flesch_milli", fm)
        .withColumn("flesch", F.col("flesch_milli") / F.lit(1000.0))
        .withColumn("read_band", band)
    )


def sql_readability(docs_sql: str, id_col: str = "doc_id") -> str:
    """DuckDB twin of readability(): same token/sentence/syllable counts
    (RE2-safe character classes), same integer milli-unit floor
    arithmetic, same band thresholds."""
    bands = " ".join(
        f"WHEN flesch_milli >= {thr} THEN '{label}'"
        for thr, label in READ_BANDS
    )
    return f"""
WITH d AS ({docs_sql}),
c AS (
  SELECT {id_col},
         len(list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> ''))::BIGINT AS n_words,
         len(regexp_extract_all(text, '{READ_SENT_RE}'))::BIGINT AS n_sents,
         len(regexp_extract_all(text, '{READ_SYL_RE}'))::BIGINT AS n_syll
  FROM d),
s AS (
  SELECT *, (206835 - (1015 * n_words) // greatest(n_sents, 1)
                    - (84600 * n_syll) // greatest(n_words, 1))::BIGINT
            AS flesch_milli
  FROM c)
SELECT *, flesch_milli / 1000.0 AS flesch,
       CASE {bands} ELSE 'very_difficult' END AS read_band
FROM s
"""


def py_readability_milli(text: str) -> int:
    """Python twin of the milli-unit Flesch recurrence (unit tests)."""
    import re

    n_words = len([x for x in re.split(r"\s+", text) if x != ""])
    n_sents = len(re.findall(READ_SENT_RE, text))
    n_syll = len(re.findall(READ_SYL_RE, text))
    return (
        206835
        - (1015 * n_words) // max(n_sents, 1)
        - (84600 * n_syll) // max(n_words, 1)
    )


# ---------------------------------------------------------------------------
# deterministic weighted sampling (priority sampling, Duffield 2007)
# ---------------------------------------------------------------------------

PRIO_SCALE = 10**6
PRIO_MOD = 2**31  # hash folded to 31 bits so h·PRIO_SCALE fits bigint


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weight-proportional sample of k rows (priority
    sampling): keep the k rows with the SMALLEST priority

        prio = (h · PRIO_SCALE) div w,   h = hash64(id||'#'||salt) mod 2³¹

    — the integer rendering of u/w, i.e. the top-k by w/u of Duffield's
    priority sampling (each row's inclusion probability ∝ its weight for
    w ≪ Σw; the 1e-6 quantization from PRIO_SCALE is documented slack).
    Training-data use: sample documents proportional to token count or
    quality weight for eval slices / curriculum probes, reproducibly.

    Same determinism contract as sample_stratified: the priority is a
    pure function of the row id — stable across runs, partitionings, and
    engines (md5-portable, oracle-reproducible), and different salts give
    independent samples. Weights must be non-NULL integers ≥ 1: w = 0
    would floor-divide to NULL in Spark but ERROR in DuckDB, and a NULL
    weight gives a NULL priority that Spark sorts first and DuckDB last
    (engine-divergent both), so both are validated eagerly (one tiny agg)
    instead.

    Plan shape: map-only priority projection + TakeOrderedAndProject on
    (prio, id) — per-partition top-k heaps merged on the driver, never a
    global sort; k rows is the only thing that ever leaves the executors.

    Returns the sampled rows with their prio_units (ascending = highest
    priority first in the w/u sense).
    """
    from data_quality_spark.ops.hashing import portable_hash64

    # F.min ignores NULLs, so NULL weights are counted separately
    wrow = df.agg(
        F.min(F.col(weight_col)).alias("mn"),
        F.count_if(F.col(weight_col).isNull()).alias("n_null"),
    ).first()
    if wrow["n_null"]:
        raise ValueError(
            f"weighted_sample(): {wrow['n_null']} row(s) have a NULL weight;"
            " fill or filter them first"
        )
    if wrow["mn"] is not None and wrow["mn"] < 1:
        raise ValueError(
            f"weighted_sample(): weights must be ≥ 1 (got min={wrow['mn']});"
            " shift or clamp zero-weight rows out first"
        )
    h = F.pmod(
        portable_hash64(F.col(id_col).cast("string"), f"#{salt}"),
        F.lit(PRIO_MOD),
    )
    prio = F.expr(
        f"(__h * {PRIO_SCALE}) div __w"
    )
    return (
        df.withColumn("__h", h)
        .withColumn("__w", F.col(weight_col).cast("bigint"))
        .withColumn("prio_units", prio.cast("bigint"))
        .drop("__h", "__w")
        .orderBy("prio_units", id_col)
        .limit(k)
    )


def sql_weighted_sample(
    rows_sql: str,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> str:
    """DuckDB twin of weighted_sample (same hash, fold, and floor)."""
    from data_quality_spark.ops.hashing import sql_hash64

    h = sql_hash64(f"({id_col}::VARCHAR || '#{salt}')")
    return f"""
WITH d AS ({rows_sql}),
p AS (
  SELECT *, ((({h}) % {PRIO_MOD}) * {PRIO_SCALE})
            // ({weight_col}::BIGINT) AS prio_units
  FROM d)
SELECT * FROM p ORDER BY prio_units, {id_col} LIMIT {k}
"""


# ---------------------------------------------------------------------------
# n-gram novelty (curriculum/contribution scoring) + Heaps-law vocab growth
# ---------------------------------------------------------------------------

NOVELTY_N = 3


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = NOVELTY_N
) -> DataFrame:
    """Per-document n-gram novelty: of the doc's DISTINCT word n-grams,
    what fraction first appears (by minimum doc id) in THIS doc?

    The marginal-contribution signal data-curation loops use: near-zero
    novelty = the doc is recombined boilerplate (droppable even when no
    single span is a verbatim duplicate); ordering a curriculum by
    novelty front-loads coverage. Complements dedup (which needs a shared
    span) and SemDeDup (which needs embedding proximity).

    Plan shape: explode n-grams map-side → distinct (doc, gram-hash) →
    per-gram min(doc_id) agg → hash-join back → per-doc count agg. Every
    exchanged row is (bigint, bigint) — gram text never shuffles (the
    shared 60-bit portable md5). Two shuffles, both on high-cardinality
    keys; partial aggregation collapses the Zipf head map-side.

    Ownership is min(doc_id) — ids must be numeric/orderable; novelty is
    the exact double division of two bigints (bit-portable). Docs with
    fewer than n tokens return n_grams = 0, novelty NULL.
    """
    from data_quality_spark.ops.hashing import portable_hash64

    toks = _toks(F.col(text_col))
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__ts"))
    starts = F.when(
        F.size("__ts") >= n, F.sequence(F.lit(1), F.size("__ts") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        base.select(F.col("__id"), F.explode(starts).alias("__i"),
                    F.col("__ts"))
        .select(
            "__id",
            portable_hash64(
                F.concat_ws(" ", F.slice(F.col("__ts"), F.col("__i"), n))
            ).alias("__gh"),
        )
        .distinct()
    )
    first = grams.groupBy("__gh").agg(F.min("__id").alias("__first"))
    per_doc = (
        grams.join(first, "__gh")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__first") == F.col("__id")).cast("bigint"))
            .alias("n_novel"),
        )
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            (F.col("n_novel") / F.nullif(F.col("n_grams"), F.lit(0)))
            .alias("novelty"),
        )
    )


def sql_ngram_novelty(
    docs_sql: str, id_col: str = "doc_id", n: int = NOVELTY_N
) -> str:
    """DuckDB twin of ngram_novelty (same hash, same min-id ownership)."""
    from data_quality_spark.ops.hashing import sql_hash64

    gh = sql_hash64("gram")
    return f"""
WITH d AS ({docs_sql}),
t AS (SELECT {id_col} AS id,
             list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> '') AS ts
      FROM d),
grams AS (
  SELECT DISTINCT id,
         {gh.replace('gram', f"array_to_string(ts[i:i+{n - 1}], ' ')")} AS gh
  FROM t, unnest(range(1, greatest(len(ts) - {n - 1}, 0) + 1)) AS u(i)),
first AS (SELECT gh, min(id) AS fid FROM grams GROUP BY 1),
pd AS (
  SELECT g.id, count(*)::BIGINT AS n_grams,
         sum(CASE WHEN f.fid = g.id THEN 1 ELSE 0 END)::BIGINT AS n_novel
  FROM grams g JOIN first f ON f.gh = g.gh GROUP BY 1)
SELECT d.{id_col}, coalesce(pd.n_grams, 0) AS n_grams,
       coalesce(pd.n_novel, 0) AS n_novel,
       coalesce(pd.n_novel, 0) / nullif(coalesce(pd.n_grams, 0), 0)::DOUBLE
         AS novelty
FROM d LEFT JOIN pd ON pd.id = d.{id_col}
"""


VOCAB_BUCKETS = 16


def vocab_growth(
    df: DataFrame,
    order_col: str,
    text_col: str,
    buckets: int = VOCAB_BUCKETS,
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct vocabulary
    vs cumulative token count along a corpus order (crawl time / doc id).

    The release-notes diagnostic for corpus health: vocab_cum should
    track K·tokens_cum^β (β ≈ 0.5–0.7 for natural text); a flattening
    curve means the crawl is re-reading itself, a superlinear one means
    encoding noise is minting fake types.

    Order is bucketed by VALUE RANGE over [min, max] of order_col —
    bucket = ((oc − mn) · B) div (mx − mn + 1), exact integer arithmetic
    from one tiny 2-scalar agg — so there is NO global sort: tokens
    explode map-side, each token type's FIRST bucket is a min-agg on the
    60-bit portable hash, per-bucket news/token-counts aggregate on ≤ B
    keys, and the cumulative sums are a window over B rows (B ≈ 16).
    Every exchanged row after the explode is (bigint, bigint).

    Returns (bucket, n_docs, n_tokens, tokens_cum, vocab_new, vocab_cum).
    Empty input returns an empty frame.
    """
    from pyspark.sql import Window

    from data_quality_spark.ops.hashing import portable_hash64

    mrow = df.agg(
        F.min(F.col(order_col).cast("bigint")).alias("mn"),
        F.max(F.col(order_col).cast("bigint")).alias("mx"),
    ).first()
    mn, mx = mrow["mn"], mrow["mx"]
    if mn is None:
        return df.sparkSession.createDataFrame(
            [],
            "bucket bigint, n_docs bigint, n_tokens bigint, "
            "tokens_cum bigint, vocab_new bigint, vocab_cum bigint",
        )
    span = mx - mn + 1
    b = F.expr(
        f"((cast({order_col} as bigint) - {mn}) * {buckets}) div {span}"
    ).cast("bigint")
    base = df.select(b.alias("__b"), _toks(F.col(text_col)).alias("__ts"))
    docs = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size("__ts")), F.lit(0)).cast("bigint")
        .alias("n_tokens"),
    )
    toks = base.select(
        "__b", F.explode("__ts").alias("__t")
    ).select("__b", portable_hash64(F.col("__t")).alias("__th"))
    news = (
        toks.groupBy("__th").agg(F.min("__b").alias("__fb"))
        .groupBy(F.col("__fb").alias("__b"))
        .agg(F.count(F.lit(1)).alias("vocab_new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs.join(news, "__b", "left")
        .select(
            F.col("__b").alias("bucket"),
            "n_docs",
            "n_tokens",
            F.coalesce("vocab_new", F.lit(0)).cast("bigint")
            .alias("vocab_new"),
        )
        .withColumn("tokens_cum", F.sum("n_tokens").over(w).cast("bigint"))
        .withColumn("vocab_cum", F.sum("vocab_new").over(w).cast("bigint"))
        .select("bucket", "n_docs", "n_tokens", "tokens_cum",
                "vocab_new", "vocab_cum")
    )


def sql_vocab_growth(
    docs_sql: str, order_col: str = "doc_id", buckets: int = VOCAB_BUCKETS
) -> str:
    """DuckDB twin of vocab_growth (same range bucketing, hash, cumsum)."""
    from data_quality_spark.ops.hashing import sql_hash64

    th = sql_hash64("tok")
    return f"""
WITH d AS ({docs_sql}),
mm AS (SELECT min({order_col}::BIGINT) AS mn, max({order_col}::BIGINT) AS mx
       FROM d),
base AS (
  SELECT (({order_col}::BIGINT - mm.mn) * {buckets})
           // (mm.mx - mm.mn + 1) AS b,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ts
  FROM d, mm),
docs AS (SELECT b, count(*)::BIGINT AS n_docs,
                coalesce(sum(len(ts)), 0)::BIGINT AS n_tokens
         FROM base GROUP BY 1),
toks AS (SELECT b, {th.replace('tok', 'u.tok')} AS th
         FROM base, unnest(ts) AS u(tok)),
news AS (SELECT fb AS b, count(*)::BIGINT AS vocab_new
         FROM (SELECT th, min(b) AS fb FROM toks GROUP BY 1) GROUP BY 1)
SELECT docs.b AS bucket, docs.n_docs, docs.n_tokens,
       sum(docs.n_tokens) OVER (ORDER BY docs.b)::BIGINT AS tokens_cum,
       coalesce(news.vocab_new, 0)::BIGINT AS vocab_new,
       sum(coalesce(news.vocab_new, 0)) OVER (ORDER BY docs.b)::BIGINT
         AS vocab_cum
FROM docs LEFT JOIN news ON news.b = docs.b
"""


# ---------------------------------------------------------------------------
# host-level keep-rate telemetry → blocklist induction
# ---------------------------------------------------------------------------

HOST_BLOCK_MIN_DOCS = 10      # evidence floor before a host can be blocked
HOST_BLOCK_MAX_KEEP = 0.5     # keep_rate ≤ this (with evidence) → blocked


def host_keep_stats(
    df: DataFrame,
    host_col: str,
    keep_col: str,
    min_docs: int = HOST_BLOCK_MIN_DOCS,
    max_keep_rate: float = HOST_BLOCK_MAX_KEEP,
) -> DataFrame:
    """Per-host keep/drop aggregation over an annotated pages frame, and
    the blocklist it induces: hosts with ≥ min_docs observations whose
    keep_rate ≤ max_keep_rate get blocked = true.

    This is the crawl feedback loop every production filter runs (CCNet /
    RefinedWeb): per-document verdicts are expensive model+rule passes, so
    hosts that consistently fail get promoted to a cheap URL-level
    blocklist (url_blocklist_filter) that drops them BEFORE fetch/extract
    next crawl. The evidence floor keeps one-page hosts from flapping.

    One (host, two-bigint) aggregate — partial map-side combine, tiny
    exchange; keep_rate is the exact double division of two bigints, and
    the blocked predicate compares that exact double (bit-portable).
    Returns (host, n_docs, n_keep, keep_rate, blocked).
    """
    agg = df.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(keep_col).cast("bigint")).alias("n_keep"),
    )
    rate = F.col("n_keep") / F.col("n_docs")
    return agg.select(
        "host",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_keep").cast("bigint").alias("n_keep"),
        rate.alias("keep_rate"),
        ((F.col("n_docs") >= F.lit(min_docs))
         & (rate <= F.lit(float(max_keep_rate)))).alias("blocked"),
    )


def sql_host_keep_stats(
    rows_sql: str,
    min_docs: int = HOST_BLOCK_MIN_DOCS,
    max_keep_rate: float = HOST_BLOCK_MAX_KEEP,
) -> str:
    """DuckDB twin of host_keep_stats; rows_sql yields (host, keep)."""
    return f"""
WITH r AS ({rows_sql}),
a AS (SELECT host, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep
      FROM r GROUP BY 1)
SELECT host, n_docs, n_keep,
       n_keep / n_docs::DOUBLE AS keep_rate,
       n_docs >= {min_docs}
         AND (n_keep / n_docs::DOUBLE) <= {float(max_keep_rate)} AS blocked
FROM a
"""
