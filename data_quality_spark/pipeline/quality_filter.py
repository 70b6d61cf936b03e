"""The web-text quality-filter pipeline (north_star): language-ID +
perplexity + Gopher/C4 heuristics + PII scrub over Common-Crawl-style pages,
as declarative partition-parallel DataFrame stages.

Stage plan (ONE annotated projection pass + one metrics agg, mirroring the
engine's replacement of the reference's per-check scans, check.py:84-126):

  read pages → extract text (native JVM regex chain)
             → heuristic features (native Columns, whole-stage codegen)
             → langid + perplexity (Arrow pandas UDFs, model per executor)
             → rules (RuleEngine: fired array, keep flag)
             → scrub (native regexp_replace chain)
             → outputs: kept table, per-rule × per-partition metrics
               (lineage)

Scale design:
  * no Python in the row path except the two model UDFs (Arrow-batched)
  * per-call plan building is driver-side py4j traffic (each F.* call is
    a gateway round trip — thousands per call, paid before Spark runs
    anything), so the stage chain's Column trees are built once per JVM
    (colmemo) and kept-row counts ride the kept write as an Observation
  * dup-url window partitions by url (high cardinality — no host skew)
  * AQE + adaptive skew-join on (session.py); salted host aggregation in
    metrics via host hash bucket
  * checkpoint/resume: input split into deterministic url-hash buckets;
    each bucket's output is written independently + recorded in a manifest;
    restart skips completed buckets (snapshot-checkpoint emulation of the
    Iceberg resume the north_star names — no Iceberg jar offline)
"""

from __future__ import annotations

import copy
import json
from dataclasses import asdict, dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_quality_spark.colmemo import memo
from data_quality_spark.functions import models, scrub, textstats
from data_quality_spark.pipeline import extract, fsio
from data_quality_spark.rules.core import Rule, RuleEngine, is_empty, not_empty


@dataclass(frozen=True)
class QFConfig:
    """Thresholds shared verbatim by engine and oracle."""

    min_words: int = 10
    max_words: int = 2000
    min_mean_word_len: float = 1.5
    max_mean_word_len: float = 14.0
    max_symbol_ratio: float = 0.1
    max_repeated_line_fraction: float = 0.30
    min_stopword_density: float = 0.10
    max_perplexity: float = 26.0
    drop_lang_mismatch: bool = True
    # CCNet-style perplexity terciles: head (cleanest) / middle / tail;
    # annotation-only — downstream training picks buckets, the filter
    # doesn't drop on them
    ppl_head: float = 12.0
    ppl_tail: float = 26.0
    # optional fastText-style confidence gate: margin below this fires a
    # WARNING rule (None = off, keeping the default rule set stable)
    min_lang_margin: float | None = None
    # raw `text` is only the extraction fallback input; once text_extracted
    # is coalesced it is dead weight in every downstream row buffer
    # (~kB/row × every projection's row materialization). Dropped by
    # default; set True to carry it through to the annotated output.
    keep_source_text: bool = False
    # RefinedWeb-style URL filtering: drop rows whose host (or any parent
    # domain) is on this list. None = stage off (default rule set stable).
    # Map-only arrays_overlap against a literal array — no join, no model
    # or extraction cost spent on rows it fires for.
    blocked_hosts: tuple[str, ...] | None = None
    # RefinedWeb-style SOFT url spam scoring (graded companion of the hard
    # blocklist above): weighted fragment occurrences; rows scoring >=
    # spam_threshold fire a FAIL rule. Tuple of (fragment, points) pairs
    # (dataclass/asdict-friendly); None = stage off (default rule set
    # stable). Pure string-length arithmetic — map-only codegen, no regex.
    spam_fragments: tuple[tuple[str, int], ...] | None = None
    spam_threshold: float = 1.0
    # C4-style bad-words content gate: drop pages whose extracted text
    # contains any listed word (word-boundary, case-insensitive — the
    # textops.badwords_* ASCII-word contract). None = stage off (default
    # rule set stable). Map-only rlike of ONE compiled alternation.
    badwords: tuple[str, ...] | None = None
    # fineweb-edu / DCLM-style classifier gate: path of a persisted (b, w)
    # weights parquet (train_nb_classifier artifact). None = stage off.
    # Scoring FUSES into the langid/perplexity Arrow stage (zero extra
    # crossings, map-only — the corpus-stage classifier_score shuffle is
    # not paid); rows with clf_score < clf_threshold fire clf_low_quality.
    clf_weights_path: str | None = None
    clf_threshold: float = 0.5
    # CCNet/RefinedWeb-style crawl-rank prior: path of a persisted
    # ops.graph.host_rank artifact (host, rank_units, rank). Rows whose
    # url host appears with rank < min_host_rank fire a FAIL rule; hosts
    # ABSENT from the table are kept (no evidence, no verdict — same
    # convention as the classifier's NULL score). Broadcast join on the
    # host key — the pages frame never shuffles for this. None = off.
    host_rank_path: str | None = None
    min_host_rank: float = 0.0
    # robots-meta gate: drop pages carrying <meta name="robots"
    # content="...noindex..."> (either attribute order) — a page that asks
    # not to be indexed should not enter a training corpus either. The
    # detector runs on the raw html BEFORE the payload is dropped
    # (annotation column `noindex_found`); one map-only rlike. Off by
    # default (default rule set stable).
    drop_noindex: bool = False


DEFAULT_CONFIG = QFConfig()


def quality_rules(
    cfg: QFConfig = DEFAULT_CONFIG, pii_col: str | None = None
) -> list[Rule]:
    """The rule set, expressed over the feature/score columns. Ancestry:
    each is a Custom/BetweenValues/ValuesInList/Duplicate check shape
    (SURVEY.md §2.3 mapping table).

    pii_col: name of a precomputed native_pii_found column — the pipeline
    passes 'pii_found' so the PII detector evaluates ONCE and is shared
    with the scrub gate (standalone use computes it inline).

    The rule Columns are built once per JVM per (cfg, pii_col) (colmemo);
    every call returns fresh Rule copies, so a caller that reassigns a
    rule's fields never reaches the memo or a later call."""
    return [
        copy.copy(r)
        for r in memo(("qf.quality_rules", cfg, pii_col),
                      lambda: _build_quality_rules(cfg, pii_col))
    ]


def _build_quality_rules(cfg: QFConfig, pii_col: str | None) -> list[Rule]:
    fired = lambda c: F.coalesce(c, F.lit(False))  # noqa: E731
    pii_viol = (
        fired(F.col(pii_col))
        if pii_col is not None
        else scrub.native_pii_found(F.col("text_extracted"))
    )
    R = [
        Rule("text_not_empty", "extracted text is null or empty",
             is_empty("text_extracted")),
        Rule("word_count",
             f"word count outside [{cfg.min_words}, {cfg.max_words}]",
             fired((F.col("f_n_words") < cfg.min_words)
                   | (F.col("f_n_words") > cfg.max_words))),
        Rule("mean_word_len",
             "mean word length outside bounds",
             fired((F.col("f_mean_word_len") < cfg.min_mean_word_len)
                   | (F.col("f_mean_word_len") > cfg.max_mean_word_len))),
        Rule("symbol_ratio",
             f"symbol-to-word ratio > {cfg.max_symbol_ratio}",
             fired(F.col("f_symbol_ratio") > cfg.max_symbol_ratio)),
        Rule("repeated_lines",
             f"repeated-line fraction > {cfg.max_repeated_line_fraction}",
             fired(F.col("f_repeated_line_fraction")
                   > cfg.max_repeated_line_fraction)),
        Rule("stopword_density",
             f"stopword density < {cfg.min_stopword_density}",
             fired(F.col("f_stopword_density") < cfg.min_stopword_density)),
        Rule("perplexity",
             f"char-ngram perplexity > {cfg.max_perplexity}",
             fired(F.col("ppl") > cfg.max_perplexity)),
        Rule("lang_mismatch",
             "declared lang != predicted lang",
             fired(F.col("lang_pred") != F.col("lang")),
             severity="fail" if cfg.drop_lang_mismatch else "warning"),
        # PII: WARNING — the row is kept, the text is scrubbed
        Rule("pii_found", "PII detected (text scrubbed)",
             pii_viol,
             severity="warning"),
    ]
    if cfg.min_lang_margin is not None:
        R.append(
            Rule("lang_low_confidence",
                 f"language-ID margin < {cfg.min_lang_margin}",
                 fired(F.col("lang_margin") < cfg.min_lang_margin),
                 severity="warning"))
    R += [
        # duplicate url: all members of the dup group flagged (reference
        # values_duplicate.py row semantics). The dup-key set is computed on
        # the RAW input in annotate_pages (column-pruned url-only scan,
        # before the expensive stages) and lands here as __aux_dup_url —
        # a prepare on the annotated frame would re-evaluate the whole
        # extract/feature/UDF pipeline a second time for the key scan.
        Rule("duplicate_url", "duplicated url",
             not_empty("url") & F.coalesce(F.col("__aux_dup_url"), F.lit(False))),
    ]
    if cfg.blocked_hosts:
        from data_quality_spark.ops.textops import _host_suffixes, host_of

        blocked = F.array(
            *[F.lit(b.lower()) for b in sorted(cfg.blocked_hosts)]
        )
        R.append(
            Rule("host_blocklisted",
                 "url host or parent domain is blocklisted",
                 not_empty("url") & F.coalesce(
                     F.arrays_overlap(
                         _host_suffixes(host_of(F.col("url"))), blocked
                     ),
                     F.lit(False))))
    if cfg.spam_fragments:
        from data_quality_spark.ops.textops import url_spam_score_col

        R.append(
            Rule("url_spam",
                 f"url spam score >= {cfg.spam_threshold}",
                 not_empty("url") & fired(
                     url_spam_score_col(F.col("url"), dict(cfg.spam_fragments))
                     >= F.lit(cfg.spam_threshold))))
    if cfg.host_rank_path:
        # reads the host_rank column with_host_rank joined in (annotate_pages
        # adds it whenever the path is configured); NULL rank (host not in
        # the artifact) never fires
        R.append(
            Rule("host_low_rank",
                 f"crawl host rank < {cfg.min_host_rank}",
                 not_empty("url") & fired(
                     F.col("host_rank") < F.lit(cfg.min_host_rank))))
    if cfg.badwords:
        from data_quality_spark.ops.textops import _badwords_pattern

        R.append(
            Rule("badwords_found",
                 "text contains a blocklisted word",
                 fired(F.col("text_extracted").rlike(
                     _badwords_pattern(cfg.badwords)))))
    if cfg.clf_weights_path:
        # zero-token docs have NULL clf_score — fired() coalesces to False
        # (no evidence, no verdict; text_not_empty covers the empty case)
        R.append(
            Rule("clf_low_quality",
                 f"classifier quality score < {cfg.clf_threshold}",
                 fired(F.col("clf_score") < cfg.clf_threshold)))
    if cfg.drop_noindex:
        # reads the noindex_found column annotate_pages computes from the
        # raw html BEFORE the payload drop (rules run after it)
        R.append(
            Rule("meta_noindex",
                 "page carries a robots noindex directive",
                 fired(F.col("noindex_found"))))
    # precondition: content rules only apply when text is non-empty
    content = {"word_count", "mean_word_len", "symbol_ratio", "repeated_lines",
               "stopword_density", "perplexity", "lang_mismatch",
               "lang_low_confidence", "badwords_found", "clf_low_quality"}
    for r in R:
        if r.rule_id in content:
            r.violation = (~is_empty("text_extracted")) & r.violation
        r.flag_col()  # built here once; the copies quality_rules hands out share it
    return R


def with_model_scores(df: DataFrame, cfg: QFConfig = DEFAULT_CONFIG) -> DataFrame:
    """ONE fused Arrow stage for ALL models (langid + perplexity + the
    optional classifier when cfg.clf_weights_path is set): the text column
    crosses JVM→Python once. With the classifier on, the sigmoid + threshold
    stay JVM-side (identical float semantics to the corpus-stage
    textops.classifier_score)."""
    clf = None
    if cfg.clf_weights_path:
        from data_quality_spark.ops.textops import (
            CLF_BIAS_BUCKET,
            CLF_BUCKETS,
            classifier_weights_local,
        )

        wdf = df.sparkSession.read.parquet(cfg.clf_weights_path)
        # geometry gate (ops.textops.save_nb_weights sidecar): a model
        # hashed into a different bucket count scores garbage silently —
        # validate the recorded geometry when the sidecar exists (any
        # Hadoop-supported URI via fsio), and the table's actual
        # bucket-row count always
        meta_path = cfg.clf_weights_path + ".meta.json"
        if fsio.exists(df.sparkSession, meta_path):
            meta = fsio.read_json(df.sparkSession, meta_path)
            if int(meta.get("buckets", CLF_BUCKETS)) != CLF_BUCKETS:
                raise ValueError(
                    f"classifier weights at {cfg.clf_weights_path} were "
                    f"trained with buckets={meta['buckets']}, this "
                    f"pipeline hashes into {CLF_BUCKETS} — tokens would "
                    "land on the wrong weight rows; retrain the model."
                )
        n_w = wdf.where(F.col("b") >= CLF_BIAS_BUCKET + 1).count()
        if n_w != CLF_BUCKETS:
            raise ValueError(
                f"classifier weights at {cfg.clf_weights_path} carry "
                f"{n_w} bucket rows, expected {CLF_BUCKETS} — stale or "
                "foreign model artifact; retrain with the current "
                "geometry or load via ops.textops.load_nb_weights."
            )
        w6, bias6 = classifier_weights_local(wdf, CLF_BUCKETS)
        clf = ([int(v) for v in w6], bias6, CLF_BUCKETS)
    clf_key = None if clf is None else (tuple(clf[0]), clf[1], clf[2])
    udf_col, model_cols, clf_score = memo(
        ("qf.model_cols", clf_key), lambda: _model_cols(clf)
    )
    df = df.withColumn("_m", udf_col).select("*", *model_cols).drop("_m")
    if clf_score is not None:
        df = df.withColumn("clf_score", clf_score)
    return df


def _model_cols(clf) -> tuple:
    """(fused model UDF Column, its unpacked result columns, clf_score or
    None) for with_model_scores — built once per JVM per classifier."""
    model_cols = [
        F.col("_m.lang_pred").alias("lang_pred"),
        F.col("_m.lang_margin").alias("lang_margin"),
        F.col("_m.ppl").alias("ppl"),
    ]
    clf_score = None
    if clf is not None:
        model_cols += [
            F.col("_m.clf_n_toks").alias("clf_n_toks"),
            F.col("_m.clf_logit").alias("clf_logit"),
        ]
        clf_score = F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("clf_logit"))), 6
        )
    udf_col = models.spark_udf(clf=clf)(F.col("text_extracted"))
    return udf_col, model_cols, clf_score


# On-disk ceiling for auto-broadcasting the rank artifact. A forced
# broadcast must fit the DRIVER heap and every executor heap, not just the
# 8 GB relation ceiling — and parquet decompresses 3-5× into the in-memory
# hash relation, so a few hundred MB on disk is the sane cutoff (r4
# advice: the earlier unconditional hint hard-aborted on default driver
# memory long before the ceiling).
HOST_RANK_BROADCAST_MAX_BYTES = 256 << 20


def with_host_rank(df: DataFrame, cfg: QFConfig) -> DataFrame:
    """Join the persisted crawl-rank prior (ops.graph.host_rank artifact)
    onto the pages frame as a `host_rank` column (NULL = host unknown).

    Probes the artifact's on-disk footprint (fsio.content_length — one
    metadata RPC) and adds the broadcast hint only under
    HOST_RANK_BROADCAST_MAX_BYTES, so the pages side never shuffles for a
    lookup; above it the plan is left to AQE, which still
    broadcast-converts at runtime if the scanned relation turns out small,
    and otherwise shuffles — a slow plan instead of a driver/executor OOM
    abort."""
    from data_quality_spark.ops.textops import host_of

    spark = df.sparkSession
    ranks = (
        spark.read.parquet(cfg.host_rank_path)
        .select(F.col("host").alias("__hr_host"), F.col("rank").alias("host_rank"))
    )
    nbytes = fsio.content_length(spark, cfg.host_rank_path)
    if nbytes <= HOST_RANK_BROADCAST_MAX_BYTES:
        ranks = F.broadcast(ranks)
    else:
        import warnings

        warnings.warn(
            f"host-rank artifact at {cfg.host_rank_path} is "
            f"{nbytes >> 20} MiB on disk — above the "
            f"{HOST_RANK_BROADCAST_MAX_BYTES >> 20} MiB auto-broadcast "
            "ceiling; leaving the join strategy to AQE.",
            stacklevel=2,
        )
    return (
        df.withColumn("__hr_host", host_of(F.col("url")))
        .join(ranks, "__hr_host", "left")
        .drop("__hr_host")
    )


def annotate_pages(df: DataFrame, cfg: QFConfig = DEFAULT_CONFIG) -> DataFrame:
    """Full per-row annotation: extraction, features, model scores, rules,
    scrubbed text, keep flag, lineage columns.

    An input with fewer partitions than the default parallelism (local
    parquet fixtures arrive as a handful of splits; the UDF/feature stages
    would serialize) is repartitioned by url-hash to 2× default
    parallelism. On a real cluster the file splits already provide
    parallelism; the url-hash also breaks up pathological host clustering
    in the input order.
    """
    # lineage: capture the source split BEFORE any exchange (input_file_name
    # is empty once rows cross a shuffle) — north_rule's per-partition
    # lineage: every output row is traceable to (src_file, part_id).
    if "src_file" not in df.columns:
        df = df.withColumn("src_file", F.input_file_name())
    target = df.sparkSession.sparkContext.defaultParallelism
    from data_quality_spark.ops.util import num_partitions

    if num_partitions(df) < target:
        # when the input already has >= cores splits this exchange is pure
        # overhead (it would move the full html payload) — skip it.
        df = df.repartition(2 * target, F.xxhash64("url"))
    # dup-url keys from the raw input: a column-pruned url-only scan +
    # count>1 aggregate, broadcast-joined back (AQE) — the wide frame and
    # the expensive downstream stages are never re-evaluated for this.
    dup_keys = (
        df.where(F.col("url").isNotNull())
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("__aux_n"))
        .where(F.col("__aux_n") > 1)
        .select("url", F.lit(True).alias("__aux_dup_url"))
    )
    df = df.join(dup_keys, on="url", how="left")
    if cfg.host_rank_path:
        df = with_host_rank(df, cfg)
    # staged extraction: ONE full-document regex per row (extract.py perf
    # shape note); NULL extract (no <main>) falls back to the raw text column
    df = extract.with_extracted(df, "html", "text_extracted", "text")
    ppl_cuts = (cfg.ppl_head, cfg.ppl_tail)
    tail = memo(("qf.rowwise_tail", ppl_cuts), lambda: _tail_cols(*ppl_cuts))
    if cfg.drop_noindex:
        # detector must read the raw html; compute before the payload drop
        df = df.withColumn("noindex_found", tail["noindex_found"])
    # html (and by default the raw text fallback) served their purpose —
    # dropping the payload columns here keeps them out of every downstream
    # stage's row buffers (measured ~6% of 8-core pipeline time for text)
    df = df.drop("html")
    if not cfg.keep_source_text:
        df = df.drop("text")
    df = textstats.with_features(df, "text_extracted")
    df = with_model_scores(df, cfg)
    df = df.withColumn("ppl_bucket", tail["ppl_bucket"])
    df = df.withColumn("pii_found", tail["pii_found"])
    df = RuleEngine(quality_rules(cfg, pii_col="pii_found")).annotate(df)
    df = df.withColumn("text_scrubbed", tail["text_scrubbed"])
    return df.withColumn("part_id", tail["part_id"])


def _tail_cols(ppl_head: float, ppl_tail: float) -> dict:
    """The per-row columns annotate_pages adds around the model and rule
    stages — built once per JVM per perplexity cut pair (colmemo)."""
    return {
        # robots-noindex detector over the raw html (drop_noindex only)
        "noindex_found": extract.native_noindex(F.col("html")),
        # CCNet-style quality bucket by LM perplexity (head = cleanest
        # tercile); annotation only — training-data consumers select
        # buckets downstream
        "ppl_bucket": F.when(F.col("ppl") <= ppl_head, "head")
        .when(F.col("ppl") <= ppl_tail, "middle")
        .otherwise("tail"),
        # ONE PII-detector evaluation, shared by the pii rule and the scrub
        # gate (annotation column — downstream consumers can filter on it)
        "pii_found": F.coalesce(
            scrub.native_pii_found(F.col("text_extracted")), F.lit(False)
        ),
        "text_scrubbed": scrub.native_scrub(
            F.col("text_extracted"), found=F.col("pii_found")
        ),
        # lineage (north_rule: per-partition lineage + metrics)
        "part_id": F.spark_partition_id(),
    }


def _kept_count_aggs(pending: tuple) -> list:
    """One `sum(bucket = b)` aggregate per pending bucket, named `b<b>` —
    the kept write's Observation (built once per JVM per pending set)."""
    return memo(("qf.kept_count_aggs", pending), lambda: [
        F.sum((F.col("bucket") == b).cast("long")).alias(f"b{b}") for b in pending
    ])


def metrics_by_partition(
    ann: DataFrame,
    cfg: QFConfig = DEFAULT_CONFIG,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-(partition, rule) hit counts in one explode-free agg: sums of
    array_contains over the fired array. Map-side partial agg → tiny shuffle.
    group_cols extends the grouping (e.g. ["bucket", "part_id"] so the
    resumable runner can write metrics partitioned by checkpoint bucket)."""
    has_src = "src_file" in ann.columns
    aggs = memo(("qf.metrics_aggs", cfg, has_src),
                lambda: _metrics_aggs(cfg, has_src))
    return ann.groupBy(*(group_cols or ["part_id"])).agg(*aggs)


def _metrics_aggs(cfg: QFConfig, has_src: bool) -> list:
    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped")] + [
        F.sum(F.array_contains("fired_rules", r.rule_id).cast("long")).alias(r.rule_id)
        for r in quality_rules(cfg)
    ]
    if has_src:
        aggs.append(F.collect_set("src_file").alias("src_files"))
    return aggs


def rule_ablation(ann: DataFrame) -> DataFrame:
    """Per-rule gate telemetry over an annotated frame: for each rule, how
    many documents fire it at all (`n_fired`) and for how many it is the
    SOLE firing rule (`n_sole` — the documents that rule alone removes;
    relaxing it recovers exactly those). The standard curation question
    before loosening or tightening a gate. ONE pass over the annotated
    frame: explode fired_rules alongside its size, then a partial-
    aggregated groupBy on the (tiny) rule-id key."""
    ex = ann.select(
        F.size("fired_rules").alias("__n"),
        F.explode("fired_rules").alias("rule"),
    )
    return ex.groupBy("rule").agg(
        F.count("*").alias("n_fired"),
        F.sum(F.when(F.col("__n") == 1, 1).otherwise(0)).alias("n_sole"),
    )


def dedup_kept(kept: DataFrame, mode: str | None) -> DataFrame:
    """Optional dedup stage over the kept rows (url = document id).

    mode=None      — off (the duplicate_url rule still FLAGS dup groups).
    mode='exact'   — one survivor (min url) per distinct scrubbed text.
    mode='minhash' — additionally drop near-duplicates (MinHash-LSH pairs,
                     keep-lowest survivor policy).
    mode='minhash_cluster' — as 'minhash' but cluster-exact survivors:
                     ONE survivor per connected component of the pair
                     graph (graph.connected_components).

    Scale note: within one run the single-pass job processes every pending
    bucket in ONE frame, so dedup here is GLOBAL for a fresh run; a resumed
    run dedups only within its own pending set. CROSS-RUN dedup of a
    continuously ingested lake is the bloom_index option on run_pipeline:
    an O(m)-bit filter of everything any previous run kept, probed map-only
    and re-merged after each run — no scan of the historical kept table."""
    if mode is None:
        return kept
    from data_quality_spark.ops import dedup as D

    kept = D.drop_exact_dups(kept, "url", "text_scrubbed")
    if mode == "exact":
        return kept
    if mode in ("minhash", "minhash_cluster"):
        pairs = D.minhash_lsh_pairs(kept, "url", "text_scrubbed", threshold=0.7)
        policy = "cluster" if mode == "minhash_cluster" else "keep_lowest"
        return D.drop_near_dups(kept, "url", pairs, policy=policy)
    raise ValueError(f"unknown dedup mode: {mode}")


# Pipeline default filter size: 2^27 bits = 16 MiB bitmap — ~20M docs at
# <1% FP (k=4), collectable/broadcastable without thought. The library-wide
# ops.dedup.BLOOM_M (2^20) is a TEST size; silently using it from the CLI
# saturated around ~400k docs and then dropped nearly all new content as
# maybe-seen. Size m for the lake: FP ≈ (1 - e^{-k·n/m})^k; 10^9 docs
# wants 2^33 (1 GiB).
PIPELINE_BLOOM_M = 1 << 27


def _bloom_meta_path(path: str) -> str:
    return fsio.join(path, "_bloom_meta.json")


def _resolve_bloom_m(spark, path: str, bloom_m: int | None, k: int) -> int:
    """The m this run must probe/build with. The artifact's recorded
    (m, k) — written alongside the bitmap — governs when present: merging
    or probing tables built under different moduli silently disables dedup
    (positions land mod the wrong m), so an explicit bloom_m that
    contradicts the artifact is a loud error, and omitting bloom_m on a
    later run simply reuses the recorded value instead of guessing.
    Sidecar IO goes through fsio, so the artifact may live on any
    Hadoop-supported filesystem (the round-3 ``_require_local`` refusal is
    retired — a remote index now resolves its real recorded geometry
    instead of being rejected)."""
    meta = None
    if fsio.exists(spark, _bloom_meta_path(path)):
        meta = fsio.read_json(spark, _bloom_meta_path(path))
    if meta is not None:
        if int(meta.get("k", k)) != k:
            raise ValueError(
                f"Bloom index at {path} was built with k={meta['k']}, but "
                f"this build uses k={k} — rebuild the index or match k."
            )
        if bloom_m is not None and int(meta["m"]) != bloom_m:
            raise ValueError(
                f"Bloom index at {path} was built with m={meta['m']}, but "
                f"bloom_m={bloom_m} was passed — probing/merging across "
                "different m corrupts the filter. Pass the recorded m or "
                "rebuild the index."
            )
        return int(meta["m"])
    if bloom_m is not None:
        return bloom_m
    # a bitmap already on disk but no sidecar = a legacy (or crash-orphaned)
    # artifact whose m is UNKNOWN. Guessing a default here would probe mod
    # the wrong modulus — dedup silently off — and the next bit_or merge
    # would mix positions from two moduli, corrupting the index for good.
    # Demand the m it was built with instead.
    if fsio.has_glob(spark, fsio.join(path, "*.parquet")):
        raise ValueError(
            f"Bloom index at {path} predates the (m, k) sidecar and no "
            "bloom_m was passed — its modulus is unknown, and probing or "
            "merging with a guessed m silently disables then corrupts "
            "dedup. Pass the bloom_m it was built with (older runs "
            "defaulted to ops.dedup.BLOOM_M = 2**20) or rebuild the index."
        )
    return PIPELINE_BLOOM_M


def _read_bloom(spark: SparkSession, path: str):
    """The persisted [word_idx, bits] filter, or None before the first
    run ever writes one."""
    if not fsio.has_glob(spark, fsio.join(path, "*.parquet")):
        return None
    return spark.read.parquet(path)


_BLOOM_SCHEMA = pa.schema([("word_idx", pa.int64()), ("bits", pa.int64())])


def _update_bloom_index(
    spark: SparkSession, path: str, kept_root: str, pending: list, m: int
) -> None:
    """Fold this run's kept texts into the persisted filter: build the
    batch's own bitmap from the WRITTEN kept output (slim one-column scan
    of only the pending buckets), bit_or-merge with the existing filter,
    and overwrite. The merged table (≤ m/64 rows) stages through the
    driver so the overwrite never reads the path it is replacing. Runs
    AFTER the manifest commit — the orderings fail very differently:
    index-then-crash would poison the rerun (its own batch reads as
    maybe-seen, every row drops, and the output the rerun just cleared is
    gone for good), while manifest-then-crash merely leaves this batch's
    texts out of the filter, so some future duplicates survive — Bloom's
    benign direction."""
    from data_quality_spark.ops import dedup as D

    if fsio.has_glob(spark, fsio.join(kept_root, "bucket=*")):
        texts = (
            spark.read.parquet(kept_root)
            .where(F.col("bucket").isin(list(pending)))
            .select("text_scrubbed")
        )
        new = D.bloom_build(texts, "text_scrubbed", m=m)
    else:
        new = None
    old = _read_bloom(spark, path)
    if old is not None and new is not None:
        merged = D.bloom_merge(old, new)
    else:
        merged = new if new is not None else old
    # staged as an Arrow table, not Rows: createDataFrame turns it into a
    # LocalRelation (empty too), so the ≤m/64 rows need no per-row Python
    # loop, no Spark job and no Python worker on the way back
    staged = merged.toArrow() if merged is not None else _BLOOM_SCHEMA.empty_table()
    out = spark.createDataFrame(staged, "word_idx bigint, bits bigint")
    out.coalesce(1).write.mode("overwrite").parquet(path)
    # record the geometry the bitmap was built under — later runs reuse it
    # when bloom_m is omitted and refuse a contradicting explicit value
    fsio.write_json(spark, _bloom_meta_path(path), {"m": m, "k": D.BLOOM_K})


def run_pipeline(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    cfg: QFConfig = DEFAULT_CONFIG,
    n_buckets: int = 8,
    resume: bool = True,
    dedup: str | None = None,
    input_format: str = "parquet",
    bloom_index: str | None = None,
    bloom_m: int | None = None,
    cdx_index: str | None = None,
) -> dict:
    """Bucketed, resumable run. Buckets = deterministic url-hash ranges; a
    restart skips buckets already recorded in the manifest.

    input_format: 'parquet' (pages table), 'warc' (raw .warc/.warc.gz
    crawl segments via sources.warc.read_warc — file-grain parallelism,
    text/lang filled by the pipeline), or 'warc_cdx' (in_path = segment
    directory + cdx_index = CDXJ index path via sources.warc.read_warc_cdx
    — record-grain parallelism, ranged reads, bounded task memory).

    bloom_index: path of a persisted Bloom filter of every text any
    PREVIOUS run kept (cross-run dedup for a continuously ingested lake).
    Rows whose scrubbed text is maybe-seen are dropped (map-only broadcast
    probe — the historical kept table is never scanned), in-batch exact
    copies keep the min url (required for the filter to stay
    self-consistent), and after a successful run the batch's own bitmap is
    bit_or-merged back into the index. False positives are the documented
    Bloom trade: size bloom_m for the lake (ops.dedup.BLOOM_M notes).

    Single-pass: ALL pending buckets are processed in ONE job — one FileScan
    of the input, one annotate pipeline, one partitionBy("bucket") write
    with dynamic partition overwrite (a re-run replaces only the partitions
    it writes, never completed ones). The round-1 shape — a filter+write
    loop per bucket — re-scanned the input n_buckets times (8 buckets = 8×
    read amplification of a 100 TB table)."""
    # out_dir / bloom_index may be any Hadoop-supported URI (hdfs://,
    # s3a://, file://) — data planes use Spark's own writers, and the
    # driver-side metadata (manifest, sidecar, partition cleanup) goes
    # through fsio's Hadoop FileSystem shim
    fsio.mkdirs(spark, out_dir)
    manifest_path = fsio.join(out_dir, "_manifest.json")
    done: dict = {}
    if resume and fsio.exists(spark, manifest_path):
        done = fsio.read_json(spark, manifest_path)
        # bucket membership IS pmod(url-hash, n_buckets): resuming under a
        # different bucket count would re-admit already-processed urls into
        # the new pending buckets (duplicates) and skip others — the same
        # geometry-drift class the Bloom/PQ/NB sidecars pin. Old manifests
        # (pre-pin) are stamped on their next successful run.
        rec = done.get("_n_buckets")
        if rec is not None and rec != n_buckets:
            raise ValueError(
                f"resume with n_buckets={n_buckets} but {manifest_path} "
                f"records n_buckets={rec}; pass the recorded value or a "
                "fresh out_dir (bucket membership is hash mod n_buckets)"
            )
    pending = [b for b in range(n_buckets) if f"bucket={b}" not in done]
    # rows_kept counts THIS invocation's work only (skipped buckets keep
    # their counts in the manifest, not in stats)
    stats = {
        "buckets_done": 0,
        "buckets_skipped": n_buckets - len(pending),
        "rows_kept": 0,
    }
    if pending:
        if input_format == "warc":
            from data_quality_spark.sources.warc import read_warc

            raw = read_warc(spark, in_path)
        elif input_format == "warc_cdx":
            if cdx_index is None:
                raise ValueError("input_format='warc_cdx' requires cdx_index")
            from data_quality_spark.sources.warc import read_warc_cdx

            raw = read_warc_cdx(spark, in_path, cdx_index)
        elif input_format == "parquet":
            raw = spark.read.parquet(in_path)
        else:
            raise ValueError(f"unknown input_format: {input_format}")
        pages = raw.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets))
        )
        part = pages.filter(F.col("bucket").isin(pending))
        ann = annotate_pages(part, cfg)
        # the kept write and the metrics write are two ACTIONS: without a
        # persist each would re-run the whole annotate pipeline (extract
        # regex + feature projection + the fused model Arrow UDFs + scrub)
        # over the corpus — doubling the dominant model cost at scale.
        # MEMORY_AND_DISK of the SLIM annotated frame (html/text already
        # dropped) trades one local spill for the second full evaluation.
        from pyspark import StorageLevel

        ann = ann.persist(StorageLevel.MEMORY_AND_DISK)
        out_cols = ["url", "warc_ts", "lang", "lang_pred", "ppl",
                    "text_scrubbed", "fired_rules", "keep", "part_id",
                    "src_file", "bucket"]
        present = [c for c in out_cols if c in ann.columns]
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # clear the pending partitions up front: dynamic overwrite only
        # replaces partitions the job WRITES, so a pending bucket that now
        # keeps zero rows would otherwise leave a crashed earlier attempt's
        # stale files in place
        for sub in ("kept", "metrics"):
            for b in pending:
                fsio.delete(spark, fsio.join(out_dir, sub, f"bucket={b}"))
        try:
            kept_root = fsio.join(out_dir, "kept")
            kept_df = dedup_kept(ann.filter(F.col("keep")).select(*present), dedup)
            if bloom_index is not None:
                from data_quality_spark.ops import dedup as D

                bm = _resolve_bloom_m(spark, bloom_index, bloom_m, D.BLOOM_K)
                old_bloom = _read_bloom(spark, bloom_index)
                if old_bloom is not None:
                    kept_df = D.bloom_keep(
                        D.bloom_maybe_seen(
                            kept_df, old_bloom, "text_scrubbed", m=bm
                        ),
                        "url",
                        "text_scrubbed",
                    ).drop("maybe_seen")
            # per-bucket kept counts, computed by the kept write itself:
            # one sum per pending bucket rides the write's own tasks, so
            # no job reads the output back
            kept_obs = Observation("kept_rows")
            (
                kept_df.observe(kept_obs, *_kept_count_aggs(tuple(pending)))
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(kept_root)
            )
            metrics_root = fsio.join(out_dir, "metrics")
            (
                metrics_by_partition(ann, cfg, group_cols=["bucket", "part_id"])
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(metrics_root)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
            ann.unpersist()
        # the write succeeded (a failed write raised above, before any
        # manifest update), so the observed sums cover every kept row; a
        # bucket with no kept rows sums NULL, and a plan the optimizer
        # proved empty reports no metrics at all — both are zero
        counts = kept_obs.get
        for b in pending:
            n_kept = int(counts.get(f"b{b}") or 0)
            done[f"bucket={b}"] = {"rows_kept": n_kept}
            stats["buckets_done"] += 1
            stats["rows_kept"] += n_kept
        # manifest update = the resume checkpoint (geometry stamped so a
        # later resume cannot silently change bucket membership)
        done["_n_buckets"] = n_buckets
        fsio.write_json(spark, manifest_path, done)
        # fold this run's kept texts into the cross-run filter AFTER the
        # manifest commit (see _update_bloom_index crash contract: a crash
        # here only lets future duplicates survive, it never drops data)
        if bloom_index is not None:
            _update_bloom_index(spark, bloom_index, kept_root, pending, bm)
    stats["config"] = asdict(cfg)
    return stats


def main():  # pragma: no cover
    import argparse

    from data_quality_spark.session import get_spark

    ap = argparse.ArgumentParser(description="web-text quality-filter pipeline")
    ap.add_argument("--input", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--dedup", choices=["exact", "minhash", "minhash_cluster"],
                    default=None)
    ap.add_argument("--input-format",
                    choices=["parquet", "warc", "warc_cdx"],
                    default="parquet")
    ap.add_argument("--cdx-index", default=None,
                    help="CDXJ index path (required with "
                         "--input-format warc_cdx; --input is then the "
                         "segment directory)")
    ap.add_argument("--bloom-index", default=None,
                    help="path of the cross-run kept-text Bloom filter")
    ap.add_argument("--bloom-m", type=int, default=None,
                    help="filter size in bits; default = the index's "
                         "recorded m, else 2**27 for a new index")
    # optional QFConfig stages — reachable from spark-submit without code
    ap.add_argument("--blocked-hosts", default=None,
                    help="comma-separated host blocklist "
                         "(QFConfig.blocked_hosts)")
    ap.add_argument("--badwords", default=None,
                    help="comma-separated bad-words list (QFConfig.badwords)")
    ap.add_argument("--clf-weights", default=None,
                    help="persisted classifier weights parquet "
                         "(QFConfig.clf_weights_path)")
    ap.add_argument("--clf-threshold", type=float, default=None,
                    help="classifier keep threshold (with --clf-weights)")
    ap.add_argument("--spam-fragments", default=None,
                    help="comma-separated frag:points pairs for soft URL "
                         "spam scoring (QFConfig.spam_fragments), e.g. "
                         "'casino:100,bet:40'")
    ap.add_argument("--spam-threshold", type=float, default=None,
                    help="spam score at/above which url_spam fires")
    ap.add_argument("--host-ranks", default=None,
                    help="persisted host-rank parquet "
                         "(QFConfig.host_rank_path — "
                         "tools/build_host_ranks.py output)")
    ap.add_argument("--min-host-rank", type=float, default=None,
                    help="rank below which host_low_rank fires "
                         "(with --host-ranks)")
    ap.add_argument("--drop-noindex", action="store_true",
                    help="drop pages carrying a robots noindex directive")
    a = ap.parse_args()
    # a threshold without its enabling flag would parse, set the QFConfig
    # field, and then silently gate NOTHING (the rule is added only when
    # the stage path/list is present) — fail loudly instead
    for thr, gate, gname in [("clf_threshold", a.clf_weights, "--clf-weights"),
                             ("spam_threshold", a.spam_fragments,
                              "--spam-fragments"),
                             ("min_host_rank", a.host_ranks, "--host-ranks")]:
        if getattr(a, thr) is not None and not gate:
            ap.error(f"--{thr.replace('_', '-')} requires {gname} "
                     "(without it the gate never fires)")
    cfg = DEFAULT_CONFIG
    overrides = {}
    if a.blocked_hosts:
        overrides["blocked_hosts"] = tuple(
            h.strip() for h in a.blocked_hosts.split(",") if h.strip())
    if a.badwords:
        overrides["badwords"] = tuple(
            w.strip() for w in a.badwords.split(",") if w.strip())
    if a.clf_weights:
        overrides["clf_weights_path"] = a.clf_weights
    if a.clf_threshold is not None:
        overrides["clf_threshold"] = a.clf_threshold
    if a.spam_fragments:
        overrides["spam_fragments"] = tuple(
            (fp.split(":", 1)[0].strip(), int(fp.split(":", 1)[1]))
            for fp in a.spam_fragments.split(",") if fp.strip()
        )
    if a.spam_threshold is not None:
        overrides["spam_threshold"] = a.spam_threshold
    if a.host_ranks:
        overrides["host_rank_path"] = a.host_ranks
    if a.min_host_rank is not None:
        overrides["min_host_rank"] = a.min_host_rank
    if a.drop_noindex:
        overrides["drop_noindex"] = True
    if overrides:
        import dataclasses

        cfg = dataclasses.replace(cfg, **overrides)
    spark = get_spark(app_name="quality_filter")
    print(json.dumps(run_pipeline(spark, a.input, a.out, cfg=cfg,
                                  n_buckets=a.buckets, resume=not a.no_resume,
                                  dedup=a.dedup,
                                  input_format=a.input_format,
                                  bloom_index=a.bloom_index,
                                  bloom_m=a.bloom_m,
                                  cdx_index=a.cdx_index)))


if __name__ == "__main__":  # pragma: no cover
    main()
