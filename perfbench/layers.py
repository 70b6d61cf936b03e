"""Traced run: per-layer metrics, measured from outside the package.

Spans are recorded by the benchmark around its calls into
``pipeline.*``, ``functions.*``, ``rules.*``, ``report`` and ``ops.*``, and
each measured call runs under its own Spark job group so that its stages,
tasks and SQL-node metrics can be read back from Spark's status store.
Every metric in PER_LAYER is printed for every workload; a layer the
workload never enters reads 0.

crawl_filter: a prefix ladder over the public stage functions that
``quality_filter.annotate_pages`` chains. Rung k is the plan of stages 1..k
ending in a noop write (which forces every column); a stage's self time is
prefix(k) - prefix(k-1). The last rung must hash-equal ``annotate_pages``,
so the ladder cannot silently drift from the program.

rule_checks: each check kind alone via ``QualityTable.run(only=[...])``,
the full run with and without KO samples, the HTML report, and the
training-data ops (dedup, graph, textops, sketches) on a small seeded
corpus.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

N_OVERHEAD_CALLS = 2  # pairs of untraced and traced calls: the overhead ratio
N_LADDER_REPS = 2
RANK_K = 1  # graph.s_per_iter from host_rank at RANK_K and 2 * RANK_K iterations
QUOTA = 25

SPARK_METRICS = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.waves": "ratio",
    "spark.straggler_ratio": "ratio", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.cpu_busy_ratio": "ratio",
}
LADDER = ("scan", "extract", "textstats", "models", "rules", "scrub")
CHECK_KINDS = ("index_not_null", "duplicate_index", "not_empty", "datetime_format",
               "between_values", "values_in_list", "match_regex",
               "custom_condition", "match_dimension", "dates_order_dimension",
               "period_intersection")

PER_LAYER = {
    **SPARK_METRICS,
    "host.steal_s": "s",
    "trace.items_per_s": "1/s",
    "trace.untraced_items_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
    **{f"{name}.self_s": "s" for name in LADDER},
    "models.python_s": "s",
    "models.python_startup_s": "s",
    "models.arrow_bytes_per_item": "B",
    "write.self_s": "s",
    "write.out_bytes_per_item": "B",
    "ladder.hash_equal": "count",
    **{f"check.{kind}.s": "s" for kind in CHECK_KINDS},
    "rules.metrics_s": "s",
    "rules.ko_rows_s": "s",
    "report.html_s": "s",
    "dedup.minhash_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "graph.host_rank_s": "s",
    "graph.s_per_iter": "s",
    "textops.group_quota_s": "s",
    "sketches.distinct_hll_s": "s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(df) -> tuple[int, int]:
    """(row count, order-independent hash of every column): two frames with
    equal digests hold the same rows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


class TracedRun:
    """The traced part of a run: tracer, status store and metric values."""

    def __init__(self, spark, wl, calls, status, tracer):
        self.spark = spark
        self.wl = wl
        self.calls = calls
        self.status = status
        self.tracer = tracer
        self.m = {k: 0.0 for k in PER_LAYER}
        self.n = 0

    def timed(self, name: str, fn, counted: bool = False, **attrs):
        """Run fn under a span and its own job group. Returns (value,
        seconds, spark.* metrics of its jobs). Unless fn is a workload call
        already `counted` by run.Calls, it counts as one attempt."""
        if not counted:
            self.calls.attempted += 1
        group = f"{name}-{self.n}"
        self.n += 1
        self.status.begin(group)
        try:
            with self.tracer.span(name, group=group, **attrs) as sp:
                value = fn()
        finally:
            self.status.end()
        return value, sp["dur_s"], self.status.call_metrics(group, sp["dur_s"])

    def fail(self, msg: str) -> None:
        self.calls._fail(msg)


# --------------------------------------------------------------------------
# crawl_filter
# --------------------------------------------------------------------------


def ladder(raw, cfg) -> list:
    """(stage, frame) prefixes of annotate_pages(raw, cfg), built from the
    same public functions in the same order."""
    from data_quality_spark.functions import scrub, textstats
    from data_quality_spark.ops.util import num_partitions
    from data_quality_spark.pipeline import extract
    from data_quality_spark.pipeline import quality_filter as QF
    from data_quality_spark.rules.core import RuleEngine

    if cfg.host_rank_path or cfg.drop_noindex or cfg.keep_source_text:
        raise ValueError("the ladder mirrors the default QFConfig stage chain")
    df = raw.withColumn("src_file", F.input_file_name())
    target = raw.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) < target:
        df = df.repartition(2 * target, F.xxhash64("url"))
    dup_keys = (
        df.where(F.col("url").isNotNull()).groupBy("url")
        .agg(F.count(F.lit(1)).alias("__aux_n")).where(F.col("__aux_n") > 1)
        .select("url", F.lit(True).alias("__aux_dup_url"))
    )
    scan = df.join(dup_keys, on="url", how="left")
    ext = extract.with_extracted(scan, "html", "text_extracted", "text")
    ext = ext.drop("html").drop("text")
    feats = textstats.with_features(ext, "text_extracted")
    models = QF.with_model_scores(feats, cfg).withColumn(
        "ppl_bucket",
        F.when(F.col("ppl") <= cfg.ppl_head, "head")
        .when(F.col("ppl") <= cfg.ppl_tail, "middle").otherwise("tail"),
    )
    rules = RuleEngine(QF.quality_rules(cfg, pii_col="pii_found")).annotate(
        models.withColumn("pii_found", F.coalesce(
            scrub.native_pii_found(F.col("text_extracted")), F.lit(False))))
    scrubbed = rules.withColumn(
        "text_scrubbed",
        scrub.native_scrub(F.col("text_extracted"), found=F.col("pii_found")),
    ).withColumn("part_id", F.spark_partition_id())
    return list(zip(LADDER, (scan, ext, feats, models, rules, scrubbed)))


def crawl_layers(t: TracedRun, call_s: float) -> None:
    from data_quality_spark.pipeline import quality_filter as QF

    wl = t.wl
    raw = t.spark.read.parquet(wl.pages)
    rungs = ladder(raw, QF.DEFAULT_CONFIG)
    times = {name: [] for name, _ in rungs}
    python = []
    for rep in range(N_LADDER_REPS):
        for name, df in rungs:
            _, dur, _ = t.timed(f"prefix.{name}", lambda df=df: _noop(df), rep=rep)
            times[name].append(dur)
            if name == "models":
                python.append(t.status.python_udf_metrics())
    prev = 0.0
    for name, _ in rungs:
        med = statistics.median(times[name])
        t.m[f"{name}.self_s"] = med - prev
        prev = med
    t.m["write.self_s"] = call_s - prev
    t.m["models.python_s"] = statistics.median(p["run_s"] for p in python)
    t.m["models.arrow_bytes_per_item"] = (
        statistics.median(p["sent_bytes"] for p in python) / wl.items)

    res, _ = t.calls.run()
    if res is not None:
        t.m["write.out_bytes_per_item"] = wl.out_bytes(res) / wl.items
        wl.cleanup(res)
    got = digest(rungs[-1][1])
    want = digest(QF.annotate_pages(t.spark.read.parquet(wl.pages)))
    t.m["ladder.hash_equal"] = float(got == want)
    if got != want:
        t.fail(f"ladder's last rung {got} != annotate_pages {want}")


# --------------------------------------------------------------------------
# rule_checks
# --------------------------------------------------------------------------


def rule_layers(t: TracedRun, call_s: float, corpus: str) -> None:
    from workloads import RULE_KINDS, build_rule_session

    wl = t.wl
    for kind in CHECK_KINDS:
        table, rule_id = RULE_KINDS[kind]
        _, tables = build_rule_session(t.spark, wl.data)
        (res,), dur, _ = t.timed(f"check.{kind}",
                                 lambda: tables[table].run(only=[rule_id]))
        t.m[f"check.{kind}.s"] = dur
        if res.n_ko != wl.expected[rule_id]:
            t.fail(f"{rule_id}: n_ko {res.n_ko} != duckdb {wl.expected[rule_id]}")
    t.m["rules.metrics_s"] = call_s
    res, dur, _ = t.timed("rules.ko_rows", lambda: wl.call(get_rows_flag=True))
    err = wl.check(res)
    if err:
        t.fail(err)
    t.m["rules.ko_rows_s"] = dur - call_s
    path = os.path.join(wl.work, "report.html")
    os.makedirs(wl.work, exist_ok=True)
    _, t.m["report.html_s"], _ = t.timed(
        "report.html", lambda: res["session"].create_html_output(path))
    if os.path.getsize(path) == 0:
        t.fail("empty HTML report")
    os.remove(path)
    ops_layers(t, corpus)


def ops_oracle(corpus_dir: str) -> dict:
    """The op outputs from their DuckDB twins over the same parquet."""
    import duckdb

    from data_quality_spark.ops import graph as G
    from data_quality_spark.ops import sketches as SK
    from data_quality_spark.queries_ops import _sql_minhash_lsh

    c = f"read_parquet('{corpus_dir}/corpus/*.parquet')"
    e = f"read_parquet('{corpus_dir}/edges/*.parquet')"
    pairs = _sql_minhash_lsh(f"SELECT doc_id, text FROM {c}")
    sql = {
        "survivors": f"SELECT doc_id FROM {c} WHERE doc_id NOT IN "
                     f"(SELECT id_b FROM ({pairs}))",
        "quota": f"SELECT doc_id, host FROM {c} QUALIFY row_number() OVER "
                 f"(PARTITION BY host ORDER BY doc_id) <= {QUOTA}",
        "hll": "SELECT host, s_units FROM ("
               + SK.sql_distinct_hll(f"SELECT host, url FROM {c}", "host", "url") + ")",
        **{f"rank{k}": "SELECT host, rank_units FROM ("
           + G.sql_host_rank(f"SELECT src, dst FROM {e}", iters=k) + ")"
           for k in (RANK_K, 2 * RANK_K)},
    }
    con = duckdb.connect()
    try:
        return {k: sorted(con.execute(q).fetchall()) for k, q in sql.items()}
    finally:
        con.close()


def ops_layers(t: TracedRun, corpus_dir: str) -> None:
    """The training-data ops on a seeded corpus with planted near-duplicates,
    Zipf-skewed hosts and a Zipf in-degree host graph. Each timed op ends
    by collecting its (small) output, which is compared with its DuckDB
    twin."""
    import json

    from data_quality_spark.ops import dedup as D
    from data_quality_spark.ops import graph as G
    from data_quality_spark.ops import sketches as SK
    from data_quality_spark.ops import textops as T
    from data_quality_spark.queries_ops import MINHASH_THRESHOLD

    with open(os.path.join(corpus_dir, "_expected.json")) as fh:
        want = {k: {tuple(r) for r in v} for k, v in json.load(fh).items()}
    corpus = t.spark.read.parquet(os.path.join(corpus_dir, "corpus"))
    edges = t.spark.read.parquet(os.path.join(corpus_dir, "edges"))

    def timed_rows(name: str, key: str, fn, **attrs) -> float:
        rows, dur, _ = t.timed(name, lambda: {tuple(r) for r in fn().collect()}, **attrs)
        if rows != want[key]:
            t.fail(f"{name}: spark and duckdb differ ({len(rows - want[key])} rows "
                   f"only in spark, {len(want[key] - rows)} only in duckdb)")
        return dur

    t.m["dedup.minhash_s"] = timed_rows(
        "dedup.minhash", "survivors",
        lambda: D.drop_near_dups(corpus, "doc_id", D.minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=MINHASH_THRESHOLD)).select("doc_id"))
    # every candidate pair passes a 0 threshold: one job counts both
    row = D.minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.0).agg(
        F.count(F.lit(1)),
        F.sum((F.col("jaccard") >= MINHASH_THRESHOLD).cast("long"))).first()
    cand, verified = row[0], row[1] or 0
    t.m["dedup.candidate_pairs"] = cand
    t.m["dedup.verified_pairs"] = verified
    t.m["dedup.verify_yield"] = verified / cand if cand else 0.0
    if not 0 < verified <= cand:
        t.fail(f"dedup: {verified} verified of {cand} candidate pairs")

    rank_s = {
        k: timed_rows("graph.host_rank", f"rank{k}",
                      lambda k=k: G.host_rank(edges, iters=k).select("host", "rank_units"),
                      iters=k)
        for k in (RANK_K, 2 * RANK_K)
    }
    t.m["graph.host_rank_s"] = rank_s[2 * RANK_K]
    t.m["graph.s_per_iter"] = (rank_s[2 * RANK_K] - rank_s[RANK_K]) / RANK_K
    t.m["textops.group_quota_s"] = timed_rows(
        "textops.group_quota", "quota",
        lambda: T.group_quota(corpus, "host", "doc_id", QUOTA).select("doc_id", "host"))
    t.m["sketches.distinct_hll_s"] = timed_rows(
        "sketches.distinct_hll", "hll",
        lambda: SK.distinct_hll(corpus, "host", "url").select("host", "s_units"))


# --------------------------------------------------------------------------


def traced_run(name: str, data: str, corpus: str) -> tuple[dict, dict]:
    """The traced run of workload `name` on inputs `data`; rule_checks also
    measures the ops on the `corpus` inputs."""
    from measure import Interval, Tracer, canary
    from run import result, setup, stop_spark

    canary_start = canary()
    tracer = Tracer()
    with tracer.span("setup"):
        spark, wl, calls, _, status = setup(name, data, traced=True)
    t = TracedRun(spark, wl, calls, status, tracer)
    cold = status.python_udf_metrics()
    t.m["models.python_startup_s"] = cold["boot_s"] + cold["init_s"]
    for _ in range(wl.warmup_calls):
        res, _ = calls.run()
        if res is not None:
            wl.cleanup(res)
    run_iv = Interval()
    untraced, traced, traced_wall, per_call = [], [], [], []
    # untraced and traced calls alternate, so JIT drift favours neither
    for _ in range(N_OVERHEAD_CALLS):
        res, iv = calls.run()
        if res is not None:
            untraced.append(iv.wall_s)
            wl.cleanup(res)
        (res, iv), dur, sm = t.timed("call", calls.run, counted=True)
        if res is not None:
            traced.append(iv.wall_s)
            traced_wall.append(dur)
            per_call.append(sm)
            wl.cleanup(res)
    if traced and untraced:
        t.m["trace.items_per_s"] = wl.items * len(traced) / sum(traced)
        t.m["trace.untraced_items_per_s"] = wl.items * len(untraced) / sum(untraced)
        t.m["trace.overhead_ratio"] = (
            t.m["trace.untraced_items_per_s"] / t.m["trace.items_per_s"])
        for k in SPARK_METRICS:
            t.m[k] = statistics.median(c[k] for c in per_call)
    # layer times are wall seconds, like the spans they come from
    call_s = statistics.median(traced_wall) if traced_wall else 0.0
    if name == "crawl_filter":
        crawl_layers(t, call_s)
    else:
        rule_layers(t, call_s, corpus)
    run_iv.stop()
    t.m["host.steal_s"] = run_iv.host.steal
    stop_spark(spark)
    metrics = {k: (t.m[k], unit) for k, unit in PER_LAYER.items()}
    return result(calls, metrics), {
        "spans": tracer.spans, "per_call": per_call,
        "cpu_canary": {"start": canary_start, "end": canary()}}
