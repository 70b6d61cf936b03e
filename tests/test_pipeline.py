"""Oracle-vs-engine parity for the quality-filter pipeline (BASELINE.md):
keep/drop F1 ≥ 0.99 (we assert exact agreement target first, F1 as floor),
byte-identical scrubbed text per url, fault classes caught, resume works.
"""

import json
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_spark.pipeline import oracle as O
from data_quality_spark.pipeline import pages
from data_quality_spark.pipeline.quality_filter import (
    annotate_pages,
    metrics_by_partition,
    run_pipeline,
)

N_ROWS = 1500


@pytest.fixture(scope="module")
def fixture_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pages") / "pages.parquet"
    pages.write_parquet(str(p), N_ROWS, seed=42)
    return str(p)


@pytest.fixture(scope="module")
def engine_ann(spark, fixture_path):
    ann = annotate_pages(spark.read.parquet(fixture_path))
    return ann.select(
        "url", "warc_ts", "fault_class", "keep", "fired_rules", "text_scrubbed"
    ).toPandas()


@pytest.fixture(scope="module")
def oracle_ann(fixture_path):
    import pyarrow.parquet as pq

    pdf = pq.read_table(fixture_path).to_pandas()
    return O.annotate_pandas(pdf)


def _merged(engine_ann, oracle_ann):
    e = engine_ann.set_index(["url", "warc_ts"]).sort_index()
    o = oracle_ann.set_index(["url", "warc_ts"]).sort_index()
    assert len(e) == len(o) == N_ROWS
    return e, o


def _assert_manifest_matches_kept(out):
    """Every bucket's manifest rows_kept (counted by the kept write's
    Observation) equals the rows actually written under kept/bucket=b,
    read back from the parquet footers."""
    import glob

    import pyarrow.parquet as pq

    m = json.load(open(os.path.join(out, "_manifest.json")))
    buckets = [k for k in m if k.startswith("bucket=")]
    assert buckets
    for k in buckets:
        files = glob.glob(os.path.join(out, "kept", k, "*.parquet"))
        written = sum(pq.read_metadata(f).num_rows for f in files)
        assert m[k]["rows_kept"] == written, (k, m[k], written)


def test_keep_drop_agreement(engine_ann, oracle_ann):
    e, o = _merged(engine_ann, oracle_ann)
    agree = (e["keep"].values == o["keep"].values).mean()
    tp = ((e["keep"].values) & (o["keep"].values)).sum()
    fp = ((e["keep"].values) & (~o["keep"].values)).sum()
    fn = ((~e["keep"].values) & (o["keep"].values)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1 {f1}, agreement {agree}"
    assert agree >= 0.995, f"agreement {agree}"


def test_fired_rules_identical(engine_ann, oracle_ann):
    e, o = _merged(engine_ann, oracle_ann)
    mism = [
        (i, list(a), list(b))
        for i, (a, b) in enumerate(zip(e["fired_rules"], o["fired_rules"]))
        if list(a) != list(b)
    ]
    assert len(mism) <= N_ROWS * 0.005, mism[:5]


def test_scrubbed_text_byte_identical(engine_ann, oracle_ann):
    e, o = _merged(engine_ann, oracle_ann)
    for (idx, ev), ov in zip(e["text_scrubbed"].items(), o["text_scrubbed"]):
        if ev is None or (isinstance(ov, float) and pd.isna(ov)):
            assert ov is None or pd.isna(ov), idx
        else:
            assert ev == ov, f"scrub mismatch at {idx}: {ev[:80]!r} vs {ov[:80]!r}"


def test_scrub_actually_scrubs(engine_ann):
    pii = engine_ann[engine_ann.fault_class == "pii"]
    assert len(pii) > 0
    joined = "\n".join(pii["text_scrubbed"])
    assert "@" not in joined
    assert "4111-1111-1111-1111" not in joined
    assert "62.01.00" not in joined  # ATECO seed scrubbed
    assert "<EMAIL>" in joined or "<CREDIT_CARD>" in joined or "<IP>" in joined
    assert "<ATECO>" in joined


def test_fault_classes_caught(engine_ann):
    rates = engine_ann.groupby("fault_class")["keep"].mean()
    assert rates["clean"] >= 0.99
    assert rates["pii"] >= 0.99  # warning only — kept
    # main-less html falls back to the raw text column → clean → kept
    assert rates["no_main"] >= 0.99
    # empty <main></main> extracts "" → empty-text rule fires → dropped
    assert rates["empty_main"] <= 0.01
    # real-HTML shapes must extract cleanly (clean text → kept)
    assert rates["attr_main"] >= 0.99
    assert rates["upper_tags"] >= 0.99
    assert rates["entities"] >= 0.99
    for bad in ["empty", "gibberish", "length", "repeated_lines",
                "symbol_spam", "wrong_lang"]:
        assert rates[bad] <= 0.01, (bad, rates[bad])


def _extract_cases():
    from data_quality_spark.pipeline.pages import make_html

    return [
        make_html("hello world\nsecond <p> & line"),
        make_html("plain text here", variant="no_main"),
        make_html("invisible body", variant="empty_main"),
        b"<html><body>no main at all</body></html>",
        None,
        # real-HTML tolerance (round 3)
        make_html("attributed main\nwith lines", variant="attr_main"),
        make_html("UPPER tags body", variant="upper_tags"),
        make_html("she said \"hi\" and it's fine", variant="entities"),
        b'<html><MAIN ID="X">\n<P>mixed CASE</P><p a="1">attrs</p></MAIN></html>',
        b"<html><main><pre>not a paragraph</pre><p>real</p></main></html>",
        # unicode whitespace inside a tag: JVM \s is ASCII-only, so
        # <main\xa0...> is NOT a main tag — the python twin must agree
        # (re.ASCII) instead of extracting via its unicode-aware \s
        "<html><main\xa0id='x'><p>nbsp tag</p></main></html>".encode(),
        "<html><main><p>nb\xa0sp body</p></main></html>".encode(),
    ]


def test_extract_dual_path_parity(spark):
    """native_extract must agree byte-for-byte with py_extract on every html
    shape: normal <main>, NO <main> (→ NULL, so the pipeline falls back to
    raw text), empty <main></main> (→ ""), entity escapes, NULL html, and
    the round-3 real-HTML shapes (attributes, uppercase tags, &quot;/&#39;
    entities, <pre> non-paragraph)."""
    from data_quality_spark.pipeline import extract

    cases = _extract_cases()
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i int, html binary")
    native = {
        r["i"]: r["t"]
        for r in df.select(
            "i", extract.native_extract(F.col("html")).alias("t")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert native[i] == extract.py_extract(c), (i, native[i])
    assert native[0] == "hello world\nsecond <p> & line"
    assert native[1] is None and native[3] is None and native[4] is None
    assert native[2] == ""
    assert native[5] == "attributed main\nwith lines"
    assert native[6] == "UPPER tags body"
    assert native[7] == "she said \"hi\" and it's fine"
    assert native[8] == "mixed CASE\nattrs"
    assert native[9] == "real"


def test_extract_staged_path_parity(spark):
    """with_extracted (the staged hot path: one full-document regex per row)
    must agree byte-for-byte with py_extract, and apply the fallback column
    exactly when extraction yields NULL."""
    from data_quality_spark.pipeline import extract

    cases = _extract_cases()
    df = spark.createDataFrame(
        [(i, c, f"fallback-{i}") for i, c in enumerate(cases)],
        "i int, html binary, text string",
    )
    out = {
        r["i"]: r["text_extracted"]
        for r in extract.with_extracted(df).collect()
    }
    for i, c in enumerate(cases):
        exp = extract.py_extract(c)
        if exp is None:
            exp = f"fallback-{i}"
        assert out[i] == exp, (i, out[i])
    # no staged aux column may leak
    assert all(not c.startswith("__aux_") for c in extract.with_extracted(df).columns)


def test_pipeline_resume(spark, fixture_path, tmp_path):
    out = str(tmp_path / "qf_out")
    s1 = run_pipeline(spark, fixture_path, out, n_buckets=4)
    assert s1["buckets_done"] == 4 and s1["buckets_skipped"] == 0
    total_kept = s1["rows_kept"]
    # restart: everything skipped, nothing recomputed
    s2 = run_pipeline(spark, fixture_path, out, n_buckets=4)
    assert s2["buckets_done"] == 0 and s2["buckets_skipped"] == 4
    # partial manifest: drop one bucket → exactly one recomputed
    m = json.load(open(os.path.join(out, "_manifest.json")))
    m.pop("bucket=2")
    json.dump(m, open(os.path.join(out, "_manifest.json"), "w"))
    s3 = run_pipeline(spark, fixture_path, out, n_buckets=4)
    assert s3["buckets_done"] == 1 and s3["buckets_skipped"] == 3
    kept = spark.read.parquet(os.path.join(out, "kept", "bucket=*"))
    assert kept.count() == total_kept
    assert kept.filter(F.col("keep") == False).count() == 0  # noqa: E712


def test_ppl_buckets_and_confidence_rule(spark, fixture_path):
    """CCNet-style ppl terciles annotate every row (head ⊂ cleaner text),
    and the optional language-confidence WARNING rule fires only when
    configured — engine and pandas oracle agreeing on both."""
    from data_quality_spark.pipeline.quality_filter import QFConfig

    cfg = QFConfig(min_lang_margin=0.05)
    df = spark.read.parquet(fixture_path).limit(300)
    ann = annotate_pages(df, cfg)
    rows = ann.select("url", "ppl", "ppl_bucket", "fired_rules", "keep",
                      "fault_class").collect()
    buckets = {r["ppl_bucket"] for r in rows}
    assert buckets <= {"head", "middle", "tail"} and "head" in buckets
    for r in rows:
        exp = ("head" if r["ppl"] <= cfg.ppl_head
               else "middle" if r["ppl"] <= cfg.ppl_tail else "tail")
        assert r["ppl_bucket"] == exp
    fired_conf = [r for r in rows if "lang_low_confidence" in r["fired_rules"]]
    assert fired_conf  # gibberish rows have ~zero margin
    # warning-only: the rule alone never drops
    import pyarrow.parquet as pq

    pdf = pq.read_table(fixture_path).to_pandas().head(300)
    ora = O.annotate_pandas(pdf, cfg)
    multi = set(ora["url"][ora["url"].duplicated(keep=False)])  # dup-url rows
    exp_fired = {u: list(f) for u, f in zip(ora["url"], ora["fired_rules"])}
    exp_bucket = {u: b for u, b in zip(ora["url"], ora["ppl_bucket"])}
    mism = 0
    for r in rows:
        if r["url"] in multi:  # url keying is ambiguous for dup-url rows
            continue
        if list(r["fired_rules"]) != exp_fired[r["url"]]:
            mism += 1
        assert r["ppl_bucket"] == exp_bucket[r["url"]], r["url"]
    assert mism <= 2  # same tolerance as the full-corpus fired-rules test


def test_pipeline_dedup_stage(spark, fixture_path, tmp_path):
    """run_pipeline(dedup='exact') keeps ONE survivor per distinct scrubbed
    text; default mode leaves duplicates in place (only flags them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # fixture + exact-text duplicates under fresh urls
    src = pq.read_table(fixture_path)
    pdf = src.to_pandas()
    clean = pdf[pdf.fault_class == "clean"].head(50).copy()
    clean["url"] = ["https://dup-host.example/copy/" + str(i) for i in range(len(clean))]
    dup_path = str(tmp_path / "pages_with_dups")
    os.makedirs(dup_path, exist_ok=True)
    pq.write_table(src, os.path.join(dup_path, "part-0.parquet"))
    pq.write_table(
        pa.Table.from_pandas(clean, schema=src.schema, preserve_index=False),
        os.path.join(dup_path, "part-1.parquet"),
    )

    out_plain = str(tmp_path / "out_plain")
    out_dedup = str(tmp_path / "out_dedup")
    s_plain = run_pipeline(spark, dup_path, out_plain, n_buckets=2)
    s_dedup = run_pipeline(spark, dup_path, out_dedup, n_buckets=2, dedup="exact")
    assert s_dedup["rows_kept"] < s_plain["rows_kept"]
    _assert_manifest_matches_kept(out_plain)
    _assert_manifest_matches_kept(out_dedup)
    kept = spark.read.parquet(os.path.join(out_dedup, "kept"))
    n = kept.count()
    n_distinct = kept.select("text_scrubbed").distinct().count()
    assert n == n_distinct  # one survivor per distinct text


def test_pipeline_clf_stage_parity(spark, fixture_path, tmp_path):
    """Optional fused classifier gate: engine (in-Arrow scoring riding the
    langid/ppl crossing) and pandas oracle agree exactly on clf columns,
    fired rules and keep; the rule actually drops rows; default config is
    unchanged (no clf columns, no clf rule)."""
    import pyarrow.parquet as pq

    from data_quality_spark.ops import textops as T
    from data_quality_spark.pipeline.quality_filter import QFConfig

    docs = spark.read.parquet(fixture_path)
    w = T.train_nb_classifier(docs, "url", "text", F.col("lang") == "en")
    wpath = str(tmp_path / "clf_weights")
    w.write.parquet(wpath)

    cfg = QFConfig(clf_weights_path=wpath, clf_threshold=0.5)
    eng = annotate_pages(spark.read.parquet(fixture_path), cfg).select(
        "url", "warc_ts", "clf_n_toks", "clf_logit", "clf_score",
        "fired_rules", "keep",
    ).toPandas()
    orc = O.annotate_pandas(pq.read_table(fixture_path).to_pandas(), cfg)
    e = eng.set_index(["url", "warc_ts"]).sort_index()
    o = orc.set_index(["url", "warc_ts"]).sort_index()
    assert len(e) == len(o)
    assert list(e["keep"]) == list(o["keep"])
    assert [sorted(f) for f in e["fired_rules"]] == \
           [sorted(f) for f in o["fired_rules"]]
    for c in ("clf_n_toks", "clf_logit", "clf_score"):
        ev = [None if pd.isna(v) else round(float(v), 9) for v in e[c]]
        ov = [None if v is None or pd.isna(v) else round(float(v), 9)
              for v in o[c]]
        assert ev == ov, c
    assert any("clf_low_quality" in f for f in e["fired_rules"])
    assert e["keep"].sum() < len(e)

    # default config: stage off, schema and rule set unchanged
    base = annotate_pages(spark.read.parquet(fixture_path))
    assert "clf_score" not in base.columns
    from data_quality_spark.pipeline.quality_filter import quality_rules
    assert all(r.rule_id != "clf_low_quality" for r in quality_rules())


def test_pipeline_bloom_cross_run_dedup(spark, fixture_path, tmp_path):
    """Second run over a re-crawl (same content, fresh urls) against the
    persisted cross-run Bloom index keeps NOTHING the first run already
    kept; without the index the same batch keeps its usual rows."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    idx = str(tmp_path / "bloom_idx")
    out_a = str(tmp_path / "out_a")
    s1 = run_pipeline(spark, fixture_path, out_a, n_buckets=2, bloom_index=idx)
    assert s1["rows_kept"] > 0
    idx_a = [tuple(r) for r in spark.read.parquet(idx).collect()]
    assert len(idx_a) > 0

    # batch B = full re-crawl under new urls
    src = pq.read_table(fixture_path)
    pdf = src.to_pandas()
    pdf["url"] = ["https://recrawl.example/p/" + str(i) for i in range(len(pdf))]
    b_path = str(tmp_path / "pages_recrawl.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=src.schema, preserve_index=False), b_path
    )

    out_ctl = str(tmp_path / "out_ctl")
    s_ctl = run_pipeline(spark, b_path, out_ctl, n_buckets=2)
    assert s_ctl["rows_kept"] > 0  # without the index the re-crawl is kept

    out_b = str(tmp_path / "out_b")
    s2 = run_pipeline(spark, b_path, out_b, n_buckets=2, bloom_index=idx)
    # everything run A kept is filtered out of run B; the only survivors
    # are texts A dropped via url-DEPENDENT rules (B has fresh unique urls)
    # — which by construction are not in the index
    assert s2["rows_kept"] < s_ctl["rows_kept"]
    _assert_manifest_matches_kept(out_a)
    _assert_manifest_matches_kept(out_b)
    kept_a = {r["text_scrubbed"] for r in
              spark.read.parquet(os.path.join(out_a, "kept"))
              .select("text_scrubbed").collect()}
    kept_b = {r["text_scrubbed"] for r in
              spark.read.parquet(os.path.join(out_b, "kept"))
              .select("text_scrubbed").collect()}
    assert kept_b.isdisjoint(kept_a)

    # the rewritten index is the bit_or merge of run A's index with the
    # filter of run B's kept texts
    from data_quality_spark.ops import dedup as D
    from data_quality_spark.pipeline.quality_filter import PIPELINE_BLOOM_M

    want = dict(idx_a)
    if os.path.isdir(os.path.join(out_b, "kept")):
        new_b = D.bloom_build(
            spark.read.parquet(os.path.join(out_b, "kept")),
            "text_scrubbed", m=PIPELINE_BLOOM_M,
        )
        for w, bits in new_b.collect():
            want[w] = want.get(w, 0) | bits
    before = sorted(map(tuple, spark.read.parquet(idx).collect()))
    assert before == sorted(want.items())

    # the index survives a no-new-content run unchanged (bit_or idempotent)
    out_b2 = str(tmp_path / "out_b2")
    run_pipeline(spark, b_path, out_b2, n_buckets=2, bloom_index=idx)
    after = sorted(map(tuple, spark.read.parquet(idx).collect()))
    assert before == after


def test_pipeline_remote_uri_via_hadoop_fs(spark, fixture_path, tmp_path):
    """out_dir / bloom_index as URIs (file:// here) drive the driver-side
    metadata — manifest, Bloom (m,k) sidecar, partition cleanup, existence
    probes — through the Hadoop FileSystem API (pipeline.fsio), the exact
    code path an hdfs:// or s3a:// run takes. Round 4 rejected these
    outright (_require_local); now they must WORK: resume skips completed
    buckets read from a remote manifest, and a second run resolves the
    index geometry from the remote sidecar (full cross-run suppression)."""
    from data_quality_spark.pipeline import fsio
    from data_quality_spark.pipeline.quality_filter import _bloom_meta_path

    out_local = tmp_path / "out_uri"
    idx_local = tmp_path / "bloom_idx_uri"
    out_uri = "file://" + str(out_local)
    idx_uri = "file://" + str(idx_local)

    s1 = run_pipeline(spark, fixture_path, out_uri, n_buckets=2,
                      bloom_index=idx_uri)
    assert s1["rows_kept"] > 0
    # metadata landed where the URI points (visible on the local disk twin)
    assert (out_local / "_manifest.json").exists()
    assert (idx_local / "_bloom_meta.json").exists()
    manifest = json.loads((out_local / "_manifest.json").read_text())
    assert manifest["_n_buckets"] == 2

    # resume reads the manifest back through the FS API: nothing pending
    s2 = run_pipeline(spark, fixture_path, out_uri, n_buckets=2,
                      bloom_index=idx_uri)
    assert s2["buckets_done"] == 0 and s2["buckets_skipped"] == 2

    # a FRESH out_dir over the same content: the sidecar (read via the FS
    # API) supplies m, and the populated index suppresses every kept text
    out2_uri = "file://" + str(tmp_path / "out_uri_b")
    s3 = run_pipeline(spark, fixture_path, out2_uri, n_buckets=2,
                      bloom_index=idx_uri)
    assert s3["rows_kept"] == 0

    # fsio primitive round-trip on the URI scheme (covers read_text/
    # write_text/exists/has_glob/delete on the Hadoop path)
    meta_uri = _bloom_meta_path(idx_uri)
    assert fsio.is_uri(meta_uri) and fsio.exists(spark, meta_uri)
    assert set(fsio.read_json(spark, meta_uri)) == {"m", "k"}
    probe = "file://" + str(tmp_path / "fsio_probe" / "x.json")
    fsio.mkdirs(spark, "file://" + str(tmp_path / "fsio_probe"))
    fsio.write_text(spark, probe, '{"a": 1}')
    assert fsio.read_json(spark, probe) == {"a": 1}
    assert fsio.has_glob(spark, "file://" + str(tmp_path / "fsio_probe" / "*.json"))
    fsio.delete(spark, "file://" + str(tmp_path / "fsio_probe"))
    assert not fsio.exists(spark, probe)


def test_pipeline_bloom_meta_pins_geometry(spark, fixture_path, tmp_path):
    """The index artifact records (m, k): a later run that omits bloom_m
    reuses the recorded m, and one that contradicts it fails loudly instead
    of silently probing mod the wrong modulus (which disables dedup)."""
    import json as _json

    import pytest

    from data_quality_spark.pipeline.quality_filter import (
        _bloom_meta_path,
        run_pipeline,
    )

    idx = str(tmp_path / "idx")
    m1 = 1 << 22
    run_pipeline(spark, fixture_path, str(tmp_path / "o1"), n_buckets=2,
                 bloom_index=idx, bloom_m=m1)
    meta = _json.load(open(_bloom_meta_path(idx)))
    assert meta["m"] == m1 and meta["k"] == 4

    # omitted bloom_m on the rerun: recorded m governs → full suppression
    s2 = run_pipeline(spark, fixture_path, str(tmp_path / "o2"), n_buckets=2,
                      bloom_index=idx)
    assert s2["rows_kept"] == 0

    # contradicting explicit bloom_m: loud error, index untouched
    with pytest.raises(ValueError, match="built with m"):
        run_pipeline(spark, fixture_path, str(tmp_path / "o3"), n_buckets=2,
                     bloom_index=idx, bloom_m=1 << 21)


def test_bloom_legacy_index_requires_explicit_m(spark, fixture_path, tmp_path):
    """A bitmap on disk WITHOUT the (m, k) sidecar — legacy artifact or a
    crash orphaned between the parquet overwrite and the sidecar write —
    must demand an explicit bloom_m: guessing a default probes mod the
    wrong modulus (dedup silently off) and the next merge corrupts the
    index permanently."""
    import pytest

    from data_quality_spark.ops import dedup as D
    from data_quality_spark.pipeline.quality_filter import run_pipeline

    idx = str(tmp_path / "legacy_idx")
    df = spark.createDataFrame([(i, f"text {i}") for i in range(50)],
                               "id bigint, t string")
    D.bloom_build(df, "t", m=1 << 20).coalesce(1).write.parquet(idx)

    with pytest.raises(ValueError, match="predates"):
        run_pipeline(spark, fixture_path, str(tmp_path / "o1"), n_buckets=2,
                     bloom_index=idx)
    # explicit m unblocks the legacy artifact (and stamps the sidecar)
    s = run_pipeline(spark, fixture_path, str(tmp_path / "o2"), n_buckets=2,
                     bloom_index=idx, bloom_m=1 << 20)
    assert s["buckets_done"] == 2


def test_bloom_probe_rejects_larger_m_artifact(spark):
    """Probing a filter built under a LARGER m than the probe's m raises a
    clear error (previously an opaque numpy IndexError)."""
    import pytest

    from data_quality_spark.ops import dedup as D

    df = spark.createDataFrame([(i, f"text {i}") for i in range(50)],
                               "id bigint, t string")
    big = D.bloom_build(df, "t", m=1 << 20)
    with pytest.raises(ValueError, match="larger m"):
        D.bloom_maybe_seen(df, big, "t", m=4096).collect()


def test_bloom_saturation_warns(spark):
    """A probe against a past-half-full filter emits the saturation warning
    (the silent failure mode of an undersized bloom_m)."""
    import pytest

    from data_quality_spark.ops import dedup as D

    df = spark.createDataFrame([(i, f"text {i}") for i in range(200)],
                               "id bigint, t string")
    tiny = D.bloom_build(df, "t", m=256)
    with pytest.warns(RuntimeWarning, match="full"):
        D.bloom_maybe_seen(df, tiny, "t", m=256)


def test_pipeline_resume_clears_stale_partition(spark, fixture_path, tmp_path):
    """A crashed earlier attempt can leave files in a pending bucket's
    partition; the resume run must CLEAR them before its dynamic-overwrite
    write, never count them as its own output."""
    import shutil

    out = str(tmp_path / "qf_stale")
    s1 = run_pipeline(spark, fixture_path, out, n_buckets=4)
    total = s1["rows_kept"]
    # simulate a crashed attempt: bucket 1 pending again + stale junk inside
    m_path = os.path.join(out, "_manifest.json")
    m = json.load(open(m_path))
    m.pop("bucket=1")
    json.dump(m, open(m_path, "w"))
    stale_src = os.path.join(out, "kept", "bucket=2")
    stale_dst = os.path.join(out, "kept", "bucket=1")
    for f in os.listdir(stale_src):  # double bucket 1's files with copies
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(stale_src, f),
                        os.path.join(stale_dst, "stale-" + f))
    s2 = run_pipeline(spark, fixture_path, out, n_buckets=4)
    assert s2["buckets_done"] == 1
    kept = spark.read.parquet(os.path.join(out, "kept", "bucket=*"))
    assert kept.count() == total  # stale files gone, nothing double-counted
    m2 = json.load(open(m_path))
    assert sum(v["rows_kept"] for k, v in m2.items()
               if k.startswith("bucket=")) == total


def test_pipeline_all_dropped_run(spark, tmp_path):
    """A run where EVERY row fails the filter must complete cleanly with
    zero kept rows and a full manifest: the kept write's observed sums
    over no rows are NULL, and count as zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        {"url": f"https://h/{i}", "warc_ts": None, "html": None,
         "text": "", "lang": "en", "fault_class": "empty"}
        for i in range(40)
    ]
    src = str(tmp_path / "all_bad")
    os.makedirs(src, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string()), ("fault_class", pa.string())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(src, "p.parquet"))
    out = str(tmp_path / "out_bad")
    s = run_pipeline(spark, src, out, n_buckets=2)
    assert s["buckets_done"] == 2 and s["rows_kept"] == 0
    m = json.load(open(os.path.join(out, "_manifest.json")))
    assert all(v["rows_kept"] == 0 for k, v in m.items()
               if k.startswith("bucket="))
    _assert_manifest_matches_kept(out)


def test_metrics_by_partition(spark, fixture_path):
    ann = annotate_pages(spark.read.parquet(fixture_path))
    m = metrics_by_partition(ann).toPandas()
    assert m["n_rows"].sum() == N_ROWS
    assert (m["n_dropped"] <= m["n_rows"]).all()
    assert m["symbol_ratio"].sum() > 0  # some spam caught in every run


def test_native_pii_detector_matches_python(spark):
    """The two-stage native detector (char-class gate + alternation) must
    agree with py_pii_found row-for-row, including gate edge cases."""
    from data_quality_spark.functions import scrub

    cases = [
        "plain clean text with words only",
        "mail me at a.b@c.example today",          # @ gate
        "my card 4111-1111-1111-1111 thanks",      # digit gate
        "call +39 333 123 4567 now",               # + gate
        "code RSSMRA85T10A562S here",              # fiscal
        "ateco 62.01.00 registered",               # ateco
        "ip 192.168.12.34 logged",                 # ip
        "you absolute IDIOT",                      # toxic, no gate chars
        "idiotic but not the word",                # gate-free, toxic probe
        "numbers 123 but no pii",                  # gate true, detect false
        "", None,
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i int, t string")
    from pyspark.sql import functions as F2
    got = {
        r["i"]: r["f"]
        for r in df.select(
            "i", F2.coalesce(scrub.native_pii_found(F2.col("t")), F2.lit(False)).alias("f")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == scrub.py_pii_found(c), (i, c)


def test_pipeline_pii_detector_evaluated_once(spark, fixture_path):
    """The pii rule and the scrub gate must share ONE detector evaluation:
    the expensive pattern alternation appears exactly once in the executed
    plan of the full annotated frame."""
    ann = annotate_pages(spark.read.parquet(fixture_path).limit(50))
    plan = ann._jdf.queryExecution().executedPlan().toString()
    from data_quality_spark.functions.scrub import _PII_DETECT, SCRUB_PATTERNS
    # each pattern appears once inside the shared detect ALTERNATION and
    # once as its own regexp_replace in the (gated) rewrite chain — but the
    # alternation itself must appear exactly once (rule + scrub share it)
    n = plan.count(_PII_DETECT)
    assert n == 1, f"PII detector alternation appears {n}x in the plan"
    # and each pattern: alternation + one replace = exactly 2
    email_pat = SCRUB_PATTERNS[0][1]
    assert plan.count(email_pat) == 2


def test_host_blocklist_rule(spark, fixture_path):
    """Optional RefinedWeb-style URL stage: blocklisting a generated host
    fires a FAIL rule on exactly its rows, engine and pandas oracle
    agreeing; default config (stage off) is unchanged."""
    import pyarrow.parquet as pq

    from data_quality_spark.pipeline.quality_filter import QFConfig

    cfg = QFConfig(blocked_hosts=("big-portal.example",))
    df = spark.read.parquet(fixture_path).limit(300)
    rows = annotate_pages(df, cfg).select("url", "fired_rules", "keep").collect()
    hit = [r for r in rows if "host_blocklisted" in r["fired_rules"]]
    assert hit and all("//big-portal.example/" in r["url"] for r in hit)
    assert all(not r["keep"] for r in hit)  # severity fail drops the row
    clean = [r for r in rows if "//big-portal.example/" not in r["url"]]
    assert all("host_blocklisted" not in r["fired_rules"] for r in clean)
    pdf = pq.read_table(fixture_path).to_pandas().head(300)
    ora = O.annotate_pandas(pdf, cfg)
    multi = set(ora["url"][ora["url"].duplicated(keep=False)])
    exp = {u: list(f) for u, f in zip(ora["url"], ora["fired_rules"])}
    mism = sum(
        1 for r in rows
        if r["url"] not in multi and list(r["fired_rules"]) != exp[r["url"]]
    )
    assert mism <= 2  # same tolerance as the full-corpus fired-rules test


def test_url_spam_rule(spark, fixture_path):
    """Optional RefinedWeb-style SOFT url scoring: weighting a fragment of
    a generated host to the threshold fires a FAIL rule on exactly its
    rows, engine and pandas oracle agreeing; sub-threshold weights keep
    the rows; default config (stage off) is unchanged."""
    import pyarrow.parquet as pq

    from data_quality_spark.pipeline.quality_filter import QFConfig

    cfg = QFConfig(spam_fragments=(("portal", 100),))
    df = spark.read.parquet(fixture_path).limit(300)
    rows = annotate_pages(df, cfg).select("url", "fired_rules", "keep").collect()
    hit = [r for r in rows if "url_spam" in r["fired_rules"]]
    assert hit and all("portal" in r["url"].lower() for r in hit)
    assert all(not r["keep"] for r in hit)  # severity fail drops the row
    clean = [r for r in rows if "portal" not in r["url"].lower()]
    assert all("url_spam" not in r["fired_rules"] for r in clean)
    # sub-threshold points: rule never fires
    low = QFConfig(spam_fragments=(("portal", 40),))
    rows_low = annotate_pages(df, low).select("fired_rules").collect()
    assert all("url_spam" not in r["fired_rules"] for r in rows_low)
    pdf = pq.read_table(fixture_path).to_pandas().head(300)
    ora = O.annotate_pandas(pdf, cfg)
    multi = set(ora["url"][ora["url"].duplicated(keep=False)])
    exp = {u: list(f) for u, f in zip(ora["url"], ora["fired_rules"])}
    mism = sum(
        1 for r in rows
        if r["url"] not in multi and list(r["fired_rules"]) != exp[r["url"]]
    )
    assert mism <= 2  # same tolerance as the full-corpus fired-rules test


def test_host_low_rank_rule(spark, fixture_path, tmp_path):
    """Optional CCNet-style crawl-rank prior: a persisted host_rank
    artifact listing a generated host below the threshold fires a FAIL
    rule on exactly its rows; hosts ABSENT from the artifact never fire
    (no evidence, no verdict); engine and pandas oracle agree."""
    import pyarrow.parquet as pq

    from data_quality_spark.pipeline.quality_filter import QFConfig

    rank_path = str(tmp_path / "host_ranks.parquet")
    spark.createDataFrame(
        [("big-portal.example", 10_000_000, 0.00001),
         ("nice-blog.example", 900_000_000_000, 0.9)],
        "host string, rank_units bigint, rank double",
    ).write.parquet(rank_path)
    cfg = QFConfig(host_rank_path=rank_path, min_host_rank=0.5)
    df = spark.read.parquet(fixture_path).limit(300)
    rows = annotate_pages(df, cfg).select("url", "fired_rules", "keep").collect()
    hit = [r for r in rows if "host_low_rank" in r["fired_rules"]]
    assert hit and all("//big-portal.example/" in r["url"] for r in hit)
    assert all(not r["keep"] for r in hit)  # severity fail drops the row
    # every host not in the artifact (or above threshold) never fires
    clean = [r for r in rows if "//big-portal.example/" not in r["url"]]
    assert all("host_low_rank" not in r["fired_rules"] for r in clean)
    pdf = pq.read_table(fixture_path).to_pandas().head(300)
    ora = O.annotate_pandas(pdf, cfg)
    multi = set(ora["url"][ora["url"].duplicated(keep=False)])
    exp = {u: list(f) for u, f in zip(ora["url"], ora["fired_rules"])}
    mism = sum(
        1 for r in rows
        if r["url"] not in multi and list(r["fired_rules"]) != exp[r["url"]]
    )
    assert mism <= 2  # same tolerance as the full-corpus fired-rules test


def test_host_rank_broadcast_gated_on_artifact_size(spark, tmp_path, monkeypatch):
    """r4 ADVICE: the broadcast hint must be gated on the artifact's
    on-disk size — a small artifact gets the hint (pages side never
    shuffles), an over-ceiling one warns and leaves the strategy to AQE
    instead of force-broadcasting into a driver/executor OOM."""
    from data_quality_spark.pipeline import quality_filter as QF
    from data_quality_spark.pipeline.quality_filter import QFConfig, with_host_rank

    rank_path = str(tmp_path / "ranks.parquet")
    spark.createDataFrame(
        [("a.example", 0.9), ("b.example", 0.1)], "host string, rank double"
    ).write.parquet(rank_path)
    pages = spark.createDataFrame(
        [(f"https://a.example/{i}",) for i in range(10)], "url string"
    )
    cfg = QFConfig(host_rank_path=rank_path)

    # under the ceiling: hint applied → broadcast join in the plan
    plan = with_host_rank(pages, cfg)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan

    # over the ceiling (forced via monkeypatch): loud warning, no hint
    monkeypatch.setattr(QF, "HOST_RANK_BROADCAST_MAX_BYTES", 0)
    with pytest.warns(UserWarning, match="auto-broadcast"):
        out = with_host_rank(pages, cfg)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in opt and "hints=" not in opt
    # and the join result is unchanged either way
    assert sorted(r["host_rank"] for r in out.collect()) == [0.9] * 10


def test_output_sink_parquet_fallback(spark, tmp_path):
    """Sink seam without an Iceberg runtime: parquet round-trips with
    partitioning, and an explicit fmt='iceberg' ask fails LOUDLY (never a
    silent downgrade)."""
    from data_quality_spark.sources import sinks as S

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    out = str(tmp_path / "sink_out")
    used = S.write_output_table(df, out, partition_by=["v"])
    assert used == "parquet"
    back = S.read_output_table(spark, out)
    assert sorted(map(tuple, back.select("id", "v").collect())) == [
        (1, "a"), (2, "b")]
    if not S.iceberg_available(spark):
        with pytest.raises(RuntimeError, match="Iceberg"):
            S.write_output_table(df, "cat.db.t", fmt="iceberg")


def test_output_sink_iceberg_snapshot(spark, tmp_path):
    """Iceberg snapshot write + read-back — runs only where the
    iceberg-spark-runtime jar is on the classpath (not this sandbox)."""
    from data_quality_spark.sources import sinks as S

    if not S.iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime on the classpath")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    used = S.write_output_table(df, "spark_catalog.default.sink_t")
    assert used == "iceberg"
    assert S.read_output_table(
        spark, "spark_catalog.default.sink_t").count() == 2


def test_rule_ablation_counts(spark):
    """Per-rule ablation: n_fired counts every firing doc, n_sole only
    docs where that rule fires alone; clean docs contribute nothing."""
    from data_quality_spark.pipeline.quality_filter import rule_ablation

    df = spark.createDataFrame(
        [(1, ["word_count"]), (2, ["word_count", "perplexity"]),
         (3, ["perplexity"]), (4, []), (5, ["word_count"])],
        "id bigint, fired_rules array<string>",
    )
    got = {r["rule"]: (r["n_fired"], r["n_sole"]) for r in
           rule_ablation(df).collect()}
    assert got == {"word_count": (3, 2), "perplexity": (2, 1)}


def test_badwords_rule(spark, fixture_path):
    """Optional C4-style bad-words gate: listing a real corpus word fires a
    FAIL rule on exactly the rows whose extracted text contains it as a
    whole word, engine and pandas oracle agreeing; default config (stage
    off) is unchanged."""
    import re

    import pyarrow.parquet as pq

    from data_quality_spark.pipeline.quality_filter import QFConfig

    df = spark.read.parquet(fixture_path).limit(300)
    # pick a real corpus word so the rule fires on some rows
    base = annotate_pages(df).where(
        "text_extracted IS NOT NULL AND length(text_extracted) > 20"
    ).select("text_extracted").first()
    word = next(w.lower() for w in base["text_extracted"].split()
                if len(w) >= 4 and w.isascii() and w.isalnum())
    cfg = QFConfig(badwords=(word,))

    rows = annotate_pages(df, cfg).select(
        "url", "text_extracted", "fired_rules", "keep").collect()
    hit = [r for r in rows if "badwords_found" in r["fired_rules"]]
    assert hit and all(not r["keep"] for r in hit)  # fail severity drops
    rx = re.compile(r"(?i)\b(?:" + word + r")\b", re.ASCII)
    for r in rows:
        expect = bool(r["text_extracted"]) and bool(
            rx.search(r["text_extracted"]))
        assert ("badwords_found" in r["fired_rules"]) == expect, r["url"]

    pdf = pq.read_table(fixture_path).to_pandas().head(300)
    ora = O.annotate_pandas(pdf, cfg)
    multi = set(ora["url"][ora["url"].duplicated(keep=False)])
    exp = {u: list(f) for u, f in zip(ora["url"], ora["fired_rules"])}
    mism = sum(
        1 for r in rows
        if r["url"] not in multi and list(r["fired_rules"]) != exp[r["url"]]
    )
    assert mism <= 2  # same tolerance as the full-corpus fired-rules test


def test_run_pipeline_warc_input(spark, tmp_path):
    from data_quality_spark.pipeline.quality_filter import run_pipeline
    from data_quality_spark.sources import warc as W

    body = ("<html><main><p>"
            + "This is the story of a quiet town and of the people in it. " * 8
            + "</p></main></html>").encode()
    W.write_warc(str(tmp_path / "seg.warc.gz"),
                 [(f"https://ex{i}.org/p", "2024-03-04T05:06:07Z", body)
                  for i in range(6)], gzip=True)
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, str(tmp_path / "seg.warc.gz"), out,
                         n_buckets=2, input_format="warc")
    assert stats["buckets_done"] == 2
    kept = spark.read.parquet(out + "/kept")
    assert kept.count() == stats["rows_kept"] > 0
    assert "text_scrubbed" in kept.columns


def test_run_pipeline_warc_cdx_input(spark, tmp_path):
    """CDX-indexed segments feed the pipeline; omitting the index with
    input_format='warc_cdx' is a loud error."""
    import pytest

    from data_quality_spark.pipeline.quality_filter import run_pipeline
    from data_quality_spark.sources import warc as W

    body = ("<html><main><p>"
            + "This is the story of a quiet town and of the people in it. " * 8
            + "</p></main></html>").encode()
    W.write_warc_cdx(str(tmp_path / "seg.warc.gz"),
                     [(f"https://ex{i}.org/p", "2024-03-04T05:06:07Z", body)
                      for i in range(6)],
                     str(tmp_path / "seg.cdx"))
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, str(tmp_path), out, n_buckets=2,
                         input_format="warc_cdx",
                         cdx_index=str(tmp_path / "seg.cdx"))
    assert stats["buckets_done"] == 2
    kept = spark.read.parquet(out + "/kept")
    assert kept.count() == stats["rows_kept"] > 0
    assert "text_scrubbed" in kept.columns

    with pytest.raises(ValueError, match="cdx_index"):
        run_pipeline(spark, str(tmp_path), str(tmp_path / "out2"),
                     n_buckets=2, input_format="warc_cdx")


def test_pipeline_rejects_mismatched_clf_geometry(spark, tmp_path, fixture_path):
    """A classifier artifact trained under a different hash bucket count
    must fail the pipeline loudly (sidecar gate) — never score garbage."""
    import pytest as _pytest

    from data_quality_spark.ops import textops as T
    from data_quality_spark.pipeline.quality_filter import (
        QFConfig,
        annotate_pages,
        with_model_scores,
    )

    docs = spark.read.parquet(fixture_path)
    w = T.train_nb_classifier(docs, "url", "text", F.col("lang") == "en",
                              buckets=64)
    wpath = str(tmp_path / "clf64.parquet")
    T.save_nb_weights(wpath, w, buckets=64)

    cfg = QFConfig(clf_weights_path=wpath, clf_threshold=0.5)
    with _pytest.raises(ValueError, match="buckets=64"):
        annotate_pages(docs, cfg).count()

    # same gate without the sidecar: row-count check catches it
    import os

    os.remove(wpath + ".meta.json")
    with _pytest.raises(ValueError, match="64 bucket rows"):
        with_model_scores(docs.withColumnRenamed("text", "text_extracted"),
                          cfg).count()


def test_meta_noindex_rule(spark):
    """Robots-meta gate: noindex pages (either attribute order) fire a
    FAIL rule computed from the raw html BEFORE the payload drop; pages
    without the directive (or with noindex under another meta name, or
    NULL html) never fire. Engine and pandas oracle agree row-for-row."""
    import pandas as pd

    from data_quality_spark.pipeline.quality_filter import QFConfig

    body = b"<main><p>plenty of ordinary stopword the and of text here</p></main>"
    rows = [
        ("https://a.example/1",
         b'<html><head><meta name="robots" content="noindex, nofollow">'
         b"</head>" + body + b"</html>"),
        ("https://a.example/2",
         b"<html><head><meta content='NOINDEX' name='robots'></head>"
         + body + b"</html>"),
        ("https://a.example/3",
         b'<html><head><meta name="viewport" content="noindex-lookalike">'
         b"</head>" + body + b"</html>"),
        ("https://a.example/4", body),
        ("https://a.example/5", None),
    ]
    cfg = QFConfig(drop_noindex=True)
    df = spark.createDataFrame(
        [(u, h, None, "fallback text here", "en") for u, h in rows],
        "url string, html binary, warc_ts timestamp, text string, lang string",
    )
    got = {r["url"]: r for r in
           annotate_pages(df, cfg)
           .select("url", "noindex_found", "fired_rules", "keep").collect()}
    fired = {u for u, r in got.items() if "meta_noindex" in r["fired_rules"]}
    assert fired == {"https://a.example/1", "https://a.example/2"}
    assert all(not got[u]["keep"] for u in fired)
    assert not got["https://a.example/3"]["noindex_found"]
    # pandas oracle parity on the same rows
    pdf = pd.DataFrame(
        [{"url": u, "html": h, "warc_ts": None,
          "text": "fallback text here", "lang": "en"} for u, h in rows]
    )
    ora = O.annotate_pandas(pdf, cfg)
    exp = {u: list(f) for u, f in zip(ora["url"], ora["fired_rules"])}
    for u, r in got.items():
        assert list(r["fired_rules"]) == exp[u], u
    # default config: stage off, column absent
    base = annotate_pages(df)
    assert "noindex_found" not in base.columns


def _pages_range(spark, n_parts):
    """8 pages over `n_parts` range slices: an input with a known partition
    count and no exchange of its own."""
    return spark.range(0, 8, 1, n_parts).select(
        F.concat(F.lit("https://a.example/"), F.col("id").cast("string"))
        .alias("url"),
        F.lit(b"<main><p>plain text</p></main>").alias("html"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("plain text").alias("text"),
        F.lit("en").alias("lang"),
    )


def _exchanges(df):
    """(partitioning, its arguments, shuffle origin) of every shuffle
    Exchange in df's physical plan, read from the unexecuted adaptive
    plan: building it runs no job."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"(?<!Broadcast)Exchange (\w+)\((.*)\), (\w+), \[plan_id",
                      plan)


def test_annotate_spreads_narrow_input_by_url_hash(spark):
    """A 1-partition input is repartitioned by url-hash to 2x default
    parallelism before the dup-url aggregate; an input that already has
    default-parallelism partitions is not."""
    dp = spark.sparkContext.defaultParallelism
    narrow = _exchanges(annotate_pages(_pages_range(spark, 1)))
    spread = [e for e in narrow if e[2] == "REPARTITION_BY_NUM"]
    assert spread, narrow
    for kind, args, _ in spread:
        assert kind == "hashpartitioning"
        assert re.fullmatch(rf"xxhash64\(url#\d+, 42\), {2 * dp}", args), args
    wide = _exchanges(annotate_pages(_pages_range(spark, dp)))
    # only the dup-url aggregate's own exchange on url remains
    assert wide and all(
        e[2] == "ENSURE_REQUIREMENTS" and e[1].startswith("url#") for e in wide
    ), wide


def test_resume_pins_n_buckets(spark, fixture_path, tmp_path):
    """Bucket membership is pmod(url-hash, n_buckets): resuming under a
    different bucket count would silently duplicate/skip documents, so the
    manifest records the geometry and a mismatched resume fails loudly."""
    out = str(tmp_path / "qf_pin")
    run_pipeline(spark, fixture_path, out, n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_pipeline(spark, fixture_path, out, n_buckets=8)
    # same geometry resumes fine (everything skipped)
    s = run_pipeline(spark, fixture_path, out, n_buckets=4)
    assert s["buckets_skipped"] == 4 and s["buckets_done"] == 0


def test_pipeline_failed_kept_write_leaves_no_manifest(
    spark, fixture_path, tmp_path, monkeypatch
):
    """The kept counts come from the write's Observation, so a failed write
    must raise out of run_pipeline before the manifest records any bucket
    as done; the next run then recomputes every bucket."""
    from pyspark.sql.readwriter import DataFrameWriter

    out = str(tmp_path / "qf_fail")
    real = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        if path.endswith("kept"):
            raise RuntimeError("kept write failed")
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="kept write failed"):
        run_pipeline(spark, fixture_path, out, n_buckets=2)
    assert not os.path.exists(os.path.join(out, "_manifest.json"))
    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    s = run_pipeline(spark, fixture_path, out, n_buckets=2)
    assert s["buckets_done"] == 2 and s["rows_kept"] > 0
    _assert_manifest_matches_kept(out)


# -- expression memo (colmemo): Column trees are built once per JVM ---------


def _digest(df):
    """(row count, order-independent hash of every column)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def test_memo_interleaved_configs_match_fresh_builds(spark, fixture_path):
    """Two configs interleaved in one session each get their own rule set,
    and every memoized annotation hash-equals a build from an empty memo."""
    from data_quality_spark import colmemo
    from data_quality_spark.pipeline.quality_filter import (
        DEFAULT_CONFIG,
        QFConfig,
        quality_rules,
    )

    cfg2 = QFConfig(badwords=("casino",), min_lang_margin=0.05)
    ids = {c: [r.rule_id for r in quality_rules(c, pii_col="pii_found")]
           for c in (DEFAULT_CONFIG, cfg2)}
    assert "badwords_found" in ids[cfg2] and "lang_low_confidence" in ids[cfg2]
    assert "badwords_found" not in ids[DEFAULT_CONFIG]

    def ann(cfg):
        df = annotate_pages(spark.read.parquet(fixture_path), cfg)
        return list(df.columns), _digest(df)

    seq = [DEFAULT_CONFIG, cfg2, DEFAULT_CONFIG, cfg2]
    memoized = [ann(c) for c in seq]
    n = colmemo.size()
    assert [ann(c) for c in seq] == memoized and colmemo.size() == n
    fresh = []
    for c in seq:
        colmemo.clear()
        fresh.append(ann(c))
    assert fresh == memoized
    assert memoized[0] != memoized[1]  # the configs really differ
    assert "f_n_words" in memoized[0][0] and "keep" in memoized[1][0]
    # a config holding a list (unhashable) still builds, outside the memo
    n = colmemo.size()
    listed = quality_rules(QFConfig(badwords=["casino"]))
    assert "badwords_found" in [r.rule_id for r in listed]
    assert colmemo.size() == n


def test_memo_mutated_rule_does_not_leak(spark):
    """quality_rules hands out copies: reassigning a returned Rule's fields
    (or editing the returned list) never reaches the next call."""
    from data_quality_spark.pipeline.quality_filter import quality_rules
    from data_quality_spark.rules.core import Rule

    first = quality_rules()
    orig_ids = [r.rule_id for r in first]
    orig_violation = first[1].violation
    first[1].violation = F.lit(True)
    first[1].rule_id = "hijacked"
    first[1].severity = "warning"
    first.append(Rule("extra", "extra rule", F.lit(True)))
    again = quality_rules()
    assert [r.rule_id for r in again] == orig_ids
    assert again[1].violation is orig_violation
    assert again[1].severity == "fail"
    # the mutated copy's flag follows its new violation, not the shared one
    assert first[1].flag_col() is not again[1].flag_col()
    assert again[1].flag_col() is quality_rules()[1].flag_col()


def test_memo_not_grown_by_quality_table_runs(spark, sf_dir):
    """QualityTable builds fresh Rules per session. run() (through
    RuleEngine.metrics) and annotate() memoize by (rule_id, description,
    severity), so repeating the same checks in new sessions adds nothing."""
    from data_quality_spark import colmemo
    from data_quality_spark.session import QualitySession

    def session_run():
        s = QualitySession(spark)
        t = s.table_from_parquet(f"{sf_dir}/orders.parquet", "orders",
                                 index_column="o_orderkey")
        t.check_index_not_null()
        t.check_columns_between_values(
            "o_totalprice", min_value=0, max_value=300000)
        t.run()
        t.annotate()

    session_run()
    n = colmemo.size()
    for _ in range(3):
        session_run()
        assert colmemo.size() == n


def test_py4j_round_trip_budget(spark, fixture_path):
    """A warm annotate_pages + metrics_by_partition build stays under 1,000
    py4j gateway round trips (reflection lookups, calls and GC deletes
    alike). Rebuilding the stage chain's Column trees per call costs ~6,000
    — this guard fails if that comes back. Garbage left by earlier tests is
    collected and its JVM deletes drained first, and cyclic GC is paused
    while counting, so only the build's own traffic is counted."""
    import gc
    import time

    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    n = [0]

    def counting(*a, **kw):
        n[0] += 1
        return real(*a, **kw)

    def build():
        raw = spark.read.parquet(fixture_path).withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(8)))
        ann = annotate_pages(raw.filter(F.col("bucket").isin(list(range(8)))))
        metrics_by_partition(ann, group_cols=["bucket", "part_id"])

    build()
    build()
    gc.collect()
    pending = getattr(client, "finalizer_deque", ())
    deadline = time.monotonic() + 30
    while pending and time.monotonic() < deadline:
        time.sleep(0.05)
    gc.disable()
    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = real
        gc.enable()
    assert n[0] <= 1000, f"{n[0]} py4j round trips for one warm build"


def test_driver_priority_names_registered():
    """Every name in __spark_entry__.DRIVER_PRIORITY is unique, is a
    registered query and has an oracle twin: queries() builds its leading
    window with `if name in merged`, so a renamed or deleted query would
    otherwise drop out of the verified window without a sound."""
    import __spark_entry__ as E

    names = E.DRIVER_PRIORITY
    assert len(names) == len(set(names))
    qs, oracles = E.queries(), E.oracle_sql()
    assert [n for n in names if n not in qs] == []
    assert [n for n in names if n not in oracles] == []
    assert list(qs)[: len(names)] == names


# one query per op whose result could depend on session state: element_at
# under ANSI, casts of non-numeric keys, NTZ range boundaries under a
# non-UTC zone, and the graph / sketch / sampling arithmetic
SESSION_SLICE = [
    "text_reg_domain", "match_dimension_floatkey", "period_overlap_global",
    "period_intersection", "dates_order_dim", "graph_conn_comp",
    "sketch_distinct_hll", "text_weighted_sample",
]


@pytest.mark.parametrize(
    "ansi, tz", [("false", "UTC"), ("true", "America/Los_Angeles")]
)
def test_registry_slice_on_any_session(spark, sf_dir, session_conf, ansi, tz):
    """The engine sets no session state of its own, so a registry query
    must hold on whatever session it is handed: run straight from
    Q.CHECK_QUERIES / QO.OPS_QUERIES under ANSI off + UTC and under ANSI on
    + a zone west of UTC, each query hash-equals its DuckDB twin."""
    import duckdb

    from data_quality_spark import queries as Q
    from data_quality_spark import queries_ops as QO
    from tools.compare_oracle import TABLES, value_hash

    session_conf({
        "spark.sql.ansi.enabled": ansi, "spark.sql.session.timeZone": tz,
    })
    registry = {**Q.CHECK_QUERIES, **QO.OPS_QUERIES}
    oracles = {**Q.CHECK_ORACLES, **QO.OPS_ORACLES}
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for name in SESSION_SLICE:
        want = value_hash(con.execute(oracles[name]).df())
        try:
            got = value_hash(registry[name](spark, sf_dir).toPandas())
        except Exception as ex:  # report every query, not the first error
            got = str(ex).splitlines()[0][:120]
        if got != want:
            bad[name] = got
    assert bad == {}
