"""HTML→text extraction — byte-stable dual path (SURVEY.md §7 hard part #1).

The extraction contract: content of the ``<main>`` element → one line per
``<p>`` block, entity-unescaped. NULL html → NULL text; html WITHOUT a
``<main>`` element → NULL (the pipeline falls back to the raw ``text``
column); an empty ``<main></main>`` → "".

Real-world tolerance (round 3): tags match case-insensitively and may carry
attributes (``<MAIN>``, ``<main class="content">``, ``<p id="x">``), and the
five standard entities the generator can emit are unescaped (&lt; &gt;
&quot; &#39; &amp; — &amp; strictly LAST, the inverse of escape order).
Tag names are matched exactly (``<p(?:\\s[^>]*)?>`` — ``<pre>`` is NOT a
paragraph), which is stricter than a bare ``<p[^>]*>``.

  * ``py_extract``     — pure-Python (the oracle and the test reference)
  * ``with_extracted`` — the ENGINE hot path: a staged two-projection JVM
    Column chain (below), whole-stage codegen, no Python.
  * ``native_extract`` — single-Column convenience form of the same
    semantics for expression contexts; NOT for the hot path (see below).

PERF SHAPE (round-3 regression fix): the round-2 variant referenced the
full-document RegexpExtract (``m0``) inside conditional when() branches —
conditional branches are outside codegen subexpression elimination, so the
multi-KB html was regex-scanned up to 3× per row (~40% slower extraction,
measured on 400k docs). ``with_extracted`` materializes ``m0`` ONCE as its
own projected column; every later reference is a BoundReference, so exactly
one full-document regex runs per row. CollapseProject will not re-inline the
alias (regexp_extract is non-cheap and multi-referenced), and both
projections fuse into one WholeStageCodegen stage. The opening tag's
variable length (attributes) is found with ``instr(m0, '>')`` — by the
grammar ``<main(?:\\s[^>]*)?>`` the opening tag ends at the FIRST '>', so
instr and the regex agree by construction.

Equality of the two engine paths and ``py_extract`` over the full synthetic
corpus (incl. the attributed/uppercase/entity fault classes) is pinned by
tests/test_pipeline.py (byte-identical per url — BASELINE.md invariant).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_spark.colmemo import memo

# Shared grammar — ALL paths compile exactly these strings (byte parity).
MAIN_PATTERN = r"<main(?:\s[^>]*)?>(.*)</main>"
PARA_PATTERN = r"<p(?:\s[^>]*)?>(.*?)</p>"

# re.ASCII: the patterns contain \s — python's Unicode \s would accept a
# U+00A0 inside a tag that the JVM regex (ASCII \s) rejects, breaking the
# byte-parity contract on adversarial HTML
_MAIN = re.compile(MAIN_PATTERN, re.S | re.I | re.ASCII)
_PARA = re.compile(PARA_PATTERN, re.S | re.I | re.ASCII)

# (entity, char) strictly in this order — &amp; LAST (a correct unescape
# never re-interprets the output of an earlier replacement: "&amp;lt;"
# becomes the literal "&lt;", not "<").
ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def py_unescape(s: str) -> str:
    for ent, ch in ENTITIES:
        s = s.replace(ent, ch)
    return s


def py_extract(html_bytes: bytes | None) -> str | None:
    if html_bytes is None:
        return None
    s = html_bytes.decode("utf-8", errors="replace")
    m = _MAIN.search(s)
    if m is None:
        return None
    return "\n".join(py_unescape(p) for p in _PARA.findall(m.group(1)))


def _extract_from_m0(html_col: Column, m0: Column) -> Column:
    """Shared tail: given the group-0 `<main…>…</main>` match (m0 == ""
    exactly when no <main> exists — a real match is ≥ 13 chars), produce the
    extracted text. m0 should be a materialized column reference in hot
    paths (multi-referenced below)."""
    open_len = F.instr(m0, ">")  # grammar: opening tag ends at first '>'
    inner = m0.substr(open_len + 1, F.length(m0) - open_len - 7)
    paras = F.regexp_extract_all(inner, F.lit(f"(?is){PARA_PATTERN}"), F.lit(1))

    def unescape(p: Column) -> Column:
        for ent, ch in ENTITIES:
            p = F.replace(p, F.lit(ent), F.lit(ch))
        return p

    unescaped = F.transform(paras, unescape)
    return (
        F.when(html_col.isNull(), F.lit(None).cast("string"))
        .when(m0 == "", F.lit(None).cast("string"))
        .otherwise(F.array_join(unescaped, "\n"))
    )


def _m0_expr(html_col: Column) -> Column:
    return F.regexp_extract(
        F.decode(html_col, "UTF-8"), f"(?is){MAIN_PATTERN}", 0
    )


def with_extracted(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text_extracted",
    fallback_col: str | None = "text",
) -> DataFrame:
    """ENGINE PATH: add `out_col` = extracted text (coalesced with
    `fallback_col` when extraction yields NULL), evaluating the
    full-document regex exactly once per row via a staged projection.
    Both projected Columns are built once per JVM (colmemo)."""
    aux = f"__aux_m0_{out_col}"

    def build():
        ext = _extract_from_m0(F.col(html_col), F.col(aux))
        if fallback_col is not None:
            ext = F.coalesce(ext, F.col(fallback_col))
        return _m0_expr(F.col(html_col)), ext

    m0, ext = memo(("extract.with_extracted", html_col, out_col, fallback_col), build)
    return df.withColumn(aux, m0).withColumn(out_col, ext).drop(aux)


def native_extract(html_col: Column) -> Column:
    """Single-Column form for expression contexts (tests, ad-hoc exprs).
    Semantically identical to `with_extracted`; the m0 subexpression is
    inline here and multi-referenced, so Catalyst may evaluate the
    full-document regex more than once per row — use `with_extracted`
    on hot paths."""
    return _extract_from_m0(html_col, _m0_expr(html_col))


# ---------------------------------------------------------------------------
# outlink extraction (host-graph feed — ops/graph.py consumes the edges)
# ---------------------------------------------------------------------------

# absolute http(s) links only: relative links resolve to the same host, so
# for HOST-graph purposes they are self loops (dropped downstream anyway).
# ASCII classes; the grammar is shared verbatim by the native and python
# paths (byte parity, same discipline as MAIN/PARA above).
HREF_PATTERN = r"""href=["'](https?://[^"']+)["']"""

_HREF = re.compile(HREF_PATTERN, re.I | re.ASCII)


def with_links(
    df: DataFrame, html_col: str = "html", out_col: str = "links"
) -> DataFrame:
    """Add `out_col` = array of absolute href targets in document order
    (NULL html → NULL). ONE regexp_extract_all over the decoded page —
    map-only, codegen, no UDF; the html payload never shuffles."""
    html = F.col(html_col)
    return df.withColumn(
        out_col,
        F.when(html.isNull(), F.lit(None).cast("array<string>")).otherwise(
            F.regexp_extract_all(
                F.decode(html, "UTF-8"), F.lit(f"(?i){HREF_PATTERN}"), F.lit(1)
            )
        ),
    )


def py_links(html_bytes: bytes | None) -> list[str] | None:
    """Python twin of with_links (oracle/test parity)."""
    if html_bytes is None:
        return None
    return _HREF.findall(html_bytes.decode("utf-8", errors="replace"))


# ---------------------------------------------------------------------------
# anchor-text extraction (host-graph feed — ops/graph.py aggregates the
# (target host, anchor text) pairs into the classic link-description prior)
# ---------------------------------------------------------------------------

# <a ...href=URL...>text</a> with PLAIN text bodies only ([^<]*): an anchor
# wrapping markup (<a ...><img/></a>) is intentionally NOT matched — image
# links carry no text signal, and keeping the body class backref-free makes
# the grammar identical under Java regex (Spark) and RE2 (DuckDB oracle).
# Absolute http(s) targets only, same rationale as HREF_PATTERN above.
ANCHOR_PATTERN = (
    r"""<a\s[^>]*href=["'](https?://[^"']+)["'][^>]*>([^<]*)</a>"""
)

_ANCHOR = re.compile(ANCHOR_PATTERN, re.I | re.ASCII)


def with_anchors(
    df: DataFrame,
    html_col: str = "html",
    href_col: str = "anchor_hrefs",
    text_col: str = "anchor_texts",
) -> DataFrame:
    """Add two PARALLEL arrays — `href_col` (absolute link targets) and
    `text_col` (the anchor's plain-text body, possibly '') — in document
    order (NULL html → NULL both). Two regexp_extract_all passes over the
    decoded page (one per capture group): regexp_extract_all returns ONE
    group, and running the same anchor grammar twice map-side is cheaper
    at scale than exploding snippets through an interpreted higher-order
    lambda (NOTES.md: per-element lambdas re-evaluate non-cheap exprs).
    Both passes stay in whole-stage codegen; the html payload never
    shuffles."""
    html = F.col(html_col)
    pat = F.lit(f"(?i){ANCHOR_PATTERN}")
    none_arr = F.lit(None).cast("array<string>")
    dec = F.decode(html, "UTF-8")
    return df.withColumn(
        href_col,
        F.when(html.isNull(), none_arr).otherwise(
            F.regexp_extract_all(dec, pat, F.lit(1))
        ),
    ).withColumn(
        text_col,
        F.when(html.isNull(), none_arr).otherwise(
            F.regexp_extract_all(dec, pat, F.lit(2))
        ),
    )


def py_anchors(html_bytes: bytes | None) -> list[tuple[str, str]] | None:
    """Python twin of with_anchors (oracle/test parity): (href, text)
    pairs in document order."""
    if html_bytes is None:
        return None
    return _ANCHOR.findall(html_bytes.decode("utf-8", errors="replace"))


# ---------------------------------------------------------------------------
# robots meta directive (noindex gate — a page that asks not to be indexed
# should not enter a training corpus either)
# ---------------------------------------------------------------------------

# both attribute orders (name= first or content= first); ASCII classes,
# case-insensitive at the call sites — shared verbatim by native + python
# paths like MAIN/PARA above.
ROBOTS_NOINDEX_PATTERN = (
    r"""<meta\s[^>]*name=["']robots["'][^>]*content=["'][^"']*noindex"""
    r"""|<meta\s[^>]*content=["'][^"']*noindex[^"']*["'][^>]*name=["']robots["']"""
)

_NOINDEX = re.compile(ROBOTS_NOINDEX_PATTERN, re.I | re.ASCII)


def native_noindex(html_col: Column) -> Column:
    """True when the page carries a robots-noindex meta directive (NULL
    html → False). One rlike over the decoded page — map-only codegen."""
    return F.coalesce(
        F.decode(html_col, "UTF-8").rlike(f"(?i){ROBOTS_NOINDEX_PATTERN}"),
        F.lit(False),
    )


def py_noindex(html_bytes: bytes | None) -> bool:
    """Python twin of native_noindex (oracle parity)."""
    if html_bytes is None:
        return False
    return _NOINDEX.search(
        html_bytes.decode("utf-8", errors="replace")
    ) is not None
