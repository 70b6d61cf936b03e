"""Host-graph centrality for web-corpus quality filtering.

Production web-text pipelines (CCNet, RefinedWeb) use crawl-level host
ranks — harmonic centrality / PageRank over the host link graph — as a
URL-quality prior: low-rank spam farms are dropped before any content is
fetched or scored. This module provides that signal Spark-first:

  host_rank       — damped PageRank over a (src_host, dst_host) edge table,
                    power iteration as repeated join + groupBy (id-only
                    shuffles; the iteration count is tiny and fixed, the
                    data never leaves the cluster).
  page_rank_cols  — the per-iteration arithmetic, shared with the SQL twin.

All arithmetic is INTEGER MICRO-UNITS (rank scaled by RANK_SCALE, integer
division throughout — the same associativity-independence trick as the PQ
ADC tables in ops/similarity.py): floating-point Σ over a groupBy is
order-dependent and would diverge between engines and between runs, while
bigint sums are exact in any order, so the result is bit-portable for the
DuckDB oracle gate AND deterministic across cluster layouts.

Scale shape (100 TB of pages → ~10^8 hosts): the edge table carries two
host strings (or pre-hashed bigint ids); each iteration is ONE shuffle on
dst plus a broadcast-or-shuffle join on src. Degrees are computed once.
For real crawls, pre-aggregate the page-level link table to distinct host
pairs first (edges_from_pages does this) — host-graph edges are ~10^9,
not ~10^12. Iteration count is fixed (default 5 — host-rank priors
converge fast and the consumer only thresholds the tail).

Edge hygiene: connected components, exact and HLL harmonic centrality
and hits filter their input like edges_from_pages (NULL and '' hosts and
self-loops never become nodes, duplicate edges count once), and their SQL
twins apply the same filter (_sql_edges).

Lineage rule, the same for every iterative op here (host_rank, hits,
connected components, exact and HLL harmonic centrality); a pin is an
eager localCheckpoint:
  * frames that every iteration reads (edges, nodes, degrees) are pinned
    once, at entry;
  * each iteration's state is pinned once, so the plan of iteration k is
    as deep as that of iteration 1 instead of growing with k;
  * a frame that one iteration reads twice is pinned: two lazy reads of
    the previous step double its subtree every step (hits' raw sums feed
    both the normalization join and the broadcast max).

Dangling hosts (no outlinks) FOLD their rank mass back into the teleport
distribution each iteration (the canonical PageRank treatment — one extra
(host, bigint) aggregate per iteration), so total rank sums to RANK_SCALE
± integer-floor rounding and ranks are comparable across graphs with
different dangling fractions.

Reference ancestor: this is an extension tier (the reference has no graph
ops); the shape mirrors checks/values_duplicate.py's hash-groupBy
discipline — shuffle keys, never payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RANK_SCALE = 10**12          # rank micro-units: 1.0 == 10^12
RANK_DAMP_PCT = 85           # damping factor d as an integer percentage
RANK_ITERS = 5
PERS_SCALE = 10**6           # personalized-teleport weights: 1.0 == 10^6
RANK_MAX_WEIGHT = 10**6      # edge-weight ceiling: rank*w must fit bigint


def _personal_v6(
    weights: dict, damp_pct: int = RANK_DAMP_PCT
) -> list[tuple[str, int, int, int]]:
    """Normalize a {host: weight} teleport dict to integer PERS_SCALE
    units driver-side: v6 = floor(w * PERS_SCALE / W).  Computed ONCE on
    the driver and rendered as literals into BOTH the Spark plan and the
    SQL twin, so float normalization can never diverge between engines.
    Returns (host, v6, init_units, base_units) rows."""
    if not weights:
        raise ValueError("host_rank(teleport={...}): empty weight dict")
    bad = {h: w for h, w in weights.items() if not (float(w) > 0)}
    if bad:
        raise ValueError(
            f"host_rank(teleport=...): non-positive weights: {bad}"
        )
    total = float(sum(float(w) for w in weights.values()))
    rows = []
    for h in sorted(weights):
        v6 = int(float(weights[h]) * PERS_SCALE / total)
        init = (RANK_SCALE * v6) // PERS_SCALE
        base = ((100 - damp_pct) * init) // 100
        rows.append((str(h), v6, init, base))
    return rows


def _clean_edges(df: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(src, dst) rows of `df` without self-loops, NULL and '' hosts —
    the edge-hygiene filter shared by edges_from_pages and the weighted
    host_edges_from_pages_html (duplicates are kept)."""
    return (
        df.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        # host_of returns '' (not NULL) for malformed/relative urls —
        # a phantom '' node would receive rank and join every malformed
        # url downstream, so empty hosts are dropped with the NULLs (the
        # string cast keeps non-string node ids from being cast to '' → NULL)
        .where(
            (F.col("src").cast("string") != "")
            & (F.col("dst").cast("string") != "")
        )
        .where(F.col("src") != F.col("dst"))
    )


def edges_from_pages(
    df: DataFrame, src_host_col: str, dst_host_col: str
) -> DataFrame:
    """Distinct host-pair edges from a page-level link table (drops self
    loops, NULL and '' hosts). Run this BEFORE host_rank on real crawls: it
    collapses ~10^12 page links to ~10^9 host edges in one
    partial-aggregated distinct. connected_components, harmonic_exact,
    harmonic_hll and hits apply it to their input."""
    return _clean_edges(df, src_host_col, dst_host_col).distinct()


def _sql_edges(edges_sql: str) -> str:
    """SQL twin of edges_from_pages over a (src, dst) query."""
    return (
        f"SELECT DISTINCT src, dst FROM ({edges_sql})"
        " WHERE src IS NOT NULL AND dst IS NOT NULL"
        " AND CAST(src AS VARCHAR) <> '' AND CAST(dst AS VARCHAR) <> ''"
        " AND src <> dst"
    )


def _nodes(e: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Distinct node ids (column `host`) of an edge frame."""
    return (
        e.select(F.col(a).alias("host"))
        .unionByName(e.select(F.col(b).alias("host")))
        .distinct()
    )


def host_edges_from_pages_html(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    weighted: bool = False,
) -> DataFrame:
    """(src, dst) host edges straight from a raw pages table: outlink
    extraction (extract.with_links — one codegen regexp_extract_all) →
    host of each target → distinct host pairs (weighted=True instead
    returns (src, dst, w) with w = page-level link count per host pair,
    the input shape for host_rank(weight_col='w')). The html payload is
    read once in the scan projection and never shuffles; the exchange
    carries host strings only."""
    from data_quality_spark.ops.textops import host_of
    from data_quality_spark.pipeline.extract import with_links

    linked = with_links(df.select(url_col, html_col), html_col, "__links")
    # explode in its own projection (a generator cannot nest inside the
    # host_of expression), then extract hosts
    pairs = linked.select(
        F.col(url_col), F.explode("__links").alias("__dst_url")
    ).select(
        host_of(F.col(url_col)).alias("src_host"),
        host_of(F.col("__dst_url")).alias("dst_host"),
    )
    if not weighted:
        return edges_from_pages(pairs, "src_host", "dst_host")
    return (
        _clean_edges(pairs, "src_host", "dst_host")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def host_rank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = RANK_ITERS,
    damp_pct: int = RANK_DAMP_PCT,
    weight_col: str | None = None,
    teleport=None,
) -> DataFrame:
    """Damped PageRank over a host edge table, exact-integer arithmetic.

    Per iteration (all in RANK_SCALE micro-units, `div` = integer floor
    division on non-negative bigints — identical in Spark and DuckDB):

        contrib(e)   = (rank(src) * w(e)) div W(src),  W = Σ out-weights
        D            = Σ rank(h) over hosts with NO out-edges (dangling)
        new_rank(h)  = base(h)
                       + (damp_pct * (Σ contrib(in-edges) + dang(h))) div 100

    where dang(h) folds the dangling mass back through the teleport
    distribution (canonical PageRank — total rank stays RANK_SCALE ±
    integer-floor rounding): uniform mode dang(h) = D div n; seed mode
    dang(seed) = D div n_seeds (0 elsewhere); personalized mode
    dang(h) = (D * v6(h)) div PERS_SCALE.  The fold costs ONE extra
    (host, bigint) aggregate per iteration.

    Uniform mode (teleport=None): base(h) = ((100-damp_pct) *
    (RANK_SCALE div n)) div 100 for every node, init = RANK_SCALE div n.

    weight_col: integer edge weights (e.g. page-level link counts from
    host_edges_from_pages_html(weighted=True)) — duplicate (src, dst)
    rows sum; unweighted edges are w = 1. Summed weights must stay in
    [1, RANK_MAX_WEIGHT=10^6] so rank × w fits bigint (rank can reach
    RANK_SCALE = 10^12); VALIDATED eagerly (one tiny agg) — out-of-range
    weights raise instead of silently wrapping with ANSI off.

    teleport: three modes —
      * iterable of TRUSTED seed hosts → TrustRank (Gyöngyi 2004), the
        classic host-spam damper: rank mass enters ONLY through the seeds
        (init and base are RANK_SCALE div n_seeds on seeds, 0 elsewhere),
        so hosts earn rank solely by link-distance from trust.
      * dict {host: weight} → PERSONALIZED PageRank (the CCNet-style
        "quality prior from a labeled seed set"): the teleport vector is
        v6(h) = floor(w_h * PERS_SCALE / Σw), normalized driver-side
        (_personal_v6) and rendered as literals into both engines; init =
        (RANK_SCALE * v6) div PERS_SCALE, base = ((100-damp_pct) * init)
        div 100. Weights for hosts absent from the graph are lost mass
        (documented: total rank < RANK_SCALE by exactly their share).
      * Both raise if no seed appears in the graph (an all-zero result
        would silently gate everything downstream).

    Returns (host, rank_units bigint, rank double = units / RANK_SCALE).
    The node set is the union of sources and destinations. Every join key
    is a host id — rank state is one bigint per host, edges are
    (src, dst, w); nothing wide ever shuffles, and each iteration is one
    shuffle on dst plus the 1-row broadcast dangling aggregate (the
    src-side degree/rank join broadcasts when the host table fits, else
    shuffle-joins on src). Whether a host is dangling does not change
    between iterations, so it is a static flag on the nodes frame, and
    the dangling mass is one filtered sum over the rank state."""
    src, dst = F.col(src_col), F.col(dst_col)
    if weight_col is not None:
        e = edges.select(
            src.alias("src"), dst.alias("dst"),
            F.col(weight_col).cast("bigint").alias("__w"),
        ).groupBy("src", "dst").agg(F.sum("__w").alias("__w"))
    else:
        e = (
            edges.select(src.alias("src"), dst.alias("dst"))
            .distinct()
            .withColumn("__w", F.lit(1).cast("bigint"))
        )
    e = e.localCheckpoint(eager=True)
    if weight_col is not None:
        # contract gate (one tiny 1-row agg): rank*w must fit bigint, and
        # w < 1 would zero/NULL the floor division — both fail loudly here
        # instead of wrapping silently under ANSI-off arithmetic
        wrow = e.agg(
            F.min("__w").alias("mn"), F.max("__w").alias("mx")
        ).first()
        if wrow["mx"] is not None and (
            wrow["mn"] < 1 or wrow["mx"] > RANK_MAX_WEIGHT
        ):
            raise ValueError(
                "host_rank(weight_col=...): summed edge weights must be in "
                f"[1, {RANK_MAX_WEIGHT}] (got min={wrow['mn']}, "
                f"max={wrow['mx']}); pre-scale page-level link counts "
                "(e.g. log-bucket or cap them) before ranking"
            )
    deg = (
        e.groupBy("src").agg(F.sum("__w").alias("__deg"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        _nodes(e)
        .join(
            deg.select(F.col("src").alias("host"), F.lit(False).alias("__o")),
            "host",
            "left",
        )
        .select("host", F.col("__o").isNull().alias("__dangling"))
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # the scalar parameterizes the plan
    if n == 0:
        # empty edge table (e.g. a snapshot with no absolute outlinks):
        # empty rank frame, not a ZeroDivisionError on the driver
        return nodes.select(
            "host",
            F.lit(0).cast("bigint").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    dang_col: F.Column  # per-host share of the 1-row __dm dangling mass
    if isinstance(teleport, dict):
        pv = _personal_v6(teleport, damp_pct)
        spark = edges.sparkSession
        pv_df = spark.createDataFrame(
            pv, "host string, __v6 bigint, __init bigint, __base bigint"
        )
        n_seed = nodes.join(F.broadcast(pv_df), "host", "semi").count()
        if n_seed == 0:
            raise ValueError(
                "host_rank(teleport={...}): no seed host appears in the "
                f"graph (seeds: {sorted(teleport)[:5]}"
                f"{'...' if len(teleport) > 5 else ''})"
            )
        nodes = (
            nodes.join(F.broadcast(pv_df), "host", "left")
            .select(
                "host",
                "__dangling",
                F.coalesce("__v6", F.lit(0)).alias("__v6"),
                F.coalesce("__init", F.lit(0)).alias("__init"),
                F.coalesce("__base", F.lit(0)).alias("__base"),
            )
        )
        init_col = F.col("__init")
        base_col = F.col("__base")
        dang_col = F.expr(f"(__dm * __v6) div {PERS_SCALE}")
    elif teleport is not None:
        seeds = sorted({str(t) for t in teleport})
        n_seed = nodes.where(F.col("host").isin(seeds)).count()
        if n_seed == 0:
            raise ValueError(
                "host_rank(teleport=...): no seed host appears in the "
                f"graph (seeds: {seeds[:5]}{'...' if len(seeds) > 5 else ''})"
            )
        init_val = RANK_SCALE // n_seed
        base_val = ((100 - damp_pct) * init_val) // 100
        is_seed = F.col("host").isin(seeds)
        init_col = F.when(is_seed, F.lit(init_val)).otherwise(F.lit(0))
        base_col = F.when(is_seed, F.lit(base_val)).otherwise(F.lit(0))
        dang_col = F.when(
            is_seed, F.expr(f"__dm div {n_seed}")
        ).otherwise(F.lit(0))
    else:
        init = RANK_SCALE // n
        base = ((100 - damp_pct) * init) // 100
        init_col = F.lit(init)
        base_col = F.lit(base)
        dang_col = F.expr(f"__dm div {n}")
    rank = nodes.select(
        "host", "__dangling", init_col.cast("bigint").alias("__r")
    )
    for _ in range(iters):
        contrib = (
            e.join(rank.select(F.col("host").alias("src"), "__r"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("host"),
                F.expr("(__r * __w) div __deg").alias("__c"),
            )
        )
        inflow = contrib.groupBy("host").agg(F.sum("__c").alias("__in"))
        # dangling mass: rank parked on hosts with no out-edges, folded
        # back through the teleport distribution (1 row, broadcast)
        dang = rank.where("__dangling").agg(
            F.coalesce(F.sum("__r"), F.lit(0)).alias("__dm")
        )
        rank = (
            nodes.join(inflow, "host", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "host",
                "__dangling",
                base_col.cast("bigint").alias("__b"),
                (F.expr("coalesce(__in, 0L)") + dang_col)
                .cast("bigint")
                .alias("__g"),
            )
            .select(
                "host",
                "__dangling",
                (F.col("__b") + F.expr(f"({damp_pct} * __g) div 100"))
                .cast("bigint")
                .alias("__r"),
            )
            .localCheckpoint(eager=True)
        )
    return rank.select(
        "host",
        F.col("__r").alias("rank_units"),
        (F.col("__r") / F.lit(float(RANK_SCALE))).alias("rank"),
    )


def sql_host_rank(
    edges_sql: str,
    iters: int = RANK_ITERS,
    damp_pct: int = RANK_DAMP_PCT,
    weighted: bool = False,
    teleport=None,
) -> str:
    """DuckDB twin of host_rank: the power iteration unrolled as chained
    CTEs over the SAME integer micro-unit arithmetic (`//` = `div`),
    including the per-iteration dangling-mass fold (d{i} CTEs, a sum over
    the static nodes.dangling flag) and all
    three teleport modes (None / seed iterable / personalized dict —
    dict weights normalized by the shared _personal_v6 and rendered as a
    VALUES list, so both engines see identical literals).
    edges_sql must yield (src, dst) — or (src, dst, w) with weighted=True
    — with the same rows as the Spark side."""
    if weighted:
        e_cte = (
            "e AS (SELECT src, dst, sum(w)::BIGINT AS w"
            f" FROM ({edges_sql}) GROUP BY 1, 2)"
        )
    else:
        e_cte = (
            "e AS (SELECT src, dst, 1::BIGINT AS w"
            f" FROM (SELECT DISTINCT src, dst FROM ({edges_sql})))"
        )
    ctes = [
        e_cte,
        "deg AS (SELECT src, sum(w)::BIGINT AS d FROM e GROUP BY 1)",
        "nodes AS (SELECT h.host, deg.src IS NULL AS dangling FROM"
        " (SELECT src AS host FROM e UNION SELECT dst FROM e) h"
        " LEFT JOIN deg ON deg.src = h.host)",
    ]
    iter_from = "FROM nodes n"
    if isinstance(teleport, dict):
        pv = _personal_v6(teleport, damp_pct)
        vals = ", ".join(
            f"('{h.replace(chr(39), chr(39) * 2)}', {v6}, {r0}, {b})"
            for h, v6, r0, b in pv
        )
        ctes.append(
            f"pv AS (SELECT * FROM (VALUES {vals})"
            " AS t(host, v6, r0, base))"
        )
        init_expr = "coalesce(pv.r0, 0)"
        base_expr = "coalesce(pv.base, 0)"
        init_from = "FROM nodes n LEFT JOIN pv ON pv.host = n.host"
        iter_from = "FROM nodes n LEFT JOIN pv ON pv.host = n.host"
        dang_expr = (
            lambda i: f"((SELECT dm FROM d{i}) * coalesce(pv.v6, 0))"
            f" // {PERS_SCALE}"
        )
    elif teleport is not None:
        seeds = ", ".join(
            "'" + str(t).replace("'", "''") + "'"
            for t in sorted({str(t) for t in teleport})
        )
        ctes += [
            "params AS (SELECT count(*) AS ns FROM nodes"
            f" WHERE host IN ({seeds}))",
            f"init AS (SELECT {RANK_SCALE} // ns AS r0,"
            f" ((100 - {damp_pct}) * ({RANK_SCALE} // ns)) // 100 AS base"
            " FROM params)",
        ]
        init_expr = (
            f"CASE WHEN n.host IN ({seeds})"
            " THEN (SELECT r0 FROM init) ELSE 0 END"
        )
        base_expr = (
            f"CASE WHEN n.host IN ({seeds})"
            " THEN (SELECT base FROM init) ELSE 0 END"
        )
        init_from = "FROM nodes n"
        dang_expr = (
            lambda i: f"CASE WHEN n.host IN ({seeds}) THEN"
            f" (SELECT dm FROM d{i}) // (SELECT ns FROM params)"
            " ELSE 0 END"
        )
    else:
        ctes += [
            "params AS (SELECT count(*) AS n FROM nodes)",
            f"init AS (SELECT {RANK_SCALE} // n AS r0,"
            f" ((100 - {damp_pct}) * ({RANK_SCALE} // n)) // 100 AS base"
            " FROM params)",
        ]
        init_expr = "(SELECT r0 FROM init)"
        base_expr = "(SELECT base FROM init)"
        init_from = "FROM nodes n"
        dang_expr = (
            lambda i: f"(SELECT dm FROM d{i}) // (SELECT n FROM params)"
        )
    ctes.append(
        f"r0 AS (SELECT n.host, n.dangling, ({init_expr})::BIGINT AS r"
        f" {init_from})"
    )
    for i in range(iters):
        ctes.append(
            f"d{i} AS (SELECT coalesce(sum(r), 0)::BIGINT AS dm"
            f" FROM r{i} WHERE dangling)"
        )
        ctes.append(
            f"r{i + 1} AS (SELECT n.host, n.dangling, {base_expr}"
            f" + ({damp_pct} * (coalesce(f.s, 0)"
            f" + ({dang_expr(i)}))) // 100 AS r"
            f" {iter_from} LEFT JOIN ("
            "   SELECT e.dst AS host, sum((r.r * e.w) // deg.d)::BIGINT AS s"
            f"  FROM e JOIN r{i} r ON r.host = e.src"
            "   JOIN deg ON deg.src = e.src GROUP BY 1"
            " ) f ON f.host = n.host)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT host, r::BIGINT AS rank_units,"
        f" r / {float(RANK_SCALE)} AS rank FROM r{iters}"
    )


# ---------------------------------------------------------------------------
# Connected components — large-star / small-star alternation
# ---------------------------------------------------------------------------

HARM_SCALE = 10**6           # harmonic-centrality micro-units: 1.0 == 10^6
CC_MAX_ROUNDS = 50           # safety cap; converges in O(log n) rounds


def _cc_checksum(e: DataFrame):
    """(count, XOR of hash64(a||sep||b)) — an order-independent edge-set
    fingerprint (one tiny 2-column agg per round) used as the convergence
    test. XOR never overflows, so it behaves the same with ANSI on or off
    (a bigint sum of 60-bit terms can wrap once there are more than 8
    edges). The edges are distinct, so no term cancels itself; counts are
    compared too."""
    from data_quality_spark.ops.hashing import portable_hash64

    return e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(
                portable_hash64(
                    F.concat_ws("\x01", F.col("a"), F.col("b"))
                )
            ),
            F.lit(0),
        ).alias("ck"),
    ).first()


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = CC_MAX_ROUNDS,
) -> DataFrame:
    """Undirected connected components via LARGE-STAR / SMALL-STAR
    alternation (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the O(log n)-round web-graph algorithm, vs the
    O(diameter) rounds of plain min-label propagation. It is the one
    connected-components engine: dedup.drop_near_dups(policy='cluster')
    runs it over the verified near-dup pair graph.

    large-star: every node points its LARGER neighbors at the minimum of
    its neighborhood; small-star: every node and its smaller neighbors
    collapse onto that minimum. Both are one groupBy (min) + one join per
    pass; edges shuffle as bare (node, node) pairs, payloads never move.
    The edge set monotonically contracts to per-component stars rooted at
    the component minimum; convergence is detected by an order-independent
    (count, XOR hash) fingerprint (one tiny agg per round). Raises
    RuntimeError after max_rounds without convergence.

    Node ids order by their natural type ordering (host strings: binary
    ASCII compare — identical in Spark and DuckDB); the component label is
    the component's minimum id, so labels are deterministic and
    bit-portable for the oracle gate.

    Returns (host, component, component_size). Scale shape: ~10^9 host
    edges → each pass is one (node, node) shuffle; O(log n) ≈ 30 rounds
    worst-case on a 10^8-node graph, each strictly contracting."""
    e = (
        _clean_edges(edges, src_col, dst_col)
        .select(  # (a, b) with a > b
            F.greatest("src", "dst").alias("a"),
            F.least("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = _nodes(e, "a", "b")
    prev = _cc_checksum(e)
    for _ in range(max_rounds):
        # large-star: undirected adjacency; u's LARGER neighbors attach to
        # m(u) = min(N(u) ∪ {u})
        adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = adj.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            adj.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: (a > b) directed; a and all its smaller neighbors
        # attach to m(a) = min(N⁻(a))
        mins = e.groupBy("a").agg(F.min("b").alias("m"))
        e = (
            e.join(mins, "a")
            .select(
                F.col("b").alias("v"), F.col("m"), F.col("a").alias("u")
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("x"), F.col("m").alias("y")),
                        F.struct(F.col("u").alias("x"), F.col("m").alias("y")),
                    )
                ).alias("p")
            )
            .select(
                F.greatest("p.x", "p.y").alias("a"),
                F.least("p.x", "p.y").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _cc_checksum(e)
        if (cur["n"], cur["ck"]) == (prev["n"], prev["ck"]):
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components: no convergence in {max_rounds} rounds "
            "(raise max_rounds — expected O(log n))"
        )
    labels = (
        nodes.join(
            e.select(F.col("a").alias("host"), F.col("b").alias("__lab")),
            "host",
            "left",
        )
        .select(
            "host", F.coalesce("__lab", F.col("host")).alias("component")
        )
    )
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("component_size")
    )
    return labels.join(sizes, "component").select(
        "host", "component", "component_size"
    )


def sql_connected_components(edges_sql: str) -> str:
    """DuckDB twin of connected_components: component = min node id
    reachable in the undirected closure, via a recursive BFS CTE (the
    UNION-dedup bounds the walk at |component| rows per node — exact and
    terminating at oracle scale; the Spark side is the one that scales)."""
    return f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT least(src, dst) AS b, greatest(src, dst) AS a
  FROM ({_sql_edges(edges_sql)})
),
-- explicit DISTINCT: under WITH RECURSIVE DuckDB parses a bare UNION in a
-- plain CTE as base+append (no dedup), so spell the dedup out
und AS (SELECT DISTINCT u, v FROM (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e)),
nodes AS (SELECT DISTINCT host FROM (SELECT u AS host FROM und UNION ALL SELECT v FROM und)),
walk(host, m) AS (
  SELECT host, host FROM nodes
  UNION
  SELECT w.host, und.v FROM walk w JOIN und ON und.u = w.m
),
lab AS (SELECT host, min(m) AS component FROM walk GROUP BY 1)
SELECT l.host, l.component, c.component_size
FROM lab l JOIN (
  SELECT component, count(*)::BIGINT AS component_size FROM lab GROUP BY 1
) c USING (component)
"""


# ---------------------------------------------------------------------------
# Harmonic centrality — exact bounded-radius + HyperBall (HLL) sketch
# ---------------------------------------------------------------------------


def harmonic_exact(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    radius: int = 6,
) -> DataFrame:
    """EXACT bounded-radius harmonic centrality: H(v) = Σ 1/d(u,v) over
    nodes u ≠ v that reach v within `radius` hops (the incoming-path
    convention of Boldi & Vigna — centrality counts who can reach YOU,
    which is what makes it a spam-resistant host-quality prior: a farm
    can manufacture outlinks but not inlinks).

    BFS as iterative frontier expansion: frontier_t = (edges ⋈ frontier_
    {t-1}) ∖ reached — the anti-join makes first-touch = min-distance, so
    no per-pair min aggregate is needed. All sums are INTEGER MICRO-UNITS
    (floor(HARM_SCALE/d), bigint Σ — order-independent, bit-portable for
    the DuckDB oracle).

    SCALE CONTRACT: state is the reached PAIR set — O(Σ ball sizes). That
    is exact-verification tier: tractable for bounded radius on sparse
    graphs and for the oracle gate, but on a 10^8-node host graph the
    ball union is the whole graph; use harmonic_hll (O(nodes × 2^b)
    state, the HyperBall scale path) there and keep this as its
    ground-truth twin on samples. The per-round empty-frontier stop is
    one count.

    Returns (host, n_reach, harmonic_units, harmonic)."""
    e = edges_from_pages(edges, src_col, dst_col).localCheckpoint(eager=True)
    nodes = _nodes(e)
    reached = nodes.select(
        F.col("host").alias("v"), F.col("host").alias("u"),
        F.lit(0).cast("int").alias("d"),
    ).localCheckpoint(eager=True)
    frontier = reached
    for t in range(1, radius + 1):
        # (v, w, t-1) ∧ (u → w)  ⇒  u reaches v in t
        frontier = (
            e.join(
                frontier.select("v", F.col("u").alias("dst")), "dst"
            )
            .select("v", F.col("src").alias("u"))
            .distinct()
            .join(reached.select("v", "u"), ["v", "u"], "left_anti")
            .withColumn("d", F.lit(t).cast("int"))
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        reached = reached.unionByName(frontier).localCheckpoint(eager=True)
    body = reached.where(F.col("d") > 0)
    return (
        nodes.select(F.col("host"))
        .join(
            body.groupBy(F.col("v").alias("host")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_reach"),
                F.sum(F.expr(f"{HARM_SCALE} div d"))
                .cast("bigint")
                .alias("harmonic_units"),
            ),
            "host",
            "left",
        )
        .select(
            "host",
            F.coalesce("n_reach", F.lit(0)).cast("bigint").alias("n_reach"),
            F.coalesce("harmonic_units", F.lit(0))
            .cast("bigint")
            .alias("harmonic_units"),
            (
                F.coalesce("harmonic_units", F.lit(0)).cast("double")
                / F.lit(float(HARM_SCALE))
            ).alias("harmonic"),
        )
    )


def sql_harmonic_exact(edges_sql: str, radius: int = 6) -> str:
    """DuckDB twin of harmonic_exact: recursive BFS bounded at `radius`
    (UNION-dedup terminates it), min-distance per pair, the same integer
    micro-unit harmonic sum."""
    return f"""
WITH RECURSIVE e AS ({_sql_edges(edges_sql)}),
-- explicit DISTINCT: see sql_connected_components note on UNION under RECURSIVE
nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM e UNION ALL SELECT dst FROM e)),
walk(v, u, d) AS (
  SELECT host, host, 0 FROM nodes
  UNION
  SELECT w.v, e.src, w.d + 1 FROM walk w JOIN e ON e.dst = w.u
  WHERE w.d < {radius}
),
dist AS (SELECT v, u, min(d) AS d FROM walk GROUP BY 1, 2),
agg AS (
  SELECT v AS host,
         count(*)::BIGINT AS n_reach,
         sum({HARM_SCALE} // d)::BIGINT AS harmonic_units
  FROM dist WHERE d > 0 GROUP BY 1
)
SELECT n.host,
       coalesce(a.n_reach, 0)::BIGINT AS n_reach,
       coalesce(a.harmonic_units, 0)::BIGINT AS harmonic_units,
       coalesce(a.harmonic_units, 0)::DOUBLE / {float(HARM_SCALE)!r}::DOUBLE
         AS harmonic
FROM nodes n LEFT JOIN agg a USING (host)
"""


# ---------------------------------------------------------------------------
# HyperBall harmonic centrality — the sketch-based scale path
# ---------------------------------------------------------------------------

HLL_M = 64          # registers per node (b=6)
HLL_RHO_CAP = 56    # so Σ_j 2^(56-reg_j) ≤ 64·2^56 = 2^62 < bigint max
HLL_ALPHA = 0.709   # the standard m=64 HLL constant; raw estimator, no
                    # small/large-range corrections (they need ln(), whose
                    # last-ulp behavior is libm-specific — a portability
                    # hazard this module bans; rawness is documented)
HLL_EST_C = HLL_ALPHA * HLL_M * HLL_M * 2.0**HLL_RHO_CAP  # E = C / S_units


def _hll_bucket_rho(col):
    """(bucket, rho) for a node id, both from ONE md5 via string ops only
    (no float log2, no engine-specific bit intrinsics): bucket =
    hash64(id) % m from hex digits [1,15]; rho = 1 + leading zero BITS of
    the independent hex digits [16,30], counted as 4·(leading '0' hex
    chars) + zeros within the first non-zero char. Bit-exact in Spark,
    DuckDB and python (tests/py twin below)."""
    from data_quality_spark.ops.hashing import portable_hash64

    bucket = (portable_hash64(col) % HLL_M).cast("int")
    hex2 = F.substring(F.md5(col), 16, 15)
    trimmed = F.regexp_replace(hex2, "^0+", "")
    lead_hex = F.length(hex2) - F.length(trimmed)
    first = F.substring(trimmed, 1, 1)
    zadd = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.least(lead_hex * 4 + zadd + 1, F.lit(HLL_RHO_CAP)).cast("int")
    return bucket, rho


def py_hll_bucket_rho(node: str) -> tuple[int, int]:
    """Python twin of _hll_bucket_rho (unit tests)."""
    from data_quality_spark.ops.hashing import py_hash64

    import hashlib

    bucket = py_hash64(node) % HLL_M
    hex2 = hashlib.md5(node.encode()).hexdigest()[15:30]
    trimmed = hex2.lstrip("0")
    lead_hex = len(hex2) - len(trimmed)
    zadd = (
        0 if not trimmed
        else 3 if trimmed[0] == "1"
        else 2 if trimmed[0] in "23"
        else 1 if trimmed[0] in "4567"
        else 0
    )
    return bucket, min(lead_hex * 4 + zadd + 1, HLL_RHO_CAP)


def _hll_s_units_col():
    """Σ_j 2^(HLL_RHO_CAP - reg_j) over the 'regs' array as an EXACT
    bigint — the register state collapsed to one order-independent
    integer (every term is a power of two with exponent 0..56, exactly
    representable as a double, so pow→bigint is lossless). All float
    math downstream derives from this single value."""
    return F.aggregate(
        F.transform(
            F.col("regs"),
            lambda r: F.pow(F.lit(2.0), F.lit(HLL_RHO_CAP) - r).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def harmonic_hll(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    radius: int = 6,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013) harmonic centrality: each node
    carries an m=64-register HLL sketch of its incoming-reach ball; per
    iteration every edge u→v merges u's sketch into v's (elementwise max
    — the union of sketches IS the sketch of the union, so after t
    rounds node v holds exactly the sketch of {u : d(u→v) ≤ t}).
    H(v) ≈ Σ_t (E_t - E_{t-1})/t over per-round cardinality estimates.

    SCALE CONTRACT (the 10^8-node path harmonic_exact calibrates): state
    is O(nodes × m) — 64 small ints per node, NOT the O(Σ ball sizes)
    pair set of the exact op; each round shuffles |E| + |V| sketch rows
    through ONE groupBy whose 64 max-aggregates partial-aggregate
    map-side.

    DETERMINISM: registers derive from md5 string ops (_hll_bucket_rho);
    the register state collapses to the exact bigint S_t = Σ_j
    2^(56-reg_j) (order-independent sum), and every float — raw-HLL
    estimate E_t = C/S_t and the fixed t-order harmonic accumulation —
    is computed from those integers by an identical expression tree in
    Spark and the DuckDB twin, so even this sketch op is hash-exact
    under the oracle gate. The estimator is RAW HLL (no linear-counting
    / large-range correction — those need ln(); see HLL_ALPHA), biased
    at tiny cardinalities; its regime is the ≥10^4-node ball, with
    harmonic_exact as ground truth on samples.

    Returns (host, s_units, reach_est, harmonic_est)."""
    if radius < 1:
        raise ValueError("harmonic_hll: radius must be >= 1")
    e = edges_from_pages(edges, src_col, dst_col).localCheckpoint(eager=True)
    nodes = _nodes(e)
    bucket, rho = _hll_bucket_rho(F.col("host"))
    cur = nodes.select(
        "host",
        F.array(
            *[
                F.when(bucket == j, rho).otherwise(0).cast("int")
                for j in range(HLL_M)
            ]
        ).alias("regs"),
    ).localCheckpoint(eager=True)
    s_frames = [cur.select("host", _hll_s_units_col().alias("s0"))]
    for t in range(1, radius + 1):
        inc = e.join(cur.withColumnRenamed("host", "src"), "src").select(
            F.col("dst").alias("host"), "regs"
        )
        cur = (
            cur.unionByName(inc)
            .groupBy("host")
            .agg(*[F.max(F.col("regs")[j]).alias(f"r{j}")
                   for j in range(HLL_M)])
            .select(
                "host",
                F.array(*[F.col(f"r{j}") for j in range(HLL_M)]).alias("regs"),
            )
            .localCheckpoint(eager=True)
        )
        s_frames.append(cur.select("host", _hll_s_units_col().alias(f"s{t}")))
    out = s_frames[0]
    for f in s_frames[1:]:
        out = out.join(f, "host")
    est = lambda tt: F.lit(HLL_EST_C) / F.col(f"s{tt}").cast("double")  # noqa: E731
    h = (est(1) - est(0)) / F.lit(1.0)
    for tt in range(2, radius + 1):
        h = h + (est(tt) - est(tt - 1)) / F.lit(float(tt))
    return out.select(
        "host",
        F.col(f"s{radius}").alias("s_units"),
        (est(radius) - F.lit(1.0)).alias("reach_est"),
        h.alias("harmonic_est"),
    )


def sql_harmonic_hll(edges_sql: str, radius: int = 6) -> str:
    """DuckDB twin of harmonic_hll — NON-iterative: after t merge rounds
    a node's registers equal the registers computed directly from its
    true radius-t ball (the HyperBall invariant), so the oracle derives
    register states from the exact bounded-BFS distance pairs, then
    renders the SAME integer S_t = Σ_j 2^(56-reg_j) and the same float
    expression tree as the Spark side."""
    cap, m, c = HLL_RHO_CAP, HLL_M, HLL_EST_C
    hh_rho = f"""
      least(4 * (15 - length(regexp_replace(substring(md5(host), 16, 15),
                                            '^0+', ''))) +
            CASE substring(regexp_replace(substring(md5(host), 16, 15),
                                          '^0+', ''), 1, 1)
              WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
              WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
              WHEN '7' THEN 1 ELSE 0 END + 1, {cap})"""
    s_ctes = ",\n".join(
        f"""s{t} AS (
  SELECT g.host, sum((1::BIGINT << ({cap} - coalesce(b.m, 0))))::BIGINT AS s
  FROM grid g LEFT JOIN (
    SELECT d.v AS host, hh.bucket AS j, max(hh.rho) AS m
    FROM dist d JOIN hh ON hh.host = d.u WHERE d.d <= {t} GROUP BY 1, 2
  ) b ON b.host = g.host AND b.j = g.j
  GROUP BY 1
)"""
        for t in range(0, radius + 1)
    )
    est = lambda t: f"({c!r} / s{t}.s::DOUBLE)"  # noqa: E731
    h = f"({est(1)} - {est(0)}) / 1.0"
    for t in range(2, radius + 1):
        h = f"{h} + ({est(t)} - {est(t - 1)}) / {float(t)!r}"
    joins = "\n".join(
        f"JOIN s{t} ON s{t}.host = s0.host" for t in range(1, radius + 1)
    )
    return f"""
WITH RECURSIVE e AS ({_sql_edges(edges_sql)}),
nodes AS (SELECT DISTINCT host FROM
          (SELECT src AS host FROM e UNION ALL SELECT dst FROM e)),
hh AS (
  SELECT host,
         (('0x' || substring(md5(host), 1, 15))::BIGINT % {m})::INT AS bucket,
         ({hh_rho})::INT AS rho
  FROM nodes
),
grid AS (SELECT host, r.range::INT AS j FROM nodes, range({m}) r),
walk(v, u, d) AS (
  SELECT host, host, 0 FROM nodes
  UNION
  SELECT w.v, e.src, w.d + 1 FROM walk w JOIN e ON e.dst = w.u
  WHERE w.d < {radius}
),
dist AS (SELECT v, u, min(d) AS d FROM walk GROUP BY 1, 2),
{s_ctes}
SELECT s0.host, s{radius}.s AS s_units,
       {est(radius)} - 1.0 AS reach_est,
       {h} AS harmonic_est
FROM s0
{joins}
"""


# ---------------------------------------------------------------------------
# anchor-text aggregation (the link-description prior: what OTHER sites say
# a host is — search-engine ranking's classic off-page text signal, and a
# cheap crawl-quality feature: spam targets collect many near-identical or
# empty anchors from few source hosts)
# ---------------------------------------------------------------------------


def anchor_stats(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per-TARGET-host anchor statistics from a raw pages table.

    pipeline.extract.with_anchors pulls (href, text) pairs map-side (two
    codegen regexp_extract_all passes — the html payload never shuffles);
    hosts come from ops.textops.host_of; internal links (src host ==
    target host) and malformed hosts ('') are dropped — the signal is
    what OTHER hosts say. Returns one row per dst_host:

      n_anchors      — inbound text anchors
      n_src_hosts    — distinct referring hosts (breadth of endorsement)
      n_uniq_texts   — distinct non-empty anchor texts (trim+lower; low
                       diversity at high volume = anchor spam)
      n_empty        — anchors with blank text bodies
      n_anchor_toks  — Σ whitespace tokens over anchor texts

    Scale shape: the exchange carries (dst_host, src_host, short anchor
    text) — never the page. The two COUNT(DISTINCT) expand the aggregate
    input 2× (Spark's expand operator), on those tiny rows; partial
    aggregation still applies per distinct branch. Text normalization is
    trim+lower on ASCII-space boundaries — identical in Spark and DuckDB.
    """
    from data_quality_spark.ops.textops import host_of
    from data_quality_spark.pipeline.extract import with_anchors

    pairs = (
        with_anchors(
            df.select(F.col(url_col).alias("__u"), F.col(html_col)),
            html_col,
            "__hrefs",
            "__texts",
        )
        .select(
            host_of(F.col("__u")).alias("src_host"),
            F.explode(F.arrays_zip("__hrefs", "__texts")).alias("__a"),
        )
        .select(
            "src_host",
            host_of(F.col("__a.__hrefs")).alias("dst_host"),
            F.trim(F.lower(F.col("__a.__texts"))).alias("__t"),
        )
        .where(
            (F.col("src_host") != "")
            & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
    )
    return pairs.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.countDistinct("src_host").alias("n_src_hosts"),
        F.countDistinct(
            F.when(F.col("__t") != "", F.col("__t"))
        ).alias("n_uniq_texts"),
        F.sum((F.col("__t") == "").cast("bigint")).alias("n_empty"),
        F.sum(
            F.size(F.regexp_extract_all(F.col("__t"), F.lit(r"\S+"), F.lit(0)))
        ).cast("bigint").alias("n_anchor_toks"),
    )


def sql_anchor_stats(pages_sql: str) -> str:
    """DuckDB twin of anchor_stats. `pages_sql` must yield (url, html)
    with html as VARCHAR. Same grammar (extract.ANCHOR_PATTERN, RE2-safe
    by construction), same host extraction (textops.HOST_RE), same
    trim+lower normalization and \\S+ token count."""
    from data_quality_spark.ops.textops import HOST_RE
    from data_quality_spark.pipeline.extract import ANCHOR_PATTERN

    pat = ("(?i)" + ANCHOR_PATTERN).replace("'", "''")
    return f"""
WITH pages AS ({pages_sql}),
raw AS (
  SELECT lower(regexp_extract(url, '{HOST_RE}', 1)) AS src_host,
         unnest(regexp_extract_all(html, '{pat}', 1)) AS href,
         unnest(regexp_extract_all(html, '{pat}', 2)) AS body
  FROM pages WHERE html IS NOT NULL
),
pairs AS (
  SELECT src_host,
         lower(regexp_extract(href, '{HOST_RE}', 1)) AS dst_host,
         trim(lower(body)) AS t
  FROM raw
)
SELECT dst_host,
       count(*)::BIGINT AS n_anchors,
       count(DISTINCT src_host)::BIGINT AS n_src_hosts,
       count(DISTINCT CASE WHEN t <> '' THEN t END)::BIGINT AS n_uniq_texts,
       sum(CASE WHEN t = '' THEN 1 ELSE 0 END)::BIGINT AS n_empty,
       sum(len(regexp_extract_all(t, '\\S+')))::BIGINT AS n_anchor_toks
FROM pairs
WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
GROUP BY dst_host
"""


# ---------------------------------------------------------------------------
# HITS — hubs & authorities (Kleinberg 1999) over the host graph
# ---------------------------------------------------------------------------

HITS_SCALE = 10**6           # hub/auth micro-units: 1.0 == 10^6
HITS_ITERS = 8
# raw scores are Σ over in/out edges of values ≤ HITS_SCALE, so
# raw ≤ deg · 10^6, and the normalization multiply raw · HITS_SCALE must
# fit bigint: deg · 10^12 ≤ 9.2·10^18 → deg ≤ ~9.2·10^6. Enforce the same
# 10^6 ceiling as host_rank's edge weights for headroom + symmetry.
HITS_MAX_DEG = 10**6


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = HITS_ITERS,
) -> DataFrame:
    """HITS hubs & authorities, exact-integer micro-unit arithmetic.

    The web-graph complement of host_rank's PageRank prior: authority =
    "endorsed by good hubs" (a quality signal for CONTENT hosts), hub =
    "links to good authorities" (high hub + low authority is the classic
    link-farm / directory-spam shape, a useful drop-rule feature that
    PageRank alone can't separate).

    Per iteration (micro-units, `div` = integer floor division on
    non-negative bigints — identical in Spark and DuckDB):

        a_raw(h) = Σ hub(src)  over in-edges      (shuffle on dst)
        auth(h)  = (a_raw(h) * HITS_SCALE) div max(a_raw)   [L∞ norm]
        h_raw(h) = Σ auth(dst) over out-edges     (shuffle on src)
        hub(h)   = (h_raw(h) * HITS_SCALE) div max(h_raw)

    L∞ (max) normalization instead of the textbook L2: it needs no sqrt,
    keeps every value an exact bigint in [0, HITS_SCALE], and converges to
    the same principal eigenvectors up to scale. The two max() aggregates
    are 1-row broadcasts. Both maxima are provably ≥ HITS_SCALE for a
    non-empty edge set (every edge's dst has a_raw ≥ hub_max ≥ 1 from the
    argmax node's uniform init / prior normalization), so the floor
    divisions never see zero.

    Integer sums are order-independent → bit-identical under any
    partitioning, and hash-exact vs the unrolled-CTE sql_hits twin.

    Scale shape: state is two bigints per host; each iteration exchanges
    (host, bigint) twice. Degrees are validated ≤ HITS_MAX_DEG=10^6 (one
    tiny agg) so the normalization multiply can't wrap bigint with ANSI
    off.

    Returns (host, auth_units, hub_units, auth double, hub double).
    """
    e = edges_from_pages(edges, src_col, dst_col).localCheckpoint(eager=True)
    nodes = _nodes(e).localCheckpoint(eager=True)
    degs = e.groupBy("src").count().agg(F.max("count")).first()[0]
    degd = e.groupBy("dst").count().agg(F.max("count")).first()[0]
    if degs is None:  # empty edge set
        return nodes.select(
            "host",
            F.lit(0).cast("bigint").alias("auth_units"),
            F.lit(0).cast("bigint").alias("hub_units"),
            F.lit(0.0).alias("auth"),
            F.lit(0.0).alias("hub"),
        )
    if max(degs, degd) > HITS_MAX_DEG:
        raise ValueError(
            f"hits(): max in/out degree {max(degs, degd)} exceeds "
            f"HITS_MAX_DEG={HITS_MAX_DEG}; the normalization multiply "
            "would overflow bigint — prune super-nodes first"
        )
    hub = nodes.select(
        "host", F.lit(HITS_SCALE).cast("bigint").alias("__h")
    )
    auth = None
    for _ in range(iters):
        # the raw sums are the pinned state: each is read twice (the
        # normalization join and the 1-row max), and Spark does not reuse
        # the exchange across the broadcast boundary (left lazy, 2 iters
        # took 4.6 s and 4 iters 31 s on the sf0.1 fixture)
        a_raw = (
            e.join(hub.withColumnRenamed("host", "src"), "src")
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("__h").alias("__ar"))
            .localCheckpoint(eager=True)
        )
        a_max = a_raw.agg(F.max("__ar").alias("__am"))
        auth = (
            nodes.join(a_raw, "host", "left")
            .crossJoin(F.broadcast(a_max))
            .select(
                "host",
                F.expr(
                    f"coalesce((__ar * {HITS_SCALE}) div __am, 0L)"
                ).cast("bigint").alias("__a"),
            )
        )
        h_raw = (
            e.join(auth.withColumnRenamed("host", "dst"), "dst")
            .groupBy(F.col("src").alias("host"))
            .agg(F.sum("__a").alias("__hr"))
            .localCheckpoint(eager=True)
        )
        h_max = h_raw.agg(F.max("__hr").alias("__hm"))
        hub = (
            nodes.join(h_raw, "host", "left")
            .crossJoin(F.broadcast(h_max))
            .select(
                "host",
                F.expr(
                    f"coalesce((__hr * {HITS_SCALE}) div __hm, 0L)"
                ).cast("bigint").alias("__h"),
            )
        )
    return (
        nodes.join(auth, "host", "left")
        .join(hub, "host", "left")
        .select(
            "host",
            F.coalesce("__a", F.lit(0)).cast("bigint").alias("auth_units"),
            F.coalesce("__h", F.lit(0)).cast("bigint").alias("hub_units"),
            (F.coalesce("__a", F.lit(0)) / F.lit(float(HITS_SCALE))).alias(
                "auth"
            ),
            (F.coalesce("__h", F.lit(0)) / F.lit(float(HITS_SCALE))).alias(
                "hub"
            ),
        )
    )


def sql_hits(edges_sql: str, iters: int = HITS_ITERS) -> str:
    """DuckDB twin of hits(): the two half-steps unrolled as chained CTEs
    over the SAME integer micro-unit arithmetic and L∞ normalization.
    Every CTE is MATERIALIZED: each iteration references its predecessor
    twice (join + max), so DuckDB's default CTE inlining would expand the
    plan 2^iters-fold (the same plan-tree growth the Spark side bounds
    with localCheckpoint).
    edges_sql must yield (src, dst) with the same rows as the Spark side."""
    ctes = [
        f"e AS MATERIALIZED ({_sql_edges(edges_sql)})",
        "nodes AS MATERIALIZED"
        " (SELECT src AS host FROM e UNION SELECT dst FROM e)",
        f"h0 AS MATERIALIZED"
        f" (SELECT host, {HITS_SCALE}::BIGINT AS h FROM nodes)",
    ]
    for i in range(iters):
        ctes += [
            f"ar{i} AS MATERIALIZED"
            f" (SELECT e.dst AS host, sum(h.h)::BIGINT AS a"
            f" FROM e JOIN h{i} h ON h.host = e.src GROUP BY 1)",
            f"am{i} AS MATERIALIZED (SELECT max(a) AS m FROM ar{i})",
            f"a{i + 1} AS MATERIALIZED (SELECT n.host,"
            f" coalesce((ar.a * {HITS_SCALE}) // (SELECT m FROM am{i}),"
            f" 0)::BIGINT AS a"
            f" FROM nodes n LEFT JOIN ar{i} ar ON ar.host = n.host)",
            f"hr{i} AS MATERIALIZED"
            f" (SELECT e.src AS host, sum(a.a)::BIGINT AS h"
            f" FROM e JOIN a{i + 1} a ON a.host = e.dst GROUP BY 1)",
            f"hm{i} AS MATERIALIZED (SELECT max(h) AS m FROM hr{i})",
            f"h{i + 1} AS MATERIALIZED (SELECT n.host,"
            f" coalesce((hr.h * {HITS_SCALE}) // (SELECT m FROM hm{i}),"
            f" 0)::BIGINT AS h"
            f" FROM nodes n LEFT JOIN hr{i} hr ON hr.host = n.host)",
        ]
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT n.host, coalesce(a.a, 0)::BIGINT AS auth_units,"
        f" coalesce(h.h, 0)::BIGINT AS hub_units,"
        f" coalesce(a.a, 0) / {float(HITS_SCALE)} AS auth,"
        f" coalesce(h.h, 0) / {float(HITS_SCALE)} AS hub"
        f"\nFROM nodes n LEFT JOIN a{iters} a ON a.host = n.host"
        f" LEFT JOIN h{iters} h ON h.host = n.host"
    )


# ---------------------------------------------------------------------------
# degree statistics — the cheapest crawl-graph health signal
# ---------------------------------------------------------------------------


def degree_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-host in/out degree over the DISTINCT edge set.

    The first thing anyone profiles on a crawl graph: out_deg ≫ in_deg
    marks directory/link-farm hosts, in_deg = 0 marks frontier leaves,
    and the degree histogram (one groupBy away) is the standard power-law
    sanity check before trusting any rank prior built on the graph.

    One distinct + two (host, count) aggregates + an outer join on host —
    every exchanged row is (host, bigint). Returns
    (host, out_deg, in_deg), zeros for missing directions.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    outd = e.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ind = e.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        outd.join(ind, "host", "full")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("bigint").alias("in_deg"),
        )
    )


def sql_degree_stats(edges_sql: str) -> str:
    """DuckDB twin of degree_stats (same distinct-edge contract)."""
    return f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
o AS (SELECT src AS host, count(*)::BIGINT AS out_deg FROM e GROUP BY 1),
i AS (SELECT dst AS host, count(*)::BIGINT AS in_deg FROM e GROUP BY 1)
SELECT coalesce(o.host, i.host) AS host,
       coalesce(o.out_deg, 0)::BIGINT AS out_deg,
       coalesce(i.in_deg, 0)::BIGINT AS in_deg
FROM o FULL JOIN i ON o.host = i.host
"""
