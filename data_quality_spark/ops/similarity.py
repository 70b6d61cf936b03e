"""Similarity search over an embedding column (array<float>).

* ``topk_cosine``      — brute-force cosine top-k against one query vector:
                         the exact baseline. One scan, no shuffle except the
                         final top-k (TakeOrderedAndProject).
* ``cosine_pairs``     — all pairs ≥ threshold within blocking keys
                         (near-duplicate detection on embeddings).
* ``ann_lsh_topk``     — random-hyperplane LSH: 8 sign bits bucket the
                         corpus ~256 ways; search only the query's bucket.
                         The scale path: bucket assignment is a per-row
                         projection (codegen), the candidate scan reads
                         ~1/256 of the corpus (partition-prunable if the
                         table is written bucketed by signature).

Hyperplane constants are module-level literals (deterministic, shared with
the SQL oracle verbatim), mirroring how the langid/perplexity models are
embedded rather than downloaded. Dot products run in float64 with strict
left-to-right array aggregation in BOTH engines so scores agree.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMB_DIM = 64
N_HYPERPLANES = 8

# deterministic hyperplanes, rounded so the SQL literal rendering is exact
_rs = np.random.RandomState(7)
HYPERPLANES: list[list[float]] = [
    [round(float(v), 4) for v in row]
    for row in _rs.standard_normal((N_HYPERPLANES, EMB_DIM))
]

# pairwise near-dup LSH: L tables × B planes. P(pair co-bucketed in ≥1
# table | angle θ) = 1 − (1 − (1−θ/π)^B)^L — at cos≥0.999 (near-dups)
# recall ≈ 1; unrelated pairs (θ≈90°) collide with p ≈ L·2^-B ≈ 1.6%.
PAIR_TABLES = 4
PAIR_PLANES_PER_TABLE = 8
_rs2 = np.random.RandomState(11)
PAIR_HYPERPLANES: list[list[list[float]]] = [
    [
        [round(float(v), 4) for v in row]
        for row in _rs2.standard_normal((PAIR_PLANES_PER_TABLE, EMB_DIM))
    ]
    for _ in range(PAIR_TABLES)
]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _lit_vec(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def topk_cosine(
    df: DataFrame, id_col: str, vec_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine vs one query vector; deterministic tiebreak on
    id. Physical plan: scan → project(cosine) → TakeOrderedAndProject (per-
    partition top-k, then driver merge — no full sort, no shuffle)."""
    q = _lit_vec(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(cosine(_as_double(F.col(vec_col)), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def _pair_dot_udf():
    """Arrow-batched dot(a, b) with BIT PARITY to the native `dot` fold:
    dimensions accumulate sequentially (dots += A[:,d]·B[:,d] in dim order —
    the same float addition order as the zip_with/aggregate fold), so the
    raw double is identical and the downstream native round/compare agree.
    The interpreted-HOF fold is CodegenFallback and evaluates per PAIR; at
    Σ|block|² pairs that dominates a pairs query (measured ~5× on the
    dedup_semantic headline) — this UDF turns it into 64 vectorized ops per
    Arrow batch. NULL or ragged rows fall back to an explicit sequential
    python fold (same order), returning NULL for NULL input like the fold."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dotu(a: pd.Series, b: pd.Series) -> pd.Series:
        dim = -1
        uniform = True
        for u, v in zip(a, b):
            if u is None or v is None:
                uniform = False
                continue
            if dim < 0:
                dim = len(u)
            if len(u) != dim or len(v) != dim:
                uniform = False
        if uniform and dim >= 0:
            A = np.stack([np.asarray(v, dtype=np.float64) for v in a])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in b])
            out = np.zeros(len(A))
            for d in range(dim):  # dim-ordered like the fold
                out += A[:, d] * B[:, d]
            return pd.Series(out)
        vals = []
        for u, v in zip(a, b):
            if u is None or v is None:
                vals.append(None)
                continue
            if len(u) != len(v):
                # as the `dot` fold's zip_with: the shorter side pads with
                # NULL → dot NULL → pair filtered; a silent zip()
                # truncation here would emit a number the fold rejects
                vals.append(None)
                continue
            acc = 0.0
            for x, y in zip(u, v):
                acc += float(x) * float(y)
            vals.append(acc)
        return pd.Series(vals, dtype="float64")

    return dotu


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_cols: list[str],
    threshold: float,
) -> DataFrame:
    """All pairs within a block with cosine ≥ threshold (id_a < id_b).

    Norms are computed ONCE per input row before the self-join (N folds,
    not Σ|block|² per-pair recomputations). The per-pair dot product is an
    Arrow UDF, bit-identical to the `dot` fold (argument at
    _pair_dot_udf)."""
    v = _as_double(F.col(vec_col))
    base = df.select(id_col, *block_cols, v.alias("v"), norm(v).alias("nv"))
    l, r = base.alias("l"), base.alias("r")
    dot_col = _pair_dot_udf()(F.col("l.v"), F.col("r.v"))
    na, nb = F.col("l.nv"), F.col("r.nv")
    cos_col = F.when((na > 0) & (nb > 0), dot_col / (na * nb)).otherwise(
        F.lit(0.0)
    )
    return (
        l.join(r, on=block_cols)
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round(cos_col, 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def label_centroids(
    df: DataFrame, vec_col: str, cell_col: str, dim: int = EMB_DIM
) -> DataFrame:
    """(cell, n, centroid): element-wise mean vector per cell, each
    component rounded to 6dp (pins float-summation-order noise for the SQL
    oracle). 64 codegen'd avg aggregates — one shuffle of partial sums.
    This is the IVF coarse-quantizer table; cells here come from any
    clustering column (production IVF trains k-means for them — the
    centroid/search machinery is identical)."""
    v = _as_double(F.col(vec_col))
    aggs = [
        F.round(F.avg(F.element_at(v, i + 1)), 6).alias(f"c{i}") for i in range(dim)
    ]
    g = df.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count(F.lit(1)).alias("n"), *aggs
    )
    return g.select(
        "cell", "n", F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("centroid")
    )


def save_centroids(path: str, rows) -> str:
    """Persist a quantizer table ([{cell, centroid}] rows) as slim parquet
    (cell, pos, val) — readable by Spark, DuckDB, and pyarrow alike."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # cell keeps its NATIVE type (int labels stay ints — a string round-trip
    # would reorder ties and break the probe filter's equality)
    tbl = pa.Table.from_pylist(
        [
            {"cell": r["cell"], "pos": pos, "val": float(val)}
            for r in rows
            for pos, val in enumerate(r["centroid"])
        ]
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(tbl, path)
    return path


def load_centroids(path: str) -> list[dict]:
    """Inverse of save_centroids: [{cell, centroid}], cells sorted. Pure
    pyarrow — loading a persisted quantizer issues NO Spark job."""
    import pyarrow.parquet as pq

    pdf = pq.read_table(path).to_pandas()
    out = []
    for cell, grp in pdf.groupby("cell", sort=True):
        out.append(
            {
                "cell": cell.item() if hasattr(cell, "item") else cell,
                "centroid": list(grp.sort_values("pos")["val"]),
            }
        )
    return out


def save_codebooks(path: str, books) -> str:
    """Persist PQ codebooks ([m][k][d_sub] nested lists) as slim long-format
    parquet (sub, code, pos, val) plus a `<path>.meta.json` sidecar pinning
    the geometry (m, k, d_sub, dim) — the Bloom `_bloom_meta.json`
    convention: encoding or ADC-scoring against a codebook of the wrong
    geometry produces garbage silently, so later loads validate the
    recorded shape instead of trusting the caller's constants."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    m = len(books)
    k = len(books[0])
    dsub = len(books[0][0])
    tbl = pa.Table.from_pylist(
        [
            {"sub": s, "code": j, "pos": p, "val": float(val)}
            for s, book in enumerate(books)
            for j, c in enumerate(book)
            for p, val in enumerate(c)
        ],
        schema=pa.schema(
            [("sub", pa.int32()), ("code", pa.int32()),
             ("pos", pa.int32()), ("val", pa.float64())]
        ),
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(tbl, path)
    with open(path + ".meta.json", "w") as fh:
        json.dump({"m": m, "k": k, "d_sub": dsub, "dim": m * dsub}, fh)
    return path


def load_codebooks(
    path: str,
    m: int | None = None,
    k: int | None = None,
    dim: int | None = None,
) -> list:
    """Inverse of save_codebooks (pure pyarrow, NO Spark job). Any expected
    geometry passed (m/k/dim) is validated against the artifact's recorded
    sidecar (falling back to the table's actual shape for pre-sidecar
    artifacts) — a stale model fails loudly naming both geometries instead
    of scoring garbage."""
    import json
    import os

    import pyarrow.parquet as pq

    pdf = pq.read_table(path).to_pandas()
    am = int(pdf["sub"].max()) + 1
    ak = int(pdf["code"].max()) + 1
    adsub = int(pdf["pos"].max()) + 1
    rec = {"m": am, "k": ak, "d_sub": adsub, "dim": am * adsub}
    if os.path.exists(path + ".meta.json"):
        meta = json.load(open(path + ".meta.json"))
        if {k_: meta.get(k_) for k_ in rec} != rec:
            raise ValueError(
                f"PQ codebook at {path} is inconsistent: sidecar records "
                f"{meta}, table shape is {rec} — the artifact is corrupt "
                "or partially overwritten; retrain it."
            )
    for name, expect, actual in (
        ("m", m, rec["m"]), ("k", k, rec["k"]), ("dim", dim, rec["dim"])
    ):
        if expect is not None and expect != actual:
            raise ValueError(
                f"PQ codebook at {path} was trained with {name}={actual} "
                f"(recorded geometry {rec}), but this search expects "
                f"{name}={expect} — encode/ADC against mismatched "
                "geometry is silent garbage; retrain or pass the recorded "
                "geometry."
            )
    books = [
        [[0.0] * adsub for _ in range(ak)] for _ in range(am)
    ]
    for r in pdf.itertuples(index=False):
        books[r.sub][r.code][r.pos] = float(r.val)
    return books


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 1,
    dim: int = EMB_DIM,
    centroids=None,
    centroids_path: str | None = None,
) -> DataFrame:
    """IVF-style ANN: rank cells by cosine(query, centroid), search the
    n_probe nearest cells exactly, return top-k. Recall < 1 by construction
    (cells not probed are never scanned) — the trade that makes 10^12-vector
    search feasible: the scan touches ~n_probe/n_cells of the corpus, and a
    cell-partitioned table prunes at the file level.

    Quantizer reuse — the DEFAULT path for repeated queries: pass
    `centroids_path`; an existing table is loaded driver-side (pyarrow, NO
    Spark job over the corpus), a missing one is computed ONCE and
    persisted there. `centroids` (rows of label_centroids, or any
    [{cell, centroid}]) overrides both. Only with neither given does every
    call pay a full centroid scan — fine for one-offs, wrong for a query
    service. See train_kmeans_cells/ivf_topk_trained for the trained
    variant (same persistence via save_centroids)."""
    import os

    if centroids is not None:
        cents = centroids
    elif centroids_path is not None and os.path.exists(centroids_path):
        cents = load_centroids(centroids_path)
    else:
        cents = label_centroids(df, vec_col, cell_col, dim).collect()
        # an all-NULL-vector cell averages to NULL components: it carries
        # no quantizer direction — skip it (its rows are simply never
        # probed) instead of crashing the ranking fold / save float()
        cents = [
            r for r in cents
            if r["centroid"] is not None
            and all(c is not None for c in r["centroid"])
        ]
        if centroids_path is not None:
            save_centroids(centroids_path, cents)
    q = query_vec
    # THE shared cell-ranking contract (_rank_probe_cells: dim-ordered
    # fold, 6dp HALF_UP cosine, lowest-cell tie) — a raw-cosine local sort
    # here could pick a different probe set than the trained variants and
    # the SQL oracle whenever two cells round to the same 6dp cosine
    rows = sorted(cents, key=lambda r: r["cell"])
    idx = _rank_probe_cells([list(r["centroid"]) for r in rows], q, n_probe)
    probe = [rows[i]["cell"] for i in idx]
    cand = df.where(F.col(cell_col).isin(probe))
    return topk_cosine(cand, id_col, vec_col, q, k)


# ---------------------------------------------------------------------------
# trained IVF: deterministic Lloyd's k-means coarse quantizer
# ---------------------------------------------------------------------------


def _assign_cell_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """argmax_cell cosine(vec, centroid), ties → lowest cell id. Expressed
    as array_max over (cos, -cell) structs (struct comparison is
    field-lexicographic, so equal cos falls to the HIGHEST -cell = lowest
    cell)."""
    # 6dp-rounded cosine before the argmax: raw float sums differ by an ulp
    # between engines (sequential fold vs pairwise list_sum), which could
    # flip near-tied assignments; after rounding, ties resolve by cell id
    # identically everywhere (same quantization the LSH sign bits use)
    cands = F.array(
        *[
            F.struct(
                F.round(cosine(vec, _lit_vec(c)), 6).alias("c"),
                F.lit(-i).alias("nc"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return -F.array_max(cands)["nc"]


def _assign_cells_udf(centroids: list[list[float]]):
    """Arrow-batched twin of `_assign_cell_expr`: one batched dot-product
    accumulation per Arrow batch instead of k interpreted cosine folds per
    row (the fold path is CodegenFallback — measured ~10× slower). Bit
    parity with the native expression: dims accumulate sequentially (same
    float addition order as the fold), the cosine is rounded with the same
    shortest-repr HALF_UP rule F.round applies, ties take the lowest cell,
    and NULL/zero-norm vectors score 0.0 for every cell → cell 0."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        V = _stack_vecs(vs, C.shape[1])
        return pd.Series(_assign_rows(V, C), dtype="int32")

    return assign


def _stack_vecs(vs: pd.Series, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix; NULL vectors become zeros (the assignment
    convention — zero-norm scores 0.0 for every cell → cell 0)."""
    rows = [
        np.zeros(dim) if v is None else np.asarray(v, dtype=np.float64)
        for v in vs
    ]
    return np.stack(rows) if rows else np.zeros((0, dim))


def _assign_rows(V: np.ndarray, C: np.ndarray) -> list:
    """Cell ids for a stacked batch — THE one definition of the assignment
    contract (dim-ordered accumulation, 6dp HALF_UP cosine, lowest-cell
    tie), shared by _assign_cells_udf and the combined residual-index
    encoder so the two can never drift."""
    import math

    from data_quality_spark.pipeline.expected import round_half_up

    cnorms = []
    for c in C:
        acc = 0.0
        for x in c:
            acc += x * x
        cnorms.append(math.sqrt(acc))
    dots = np.zeros((len(V), len(C)))
    vsq = np.zeros(len(V))
    for d in range(C.shape[1]):  # dim-ordered like the fold
        dots += V[:, d, None] * C[None, :, d]
        vsq += V[:, d] * V[:, d]
    vnorm = np.sqrt(vsq)
    out = []
    for i in range(len(V)):
        best_cs, best_ci = None, 0
        for ci in range(len(C)):
            if vnorm[i] > 0 and cnorms[ci] > 0:
                cs = round_half_up(dots[i, ci] / (vnorm[i] * cnorms[ci]), 6)
            else:
                cs = 0.0
            if best_cs is None or cs > best_cs:
                best_cs, best_ci = cs, ci
        out.append(best_ci)
    return out


def assign_cells(vec: Column, centroids: list[list[float]]) -> Column:
    """Cell-assignment column: an Arrow matmul per batch, with the same
    values as the `_assign_cell_expr` fold."""
    return _assign_cells_udf(centroids)(vec)


def train_kmeans_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 3,
    dim: int = EMB_DIM,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over the embedding column — the TRAINED
    coarse quantizer for IVF search (replaces using a label column as
    cells). Init = the vectors of the k smallest ids (no RNG); each
    iteration assigns by the cosine-argmax UDF of assign_cells (one scan) and
    recomputes means as 64 codegen'd avg aggregates rounded to 6dp (pins
    partial-sum combine order, the same trick label_centroids uses). Only
    the k×dim centroid table ever reaches the driver. At 10^12 vectors,
    train on a deterministic sample (orderBy id limit n) — the assignment
    scan shape is unchanged.

    Empty cells keep their previous centroid (classic Lloyd's fallback)."""
    v = _as_double(F.col(vec_col))
    # NULL embeddings can't seed a centroid (elsewhere they follow the
    # NULL→zero-vector assignment convention; here they'd raise an opaque
    # TypeError on the slice) — seed from the k smallest-id NON-NULL rows
    seeds = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), v.alias("__v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"need >= {k} non-NULL vectors to seed {k} cells")
    cents = [[float(x) for x in r["__v"]] for r in seeds]
    from data_quality_spark.ops.util import spread_narrow

    df = spread_narrow(df)
    for _ in range(n_iter):
        assigned = df.select(
            assign_cells(v, cents).alias("__cell"), v.alias("__v")
        )
        aggs = [
            F.round(F.avg(F.element_at(F.col("__v"), i + 1)), 6).alias(f"c{i}")
            for i in range(dim)
        ]
        rows = {
            r["__cell"]: [r[f"c{i}"] for i in range(dim)]
            for r in assigned.groupBy("__cell").agg(*aggs).collect()
        }
        cents = [rows.get(i, cents[i]) for i in range(len(cents))]
    return cents


def centroids_to_df(spark, centroids: list[list[float]]) -> DataFrame:
    rows = [
        (cell, pos, float(val))
        for cell, c in enumerate(centroids)
        for pos, val in enumerate(c)
    ]
    return spark.createDataFrame(rows, "cell int, pos int, val double")


def _rank_probe_cells(
    centroids: list[list[float]], query_vec: list, n_probe: int
) -> list:
    """Driver-side probe selection (k×dim floats — no Spark job) — THE one
    definition of the cell-ranking contract (dim-ordered fold, 6dp HALF_UP
    cosine, lowest-cell tie), shared by every IVF variant so the engines
    cannot drift (the SQL twins share _sql_cent_cos the same way)."""
    import math

    from data_quality_spark.pipeline.expected import round_half_up

    def cos(c: list) -> float:
        d = na = nb = 0.0
        for a, b in zip(c, query_vec):
            d += a * b
            na += a * a
            nb += b * b
        na, nb = math.sqrt(na), math.sqrt(nb)
        # 6dp HALF_UP like the in-plan assignment — cell ranking must agree
        # with the SQL oracle's rounded ranking
        return round_half_up(d / (na * nb), 6) if na > 0 and nb > 0 else 0.0

    ranked = sorted(range(len(centroids)), key=lambda i: (-cos(centroids[i]), i))
    return ranked[:n_probe]


def ivf_topk_trained(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """IVF search against TRAINED centroids: rank cells driver-side
    (_rank_probe_cells), then scan only rows whose assigned cell is probed.
    With the corpus written partitioned by cell, the probe filter prunes at
    the file level."""
    probe = _rank_probe_cells(centroids, query_vec, n_probe)
    v = _as_double(F.col(vec_col))
    cand = df.where(assign_cells(v, centroids).isin(probe))
    return topk_cosine(cand, id_col, vec_col, query_vec, k)


def lsh_signature(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """Bit i set iff round(dot(vec, plane_i), 6) >= 0. The 6dp quantization
    before the sign test makes the bit decision portable: raw float-sum
    order differs between engines (sequential fold vs pairwise list_sum) by
    an ulp, which flips signs for near-zero dots; after rounding a flip
    would need the dot within ~1e-15 of a 0.5e-6 grid midpoint."""
    planes = planes if planes is not None else HYPERPLANES
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        sig = sig + F.when(
            F.round(dot(vec, _lit_vec(p)), 6) >= 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sig


def _pair_band_keys_udf(tables: list[list[list[float]]]):
    """Arrow-batched twin of the per-table `lsh_signature` fold: ONE batched
    (rows × dim)·(dim × planes) product per Arrow batch instead of
    tables×planes interpreted Catalyst fold expressions per row (HOFs are
    CodegenFallback — measured ~10× slower than this).

    Bit-exactness: the accumulation loops over DIMENSIONS, so each (row,
    plane) cell sees the same left-to-right float addition order as the
    Catalyst fold — bit-identical dots. The sign test `dot > -5e-7` is
    equivalent to the fold's `round(dot, 6) >= 0` for every double: the only
    double whose shortest decimal rendering is exactly -0.0000005 is
    float(-5e-7) itself (HALF_UP → -0.000001, bit 0 — excluded by the strict
    >); anything binary-greater renders above -0.0000005 and rounds to -0.0
    (bit 1). A NULL vector yields signature 0, matching the fold's
    when(NULL >= 0)-falls-to-otherwise behaviour."""
    from pyspark.sql.functions import pandas_udf

    mats = [np.asarray(planes, dtype=np.float64) for planes in tables]
    P = np.concatenate(mats, axis=0)  # (total_planes, dim)
    offsets = []
    o = 0
    for m in mats:
        offsets.append((o, m.shape[0]))
        o += m.shape[0]
    thresh = float(-5e-7)

    # packed bigint band key: table_idx·2^32 + signature — exact (sig <
    # 2^planes « 2^32), 8 B on the exchange instead of a "t_sig" string
    @pandas_udf("array<long>")
    def band_keys(vs: pd.Series) -> pd.Series:
        null_mask = np.array([v is None for v in vs], dtype=bool)
        rows = [
            np.zeros(P.shape[1]) if v is None else np.asarray(v, dtype=np.float64)
            for v in vs
        ]
        V = np.stack(rows) if rows else np.zeros((0, P.shape[1]))
        acc = np.zeros((V.shape[0], P.shape[0]))
        for d in range(P.shape[1]):  # dim-ordered: matches the fold exactly
            acc += V[:, d, None] * P[None, :, d]
        bits = acc > thresh
        out = []
        for i in range(V.shape[0]):
            if null_mask[i]:
                out.append([t << 32 for t in range(len(mats))])
                continue
            keys = []
            for t, (off, b) in enumerate(offsets):
                sig = 0
                for j in range(b):
                    if bits[i, off + j]:
                        sig |= 1 << j
                keys.append((t << 32) | sig)
            out.append(keys)
        return pd.Series(out)

    return band_keys


def cosine_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    tables: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Near-duplicate pairs by random-hyperplane LSH — the no-blocking-key
    scale path (cosine_pairs needs caller-provided blocks). Candidates =
    pairs sharing a full signature in ≥1 of the L hyperplane tables;
    verified exactly (cosine ≥ threshold). Same candidate topology as the
    MinHash banding: bucket aggregation, no self-join, bucket-size cap —
    and id-only: the band exchange carries (band_key, id), never the
    vector; verification joins the vectors back. As in
    ops.dedup.minhash_lsh_pairs the verify joins carry NO hint — the pair
    count is data-dependent and unbounded, so AQE decides broadcast at
    runtime from the measured size instead of a forced hint that could OOM
    the driver on a high-duplication corpus."""
    from data_quality_spark.ops.dedup import _pairs_from_buckets

    tables = tables if tables is not None else PAIR_HYPERPLANES
    v = _as_double(F.col(vec_col))
    from data_quality_spark.ops.util import spread_narrow

    df = spread_narrow(df)
    keys = _pair_band_keys_udf(tables)(v)
    banded = df.select(
        F.col(id_col).alias("doc_id"), F.explode(keys).alias("band_key")
    )
    cand = (
        _pairs_from_buckets(banded, "band_key", "doc_id", ["doc_id"])
        .select(
            F.col("lo.doc_id").alias("id_a"),
            F.col("hi.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(F.col(id_col), v.alias("__v"))
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
    paired = va.join(cand, "id_a").join(vb, "id_b")
    return paired.select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)


def ann_lsh_topk(
    df: DataFrame, id_col: str, vec_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the query's
    LSH bucket. Recall < 1 by construction (documented approximation); the
    bucket filter is a pushdown-able projection predicate."""
    qsig = 0
    for i, p in enumerate(HYPERPLANES):
        if round(float(np.dot(np.asarray(query_vec), np.asarray(p))), 6) >= 0:
            qsig |= 1 << i
    v = _as_double(F.col(vec_col))
    scored = df.select(
        F.col(id_col),
        lsh_signature(v).alias("lsh_sig"),
        F.round(cosine(v, _lit_vec(query_vec)), 6).alias("cos_sim"),
    ).where(F.col("lsh_sig") == qsig)
    return scored.select(id_col, "cos_sim").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    ).limit(k)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: trained cells bound the pairwise scan
# ---------------------------------------------------------------------------


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-space near-duplicate pairs, SemDeDup-style (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): assign every vector to its nearest k-means cell
    (trained coarse quantizer — train_kmeans_cells / load_centroids), then
    compare cosine ONLY within a cell. Cross-cell pairs are never compared
    — the deliberate recall trade that turns an O(n²) corpus scan into
    Σ|cell|², bounded by the largest cell. At 10^12-vector scale the
    quantizer is trained on a sample with k large enough (SemDeDup uses
    ~10^5 clusters) that cells stay small; here k comes from the caller's
    persisted quantizer so repeated runs issue no training job.

    Plan shape: one Arrow-batched matmul pass assigns cells (no shuffle),
    then the self-join shuffles (id, vec, cell) once on the cell key —
    exactly the partitioning a cell-bucketed embedding table would already
    have, making the shuffle free on a pre-partitioned lakehouse layout.
    Returns (id_a, id_b, cos_sim) with id_a < id_b, cosine rounded 6dp
    (cross-engine float parity — same scheme as cosine_pairs)."""
    v = _as_double(F.col(vec_col))
    assigned = df.select(
        F.col(id_col),
        v.alias("__v"),
        assign_cells(v, centroids).alias("__cell"),
    )
    return cosine_pairs(assigned, id_col, "__v", ["__cell"], threshold)


def semantic_dedup_drop(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.99,
    policy: str = "keep_lowest",
) -> DataFrame:
    """Survivor set after semantic dedup: rows of `df` minus the losers of
    semantic_dedup_pairs under the given survivor policy (keep_lowest /
    cluster — see ops.dedup.drop_near_dups). The corpus-side plan is a
    single anti-join against the (small) loser set; the wide frame never
    shuffles."""
    from data_quality_spark.ops.dedup import drop_near_dups

    pairs = semantic_dedup_pairs(df, id_col, vec_col, centroids, threshold)
    return drop_near_dups(df, id_col, pairs, policy=policy)


# ---------------------------------------------------------------------------
# product quantization (FAISS IndexPQ-style compressed ANN)
# ---------------------------------------------------------------------------

PQ_M = 8      # subspaces: 64-dim embeddings -> 8 sub-vectors of 8 dims
PQ_K = 16     # codes per subspace -> one uint8-sized code per sub-vector
PQ_ITER = 2


def _pq_shape(codebooks) -> tuple:
    C = np.asarray(codebooks, dtype=np.float64)
    if C.ndim != 3:
        raise ValueError("codebooks must be [m][k][d_sub]")
    return C, C.shape[0], C.shape[1], C.shape[2]


def _pq_codes_udf(codebooks):
    """Arrow-batched PQ encoder: embedding -> array<int> of m code ids.
    Per subspace, squared-L2 to every code accumulates DIM-ORDERED
    (dist += diff*diff per dim) — the same left-associated IEEE addition
    sequence the SQL oracle's rendered `(v[i]-c[i])*(v[i]-c[i]) + ...`
    chain performs, so the argmin needs no rounding to agree across
    engines. Ties take the lowest code (numpy argmin = first minimum);
    NULL vectors encode as the zero vector's codes (kmeans convention)."""
    C, m, k, dsub = _pq_shape(codebooks)

    @F.pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        rows = [
            np.zeros(m * dsub) if v is None else np.asarray(v, np.float64)
            for v in vs
        ]
        V = np.stack(rows) if rows else np.zeros((0, m * dsub))
        codes = np.zeros((len(V), m), dtype=np.int32)
        for s in range(m):
            sub = V[:, s * dsub:(s + 1) * dsub]
            dist = np.zeros((len(V), k))
            for d in range(dsub):
                diff = sub[:, d, None] - C[None, s, :, d]
                dist += diff * diff
            codes[:, s] = np.argmin(dist, axis=1)
        return pd.Series(list(codes))

    return enc


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebooks
) -> DataFrame:
    """The compressed vector index: DataFrame(id, codes array<int>, one
    code per subspace). m uint8-sized codes replace m*d_sub doubles — 64×
    smaller at the library default (8 bytes vs 512) — and this table, not
    the embeddings, is what ADC search scans. Map-only (codebooks
    broadcast inside the Arrow UDF); persist it like a model artifact."""
    _pq_shape(codebooks)
    return df.select(
        F.col(id_col),
        _pq_codes_udf(codebooks)(_as_double(F.col(vec_col))).alias("codes"),
    )


def train_pq(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITER,
    dim: int = EMB_DIM,
) -> list:
    """Deterministic per-subspace Lloyd's — the PQ codebooks [m][k][d_sub].
    Init = sub-slices of the k smallest-id vectors (no RNG, the
    train_kmeans_cells convention). Each iteration: ONE encode scan (all
    subspaces assigned in a single Arrow pass), then posexplode to
    (sub, code, sub-vector) and recompute means as d_sub codegen'd avg
    aggregates rounded 6dp — map-side partial agg means the shuffle
    carries only m*k partial sums per task, never rows. Empty codes keep
    their previous centroid. Only the m*k*d_sub codebook reaches the
    driver; at 10^12 vectors train on a deterministic sample (orderBy id
    limit n) — the encode-scan shape is unchanged."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    v = _as_double(F.col(vec_col))
    # same NULL-seed guard as train_kmeans_cells: NULL embeddings follow the
    # zero-vector convention in the encoder but cannot seed codebook slices
    seeds = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), v.alias("__v")).orderBy(id_col).limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"need >= {k} non-NULL vectors to seed {k} codes")
    books = [
        [[float(x) for x in r["__v"][s * dsub:(s + 1) * dsub]]
         for r in seeds]
        for s in range(m)
    ]
    from data_quality_spark.ops.util import spread_narrow

    df = spread_narrow(df)
    for _ in range(n_iter):
        enc = _pq_codes_udf(books)
        assigned = df.select(
            F.posexplode(enc(v)).alias("__sub", "__code"),
            v.alias("__v"),
        ).select(
            "__sub", "__code",
            F.slice(F.col("__v"), F.col("__sub") * dsub + 1, dsub)
            .alias("__sv"),
        )
        aggs = [
            F.round(F.avg(F.element_at(F.col("__sv"), i + 1)), 6)
            .alias(f"c{i}")
            for i in range(dsub)
        ]
        rows = {
            (r["__sub"], r["__code"]): [r[f"c{i}"] for i in range(dsub)]
            for r in assigned.groupBy("__sub", "__code").agg(*aggs).collect()
        }
        books = [
            [rows.get((s, j), books[s][j]) for j in range(k)]
            for s in range(m)
        ]
    return books


def pq_topk_adc(
    codes_df: DataFrame,
    id_col: str,
    codebooks,
    query: list,
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over the COMPRESSED index: the query's
    per-(subspace, code) squared-L2 table is computed once driver-side and
    broadcast; each corpus row costs m integer table lookups + an exact
    int64 sum (entries are 6dp micro-units, so the sum is associativity-
    independent and the SQL oracle's SUM() reproduces it bit-for-bit).
    TakeOrderedAndProject keeps only k rows per partition — no global
    sort, and the embeddings table is never touched at query time: this
    is the 100 TB read-path win (scan m bytes/vector instead of
    8*dim). Returns (id, adc_dist) — approximate distances; exactness is
    the documented PQ recall trade (re-rank survivors against true
    vectors when needed)."""
    from data_quality_spark.pipeline.expected import round_half_up

    C, m, kk, dsub = _pq_shape(codebooks)
    q = [float(x) for x in query]
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != {m * dsub}")
    table = np.zeros((m, kk), dtype=np.int64)
    for s in range(m):
        for j in range(kk):
            acc = 0.0
            for d in range(dsub):
                diff = C[s, j, d] - q[s * dsub + d]
                acc += diff * diff
            table[s, j] = int(round_half_up(acc * 1e6, 0))

    @F.pandas_udf("long")
    def adc(codes: pd.Series) -> pd.Series:
        M = np.stack([np.asarray(c, dtype=np.int64) for c in codes]) \
            if len(codes) else np.zeros((0, m), dtype=np.int64)
        total = np.zeros(len(M), dtype=np.int64)
        for s in range(m):
            total += table[s][M[:, s]]
        return pd.Series(total)

    scored = codes_df.select(
        F.col(id_col), adc(F.col("codes")).alias("__t")
    )
    return (
        scored.orderBy("__t", id_col).limit(k)
        .select(
            F.col(id_col),
            (F.col("__t") / F.lit(1000000.0)).alias("adc_dist"),
        )
    )


def pq_topk_rerank(
    codes_df: DataFrame,
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks,
    query: list,
    k: int = 10,
    n_candidates: int = 50,
) -> DataFrame:
    """Two-stage retrieval (the standard production ANN shape): the
    compressed codes table nominates n_candidates by ADC, then ONLY those
    rows' true embeddings are scored with exact cosine and the top k
    returned — PQ's recall loss is confined to candidates ranked past
    n_candidates. Plan: the ADC stage is the pq_topk_adc single-scan
    TakeOrdered; its ≤n_candidates ids broadcast into a hash join against
    the embeddings scan (no shuffle of either table), then a second
    TakeOrdered. Output matches topk_cosine's (id, cos_sim) contract."""
    cand = pq_topk_adc(codes_df, id_col, codebooks, query, k=n_candidates)
    return _exact_rerank(emb_df, id_col, vec_col, cand, query, k)


def _exact_rerank(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    cand: DataFrame,
    query: list,
    k: int,
) -> DataFrame:
    """THE exact re-rank tail shared by every candidate-nomination search
    (pq_topk_rerank, ivfpq_rerank): broadcast the candidate ids into a hash
    join against the embeddings scan, exact 6dp-rounded cosine, TakeOrdered
    top-k with the topk_cosine tie-break — one definition so the re-rank
    contract cannot drift between paths."""
    hits = emb_df.join(F.broadcast(cand.select(id_col)), id_col)
    q = _lit_vec([float(x) for x in query])
    scored = hits.select(
        F.col(id_col),
        F.round(cosine(_as_double(F.col(vec_col)), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def pq_encode_with_cells(
    df: DataFrame, id_col: str, vec_col: str, codebooks, centroids
) -> DataFrame:
    """The IVF-PQ index table (id, cell, codes) in ONE pass — the coarse
    assignment and PQ encoder are both Arrow UDFs over the same input and
    fuse into a single ArrowEvalPython stage (one JVM→Python crossing).
    Persist it PARTITIONED BY cell: probe filters then prune whole files
    and the read path touches n_probe/k_cells of a 64×-compressed table."""
    v = _as_double(F.col(vec_col))
    return df.select(
        F.col(id_col),
        assign_cells(v, centroids).alias("cell"),
        _pq_codes_udf(codebooks)(v).alias("codes"),
    )


def ivfpq_topk(
    codes_df: DataFrame,
    id_col: str,
    codebooks,
    centroids: list[list[float]],
    query: list,
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """IVF-PQ search: rank cells by cosine(query, centroid) driver-side
    (the ivf_topk_trained contract — 6dp HALF_UP so the oracle's ranking
    agrees), then ADC only over probed cells' rows of the (id, cell,
    codes) index. Codes quantize the RAW vectors (the IVFPQ-flat variant;
    residual encoding would be a drop-in change of the encode and table
    inputs, not of this plan shape). Recall < 1 twice over — cell pruning
    and PQ distortion — which is the documented trade; compose with
    pq_topk_rerank-style exact re-ranking when it matters."""
    probe = _rank_probe_cells(centroids, query, n_probe)
    return pq_topk_adc(
        codes_df.where(F.col("cell").isin(probe)), id_col, codebooks, query, k
    )


def _pq_residual_index_udf(codebooks, centroids):
    """Combined residual IVF-PQ indexer: ONE Arrow crossing emits a
    struct(cell, codes) per vector — the coarse assignment (via the shared
    _assign_rows contract, so it can never drift from _assign_cells_udf)
    and the residual PQ codes quantizing (v − centroid[cell]). Chained
    separate UDFs would NOT fuse (the encoder consumes the assignment's
    output, and Spark only batches independent Python UDFs), so the
    combination is explicit. Residual subtraction is elementwise — no
    association-order concern; code argmin keeps the dim-ordered /
    lowest-code contract of _pq_codes_udf."""
    C, m, k, dsub = _pq_shape(codebooks)
    CC = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("struct<cell:int, codes:array<int>>")
    def enc(vs: pd.Series) -> pd.DataFrame:
        V = _stack_vecs(vs, m * dsub)
        cells = np.asarray(_assign_rows(V, CC), dtype=np.int64)
        R = V - CC[cells] if len(V) else V
        codes = np.zeros((len(V), m), dtype=np.int32)
        for s in range(m):
            sub = R[:, s * dsub:(s + 1) * dsub]
            dist = np.zeros((len(V), k))
            for d in range(dsub):
                diff = sub[:, d, None] - C[None, s, :, d]
                dist += diff * diff
            codes[:, s] = np.argmin(dist, axis=1)
        return pd.DataFrame(
            {"cell": pd.Series(cells, dtype="int32"),
             "codes": list(codes)}
        )

    return enc


def pq_encode_residual(
    df: DataFrame, id_col: str, vec_col: str, codebooks, centroids
) -> DataFrame:
    """The residual IVF-PQ index table (id, cell, codes): coarse cell plus
    codes of the residual vs that cell's centroid, in ONE Arrow stage
    (combined struct UDF). Persist partitioned by cell
    (pq_encode_with_cells contract)."""
    v = _as_double(F.col(vec_col))
    ix = _pq_residual_index_udf(codebooks, centroids)(v).alias("__ix")
    return df.select(F.col(id_col), ix).select(
        F.col(id_col),
        F.col("__ix.cell").alias("cell"),
        F.col("__ix.codes").alias("codes"),
    )


def train_pq_residual(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITER,
    dim: int = EMB_DIM,
) -> list:
    """PQ codebooks trained on the coarse-quantizer residuals (v −
    centroid[cell]) — what ivfpq_residual_topk's index needs. One extra
    Arrow stage materializes the residual column for the training scans;
    the Lloyd's loop is train_pq's, unchanged."""
    C = np.asarray(centroids, dtype=np.float64)
    v = _as_double(F.col(vec_col))

    @F.pandas_udf("array<double>")
    def res(vs: pd.Series, cells: pd.Series) -> pd.Series:
        rows = [
            np.zeros(C.shape[1]) if x is None else np.asarray(x, np.float64)
            for x in vs
        ]
        V = np.stack(rows) if rows else np.zeros((0, C.shape[1]))
        R = V - C[cells.to_numpy(dtype=np.int64)] if len(V) else V
        return pd.Series(list(R))

    # assign→res are CHAINED python UDFs (no fusion), so recomputing them
    # on the seed collect + every Lloyd iteration would cost 2 crossings ×
    # (n_iter+1) corpus scans. Persist for the training job's duration —
    # a bounded training intermediate (id + dim doubles per row), the NB
    # classifier trainer's contract.
    staged = df.select(
        F.col(id_col),
        res(v, assign_cells(v, centroids)).alias("__res"),
    ).persist()
    try:
        return train_pq(staged, id_col, "__res", m=m, k=k, n_iter=n_iter,
                        dim=dim)
    finally:
        staged.unpersist()


def ivfpq_residual_topk(
    codes_df: DataFrame,
    id_col: str,
    codebooks,
    centroids: list[list[float]],
    query: list,
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """Residual IVF-PQ search: one ADC table PER PROBED CELL (the query's
    residual differs per cell), n_probe·m·k integer micro-unit entries
    broadcast inside the UDF; each probed row costs m lookups in its
    cell's table + an exact int64 sum. Same single-scan TakeOrdered plan
    as pq_topk_adc behind a pushable cell filter."""
    from data_quality_spark.pipeline.expected import round_half_up

    C, m, kk, dsub = _pq_shape(codebooks)
    q = [float(x) for x in query]
    probe = _rank_probe_cells(centroids, q, n_probe)
    # per-cell tables: residual query (q − centroid[cell]) vs each code
    tables = np.zeros((len(probe), m, kk), dtype=np.int64)
    cell_slot = {c: i for i, c in enumerate(probe)}
    for slot, c in enumerate(probe):
        for s in range(m):
            for j in range(kk):
                acc = 0.0
                for d in range(dsub):
                    i = s * dsub + d
                    diff = (q[i] - centroids[c][i]) - C[s, j, d]
                    acc += diff * diff
                tables[slot, s, j] = int(round_half_up(acc * 1e6, 0))

    @F.pandas_udf("long")
    def adc(cells: pd.Series, codes: pd.Series) -> pd.Series:
        n = len(cells)
        if not n:
            return pd.Series(np.zeros(0, dtype=np.int64))
        slots = cells.map(cell_slot).to_numpy(dtype=np.int64)
        M = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        total = np.zeros(n, dtype=np.int64)
        for s in range(m):
            total += tables[slots, s, M[:, s]]
        return pd.Series(total)

    scored = codes_df.where(F.col("cell").isin(probe)).select(
        F.col(id_col), adc(F.col("cell"), F.col("codes")).alias("__t")
    )
    return (
        scored.orderBy("__t", id_col).limit(k)
        .select(
            F.col(id_col),
            (F.col("__t") / F.lit(1000000.0)).alias("adc_dist"),
        )
    )


def ivfpq_rerank(
    codes_df: DataFrame,
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks,
    centroids: list[list[float]],
    query: list,
    k: int = 10,
    n_probe: int = 1,
    n_candidates: int = 50,
) -> DataFrame:
    """The full production IVF-PQ search path: coarse probe → residual ADC
    over the compressed index nominates n_candidates → exact cosine on only
    those rows' true embeddings → top k. Combines both recall mitigations
    (more probes recover cell-pruning misses, re-ranking absorbs PQ
    distortion); plan = the residual ADC single-scan TakeOrdered + one
    candidate BroadcastExchange into the embeddings scan + a second
    TakeOrdered. Output matches topk_cosine's (id, cos_sim) contract."""
    cand = ivfpq_residual_topk(
        codes_df, id_col, codebooks, centroids, query, k=n_candidates,
        n_probe=n_probe,
    )
    return _exact_rerank(emb_df, id_col, vec_col, cand, query, k)


# ---------------------------------------------------------------------------
# cross-corpus embedding decontamination (the semantic twin of the n-gram
# decontaminate op: "is any training document a near-copy of an eval doc?")
# ---------------------------------------------------------------------------

DECON_EVAL_MAX = 200_000   # eval embeddings are driver-collected + shipped
DECON_THRESHOLD = 0.99


def embedding_decontaminate(
    train: DataFrame,
    eval_rows,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = DECON_THRESHOLD,
) -> DataFrame:
    """Per-EVAL-document max cosine over the whole training corpus.

    The embedding-space complement of textops.decontaminate (n-gram
    overlap): paraphrased or reformatted benchmark leakage shares no
    8-gram but sits at cosine ≈ 1 — the Phi/FineWeb-style semantic
    decontamination scan. Returns one row per eval doc:
    (eval_id, best_train_id, max_cos, contaminated).

    Scale shape — the corpus NEVER shuffles: eval embeddings (small by
    contract: benchmarks are 10²–10⁵ docs; validated ≤ DECON_EVAL_MAX)
    are collected once and shipped to executors inside ONE mapInPandas
    crossing; each partition streams its train batches against the eval
    matrix (dim-ordered accumulation — the same float op order as the
    native `dot` fold and the DuckDB list_sum oracle), keeps a running
    per-eval (max_cos, argmax_id) ACROSS batches, and emits exactly
    n_eval tiny rows per partition. The only exchange is
    (partitions × n_eval) rows of (idx, double, id) into a struct-max
    aggregate. At 10^12 train docs this is one corpus scan with an
    O(n_eval) reduce — the same shape as the Bloom/probe-gram broadcasts.

    Determinism: per-eval best is the lexicographic MAX of
    (raw_cos, train_id) — raw doubles are bit-identical across engines
    (identical op order), so the struct-max tie rule (equal cos → larger
    train id) is exact; cos is rounded to 6dp only at the output edge,
    and `contaminated` compares the ROUNDED value to the threshold.

    eval_rows: a DataFrame with (id_col, vec_col) — collected here — or a
    pre-collected list of (id, [floats]) tuples."""
    if isinstance(eval_rows, DataFrame):
        head = eval_rows.limit(DECON_EVAL_MAX + 1).collect()
        if len(head) > DECON_EVAL_MAX:
            raise ValueError(
                f"embedding_decontaminate(): eval set exceeds "
                f"DECON_EVAL_MAX={DECON_EVAL_MAX} rows — a set that large "
                "is a corpus, not a benchmark; block it or raise the cap"
            )
        ev = [(r[id_col], list(r[vec_col])) for r in head]
    else:
        ev = [(i, list(v)) for i, v in eval_rows]
    if not ev:
        raise ValueError("embedding_decontaminate(): empty eval set")
    ev.sort(key=lambda t: t[0])
    eval_ids = [i for i, _ in ev]
    Q = np.asarray([v for _, v in ev], dtype=np.float64)   # (n_eval, dim)
    dim = Q.shape[1]
    # eval norms, dim-ordered accumulation (parity with the fold/oracle)
    qn = np.zeros(len(ev))
    for d in range(dim):
        qn += Q[:, d] * Q[:, d]
    qn = np.sqrt(qn)

    spark = train.sparkSession
    src = train.select(
        F.col(id_col).cast("long").alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).where(F.col("__v").isNotNull())

    def scan(batches):
        best_cos = np.full(len(eval_ids), -np.inf)
        best_id = np.full(len(eval_ids), -1, dtype=np.int64)
        seen = False
        for pdf in batches:
            ok = pdf["__v"].map(
                lambda v: v is not None and len(v) == dim
            )
            pdf = pdf[ok]
            if pdf.empty:
                continue
            seen = True
            A = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            an = np.zeros(len(A))
            dots = np.zeros((len(A), len(eval_ids)))
            for d in range(dim):  # dim-ordered like the fold / list_sum
                an += A[:, d] * A[:, d]
                dots += np.outer(A[:, d], Q[:, d])
            an = np.sqrt(an)
            denom = np.outer(an, qn)
            cos = np.where(denom > 0, dots / denom, 0.0)
            for j in range(len(eval_ids)):
                cj = cos[:, j]
                m = cj.max()
                if m > best_cos[j]:
                    # lexicographic (cos, id) max: highest id on cos tie
                    cand = ids[cj == m].max()
                    best_cos[j] = m
                    best_id[j] = cand
                elif m == best_cos[j]:
                    best_id[j] = max(best_id[j], ids[cj == m].max())
        if seen:
            yield pd.DataFrame(
                {
                    "__eidx": np.arange(len(eval_ids), dtype=np.int64),
                    "__cos": best_cos,
                    "__tid": best_id,
                }
            )

    part = src.mapInPandas(scan, "__eidx long, __cos double, __tid long")
    agg = part.groupBy("__eidx").agg(
        F.max(F.struct("__cos", "__tid")).alias("__b")
    )
    eid = spark.createDataFrame(
        [(i, e) for i, e in enumerate(eval_ids)], "__eidx long, eval_id long"
    )
    return (
        agg.join(F.broadcast(eid), "__eidx")
        .select(
            "eval_id",
            F.col("__b.__tid").alias("best_train_id"),
            F.round(F.col("__b.__cos"), 6).alias("max_cos"),
            (F.round(F.col("__b.__cos"), 6) >= F.lit(threshold)).alias(
                "contaminated"
            ),
        )
    )


def sql_embedding_decontaminate(
    train_sql: str, eval_sql: str, threshold: float = DECON_THRESHOLD
) -> str:
    """DuckDB twin of embedding_decontaminate: brute-force cross join +
    per-eval max, same raw-double cosine (list_sum over dim order), same
    lexicographic (cos, train_id) tie rule, same rounded-edge threshold.
    Train rows whose length differs from the eval vector's are skipped, as
    the Spark side skips rows of the wrong dim.
    train_sql/eval_sql must yield (id BIGINT, v DOUBLE[])."""
    cos = (
        "CASE WHEN sqrt(list_sum([t.v[i]*t.v[i] for i in range(1, len(t.v)+1)])) > 0"
        " AND sqrt(list_sum([e.v[i]*e.v[i] for i in range(1, len(e.v)+1)])) > 0"
        " THEN list_sum([t.v[i]*e.v[i] for i in range(1, len(t.v)+1)])"
        " / (sqrt(list_sum([t.v[i]*t.v[i] for i in range(1, len(t.v)+1)]))"
        " * sqrt(list_sum([e.v[i]*e.v[i] for i in range(1, len(e.v)+1)])))"
        " ELSE 0.0 END"
    )
    return f"""
WITH train AS MATERIALIZED ({train_sql}),
ev AS MATERIALIZED ({eval_sql}),
pairs AS MATERIALIZED (
  SELECT e.id AS eval_id, t.id AS train_id, {cos} AS c
  FROM train t, ev e WHERE t.v IS NOT NULL AND len(t.v) = len(e.v)),
mx AS (SELECT eval_id, max(c) AS mc FROM pairs GROUP BY 1)
SELECT p.eval_id, max(p.train_id) AS best_train_id,
       round(any_value(mx.mc), 6) AS max_cos,
       round(any_value(mx.mc), 6) >= {threshold} AS contaminated
FROM pairs p JOIN mx ON mx.eval_id = p.eval_id AND p.c = mx.mc
GROUP BY p.eval_id
"""
