"""Embedding similarity search: brute-force cosine top-k (the exact
baseline) and LSH / IVF-style bucketed ANN (the scale path).

Vectors are `array<float>` columns. All kernels are JVM higher-order
functions (zip_with + aggregate fold) — no Python per row; a vectorized
Pandas-UDF kernel is provided for wide batches where numpy's SIMD dot
beats the fold (flip `use_arrow_kernel`).

Scale design: brute-force top-k is a crossJoin — fine for |queries| ≪
|corpus| with the query side broadcast, O(Q·N) but embarrassingly
parallel. The LSH variant buckets by random-hyperplane signs so each
query only joins its bucket: candidate set shrinks ~2^bits, the join
becomes an equi-join on the signature, and recall is tunable with
multi-probe (probe_hamming ≥ 1 flips signature bits).
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from bearysta_spark.colnames import qname
from bearysta_spark.session import local_frame

logger = logging.getLogger(__name__)

#: Row budget for the EXACT all-pairs cosine verifier. N at the budget
#: is ~5·10⁷ candidate pairs — the point past which an exact quadratic
#: pass stops being the right tool and the caller should either raise
#: (default) or route through the SemDeDup cell-bounded pair surface.
#: The r05 scale ladder measured the unbounded kernel at 1.70 per-mult
#: (the only super-linear query in the inventory), so its input size is
#: checked before the quadratic pass runs.
EXACT_PAIRS_ROW_BUDGET = 10_000


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (l2_norm(a) * l2_norm(b))).cast("double")


@pandas_udf(DoubleType())
def _cosine_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    # Arrow-batched numpy kernel: ~5-20× the fold for d ≥ 256.
    import numpy as np

    out = []
    for x, y in zip(a, b):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        denom = float(np.linalg.norm(x) * np.linalg.norm(y))
        out.append(float(np.dot(x, y)) / denom if denom else float("nan"))
    return pd.Series(out)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow_kernel: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Output: qid, nid, sim, rank (1-based, ties broken by nid asc for
    determinism). Query side is broadcast; corpus is never shuffled —
    the only wide op is the per-query top-k window, which AQE keeps
    balanced because qid cardinality = |queries|.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    kernel = (
        _cosine_arrow(F.col("qvec"), F.col("nvec"))
        if use_arrow_kernel
        else cosine(F.col("qvec"), F.col("nvec"))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("sim", kernel)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def hyperplane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Random-hyperplane LSH signature: bit i = sign(vec · plane_i).
    Planes are literal arrays (driver-generated, deterministic seed) —
    they fold into the plan as constants, no broadcast var needed."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        bits.append(
            F.when(dot(vec, plane) >= 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane-sign bucket,
    then exact cosine re-rank within bucket. Equi-join on the signature
    replaces the crossJoin — candidate count drops ~2^len(planes)."""
    sig = lambda df: hyperplane_signature(F.col(vec_col), planes)  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        sig(queries).alias("sig"),
    )
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        sig(corpus).alias("sig"),
    )
    scored = (
        q.join(c, "sig")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("sim", cosine(F.col("qvec"), F.col("nvec")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def _cell_scores(vec: Column, centroids: list[list[float]]) -> list[Column]:
    return [
        dot(vec, F.array(*[F.lit(float(x)) for x in c])) for c in centroids
    ]


def nearest_cells(vec: Column, centroids: list[list[float]], n: int = 1) -> Column:
    """Indices of the n highest-dot-product centroids for a vector —
    the IVF coarse quantizer as a pure expression (centroids fold into
    the plan as literals; no broadcast variable, no Python)."""
    scores = _cell_scores(vec, centroids)
    pairs = F.array(
        *[
            F.struct(s.alias("score"), F.lit(i).alias("cell"))
            for i, s in enumerate(scores)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(pairs)), 1, n)
    return F.transform(top, lambda p: p["cell"])


def assign_cells_arrow(
    centroids: list[list[float]], probes: int = 1
):
    """Arrow-batched IVF cell assignment: one `batch @ centroids.T`
    dgemm per Arrow batch, top-`probes` cells per vector.

    The literal-expression `nearest_cells` builds K×d literals into the
    plan — past a few centroids the expression tree exceeds the codegen
    method-size limit and falls back to interpreted evaluation (measured
    ~8 s for 500×8×64 at sf0.01 vs ~0.2 s here). Centroids ship in the
    UDF closure (KB-scale). Deterministic: stable argsort, ties by
    ascending cell id."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(ArrayType(IntegerType()))
    def cells(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        scores = M @ C.T
        idx = np.argsort(-scores, axis=1, kind="stable")[:, :probes]
        return pd.Series(list(idx.astype("int32")))

    return cells


def assign_imi_cells_arrow(
    cb1: list[list[float]], cb2: list[list[float]], probes: int = 1
):
    """Arrow-batched INVERTED MULTI-INDEX cell assignment (Babenko &
    Lempitsky 2012): the coarse quantizer is the PRODUCT of two small
    half-space codebooks — cell (i, j) scores s1_i + s2_j, where s1/s2
    are the dot products of the vector's two halves against their
    codebooks. K1·K2 cells from only K1+K2 stored centroids: this is
    what keeps the centroid state broadcastable at 1e9+ vectors, where
    a flat IVF needing the same cell count would have to broadcast
    K1·K2 full-width centroids (r07 VERDICT ask #8). Returns the
    top-`probes` flat cell ids (i·K2 + j) per vector — two half
    dgemms + an outer sum per Arrow batch; the top-1 cell equals
    (argmax s1, argmax s2), so corpus assignment and the
    multi-sequence query probe share one kernel. Deterministic: stable
    argsort, ties by ascending flat cell id."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C1 = np.asarray(cb1, dtype=np.float64)
    C2 = np.asarray(cb2, dtype=np.float64)
    d1 = C1.shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def cells(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        s1 = M[:, :d1] @ C1.T
        s2 = M[:, d1:] @ C2.T
        flat = (s1[:, :, None] + s2[:, None, :]).reshape(len(M), -1)
        idx = np.argsort(-flat, axis=1, kind="stable")[:, :probes]
        return pd.Series(list(idx.astype("int32")))

    return cells


def assign_imi_cells_scored_arrow(
    cb1: list[list[float]], cb2: list[list[float]], probes: int = 1
):
    """assign_imi_cells_arrow returning (cell, qc) STRUCTS, where
    qc = <v, centroid(cell)> = s1_i + s2_j — the query-to-coarse-
    centroid inner product the RESIDUAL-encoded ADC needs as its
    per-cell offset: score(q, x) ≈ <q, cent(cell)> + <q, r̂>. The
    probing pass computes these scores anyway; emitting them costs
    nothing extra and keeps offset and probe order consistent by
    construction (FAISS IndexIVFPQ's coarse_dis term). Same kernel
    shape and tie rule as assign_imi_cells_arrow."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    C1 = np.asarray(cb1, dtype=np.float64)
    C2 = np.asarray(cb2, dtype=np.float64)
    d1 = C1.shape[1]
    out_t = ArrayType(
        StructType(
            [
                StructField("cell", IntegerType()),
                StructField("qc", DoubleType()),
            ]
        )
    )

    @pandas_udf(out_t)
    def cells(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        s1 = M[:, :d1] @ C1.T
        s2 = M[:, d1:] @ C2.T
        flat = (s1[:, :, None] + s2[:, None, :]).reshape(len(M), -1)
        idx = np.argsort(-flat, axis=1, kind="stable")[:, :probes]
        return pd.Series(
            [
                [(int(c), float(row[c])) for c in cs]
                for cs, row in zip(idx, flat)
            ]
        )

    return cells


def assign_cells_scored_arrow(centroids: list[list[float]], probes: int = 1):
    """assign_cells_arrow returning (cell, qc) structs — the flat-IVF
    twin of assign_imi_cells_scored_arrow (qc = <v, centroid(cell)>,
    the residual ADC's per-cell offset)."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    C = np.asarray(centroids, dtype=np.float64)
    out_t = ArrayType(
        StructType(
            [
                StructField("cell", IntegerType()),
                StructField("qc", DoubleType()),
            ]
        )
    )

    @pandas_udf(out_t)
    def cells(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        scores = M @ C.T
        idx = np.argsort(-scores, axis=1, kind="stable")[:, :probes]
        return pd.Series(
            [
                [(int(c), float(row[c])) for c in cs]
                for cs, row in zip(idx, scores)
            ]
        )

    return cells


def _residual_l2_codes(R, C):
    """L2-argmin PQ encode of a residual batch (n, d) against codebooks
    (m, ksub, dsub): FAISS ProductQuantizer::compute_codes semantics —
    the quantized value is an actual RECONSTRUCTION (x̂ = cent + r̂),
    unlike the raw path's direction-only IP-argmax. argmin realised as
    np.argmax of the EXPANDED score r·c − ||c||²/2 (the r² term is a
    per-row constant, so max-score ⇔ min-L2); first max = lowest cell
    id, matching the oracle's ORDER BY score DESC, cell ASC on the
    same expanded score."""
    import numpy as np

    m, _ksub, dsub = C.shape
    out = np.empty((len(R), m), dtype=np.int32)
    for j in range(m):
        sub = R[:, j * dsub : (j + 1) * dsub]
        score = sub @ C[j].T - 0.5 * (C[j] * C[j]).sum(axis=1)[None, :]
        out[:, j] = np.argmax(score, axis=1)  # first max = lowest cell
    return out


def imi_cell_residual_codes_arrow(
    cb1: list[list[float]],
    cb2: list[list[float]],
    codebooks: list[list[list[float]]],
    perm: list[int] | None = None,
):
    """ONE-pass residual IMI-PQ indexing kernel: vector → [imi_cell,
    code_0..code_{m-1}] where the codes L2-quantize the RESIDUAL
    x − centroid(cell) (FAISS IndexIVFPQ's encode_vectors with
    by_residual=true, on the IMI coarse quantizer). Keeping cell
    assignment and residual encoding in one kernel preserves
    _pq_index_frame's contract — one raw-vector scan, zero shuffles —
    and guarantees the residual is taken against the SAME cell the row
    is stored under.

    `perm` (the OPQ arm) permutes the residual's dimensions before
    encoding — the FAISS OPQMatrix pre-transform restricted to the
    permutation family (opq_roundrobin_perm), which an exact-integer
    oracle can replay (a dense SVD rotation cannot be). The coarse
    cell is assigned in the ORIGINAL space; only the PQ subspace
    slicing sees the permuted layout."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C1 = np.asarray(cb1, dtype=np.float64)
    C2 = np.asarray(cb2, dtype=np.float64)
    C = np.asarray(codebooks, dtype=np.float64)
    P = np.asarray(perm, dtype=np.int64) if perm is not None else None
    d1 = C1.shape[1]
    k2 = C2.shape[0]

    @pandas_udf(ArrayType(IntegerType()))
    def cell_codes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        s1 = M[:, :d1] @ C1.T
        s2 = M[:, d1:] @ C2.T
        flat = (s1[:, :, None] + s2[:, None, :]).reshape(len(M), -1)
        cells = np.argsort(-flat, axis=1, kind="stable")[:, 0]
        cent = np.concatenate([C1[cells // k2], C2[cells % k2]], axis=1)
        R = M - cent
        if P is not None:
            R = R[:, P]
        codes = _residual_l2_codes(R, C)
        return pd.Series(
            list(
                np.concatenate(
                    [cells[:, None].astype(np.int32), codes], axis=1
                )
            )
        )

    return cell_codes


def ivf_cell_residual_codes_arrow(
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
):
    """Flat-IVF twin of imi_cell_residual_codes_arrow: vector →
    [ivf_cell, residual codes...]."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    CC = np.asarray(centroids, dtype=np.float64)
    C = np.asarray(codebooks, dtype=np.float64)

    @pandas_udf(ArrayType(IntegerType()))
    def cell_codes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        cells = np.argsort(-(M @ CC.T), axis=1, kind="stable")[:, 0]
        codes = _residual_l2_codes(M - CC[cells], C)
        return pd.Series(
            list(
                np.concatenate(
                    [cells[:, None].astype(np.int32), codes], axis=1
                )
            )
        )

    return cell_codes


def imi_residual_frame(
    df: DataFrame,
    cb1: list[list[float]],
    cb2: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "residual",
) -> DataFrame:
    """Residual vectors against the IMI coarse quantizer, as PURE
    Catalyst expressions: cell = (argmax<h1, cb1>, argmax<h2, cb2>)
    via nearest_cells' literal fold, residual = v − concat(cb1_i,
    cb2_j) via zip_with. This is the TRAINING-path residual builder
    (pq_codebooks_fit input): expression dot products are sequential
    folds, IEEE-identical to DuckDB's list_dot_product, so the trained
    codebooks replay bit-for-bit in the oracle (the kmeans_fit
    discipline) — the Arrow dgemm kernels are reserved for the index
    build, where a last-ulp argmax flip is measure-zero for scoring
    but would COMPOUND through training iterations. Ties take the
    higher cell (nearest_cells' reverse-sort; oracle mirrors with
    ORDER BY score DESC, cell DESC)."""
    d1, d2 = len(cb1[0]), len(cb2[0])
    h1 = F.slice(F.col(vec_col), 1, d1)
    h2 = F.slice(F.col(vec_col), d1 + 1, d2)
    i = nearest_cells(h1, cb1, 1)[0]
    j = nearest_cells(h2, cb2, 1)[0]
    lit1 = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cb1])
    lit2 = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cb2])
    cent = F.concat(
        F.element_at(lit1, i + 1), F.element_at(lit2, j + 1)
    )
    return df.withColumn(
        out_col,
        F.zip_with(
            F.col(vec_col), cent, lambda a, b: a.cast("double") - b
        ),
    )


def imi_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cb1: list[list[float]],
    cb2: list[list[float]],
    k: int = 5,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IMI approximate top-k: ivf_topk with the two-level product
    quantizer of assign_imi_cells_arrow. Corpus vectors live in their
    single best product cell; each query probes its `probes`
    best-combined-score cells and ranks exact cosine within them.
    Same join shape as ivf_topk (query side explodes to `probes` rows
    and broadcasts; candidates come from the cell equi-join) — only
    the quantizer differs, trading a second half-dgemm for a
    square-root-sized centroid table."""
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        assign_imi_cells_arrow(cb1, cb2, 1)(F.col(vec_col))[0].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.explode(
            assign_imi_cells_arrow(cb1, cb2, probes)(F.col(vec_col))
        ).alias("cell"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("sim", _cosine_arrow(F.col("qvec"), F.col("nvec")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow_kernel: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors live in
    their single nearest cell; each query probes its `probes` nearest
    cells and ranks exact cosine within them. Equi-join on cell id →
    candidate count shrinks ~|cells|/probes vs the crossJoin; recall is
    tuned by `probes` (FAISS nprobe). Assignment and re-rank run as
    Arrow-batched numpy by default (see assign_cells_arrow); flip
    use_arrow_kernel=False for the pure-expression plan."""
    if use_arrow_kernel:
        corpus_cells = assign_cells_arrow(centroids, 1)(F.col(vec_col))[0]
        query_cells = assign_cells_arrow(centroids, probes)(F.col(vec_col))
        kernel = _cosine_arrow(F.col("qvec"), F.col("nvec"))
    else:
        corpus_cells = nearest_cells(F.col(vec_col), centroids, 1)[0]
        query_cells = nearest_cells(F.col(vec_col), centroids, probes)
        kernel = cosine(F.col("qvec"), F.col("nvec"))
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        corpus_cells.alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.explode(query_cells).alias("cell"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("sim", kernel)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 50_000,
    row_budget: int = EXACT_PAIRS_ROW_BUDGET,
    on_exceed: str = "raise",
    route_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via distributed blocked BLAS —
    EXACT and therefore O(N²) by contract.

    Rows are hashed into ceil(N / block_rows) blocks by id; a tiny
    (bi ≤ bj) block-pair grid is broadcast and each side of the pair is
    routed to its groups, so every unordered row pair lands in exactly
    one (bi, bj) group. Each group runs one dgemm (`A @ B.T` — ~250M
    FLOPs in milliseconds where per-row expression folds take seconds)
    inside applyInPandas and emits pairs above threshold.

    Nothing is ever collected to the driver (r01 VERDICT flagged the
    previous broadcast-the-corpus shape): memory per task is two
    block_rows×d panels (~2×300 MB at d=768 and the default block_rows),
    and shuffle volume is N×(nblocks+1) rows — the standard replication
    cost of exact all-pairs.

    Scale gate: the quadratic FLOP bill is measured, not argued — the
    r05 10× ladder clocked this kernel at 1.70 per-mult, the only
    super-linear shape in the repo — so the input row count (already
    measured for the block grid) is checked against row_budget:

    - ``on_exceed="raise"`` (default): fail loudly with a pointer to
      the approximate operators (semantic_dedup / lsh_topk / ivf_topk)
      instead of silently burning an N² pass at 100×.
    - ``on_exceed="route"``: degrade to cell_cosine_pairs — the
      SemDeDup cell-bounded pair surface (ΣN_c² ≈ N²/k) — with a
      logged notice. Recall loss is cross-cell pairs only; exact recall
      callers must raise row_budget explicitly, which keeps the
      decision visible at the call site.
    """
    import math

    import numpy as np

    spark = df.sparkSession
    n = df.count()
    if n > row_budget:
        if on_exceed == "route":
            logger.warning(
                "cosine_near_dup_pairs: %d rows exceeds the exact "
                "all-pairs budget %d; routing through the SemDeDup "
                "cell-bounded pair surface (cross-cell pairs are not "
                "compared — raise row_budget for exact recall)",
                n,
                row_budget,
            )
            return cell_cosine_pairs(
                df,
                threshold,
                id_col=id_col,
                vec_col=vec_col,
                centroids=route_centroids,
                n_rows=n,
            )
        raise ValueError(
            f"cosine_near_dup_pairs is exact all-pairs (O(N²)) and the "
            f"input has {n} rows > row_budget={row_budget}. Use "
            f"semantic_dedup / lsh_topk / ivf_topk for approximate "
            f"workloads, pass on_exceed='route' to degrade to the "
            f"cell-bounded SemDeDup pair surface, or raise row_budget "
            f"to pay the quadratic bill explicitly."
        )
    nblocks = max(1, math.ceil(n / block_rows))
    grid = local_frame(
        spark,
        [(i, j) for i in range(nblocks) for j in range(i, nblocks)],
        "bi int, bj int",
    )
    src = df.select(
        F.col(id_col).alias("pid"),
        F.col(vec_col).alias("pvec"),
        F.pmod(F.col(id_col), F.lit(nblocks)).cast("int").alias("blk"),
    )
    a_side = src.join(F.broadcast(grid), src.blk == grid.bi).select(
        "bi", "bj", F.lit("a").alias("side"), "pid", "pvec"
    )
    b_side = src.join(F.broadcast(grid), src.blk == grid.bj).select(
        "bi", "bj", F.lit("b").alias("side"), "pid", "pvec"
    )
    both = a_side.unionByName(b_side)

    def kernel(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        amask = pdf["side"] == "a"
        A, B = pdf[amask], pdf[~amask]
        if not len(A) or not len(B):
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        amat = np.array(list(A["pvec"]), dtype=np.float64)
        bmat = np.array(list(B["pvec"]), dtype=np.float64)
        aids = A["pid"].to_numpy()
        bids = B["pid"].to_numpy()
        # dot / (|a||b|), matching the oracle's operation order
        sims = (amat @ bmat.T) / np.outer(
            np.linalg.norm(amat, axis=1), np.linalg.norm(bmat, axis=1)
        )
        ii, jj = np.nonzero(sims >= threshold)
        ida, idb, s = aids[ii], bids[jj], sims[ii, jj]
        if bi == bj:
            # diagonal group: both sides are the same block — each pair
            # shows up twice plus the self-pair; keep the ordered half
            keep = ida < idb
            ida, idb, s = ida[keep], idb[keep], s[keep]
            lo, hi = ida, idb
        else:
            # off-diagonal blocks are disjoint id sets; orient the pair
            lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame(
            {"id_a": lo.astype(np.int64), "id_b": hi.astype(np.int64), "sim": s}
        )

    return both.groupBy("bi", "bj").applyInPandas(
        kernel, "id_a long, id_b long, sim double"
    )


#: Driver-side ceiling on sampled coarse-quantizer centroids (vectors
#: collected by _sample_centroids). 65,536 d=768 doubles ≈ 400 MB —
#: the most any routed-path caller should pull through the driver.
CENTROID_SAMPLE_CAP = 65_536


def _sample_centroids(
    df: DataFrame,
    n_rows: int,
    id_col: str,
    vec_col: str,
    cell_target: int = 4096,
) -> list[list[float]]:
    """Deterministic data-derived coarse quantizer for the routed pair
    surface: take k = ceil(n / cell_target) rows by md5(id) order (a
    distributed top-k — bounded collect of k vectors, never the corpus)
    and unit-normalize them. Uniform hash order ≈ a uniform sample, so
    expected cell population is ~cell_target; callers needing balanced
    cells pass trained kmeans centroids instead (clustering.kmeans_fit).
    """
    import logging
    import math

    import numpy as np

    k = max(2, math.ceil(n_rows / cell_target))
    if k > CENTROID_SAMPLE_CAP:
        # r06 VERDICT finding #4: uncapped, k = ceil(N/4096) collects
        # ~1.5 GB of vectors onto the driver at N=1e9/d=768. Cap the
        # sample (cells get proportionally fuller) and point callers at
        # the distributed trainer for corpora that need more cells.
        logging.getLogger(__name__).warning(
            "_sample_centroids: capping centroid sample at %d (requested "
            "%d for n_rows=%d); cells will average %.0f rows — pass "
            "trained centroids from clustering.kmeans_fit for balanced "
            "cells at this scale",
            CENTROID_SAMPLE_CAP,
            k,
            n_rows,
            n_rows / CENTROID_SAMPLE_CAP,
        )
        k = CENTROID_SAMPLE_CAP
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")))
        .limit(k)
        .collect()
    )
    m = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return (m / norms).tolist()


def cell_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Cosine ≥ threshold pairs compared ONLY within coarse-quantizer
    cells — the SemDeDup pair surface (see semantic_dedup) emitting the
    pairs themselves instead of keep flags, so it can stand in for
    cosine_near_dup_pairs when the exact row budget is blown.

    Same 100 TB shape as semantic_dedup: cell assignment is one Arrow
    dgemm scan, the quadratic surface is per-cell (ΣN_c² ≈ N²/k), one
    dgemm per cell inside applyInPandas. Misses cross-cell pairs by
    construction; near-dup pairs have cosine near 1 and land in the
    same cell with high probability (the SemDeDup argument).
    """
    import numpy as np

    if centroids is None:
        centroids = _sample_centroids(
            df, n_rows if n_rows is not None else df.count(), id_col, vec_col
        )

    cell = assign_cells_arrow(centroids, 1)(F.col(vec_col))[0]
    e = df.select(F.col(id_col), F.col(vec_col), cell.cast("int").alias("cell"))

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.array(list(pdf[vec_col]), dtype=np.float64)[order]
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (m @ m.T) / np.outer(norms, norms)
        ii, jj = np.nonzero(sims >= threshold)
        keep = ii < jj
        ii, jj = ii[keep], jj[keep]
        return pd.DataFrame(
            {
                "id_a": ids[ii].astype(np.int64),
                "id_b": ids[jj].astype(np.int64),
                "sim": sims[ii, jj] if len(ii) else np.array([], dtype=np.float64),
            }
        )

    return e.groupBy("cell").applyInPandas(
        kernel, "id_a long, id_b long, sim double"
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication for web-scale training data. Cluster the embedding
    space with a coarse quantizer, compare pairs ONLY within a cluster,
    and drop every vector that has a more-canonical (lower-id) neighbor
    at cosine ≥ threshold. Returns (id_col, cell, keep boolean).

    100 TB shape — the paper's point re-expressed as a plan: the
    quadratic surface is per-cell (ΣN_c² ≈ N²/k for balanced cells),
    realized as an equi-join on the cell id, never a global all-pairs;
    cell assignment is the same Arrow dgemm scan the IVF index uses
    (assign_cells_arrow), centroids travel in the kernel closure. The
    keep rule is per-pair (drop the larger id of any qualifying pair),
    deterministic and closure-free — compare cosine_near_dup_pairs, the
    global exact verifier this replaces on corpus-scale runs.

    Within-cell similarity runs as one dgemm per cell inside
    applyInPandas (measured ~6x the fold-expression pair join at sf0.1:
    the join redistributes onto only k cell-partitions and pays the
    interpreted 64-element fold per pair, the kernel pays milliseconds
    of BLAS). Task memory is cell_size × d doubles — if a cell
    outgrows that, raise the centroid count (smaller cells) or run the
    blocked cosine_near_dup_pairs kernel inside the offending cell;
    AQE's skew split cannot help a single group, so cell balance IS the
    memory model, same as FAISS IVF list sizing.
    """
    import numpy as np

    cell = assign_cells_arrow(centroids, 1)(F.col(vec_col))[0]
    e = corpus.select(
        F.col(id_col), F.col(vec_col), cell.cast("int").alias("cell")
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)  # index order == id order below
        ids = ids[order]
        m = np.array(list(pdf[vec_col]), dtype=np.float64)[order]
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (m @ m.T) / np.outer(norms, norms)
        ii, jj = np.nonzero(sims >= threshold)
        dropped = np.unique(jj[ii < jj])  # larger-id member of any pair
        keep = np.ones(len(ids), dtype=bool)
        keep[dropped] = False
        return pd.DataFrame(
            {id_col: ids, "cell": int(key[0]), "keep": keep}
        )

    return e.groupBy("cell").applyInPandas(
        kernel, f"{id_col} long, cell int, keep boolean"
    )


def semantic_decontam(
    train: DataFrame,
    val: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic eval-set decontamination — the embedding-space analogue
    of the n-gram decontamination family (functions.decontam): find
    validation/benchmark vectors whose cosine against ANY training
    vector reaches `threshold`, i.e. eval items the model will have
    effectively seen even though no n-gram matches. Returns one row per
    leaked val vector: (id, cell, n_train_hits, max_sim).

    Same 100 TB shape as semantic_dedup (the SemDeDup argument): both
    sides are assigned to coarse-quantizer cells by one Arrow dgemm
    scan, and train×val similarities are computed ONLY within a cell —
    one dgemm per cell inside applyInPandas, never a global cross
    product. Near-duplicates sit at cosine ≈ 1 and land in the same
    cell with high probability; exact-recall audits can run the blocked
    cosine_near_dup_pairs kernel on the val side's candidate cells.
    max_sim is the max over QUALIFYING train sims (≥ threshold), so the
    report is stable under cell-population changes below the cut."""
    import numpy as np

    cell = assign_cells_arrow(centroids, 1)(F.col(vec_col))[0]
    tagged = train.select(
        F.col(id_col),
        F.col(vec_col),
        F.lit(False).alias("__is_val"),
        cell.cast("int").alias("cell"),
    ).unionByName(
        val.select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(True).alias("__is_val"),
            cell.cast("int").alias("cell"),
        )
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        vmask = pdf["__is_val"].to_numpy()
        T, V = pdf[~vmask], pdf[vmask]
        if not len(T) or not len(V):
            return pd.DataFrame(
                {id_col: [], "cell": [], "n_train_hits": [], "max_sim": []}
            )
        tm = np.array(list(T[vec_col]), dtype=np.float64)
        vm = np.array(list(V[vec_col]), dtype=np.float64)
        tn = np.linalg.norm(tm, axis=1)
        vn = np.linalg.norm(vm, axis=1)
        tn[tn == 0.0] = 1.0
        vn[vn == 0.0] = 1.0
        sims = (tm @ vm.T) / np.outer(tn, vn)  # train x val
        hits = sims >= threshold
        n_hits = hits.sum(axis=0)
        keep = n_hits > 0
        masked = np.where(hits, sims, -np.inf)
        return pd.DataFrame(
            {
                id_col: V[id_col].to_numpy()[keep],
                "cell": int(key[0]),
                "n_train_hits": n_hits[keep].astype(np.int64),
                "max_sim": masked.max(axis=0)[keep],
            }
        )

    return tagged.groupBy("cell").applyInPandas(
        kernel, f"{id_col} long, cell int, n_train_hits long, max_sim double"
    )


def make_planes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (numpy PCG64, fixed seed)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


# -- Product quantization (ADC) ---------------------------------------------


def clustered_embedding_col(
    label_col: str = "label",
    vec_col: str = "embedding",
    spread: float = 0.15,
) -> Column:
    """The CLUSTERED embeddings fixture (r12 VERDICT ask #1) as a pure
    Catalyst expression: the driver's synthetic embeddings are
    near-isotropic (k-means k=8 explains ~7% of variance — measured in
    queries.imi_pq_residual_recall), so index-quality deltas land in
    the 0.02–0.05 recall band and a good index is indistinguishable
    from a mediocre one. This derives a mixture-of-Gaussians variant
    DETERMINISTICALLY from the existing parquet — no side files, so a
    DuckDB oracle replays it with the twin SQL expression
    (queries._clustered_e_sql):

        cvec[i] = double(vec[i])
                  + spread * (((label+1)*73 + i*37) % 13 - 6) / 6.0

    The center term is integer arithmetic until the final two float
    ops, and the op order matches the SQL twin exactly, so the fixture
    is bit-identical across engines (verified in
    tests/test_dedup_similarity.py). `spread` sets the
    between-cluster variance share: 0 reproduces the isotropic corpus;
    0.15 ≈ 0.35 share (the numpy prototype's sweet spot — residual-PQ
    and trained-coarse wins separate 2.4–23× vs isotropic; see
    scripts/proto_clustered_fixture.py)."""
    return F.transform(
        F.col(vec_col),
        lambda x, i: x.cast("double")
        + F.lit(float(spread))
        * (
            ((F.col(label_col) + F.lit(1)) * F.lit(73) + i * F.lit(37))
            % F.lit(13)
            - F.lit(6)
        )
        / F.lit(6.0),
    )


def make_pq_codebooks(
    dim: int, m: int = 8, ksub: int = 8, seed: int = 11
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: m subspaces of dim/m each, ksub
    centroids per subspace (seeded normals, unit-normalized). The
    fixed-geometry analogue of the IVF seed centroids; swap in k-means
    trained sub-centroids (functions.clustering) for production recall."""
    import numpy as np

    assert dim % m == 0, "dim must divide evenly into m subspaces"
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((m, ksub, dim // m))
    c /= np.linalg.norm(c, axis=2, keepdims=True)
    return c.tolist()


def _codebooks_sql(codebooks: list[list[list[float]]]) -> str:
    """The codebooks as one nested `array(...)` SQL literal of
    shortest-round-trip doubles; Catalyst folds it to a single
    constant."""

    def arr(items) -> str:
        return "array(" + ", ".join(items) + ")"

    return arr(
        arr(arr(repr(float(x)) + "D" for x in c) for c in book)
        for book in codebooks
    )


def _pq_score_sql(codebooks: list[list[list[float]]], vec_col: str) -> str:
    """The inner product of subspace `pq_j`'s slice of `vec_col` with
    centroid `pq_c` (lambda variables of the caller's `transform`s),
    folded in the same order as `dot()`."""
    dsub = len(codebooks[0][0])
    return (
        f"aggregate(zip_with(slice({qname(vec_col)}, pq_j * {dsub} + 1, {dsub}), pq_c,"
        " (pq_x, pq_y) -> double(pq_x) * double(pq_y)), 0D, (pq_a, pq_b) -> pq_a + pq_b)"
    )


def pq_code_rows(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding as (id, j, cell) rows: for each subspace j, the
    argmax-inner-product centroid of the j-th vector slice (the
    FAISS IndexPQ METRIC_INNER_PRODUCT quantizer). One scan, no
    shuffle, no Python worker: the whole encoder is ONE SQL expression
    — a `transform` over the codebooks, inlined once as a nested
    literal, whose scores are `dot()`'s sequential double fold
    (bit-equal to a Python `acc += x * c` loop). Ties break by
    ascending cell id (`array_max` over (score, -cell) structs; stable
    in any engine). The plan is built by one `F.expr` call.

    The fold is interpreted per row (higher-order functions do not
    codegen), so per row it costs more than the Arrow dgemm kernel
    (pq_code_rows_arrow): encoding 50k d=64 vectors in 4 tasks took
    6.0-7.8 s of steady-state CPU against 2.8-3.5 s (4-core host,
    local[4]). The kernel instead pays a fixed ~0.5 s of CPU per task
    (~0.2 s in the Python worker, the rest in the JVM), so the fold is
    cheaper below roughly 4k vectors per task; corpus-scale encoders
    keep the kernel.

    The code table is the compressed index a production system persists:
    m small ints per vector (m bytes at ksub<=256) instead of dim
    floats — 32× smaller at d=64, m=8."""
    score = _pq_score_sql(codebooks, vec_col)
    codes = (
        f"transform({_codebooks_sql(codebooks)}, (pq_book, pq_j) -> named_struct("
        "'j', pq_j, 'cell', -array_max(transform(pq_book, (pq_c, pq_k) -> "
        f"named_struct('score', {score}, 'negcell', -pq_k))).negcell))"
    )
    return df.select(F.col(id_col), F.expr(f"inline({codes})"))


def pq_codes_arrow(codebooks: list[list[list[float]]]):
    """The PQ encoder as a reusable Arrow kernel: vector → m-length
    codes array<int>, one `batch_sub @ codebook.T` dgemm per subspace
    per Arrow batch, stable argmax (ties → lowest cell id). Both code
    layouts derive from this one kernel — the row form
    (pq_code_rows_arrow, for LUT-join scoring) and the array form
    (_pq_index_frame, the persisted-index payload) — so they cannot
    drift."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    m, _ksub, dsub = C.shape

    @pandas_udf(ArrayType(IntegerType()))
    def codes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)  # (n, d)
        out = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            scores = M[:, j * dsub : (j + 1) * dsub] @ C[j].T  # (n, ksub)
            out[:, j] = np.argmax(scores, axis=1)  # first max = lowest cell
        return pd.Series(list(out))

    return codes


def pq_code_rows_arrow(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched PQ encoding: one `batch_sub @ codebook.T` dgemm per
    subspace per Arrow batch, stable argmax (ties → lowest cell id).

    The kernel for corpus-scale encoding. The expression encoder
    (pq_code_rows) is a one-literal fold that runs interpreted: at 50k
    d=64 vectors in 4 tasks it took 6.0-7.8 s of CPU to this kernel's
    2.8-3.5 s (4-core host). But each task of this kernel pays ~0.2 s
    of Python-worker CPU and ~0.3 s of JVM CPU before its first row, so
    below roughly 4k vectors per task the fold is cheaper (knn_pq_adc
    at sf0.1: 2,000 vectors, 1.15 s wall with the fold against 1.35 s
    with this kernel). The ~2.5 s vs ~0.4 s at sf0.1 measured earlier
    was against the per-literal Column-tree encoder the fold replaced,
    whose m·ksub·dsub literals outgrew the codegen method-size limit.
    Exactness: dgemm accumulation can differ from the
    sequential fold by ~1 ulp; argmax cells are unaffected away from
    exact score ties (asserted equal to the expression encoder in
    tests), and downstream ADC sums round at 4dp in DECIMAL where a
    1e-17 delta is measure-negligible — the same kernel-equivalence
    budget the driver-checked knn_ivf already relies on.
    Output matches pq_code_rows: (id, j, cell) rows."""
    codes = pq_codes_arrow(codebooks)
    return (
        df.select(F.col(id_col), codes(F.col(vec_col)).alias("__codes"))
        .select(
            id_col,
            F.posexplode("__codes").alias("j", "cell"),
        )
        .select(id_col, F.col("j").cast("int"), F.col("cell").cast("int"))
    )


def pq_lut_rows(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ADC lookup table as (qid, j, cell, s) rows: the inner
    product of each query sub-slice with every sub-centroid. |Q|·m·ksub
    rows — tiny for query batches, broadcast to the code join. Built as
    one SQL expression over the one codebook literal, with
    pq_code_rows' fold, so each `s` is bit-equal to the score the
    encoder ranked."""
    score = _pq_score_sql(codebooks, vec_col)
    lut = (
        f"flatten(transform({_codebooks_sql(codebooks)}, (pq_book, pq_j) -> "
        "transform(pq_book, (pq_c, pq_k) -> "
        f"named_struct('j', pq_j, 'cell', pq_k, 's', {score}))))"
    )
    return queries.select(
        F.col(id_col).alias("qid"), F.expr(f"inline({lut})")
    )


def pq_lut_rows_arrow(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
) -> DataFrame:
    """Arrow-batched ADC LUT: same output as pq_lut_rows, computed as
    one dgemm per subspace instead of m·ksub literal fold expressions
    (which cost ~600 driver py4j calls per plan build and push the
    query-side projection out of codegen). `perm` permutes the query
    dimensions before subspace slicing — REQUIRED when probing an
    OPQ-encoded index (codes live in the permuted layout; an
    unpermuted LUT silently scores garbage, which is why the perm is
    part of the persisted layout guard)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    C = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    P = np.asarray(perm, dtype=np.int64) if perm is not None else None
    m, ksub, dsub = C.shape

    @pandas_udf(ArrayType(DoubleType()))
    def luts(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        if P is not None:
            M = M[:, P]
        out = np.empty((len(M), m * ksub), dtype=np.float64)
        for j in range(m):
            out[:, j * ksub : (j + 1) * ksub] = (
                M[:, j * dsub : (j + 1) * dsub] @ C[j].T
            )
        return pd.Series(list(out))

    return (
        queries.select(
            F.col(id_col).alias("qid"), luts(F.col(vec_col)).alias("__lut")
        )
        .select("qid", F.posexplode("__lut").alias("idx", "s"))
        .select(
            "qid",
            (F.col("idx") / ksub).cast("int").alias("j"),
            (F.col("idx") % ksub).cast("int").alias("cell"),
            "s",
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-compressed index:
    approximate inner product = sum over subspaces of the query's LUT
    entry for the corpus vector's code. The corpus side never touches
    raw vectors after encoding — at 100 TB the scan reads the m-byte
    code table, the LUT broadcast is |Q|·m·ksub rows, and the only wide
    op is the per-(qid, nid) m-row sum (map-side combined on a composite
    key that is already co-partitioned with the code table).

    Output: qid, nid, adc (approximate IP), rank. Rank ties break by
    nid asc. Exactness note: the oracle-checked query variant rounds the
    ADC sum in DECIMAL (order-independent); this library path keeps the
    raw double sum."""
    codes = pq_code_rows(corpus, codebooks, id_col, vec_col).withColumnRenamed(
        id_col, "nid"
    )
    lut = pq_lut_rows(queries, codebooks, id_col, vec_col)
    scored = (
        codes.join(F.broadcast(lut), ["j", "cell"])
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.sum("s").alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("adc"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "adc", "rank")
    )


# -- Random projection (Johnson-Lindenstrauss) ------------------------------


def rp_project(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Random-projection dimensionality reduction: d → len(planes) dims
    by dotting each vector against fixed Gaussian directions (the
    Johnson-Lindenstrauss transform). The cheap preprocessing stage in
    front of clustering / ANN when d is large: pairwise geometry is
    preserved within ~sqrt(log n / k) distortion, and every downstream
    shuffle carries k floats instead of d.

    Expression-built (one zip_with/aggregate fold per output dim) so the
    arithmetic is a sequential JVM fold — bit-reproducible against a SQL
    engine's list_dot_product, which is what lets a driver oracle replay
    the projection exactly. Past a few dozen output dims the literal
    plan outgrows codegen (the IVF lesson) — switch to the Arrow dgemm
    kernel (ivf_assign-style) and give up bit parity for throughput."""
    plane_cols = [F.array(*[F.lit(float(x)) for x in p]) for p in planes]
    proj = F.array(*[dot(F.col(vec_col), pc) for pc in plane_cols])
    return df.select(F.col(id_col), proj.alias(out_col))


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed billion-scale ANN layout
    (FAISS IndexIVFPQ): the coarse quantizer (IVF cells) prunes WHICH
    vectors are scored, product quantization compresses HOW they are
    scored. Corpus vectors are stored as (ivf_cell, m subspace codes) —
    the raw vectors never participate in search; queries probe their
    `probes` nearest cells and rank candidates by the LUT-sum
    asymmetric distance.

    100 TB shape: the scan reads cell id + m bytes per vector (32×
    smaller than d=64 floats); the candidate join is an equi-join on
    ivf_cell against a broadcast probe list; the LUT is broadcast; the
    only wide op is the map-side-combined per-(qid, nid) sum over m
    rows. Candidate volume ≈ corpus·probes/|cells| — tuned exactly like
    FAISS nprobe — and nothing quadratic or vector-width-wide ever
    shuffles. adc_agg overrides the score aggregate (the oracle-checked
    query passes a DECIMAL-rounded sum; default raw double sum)."""
    if adc_agg is None:
        adc_agg = F.sum
    cells = corpus.select(
        F.col(id_col).alias("nid"),
        assign_cells_arrow(centroids, 1)(F.col(vec_col))[0].alias("ivf_cell"),
    )
    probe = queries.select(
        F.col(id_col).alias("qid"),
        F.explode(assign_cells_arrow(centroids, probes)(F.col(vec_col))).alias(
            "ivf_cell"
        ),
    )
    codes = pq_code_rows_arrow(corpus, codebooks, id_col, vec_col).withColumnRenamed(
        id_col, "nid"
    )
    lut = pq_lut_rows_arrow(queries, codebooks, id_col, vec_col)
    # corpus-side pre-join (co-partitioned on nid), then both small
    # frames broadcast: the corpus never shuffles
    scored = (
        codes.join(cells, "nid")
        .join(F.broadcast(probe), "ivf_cell")
        .filter(F.col("qid") != F.col("nid"))
        .join(F.broadcast(lut), ["qid", "j", "cell"])
        .groupBy("qid", "nid")
        .agg(adc_agg(F.col("s")).alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("adc"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "adc", "rank")
    )


def write_ivfpq_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoding: str = "raw",
) -> DataFrame:
    """Persist the IVF-PQ index: one row per vector — (id, codes
    array<int>, ivf_cell) — hive-partitioned by ivf_cell, exactly the
    on-disk layout FAISS's IndexIVFPQ inverted lists map to. Indexing
    reads the raw vectors ONCE; every later search reads cell id +
    m code bytes per vector and, because the cell is the partition
    key, a probe join prunes to ~probes/|cells| of the FILES before
    any byte is read (dynamic partition pruning from the broadcast
    probe list — plan-asserted in tests). Returns the write_corpus
    manifest.

    This mirrors write_lsh_index for the dedup stack: build once per
    corpus snapshot, search any number of query batches from the files
    with ivf_pq_topk_from_index. The quantizer geometry is persisted
    after the rows (streaming/index.py:ensure_layout — the writer
    wipes the directory) so load_ivfpq_index can refuse a probe under
    different centroids/codebooks, which would silently return wrong
    neighbors (the streaming arm's imipq_layout guard, applied to the
    batch index).

    encoding="residual" stores FAISS IndexIVFPQ's by_residual form:
    codes L2-quantize x − centroid(cell) instead of x itself
    (ivf_cell_residual_codes_arrow), and searches add the
    <q, centroid(cell)> offset to the ADC sum. The layout carries the
    encoding, so an index written one way REFUSES a probe planned the
    other way — mixed encodings don't error anywhere downstream, they
    just return wrong neighbors."""
    from bearysta_spark.sinks import write_corpus
    from bearysta_spark.streaming.index import (
        clear_pending_write,
        ensure_layout,
        mark_pending_write,
    )

    layout = _ivfpq_layout(centroids, codebooks, encoding)
    spark = corpus.sparkSession
    mark_pending_write(spark, path, layout)  # see write_lsh_index
    idx = _pq_index_frame(
        corpus,
        assign_cells_arrow(centroids, 1)(F.col(vec_col))[0],
        "ivf_cell",
        codebooks,
        id_col,
        vec_col,
        residual_kernel=(
            ivf_cell_residual_codes_arrow(centroids, codebooks)
            if encoding == "residual"
            else None
        ),
    )
    manifest = write_corpus(idx, path, partition_by=["ivf_cell"])
    ensure_layout(spark, path, layout)
    clear_pending_write(spark, path)
    return manifest


def _ivfpq_layout(
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    encoding: str = "raw",
) -> dict:
    """Layout constants for a persisted IVF-PQ index: cell count, PQ
    width, the digest of every float that determines cells/codes, and
    the code ENCODING (raw IP-argmax vs residual L2) — all
    correctness-load-bearing at search time: a residual index scored
    without the <q, cent> offset (or vice versa) silently returns
    wrong neighbors."""
    import hashlib
    import json

    if encoding not in ("raw", "residual"):
        raise ValueError(
            f"encoding must be 'raw' or 'residual', got {encoding!r}"
        )
    return {
        "cells": len(centroids),
        "m": len(codebooks),
        "codebooks_md5": hashlib.md5(
            json.dumps([centroids, codebooks]).encode()
        ).hexdigest(),
        "encoding": encoding,
    }


def _load_guarded_index(
    spark, path: str, want: dict, kind: str
) -> DataFrame:
    """Shared persisted-PQ index loader: admit a pre-layout index (the
    geometry cannot be inferred from code rows) UNLESS a pending-write
    marker shows the missing layout is an interrupted rebuild (r11
    ADVICE), raise on a mismatch — an index grown under one quantizer
    and probed under another silently returns wrong neighbors."""
    from bearysta_spark.streaming.index import (
        check_pending_write,
        read_layout,
    )

    cur = read_layout(path, spark)
    if cur is None:
        check_pending_write(spark, path)
    if cur is not None and cur != want:
        raise ValueError(
            f"{kind} index layout mismatch at {path}: persisted {cur}, "
            f"caller expects {want} — searching an index built under a "
            "different quantizer geometry returns wrong neighbors"
        )
    return spark.read.parquet(path)


def load_ivfpq_index(
    spark,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    encoding: str = "raw",
) -> DataFrame:
    """Read a persisted IVF-PQ index (write_ivfpq_index) with the
    quantizer-geometry guard (centroids, codebooks, AND encoding)."""
    return _load_guarded_index(
        spark, path, _ivfpq_layout(centroids, codebooks, encoding), "IVF-PQ"
    )


def load_imipq_index(
    spark,
    path: str,
    cb1: list[list[float]],
    cb2: list[list[float]],
    codebooks: list[list[list[float]]],
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Read a persisted IMI-PQ index (write_imipq_index) with the
    quantizer-geometry guard — the same imipq_layout digest the
    streaming arm validates on every ingest and serve (centroids,
    codebooks, encoding, AND the opq permutation when present)."""
    from bearysta_spark.streaming.ann import imipq_layout

    return _load_guarded_index(
        spark, path,
        imipq_layout(cb1, cb2, codebooks, encoding, perm=perm), "IMI-PQ",
    )


def _pq_index_frame(
    corpus: DataFrame,
    cell_assign,
    cell_col: str,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    residual_kernel=None,
) -> DataFrame:
    """Shared PQ-index build: (id, codes array<int>, <cell_col>) rows —
    the coarse quantizer is whatever single-cell Column `cell_assign`
    computes (flat IVF or IMI product cells), the codes are the m-way
    PQ assignment. ONE raw-vector pass and ZERO shuffles: both Arrow
    kernels (cell + codes) evaluate in a single projection over the
    scan — this is also the streaming ingest's per-micro-batch cost
    (streaming/ann.py), where an explode→regroup shuffle per batch
    would dominate small batches. All persisted-index writers call
    this so the code layout cannot drift between quantizers.

    `residual_kernel` (a *_cell_residual_codes_arrow kernel) switches
    to residual encoding: cell and codes then come from ONE combined
    kernel — the residual must be taken against the exact cell the row
    is stored under, so splitting them across two kernels would invite
    a cell/residual mismatch. `cell_assign` is ignored in that mode."""
    if residual_kernel is not None:
        arr = residual_kernel(F.col(vec_col))
        m = len(codebooks)
        return corpus.select(
            F.col(id_col),
            F.slice(arr, 2, m).alias("codes"),
            F.element_at(arr, 1).alias(cell_col),
        )
    return corpus.select(
        F.col(id_col),
        pq_codes_arrow(codebooks)(F.col(vec_col)).alias("codes"),
        cell_assign.alias(cell_col),
    )


def _pq_ranked_from_index(
    index: DataFrame,
    queries: DataFrame,
    probe_cells,
    cell_col: str,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    adc_agg,
    scored_probes: bool = False,
    perm: list[int] | None = None,
) -> DataFrame:
    """Shared persisted-PQ scoring: broadcast the probe list (qid,
    <cell_col> from the multi-cell Column `probe_cells`) so the cell
    equi-join dynamically prunes the index partitions, then rank EVERY
    probed candidate by the broadcast ADC LUT sum — (qid, nid, adc,
    rank) with no top-k cut, so operating-curve audits can read both
    the candidate volume and any shortlist depth from one frame. Both
    from-index searchers (IVF-PQ, IMI-PQ) rank through this —
    identical join/rank logic by construction.

    scored_probes=True is the RESIDUAL-encoding serve: `probe_cells`
    is then an array<struct<cell,qc>> (a *_scored_arrow kernel) and
    the final score is adc + qc, qc = <q, centroid(cell)> — the
    coarse-centroid term the residual codes dropped at encode time.
    The combine is exact-decimal (both addends cast to DECIMAL(25,10),
    rounded at 4dp) so it is order-independent and engine-replayable;
    qc is constant per (qid, nid) group because a vector is stored
    under exactly one cell. Raw indexes must NOT pass this (and
    residual indexes must) — the layout `encoding` guard enforces the
    pairing at load time."""
    if adc_agg is None:
        adc_agg = F.sum
    if scored_probes:
        probe = queries.select(
            F.col(id_col).alias("qid"),
            F.explode(probe_cells).alias("__pc"),
        ).select("qid", F.col("__pc.cell").alias(cell_col), "__pc.qc")
    else:
        probe = queries.select(
            F.col(id_col).alias("qid"),
            F.explode(probe_cells).alias(cell_col),
        )
    lut = pq_lut_rows_arrow(queries, codebooks, id_col, vec_col, perm=perm)
    cand = index.join(F.broadcast(probe), cell_col).filter(
        F.col("qid") != F.col(id_col)
    )
    sel = ["qid", F.col(id_col).alias("nid"),
           F.posexplode("codes").alias("j", "cell")]
    if scored_probes:
        sel.insert(2, F.col("qc"))
        scored = (
            cand.select(*sel)
            .join(F.broadcast(lut), ["qid", "j", "cell"])
            .groupBy("qid", "nid")
            .agg(
                adc_agg(F.col("s")).alias("__adc_r"),
                F.max("qc").alias("__qc"),
            )
            .select(
                "qid",
                "nid",
                F.round(
                    F.col("__adc_r").cast("decimal(25,10)")
                    + F.col("__qc").cast("decimal(25,10)"),
                    4,
                )
                .cast("double")
                .alias("adc"),
            )
        )
    else:
        scored = (
            cand.select(*sel)
            .join(F.broadcast(lut), ["qid", "j", "cell"])
            .groupBy("qid", "nid")
            .agg(adc_agg(F.col("s")).alias("adc"))
        )
    w = Window.partitionBy("qid").orderBy(F.desc("adc"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).select(
        "qid", "nid", "adc", "rank"
    )


def _pq_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    probe_cells,
    cell_col: str,
    codebooks: list[list[list[float]]],
    k: int,
    id_col: str,
    vec_col: str,
    adc_agg,
    scored_probes: bool = False,
    perm: list[int] | None = None,
) -> DataFrame:
    """Top-k cut of _pq_ranked_from_index (the serving shape)."""
    return _pq_ranked_from_index(
        index, queries, probe_cells, cell_col, codebooks, id_col, vec_col,
        adc_agg, scored_probes, perm=perm,
    ).filter(F.col("rank") <= k)


def opq_roundrobin_perm(
    df: DataFrame, m: int = 8, vec_col: str = "residual"
) -> list[int]:
    """Train the OPQ dimension permutation — the rotation family the
    exact-replay oracle discipline admits (OPQ, Ge et al. 2014,
    restricts R to a learned orthogonal transform; a dense SVD
    rotation is not expressible in engine-identical arithmetic, so
    this implements the PERMUTATION member: balanced allocation of
    variance-ranked dimensions, the paper's eigenvalue-allocation idea
    without the PCA basis). Rule: rank dims by a variance score
    (desc, ties by dim asc), deal them ROUND-ROBIN to the m subspaces
    — rank i lands at position (i % m)*dsub + i // m. On the clustered
    fixture this buys +0.032 recall@p16 over identity at equal code
    bytes (~40% of the numpy-measured dense-SVD ceiling; see
    scripts/proto_opq.py and BASELINE.md r13).

    ENGINE-IDENTICAL scoring: s1 = SUM(DECIMAL(25,10) quantized
    values) and s2 = SUM(DECIMAL(25,10) quantized squares of the
    quantized values) are exact decimal sums (partition-order
    independent); the score n·s2 − s1·s1 is then three IEEE double ops
    on identical inputs, so both engines produce the identical double
    and the identical ranking — no near-tie risk (a DuckDB oracle
    replays the ranking with the same expression; see
    the rvd/rvs/rrk/pmap CTEs of queries._residual_recall_oracle_sql(opq=True)). Driver state: one 64-row collect."""
    dim_rows = (
        df.select(F.posexplode(vec_col).alias("dim", "rv"))
        .groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("rv").cast("decimal(25,10)")).alias("s1"),
            F.sum(
                (
                    F.col("rv").cast("decimal(25,10)").cast("double")
                    * F.col("rv").cast("decimal(25,10)").cast("double")
                ).cast("decimal(25,10)")
            ).alias("s2"),
        )
        .select(
            "dim",
            (
                F.col("n").cast("double") * F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            ).alias("score"),
        )
        .collect()
    )
    d = len(dim_rows)
    if d % m != 0:
        raise ValueError(
            f"opq_roundrobin_perm: dim {d} must divide into m={m} subspaces"
        )
    dsub = d // m
    ranked = [
        r["dim"]
        for r in sorted(dim_rows, key=lambda r: (-r["score"], r["dim"]))
    ]
    # position p takes the dim ranked (p % dsub)*m + p // dsub's inverse:
    # rank i -> position (i % m)*dsub + i // m, so perm[p] = ranked[t*m + j]
    # with j = p // dsub, t = p % dsub (an 8x8 transpose — involution)
    return [ranked[(p % dsub) * m + p // dsub] for p in range(d)]


def imi_pq_index_frame(
    corpus: DataFrame,
    cb1: list[list[float]],
    cb2: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """The IMI-PQ index ROWS — (id, codes array<int>, imi_cell) under
    the stated encoding — without the persistence step: what
    write_imipq_index writes and ingest_imipq_batch commits (all three
    build through this, so the row layout cannot drift), exposed for
    audits that score an index without needing the on-disk artifact.
    encoding="opq" is residual encoding over `perm`-permuted residuals
    (opq_roundrobin_perm); the codebooks must then have been trained
    on the permuted residual frame."""
    if encoding == "opq" and perm is None:
        raise ValueError(
            "imi_pq_index_frame: encoding='opq' requires the trained "
            "dimension permutation (opq_roundrobin_perm)"
        )
    if encoding != "opq" and perm is not None:
        raise ValueError(
            f"imi_pq_index_frame: perm given but encoding={encoding!r} "
            "— a permutation only applies to the opq encoding"
        )
    return _pq_index_frame(
        corpus,
        assign_imi_cells_arrow(cb1, cb2, 1)(F.col(vec_col))[0],
        "imi_cell",
        codebooks,
        id_col,
        vec_col,
        residual_kernel=(
            imi_cell_residual_codes_arrow(
                cb1, cb2, codebooks,
                perm=perm if encoding == "opq" else None,
            )
            if encoding in ("residual", "opq")
            else None
        ),
    )


def imi_pq_probe_sweep(
    index: DataFrame,
    queries: DataFrame,
    cb1: list[list[float]],
    cb2: list[list[float]],
    codebooks: list[list[list[float]]],
    probes_list: tuple[int, ...],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Top-k at EVERY probes value in one pass — the sweep form of
    imi_pq_topk_from_index: candidates are scored ONCE at
    max(probes_list) with each candidate carrying its cell's probe
    RANK (prn), and every grid point is then read off ONE window pass
    (r13 optimization — previously each grid point re-ranked the
    cached scored frame with its own row_number window + union, i.e.
    |probes_list| window shuffles; now a single running conditional
    count per probes value over the shared (adc DESC, nid ASC) total
    order yields each candidate's rank WITHIN the prn<p slice, so the
    whole grid is one window + one explode, no cache needed). The
    per-point result is identical to a standalone probes=p search
    because a probes=p candidate set is exactly the prn < p slice,
    ADC does not depend on prn, and a running count of slice members
    over the total order IS the slice row_number. Returns (probes,
    qid, nid) top-k rows. encoding="opq": residual mechanics with the
    query LUT built over `perm`-permuted query dims (matching an
    opq-encoded index); the <q,cent> offset is permutation-invariant
    and stays in the original space."""
    if adc_agg is None:
        adc_agg = F.sum
    if (encoding == "opq") != (perm is not None):
        raise ValueError(
            "imi_pq_probe_sweep: encoding='opq' and perm go together "
            f"(got encoding={encoding!r}, perm={'set' if perm else None})"
        )
    P = max(probes_list)
    residual = encoding in ("residual", "opq")
    pc = (
        assign_imi_cells_scored_arrow(cb1, cb2, P)
        if residual
        else assign_imi_cells_arrow(cb1, cb2, P)
    )(F.col(vec_col))
    if residual:
        probe = queries.select(
            F.col(id_col).alias("qid"),
            F.posexplode(pc).alias("prn", "__pc"),
        ).select(
            "qid", "prn", F.col("__pc.cell").alias("imi_cell"), "__pc.qc"
        )
    else:
        probe = queries.select(
            F.col(id_col).alias("qid"),
            F.posexplode(pc).alias("prn", "imi_cell"),
        )
    lut = pq_lut_rows_arrow(queries, codebooks, id_col, vec_col, perm=perm)
    cand = index.join(F.broadcast(probe), "imi_cell").filter(
        F.col("qid") != F.col(id_col)
    )
    sel = ["qid", F.col(id_col).alias("nid"), "prn"]
    if residual:
        sel.append(F.col("qc"))
    base = cand.select(
        *sel, F.posexplode("codes").alias("j", "cell")
    ).join(F.broadcast(lut), ["qid", "j", "cell"])
    if residual:
        scored = (
            base.groupBy("qid", "nid", "prn")
            .agg(
                adc_agg(F.col("s")).alias("__adc_r"),
                F.max("qc").alias("__qc"),
            )
            .select(
                "qid",
                "nid",
                "prn",
                F.round(
                    F.col("__adc_r").cast("decimal(25,10)")
                    + F.col("__qc").cast("decimal(25,10)"),
                    4,
                )
                .cast("double")
                .alias("adc"),
            )
        )
    else:
        scored = base.groupBy("qid", "nid", "prn").agg(
            adc_agg(F.col("s")).alias("adc")
        )
    w = (
        Window.partitionBy("qid")
        .orderBy(F.desc("adc"), F.asc("nid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.select(
        "qid",
        "nid",
        "prn",
        *[
            F.sum(F.when(F.col("prn") < p, 1).otherwise(0))
            .over(w)
            .alias(f"__r{p}")
            for p in sorted(set(probes_list))
        ],
    )
    return (
        ranked.select(
            "qid",
            "nid",
            F.explode(
                F.array(
                    *[
                        F.when(
                            (F.col("prn") < p) & (F.col(f"__r{p}") <= k),
                            F.lit(p),
                        ).cast("int")
                        for p in probes_list
                    ]
                )
            ).alias("probes"),
        )
        .filter(F.col("probes").isNotNull())
        .select("probes", "qid", "nid")
    )


def write_imipq_index(
    corpus: DataFrame,
    cb1: list[list[float]],
    cb2: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Persist the IMI-PQ index — the FAISS IndexIVFPQ shape with the
    INVERTED MULTI-INDEX as the coarse quantizer (write_ivfpq_index's
    layout, keyed by the flat product cell i·K2+j): one row per vector
    (id, codes array<int>, imi_cell), hive-partitioned by imi_cell.
    This is the layout that survives 1e9+ vectors: K1·K2 partitions
    for cell-bounded inverted lists while the quantizer state that has
    to broadcast at build AND search time stays K1+K2 half-width
    centroids (square root of the cell count — r08 VERDICT ask #6
    composing the r08 IMI quantizer with the persisted-PQ serving
    path). Raw vectors are read once, at index-build time. The
    quantizer geometry is persisted after the rows (the streaming
    ingest's imipq_layout, identical digest) so load_imipq_index
    refuses a mismatched probe. encoding="residual" stores
    x − centroid(cell) codes (see write_ivfpq_index)."""
    from bearysta_spark.sinks import write_corpus
    from bearysta_spark.streaming.ann import imipq_layout
    from bearysta_spark.streaming.index import (
        clear_pending_write,
        ensure_layout,
        mark_pending_write,
    )

    layout = imipq_layout(cb1, cb2, codebooks, encoding, perm=perm)
    spark = corpus.sparkSession
    mark_pending_write(spark, path, layout)  # see write_lsh_index
    idx = imi_pq_index_frame(
        corpus, cb1, cb2, codebooks, id_col, vec_col, encoding, perm=perm
    )
    manifest = write_corpus(idx, path, partition_by=["imi_cell"])
    ensure_layout(spark, path, layout)
    clear_pending_write(spark, path)
    return manifest


def imi_pq_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    cb1: list[list[float]],
    cb2: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """IMI-PQ top-k against a PERSISTED index (write_imipq_index):
    queries probe their `probes` best product cells (multi-sequence
    probe, one outer sum over two half dgemms), the broadcast probe
    list dynamically prunes the imi_cell partitions before any byte is
    read, and candidates are ranked by the PQ ADC LUT sum — raw corpus
    vectors never touch the search path. Identical join/rank logic to
    ivf_pq_topk_from_index — shared via _pq_topk_from_index; only the
    quantizer differs. `encoding` must match how the index was WRITTEN
    (load_imipq_index's layout guard enforces it): residual serves add
    the <q, centroid(cell)> offset the residual codes dropped;
    encoding="opq" additionally builds the LUT over `perm`-permuted
    query dims (must equal the perm the index was written under — the
    layout guard carries it)."""
    if (encoding == "opq") != (perm is not None):
        raise ValueError(
            "imi_pq_topk_from_index: encoding='opq' and perm go together"
        )
    residual = encoding in ("residual", "opq")
    return _pq_topk_from_index(
        index,
        queries,
        (
            assign_imi_cells_scored_arrow(cb1, cb2, probes)
            if residual
            else assign_imi_cells_arrow(cb1, cb2, probes)
        )(F.col(vec_col)),
        "imi_cell",
        codebooks,
        k,
        id_col,
        vec_col,
        adc_agg,
        scored_probes=residual,
        perm=perm,
    )


def imi_pq_topk_refined(
    index: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    cb1: list[list[float]],
    cb2: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    probes: int = 1,
    refine: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
    shortlist: DataFrame | None = None,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Two-stage IMI-PQ search with EXACT refinement — the FAISS
    IndexRefineFlat shape production serving actually runs: stage 1
    shortlists `refine` candidates per query by the lossy PQ ADC score
    from the codes-only persisted index (imi_pq_topk_from_index —
    partition-pruned, never a raw corpus float), stage 2 fetches ONLY
    the shortlist's raw vectors (a left-semi-pruned point read of
    ~refine·|Q| rows from the vectors store) and re-ranks by exact
    cosine. This buys back the quantization error at a cost that
    scales with |Q|·refine, never the corpus: the 100 TB scan stays
    m bytes/vector, and full-width floats are touched for a few dozen
    rows per query. Output: (qid, nid, sim, rank), ties by nid asc.
    The |Q|·refine-row shortlist is scope-cached — it feeds both the
    vector-fetch semi-join and the rerank join, and recomputing the
    whole ADC stage per consumer would double stage-1 cost. Pass `shortlist`
    ((qid, nid) rows, e.g. an already-cached k=refine search) to skip
    stage 1 entirely — the recall audit reranks the same frame its
    ceiling row reads, so the two cannot drift."""
    from bearysta_spark.cachescope import scoped_cache

    short = (
        shortlist.select("qid", "nid")
        if shortlist is not None
        else scoped_cache(
            imi_pq_topk_from_index(
                index, queries, cb1, cb2, codebooks,
                k=refine, probes=probes, id_col=id_col, vec_col=vec_col,
                adc_agg=adc_agg, encoding=encoding, perm=perm,
            ).select("qid", "nid")
        )
    )
    nv = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).join(short.select("nid").distinct(), "nid", "left_semi")
    qv = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    scored = (
        short.join(F.broadcast(qv), "qid")
        .join(nv, "nid")
        .withColumn("sim", cosine(F.col("qvec"), F.col("nvec")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def imi_pq_operating_curve(
    index: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    cb1: list[list[float]],
    cb2: list[list[float]],
    codebooks: list[list[list[float]]],
    probes_list: tuple[int, ...] = (1, 2, 4, 8),
    refine_list: tuple[int, ...] = (5, 15, 30),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
) -> DataFrame:
    """The FAISS-style TUNING TABLE for the two-stage IMI-PQ search:
    sweep the (probes × refine) grid over a persisted index and report,
    per cell, the candidate volume (and its fraction of the corpus —
    what stage 1 actually scans), the exact-rerank row count (what
    stage 2 pays), and refined top-k recall against brute-force cosine
    truth. imi_pq_refine_recall measures ONE point of this surface;
    the curve is what a serving owner reads to pick parameters — it
    shows where the shortlist ceiling stops binding (raising refine
    past the probe bound buys nothing) and what each extra probe costs
    in scanned fraction. Output: (probes, refine, n_candidates,
    scanned_ppm, rerank_rows, hits, recall_ppm), one row per grid
    cell, integer ppm (1e6·x // denom) throughout.

    Cost shape (r13: ONE stage-1 search for the whole grid): candidates
    are scored once at max(probes) with their probe rank (prn), one
    window pass of running conditional counts gives every candidate's
    ADC rank at every probes value, the grid's integer stats come from
    one aggregate, and the exact rerank is one shortlist explode + one
    raw-vector fetch + one rerank window + one truth join for ALL
    (probes, refine) cells; truth is |Q|·N brute force (an audit, run
    on samples at 100 TB); raw full-width rows are touched for
    ~max(refine)·|Q| rows per probes value total.

    ASSUMPTION (r11 ADVICE): `queries` is a SUBSET of `vectors` — the
    scanned_ppm denominator is |Q|·(N−1), matching the qid != nid
    self-exclusion in _pq_ranked_from_index. For an external query set
    nothing is self-excluded, candidates can reach |Q|·N, and
    scanned_ppm could exceed 1_000_000; callers auditing a disjoint
    query batch should read n_candidates (exact either way) rather
    than the ppm column. The registered query satisfies the
    assumption (queries = vec_id < 5 of the corpus)."""
    from bearysta_spark.cachescope import scoped_cache

    if adc_agg is None:  # documented default (r13 ADVICE: the inline
        adc_agg = F.sum  # rewrite lost _pq_ranked_from_index's fallback)

    truth = scoped_cache(
        brute_force_topk(vectors, queries, k=k, id_col=id_col,
                         vec_col=vec_col).select("qid", "nid")
    )
    n_expected = truth.count()
    denom = queries.count() * (vectors.count() - 1)
    if n_expected == 0 or denom <= 0:
        # the ppm columns divide by these driver-side literals; under
        # non-ANSI Spark `div 0` is NULL, so an empty query set or a
        # <2-vector corpus would emit a full grid of NULL-recall rows —
        # a silently meaningless audit. Raise like the other
        # empty-input guards (_checked_live_index, write_codelen_model).
        raise ValueError(
            "imi_pq_operating_curve: empty query set or <2 corpus "
            f"vectors (n_expected={n_expected}, denom={denom}) — the "
            "recall/scanned ppm columns would be NULL"
        )
    rmax = max(refine_list)
    plist = sorted(set(probes_list))
    rlist = sorted(set(refine_list))
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))

    # r13 optimization (guide §2.4, the imi_pq_probe_sweep discipline
    # taken to its conclusion): stage 1 is scored ONCE at max(probes)
    # with each candidate carrying its cell's probe rank (prn) — the
    # probes=p candidate set is exactly the prn<p slice and ADC does
    # not depend on prn, so ONE window pass of running conditional
    # counts yields each candidate's ADC rank at EVERY probes value
    # (previously one full index join + rank window + cache PER probes
    # value). The grid's integer stats then fall out of one aggregate,
    # the rerank shortlist out of one explode, and every (probes,
    # refine) recall out of ONE exact-cosine pass + ONE rerank window
    # + ONE truth join (previously one of each per grid cell).
    P = max(plist)
    probe = queries.select(
        F.col(id_col).alias("qid"),
        F.posexplode(
            assign_imi_cells_arrow(cb1, cb2, P)(F.col(vec_col))
        ).alias("prn", "imi_cell"),
    )
    lut = pq_lut_rows_arrow(queries, codebooks, id_col, vec_col)
    cand = index.join(F.broadcast(probe), "imi_cell").filter(
        F.col("qid") != F.col(id_col)
    )
    scored = (
        cand.select(
            "qid",
            F.col(id_col).alias("nid"),
            "prn",
            F.posexplode("codes").alias("j", "cell"),
        )
        .join(F.broadcast(lut), ["qid", "j", "cell"])
        .groupBy("qid", "nid", "prn")
        .agg(adc_agg(F.col("s")).alias("adc"))
    )
    w = (
        Window.partitionBy("qid")
        .orderBy(F.desc("adc"), F.asc("nid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scoped_cache(
        scored.select(
            "qid",
            "nid",
            "prn",
            *[
                F.sum(F.when(F.col("prn") < p, 1).otherwise(0))
                .over(w)
                .alias(f"__r{p}")
                for p in plist
            ],
        )
    )

    # integer stats for every grid cell in one aggregate (a candidate
    # at probes p is prn<p; its ADC rank there is __r{p})
    # coalesce (r13 ADVICE): on an EMPTY candidate frame the global agg
    # emits one all-NULL row; the pre-r13 per-cell count(*) path emitted
    # 0s — keep that contract for degenerate inputs
    aggs = []
    for p in plist:
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("prn") < p, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"__cand{p}")
        )
        for r in rlist:
            aggs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("prn") < p) & (F.col(f"__r{p}") <= r), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"__rr{p}_{r}")
            )
    stack_cells = ", ".join(
        f"{p}, {r}, __cand{p}, __rr{p}_{r}" for p in plist for r in rlist
    )
    grid = ranked.agg(*aggs).selectExpr(
        f"stack({len(plist) * len(rlist)}, {stack_cells}) AS "
        "(probes, refine, n_candidates, rerank_rows)"
    )

    # exact rerank: ONE shortlist (per-probes ADC rank ≤ max refine),
    # one raw-vector fetch, one rerank window ranking every refine
    # depth, one truth join — identical per-cell rows to the per-cell
    # row_number/filter chain because arank ≤ r slices share the
    # (sim DESC, nid ASC) total order
    short = (
        ranked.select(
            "qid",
            "nid",
            F.explode(
                F.array(
                    *[
                        F.when(
                            (F.col("prn") < p)
                            & (F.col(f"__r{p}") <= rmax),
                            F.struct(
                                F.lit(p).cast("int").alias("probes"),
                                F.col(f"__r{p}").alias("arank"),
                            ),
                        )
                        for p in plist
                    ]
                )
            ).alias("__pr"),
        )
        .filter(F.col("__pr").isNotNull())
        .select("qid", "nid", "__pr.probes", "__pr.arank")
    )
    nv = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).join(short.select("nid").distinct(), "nid", "left_semi")
    sims = (
        short.join(F.broadcast(qv), "qid")
        .join(nv, "nid")
        .select(
            "probes", "qid", "nid", "arank",
            cosine(F.col("qvec"), F.col("nvec")).alias("sim"),
        )
    )
    w2 = (
        Window.partitionBy("probes", "qid")
        .orderBy(F.desc("sim"), F.asc("nid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    refd = sims.select(
        "probes",
        "qid",
        "nid",
        "arank",
        *[
            F.sum(F.when(F.col("arank") <= r, 1).otherwise(0))
            .over(w2)
            .alias(f"__s{r}")
            for r in rlist
        ],
    )
    topk_long = (
        refd.select(
            "probes",
            "qid",
            "nid",
            F.explode(
                F.array(
                    *[
                        F.when(
                            (F.col("arank") <= r) & (F.col(f"__s{r}") <= k),
                            F.lit(r),
                        ).cast("int")
                        for r in rlist
                    ]
                )
            ).alias("refine"),
        )
        .filter(F.col("refine").isNotNull())
    )
    hits = (
        topk_long.join(truth, ["qid", "nid"])
        .groupBy("probes", "refine")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    return (
        grid.join(hits, ["probes", "refine"], "left")
        .select(
            "probes",
            "refine",
            "n_candidates",
            F.expr(
                f"CAST((1000000 * n_candidates) div {denom} AS BIGINT)"
            ).alias("scanned_ppm"),
            "rerank_rows",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.expr(
                f"CAST((1000000 * coalesce(hits, 0)) div {n_expected} "
                "AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("probes", "refine")
    )


def ivf_pq_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
    encoding: str = "raw",
) -> DataFrame:
    """IVF-PQ top-k against a PERSISTED index (write_ivfpq_index):
    identical math to ivf_pq_topk, but the corpus side is the index
    files — raw vectors never read, and the probe join on the ivf_cell
    partition column prunes whole partitions before scan. The probe
    list and ADC LUT broadcast; the only wide op is the
    map-side-combined per-(qid, nid) ADC sum (shared core:
    _pq_topk_from_index). `encoding` must match how the index was
    WRITTEN (load_ivfpq_index's layout guard enforces it)."""
    residual = encoding == "residual"
    return _pq_topk_from_index(
        index,
        queries,
        (
            assign_cells_scored_arrow(centroids, probes)
            if residual
            else assign_cells_arrow(centroids, probes)
        )(F.col(vec_col)),
        "ivf_cell",
        codebooks,
        k,
        id_col,
        vec_col,
        adc_agg,
        scored_probes=residual,
    )
