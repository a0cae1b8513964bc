"""Distributed PCA over an embedding column via exact sufficient
statistics.

The corpus-scale work is ONE pass: micro-quantize each component to
an integer (floor(x·2^20) — the same cross-engine-exact convention as
`clustering.kmeans_fit`), emit the upper-triangle second-moment
products plus first-moment sums plus the row count as (i, j, value)
triples from a single generator, and hash-aggregate them into
d·(d+1)/2 + d + 1 DECIMAL(38,0) cells. Integer sums are
order-insensitive, so the statistics — and everything derived from
them — are bit-reproducible however Spark partitions the corpus, and
a plain-SQL engine can re-derive them exactly (the `emb_gram` oracle
does).

Only those ~2k cells reach the driver; the eigendecomposition runs on
the d×d covariance there (numpy, microseconds), and the projection
returns to the cluster as a pure zero-shuffle literal-matrix
projection. The corpus is never shuffled and never visited twice.

Scale note: the generator emits d(d+1)/2 + d + 1 values per row
(2145 at d=64) straight into map-side partial aggregation — no join,
no materialized intermediate. That linear-in-d² factor is the right
trade to d≈128; past that, block the triangle into column ranges and
run one pass per block (same cells, bounded generator width), or
fall back to float treeAggregate when bit-reproducibility is not
required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 2^20: exact in binary floating point, so floor(x * MICRO) is the
#: same integer in every engine (a decimal 1e6 would also work; the
#: power of two keeps the scaling itself lossless for |x| < 2^32).
PCA_MICRO = 1 << 20
_DEC = "decimal(38,0)"
#: Factor type for the second-moment products: any int64 fits in 19
#: digits, and DECIMAL(19,0) × DECIMAL(19,0) widens to DECIMAL(38,0)
#: in BOTH Spark and DuckDB, so the product of ANY two quantized
#: components (< 2^126 < 10^38) is exact — no silent int64 wrap at
#: |q_i·q_j| ≥ 2^63 like a long×long multiply would have.
_DEC_FACTOR = "decimal(19,0)"


def _quantized(vec_col: str):
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(PCA_MICRO)))
        .cast("long"))


def _prod_struct(i, j):
    return F.struct(i.cast("int").alias("i"), j.cast("int").alias("j"),
                    (F.element_at(F.col("__q"), i + 1).cast(_DEC_FACTOR)
                     * F.element_at(F.col("__q"), j + 1).cast(_DEC_FACTOR))
                    .cast(_DEC).alias("v"))


def _agg_cells(qdf: DataFrame, gen) -> DataFrame:
    return (qdf.select(F.explode(gen).alias("c"))
            .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
            .agg(F.sum(F.col("c.v").cast(_DEC)).alias("__s")))


#: Fast-path product guard: with every |quantized component| < 2^31,
#: any pairwise long product is < 2^62 — exact in int64, no silent
#: wrap. At PCA_MICRO = 2^20 that bound is |x| >= 2^11 = 2048, far
#: outside any real embedding's component range; the assert raises
#: loudly instead of wrapping if such a corpus ever appears (use
#: `block` < dim to route it through the all-DECIMAL tile path).
_Q_BOUND = 1 << 31


def _gram_cells_fast(qdf: DataFrame, dim: int) -> DataFrame:
    """The unblocked cells as ONE flat long array per row +
    posexplode + two-level aggregation (guide §2.3 "aggregate before
    you shuffle" / §2.4): the per-row cells are a packed
    array<long> — no 2145 struct constructions or (i,j) key hashing
    per row — and the first-level aggregation groups by
    (partition_id, pos), which completes entirely map-side (the
    partition id is constant within a task), summing LONG products
    into DECIMAL(38,0) partials; only dim(dim+1)/2+dim+1 partial rows
    per partition cross the exchange, and the second level combines
    DECIMALs — exact at any corpus size. Products stay exact via the
    `_Q_BOUND` assert (2x measured win over per-cell decimal structs:
    4.17 -> 2.13 s at sf0.1; cell equality pinned by test)."""
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    guard = F.coalesce(
        F.array_max(F.transform(F.col("__q"), F.abs)) < F.lit(_Q_BOUND),
        F.lit(True))
    checked = F.when(
        F.assert_true(guard, F.lit(
            "gram_stats fast path: |quantized component| >= 2^31 "
            "(|x| >= 2^11 at PCA_MICRO=2^20) — long products would "
            "wrap; use gram_stats(..., block=<dim) for the DECIMAL "
            "tile path")).isNull(),
        # a null embedding still counts as a row, as in the tile path:
        # all-null components keep `flat` non-null, and sums skip them
        F.coalesce(F.col("__q"),
                   F.array_repeat(F.lit(None).cast("long"), dim)))
    prods = F.flatten(F.transform(idx, lambda i: F.transform(
        F.sequence(i, F.lit(dim - 1)),
        lambda j: F.element_at(F.col("__q"), i + 1)
        * F.element_at(F.col("__q"), j + 1))))
    flat = F.concat(F.array(F.lit(1).cast("long")), F.col("__q"), prods)
    # pos -> (i, j) is a plan-time literal lookup applied AFTER the
    # aggregation (2145 rows), never per input cell. Order mirrors the
    # generators above: count, first moments, upper-triangle products.
    pos_i = ([-1] + list(range(dim))
             + [i for i in range(dim) for _ in range(i, dim)])
    pos_j = ([-1] + [-1] * dim
             + [j for i in range(dim) for j in range(i, dim)])
    cells = (qdf.select(checked.alias("__q"))
             .withColumn("__pid", F.spark_partition_id())
             .select("__pid", F.posexplode(flat).alias("__pos", "__v"))
             .groupBy("__pid", "__pos")
             .agg(F.sum(F.col("__v").cast(_DEC)).alias("__pv"))
             .groupBy("__pos").agg(F.sum("__pv").alias("__s")))
    return cells.select(
        F.element_at(F.lit(pos_i), F.col("__pos") + 1)
        .cast("int").alias("i"),
        F.element_at(F.lit(pos_j), F.col("__pos") + 1)
        .cast("int").alias("j"),
        F.col("__s").cast("string").alias("s"))


def gram_stats(emb: DataFrame, dim: int,
               vec_col: str = "embedding",
               block: int | None = None) -> DataFrame:
    """(i, j, s) exact integer sufficient statistics:
    (-1,-1) row count; (i,-1) sum of quantized component i;
    (i,j) for i<=j sum of quantized products. `s` is DECIMAL(38,0)
    rendered as a digit string (cross-engine canonical form).
    The unblocked path computes products in int64 under the loud
    `_Q_BOUND` assert (exact — see `_gram_cells_fast`) and sums them
    in DECIMAL(38,0); the tile path computes products in
    DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0), exact for every pair
    of int64 quantized values. Either way the remaining bound is the
    SUM of products per cell, which overflows DECIMAL(38,0) only past
    ~10^38 total — raise `s`'s scale headroom by blocking the corpus
    before that point.

    `block` is the d≳128 scale path the single-pass docstring
    promises: the upper triangle splits into block×block column-range
    tiles and each tile runs its own corpus pass with a generator of
    at most block² structs per row (vs d²/2 unblocked). Cells are
    disjoint across tiles, so the union needs no re-aggregation and
    the result is bit-identical to the unblocked pass — pinned by
    test. Count + first-moment sums ride the first pass."""
    qdf = emb.select(_quantized(vec_col).alias("__q"))
    if block is None or block >= dim:
        return _gram_cells_fast(qdf, dim)
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    sums = F.transform(idx, lambda i: F.struct(
        i.cast("int").alias("i"), F.lit(-1).cast("int").alias("j"),
        F.element_at(F.col("__q"), i + 1).cast(_DEC).alias("v")))
    cnt = F.array(F.struct(F.lit(-1).cast("int").alias("i"),
                           F.lit(-1).cast("int").alias("j"),
                           F.lit(1).cast(_DEC).alias("v")))
    parts = [_agg_cells(qdf, F.concat(cnt, sums))]
    for b0 in range(0, dim, block):
        e0 = min(b0 + block, dim)
        for b1 in range(b0, dim, block):
            e1 = min(b1 + block, dim)
            tile = F.flatten(F.transform(
                F.sequence(F.lit(b0), F.lit(e0 - 1)),
                lambda i: F.transform(
                    # j runs max(i, b1)..e1-1; empty when i passed the
                    # tile's j-range (sequence would DESCEND otherwise)
                    F.when(F.greatest(i, F.lit(b1)) <= F.lit(e1 - 1),
                           F.sequence(F.greatest(i, F.lit(b1)),
                                      F.lit(e1 - 1)))
                    .otherwise(F.array().cast("array<int>")),
                    lambda j: _prod_struct(i, j))))
            parts.append(_agg_cells(qdf, tile))
    cells = parts[0]
    for p in parts[1:]:
        cells = cells.unionByName(p)
    return cells.select("i", "j", F.col("__s").cast("string").alias("s"))


def pca_fit(emb: DataFrame, dim: int, n_components: int,
            vec_col: str = "embedding") -> dict:
    """Fit PCA from the exact statistics: returns {mean: [d], components:
    [k][d] (rows = principal axes, unit norm, sign-fixed so each
    axis's largest-|w| weight is positive), explained_variance: [k]}.
    Deterministic for a given corpus: the statistics are exact
    integers and numpy's symmetric eigensolver sees bit-identical
    input whatever the partitioning."""
    import numpy as np

    rows = gram_stats(emb, dim, vec_col).collect()
    n = None
    s1 = np.zeros(dim)
    s2 = np.zeros((dim, dim))
    for r in rows:
        v = float(int(r.s))
        if r.i == -1:
            n = v
        elif r.j == -1:
            s1[r.i] = v
        else:
            s2[r.i, r.j] = s2[r.j, r.i] = v
    if not n or n < 2:
        raise ValueError("pca_fit needs >= 2 rows")
    mean_q = s1 / n
    cov = (s2 - np.outer(mean_q, s1)) / ((n - 1) * float(PCA_MICRO) ** 2)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    comps = []
    for k in order:
        w = evecs[:, k]
        if w[int(np.argmax(np.abs(w)))] < 0:
            w = -w
        comps.append(w)
    return {"mean": (mean_q / PCA_MICRO).tolist(),
            "components": [c.tolist() for c in comps],
            "explained_variance": evals[order].tolist()}


def pca_project(emb: DataFrame, model: dict,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(id, scores array<double>): centered projection onto the
    fitted axes. Pure projection — the model enters the plan as
    literal arrays, zero shuffle, zero joins; the fold over
    dimensions runs in index order so scores are deterministic."""
    mean = F.lit(model["mean"])
    out_cols = []
    for k, w in enumerate(model["components"]):
        wk = F.lit(list(w))
        score = F.aggregate(
            F.zip_with(F.zip_with(F.col(vec_col), mean,
                                  lambda x, m: x.cast("double") - m),
                       wk, lambda cx, wi: cx * wi),
            F.lit(0.0), lambda acc, x: acc + x)
        out_cols.append(score.alias(f"pc{k}"))
    return emb.select(F.col(id_col),
                      F.array(*out_cols).alias("scores"))
