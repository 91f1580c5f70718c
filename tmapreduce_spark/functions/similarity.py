"""Similarity search over the ``embeddings`` table (``array<float>``):
brute-force cosine top-k (the exact baseline) and blocked threshold pairs.

All pairwise cosine math runs on the quantized int64 grid (components scaled
by 1e6 and floored): integer dot products are reduction-order independent, so
numpy's BLAS-speed matmuls on the Spark side are bit-identical to DuckDB's
ordered list folds — exactness AND vectorization, where a float fold would
pin both engines to interpreted element-ordered evaluation
(``aggregate()``/``list_reduce``, ~µs/element).

Scale path: brute-force top-k is one Arrow-batched scan of the corpus scored
against the broadcast query model — linear, shuffle-free, embarrassingly
parallel; the correct exact-ANN baseline even at 100 TB when the query set is
small. The sub-linear variants (LSH / IVF in functions/scale.py) prune the
same scan to probed buckets.

Single-vector stats (``embedding_norms``) keep the float64 ordered fold: one
dot per row is linear work and the fold pins the exact float semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tmapreduce_spark.catalog import QuerySpec
from tmapreduce_spark.parity import mround, mround_np
from tmapreduce_spark.sources.catalog import load_table, spread

N_QUERIES = 5  # ann query set: vec_id 0..4
TOP_K = 10


def _dot_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _dot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector stats: dimensionality, L2 norm, mean component."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.selectExpr(
        "vec_id",
        "size(embedding) AS dim",
        f"floor((sqrt({_dot_spark('embedding', 'embedding')})) * 1000000 + 0.5) / 1000000 AS l2_norm",
        "floor((aggregate(embedding, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE))"
        " / size(embedding)) * 1000000 + 0.5) / 1000000 AS mean_val",
        "label",
    )


EMBEDDING_NORMS_SQL = f"""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       floor((sqrt({_dot_duck('embedding', 'embedding')})) * 1000000 + 0.5) / 1000000 AS l2_norm,
       floor((list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(embedding, v -> CAST(v AS DOUBLE))),
             (acc, v) -> acc + v) / len(embedding)) * 1000000 + 0.5) / 1000000 AS mean_val,
       label
FROM embeddings
"""


def topk_ranked(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Per-query top-k on the (query_id, neighbor_id, cosine) stream; rounded
    score with vec_id tiebreak keeps ranks reproducible across engines."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the query set (vec_id < N_QUERIES):
    ONE Arrow-batched scan of the corpus scored against the broadcast query
    matrix with an int64 Gram matmul (the same quantized-exact grid as
    :func:`blocked_pair_cosines` — integer arithmetic is reduction-order
    independent, so numpy BLAS matches DuckDB's ordered list fold exactly).
    Replaces the r01 formulation (crossJoin + interpreted ``aggregate()`` HOF,
    ~µs/element outside codegen) with one vectorized matmul per batch: the
    scan stays linear, shuffle-free, and embarrassingly parallel — the correct
    exact-ANN baseline at 100 TB for a small query set."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_ids, Qm, q_nrm = head_vectors(e, N_QUERIES)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            C = quantize(pdf["embedding"])
            dots = C @ Qm.T  # exact int64
            c_nrm = l2_norms(C)
            cos = dots.astype(np.float64) / (c_nrm[:, None] * q_nrm[None, :])
            cos = mround_np(cos, 6)
            n, k = cos.shape
            out_q = np.tile(q_ids, n)
            out_n = np.repeat(ids, k)
            m = out_n != out_q
            yield pd.DataFrame(
                {"query_id": out_q[m], "neighbor_id": out_n[m], "cosine": cos.ravel()[m]}
            )

    scored = e.mapInPandas(score, "query_id bigint, neighbor_id bigint, cosine double")
    return topk_ranked(scored)


def _ann_topk_sql() -> str:
    qd = _qdot_duck
    return f"""
WITH v AS (SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
q AS (SELECT vec_id AS query_id, qe AS q_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS q_norm
      FROM v WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, qe AS c_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS c_norm
      FROM v),
scored AS (
  SELECT query_id, neighbor_id,
         floor((CAST({qd('q_qe', 'c_qe')} AS DOUBLE) / (q_norm * c_norm))
               * 1000000 + 0.5) / 1000000 AS cosine
  FROM c CROSS JOIN q
  WHERE neighbor_id <> query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


# --- quantized-exact blocked pair cosines (the vectorized scale path) -------
#
# Pairwise float dot products fold element-by-element (deterministic but
# interpreted — Spark's `aggregate` HOF runs outside codegen, ~µs/pair).
# The scale path quantizes each float32 component to int64 micro-units
# (floor(x*1e6+0.5) — exact for |x| <= ~9e12/1e6) and computes the block's
# Gram matrix with one int64 matmul inside applyInPandas: EXACT integer
# arithmetic, so the result is reduction-order-independent and bit-identical
# to the DuckDB oracle's integer list fold. cosine = int_dot / (sqrt(aa) *
# sqrt(bb)) is then a fixed chain of IEEE double ops on identical integers.
#
# At 100 TB: one shuffle on the block key, numpy does O(block²·dim) work at
# BLAS speed per block; block size is the knob that bounds worker memory (a
# production corpus would block on an LSH bucket or IVF centroid instead of
# a 10-value label).

QUANT = 1_000_000


def quantize(vectors):
    """Vectors on the quantized grid: each component as int64 micro-units,
    floor(x * QUANT + 0.5), the DuckDB side's :func:`_quant_duck`.
    ``vectors`` is a sequence of equal-length vectors: an Arrow batch column
    (float32 arrays) or collected rows' lists (float32 read as Python
    floats). Both reach the same float64 values, since float32 widens to
    float64 exactly."""
    import numpy as np

    return np.floor(np.stack(vectors).astype(np.float64) * QUANT + 0.5).astype(np.int64)


def l2_norms(Q):
    """Row L2 norms of a quantized matrix: sqrt of each exact int64 square
    sum, the oracle's ``sqrt(CAST(qdot AS DOUBLE))``."""
    import numpy as np

    return np.sqrt(np.einsum("ij,ij->i", Q, Q).astype(np.float64))


def head_vectors(e: DataFrame, k, *cols: str):
    """Model-side read of a few corpus vectors, in vec_id order: the first
    ``k`` (vec_id < k) or, when ``k`` is a list, those vec_ids. Returns
    (ids, quantized matrix, norms) and then one array per extra column in
    ``cols``. One ``collect`` (one Spark job) of at most a few dozen rows
    (queries, centroids, a codebook), never the data path; the rows are
    sorted in the driver, since an ``orderBy`` would add a range-partition
    sampling job and a sort job."""
    import numpy as np

    cond = F.col("vec_id").isin(k) if isinstance(k, list) else F.col("vec_id") < k
    rows = sorted(e.filter(cond).collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    Q = quantize([r["embedding"] for r in rows])
    return (ids, Q, l2_norms(Q), *(np.array([r[c] for r in rows]) for c in cols))


def _quant_duck(col: str) -> str:
    return (
        f"list_transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT))"
    )


def _quant_spark(col: str) -> str:
    """Spark SQL form of :func:`quantize` for one array column."""
    return f"transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT))"


def _qdot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), "
        f"(acc, v) -> acc + v)"
    )


# --- deterministic hyperplane LSH (shared by scale.py ANN + sub-blocking) --

N_PLANES = 8


def _plane_matrix(dim: int):
    """Deterministic integer hyperplanes w(i,j) = ((i*31 + j*17) % 7) - 3 as
    an (N_PLANES, dim) int64 matrix. Integer weights on the quantized grid
    make every plane dot EXACT int64 — bucket bits can never disagree between
    numpy (pairwise/BLAS summation) and the oracle's ordered fold, which a
    float plane dot could near zero."""
    import numpy as np

    i = np.arange(dim, dtype=np.int64)
    return np.stack([(i * 31 + j * 17) % 7 - 3 for j in range(N_PLANES)])


def _buckets_of(Q):
    """Bucket id per row of a quantized int64 matrix: sign bits of the plane
    dots."""
    import numpy as np

    W = _plane_matrix(Q.shape[1])
    bits = (Q @ W.T) >= 0  # exact int64 comparison
    return (bits * (1 << np.arange(N_PLANES, dtype=np.int64))).sum(axis=1)


def residue_bucket_expr(col: str, dim: int, fallback: str) -> str:
    """Codegen'd residue-class form of the hyperplane bucket id (r13, guide
    §4.1): the plane weights have period-7 structure — w(i, j) =
    ((i*31 + j*17) % 7) - 3 depends only on (i + j) % 7 because
    31 ≡ 17 ≡ 3 (mod 7) — so with the 7 residue-class sums
    g_m = Σ_{i ≡ m (mod 7)} col[i], every plane dot is the 7-term
    combination dot_j = Σ_m f((m+j) % 7) · g_m with f(m) = (3m % 7) - 3.
    The fast path is ~dim long adds + 8x7 multiply-adds of whole-stage
    codegen scalar arithmetic (each g_m repeats across the 8 dots; codegen
    subexpression elimination computes it once) — measured 4.6x over the
    8-fold interpreted HOF on a 512k-row pass, and a few KB of generated
    code, far under the Janino 64 KB limit that forbids the naive
    8 x dim-term unroll (r9 lesson). A size() CASE keeps ``fallback`` (the
    HOF form) for any other width; both branches are pure int64 and
    bit-identical (property-tested against _buckets_of). ``dim`` must be at
    least 7 so that every residue class has a term."""
    if dim < 7:
        raise ValueError(f"residue_bucket_expr needs dim >= 7, got {dim}")
    f = [(3 * m) % 7 - 3 for m in range(7)]
    g = [
        "(" + " + ".join(f"{col}[{i}]" for i in range(m, dim, 7)) + ")"
        for m in range(7)
    ]
    dots = []
    for j in range(N_PLANES):
        terms = [
            f"CAST({f[(m + j) % 7]} AS BIGINT) * {g[m]}"
            for m in range(7)
            if f[(m + j) % 7] != 0
        ]
        dots.append("(" + " + ".join(terms) + ")")
    fast = " + ".join(
        f"IF({dots[j]} >= 0, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
        for j in range(N_PLANES)
    )
    return f"(CASE WHEN size({col}) = {dim} THEN {fast} ELSE {fallback} END)"


def _bucket_spark() -> str:
    """Spark SQL bucket id of the quantized array column ``qe``: the
    residue-class unroll for 64-wide rows (the testdata embedding width),
    and for any other width the generic form, one HOF fold per plane. Both
    are the exact int64 plane dots of :func:`_buckets_of` and
    :func:`_bucket_duck`. Only this multi-fold bucket gains from unrolling:
    a single simple-lambda fold (a qdot or pair dot) measured ~40% faster
    as a HOF than as 64 codegen'd GetArrayItem terms, so those stay HOFs."""
    plane_dots = ", ".join(
        f"aggregate(sequence(0, size(qe) - 1), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + qe[i] * CAST((i * 31 + {j} * 17) % 7 - 3 AS BIGINT))"
        for j in range(N_PLANES)
    )
    hof = (
        f"aggregate(zip_with(array({plane_dots}), sequence(0, {N_PLANES - 1}), "
        "(d, j) -> IF(d >= 0, shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return residue_bucket_expr("qe", 64, hof)


def _plane_dot_duck(j: int) -> str:
    # DuckDB lists are 1-based: weight index shifts by one. qe is the
    # quantized int64 embedding — the plane dot is exact integer arithmetic.
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, len(qe) + 1), "
        f"i -> qe[i] * (((i - 1) * 31 + {j} * 17) % 7 - 3))), (acc, v) -> acc + v)"
    )


def _bucket_duck() -> str:
    return " + ".join(
        f"(CASE WHEN {_plane_dot_duck(j)} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )


# Block-size guard for blocked_pair_cosines: a label block larger than this
# is sub-split by hyperplane LSH bucket before the quadratic pair scoring.
# 4096^2 int64 Gram = 134 MB — comfortably inside one worker's Arrow batch
# memory; testdata's largest block is 218 (sf0.1), so the guard activates
# only beyond tested SFs and the cataloged results are unchanged.
MAX_BLOCK = 4096


def blocked_pair_cosines(
    spark: SparkSession, sf_dir: str, threshold: float, max_block: int = MAX_BLOCK
) -> DataFrame:
    """All intra-block pairs (vec_a < vec_b) with quantized-exact cosine >=
    threshold. Shared engine for the similarity join and embedding near-dup.

    Block-size guard (the 100 TB skew bound): the per-label quadratic is
    unbounded if one label dominates the corpus (same skew class as a hot
    shingle). Labels with more than ``max_block`` vectors are sub-split by
    deterministic hyperplane LSH bucket (:func:`_buckets_of` — the exact
    engine behind ``ann_lsh_topk``) and only intra-bucket pairs are scored:
    canopy semantics, where a cross-bucket pair inside an oversized label is
    deliberately not a candidate (near-identical vectors land in the same
    bucket with high probability; recall is bounded by the same hyperplane
    analysis as the ANN entry). Small labels are untouched — their branch
    never enters Python, and when no label is oversized the bucket branch is
    an empty Arrow pass. The DuckDB oracle applies the IDENTICAL rule, so
    parity holds at any scale, not just below the cap. Bound + small-label
    invariance are locked by ``tests/test_similarity_ops.py``."""
    import numpy as np
    import pandas as pd

    def pairs_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        Q = quantize(pdf["embedding"].to_numpy()[order])
        G = Q @ Q.T  # exact int64; |G| <= dim * (QUANT*max|x|)^2 << 2^53
        nrm = np.sqrt(G.diagonal().astype(np.float64))
        ia, ib = np.triu_indices(len(ids), k=1)
        cos = G[ia, ib].astype(np.float64) / (nrm[ia] * nrm[ib])
        cos = mround_np(cos, 6)
        m = cos >= threshold
        return pd.DataFrame(
            {
                "vec_a": ids[ia[m]].astype("int64"),
                "vec_b": ids[ib[m]].astype("int64"),
                "label": np.full(int(m.sum()), pdf["label"].iloc[0], dtype="int32"),
                "cosine": cos[m],
            }
        )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("block_n"))
    # The bucket is a JVM integer expression (the same exact int64 plane
    # dots as _buckets_of), guarded by the block_n CASE: when no label is
    # oversized only the cheap branch evaluates and the guard adds NO Python
    # stage — the empty-guard bench cost is ~zero (an earlier mapInPandas
    # variant added ~1 s of idle Arrow stage per run).
    sized = (
        e.join(F.broadcast(counts), "label")
        .withColumn(
            "qe",
            F.expr(
                f"CASE WHEN block_n > {max_block} THEN {_quant_spark('embedding')} END"
            ),
        )
        .withColumn(
            "sub_key",
            F.expr(
                f"CASE WHEN block_n <= {max_block} THEN CAST(0 AS BIGINT) "
                f"ELSE {_bucket_spark()} END"
            ),
        )
        .select("vec_id", "label", "embedding", "sub_key")
    )
    return sized.groupBy("label", "sub_key").applyInPandas(
        pairs_block, "vec_a bigint, vec_b bigint, label int, cosine double"
    )


def _pairs_sql(threshold: float, max_block: int = MAX_BLOCK) -> str:
    # Same sub-blocking rule as blocked_pair_cosines: labels above max_block
    # are split by the deterministic hyperplane bucket; others keep sub_key 0.
    return f"""
WITH q AS (
  SELECT vec_id, label, {_quant_duck("embedding")} AS qe
  FROM embeddings),
n AS (
  SELECT label, count(*) AS block_n FROM q GROUP BY label),
s AS (
  SELECT q.vec_id, q.label, q.qe,
         CASE WHEN n.block_n > {max_block} THEN ({_bucket_duck()})
              ELSE 0 END AS sub_key
  FROM q JOIN n ON q.label = n.label),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         floor((CAST({_qdot_duck('a.qe', 'b.qe')} AS DOUBLE)
                / (sqrt(CAST({_qdot_duck('a.qe', 'a.qe')} AS DOUBLE))
                   * sqrt(CAST({_qdot_duck('b.qe', 'b.qe')} AS DOUBLE))))
               * 1000000 + 0.5) / 1000000 AS cosine
  FROM s a JOIN s b
    ON a.label = b.label AND a.sub_key = b.sub_key AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, label, cosine FROM pairs WHERE cosine >= {threshold}
"""


def similarity_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by embedding cosine within a label block
    (cosine >= 0.3). The label acts as the IVF-style bucket: only intra-bucket
    pairs are scored, bounding the quadratic term."""
    return blocked_pair_cosines(spark, sf_dir, 0.3)


SIMILARITY_PAIRS_SQL = _pairs_sql(0.3)


RANGE_TAU = 0.2  # cosine radius for range search (on the quantized-exact grid)


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search (fixed-radius neighbors): every corpus vector within
    cosine ≥ RANGE_TAU of each query — the dual of top-k (`ann_topk_cosine`)
    where the RESULT SIZE is data-dependent instead of k. Same single
    Arrow-batched scan against the broadcast query model, same quantized
    int64 Gram matmul; the radius filter applies to the grid-rounded cosine
    so the cut is bit-deterministic cross-engine.

    Scale: linear, shuffle-free; output bounded by radius selectivity. The
    threshold pushes into the batch loop (rows below τ never leave the Arrow
    worker), so a tight radius at 100 TB emits near-nothing per task — the
    bucketed variants (LSH/IVF) prune the scan itself when even reading is
    too much."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_ids, Qm, q_nrm = head_vectors(e, N_QUERIES)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            C = quantize(pdf["embedding"])
            dots = C @ Qm.T
            c_nrm = l2_norms(C)
            cos = dots.astype(np.float64) / (c_nrm[:, None] * q_nrm[None, :])
            cos = mround_np(cos, 6)
            n, k = cos.shape
            out_q = np.tile(q_ids, n)
            out_n = np.repeat(ids, k)
            flat = cos.ravel()
            m = (out_n != out_q) & (flat >= RANGE_TAU)
            yield pd.DataFrame(
                {"query_id": out_q[m], "neighbor_id": out_n[m], "cosine": flat[m]}
            )

    return e.mapInPandas(score, "query_id bigint, neighbor_id bigint, cosine double")


def _ann_range_sql() -> str:
    qd = _qdot_duck
    return f"""
WITH v AS (SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
q AS (SELECT vec_id AS query_id, qe AS q_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS q_norm
      FROM v WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, qe AS c_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS c_norm
      FROM v),
scored AS (
  SELECT query_id, neighbor_id,
         floor((CAST({qd('q_qe', 'c_qe')} AS DOUBLE) / (q_norm * c_norm))
               * 1000000 + 0.5) / 1000000 AS cosine
  FROM c CROSS JOIN q
  WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, cosine
FROM scored WHERE cosine >= {RANGE_TAU}
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit: per vector, the scale
    (max |component|), and the max/mean absolute reconstruction error of
    round(x·127/scale) — the 4× memory cut (float32 → int8) every
    billion-vector ANN deployment takes, with the error profile that decides
    whether it is safe. All arithmetic is per-element with a fixed fold
    order, identical in both dialects, so the audit is oracle-exact.

    Scale: pure per-row HOF arithmetic — codegen'd, shuffle-free, linear.
    (The quantized vectors themselves would be written as array<tinyint>;
    emitting scalars keeps the entry within the driver's hashable-column
    contract, the sketch_sample_quantiles lesson.)"""
    e = load_table(spark, sf_dir, "embeddings")
    err_elem = (
        "abs(CAST(v AS DOUBLE) - floor(CAST(v AS DOUBLE) * 127 / s + 0.5) * s / 127)"
    )
    return (
        e.selectExpr(
            "vec_id",
            "embedding",
            "CAST(size(embedding) AS BIGINT) AS dim",
            "nullif(array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE)))), CAST(0 AS DOUBLE)) AS s",
        )
        .selectExpr(
            "vec_id",
            "dim",
            "s",
            f"transform(embedding, v -> {err_elem}) AS err_list",
        )
        .selectExpr(
            "vec_id",
            "dim",
            f"{mround('s', 6)} AS scale",
            f"{mround('array_max(err_list)', 8)} AS max_abs_err",
            mround(
                "aggregate(err_list, CAST(0 AS DOUBLE), (acc, v) -> acc + v) / dim", 8
            )
            + " AS mean_abs_err",
        )
    )


_EQ_ERR_DUCK = (
    "abs(CAST(v AS DOUBLE) - floor(CAST(v AS DOUBLE) * 127 / s + 0.5) * s / 127)"
)

EMBEDDING_QUANTIZE_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding,
         CAST(len(embedding) AS BIGINT) AS dim,
         nullif(list_aggregate(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))), 'max'),
                CAST(0 AS DOUBLE)) AS s
  FROM embeddings),
errs AS (
  SELECT vec_id, dim, s,
         list_transform(embedding, v -> {_EQ_ERR_DUCK}) AS err_list
  FROM base)
SELECT vec_id, dim,
       {mround('s', 6)} AS scale,
       {mround("list_aggregate(err_list, 'max')", 8)} AS max_abs_err,
       {mround("list_reduce(list_prepend(CAST(0 AS DOUBLE), err_list), (acc, v) -> acc + v) / dim", 8)} AS mean_abs_err
FROM errs
"""


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension audit: does truncated-dim search agree with
# full-dim search?
# ---------------------------------------------------------------------------

PREFIX_DIM = 16


def embedding_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/MRL-style prefix audit: for each query vector, the exact
    top-1 neighbor under FULL-dimension cosine vs under the first
    PREFIX_DIM dimensions only, with an agreement flag. This is the
    measurement behind the truncate-then-rerank serving pattern (search at
    16 dims, rerank survivors at 64): the agreement rate tells you what the
    cheap prefix pass loses. Self-matches excluded.

    Scale: ONE Arrow-batched corpus scan computes both Gram matrices
    against the broadcast query model (the prefix matmul reuses the same
    quantized batch, 4× cheaper); two WindowGroupLimit rank-1 passes over
    the tiny (n_queries × corpus) scored stream, joined on query_id.
    Linear, shuffle-free until the final 5-row join."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_ids, Qm, q_nrm = head_vectors(e, N_QUERIES)
    Qp = Qm[:, :PREFIX_DIM]
    qp_nrm = l2_norms(Qp)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            C = quantize(pdf["embedding"])
            Cp = C[:, :PREFIX_DIM]
            c_nrm = l2_norms(C)
            cp_nrm = l2_norms(Cp)
            cos_f = (C @ Qm.T).astype(np.float64) / (c_nrm[:, None] * q_nrm[None, :])
            cos_p = (Cp @ Qp.T).astype(np.float64) / (cp_nrm[:, None] * qp_nrm[None, :])
            cos_f = mround_np(cos_f, 6)
            cos_p = mround_np(cos_p, 6)
            n, k = cos_f.shape
            out_q = np.tile(q_ids, n)
            out_n = np.repeat(ids, k)
            m = out_n != out_q
            yield pd.DataFrame(
                {
                    "query_id": out_q[m],
                    "neighbor_id": out_n[m],
                    "cos_full": cos_f.ravel()[m],
                    "cos_pre": cos_p.ravel()[m],
                }
            )

    scored = e.mapInPandas(
        score, "query_id bigint, neighbor_id bigint, cos_full double, cos_pre double"
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("cos_full"), F.asc("neighbor_id"))
    wp = Window.partitionBy("query_id").orderBy(F.desc("cos_pre"), F.asc("neighbor_id"))
    best_f = (
        scored.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("best_full"), "cos_full")
    )
    best_p = (
        scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("best_prefix"), "cos_pre")
    )
    return best_f.join(best_p, "query_id").select(
        "query_id",
        "best_full",
        "cos_full",
        "best_prefix",
        "cos_pre",
        (F.col("best_full") == F.col("best_prefix")).cast("bigint").alias("agree"),
    )


def _prefix_recall_sql() -> str:
    qd = _qdot_duck
    pd_ = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {PREFIX_DIM} + 1), i -> {{a}}[i] * {{b}}[i])), "
        f"(acc, v) -> acc + v)"
    )

    def pdot(a: str, b: str) -> str:
        return pd_.format(a=a, b=b)

    return f"""
WITH v AS (SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
q AS (SELECT vec_id AS query_id, qe AS q_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS q_norm,
             sqrt(CAST({pdot('qe', 'qe')} AS DOUBLE)) AS qp_norm
      FROM v WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, qe AS c_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS c_norm,
             sqrt(CAST({pdot('qe', 'qe')} AS DOUBLE)) AS cp_norm
      FROM v),
scored AS (
  SELECT query_id, neighbor_id,
         floor((CAST({qd('q_qe', 'c_qe')} AS DOUBLE) / (q_norm * c_norm))
               * 1000000 + 0.5) / 1000000 AS cos_full,
         floor((CAST({pdot('q_qe', 'c_qe')} AS DOUBLE) / (qp_norm * cp_norm))
               * 1000000 + 0.5) / 1000000 AS cos_pre
  FROM c CROSS JOIN q
  WHERE neighbor_id <> query_id),
bf AS (
  SELECT query_id, neighbor_id AS best_full, cos_full,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_full DESC, neighbor_id ASC) AS rn
  FROM scored),
bp AS (
  SELECT query_id, neighbor_id AS best_prefix, cos_pre,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_pre DESC, neighbor_id ASC) AS rn
  FROM scored)
SELECT bf.query_id, bf.best_full, bf.cos_full, bp.best_prefix, bp.cos_pre,
       CAST(bf.best_full = bp.best_prefix AS BIGINT) AS agree
FROM bf JOIN bp ON bf.query_id = bp.query_id
WHERE bf.rn = 1 AND bp.rn = 1
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA: for each of the 64 vector dimensions,
    the count, quantized mean, min/max, and zero fraction — the standard
    health check before indexing a corpus (dead dimensions waste index
    space; a collapsed mean signals an encoder bug or a normalization
    regression).

    Exactness: each component is quantized per-row to int64 micro-units
    (exact), summed as integers (order-independent), and surfaced through
    one deterministic division; min/max are exact on the quantized grid.

    Scale: posexplode fans each vector into `dim` rows, but the groupBy
    key space IS the dimensionality (64 groups), so partial aggregation
    collapses every partition to ≤64 rows before the (tiny) shuffle —
    per-dimension stats over a billion vectors move kilobytes."""
    e = load_table(spark, sf_dir, "embeddings")
    comps = e.selectExpr(
        "posexplode(embedding) AS (dim, v)"
    ).selectExpr(
        "dim",
        "CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq",
    )
    return (
        comps.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum("vq").alias("sum_q"),
            F.min("vq").alias("min_q"),
            F.max("vq").alias("max_q"),
            F.sum(F.expr("CASE WHEN vq = 0 THEN 1 ELSE 0 END")).alias("n_zero"),
        )
        .selectExpr(
            "CAST(dim AS INT) AS dim",
            "n",
            f"{mround('CAST(sum_q AS DOUBLE) / n / 1000000', 6)} AS mean_val",
            "CAST(min_q AS DOUBLE) / 1000000 AS min_val",
            "CAST(max_q AS DOUBLE) / 1000000 AS max_val",
            f"{mround('CAST(n_zero AS DOUBLE) / n', 6)} AS zero_frac",
        )
    )


EMBEDDING_DIM_STATS_SQL = f"""
WITH comps AS (
  SELECT u.i - 1 AS dim,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i))
SELECT CAST(dim AS INT) AS dim, count(*) AS n,
       {mround('CAST(sum(vq) AS DOUBLE) / count(*) / 1000000', 6)} AS mean_val,
       CAST(min(vq) AS DOUBLE) / 1000000 AS min_val,
       CAST(max(vq) AS DOUBLE) / 1000000 AS max_val,
       {mround("CAST(sum(CASE WHEN vq = 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS zero_frac
FROM comps
GROUP BY dim
"""


# --- one-pass distributed PCA (top principal direction) ---------------------

PCA_Q = 1024  # embedding grid: floor(x*1024+0.5), |q| <= ~2^10
PCA_VSCALE = 16384  # fixed-point scale of the iterated vector (2^14)
PCA_ITERS = 8
EMB_DIM = 64


def _pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT integer Gram matrix of the quantized embedding corpus in ONE
    linear pass: each task accumulates its partition's 64x64 int64 outer
    products at BLAS speed inside mapInPandas and emits 4096 (i, j,
    partial) rows; one groupBy folds the per-task partials. Nothing
    quadratic in rows, shuffle carries 4096 rows per task."""
    import pandas as pd

    e = spread(
        load_table(spark, sf_dir, "embeddings").select("embedding"), spark
    )

    def gram(batches):
        import numpy as np

        acc = np.zeros((EMB_DIM, EMB_DIM), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy())
            q = np.floor(m.astype(np.float64) * PCA_Q + 0.5).astype(np.int64)
            acc += q.T @ q
        ii, jj = np.meshgrid(
            np.arange(EMB_DIM, dtype=np.int64),
            np.arange(EMB_DIM, dtype=np.int64),
            indexing="ij",
        )
        yield pd.DataFrame(
            {"i": ii.ravel(), "j": jj.ravel(), "partial": acc.ravel()}
        )

    return (
        e.mapInPandas(gram, "i long, j long, partial long")
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("g"))
    )


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus — distributed PCA as
    ONE linear data pass plus tiny driver-side fixed-point algebra: the
    exact int64 Gram matrix (:func:`_pca_gram`) is collected (4096 rows =
    model state, like k-means centroids), then 8 power-iteration steps run
    as exact Python-integer matvecs (integer sums are
    reduction-order-independent, so both engines agree bit-for-bit),
    rescaled each round to the 2^14 fixed-point grid by the same
    deterministic IEEE floor chain the unrolled SQL oracle uses. Output:
    per-dimension loading of the dominant eigenvector (normalized to max
    |component| = 1) plus the exact Gram diagonal (per-dim second moment
    on the PCA_Q grid).

    Seed v0 = all-ones (never orthogonal to the top eigenvector of a PSD
    Gram in practice). Iteration count is a spectrum-dependent knob: error
    decays as (lambda2/lambda1)^(2k), so real corpora with a dominant
    direction (the actual PCA use case) converge in a few rounds, while the
    near-flat spectrum of the RANDOM fixture embeddings (lambda2/lambda1 ~
    0.93) needs the 8 rounds used here to pass the 85% Rayleigh-share test
    — extra rounds are free (driver-side 64x64 integer matvecs).

    Scale: the data pass is the same shape as the kmeans/IVF Arrow passes
    (per-task 64x64 int64 state); the collected Gram is 4096 rows of
    MODEL-side state — bounded by EMB_DIM^2, not by corpus size, exactly
    like the k-means centroid collect (scale.py) — so the driver-side
    fixed-point loop costs microseconds and, crucially, the distributed
    Gram pass runs ONCE (round 5 left the loop as an unrolled lazy plan
    whose Gram scan was recomputed geometrically per round: 101 s at
    sf0.1; this materialization is the fix). Exact Python-int matvecs
    can't overflow; the m-rescale reproduces the engine double chain
    float(gv) * 2^14 / float(m) (the 2^14 scale is a power of two, so the
    only rounding is the int->double cast and the division — bit-equal in
    IEEE on both engines). Int64 holds G to ~1e15 per entry (corpus ~1e9
    rows at this grid); past that, halve PCA_Q or swap the accumulators
    to DECIMAL — the fixed-point algebra is unchanged."""
    import math

    gram = {(r["i"], r["j"]): r["g"] for r in _pca_gram(spark, sf_dir).collect()}
    v = [PCA_VSCALE] * EMB_DIM
    for _ in range(PCA_ITERS):
        gv = [
            sum(gram.get((i, j), 0) * v[j] for j in range(EMB_DIM))
            for i in range(EMB_DIM)
        ]
        m = max(abs(x) for x in gv)
        v = [
            int(math.floor(float(x) * PCA_VSCALE / float(m) + 0.5)) for x in gv
        ]
    vm = max(abs(x) for x in v)
    out = spark.createDataFrame(
        [(i, gram.get((i, i), 0), v[i]) for i in range(EMB_DIM)],
        "dim long, gram_diag long, v long",
    )
    return out.selectExpr(
        "dim",
        "gram_diag",
        mround(f"CAST(v AS DOUBLE) / {vm}", 6) + " AS loading",
    )


def _pca_sql() -> str:
    """Unrolled WITH-chain oracle: quantize -> Gram by double unnest ->
    3x (integer matvec + fixed-point rescale) -> normalized loadings."""
    q = (
        f"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {PCA_Q}"
        " + 0.5) AS BIGINT))"
    )
    steps = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        steps.append(
            f"""gv{k} AS (
  SELECT g.i, CAST(sum(g.g * {prev}.v) AS BIGINT) AS gv
  FROM g JOIN {prev} ON g.j = {prev}.j GROUP BY g.i),
m{k} AS (SELECT max(abs(gv)) AS m FROM gv{k}),
v{k} AS (
  SELECT i AS j,
         CAST(floor(CAST(gv AS DOUBLE) * {PCA_VSCALE} / m + 0.5) AS BIGINT)
           AS v
  FROM gv{k} CROSS JOIN m{k})"""
        )
        prev = f"v{k}"
    return (
        f"""WITH q AS (SELECT {q} AS qv FROM embeddings),
idx AS (SELECT unnest(range(0, {EMB_DIM})) AS d),
g AS (
  SELECT a.d AS i, b.d AS j,
         CAST(sum(qv[a.d + 1] * qv[b.d + 1]) AS BIGINT) AS g
  FROM q CROSS JOIN idx a CROSS JOIN idx b
  GROUP BY a.d, b.d),
v0 AS (SELECT d AS j, CAST({PCA_VSCALE} AS BIGINT) AS v FROM idx),
"""
        + ",\n".join(steps)
        + f""",
vm AS (SELECT max(abs(v)) AS vm FROM {prev}),
diag AS (SELECT i AS j, g AS gram_diag FROM g WHERE i = j)
SELECT CAST({prev}.j AS BIGINT) AS dim, diag.gram_diag,
       {mround('CAST(v AS DOUBLE) / vm', 6)} AS loading
FROM {prev} JOIN diag ON {prev}.j = diag.j CROSS JOIN vm
"""
    )


OUTLIER_TOPK = 20


def embedding_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-OUTLIER_TOPK anomalous embeddings by diagonal Mahalanobis
    distance: per-dimension mean/variance from one moment pass, then each
    vector's score = Σ_d (x_d − μ_d)² / σ²_d — the curation screen that
    surfaces mis-encoded or out-of-distribution vectors before they poison
    an ANN index or a training mix (full-covariance Mahalanobis needs the
    64×64 inverse; the diagonal form is the standard first pass and needs
    only the `embedding_dim_stats` moments).

    Determinism: components quantize to the 1e-6 grid; per-dim moments are
    integer sums; μ/σ² are fixed double expressions over those integers;
    each per-dim term is pre-rounded to a 1e-6 integer grid BEFORE the
    64-term per-vector sum runs as an integer aggregate — no float
    reduction order anywhere. Top-k ties break on vec_id.

    Scale: two linear passes (moment pass collapses to 64 rows via partial
    agg; score pass joins the broadcast 64-row moment table after
    posexplode and integer-sums per vec_id) + TakeOrderedAndProject.
    Int64 holds Σvq² to ~9e18 = ~9e6 rows per dim at this grid; DECIMAL
    swap documented past that."""
    e = load_table(spark, sf_dir, "embeddings")
    comps = e.selectExpr(
        "vec_id", "label", "posexplode(embedding) AS (dim, v)"
    ).selectExpr(
        "vec_id",
        "label",
        "dim",
        "CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq",
    )
    mom = (
        comps.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum("vq").alias("s1"),
            F.sum(F.expr("vq * vq")).alias("s2"),
        )
        .selectExpr(
            "dim",
            "CAST(s1 AS DOUBLE) / 1000000 / n AS mu",
            "(CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
            " / (CAST(n AS DOUBLE) * (n - 1)) / 1000000000000 AS var_d",
        )
    )
    term = (
        "CAST(floor((CAST(vq AS DOUBLE) / 1000000 - mu) * (CAST(vq AS DOUBLE) / 1000000 - mu)"
        " / var_d * 1000000 + 0.5) AS BIGINT)"
    )
    return (
        comps.join(F.broadcast(mom), "dim")
        .selectExpr("vec_id", "label", f"{term} AS t6")
        .groupBy("vec_id", "label")
        .agg(F.sum("t6").alias("s6"))
        .selectExpr(
            "vec_id",
            "label",
            mround("CAST(s6 AS DOUBLE) / 1000000", 6) + " AS mahalanobis_diag",
        )
        .orderBy(F.desc("mahalanobis_diag"), "vec_id")
        .limit(OUTLIER_TOPK)
    )


EMBEDDING_OUTLIER_SQL = f"""
WITH comps AS (
  SELECT vec_id, label, u.i - 1 AS dim,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
mom AS (
  SELECT dim, CAST(sum(vq) AS DOUBLE) / 1000000 / count(*) AS mu,
         (CAST(count(*) AS DOUBLE) * sum(vq * vq) - CAST(sum(vq) AS DOUBLE) * sum(vq))
         / (CAST(count(*) AS DOUBLE) * (count(*) - 1)) / 1000000000000 AS var_d
  FROM comps GROUP BY dim),
terms AS (
  SELECT vec_id, label,
         CAST(floor((CAST(vq AS DOUBLE) / 1000000 - mu) * (CAST(vq AS DOUBLE) / 1000000 - mu)
              / var_d * 1000000 + 0.5) AS BIGINT) AS t6
  FROM comps JOIN mom USING (dim)),
scored AS (
  SELECT vec_id, label, CAST(sum(t6) AS BIGINT) AS s6
  FROM terms GROUP BY vec_id, label)
SELECT vec_id, label,
       {mround('CAST(s6 AS DOUBLE) / 1000000', 6)} AS mahalanobis_diag
FROM scored
ORDER BY mahalanobis_diag DESC, vec_id
LIMIT {OUTLIER_TOPK}
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_pca_power": QuerySpec(
        embedding_pca_power, _pca_sql(), "similarity"
    ),
    "embedding_dim_stats": QuerySpec(
        embedding_dim_stats, EMBEDDING_DIM_STATS_SQL, "similarity"
    ),
    "embedding_prefix_recall": QuerySpec(
        embedding_prefix_recall, _prefix_recall_sql(), "similarity"
    ),
    "embedding_quantize_int8": QuerySpec(
        embedding_quantize_int8, EMBEDDING_QUANTIZE_SQL, "similarity"
    ),
    "ann_range_search": QuerySpec(ann_range_search, _ann_range_sql(), "similarity"),
    "embedding_norms": QuerySpec(embedding_norms, EMBEDDING_NORMS_SQL, "similarity"),
    "ann_topk_cosine": QuerySpec(ann_topk_cosine, _ann_topk_sql(), "similarity"),
    "similarity_pairs_blocked": QuerySpec(similarity_pairs_blocked, SIMILARITY_PAIRS_SQL, "similarity"),
    "embedding_outlier_zscore": QuerySpec(
        embedding_outlier_zscore, EMBEDDING_OUTLIER_SQL, "similarity"
    ),
}


# ---------------------------------------------------------------------------
# Simplified silhouette: label-cluster quality over the embedding corpus
# ---------------------------------------------------------------------------

def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label cluster: for every
    vector, a = distance to its OWN label centroid, b = distance to the
    nearest OTHER label centroid, s = (b - a) / max(a, b) — the linear-time
    cluster-quality score (classic silhouette is all-pairs O(n²); the
    centroid form is the standard corpus-scale variant) plus the
    misassignment share (b < a: a vector sitting closer to a foreign
    centroid), the label-noise audit an embedding-training pipeline runs.

    Exactness: vectors quantize to the int64 1e-6 grid; label centroids are
    the rounded rationals floor(sum/n + 0.5) on the SAME grid (sums exact
    int64), so every squared distance is EXACT int64 — computed in numpy
    int64 inside one Arrow pass on the Spark side and by list algebra in
    DuckDB, necessarily equal. Only sqrt (correctly-rounded IEEE) and one
    division touch floats, as shared expression text; per-vector scores
    pre-round to a 1e-6 integer grid before the per-label mean so the
    cross-row reduction order is irrelevant.

    Scale: the centroid model is label_count x dim int64 sums from one
    posexplode groupBy (key space 10x64, partial-aggregated) collected as
    MODEL state (kilobytes — the k-means-centroid precedent,
    `_assign_to_centroids`); scoring is ONE mapInPandas pass against the
    closure-broadcast centroid matrix; the report is a 10-row groupBy."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    comps = e.selectExpr("label", "posexplode(embedding) AS (dim, v)").selectExpr(
        "label",
        "dim",
        "CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq",
    )
    cent_rows = (
        comps.groupBy("label", "dim")
        .agg(F.sum("vq").alias("s"), F.count("*").alias("n"))
        .selectExpr(
            "label", "dim",
            "CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) AS cq",
        )
        .collect()
    )
    labels = sorted({r["label"] for r in cent_rows})
    dim = 1 + max(r["dim"] for r in cent_rows)
    C = np.zeros((len(labels), dim), dtype=np.int64)
    lab_ix = {lab: i for i, lab in enumerate(labels)}
    for r in cent_rows:
        C[lab_ix[r["label"]], r["dim"]] = r["cq"]

    def score(batches, _C=C, _lab_ix=lab_ix):
        for pdf in batches:
            X = quantize(pdf["embedding"])
            # exact int64 squared distances to every centroid
            diff = X[:, None, :] - _C[None, :, :]
            d2 = np.einsum("ijk,ijk->ij", diff, diff)
            own = pdf["label"].map(_lab_ix).to_numpy()
            rows = np.arange(len(pdf))
            a2 = d2[rows, own]
            d2_masked = d2.copy()
            d2_masked[rows, own] = np.iinfo(np.int64).max
            b2 = d2_masked.min(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "label": pdf["label"].astype("int32"),
                    "a2": a2,
                    "b2": b2,
                }
            )

    ab = e.mapInPandas(score, "vec_id bigint, label int, a2 bigint, b2 bigint")
    scored = ab.selectExpr(
        "label",
        "CASE WHEN b2 < a2 THEN 1 ELSE 0 END AS mis",
        "CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))"
        " / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) * 1000000 + 0.5)"
        " AS BIGINT) AS sg",
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("sg").cast("bigint").alias("sg_sum"),
            F.sum("mis").cast("bigint").alias("n_misassigned"),
        )
        .selectExpr(
            "label",
            "n",
            mround("CAST(sg_sum AS DOUBLE) / (n * 1000000)", 6)
            + " AS mean_silhouette",
            "n_misassigned",
            mround("CAST(n_misassigned AS DOUBLE) / n", 6) + " AS misassigned_share",
        )
    )


EMBEDDING_SILHOUETTE_SQL = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings),
comps AS (
  SELECT label, u.i AS dim, xq[u.i] AS vq
  FROM q, unnest(range(1, len(xq) + 1)) AS u(i)),
cent AS (
  SELECT label, dim,
         CAST(floor(CAST(sum(vq) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cq
  FROM comps GROUP BY label, dim),
centl AS (
  SELECT label AS clabel, list(cq ORDER BY dim) AS cvec
  FROM cent GROUP BY label),
d AS (
  SELECT q.vec_id, q.label, c.clabel,
         list_sum(list_transform(range(1, len(q.xq) + 1),
                                 i -> (q.xq[i] - c.cvec[i]) * (q.xq[i] - c.cvec[i]))) AS d2
  FROM q CROSS JOIN centl c),
ab AS (
  SELECT vec_id, label,
         min(CASE WHEN clabel = label THEN d2 END) AS a2,
         min(CASE WHEN clabel <> label THEN d2 END) AS b2
  FROM d GROUP BY vec_id, label),
scored AS (
  SELECT label,
         CASE WHEN b2 < a2 THEN 1 ELSE 0 END AS mis,
         CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
              / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS sg
  FROM ab)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       {mround('CAST(sum(sg) AS DOUBLE) / (count(*) * 1000000)', 6)} AS mean_silhouette,
       CAST(sum(mis) AS BIGINT) AS n_misassigned,
       {mround('CAST(sum(mis) AS DOUBLE) / count(*)', 6)} AS misassigned_share
FROM scored GROUP BY label
"""


QUERIES["embedding_silhouette"] = QuerySpec(
    embedding_silhouette, EMBEDDING_SILHOUETTE_SQL, "similarity"
)


# ---------------------------------------------------------------------------
# MMR diversity rerank — round 7
# ---------------------------------------------------------------------------

MMR_CANDIDATES = 12  # rerank pool: top-C by relevance to the query
MMR_PICKS = 3  # greedy picks (unrolled identically in the oracle)
# λ = 0.7 carried as the integer pair (7, 3) over micro-unit cosines so every
# argmax is pure int64 — mmr_micro10 = 7·rel_u − 3·max_sim_u, no float compare

def embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) of the
    query's top-MMR_CANDIDATES cosine candidates: greedily pick MMR_PICKS
    results maximizing λ·rel(d) − (1−λ)·max_{s∈picked} sim(d, s) — the
    standard diversity pass between ANN retrieval and a context window
    (near-duplicate passages waste prompt tokens; MMR keeps the relevant
    NON-redundant ones). First pick is pure relevance (empty picked set).

    Exactness: relevance and pairwise similarities are the ann family's
    1e-6-quantized cosines RE-READ AS INTEGERS (rel_u, sim_u micro-units),
    and λ=0.7 is carried as the integer pair (7, 3): every greedy argmax
    compares mmr_micro10 = 7·rel_u − 3·max_sim_u in pure int64 with a
    vec_id tiebreak — NO float comparison anywhere, so the pick sequence
    is cross-engine exact by construction. The DuckDB oracle unrolls the
    identical greedy rounds as CTEs.

    Scale: the corpus-sized work is the one Arrow-batched relevance scan
    (the `ann_topk_cosine` shape — linear, shuffle-free); the candidate
    pool is MODEL state (C=12 rows — the kmeans-centroid/BPE-merge
    precedent), so the C×C similarity matrix and the K greedy rounds are
    driver arithmetic on ≤ C² integers, independent of corpus size. In a
    multi-query production pass the same greedy runs inside one
    applyInPandas per query group; the single-query form is the
    oracle-checkable contract."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_ids, Qm, q_nrm = head_vectors(e, 1)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            C = quantize(pdf["embedding"])
            dots = (C @ Qm.T).astype(np.float64).ravel()
            c_nrm = l2_norms(C)
            rel_u = np.floor(dots / (c_nrm * q_nrm[0]) * 1e6 + 0.5).astype(np.int64)
            m = ids != q_ids[0]
            yield pd.DataFrame({"vec_id": ids[m], "rel_u": rel_u[m]})

    scored = e.mapInPandas(score, "vec_id bigint, rel_u bigint")
    cands = (
        scored.orderBy(F.desc("rel_u"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
        .collect()
    )  # model-side: C rows
    cand_ids = [int(r["vec_id"]) for r in cands]
    rel = {int(r["vec_id"]): int(r["rel_u"]) for r in cands}
    # C×C similarity matrix from the candidates' own vectors (model-side)
    ids, M, nrm = head_vectors(e, cand_ids)
    G = (M @ M.T).astype(np.float64)
    sim_u = np.floor(G / (nrm[:, None] * nrm[None, :]) * 1e6 + 0.5).astype(np.int64)
    idx = {int(v): i for i, v in enumerate(ids)}
    # greedy rounds — identical unroll to the oracle
    picked: list[tuple[int, int, int, int]] = []  # (order, id, rel_u, mmr10)
    remaining = sorted(cand_ids)
    for order in range(1, MMR_PICKS + 1):
        best = None
        for d in remaining:
            ms = max((int(sim_u[idx[d], idx[p[1]]]) for p in picked), default=0)
            mmr10 = 7 * rel[d] - 3 * ms
            key = (-mmr10, d)
            if best is None or key < best[0]:
                best = (key, d, mmr10)
        picked.append((order, best[1], rel[best[1]], best[2]))
        remaining.remove(best[1])
    out = [
        (o, d, ru / 1e6, m10 / 1e7)
        for (o, d, ru, m10) in picked
    ]
    return spark.createDataFrame(
        out, "pick_order bigint, vec_id bigint, relevance double, mmr_score double"
    )


def _mmr_sql() -> str:
    qd = _qdot_duck
    picks = []
    prev_excl = ""
    for k in range(1, MMR_PICKS + 1):
        if k == 1:
            picks.append(
                """p1 AS (
  SELECT vec_id, rel_u, CAST(7 * rel_u AS BIGINT) AS mmr10
  FROM cands ORDER BY rel_u DESC, vec_id ASC LIMIT 1)"""
            )
            prev_excl = "SELECT vec_id FROM p1"
        else:
            prev_union = " UNION ALL ".join(
                f"SELECT vec_id FROM p{j}" for j in range(1, k)
            )
            sim_max = " UNION ALL ".join(
                f"SELECT s.a AS vec_id, s.sim_u FROM sims s JOIN p{j} ON s.b = p{j}.vec_id"
                for j in range(1, k)
            )
            picks.append(
                f"""m{k} AS (
  SELECT c.vec_id, c.rel_u, max(x.sim_u) AS ms
  FROM cands c JOIN ({sim_max}) x ON x.vec_id = c.vec_id
  WHERE c.vec_id NOT IN ({prev_union})
  GROUP BY c.vec_id, c.rel_u),
p{k} AS (
  SELECT vec_id, rel_u, CAST(7 * rel_u - 3 * ms AS BIGINT) AS mmr10
  FROM m{k} ORDER BY (7 * rel_u - 3 * ms) DESC, vec_id ASC LIMIT 1)"""
            )
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS pick_order, vec_id, "
        "CAST(rel_u AS DOUBLE) / 1000000 AS relevance, "
        f"CAST(mmr10 AS DOUBLE) / 10000000 AS mmr_score FROM p{k}"
        for k in range(1, MMR_PICKS + 1)
    )
    return f"""
WITH v AS (SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
q AS (SELECT qe AS q_qe, sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS q_norm
      FROM v WHERE vec_id = 0),
c AS (SELECT vec_id, qe, sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS c_norm
      FROM v WHERE vec_id <> 0),
rel AS (
  SELECT c.vec_id, c.qe, c.c_norm,
         CAST(floor(CAST({qd('c.qe', 'q_qe')} AS DOUBLE) / (c_norm * q_norm)
              * 1000000 + 0.5) AS BIGINT) AS rel_u
  FROM c CROSS JOIN q),
cands AS (
  SELECT vec_id, qe, c_norm, rel_u FROM rel
  ORDER BY rel_u DESC, vec_id ASC LIMIT {MMR_CANDIDATES}),
sims AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         CAST(floor(CAST({qd('a.qe', 'b.qe')} AS DOUBLE) / (a.c_norm * b.c_norm)
              * 1000000 + 0.5) AS BIGINT) AS sim_u
  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
{",".join(picks)}
{sel}
"""


EMBEDDING_MMR_SQL = _mmr_sql()

QUERIES["embedding_mmr_rerank"] = QuerySpec(
    embedding_mmr_rerank, EMBEDDING_MMR_SQL, "similarity"
)


# --- hard-negative mining for contrastive training ---------------------------

HN_TOP_K = 10


def retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data op (DPR /
    sentence-transformers style): for each anchor vector (the vec_id <
    N_QUERIES query set) return the TOP-K most cosine-similar vectors with
    a DIFFERENT label. Those confusables are exactly the negatives that
    make an embedding model learn boundaries; random in-batch negatives
    are too easy and same-label neighbors would be false negatives — hence
    the label-exclusion join, the shape `ann_topk_cosine` (self-exclusion
    only) does not cover.

    Exactness: the identical quantized-int64 Gram path as ann_topk_cosine
    (floor(x*1e6+0.5) per component, int64 matmul, one mround(6) on the
    final cosine) — numpy BLAS and DuckDB's ordered list fold agree
    bit-for-bit because every sum is integer.

    Scale: one Arrow-batched linear scan of the corpus against the
    broadcast anchor matrix (model-side collect: N_QUERIES rows), the
    label filter applied inside the batch BEFORE anything shuffles; only
    (anchors x survivors) candidate rows reach the WindowGroupLimit
    top-k. At production scale anchors batch by the thousands per pass —
    same plan, bigger Q matrix."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    q_ids, Qm, q_nrm, q_lab = head_vectors(e, N_QUERIES, "label")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            labs = pdf["label"].to_numpy().astype(np.int64)
            C = quantize(pdf["embedding"])
            dots = C @ Qm.T
            c_nrm = l2_norms(C)
            cos = dots.astype(np.float64) / (c_nrm[:, None] * q_nrm[None, :])
            cos = mround_np(cos, 6)
            n, k = cos.shape
            out_q = np.tile(q_ids, n)
            out_ql = np.tile(q_lab, n)
            out_n = np.repeat(ids, k)
            out_nl = np.repeat(labs, k)
            m = out_nl != out_ql  # hard negatives only: different label
            yield pd.DataFrame(
                {
                    "query_id": out_q[m],
                    "query_label": out_ql[m],
                    "neighbor_id": out_n[m],
                    "neighbor_label": out_nl[m],
                    "cosine": cos.ravel()[m],
                }
            )

    scored = e.mapInPandas(
        score,
        "query_id bigint, query_label bigint, neighbor_id bigint,"
        " neighbor_label bigint, cosine double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= HN_TOP_K)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "cosine", "rank",
        )
    )


def _hard_negatives_sql() -> str:
    qd = _qdot_duck
    return f"""
WITH v AS (SELECT vec_id, label, {_quant_duck('embedding')} AS qe FROM embeddings),
q AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS query_label, qe AS q_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS q_norm
      FROM v WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, CAST(label AS BIGINT) AS neighbor_label,
             qe AS c_qe, sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS c_norm
      FROM v),
scored AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label,
         floor((CAST({qd('q_qe', 'c_qe')} AS DOUBLE) / (q_norm * c_norm))
               * 1000000 + 0.5) / 1000000 AS cosine
  FROM c CROSS JOIN q
  WHERE neighbor_label <> query_label),
ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored)
SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rank
FROM ranked WHERE rank <= {HN_TOP_K}
"""


QUERIES["retrieval_hard_negatives"] = QuerySpec(
    retrieval_hard_negatives, _hard_negatives_sql(), "similarity"
)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign-projection distortion audit — round 9
# ---------------------------------------------------------------------------
#
# Before shipping a dimensionality cut (64 -> 16 here) under an ANN index,
# the curator wants the measured pairwise-distance distortion of the actual
# corpus, not the JL bound: for a +-1 sign projection y = S x,
# E[||y_a - y_b||^2] = k * ||x_a - x_b||^2, so ratio = dy2 / (k * dx2)
# should concentrate near 1. Reference scope: an all-pairs distance audit is
# a bespoke two-job .so in the reference (src/tmapreduce/master/job.cc:10-77);
# here the sign matrix is BAKED INTO THE PLAN as +-1 literals, so the whole
# audit is JVM-side integer arithmetic.

JL_SAMPLE = 128  # calibration sample: vec_id < 128 (C*C/2 = 8128 pairs)
JL_K = 16  # projected dimensionality
JL_DIM = 64  # corpus embedding dimensionality

# Deterministic sign matrix, generated ONCE at import from md5 parity (no
# RNG state, no seed file) and emitted as literals into BOTH dialects — the
# cross-engine-hash question can't arise because neither engine hashes.
import hashlib as _hashlib

_JL_SIGNS: list[list[int]] = [
    [
        1 if _hashlib.md5(f"jl:{i}:{j}".encode()).digest()[0] & 1 else -1
        for i in range(JL_DIM)
    ]
    for j in range(JL_K)
]


def _jl_x_exprs(dialect: str) -> list[str]:
    """Quantized int64 components (1e6 grid; exact per-row). Spark indexes
    arrays 0-based, DuckDB 1-based — the one dialect split."""
    off = 0 if dialect == "spark" else 1
    return [
        f"CAST(floor(CAST(embedding[{i + off}] AS DOUBLE) * 1000000 + 0.5)"
        f" AS BIGINT) AS x{i}"
        for i in range(JL_DIM)
    ]


def _jl_y_exprs() -> list[str]:
    """The k projected components as literal signed sums (shared text):
    |y_j| <= 64e6, exact int64."""
    out = []
    for j in range(JL_K):
        terms = " ".join(
            ("+ " if s > 0 else "- ") + f"x{i}"
            for i, s in enumerate(_JL_SIGNS[j])
        )
        out.append(f"({terms.lstrip('+ ')}) AS y{j}")
    return out


def _jl_pair_exprs(pa: str, pb: str) -> tuple[str, str]:
    """Exact integer squared distances of a pair (shared text): dx2 over the
    64 originals (<= 64 * (2e6)^2 ~ 2.6e14), dy2 over the 16 projections
    (<= 16 * (1.3e8)^2 ~ 2.7e17) — both safely int64."""
    dx2 = " + ".join(
        f"({pa}.x{i} - {pb}.x{i}) * ({pa}.x{i} - {pb}.x{i})"
        for i in range(JL_DIM)
    )
    dy2 = " + ".join(
        f"({pa}.y{j} - {pb}.y{j}) * ({pa}.y{j} - {pb}.y{j})"
        for j in range(JL_K)
    )
    return dx2, dy2


# per-pair distortion ratio on the 1e-6 integer grid: ONE IEEE division of
# exact int64 operands, then floor — deterministic on both engines.
_JL_RATIOQ = (
    f"CAST(floor(CAST(dy2 AS DOUBLE) / ({JL_K} * dx2) * 1000000 + 0.5)"
    " AS BIGINT)"
)


def _jl_out_exprs() -> list[str]:
    return [
        f"CAST({JL_K} AS BIGINT) AS k_dims",
        "CAST(count(*) AS BIGINT) AS n_pairs",
        mround("CAST(sum(rq) AS DOUBLE) / 1000000 / count(*)", 6)
        + " AS mean_ratio",
        "CAST(min(rq) AS DOUBLE) / 1000000 AS min_ratio",
        "CAST(max(rq) AS DOUBLE) / 1000000 AS max_ratio",
        mround(
            "CAST(count(*) FILTER (WHERE rq BETWEEN 750000 AND 1250000)"
            " AS DOUBLE) / count(*)",
            6,
        )
        + " AS frac_within_25pct",
    ]


def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project the 64-dim corpus to
    16 dims with a +-1 sign matrix (baked into the plan as literals) and
    measure the pairwise squared-distance ratio dy2/(k*dx2) over a pinned
    128-vector calibration sample — n_pairs, mean/min/max ratio, and the
    fraction within +-25% of 1. The go/no-go readout before swapping an ANN
    index onto projected vectors (`ann_ivf_topk` family).

    Determinism: components quantize to the 1e6 integer grid per row; each
    projection is a literal signed integer sum; both squared distances are
    exact int64; the only division is one fixed IEEE op per pair, floored
    onto the 1e-6 ratio grid before integer aggregation.

    Scale: the PROJECTION is the linear full-corpus pass — array
    higher-order functions (transform/zip_with/aggregate) over a
    CONSTANT-FOLDED sign-matrix literal, which codegen compiles as compact
    loops (the 80-column unrolled form breaks Janino's 64 KB method limit
    and silently falls back to interpreted evaluation — measured, hence
    this shape); at 100 TB this is the map stage that feeds the index
    builder. Only the distortion AUDIT touches pairs, and its C*C/2
    candidate set is bounded by the pinned calibration sample (128 vectors
    -> 8128 pairs, broadcast nested-loop by construction), never the
    corpus."""
    signs_lit = "array(" + ", ".join(
        "array(" + ", ".join(str(s) for s in row) + ")" for row in _JL_SIGNS
    ) + ")"
    isum = "CAST(0 AS BIGINT), (acc, v) -> acc + v"
    v = load_table(spark, sf_dir, "embeddings").filter(f"vec_id < {JL_SAMPLE}")
    proj = v.selectExpr(
        "vec_id",
        "transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000000"
        " + 0.5) AS BIGINT)) AS xq",
    ).selectExpr(
        "vec_id",
        "xq",
        f"transform(sequence(0, {JL_K - 1}), j -> aggregate("
        f"zip_with(xq, {signs_lit}[j], (x, s) -> x * s), {isum})) AS yq",
    )
    pairs = (
        proj.alias("a")
        .join(F.broadcast(proj.alias("b")), F.expr("a.vec_id < b.vec_id"))
        .selectExpr(
            f"aggregate(zip_with(a.xq, b.xq, (x, y) -> (x - y) * (x - y)),"
            f" {isum}) AS dx2",
            f"aggregate(zip_with(a.yq, b.yq, (x, y) -> (x - y) * (x - y)),"
            f" {isum}) AS dy2",
        )
        .filter("dx2 > 0")
        .selectExpr(f"{_JL_RATIOQ} AS rq")
    )
    return pairs.agg(*[F.expr(e) for e in _jl_out_exprs()])


def _jl_sql() -> str:
    dx2, dy2 = _jl_pair_exprs("a", "b")
    return f"""
WITH q AS (
  SELECT vec_id, {", ".join(_jl_x_exprs("duck"))}
  FROM embeddings WHERE vec_id < {JL_SAMPLE}),
p AS (
  SELECT vec_id, {", ".join(f"x{i}" for i in range(JL_DIM))},
         {", ".join(_jl_y_exprs())}
  FROM q),
pr AS (
  SELECT ({dx2}) AS dx2, ({dy2}) AS dy2
  FROM p a JOIN p b ON a.vec_id < b.vec_id),
rq_t AS (SELECT {_JL_RATIOQ} AS rq FROM pr WHERE dx2 > 0)
SELECT {", ".join(_jl_out_exprs())} FROM rq_t
"""


QUERIES["embedding_jl_distortion"] = QuerySpec(
    embedding_jl_distortion, _jl_sql(), "similarity"
)
