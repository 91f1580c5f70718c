"""Scale-path operators: LSH-bucketed ANN (the sub-linear similarity-search
variant), salted two-phase aggregation (hot-key mitigation), and sketch
aggregates (approx distinct / approx quantiles).

These exist because the brute-force / direct formulations elsewhere in the
catalog stop being viable at 100 TB:

- brute-force ANN is O(|corpus| x |queries|); the LSH variant prunes to
  same-bucket candidates (8 deterministic hyperplanes -> 256 buckets);
- a single hot group key funnels an entire aggregation into one reducer;
  salting fans the partial aggregation across SALT_N sub-keys first;
- exact countDistinct shuffles every distinct value; HyperLogLog ships
  fixed-size sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmapreduce_spark.catalog import QuerySpec
from tmapreduce_spark.parity import DUCK, SPARK, WORD_TOKENS, mround, mround_np, msum2
from tmapreduce_spark.functions.similarity import (
    N_PLANES,
    TOP_K,
    _ann_topk_sql,
    _bucket_duck,
    _buckets_of,
    _plane_dot_duck,
    _plane_matrix,
    _qdot_duck,
    _quant_duck,
    ann_topk_cosine,
    head_vectors,
    l2_norms,
    quantize,
    topk_ranked,
)
from tmapreduce_spark.sources.catalog import load_table, spread

from tmapreduce_spark.functions.similarity import N_QUERIES as ANN_QUERIES

# Hyperplane-LSH helpers (_plane_matrix/_buckets_of/_bucket_duck/N_PLANES)
# live in functions/similarity.py — shared with its block-size guard — and
# are re-exported above for ann_lsh_topk and multimodal.py.
SALT_N = 16


def ann_lsh_topk(spark: SparkSession, sf_dir: str, probe_bits: int = 0) -> DataFrame:
    """Sub-linear ANN: random-hyperplane LSH buckets (deterministic integer
    planes on the quantized grid, so the oracle reproduces every bucket bit),
    candidates pruned to the query's probe set, quantized-exact cosine + top-k.

    One Arrow-batched corpus scan: each batch computes its bucket ids with one
    int64 matmul against the plane matrix, keeps only rows whose bucket falls
    in a query's probe set, and scores the survivors with the int64 Gram
    matmul (shared grid with ``ann_topk_cosine``). At 100 TB the scan is
    linear and shuffle-free with ~1/256th of rows scored per query; with a
    LARGE query set the same bucket column becomes a materialized equi-join
    key (write the corpus bucketed at rest) — the plans are interchangeable.

    Multi-probe (``probe_bits`` > 0) also scores buckets within that Hamming
    distance of the query's bucket — 1+8 buckets at 1 bit, +28 at 2 — the
    standard recall knob, trading a linear candidate increase for recall
    (measured against the exact baseline in ``tests/test_scale_ops.py``).
    The catalog/oracle entry pins probe_bits=0."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_ids, Qm, q_nrm = head_vectors(e, ANN_QUERIES)
    q_buckets = _buckets_of(Qm)

    # probe_ok[qi, b]: does bucket b fall inside query qi's probe set?
    all_b = np.arange(1 << N_PLANES, dtype=np.int64)
    hamming = np.array(
        [[bin(int(qb ^ b)).count("1") for b in all_b] for qb in q_buckets]
    )
    probe_ok = hamming <= probe_bits

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            C = quantize(pdf["embedding"])
            buckets = _buckets_of(C)
            c_nrm = l2_norms(C)
            frames = []
            for qi in range(len(q_ids)):
                m = probe_ok[qi][buckets] & (ids != q_ids[qi])
                if not m.any():
                    continue
                dots = C[m] @ Qm[qi]  # exact int64
                cos = dots.astype(np.float64) / (c_nrm[m] * q_nrm[qi])
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(int(m.sum()), q_ids[qi]),
                            "neighbor_id": ids[m],
                            "cosine": mround_np(cos, 6),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = e.mapInPandas(score, "query_id bigint, neighbor_id bigint, cosine double")
    return topk_ranked(scored)


ANN_LSH_SQL = f"""
WITH e AS (
  SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
eb AS (
  SELECT vec_id, qe, ({_bucket_duck()}) AS bucket,
         sqrt(CAST({_qdot_duck('qe', 'qe')} AS DOUBLE)) AS nrm
  FROM e),
q AS (SELECT vec_id AS query_id, qe AS q_qe, bucket AS q_bucket, nrm AS q_norm
      FROM eb WHERE vec_id < {ANN_QUERIES}),
scored AS (
  SELECT query_id, eb.vec_id AS neighbor_id,
         floor((CAST({_qdot_duck('q_qe', 'eb.qe')} AS DOUBLE) / (q_norm * eb.nrm))
               * 1000000 + 0.5) / 1000000 AS cosine
  FROM eb JOIN q ON eb.bucket = q.q_bucket AND eb.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def salted_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: tokens counted per (token, salt) first,
    then merged per token. The result is identical to a direct groupBy; the
    point is the SHAPE — with a pathologically hot key (a stop-word at 100 TB)
    phase one spreads that key across SALT_N reducers, and phase two merges
    SALT_N tiny partials. AQE's skew handling covers joins; salting is the
    equivalent lever for aggregations when a single key dominates.

    Salt derives from doc_id (deterministic) rather than rand() so the
    pipeline stays replayable and oracle-checkable — the merged result is
    salt-invariant anyway."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "doc_id",
        r"explode(split(trim(text), '\\s+')) AS tok",
    ).filter(F.col("tok") != "")
    phase1 = (
        toks.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(SALT_N)))
        .groupBy("tok", "salt")
        .agg(F.count("*").alias("partial_cnt"))
    )
    return phase1.groupBy("tok").agg(F.sum("partial_cnt").alias("total"))


SALTED_SQL = r"""
SELECT tok, count(*) AS total
FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents) t
WHERE tok <> ''
GROUP BY tok
"""


# --- deterministic, oracle-recomputable sketch family (reworked r11) -------
#
# Until round 10 these three entries used engine-native sketches
# (approx_count_distinct / approx_percentile / DataSketches HLL) and were the
# catalog's only permanently `no_oracle` rows. The r10 `sketch_kmv_jaccard`
# entry proved the fix: build the sketch from md5-derived integers BOTH
# engines compute bit-identically, so DuckDB recomputes the estimate exactly
# and the driver gets a full rows+schema+hash row. The estimators below are
# the textbook algorithms (KMV / bottom-k sampling / HyperLogLog), not
# engine-native calls — same asymptotics, deterministic output.

KMV_DISTINCT_K = 32   # small enough that sf0.01 (150 users/type) exercises
                      # the ESTIMATOR branch while sf0.001 (15) hits exact
HASH60_MAX = 1152921504606846976  # 2**60: md5-prefix hash range
QSK_K = 1024          # bottom-k sample size for the quantile sketch
HLL_P = 8             # 2**8 = 256 registers; rho over the remaining 32 bits


def _h60(dialect: str, arg: str) -> str:
    """60-bit integer hash from an md5 prefix — identical in both engines."""
    if dialect == SPARK:
        return f"CAST(conv(substring(md5({arg}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substring(md5({arg}), 1, 15)) AS BIGINT)"


def _h40(dialect: str, arg: str) -> str:
    """40-bit variant (8 index bits + 32 rho bits for the HLL registers)."""
    if dialect == SPARK:
        return f"CAST(conv(substring(md5({arg}), 1, 10), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substring(md5({arg}), 1, 10)) AS BIGINT)"


def _cc(dialect: str, *parts: str) -> str:
    """String concatenation (Spark concat() / DuckDB ||)."""
    if dialect == SPARK:
        return f"concat({', '.join(parts)})"
    return " || ".join(parts)


def _adk_sql(dialect: str, tbl: str) -> str:
    """KMV (k-minimum-values) distinct-count estimator, shared SQL text.

    Bottom-k of the 60-bit hashes per event_type; with fewer than k distinct
    values the sketch IS the exact set (estimate = k_used), else the k-th
    minimum h_k estimates density: E = (k-1) * 2^60 / h_k (Bar-Yossef et al.
    2002). Every step is integer-exact until one double division."""
    h = _h60(dialect, _cc(dialect, "'adk:'", "CAST(user_id AS STRING)"))
    est = (
        f"CASE WHEN k_used < {KMV_DISTINCT_K} THEN CAST(k_used AS DOUBLE) "
        f"ELSE CAST({KMV_DISTINCT_K - 1} AS DOUBLE) "
        f"* CAST({HASH60_MAX} AS BIGINT) / CAST(h_k AS DOUBLE) END"
    )
    rel = f"abs(({est}) - exact_users) / CAST(nullif(exact_users, 0) AS DOUBLE)"
    return f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM {tbl}),
hs AS (SELECT event_type, {h} AS h FROM du),
rk AS (SELECT event_type, h,
              row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n_distinct
       FROM hs),
sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k_used,
              max(h) AS h_k, CAST(max(n_distinct) AS BIGINT) AS exact_users
       FROM rk WHERE rn <= {KMV_DISTINCT_K} GROUP BY event_type),
ev AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
       FROM {tbl} GROUP BY event_type)
SELECT event_type, n_events, exact_users, k_used,
       {mround(est, 6)} AS kmv_users,
       {mround(rel, 6)} AS rel_err
FROM sk JOIN ev USING (event_type)
"""


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event type, vs the exact count.

    Reworked r11 from approx_count_distinct (whose HLL estimate is
    engine-private, hence permanently `no_oracle`) to a deterministic
    k-minimum-values sketch over md5-derived 60-bit hashes: DuckDB recomputes
    the estimate bit-exactly, so the entry is now hash-checked.

    Scale: the sketch is the k=32 smallest hashes per group — a fixed-size,
    MERGEABLE summary (union-then-bottom-k), exactly the property that lets
    100 TB distinct-counts ship kilobytes instead of re-shuffling every
    distinct user id; the exact_users column is the calibration truth the
    sketch exists to avoid (same audit pattern as sketch_kmv_jaccard)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_adk_events")
    return spark.sql(_adk_sql(SPARK, "_adk_events"))


def _qsk_sql(dialect: str, tbl: str) -> str:
    """Bottom-k-by-hash sample quantiles vs exact, shared SQL text.

    The 'sketch' is a deterministic uniform sample: the QSK_K rows with the
    smallest md5 hash of the primary key (hash-order ≡ random order, but
    replayable — the property rand() sampling lacks). Quantiles are type-1
    discrete (element at floor((n-1)*q), 1-based), computed IDENTICALLY over
    the sample (estimate) and the full partition (truth), so both engines
    pick the same physical row and emit its raw double."""
    h = _h60(dialect, _cc(dialect, "'qsk:'", "CAST(okey AS STRING)"))
    if dialect == SPARK:
        pcts = ("SELECT * FROM VALUES ('p50', CAST(0.5 AS DOUBLE)), "
                "('p90', CAST(0.9 AS DOUBLE)), ('p99', CAST(0.99 AS DOUBLE)) AS p(tag, q)")
    else:
        pcts = ("SELECT * FROM (VALUES ('p50', CAST(0.5 AS DOUBLE)), "
                "('p90', CAST(0.9 AS DOUBLE)), ('p99', CAST(0.99 AS DOUBLE))) p(tag, q)")
    return f"""
WITH base AS (SELECT o_orderstatus AS st, o_totalprice AS v, o_orderkey AS okey
              FROM {tbl}),
hs AS (SELECT st, v, okey, {h} AS h FROM base),
samp AS (SELECT st, v, okey FROM (
           SELECT st, v, okey,
                  row_number() OVER (PARTITION BY st ORDER BY h, okey) AS hrn
           FROM hs) t
         WHERE hrn <= {QSK_K}),
sr AS (SELECT st, v,
              row_number() OVER (PARTITION BY st ORDER BY v, okey) AS rn,
              count(*) OVER (PARTITION BY st) AS n
       FROM samp),
fr AS (SELECT st, v,
              row_number() OVER (PARTITION BY st ORDER BY v, okey) AS rn,
              count(*) OVER (PARTITION BY st) AS n
       FROM base),
pct AS ({pcts}),
est AS (SELECT sr.st, pct.tag, sr.v AS est_value, CAST(sr.n AS BIGINT) AS sample_n
        FROM sr JOIN pct
          ON sr.rn = CAST(floor((sr.n - 1) * pct.q) AS BIGINT) + 1),
tru AS (SELECT fr.st, pct.tag, fr.v AS exact_value
        FROM fr JOIN pct
          ON fr.rn = CAST(floor((fr.n - 1) * pct.q) AS BIGINT) + 1)
SELECT est.st AS o_orderstatus, est.tag AS pct, sample_n, est_value, exact_value,
       {mround('abs(est_value - exact_value) / nullif(exact_value, 0.0)', 6)} AS rel_err
FROM est JOIN tru ON est.st = tru.st AND est.tag = tru.tag
"""


def sketch_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled percentiles (p50/p90/p99) of order totals vs exact, per status.

    Reworked r11 from approx_percentile (Greenwald-Khanna internals are
    engine-private, hence permanently `no_oracle`) to a deterministic
    bottom-k-by-hash sample + type-1 discrete quantile — DuckDB recomputes
    the identical sample and picks the identical element, so the entry is
    now hash-checked. Output stays exploded to scalar rows (the r02
    canonicalizer lesson).

    Scale: the sample is a fixed-size uniform summary selected by a
    hash-order row_number per group — one shuffle on the group key, no
    global sort; the full-partition exact column is the calibration truth.
    At 100 TB swap QSK_K up and the plan is unchanged."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_qsk_orders")
    return spark.sql(_qsk_sql(SPARK, "_qsk_orders"))


# ---------------------------------------------------------------------------
# IVF ANN: coarse-quantizer buckets (inverted file) + exact re-rank in-bucket
# ---------------------------------------------------------------------------

IVF_K = 8  # centroids; "training" stand-in: the first K vectors ARE the
           # centroids (deterministic, oracle-reproducible — production runs
           # k-means and broadcasts the learned centroids the same way)


# alpha_m * m^2 * 2^33 for m=256 (Flajolet et al. 2007): one Python-side
# IEEE constant, emitted as a string-parsed double so DuckDB's decimal-literal
# parser can't widen it (the r09 decimal-literal trap).
_HLL_A = repr(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 8589934592.0)


def _hll_sql(dialect: str, tbl: str) -> str:
    """Textbook HyperLogLog over md5-derived 40-bit hashes, shared SQL text.

    Register index = low 8 bits; rho = leading-zero count of the remaining
    32 bits + 1 = 33 - bit_length(w) (both engines' bin() is minimal-width,
    so length(bin(w)) IS bit_length for w > 0). Registers build per
    (event_type, day) and merge UPWARD by max() — the mergeability property
    this entry exists to demonstrate. The harmonic denominator is an EXACT
    BIGINT (sum of 2^(33-M) over 256 registers, absent registers contribute
    2^33), so the only float steps are one division and the small-range
    ln() branch (the parity.py transcendental exception: identical exact
    rational argument on both sides)."""
    h = _h40(dialect, _cc(dialect, "'hll:'", "CAST(user_id AS STRING)"))
    idiv = "div" if dialect == SPARK else "//"
    shift = (
        "shiftleft(CAST(1 AS BIGINT), CAST(33 - m AS INT))"
        if dialect == SPARK
        else "(CAST(1 AS BIGINT) << (33 - m))"
    )
    raw = f"CAST('{_HLL_A}' AS DOUBLE) / CAST(harmonic_num AS DOUBLE)"
    est = (
        f"CASE WHEN ({raw}) <= 640.0 AND v_zero > 0 "
        f"THEN 256.0 * ln(256.0 / CAST(v_zero AS DOUBLE)) "
        f"ELSE ({raw}) END"
    )
    rel = f"abs(({est}) - exact_users) / CAST(nullif(exact_users, 0) AS DOUBLE)"
    return f"""
WITH pts AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
             FROM {tbl}),
hx AS (SELECT event_type, day, {h} AS h FROM pts),
rr AS (SELECT event_type, day, h % 256 AS idx, h {idiv} 256 AS w FROM hx),
rho AS (SELECT event_type, day, idx,
               CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rho
        FROM rr),
daily AS (SELECT event_type, day, idx, max(rho) AS m_day
          FROM rho GROUP BY event_type, day, idx),
merged AS (SELECT event_type, idx, max(m_day) AS m
           FROM daily GROUP BY event_type, idx),
regs AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_present,
                CAST(sum({shift}) AS BIGINT) AS present_num
         FROM merged GROUP BY event_type),
meta AS (SELECT event_type,
                CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         FROM {tbl} GROUP BY event_type),
fin AS (SELECT event_type, n_days, n_events, exact_users,
               256 - n_present AS v_zero,
               present_num + (256 - n_present) * CAST(8589934592 AS BIGINT)
                 AS harmonic_num
        FROM regs JOIN meta USING (event_type))
SELECT event_type, n_days, n_events, exact_users, v_zero, harmonic_num,
       {mround(est, 6)} AS hll_users,
       {mround(rel, 6)} AS rel_err
FROM fin
"""


def sketch_hll_md5_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the property that makes 100 TB distinct
    cubes feasible: per-(event_type, day) HLL registers built in one pass,
    then merged UPWARD by per-register max to per-type totals without
    revisiting raw rows. Materialize the daily register table once and any
    coarser grain (weekly, all-time, cross-type) is a cheap max-merge of
    256-cell summaries; an exact countDistinct re-shuffles every distinct
    user for every new grain.

    Reworked r11 from DataSketches hll_sketch_agg (whose binary sketch and
    estimator are engine-private, hence permanently `no_oracle`) to a
    textbook HLL over md5-derived registers both engines compute
    bit-identically — the estimate, the exact harmonic numerator, and the
    zero-register count are all now hash-checked against DuckDB. Merge
    losslessness (max is associative) plus estimate accuracy stay pinned in
    ``tests/test_scale_ops.py``."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_hll_events")
    return spark.sql(_hll_sql(SPARK, "_hll_events"))


def _ivf_centroid_model(e: DataFrame):
    """Collect the IVF centroid model (the first IVF_K corpus vectors on the
    quantized grid) and return (ids, centroid_ranks): centroid_ranks
    orders centroid ids best-first per row (cosine DESC, cid ASC — stable
    argsort, so equal cosines keep ascending-cid order, matching the
    oracle). Shared by the ANN probes and the list-balance audit so the
    assignment geometry can't drift between them."""
    import numpy as np

    ids, C, c_nrm = head_vectors(e, IVF_K)

    def centroid_ranks(Q: "np.ndarray") -> "np.ndarray":
        dots = Q @ C.T  # exact int64
        nrm = l2_norms(Q)
        cos = dots.astype(np.float64) / (nrm[:, None] * c_nrm[None, :])
        return np.argsort(-cos, axis=1, kind="stable")

    centroid_ranks.C = C
    return ids, centroid_ranks


def _ivf_assign_df(e: DataFrame, centroid_ranks) -> DataFrame:
    """One Arrow pass assigning every vector its nearest centroid."""
    import numpy as np
    import pandas as pd

    def assign(batches):
        for pdf in batches:
            best = centroid_ranks(quantize(pdf["embedding"]))[:, 0]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].astype("int64"), "centroid": best.astype("int32")}
            )

    return e.mapInPandas(assign, "vec_id bigint, centroid int")


def ann_ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int = 1) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of IVF_K centroids
    by quantized-exact cosine (int64 dots, ties to the lowest centroid id),
    then answer each query from its ``nprobe`` nearest centroids' buckets
    with exact cosine top-k.

    Scale path: assignment is ONE mapInPandas pass over the corpus against
    broadcast centroids (tiny model in the closure — not a data-path
    collect); the query set's own probe lists are computed driver-side from
    the already-collected centroid rows (the deterministic query set
    vec_id < ANN_QUERIES is a subset of vec_id < IVF_K), so no second corpus
    scan happens. The inverted file is the `centroid` column: the candidate
    join is a bucket equi-join exactly like the LSH variant, and the corpus
    can be written partitioned/bucketed by centroid at rest. Recall is tuned
    by ``nprobe`` — each extra probed centroid adds ~1/IVF_K of the corpus to
    the candidate set (recall-vs-exact measured in ``tests/test_scale_ops.py``).
    The catalog/oracle entry pins nprobe=1."""
    import numpy as np
    import pandas as pd

    assert ANN_QUERIES <= IVF_K, "query assignments derive from the centroid collect"

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_ids, centroid_ranks = _ivf_centroid_model(e)
    assigned = _ivf_assign_df(e, centroid_ranks)
    corpus = e.join(assigned, "vec_id")

    # query-side probe lists driver-side (queries ⊂ collected centroid rows):
    # one broadcast row per (query, probed centroid) keeps the candidate
    # lookup a plain equi-join.
    Q = centroid_ranks.C[:ANN_QUERIES]
    q_ranks = centroid_ranks(Q)
    q = spark.createDataFrame(
        [
            (int(cent_ids[i]), Q[i].tolist(), int(q_ranks[i, p]))
            for i in range(len(Q))
            for p in range(min(nprobe, IVF_K))
        ],
        "query_id bigint, q_qe array<bigint>, q_centroid int",
    )
    cand = corpus.join(
        F.broadcast(q),
        (F.col("centroid") == F.col("q_centroid")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "q_qe", F.col("vec_id").alias("neighbor_id"), "embedding")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["q_qe"])  # already on the grid
            B = quantize(pdf["embedding"])
            dots = np.einsum("ij,ij->i", A, B)
            na = l2_norms(A)
            nb = l2_norms(B)
            cos = dots.astype(np.float64) / (na * nb)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].astype("int64"),
                    "neighbor_id": pdf["neighbor_id"].astype("int64"),
                    "cosine": mround_np(cos, 6),
                }
            )

    scored = cand.mapInPandas(score, "query_id bigint, neighbor_id bigint, cosine double")
    return topk_ranked(scored)


def _ivf_sql(nprobe: int = 1) -> str:
    # `queries` probes each query's `nprobe` best centroids (cosine DESC, cid
    # ASC — the same stable order as centroid_ranks); each corpus vector has
    # exactly one centroid, so the probe equi-join can never duplicate a
    # candidate.
    from tmapreduce_spark.functions.similarity import _qdot_duck, _quant_duck

    qd = _qdot_duck
    return f"""
WITH q AS (
  SELECT vec_id, {_quant_duck("embedding")} AS qe FROM embeddings),
cent AS (SELECT vec_id AS cid, qe AS ce FROM q WHERE vec_id < {IVF_K}),
assign AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST({qd('v.qe', 'c.ce')} AS DOUBLE)
                      / (sqrt(CAST({qd('v.qe', 'v.qe')} AS DOUBLE))
                         * sqrt(CAST({qd('c.ce', 'c.ce')} AS DOUBLE))) DESC,
                      c.cid ASC) AS rn
    FROM q v CROSS JOIN cent c) t
  WHERE rn = 1),
corpus AS (SELECT q.vec_id, q.qe, a.centroid FROM q JOIN assign a ON q.vec_id = a.vec_id),
queries AS (
  SELECT query_id, q_qe, q_centroid FROM (
    SELECT v.vec_id AS query_id, v.qe AS q_qe, c.cid AS q_centroid,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST({qd('v.qe', 'c.ce')} AS DOUBLE)
                      / (sqrt(CAST({qd('v.qe', 'v.qe')} AS DOUBLE))
                         * sqrt(CAST({qd('c.ce', 'c.ce')} AS DOUBLE))) DESC,
                      c.cid ASC) AS rn
    FROM q v CROSS JOIN cent c
    WHERE v.vec_id < {ANN_QUERIES}) t
  WHERE rn <= {nprobe}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         floor((CAST({qd('q_qe', 'c.qe')} AS DOUBLE)
                / (sqrt(CAST({qd('q_qe', 'q_qe')} AS DOUBLE))
                   * sqrt(CAST({qd('c.qe', 'c.qe')} AS DOUBLE))))
               * 1000000 + 0.5) / 1000000 AS cosine
  FROM corpus c JOIN queries ON c.centroid = q_centroid AND c.vec_id <> query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


PQ_M = 4  # subspaces
PQ_K = 16  # codewords per subspace (codebook = sub-vectors of vec_id < PQ_K)


def _pq_codebook(CB):
    """Split a quantized (PQ_K, dim) codebook into its PQ_M subspaces:
    (sub-vector width dm, the (PQ_K, dm) sub-codebooks, each codeword's
    exact int64 |c|²)."""
    import numpy as np

    dm = CB.shape[1] // PQ_M
    subcb = [CB[:, m * dm : (m + 1) * dm] for m in range(PQ_M)]
    sub_n2 = [np.einsum("ij,ij->i", c, c) for c in subcb]
    return dm, subcb, sub_n2


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC scoring — the memory-bounded scale
    path that completes the family (brute / LSH / IVF / PQ): each corpus
    vector is compressed to PQ_M codeword ids (here 4 bytes-worth instead of
    64 floats), and queries score candidates via per-subspace lookup tables
    without ever touching the original vectors.

    Codebook: sub-vectors of the first PQ_K corpus vectors on the quantized
    int64 grid (the IVF sampled-centroid trick — deterministic, and the
    oracle can rebuild it in SQL). Encoding = argmin over codewords of exact
    int64 L2² per subspace (ties → lowest codeword id, numpy argmin ==
    ORDER BY d2, c). ADC dot = Σ_m LUT[q][m][code] — exact int64 (< 2^53, so
    the float64 division chain is bit-identical across engines);
    reconstruction norm is sqrt of an exact int64 sum.

    Scale: TWO Arrow-batched linear passes (encode, score) with only the
    tiny codebook / LUTs in the closure — no shuffle until the final
    per-query top-k window over candidates. At 100 TB the encoded corpus is
    ~PQ_M bytes/vector at rest (vs 4·dim), and the scoring scan reads ONLY
    codes — the reason PQ is the billion-vector default."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dm, subcb, sub_n2 = _pq_codebook(head_vectors(e, PQ_K)[1])
    q_ids, Q, q_nrm = head_vectors(e, ANN_QUERIES)
    # LUT[qi, m, c] = int64 dot(query sub-vector m, codeword c of subspace m)
    LUT = np.stack(
        [Q[:, m * dm : (m + 1) * dm] @ subcb[m].T for m in range(PQ_M)], axis=1
    )  # (n_queries, PQ_M, PQ_K)

    code_cols = [f"c{m}" for m in range(PQ_M)]

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = quantize(pdf["embedding"])
            out = {"vec_id": pdf["vec_id"].to_numpy().astype("int64")}
            rnorm2 = np.zeros(len(V), dtype=np.int64)
            for m in range(PQ_M):
                Vm = V[:, m * dm : (m + 1) * dm]
                # argmin_c |v - c|² == argmin_c (|c|² - 2 v·c); exact int64
                d2 = sub_n2[m][None, :] - 2 * (Vm @ subcb[m].T)
                code = np.argmin(d2, axis=1)  # first occurrence == lowest c
                out[f"c{m}"] = code.astype("int64")
                rnorm2 += sub_n2[m][code]
            out["rnorm2"] = rnorm2
            yield pd.DataFrame(out)

    enc_schema = "vec_id bigint, " + ", ".join(f"{c} bigint" for c in code_cols) + ", rnorm2 bigint"
    enc = e.mapInPandas(encode, enc_schema)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            codes = pdf[code_cols].to_numpy().astype(np.int64)  # (n, PQ_M)
            adc = np.zeros((len(q_ids), len(ids)), dtype=np.int64)
            for m in range(PQ_M):
                adc += LUT[:, m, codes[:, m]]
            rn = np.sqrt(pdf["rnorm2"].to_numpy().astype(np.float64))
            cos = adc.astype(np.float64) / (q_nrm[:, None] * rn[None, :])
            cos = mround_np(cos, 6)
            k, n = cos.shape
            out_q = np.repeat(q_ids, n)
            out_n = np.tile(ids, k)
            mask = out_n != out_q
            yield pd.DataFrame(
                {"query_id": out_q[mask], "neighbor_id": out_n[mask], "cosine": cos.ravel()[mask]}
            )

    scored = enc.mapInPandas(score, "query_id bigint, neighbor_id bigint, cosine double")
    return topk_ranked(scored)


def _pq_sql() -> str:
    dm = 16  # dim 64 / PQ_M 4; the oracle pins the testdata dimensionality
    qd = _qdot_duck
    sub_dot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, {dm} + 1), i -> {a}[{off} + i] * {b}[{off} + i])), "
        "(acc, x) -> acc + x)"
    )
    d2 = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, {dm} + 1), "
        "i -> ({a}[{off} + i] - {b}[{off} + i]) * ({a}[{off} + i] - {b}[{off} + i]))), "
        "(acc, x) -> acc + x)"
    )
    return f"""
WITH v AS (SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
sub AS (SELECT m FROM (VALUES (0), (1), (2), (3)) t(m)),
cb AS (SELECT vec_id AS c, qe AS cb_qe FROM v WHERE vec_id < {PQ_K}),
dist AS (
  SELECT v.vec_id, s.m, cb.c,
         {d2.format(dm=dm, a='v.qe', b='cb.cb_qe', off='s.m * ' + str(dm))} AS d2,
         {sub_dot.format(dm=dm, a='cb.cb_qe', b='cb.cb_qe', off='s.m * ' + str(dm))} AS cn2
  FROM v CROSS JOIN sub s CROSS JOIN cb),
enc AS (
  SELECT vec_id, m, c, cn2 FROM (
    SELECT vec_id, m, c, cn2,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
    FROM dist) WHERE rn = 1),
rnorm AS (
  SELECT vec_id, sqrt(CAST(CAST(sum(cn2) AS BIGINT) AS DOUBLE)) AS rnorm
  FROM enc GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, qe AS q_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS q_norm
      FROM v WHERE vec_id < {ANN_QUERIES}),
lut AS (
  SELECT q.query_id, s.m, cb.c,
         {sub_dot.format(dm=dm, a='q.q_qe', b='cb.cb_qe', off='s.m * ' + str(dm))} AS dot
  FROM q CROSS JOIN sub s CROSS JOIN cb),
adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, CAST(sum(l.dot) AS BIGINT) AS adc_dot
  FROM enc e JOIN lut l ON l.m = e.m AND l.c = e.c
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id),
scored AS (
  SELECT a.query_id, a.neighbor_id,
         floor((CAST(a.adc_dot AS DOUBLE) / (q.q_norm * r.rnorm)) * 1000000 + 0.5)
           / 1000000 AS cosine
  FROM adc a
  JOIN q ON q.query_id = a.query_id
  JOIN rnorm r ON r.vec_id = a.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the actual billion-vector serving architecture
    (FAISS IVFPQ): IVF restricts each query to its nearest centroid's
    bucket, PQ scores those candidates from 4 codeword ids via ADC lookup
    tables — the scoring scan touches neither the original vectors nor
    out-of-bucket candidates.

    Scale: ONE Arrow-batched corpus pass does BOTH centroid assignment and
    PQ encoding (broadcast models in the closure; the separate `ann_ivf_*`
    / `ann_pq_*` entries each make an equivalent pass — composing them is
    free); at rest the corpus stores (centroid, 4 codes, rnorm) ≈ 12 bytes
    a vector, partitioned by centroid, and a query reads ~1/IVF_K of it.
    Candidate lookup is the same broadcast bucket equi-join as IVF; ADC is
    exact int64 (bit-identical to the oracle's relational LUT join)."""
    import numpy as np
    import pandas as pd

    assert ANN_QUERIES <= IVF_K
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # model-side collects: IVF_K centroid rows (queries are a subset) + the
    # PQ codebook rows — both tiny, never the data path
    _, M, _ = head_vectors(e, max(IVF_K, PQ_K))
    C = M[:IVF_K]
    c_nrm = l2_norms(C)
    dm, subcb, sub_n2 = _pq_codebook(M[:PQ_K])

    Q = M[:ANN_QUERIES]
    q_nrm = l2_norms(Q)
    LUT = np.stack(
        [Q[:, m * dm : (m + 1) * dm] @ subcb[m].T for m in range(PQ_M)], axis=1
    )  # (n_queries, PQ_M, PQ_K)

    code_cols = [f"c{m}" for m in range(PQ_M)]

    def assign_encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = quantize(pdf["embedding"])
            v_nrm = l2_norms(V)
            cos = (V @ C.T).astype(np.float64) / (v_nrm[:, None] * c_nrm[None, :])
            out = {
                "vec_id": pdf["vec_id"].to_numpy().astype("int64"),
                "centroid": np.argsort(-cos, axis=1, kind="stable")[:, 0].astype("int64"),
            }
            rnorm2 = np.zeros(len(V), dtype=np.int64)
            for m in range(PQ_M):
                Vm = V[:, m * dm : (m + 1) * dm]
                d2 = sub_n2[m][None, :] - 2 * (Vm @ subcb[m].T)
                code = np.argmin(d2, axis=1)
                out[f"c{m}"] = code.astype("int64")
                rnorm2 += sub_n2[m][code]
            out["rnorm2"] = rnorm2
            yield pd.DataFrame(out)

    enc = e.mapInPandas(
        assign_encode,
        "vec_id bigint, centroid bigint, "
        + ", ".join(f"{c} bigint" for c in code_cols)
        + ", rnorm2 bigint",
    )

    # query probe list (top-1 centroid per query), broadcast
    q_cos = (Q @ C.T).astype(np.float64) / (q_nrm[:, None] * c_nrm[None, :])
    q_probe = np.argsort(-q_cos, axis=1, kind="stable")[:, 0]
    probes = spark.createDataFrame(
        [(int(i), int(q_probe[i])) for i in range(ANN_QUERIES)],
        "query_id bigint, q_centroid bigint",
    )
    cand = enc.join(
        F.broadcast(probes),
        (F.col("centroid") == F.col("q_centroid"))
        & (F.col("vec_id") != F.col("query_id")),
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qidx = pdf["query_id"].to_numpy().astype(np.int64)
            codes = pdf[code_cols].to_numpy().astype(np.int64)
            adc = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                adc += LUT[qidx, m, codes[:, m]]
            rn = np.sqrt(pdf["rnorm2"].to_numpy().astype(np.float64))
            cos = adc.astype(np.float64) / (q_nrm[qidx] * rn)
            yield pd.DataFrame(
                {
                    "query_id": qidx,
                    "neighbor_id": pdf["vec_id"].to_numpy().astype("int64"),
                    "cosine": mround_np(cos, 6),
                }
            )

    scored = cand.mapInPandas(score, "query_id bigint, neighbor_id bigint, cosine double")
    return topk_ranked(scored)


def _ivf_pq_sql() -> str:
    dm = 16
    qd = _qdot_duck
    sub_dot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, {dm} + 1), i -> {a}[{off} + i] * {b}[{off} + i])), "
        "(acc, x) -> acc + x)"
    )
    d2 = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, {dm} + 1), "
        "i -> ({a}[{off} + i] - {b}[{off} + i]) * ({a}[{off} + i] - {b}[{off} + i]))), "
        "(acc, x) -> acc + x)"
    )
    cosine_to_cent = (
        f"CAST({qd('v.qe', 'c.ce')} AS DOUBLE)"
        f" / (sqrt(CAST({qd('v.qe', 'v.qe')} AS DOUBLE))"
        f" * sqrt(CAST({qd('c.ce', 'c.ce')} AS DOUBLE)))"
    )
    return f"""
WITH v AS (SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
cent AS (SELECT vec_id AS cid, qe AS ce FROM v WHERE vec_id < {IVF_K}),
assign AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cosine_to_cent} DESC, c.cid ASC) AS rn
    FROM v CROSS JOIN cent c) t
  WHERE rn = 1),
sub AS (SELECT m FROM (VALUES (0), (1), (2), (3)) t(m)),
cb AS (SELECT vec_id AS c, qe AS cb_qe FROM v WHERE vec_id < {PQ_K}),
dist AS (
  SELECT v.vec_id, s.m, cb.c,
         {d2.format(dm=dm, a='v.qe', b='cb.cb_qe', off='s.m * ' + str(dm))} AS d2,
         {sub_dot.format(dm=dm, a='cb.cb_qe', b='cb.cb_qe', off='s.m * ' + str(dm))} AS cn2
  FROM v CROSS JOIN sub s CROSS JOIN cb),
enc AS (
  SELECT vec_id, m, c, cn2 FROM (
    SELECT vec_id, m, c, cn2,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
    FROM dist) WHERE rn = 1),
rnorm AS (
  SELECT vec_id, sqrt(CAST(CAST(sum(cn2) AS BIGINT) AS DOUBLE)) AS rnorm
  FROM enc GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, qe AS q_qe,
             sqrt(CAST({qd('qe', 'qe')} AS DOUBLE)) AS q_norm
      FROM v WHERE vec_id < {ANN_QUERIES}),
qprobe AS (
  SELECT query_id, cid AS q_centroid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY CAST({qd('q.q_qe', 'c.ce')} AS DOUBLE)
                                       / (sqrt(CAST({qd('q.q_qe', 'q.q_qe')} AS DOUBLE))
                                          * sqrt(CAST({qd('c.ce', 'c.ce')} AS DOUBLE))) DESC,
                                       c.cid ASC) AS rn
    FROM q CROSS JOIN cent c) t
  WHERE rn = 1),
lut AS (
  SELECT q.query_id, s.m, cb.c,
         {sub_dot.format(dm=dm, a='q.q_qe', b='cb.cb_qe', off='s.m * ' + str(dm))} AS dot
  FROM q CROSS JOIN sub s CROSS JOIN cb),
adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, CAST(sum(l.dot) AS BIGINT) AS adc_dot
  FROM enc e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN qprobe p ON p.q_centroid = a.centroid
  JOIN lut l ON l.query_id = p.query_id AND l.m = e.m AND l.c = e.c
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id),
scored AS (
  SELECT a.query_id, a.neighbor_id,
         floor((CAST(a.adc_dot AS DOUBLE) / (q.q_norm * r.rnorm)) * 1000000 + 0.5)
           / 1000000 AS cosine
  FROM adc a
  JOIN q ON q.query_id = a.query_id
  JOIN rnorm r ON r.vec_id = a.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-dim equi-join — the manual hot-key pattern. (Honesty
    note, r13: the driver testdata's user_id fan-in is NEAR-UNIFORM —
    max/median 1.5 over 1500 keys at sf0.1, plans/r13/skew_evidence.txt —
    so this entry demonstrates the salted SHAPE, salt-invariant and
    oracle-checked, not a measured skew win on this data. Apply it when
    diag_key_skew reports max/median past the guide's ~5-10x bound.) With a
    genuinely hot key a plain shuffle join lands that key on one task. The
    salting pattern: the fact side gets a deterministic per-row salt in
    [0, SALT_N); the dim side is replicated SALT_N× via explode(sequence);
    the join key becomes (key, salt), spreading each hot key over SALT_N
    tasks. This is the MANUAL fallback for when AQE skew-split can't fire
    (e.g. the skewed side feeds a same-key aggregation — exactly this plan;
    see tests/test_plans.py for the AQE variant). At local dim size Catalyst
    may still broadcast the replicated dim — the salted key shape is what's
    under test; with two fact-sized sides the same plan shuffles on
    (key, salt). Oracle: the identical UNsalted join+agg."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    fact = e.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_N)))
    dim = c.withColumn(
        "salt", F.explode(F.expr(f"sequence(CAST(0 AS BIGINT), CAST({SALT_N - 1} AS BIGINT))"))
    )
    return (
        fact.join(dim, (fact.user_id == dim.c_custkey) & (fact.salt == dim.salt))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(msum2("value", SPARK)).alias("total_value"),
        )
    )


JOIN_SALTED_SQL = f"""
SELECT c_custkey, c_name, count(*) AS n_events,
       {msum2("value", DUCK)} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_custkey, c_name
"""


# ---------------------------------------------------------------------------
# Bloom-filter prefiltered join: prune fact rows BEFORE the shuffle
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 16  # 65536 bits = 1024 LONG words ≈ 8 KB bitmap
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3  # hash functions; n≈2k urgent-F keys → FP ≈ (1-e^{-kn/m})^k < 0.1%


def _bloom_positions(key, i: int):
    """Bit position i for a key: xxhash64 over (key, i) — k independent
    hashes from one JVM hash family, nonneg via pmod."""
    return F.pmod(F.xxhash64(key, F.lit(i)), F.lit(_BLOOM_BITS))


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join with an explicit Bloom-filter prefilter on the fact side
    — the runtime-filter pattern (Spark's InjectRuntimeFilter, Trino's
    dynamic filtering) made explicit and portable.

    Build: the filtered dim keys (urgent finished orders) hash into a
    FIXED-SIZE 8 KB bitmap — explode k=3 bit positions per key, partial
    map-side bit_or per 64-bit word, ≤1024-row collect. The bitmap size is
    independent of data scale: at 100 TB the build is one tiny aggregation
    and the bitmap ships with the plan like any literal (pennies vs the
    shuffle it saves).

    Probe: a pure-JVM whole-stage-codegen predicate (element_at + bit mask,
    no join, no Python) drops non-matching lineitem rows AT THE SCAN, before
    the join exchange — the fact shuffle then carries only ~matching rows.
    Bloom false positives (<0.1% here) pass the prefilter but are removed by
    the exact join that follows, so the result is EXACT — the oracle is the
    plain join, no bloom semantics to mirror.

    Reference has no runtime-filter analog (its shuffle always materializes
    every map emission, ``/root/reference/src/worker/worker.cc``); SURVEY
    §2B joins at scale."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey")

    word_rows = (
        dim.select(
            F.explode(
                F.array(
                    *[_bloom_positions(F.col("o_orderkey"), i) for i in range(_BLOOM_K)]
                )
            ).alias("pos")
        )
        # variable-distance shifts only exist in SQL form (the classic
        # F.shiftleft wants a Python int for numBits)
        .selectExpr(
            "pos div 64 AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS m",
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("m"))
        .collect()  # model-side: ≤1024 rows regardless of data scale
    )
    bitmap = [0] * _BLOOM_WORDS
    for r in word_rows:
        bitmap[r["w"]] = r["m"]
    bmp = F.lit(bitmap)

    probed = li.withColumns(
        {f"_p{i}": _bloom_positions(F.col("l_orderkey"), i) for i in range(_BLOOM_K)}
    )
    check = None
    for i in range(_BLOOM_K):
        word = F.element_at(bmp, F.shiftright(f"_p{i}", 6).cast("int") + F.lit(1))
        mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 64 AS INT))")
        c = word.bitwiseAND(mask) != 0
        check = c if check is None else (check & c)
    pre = probed.filter(check).drop(*[f"_p{i}" for i in range(_BLOOM_K)])
    return (
        pre.join(dim, pre.l_orderkey == dim.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(msum2("l_extendedprice * (1 - l_discount)", SPARK)).alias("revenue"),
        )
    )


JOIN_BLOOM_SQL = f"""
SELECT l_returnflag, count(*) AS n_items,
       {msum2("l_extendedprice * (1 - l_discount)", DUCK)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
GROUP BY l_returnflag
"""


def _assign_to_centroids(e: DataFrame, out_col: str = "centroid"):
    """Shared centroid model + Arrow assignment pass (used by
    embedding_kmeans_iterate, kmeans_fit, and dedup_semdedup so the
    quantization constant and argmin tie-break can never diverge between
    them): collect the IVF_K seed vectors, quantize to int64 micro-units,
    and return (C, assign_df_fn) where assign_df_fn(e) maps the corpus to
    (vec_id, <out_col>) by exact squared-L2 argmin (ties to lowest id)."""
    import numpy as np
    import pandas as pd

    _, C, _ = head_vectors(e, IVF_K)

    def assign_df(src: DataFrame, _C=C) -> DataFrame:
        c_sq = np.einsum("ij,ij->i", _C, _C)

        def assign(batches):
            for pdf in batches:
                Xq = quantize(pdf["embedding"])
                d2 = (
                    np.einsum("ij,ij->i", Xq, Xq)[:, None]
                    - 2 * (Xq @ _C.T)
                    + c_sq[None, :]
                )
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].astype("int64"),
                        out_col: np.argmin(d2, axis=1).astype("int32"),
                    }
                )

        return src.mapInPandas(assign, f"vec_id bigint, {out_col} int")

    return C, assign_df


def embedding_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration of k-means over the embedding corpus:
    assign every vector to its nearest of IVF_K deterministic seed
    centroids by QUANTIZED-EXACT squared-L2 (int64: ||x||² − 2x·c + ||c||²,
    ties to the lowest centroid id), then report each cluster's size and
    how far its centroid moved — the convergence signal that drives the
    iterate/stop loop (the full algorithm is this stage repeated; state
    between iterations is the K×dim centroid table, kilobytes).

    Determinism: distances, per-dim component sums, and the rounded
    mean-shift deltas are all int64; only the final sqrt and division
    touch floats, in a fixed order.

    Scale: assignment is ONE Arrow mapInPandas pass against closure-
    broadcast centroids (the IVF pattern); the recompute is a posexplode +
    (centroid, dim) groupBy whose key space is K×dim = 512 — partial
    aggregation collapses every partition to ≤512 rows. Per-iteration cost
    is two linear passes regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C, assign_df = _assign_to_centroids(e)
    assigned = assign_df(e)
    comps = (
        e.join(assigned, "vec_id")
        .selectExpr("centroid", "posexplode(embedding) AS (dim, v)")
        .selectExpr(
            "centroid",
            "dim",
            "CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq",
        )
    )
    dims = comps.groupBy("centroid", "dim").agg(
        F.count("*").alias("n"), F.sum("vq").alias("s")
    )
    old = spark.createDataFrame(
        [(int(cid), int(dim), int(C[cid, dim])) for cid in range(IVF_K) for dim in range(C.shape[1])],
        "centroid int, dim int, oldq bigint",
    )
    merged = dims.join(F.broadcast(old), ["centroid", "dim"]).selectExpr(
        "centroid",
        "n",
        "CAST(floor((CAST(s AS DOUBLE) / n) - oldq + 0.5) AS BIGINT) AS dq",
    )
    return (
        merged.groupBy("centroid")
        .agg(F.max("n").alias("n_assigned"), F.sum(F.col("dq") * F.col("dq")).alias("ss"))
        .selectExpr(
            "CAST(centroid AS INT) AS cluster_id",
            "CAST(n_assigned AS BIGINT) AS n_assigned",
            "floor(sqrt(CAST(ss AS DOUBLE)) / 1000000 * 1000000 + 0.5) / 1000000 AS shift",
        )
    )


EMBEDDING_KMEANS_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings),
cent AS (SELECT vec_id AS cid, xq AS cq FROM q WHERE vec_id < {IVF_K}),
d AS (
  SELECT q.vec_id, c.cid,
         list_sum(list_transform(range(1, len(xq) + 1),
                                 i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS d2
  FROM q, cent c),
best AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM d) t
  WHERE rn = 1),
comps AS (
  SELECT b.cid AS centroid, u.i - 1 AS dim, q.xq[u.i] AS vq
  FROM best b JOIN q ON q.vec_id = b.vec_id,
       unnest(range(1, len(q.xq) + 1)) AS u(i)),
dims AS (
  SELECT centroid, dim, count(*) AS n, sum(vq) AS s FROM comps GROUP BY 1, 2),
old AS (
  SELECT cid AS centroid, u.i - 1 AS dim, cq[u.i] AS oldq
  FROM cent, unnest(range(1, len(cq) + 1)) AS u(i)),
merged AS (
  SELECT d.centroid, d.n,
         CAST(floor((CAST(d.s AS DOUBLE) / d.n) - o.oldq + 0.5) AS BIGINT) AS dq
  FROM dims d JOIN old o ON d.centroid = o.centroid AND d.dim = o.dim)
SELECT CAST(centroid AS INT) AS cluster_id, CAST(max(n) AS BIGINT) AS n_assigned,
       floor(sqrt(CAST(sum(dq * dq) AS DOUBLE)) / 1000000 * 1000000 + 0.5) / 1000000 AS shift
FROM merged GROUP BY centroid
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_kmeans_iterate": QuerySpec(
        embedding_kmeans_iterate, EMBEDDING_KMEANS_SQL, "similarity"
    ),
    "join_salted_skew": QuerySpec(join_salted_skew, JOIN_SALTED_SQL, "join"),
    "join_bloom_prefilter": QuerySpec(join_bloom_prefilter, JOIN_BLOOM_SQL, "join"),
    "ann_lsh_topk": QuerySpec(ann_lsh_topk, ANN_LSH_SQL, "similarity"),
    "ann_ivf_topk": QuerySpec(ann_ivf_topk, _ivf_sql(), "similarity"),
    "ann_ivf_pq_topk": QuerySpec(ann_ivf_pq_topk, _ivf_pq_sql(), "similarity"),
    # the multi-probe recall knob as a first-class oracle-checked entry:
    # each query answers from its TWO nearest centroids' buckets
    "ann_ivf_topk_probe2": QuerySpec(
        lambda spark, sf_dir: ann_ivf_topk(spark, sf_dir, nprobe=2),
        _ivf_sql(nprobe=2),
        "similarity",
    ),
    "ann_pq_topk": QuerySpec(ann_pq_topk, _pq_sql(), "similarity"),
    "salted_token_counts": QuerySpec(salted_token_counts, SALTED_SQL, "aggregation"),
    "sketch_kmv_distinct": QuerySpec(
        sketch_kmv_distinct, _adk_sql(DUCK, "events"), "sketch"
    ),
    "sketch_hll_md5_merge": QuerySpec(
        sketch_hll_md5_merge, _hll_sql(DUCK, "events"), "sketch"
    ),
    "sketch_sample_quantiles": QuerySpec(
        sketch_sample_quantiles, _qsk_sql(DUCK, "orders"), "sketch"
    ),
}


def kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    max_iter: int = 10,
    tol: float = 1e-3,
):
    """Full Lloyd k-means loop over the embedding corpus — the iterative
    driver pattern `embedding_kmeans_iterate` is one stage of: per
    iteration ONE Arrow assignment pass + one 512-key partial-agg
    recompute; the driver touches only the K×dim quantized centroid table
    (≤512 rows — model-side, same contract as the IVF centroid collect)
    and a scalar shift. Stops when the max per-cluster centroid shift
    drops under ``tol`` or after ``max_iter`` rounds.

    Returns (centroids int64 ndarray K×dim, history list of
    (iteration, max_shift, cluster_sizes)). Deterministic end to end:
    int64 distances, int64 mean rounding, ties to the lowest centroid id
    — refitting at any parallelism gives bit-identical centroids.

    At 100 TB: each iteration is two linear passes; centroids ride in the
    task closure; nothing driver-side ever scales with the corpus."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C, assign_df = _assign_to_centroids(e)
    history: list[tuple[int, float, dict[int, int]]] = []

    for it in range(max_iter):
        # this iteration's centroids through the shared assignment pass
        assigned = assign_df(e, C)
        dims = (
            e.join(assigned, "vec_id")
            .selectExpr("centroid", "posexplode(embedding) AS (dim, v)")
            .selectExpr(
                "centroid",
                "dim",
                "CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq",
            )
            .groupBy("centroid", "dim")
            .agg(F.count("*").alias("n"), F.sum("vq").alias("s"))
            .collect()  # ≤ K×dim rows — model-side only
        )
        newC = C.copy()
        sizes: dict[int, int] = {}
        for r in dims:
            newC[r["centroid"], r["dim"]] = int(
                np.floor(r["s"] / r["n"] + 0.5)
            )
            sizes[r["centroid"]] = r["n"]
        shift = float(
            np.sqrt(((newC - C).astype(np.float64) ** 2).sum(axis=1)).max()
        ) / 1_000_000
        history.append((it, shift, sizes))
        C = newC
        if shift < tol:
            break
    return C, history


SEMDEDUP_TAU = 0.35  # same near-dup threshold as the label-blocked variant


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): UNSUPERVISED semantic dedup — cluster
    the embedding corpus with k-means, then within each learned cluster
    mark every vector whose cosine to an earlier cluster-mate reaches
    SEMDEDUP_TAU as a duplicate of the smallest such vec_id. The
    label-blocked `dedup_embedding_cosine` needs labels; this is the
    variant that works on raw web corpora (cluster assignment replaces
    the blocking key).

    Scale: assignment is the one-Arrow-pass IVF pattern; pair scoring is
    one int64 Gram matmul per CLUSTER group (applyInPandas) — at
    production scale k is chosen so corpus/k stays in the thousands
    (SemDeDup's own regime), and an oversize cluster takes the same
    hyperplane sub-blocking used by `blocked_pair_cosines`
    (MAX_BLOCK=4096). The dup arbitration is a partial-aggregated groupBy
    on the pair stream."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _C, assign_df = _assign_to_centroids(e, out_col="cluster")
    assigned = assign_df(e)
    with_vec = e.join(assigned, "vec_id")

    def pairs_in_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        Xq = quantize(pdf["embedding"])
        nrm = l2_norms(Xq)
        cos = (Xq @ Xq.T).astype(np.float64) / (nrm[:, None] * nrm[None, :])
        cos = mround_np(cos, 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= SEMDEDUP_TAU
        return pd.DataFrame(
            {
                "vec_a": ids[iu[keep]],
                "vec_b": ids[ju[keep]],
                "cluster": np.full(int(keep.sum()), int(pdf["cluster"].iloc[0])),
                "cosine": cos[iu, ju][keep],
            }
        )

    pairs = with_vec.groupBy("cluster").applyInPandas(
        pairs_in_cluster, schema="vec_a bigint, vec_b bigint, cluster int, cosine double"
    )
    return pairs.groupBy(F.col("vec_b").alias("dup_id")).agg(
        F.min("vec_a").alias("dup_of"),
        F.min("cluster").alias("cluster"),
        F.count("*").alias("n_matches"),
        F.max("cosine").alias("max_cosine"),
    )


DEDUP_SEMDEDUP_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings),
cent AS (SELECT vec_id AS cid, xq AS cq FROM q WHERE vec_id < {IVF_K}),
d AS (
  SELECT q.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1, len(xq) + 1),
                                      i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d2
  FROM q, cent c),
best AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM d) t
  WHERE rn = 1),
m AS (
  SELECT b.vec_id, b.cid, q.xq,
         sqrt(CAST(list_sum(list_transform(range(1, len(q.xq) + 1),
                                           i -> q.xq[i] * q.xq[i])) AS DOUBLE)) AS nrm
  FROM best b JOIN q ON q.vec_id = b.vec_id),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid AS cluster,
         floor(CAST(list_sum(list_transform(range(1, len(a.xq) + 1),
                                            i -> a.xq[i] * b.xq[i])) AS DOUBLE)
               / (a.nrm * b.nrm) * 1000000 + 0.5) / 1000000 AS cosine
  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id)
SELECT vec_b AS dup_id, min(vec_a) AS dup_of, CAST(min(cluster) AS INT) AS cluster,
       count(*) AS n_matches, max(cosine) AS max_cosine
FROM pairs WHERE cosine >= {SEMDEDUP_TAU}
GROUP BY vec_b
"""


QUERIES["dedup_semdedup"] = QuerySpec(dedup_semdedup, DEDUP_SEMDEDUP_SQL, "dedup")


def embedding_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ reconstruction-distortion audit: per vector, the exact int64
    squared error between the vector and its product-quantized
    reconstruction (same PQ_M x PQ_K codebook and argmin encoding as
    `ann_pq_topk`), plus the relative error sqrt(err)/|v| — the number
    that tells you whether PQ_M/PQ_K are adequate BEFORE you deploy the
    compressed index (the recall loss ann_pq_topk shows is this
    distortion surfacing downstream). Companion of
    `embedding_quantize_int8`'s scalar-quantization audit.

    Determinism: per-subspace min of exact int64 L2² (no tie-break needed
    — only the min enters), one sqrt-ratio division chain at the surface
    (IEEE sqrt is correctly rounded, so both engines agree bit-for-bit).

    Scale: ONE Arrow-batched linear pass with the tiny codebook in the
    closure; no shuffle at all. The audit reads original vectors (it
    measures the encoder), so it runs where vectors already live —
    typically sampled in production; the exact form here is the oracle's
    definition."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dm, subcb, sub_n2 = _pq_codebook(head_vectors(e, PQ_K)[1])

    def dist(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = quantize(pdf["embedding"])
            vn2 = np.einsum("ij,ij->i", V, V)
            err2 = np.zeros(len(V), dtype=np.int64)
            for m in range(PQ_M):
                Vm = V[:, m * dm : (m + 1) * dm]
                d2 = (
                    np.einsum("ij,ij->i", Vm, Vm)[:, None]
                    - 2 * (Vm @ subcb[m].T)
                    + sub_n2[m][None, :]
                )
                err2 += d2.min(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().astype("int64"),
                    "err2": err2,
                    "vn2": vn2,
                }
            )

    out = spread(e, spark).mapInPandas(dist, "vec_id bigint, err2 bigint, vn2 bigint")
    return out.selectExpr(
        "vec_id",
        "err2",
        "vn2",
        mround(
            "CASE WHEN vn2 = 0 THEN CAST(0 AS DOUBLE) "
            "ELSE sqrt(CAST(err2 AS DOUBLE)) / sqrt(CAST(vn2 AS DOUBLE)) END",
            6,
        )
        + " AS rel_err",
    )


def _pq_distortion_sql() -> str:
    dm = 16  # dim 64 / PQ_M 4 — pins the testdata dimensionality like _pq_sql
    d2 = (
        "CAST(list_sum(list_transform(range(1, {dm} + 1), "
        "i -> (v.qe[{off} + i] - cb.cb_qe[{off} + i])"
        " * (v.qe[{off} + i] - cb.cb_qe[{off} + i]))) AS BIGINT)"
    ).format(dm=dm, off=f"s.m * {dm}")
    return f"""
WITH v AS (SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
sub AS (SELECT m FROM (VALUES (0), (1), (2), (3)) t(m)),
cb AS (SELECT vec_id AS c, qe AS cb_qe FROM v WHERE vec_id < {PQ_K}),
dist AS (
  SELECT v.vec_id, s.m, {d2} AS d2
  FROM v CROSS JOIN sub s CROSS JOIN cb),
best AS (SELECT vec_id, m, min(d2) AS md2 FROM dist GROUP BY vec_id, m),
err AS (SELECT vec_id, CAST(sum(md2) AS BIGINT) AS err2 FROM best GROUP BY vec_id),
n2 AS (SELECT vec_id, CAST({_qdot_duck('qe', 'qe')} AS BIGINT) AS vn2 FROM v)
SELECT n2.vec_id, err2, vn2,
       {mround('CASE WHEN vn2 = 0 THEN CAST(0 AS DOUBLE) ELSE sqrt(CAST(err2 AS DOUBLE)) / sqrt(CAST(vn2 AS DOUBLE)) END', 6)}
         AS rel_err
FROM err JOIN n2 ON err.vec_id = n2.vec_id
"""


QUERIES["embedding_pq_distortion"] = QuerySpec(
    embedding_pq_distortion, _pq_distortion_sql(), "similarity"
)


def embedding_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list-balance audit: per centroid, the inverted-list size and its
    load factor n*IVF_K/total (1.0 = perfectly balanced) — the health check
    that decides whether the IVF layout actually bounds probe cost: a hot
    list holding half the corpus means nprobe=1 reads half the corpus, and
    the fix (re-train centroids / split the hot list) happens BEFORE the
    index ships. Same assignment geometry as `ann_ivf_topk`
    (`_ivf_centroid_model` / `_ivf_assign_df` are shared, so the audit can
    never drift from the probe path).

    Scale: one Arrow assignment pass + one IVF_K-group aggregate; the
    centroid list left-joins so an EMPTY list (the other failure mode)
    still reports its zero."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, centroid_ranks = _ivf_centroid_model(e)
    assigned = _ivf_assign_df(spread(e, spark), centroid_ranks)
    per = assigned.groupBy("centroid").agg(F.count("*").alias("n_vecs"))
    cents = spark.range(IVF_K).selectExpr("CAST(id AS INT) AS centroid")
    # total derives from the <=IVF_K-row `per` table — consuming `assigned`
    # a second time would re-run the Arrow assignment pass over the corpus
    # (separate exchanges, so AQE cannot dedupe them)
    tot = per.agg(F.sum("n_vecs").alias("n_total"))
    return (
        cents.join(per, "centroid", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(centroid AS BIGINT) AS centroid",
            "coalesce(n_vecs, CAST(0 AS BIGINT)) AS n_vecs",
            mround(
                f"CAST(coalesce(n_vecs, 0) * {IVF_K} AS DOUBLE) / n_total", 6
            )
            + " AS load_factor",
        )
    )


EMBEDDING_CLUSTER_BALANCE_SQL = f"""
WITH q AS (
  SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
cent AS (SELECT vec_id AS cid, qe AS ce,
                sqrt(CAST({_qdot_duck('qe', 'qe')} AS DOUBLE)) AS cn
         FROM q WHERE vec_id < {IVF_K}),
scored AS (
  SELECT q.vec_id, c.cid,
         CAST({_qdot_duck('q.qe', 'c.ce')} AS DOUBLE)
           / (sqrt(CAST({_qdot_duck('q.qe', 'q.qe')} AS DOUBLE)) * c.cn) AS cos
  FROM q CROSS JOIN cent c),
best AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM scored) t WHERE rn = 1),
per AS (SELECT cid, count(*) AS n_vecs FROM best GROUP BY cid),
tot AS (SELECT count(*) AS n_total FROM best),
cents AS (SELECT unnest(range(0, {IVF_K})) AS cid)
SELECT CAST(cents.cid AS BIGINT) AS centroid,
       CAST(coalesce(n_vecs, 0) AS BIGINT) AS n_vecs,
       {mround(f'CAST(coalesce(n_vecs, 0) * {IVF_K} AS DOUBLE) / n_total', 6)}
         AS load_factor
FROM cents LEFT JOIN per ON per.cid = cents.cid CROSS JOIN tot
"""


QUERIES["embedding_cluster_balance"] = QuerySpec(
    embedding_cluster_balance, EMBEDDING_CLUSTER_BALANCE_SQL, "similarity"
)


# ---------------------------------------------------------------------------
# Count-Min sketch with DETERMINISTIC hashes — the exactly-oracle-checkable
# member of the sketch family (the HLL entries above are approximate by
# construction and carry rows-only checks; CM counters are plain integer
# sums once the hash functions are fixed, so DuckDB reproduces them
# bit-for-bit).
# ---------------------------------------------------------------------------

CM_D = 4  # hash rows
CM_W = 256  # counters per row


def _cm_col_spark(tok: str, r: int) -> str:
    return (
        f"CAST(conv(substring(md5(concat({tok}, '#', '{r}')), 1, 8), 16, 10) "
        f"AS BIGINT) % {CM_W}"
    )


def _cm_col_duck(tok: str, r: int) -> str:
    return (
        f"CAST(('0x' || substring(md5({tok} || '#' || '{r}'), 1, 8)) AS BIGINT) "
        f"% {CM_W}"
    )


def sketch_countmin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream, audited exactly: build
    the CM_D×CM_W counter grid (md5-derived row hashes), then report, for
    the top-10 true-count tokens, the true count, the CM point estimate
    (min over rows of the hashed counter), and the overestimate — which the
    CM guarantee says is ≥ 0 always and ≤ εN with probability 1−δ
    (ε = e/CM_W, δ = e^−CM_D; Cormode & Muthukrishnan '05). Because the
    hashes are deterministic, every counter is an integer sum both engines
    compute identically — this entry is the exact-oracle anchor of the
    sketch family next to the rows-only HLL entries.

    Scale: the counter grid is FIXED-SIZE mergeable state (CM_D·CM_W cells)
    built by one partial-aggregated groupBy — a billion tokens collapse to
    1024 cells before the shuffle, the whole point of CM; the audit joins
    the broadcast top-10 against the broadcast grid."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        f"explode({WORD_TOKENS}) AS tok"
    ).filter("tok != ''")
    cells = (
        toks.selectExpr(
            "explode(array("
            + ", ".join(
                f"named_struct('r', {r}, 'c', {_cm_col_spark('tok', r)})"
                for r in range(CM_D)
            )
            + ")) AS rc"
        )
        .groupBy("rc.r", "rc.c")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "tok")
        .limit(10)
    )
    keys = top.selectExpr(
        "tok",
        "true_cnt",
        "explode(array("
        + ", ".join(
            f"named_struct('r', {r}, 'c', {_cm_col_spark('tok', r)})"
            for r in range(CM_D)
        )
        + ")) AS rc",
    ).selectExpr("tok", "true_cnt", "rc.r AS r", "rc.c AS c")
    return (
        keys.join(F.broadcast(cells), ["r", "c"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("cnt").alias("cm_estimate"))
        .selectExpr("tok", "true_cnt", "cm_estimate", "cm_estimate - true_cnt AS overestimate")
    )


SKETCH_COUNTMIN_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
flt AS (SELECT tok FROM toks WHERE tok != ''),
cells AS (
  SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    {" UNION ALL ".join(f"SELECT {r} AS r, {_cm_col_duck('tok', r)} AS c FROM flt" for r in range(CM_D))}
  ) g GROUP BY r, c),
top AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
  FROM flt GROUP BY tok ORDER BY true_cnt DESC, tok LIMIT 10),
keys AS (
  {" UNION ALL ".join(f"SELECT tok, true_cnt, {r} AS r, {_cm_col_duck('tok', r)} AS c FROM top" for r in range(CM_D))}
)
SELECT tok, true_cnt, CAST(min(cnt) AS BIGINT) AS cm_estimate,
       CAST(min(cnt) - true_cnt AS BIGINT) AS overestimate
FROM keys JOIN cells USING (r, c)
GROUP BY tok, true_cnt
"""


QUERIES["sketch_countmin_exact"] = QuerySpec(
    sketch_countmin_exact, SKETCH_COUNTMIN_SQL, "sketch"
)


# ---------------------------------------------------------------------------
# NDCG ranking-quality eval of the IVF index vs the exact ranking
# ---------------------------------------------------------------------------

# discounts 1/log2(r+1) for ranks 1..TOP_K, precomputed as full-precision
# double literals shared verbatim by both engines (the Benford precedent:
# transcendentals evaluate at CODE GENERATION time, never at query time)
NDCG_DISCOUNTS = tuple(1.0 / __import__("math").log2(r + 1) for r in range(1, 11))
# ideal DCG on the same 1e-9 integer grid the per-term scores use:
# relevance of exact rank i is (TOP_K + 1 - i), its own discount applies
NDCG_IDCG9 = sum(
    int((11 - (i + 1)) * d * 1_000_000_000 + 0.5) for i, d in enumerate(NDCG_DISCOUNTS)
)


def _ndcg_disc_case(rank_col: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {rank_col} = {r + 1} THEN {d!r}"
            for r, d in enumerate(NDCG_DISCOUNTS)
        )
        + " ELSE 0.0 END"
    )


def eval_ndcg_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the IVF(nprobe=1) ranking against the exact cosine
    ranking, per query — the graded ranking metric that complements the
    binary recall checks: a probe that returns the right neighbors in the
    wrong ORDER, or swaps near-ties deep in the list, scores below 1 here
    while recall@k stays perfect. Relevance of a neighbor is its exact-rank
    gain (TOP_K+1 − exact_rank, 0 for non-top-k); discounts 1/log2(r+1)
    are code-generation-time constants (no query-time transcendental).

    Determinism: per-term gain·discount products pre-round to a 1e-9
    integer grid before the per-query sum (integer reduction); the ideal
    DCG is the matching compile-time integer constant; one final division
    + mround.

    Scale: the two rankings are the existing ANN pipelines (each a linear
    Arrow pass + bucket join); the eval itself is a 10-rows-per-query
    left join and a query-keyed integer aggregate."""
    exact = ann_topk_cosine(spark, sf_dir).selectExpr(
        "query_id", "neighbor_id", f"{10 + 1} - rank AS rel"
    )
    approx = ann_ivf_topk(spark, sf_dir)
    return (
        approx.join(exact, ["query_id", "neighbor_id"], "left")
        .selectExpr(
            "query_id",
            "CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END AS hit",
            "CAST(floor(coalesce(rel, 0) * ("
            + _ndcg_disc_case("rank")
            + ") * 1000000000 + 0.5) AS BIGINT) AS t9",
        )
        .groupBy("query_id")
        .agg(F.sum("hit").alias("n_exact_hits"), F.sum("t9").alias("dcg9"))
        .selectExpr(
            "query_id",
            "n_exact_hits",
            mround("CAST(dcg9 AS DOUBLE) / 1000000000", 6) + " AS dcg",
            mround(f"CAST(dcg9 AS DOUBLE) / {NDCG_IDCG9}", 6) + " AS ndcg",
        )
    )


EVAL_NDCG_SQL = f"""
WITH exact AS (
  SELECT query_id, neighbor_id, 11 - rank AS rel
  FROM ({_ann_topk_sql()}) t),
approx AS (SELECT * FROM ({_ivf_sql()}) t)
SELECT a.query_id,
       CAST(sum(CASE WHEN e.rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
       {mround("CAST(sum(CAST(floor(coalesce(e.rel, 0) * (" + _ndcg_disc_case("a.rank") + ") * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000", 6)} AS dcg,
       {mround("CAST(sum(CAST(floor(coalesce(e.rel, 0) * (" + _ndcg_disc_case("a.rank") + ") * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE) / " + str(NDCG_IDCG9), 6)} AS ndcg
FROM approx a
LEFT JOIN exact e ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY a.query_id
"""


QUERIES["eval_ndcg_ivf"] = QuerySpec(eval_ndcg_ivf, EVAL_NDCG_SQL, "similarity")


def eval_rank_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau@10 between the IVF(nprobe=1) ranking and the exact
    cosine ranking, per query — the pairwise-order metric next to
    eval_ndcg_ivf's graded-gain one: tau counts how many of the C(m,2)
    pairs among the COMMON retrieved items the approximate index orders
    the same way as exact search (+1 identical order, −1 reversed). NDCG
    rewards getting high-gain items near the top; tau penalizes every
    inversion equally — a probe that swaps near-ties deep in the list
    shows here first.

    Exactness: both ranks are integers, concordance is integer sign
    agreement, tau is one rational (conc − disc)/C(m,2) — no float until
    the final mround. Ranks within a query are distinct by construction
    (row_number), so no tie terms exist.

    Scale: the two rankings are the existing linear ANN pipelines; the
    common list is localCheckpointed ONCE (≤ TOP_K rows per query — model-
    side state, the BFS/kcore precedent) so the pair self-join neither
    re-executes the ANN lineage nor exceeds C(TOP_K, 2) rows per query —
    bounded by the FIXED k, not the corpus."""
    exact = ann_topk_cosine(spark, sf_dir).selectExpr(
        "query_id", "neighbor_id", "rank AS e_rank"
    )
    approx = ann_ivf_topk(spark, sf_dir).selectExpr(
        "query_id", "neighbor_id", "rank AS a_rank"
    )
    common = approx.join(exact, ["query_id", "neighbor_id"]).localCheckpoint()
    m = common.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_common")
    )
    a = common.selectExpr("query_id", "a_rank AS a1", "e_rank AS e1")
    b = common.selectExpr("query_id AS qb", "a_rank AS a2", "e_rank AS e2")
    pairs = a.join(b, F.expr("query_id = qb AND a1 < a2"))
    cd = pairs.groupBy("query_id").agg(
        F.sum(F.expr("CASE WHEN e1 < e2 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.expr("CASE WHEN e1 > e2 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("discordant"),
    )
    return (
        m.join(cd, "query_id", "left")
        .selectExpr(
            "query_id",
            "n_common",
            "CAST(coalesce(concordant, 0) AS BIGINT) AS concordant",
            "CAST(coalesce(discordant, 0) AS BIGINT) AS discordant",
            "CASE WHEN n_common < 2 THEN NULL ELSE "
            + mround(
                "CAST(coalesce(concordant, 0) - coalesce(discordant, 0)"
                " AS DOUBLE) / (n_common * (n_common - 1) / 2)",
                6,
            )
            + " END AS tau",
        )
    )


def _kendall_sql() -> str:
    return f"""
WITH exact AS (
  SELECT query_id, neighbor_id, rank AS e_rank FROM ({_ann_topk_sql()}) t),
approx AS (
  SELECT query_id, neighbor_id, rank AS a_rank FROM ({_ivf_sql()}) t),
common AS (
  SELECT a.query_id, a.neighbor_id, a.a_rank, e.e_rank
  FROM approx a JOIN exact e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id),
m AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_common
      FROM common GROUP BY query_id),
cd AS (
  SELECT p.query_id,
         CAST(sum(CASE WHEN p.e_rank < q.e_rank THEN 1 ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(sum(CASE WHEN p.e_rank > q.e_rank THEN 1 ELSE 0 END) AS BIGINT)
           AS discordant
  FROM common p JOIN common q
    ON p.query_id = q.query_id AND p.a_rank < q.a_rank
  GROUP BY p.query_id)
SELECT m.query_id, m.n_common,
       CAST(coalesce(cd.concordant, 0) AS BIGINT) AS concordant,
       CAST(coalesce(cd.discordant, 0) AS BIGINT) AS discordant,
       CASE WHEN m.n_common < 2 THEN NULL ELSE
         {mround("CAST(coalesce(cd.concordant, 0) - coalesce(cd.discordant, 0) AS DOUBLE) / (m.n_common * (m.n_common - 1) / 2)", 6)}
       END AS tau
FROM m LEFT JOIN cd ON m.query_id = cd.query_id
"""


EVAL_KENDALL_SQL = _kendall_sql()

QUERIES["eval_rank_kendall"] = QuerySpec(
    eval_rank_kendall, EVAL_KENDALL_SQL, "similarity"
)


# ---------------------------------------------------------------------------
# Bloom-filter false-positive-rate audit — round 9
# ---------------------------------------------------------------------------
#
# The sketch family's measured-vs-theory calibration entry (the
# dedup_lsh_scurve pattern applied to membership): build a Bloom filter over
# the order keys from first principles (md5-derived positions — exact on
# both engines), probe it with keys known to be absent, and report the
# MEASURED false-positive rate against the fill-ratio theory value.

BLOOM_K = 7  # hash functions (~optimal for the 10-bits/key sizing below)
BLOOM_BITS_PER_KEY = 10
# Probe keys are o_orderkey + probe_off with probe_off = max(o_orderkey) + 1
# derived IN-PLAN (broadcast alongside the sizing row) — a fixed 1e9 constant
# is only "provably absent" while max(o_orderkey) < 1e9, which TPC-H breaks
# around SF ~165; past that the probes collide with inserted keys and the
# measured FPR counts true members (r09 ADVICE). The derived offset keeps
# every probe strictly greater than every inserted key at ANY scale.


def _bloom_m_expr(dialect: str, n: str) -> str:
    """Filter size m = the smallest power of two >= 10 * n_keys, derived in
    INTEGER arithmetic (binary bit width of 10n - 1) on both engines — a
    ceil(log2()) here would put a 1-ulp transcendental inside a branch
    (Spark's Math.log vs libm could flip the ceil), so it never enters.
    One dialect split: Spark spells the shift shiftleft(), DuckDB 1.0 only
    has the << operator."""
    w = f"length(bin({BLOOM_BITS_PER_KEY} * {n} - 1))"
    if dialect == SPARK:
        return f"shiftleft(CAST(1 AS BIGINT), {w})"
    return f"(CAST(1 AS BIGINT) << {w})"


def _bloom_h12(dialect: str, key_expr: str) -> list[str]:
    """ONE md5 per key, split into the two independent 60-bit halves of the
    Kirsch-Mitzenmacher double-hashing construction (pos_j = h1 + j*h2 mod
    m) — the per-replicate-hash lesson from agg_permutation_test (29.6s ->
    1.8s there): hashing is the dominant cost, so consume the digest's
    bits instead of hashing k times. h2 is forced odd so the stride never
    degenerates to 0 mod a power-of-two m."""
    if dialect == SPARK:
        d = f"md5(concat('bf:', CAST({key_expr} AS STRING)))"
        h1 = f"CAST(conv(substring({d}, 1, 15), 16, 10) AS BIGINT)"
        h2 = f"CAST(conv(substring({d}, 16, 15), 16, 10) AS BIGINT)"
    else:
        d = f"md5('bf:' || CAST({key_expr} AS VARCHAR))"
        h1 = f"CAST(('0x' || substring({d}, 1, 15)) AS BIGINT)"
        h2 = f"CAST(('0x' || substring({d}, 16, 15)) AS BIGINT)"
    return [f"({h1} % m) AS h1", f"(({h2} % m) | 1) AS h2"]


# position j from the two halves: exact int64 (h1, j*h2 < 2^21 * 7 * 2^21
# never approaches the cap because both are already reduced mod m)
_BLOOM_POS_J = "((h1 + j * h2) % m)"


def sketch_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter FPR audit: insert every o_orderkey into a k = 7-hash
    Bloom filter sized IN-PLAN at 10 bits/key rounded up to a power of two
    (integer bit-width arithmetic, no transcendental — so the same m falls
    out on both engines at every SF, and the audit stays non-degenerate as
    the data scales instead of saturating or starving a fixed m), probe
    with the shifted key set (o_orderkey + max(o_orderkey) + 1 — the offset
    is derived in-plan so every probe exceeds every inserted key at any SF,
    i.e. provably absent), and
    report bits set, fill ratio, measured FPR, and the theory value
    fill_ratio^k — written as seven explicit multiplications so no pow()
    enters the compare path. The audit a capacity planner runs before
    sizing `join_bloom_prefilter`-style pre-filters.

    Scale: inserts explode to n*k (key, j) position rows that COLLAPSE
    map-side into the <= m distinct-bit set (bounded by the filter, not the
    data); probes explode the same way and join the bit set on the position
    integer — one bounded-key shuffle each; a probe passes iff all k of its
    positions hit (count = k). The 1-row (n, m) sizing aggregate broadcasts
    over both sides; nothing driver-side — the filter never leaves the
    executors."""
    # spread: the md5-per-key hashing + k-position explode are the entry's
    # CPU, and the local single-row-group scan otherwise runs them on ONE
    # core (the eval_mrr/text-entropy r11 lesson — no-op at production
    # split counts)
    o = spread(load_table(spark, sf_dir, "orders").select("o_orderkey"), spark)
    # the sizing row and the built filter are each consumed by multiple
    # branches — materialize both (a real Bloom build materializes the
    # filter by definition; without this the insert explode runs twice and
    # the count aggregate three times: 15 Exchanges, measured)
    size_row = (
        o.agg(
            F.count("*").cast("bigint").alias("n_keys"),
            (F.max("o_orderkey") + F.lit(1)).cast("bigint").alias("probe_off"),
        )
        .selectExpr("n_keys", "probe_off", f"{_bloom_m_expr(SPARK, 'n_keys')} AS m")
        .localCheckpoint()
    )
    jseq = f"explode(sequence(0, {BLOOM_K - 1})) AS j"
    keyed = o.crossJoin(F.broadcast(size_row))
    # the filter is materialized as 64-bit WORDS, not a distinct position
    # set: bit_or collapses the n*k insert positions map-side onto m/64
    # mask rows (idempotent, so no distinct exchange), the probe join's
    # build side shrinks 64x, and n_bits_set is a popcount fold — the
    # same filter, stored the way a real Bloom filter stores it
    words = (
        keyed.selectExpr("m", *_bloom_h12(SPARK, "o_orderkey"))
        .selectExpr("m", "h1", "h2", jseq)
        .selectExpr(f"{_BLOOM_POS_J} AS pos")
        .selectExpr(
            "pos div 64 AS widx",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS b",
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(b)").alias("mask"))
        .localCheckpoint()
    )
    probes = (
        keyed.selectExpr("o_orderkey + probe_off AS pk", "m")
        .selectExpr("pk", "m", *_bloom_h12(SPARK, "pk"))
        .selectExpr("pk", "m", "h1", "h2", jseq)
        .selectExpr("pk", f"{_BLOOM_POS_J} AS pos")
        .selectExpr("pk", "pos div 64 AS widx", "CAST(pos % 64 AS INT) AS bit")
    )
    hits = (
        probes.join(words, "widx")
        # arithmetic shift keeps bit `bit` intact for any sign of mask
        .filter("(shiftright(mask, bit) & 1) = 1")
        .groupBy("pk")
        .agg(F.count("*").cast("bigint").alias("h"))
        .filter(f"h = {BLOOM_K}")
        .agg(F.count("*").cast("bigint").alias("n_fp"))
    )
    stats = size_row.crossJoin(
        F.broadcast(
            words.agg(
                F.sum(F.expr("bit_count(mask)")).cast("bigint").alias("n_bits_set")
            )
        )
    )
    return stats.crossJoin(F.broadcast(hits)).selectExpr(*_bloom_out_exprs())


def _bloom_out_exprs() -> list[str]:
    r = "(CAST(n_bits_set AS DOUBLE) / m)"
    r7 = " * ".join([r] * BLOOM_K)
    return [
        "n_keys",
        "CAST(m AS BIGINT) AS m_bits",
        f"CAST({BLOOM_K} AS BIGINT) AS k_hashes",
        "n_bits_set",
        mround(r, 6) + " AS fill_ratio",
        "n_keys AS n_probes",
        "n_fp AS n_false_positives",
        mround("CAST(n_fp AS DOUBLE) / n_keys", 6) + " AS fpr_measured",
        mround(r7, 6) + " AS fpr_theory",
    ]


def _bloom_sql() -> str:
    h12_ins = ", ".join(_bloom_h12(DUCK, "o_orderkey"))
    h12_probe = ", ".join(_bloom_h12(DUCK, "pk"))
    return f"""
WITH ks AS (SELECT o_orderkey FROM orders),
size_row AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(o_orderkey) + 1 AS BIGINT) AS probe_off,
         {_bloom_m_expr(DUCK, "CAST(count(*) AS BIGINT)")} AS m
  FROM ks),
ins AS (
  SELECT DISTINCT {_BLOOM_POS_J} AS pos
  FROM (SELECT m, {h12_ins} FROM ks CROSS JOIN size_row) h,
       unnest(range(0, {BLOOM_K})) AS u(j)),
probes AS (
  SELECT pk, {_BLOOM_POS_J} AS pos
  FROM (SELECT pk, m, {h12_probe}
        FROM (SELECT o_orderkey + probe_off AS pk, m
              FROM ks CROSS JOIN size_row) p) h,
       unnest(range(0, {BLOOM_K})) AS u(j)),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fp FROM (
    SELECT pk FROM probes JOIN ins USING (pos)
    GROUP BY pk HAVING count(*) = {BLOOM_K}) t),
stats AS (
  SELECT n_keys, m,
         (SELECT CAST(count(*) AS BIGINT) FROM ins) AS n_bits_set,
         n_fp
  FROM size_row CROSS JOIN fp)
SELECT {", ".join(_bloom_out_exprs())} FROM stats
"""


QUERIES["sketch_bloom_fpr_audit"] = QuerySpec(
    sketch_bloom_fpr_audit, _bloom_sql(), "sketch"
)


# ---------------------------------------------------------------------------
# K-minimum-values Jaccard sketch, measured vs exact — round 10
# ---------------------------------------------------------------------------
#
# The set-similarity member of the sketch calibration family (HLL merge =
# cardinality, Bloom = membership, count-min = frequency, KMV = SIMILARITY):
# keep each source's k smallest md5 values over its 3-token shingle set;
# for a pair, the fraction of the k smallest values of the sketch UNION
# that appear in BOTH sketches is an unbiased Jaccard estimate (Beyer et
# al. 2007). The audit reports estimate vs exact per source pair — the
# calibration read that sizes k before anyone trusts KMV at 100 TB (where
# the exact join is the thing being avoided).

KMV_K = 64


def _kmv_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (source, shingle-hash) pairs — shingles because the
    fixture's whitespace vocabulary saturates at 31 types (probed; the
    text_heaps_law_fit lesson) while shingle sets are thousands per
    source."""
    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"), spark)
    # the token ARRAY is projected ONCE before the explode: referencing
    # split() inside the transform lambda re-evaluates it per element —
    # O(tokens^2) per document, measured as ~4.5s of the entry's cost at
    # sf0.1 before this projection; spread() fans the single-row-group scan
    # across the cluster first (r11)
    sh = (
        d.selectExpr("source", f"{WORD_TOKENS} AS ts")
        .filter("size(ts) >= 3")
        .selectExpr(
            "source",
            "explode(transform(sequence(1, size(ts) - 2),"
            " i -> concat_ws(' ', slice(ts, i, 3)))) AS s",
        )
        .distinct()
    )
    return sh.selectExpr(
        "source",
        "s",
        "CAST(conv(substring(md5(concat('kmv:', s)), 1, 15), 16, 10)"
        " AS BIGINT) AS h",
    )


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source pair (a < b): exact shingle-set Jaccard, the KMV-64
    estimate, and the absolute error. Estimate = among the k smallest
    hash values of sketch(a) UNION sketch(b), the fraction present in
    both sketches (k capped by the union-sketch size).

    Determinism: md5-derived integer hashes; sketches are row_number <= k
    over the (h) total order (md5 collisions on 60 bits are ~impossible at
    any SF, and a collision would affect both engines identically); the
    estimate is one exact integer division presented at 1e-6.

    Scale: sketches are k-row tables per source — the pair stage joins
    2k-row sets, NEVER the shingle tables; only the exact-Jaccard audit
    column touches the full distinct-shingle table (one self-join on the
    shingle key — the cost KMV exists to avoid, present here solely as
    the calibration truth)."""
    hs = _kmv_shingles(spark, sf_dir).localCheckpoint()
    from pyspark.sql import Window

    wk = Window.partitionBy("source").orderBy("h")
    sk = (
        hs.select("source", "h")
        .withColumn("rn", F.row_number().over(wk))
        .filter(f"rn <= {KMV_K}")
        .select("source", "h")
    ).localCheckpoint()
    # exact Jaccard per pair from the full distinct-shingle table
    sizes = hs.groupBy("source").agg(F.count("*").cast("bigint").alias("sz"))
    inter = (
        hs.selectExpr("source AS sa", "s")
        .join(hs.selectExpr("source AS sb", "s"), "s")
        .filter("sa < sb")
        .groupBy("sa", "sb")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    exact = (
        inter.join(F.broadcast(sizes.selectExpr("source AS sa", "sz AS za")), "sa")
        .join(F.broadcast(sizes.selectExpr("source AS sb", "sz AS zb")), "sb")
        .selectExpr(
            "sa", "sb", "n_inter",
            "za + zb - n_inter AS n_union",
        )
    )
    # KMV estimate per pair from the k-row sketches only
    ska = sk.selectExpr("source AS sa", "h")
    skb = sk.selectExpr("source AS sb", "h")
    merged = (
        ska.crossJoin(skb.select("sb").distinct())
        .filter("sa < sb")
        .selectExpr("sa", "sb", "h")
        .unionAll(
            skb.crossJoin(ska.select("sa").distinct())
            .filter("sa < sb")
            .selectExpr("sa", "sb", "h")
        )
        .groupBy("sa", "sb", "h")
        .agg(F.count("*").alias("n_sk"))
        .selectExpr(
            "sa", "sb", "h",
            "CASE WHEN n_sk = 2 THEN 1 ELSE 0 END AS in_both",
        )
    )
    wp = Window.partitionBy("sa", "sb").orderBy("h")
    est = (
        merged.withColumn("rn", F.row_number().over(wp))
        .filter(f"rn <= {KMV_K}")
        .groupBy("sa", "sb")
        .agg(
            F.count("*").cast("bigint").alias("k_used"),
            F.sum("in_both").cast("bigint").alias("n_both"),
        )
    )
    j = "(CAST(n_inter AS DOUBLE) / n_union)"
    je = "(CAST(n_both AS DOUBLE) / k_used)"
    return exact.join(est, ["sa", "sb"]).selectExpr(
        "sa AS source_a",
        "sb AS source_b",
        "k_used",
        mround(j, 6) + " AS j_exact",
        mround(je, 6) + " AS j_kmv",
        mround(f"abs(({j}) - ({je}))", 6) + " AS abs_err",
    )


def _kmv_sql() -> str:
    j = "(CAST(n_inter AS DOUBLE) / n_union)"
    je = "(CAST(n_both AS DOUBLE) / k_used)"
    return rf"""
WITH tl AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents),
hs AS (
  SELECT DISTINCT source, s,
         CAST(('0x' || substring(md5('kmv:' || s), 1, 15)) AS BIGINT) AS h
  FROM (SELECT source, ts[u.i] || ' ' || ts[u.i + 1] || ' ' || ts[u.i + 2] AS s
        FROM tl, unnest(range(1, len(ts) - 1)) AS u(i)) t),
sk AS (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hs) t WHERE rn <= {KMV_K}),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM hs GROUP BY source),
inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS n_inter
  FROM hs a JOIN hs b ON a.s = b.s AND a.source < b.source
  GROUP BY a.source, b.source),
exact AS (
  SELECT sa, sb, n_inter, za.sz + zb.sz - n_inter AS n_union
  FROM inter
  JOIN sizes za ON za.source = inter.sa
  JOIN sizes zb ON zb.source = inter.sb),
merged AS (
  SELECT sa, sb, h, CASE WHEN count(*) = 2 THEN 1 ELSE 0 END AS in_both
  FROM (
    SELECT a.source AS sa, p.sb, a.h FROM sk a
    CROSS JOIN (SELECT DISTINCT source AS sb FROM sk) p WHERE a.source < p.sb
    UNION ALL
    SELECT p.sa, b.source AS sb, b.h FROM sk b
    CROSS JOIN (SELECT DISTINCT source AS sa FROM sk) p WHERE p.sa < b.source)
  GROUP BY sa, sb, h),
est AS (
  SELECT sa, sb, CAST(count(*) AS BIGINT) AS k_used,
         CAST(sum(in_both) AS BIGINT) AS n_both
  FROM (
    SELECT sa, sb, h, in_both,
           row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM merged) t
  WHERE rn <= {KMV_K}
  GROUP BY sa, sb)
SELECT sa AS source_a, sb AS source_b, k_used,
       {mround(j, 6)} AS j_exact,
       {mround(je, 6)} AS j_kmv,
       {mround(f"abs(({j}) - ({je}))", 6)} AS abs_err
FROM exact JOIN est USING (sa, sb)
"""


QUERIES["sketch_kmv_jaccard"] = QuerySpec(
    sketch_kmv_jaccard, _kmv_sql(), "sketch"
)
