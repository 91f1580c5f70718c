"""Deduplication operators over ``documents``: exact, MinHash+LSH banding,
SimHash, n-gram Jaccard. North-star LLM-pipeline additions (absent in the
reference, whose surface is ``mrf.h:9-11``).

Design for oracle parity AND scale:

- All hashing is derived from ``md5`` (identical in Spark and DuckDB), mapped
  to integers via the first 15 hex chars (60 bits, fits BIGINT): Spark
  ``conv(substr(md5(s),1,15),16,10)``, DuckDB ``('0x'||substr)::BIGINT``.
  MinHash permutations are affine maps mod 1e9+7 in exact int64 arithmetic —
  bit-identical across engines, no float drift.
- Everything is expression-only (explode/groupBy/join); no Python UDFs. At
  100 TB the shingle explode is a map-side op feeding a partial-aggregated
  groupBy; the LSH band join shuffles only (band_id, band_key) pairs — the
  classic scalable near-dup pipeline (shingle→minhash→band→bucket-join).
- Exact pairwise Jaccard (the verifier) runs ONLY on LSH candidates, never
  all-pairs; ``dedup_ngram_jaccard`` demonstrates the blocked all-pairs
  variant with a blocking key to bound the quadratic term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tmapreduce_spark.catalog import QuerySpec
from tmapreduce_spark.parity import WORD_TOKENS, mround
from tmapreduce_spark.sources.catalog import load_table, spread

# MinHash parameters: NUM_PERMS affine permutations h_i(x) = (a_i*x + b_i) % P
# over the md5-derived shingle hash, banded into bands of BAND_R rows.
P = 1_000_000_007
NUM_PERMS = 16
BAND_R = 4
PERM_A = [(17 * (i + 1) * 1_000_003 + 7919 * i + 1) % P for i in range(NUM_PERMS)]
PERM_B = [(31 * (i + 1) * 999_983 + 104729 * i + 3) % P for i in range(NUM_PERMS)]

# Spark-side md5→int60 for an expression `e`; DuckDB twin below.
def _pairs_expr(col: str, a_name: str = "doc_a", b_name: str = "doc_b") -> str:
    """In-group ordered-pair fan-out WITHOUT a self-join: every unordered
    pair of the array emitted exactly once via the a < b filter — the
    shared pattern behind the minhash pair join, the jaccard candidate
    intersections, and the cross-source matrix (span dedup carries extra
    positional fields and keeps its own variant)."""
    return (
        f"filter(flatten(transform({col}, a -> transform({col}, "
        f"b -> struct(a AS {a_name}, b AS {b_name})))), "
        f"p -> p.{a_name} < p.{b_name})"
    )


def _h60_spark(e: str) -> str:
    return f"CAST(conv(substring(md5({e}), 1, 15), 16, 10) AS BIGINT)"


def _h60_duck(e: str) -> str:
    return f"CAST(('0x' || substring(md5({e}), 1, 15)) AS BIGINT)"


# token 3-gram shingles of the lowercased text. The Spark form is built over
# a pre-materialized `toks` array column (see _shingle_rows): referencing the
# split() result via a column means it is computed ONCE per document — inlining
# split() into the lambda would re-tokenize the document for every shingle
# index (measured ~2x on the minhash pipeline).
#
# Validity is decided ONCE per document from size(toks) instead of per shingle:
# elements of WORD_TOKENS (parity.py) are non-empty and contain no
# whitespace (trim kills the leading empty, \\s+ forbids interior/trailing
# ones), so when size(toks) >= 3 EVERY window i in [0, size-3] renders as
# exactly 'x y z' (3 parts, non-empty) and the old per-shingle re-split filter
# (size(split(s, ' ')) = 3) accepted it; when size(toks) < 3 (or toks is NULL)
# the single degenerate window concat_ws'd to < 3 parts and was rejected. The
# per-shingle regex split this replaces was the dominant non-hash cost of the
# shingle substrate (guide §1.2: per-task work after the shape is right).
#
# The outer coalesce() is LOAD-BEARING for the plan, not the value: the CASE
# alone is statically nullable (its THEN branch inherits toks' nullability)
# though it never evaluates to NULL (NULL toks takes the ELSE arm), and a
# consumer that filters on null-intolerant arithmetic over size(<this>) —
# dedup_ngram_jaccard's sz_a + sz_b - icnt — makes Catalyst infer an
# isnotnull(size(<this>)) constraint and push it into the scan Filter with
# the toks alias INLINED, so every toks[i] access re-runs split(): the
# pushed filter re-tokenizes per shingle index, O(tokens^2) per document
# (measured 11x on dedup_ngram_jaccard at sf0.1). coalesce with an array()
# literal makes the expression statically non-nullable, so the constraint
# is never inferred and the filter never materializes; the value is
# bit-identical because the CASE is dynamically never NULL.
_SHINGLES_SPARK_TOKS = """
coalesce(
  CASE WHEN size(toks) >= 3
       THEN transform(sequence(0, size(toks) - 3),
                      i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))
       ELSE CAST(array() AS ARRAY<STRING>) END,
  CAST(array() AS ARRAY<STRING>))
"""


def _shingle_rows(
    spark: SparkSession,
    sf_dir: str,
    with_source: bool = False,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """One row per (doc_id, distinct shingle): tokenize once per document,
    then explode the 3-gram array. The compact (id, text) rows spread
    across the cluster BEFORE the CPU-amplifying shingle explode (no-op on
    well-partitioned production inputs, see `spread`).

    ``doc_filter`` (a one-column doc_id DataFrame) restricts the scan to
    those documents via a broadcast semi-join BEFORE tokenization — shingle
    output per doc is doc-local, so the retained rows are bit-identical to
    the unfiltered run's (consumers that inner-join on those ids downstream
    get the same result for a fraction of the tokenize/shingle cost)."""
    d = load_table(spark, sf_dir, "documents")
    cols = ["doc_id"] + (["source"] if with_source else [])
    if doc_filter is not None:
        d = d.join(F.broadcast(doc_filter.select("doc_id")), "doc_id")
    d = spread(d.select(*cols, "text"), spark, "doc_id")
    toks = d.selectExpr(*cols, f"{WORD_TOKENS} AS toks")
    return toks.selectExpr(
        *cols, f"explode(array_distinct({_SHINGLES_SPARK_TOKS})) AS sh"
    )

_SHINGLES_DUCK = r"""
list_filter(
  list_transform(range(0, greatest(len(string_split_regex(trim(lower(text)), '\s+')) - 2, 1)),
                 i -> string_split_regex(trim(lower(text)), '\s+')[i + 1] || ' ' ||
                      string_split_regex(trim(lower(text)), '\s+')[i + 2] || ' ' ||
                      string_split_regex(trim(lower(text)), '\s+')[i + 3]),
  s -> s IS NOT NULL AND s <> '' AND len(string_split(s, ' ')) = 3)
"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups by content hash: keeper = min doc_id, n_copies.
    The hash-groupBy dedup — one shuffle on the content hash; at 100 TB hash
    first (md5 is 16 bytes) so the shuffle never carries document bodies."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_EXACT_GROUPS_SQL = """
SELECT md5(text) AS content_md5,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: keep the lowest doc_id per distinct
    text (dropDuplicates with a deterministic keeper)."""
    d = load_table(spark, sf_dir, "documents")
    # group on the 16-byte content hash, not the raw text: the shuffle (and
    # the map-side partial aggregate) carries (hash, id, len) instead of
    # document bodies — the same hash-first discipline as dedup_exact_groups
    return (
        d.select("doc_id", F.md5("text").alias("h"), F.length("text").alias("ln"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.min("ln").alias("text_len"))
        .select("doc_id", "text_len")
    )


DEDUP_EXACT_KEEP_SQL = """
SELECT min(doc_id) AS doc_id, CAST(length(text) AS BIGINT) AS text_len
FROM documents
GROUP BY text
"""


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding + verified near-dup pairs
# ---------------------------------------------------------------------------

def _exploded_shingle_hashes(
    spark: SparkSession, sf_dir: str, doc_filter: DataFrame | None = None
) -> DataFrame:
    return _shingle_rows(spark, sf_dir, doc_filter=doc_filter).selectExpr(
        "doc_id", f"pmod({_h60_spark('sh')}, {P}) AS h"
    )


def _minhash_wide(
    spark: SparkSession, sf_dir: str, doc_filter: DataFrame | None = None
) -> DataFrame:
    """Wide signature: one row per doc, NUM_PERMS min columns (m0..m15).

    The NUM_PERMS minimum aggregates run as ONE map-side partial aggregation
    over the (doc_id, shingle_hash) rows — nothing is exploded per
    permutation, and the shuffle carries only 5k-rows × 16 columns of partial
    minima instead of docs × shingles × perms rows. This is the shape that
    survives a 100 TB corpus."""
    hashes = _exploded_shingle_hashes(spark, sf_dir, doc_filter=doc_filter)
    return hashes.groupBy("doc_id").agg(
        *[
            F.expr(f"min(pmod({PERM_A[i]}L * h + {PERM_B[i]}L, {P}))").alias(f"m{i}")
            for i in range(NUM_PERMS)
        ]
    )


def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures, tall format: (doc_id, perm_id, min_hash) — the
    wide signature unpivoted with stack()."""
    wide = _minhash_wide(spark, sf_dir)
    stack = ", ".join(f"{i}, m{i}" for i in range(NUM_PERMS))
    return wide.selectExpr(
        "doc_id", f"stack({NUM_PERMS}, {stack}) AS (perm_id, min_hash)"
    )


def _minhash_sql_core() -> str:
    perms = ", ".join(
        f"({i}, {PERM_A[i]}, {PERM_B[i]})" for i in range(NUM_PERMS)
    )
    return f"""
WITH shingles AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_DUCK})) AS shingle
  FROM documents),
hashes AS (
  SELECT doc_id, {_h60_duck('shingle')} % {P} AS h FROM shingles),
perms(perm_id, a, b) AS (VALUES {perms}),
sig AS (
  SELECT doc_id, perm_id, min((a * h + b) % {P}) AS min_hash
  FROM hashes CROSS JOIN perms
  GROUP BY doc_id, perm_id)
"""


DEDUP_MINHASH_SIG_SQL = _minhash_sql_core() + """
SELECT doc_id, CAST(perm_id AS INTEGER) AS perm_id, min_hash FROM sig
"""


def _minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct LSH candidate pairs (band collision, pre-verification):
    band keys straight from the ordered wide signature columns (no
    collect_list/sort), in-group pair generation per (band_id, band_key).
    Factored out of `dedup_minhash_pairs` so consumers that only need the
    candidate SET (`dedup_methods_overlap`'s flag audit — the sets join
    never filters rows, every candidate doc has a shingle set) skip the
    document re-tokenization the exact-Jaccard verify pays."""
    return (
        _minhash_band_docs(spark, sf_dir)
        .select(F.explode(F.expr(_pairs_expr("docs"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _minhash_band_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(band_id, band_key, docs) for every band bucket holding >= 2 docs —
    the single definition of the MinHash band geometry, shared by the pair
    generator and the flag-set audit."""
    wide = _minhash_wide(spark, sf_dir)
    band_structs = ", ".join(
        "named_struct('band_id', {b}, 'band_key', md5(concat_ws(',', {cols})))".format(
            b=b,
            cols=", ".join(f"m{i}" for i in range(b * BAND_R, (b + 1) * BAND_R)),
        )
        for b in range(NUM_PERMS // BAND_R)
    )
    bands = wide.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bs"
    ).selectExpr("doc_id", "bs.band_id AS band_id", "bs.band_key AS band_key")
    return (
        bands.groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("docs"))
        .filter(F.size("docs") >= 2)
    )


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs + exact Jaccard verification.

    Pipeline: signature -> band keys (md5 of the band's ordered minhashes) ->
    in-group pair generation per (band_id, band_key) -> distinct candidate
    pairs -> verify with exact shingle-set Jaccard. Only candidates pay the
    verification cost; the band shuffle carries 16-byte keys, not documents.

    Plan economy (this was a 2.3 s -> ~1 s rewrite at sf0.1): the r02 shape
    (band self-join + shingle-row equi-join + zero-overlap restore join) ran
    the signature aggregation 4x and scanned documents 8x with zero exchange
    reuse. Now pairs are generated IN-GROUP from one band aggregation (the
    same no-self-join pattern as ``dedup_span_exact``; a band key shared by k
    docs emits k(k-1)/2 pairs either way, so the fan-out is unchanged), and
    verification joins each candidate side once against a row-local per-doc
    shingle array (zero-shuffle to build; array_intersect per CANDIDATE pair
    only — the all-pairs entries must stay relational, but LSH has already
    pruned to near-dup candidates here, and one array op per candidate beats
    re-exploding the corpus).

    Verify cost is proportional to CANDIDATES, not corpus (guide §8 "decide
    with small rows"): the candidate pairs are localCheckpointed once (tiny —
    LSH has already pruned), their doc ids broadcast back into the documents
    scan, and the exact shingle SETS are built only for rows surviving that
    semi-join — before this, both verify joins re-tokenized and re-shingled
    the ENTIRE corpus (once per side) to serve a handful of candidate rows.
    At 100 TB the broadcast carries one int64 per near-dup candidate doc
    (millions of ids = tens of MB); if the near-dup mass ever outgrew a
    broadcast, the same pruning works as a Bloom filter (guide §3.2)."""
    # Lazy checkpoint: the cand_docs broadcast build (first job to run)
    # materializes the banding pipeline once; the verify probe then scans
    # the checkpointed rows. Eager was A/B-tested and lost ~0.3 s locally
    # (the blocking materialization job) — same verdict as graph_modularity.
    cands = _minhash_candidates(spark, sf_dir).localCheckpoint(eager=False)
    return _verified_pairs(spark, sf_dir, cands)


def _verified_pairs(
    spark: SparkSession, sf_dir: str, cands: DataFrame
) -> DataFrame:
    """Exact-Jaccard verification of an (already materialized) candidate
    pair set — the verify stage of ``dedup_minhash_pairs``, factored out so
    consumers that also need the candidate set elsewhere (the estimator
    audit's signature joins) share ONE checkpointed candidates job instead
    of re-running the banding substrate per use."""
    cand_docs = (
        cands.selectExpr("doc_a AS doc_id")
        .unionAll(cands.selectExpr("doc_b AS doc_id"))
        .distinct()
    )
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .join(F.broadcast(cand_docs), "doc_id")
    )
    # r13 A/B boundary: the doc_a and doc_b joins below each consume this
    # subtree, so the candidate-doc scan+semi+tokenize+shingle runs twice
    # per verify. A lazy localCheckpoint of the sets was measured BOTH ways:
    # it wins at sf1 and beyond (pairs -22%, est_vs_exact -17% -- the
    # duplicated pass is real CPU there) but costs ~+0.2 s per consumer at
    # the driver's sf0.1 (the materialization serializes work that the
    # duplicated branches otherwise run concurrently on idle cores -- the
    # same local-vs-scale verdict as r12's orders-basket checkpoint
    # rejection). The bench contract is sf0.1, so the duplicated
    # candidate-BOUNDED subtree stays; at 100 TB flip it to a checkpoint
    # (one-line change, boundary recorded in OPTIMIZATION_r13.md).
    sets = d.selectExpr(
        "doc_id", f"{WORD_TOKENS} AS toks"
    ).selectExpr("doc_id", f"array_distinct({_SHINGLES_SPARK_TOKS}) AS sh")
    return (
        cands.join(sets.selectExpr("doc_id AS doc_a", "sh AS sh_a"), "doc_a")
        .join(sets.selectExpr("doc_id AS doc_b", "sh AS sh_b"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "size(array_intersect(sh_a, sh_b)) AS icnt",
            "size(sh_a) AS sz_a",
            "size(sh_b) AS sz_b",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "floor(CAST(icnt AS DOUBLE)"
            " / (sz_a + sz_b - icnt) * 1000000 + 0.5) / 1000000 AS jaccard",
        )
    )


DEDUP_MINHASH_PAIRS_SQL = _minhash_sql_core() + f"""
, bands AS (
  SELECT doc_id, CAST(perm_id // {BAND_R} AS INTEGER) AS band_id,
         md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY perm_id)) AS band_key
  FROM sig
  GROUP BY doc_id, CAST(perm_id // {BAND_R} AS INTEGER)),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sets AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh FROM documents)
SELECT doc_a, doc_b,
       floor(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(sa.sh || sb.sh)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM cands
JOIN sets sa ON sa.doc_id = doc_a
JOIN sets sb ON sb.doc_id = doc_b
"""


# ---------------------------------------------------------------------------
# SimHash signatures
# ---------------------------------------------------------------------------

# 60 bits: the full width of the md5-derived _h60 token hash. Staying below
# bit 63 keeps the signature a plain non-negative BIGINT in BOTH engines —
# a 64-bit signature would need the sign bit (1<<63 wraps negative in Spark,
# overflows in DuckDB) and every shiftright/band extraction would need
# sign-masking. 60 bits gives the band join 4×15-bit bands = 32,768 values
# per band (131k (band, value) buckets total) vs the old 32-bit/8-bit
# scheme's 1,024 — the r04-flagged quadratic-at-10^9-docs ceiling.
SIMHASH_BITS = 60


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over token hashes: bit j of the signature is the sign of
    sum over tokens of ±1 according to bit j of each token's hash. Exact
    integer arithmetic — bit-identical to the oracle. One groupBy(doc_id);
    the compact (doc_id, text) rows spread before the token explode, and
    the spread's doc_id hash exchange double-serves as the aggregation's
    shuffle (no second exchange).

    The 60 per-bit counters are packed 3-to-a-long in 21-bit lanes (20 sum
    aggregates instead of 60): per token each lane receives ((h >> j) & 1)
    << 21*lane, and lane sums can't carry into each other below 2^21 = 2M
    tokens per document (far past any real document; past it, split docs or
    widen to 2 lanes of 31 bits). Same integer totals, so the unpacked
    comparison 2*count > n is unchanged — measured 1.13 s -> 0.73 s warm at
    sf0.1, and ~3x cheaper to analyze (Catalyst per-aggregate cost), which
    the three consumers (`dedup_simhash_pairs`, `dedup_incremental_admit`,
    `dedup_methods_overlap`) all inherit. The DuckDB oracle keeps the plain
    60-sum form — identical totals, so identical signatures."""
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
        "doc_id",
    )
    toks = d.selectExpr(
        "doc_id",
        f"explode({WORD_TOKENS}) AS tok",
    ).filter(F.col("tok") != "")
    h = toks.selectExpr("doc_id", f"{_h60_spark('tok')} AS h32")
    # bit j of the signature is sign(sum ±1) = [2 * count(bit j set) > n]:
    # summing the extracted bit ((h >> j) & 1, pure arithmetic) is cheaper
    # than a per-row CASE and algebraically identical.
    lanes: list[tuple[int, list[int]]] = [
        (g, [j for j in (g, g + 1, g + 2) if j < SIMHASH_BITS])
        for g in range(0, SIMHASH_BITS, 3)
    ]
    bit_sums = h.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.expr(
                    " + ".join(
                        f"(((h32 >> {j}) & 1) << {21 * (j - g)})" for j in js
                    )
                )
            ).alias(f"p{g}")
            for g, js in lanes
        ],
    )
    sig = " + ".join(
        f"(CASE WHEN 2 * ((p{g} >> {21 * (j - g)}) & {(1 << 21) - 1}) > n"
        f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for g, js in lanes
        for j in js
    )
    return bit_sums.selectExpr("doc_id", f"{sig} AS simhash")


def _simhash_sql() -> str:
    bit_cols = ", ".join(
        [f"count(*) AS n"]
        + [f"sum((h32 >> {j}) & 1) AS b{j}" for j in range(SIMHASH_BITS)]
    )
    sig = " + ".join(
        f"(CASE WHEN 2 * b{j} > n THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
hashes AS (
  SELECT doc_id, {_h60_duck('tok')} AS h32
  FROM toks WHERE tok <> ''),
bits AS (
  SELECT doc_id, {bit_cols} FROM hashes GROUP BY doc_id)
SELECT doc_id, {sig} AS simhash FROM bits
"""


DEDUP_SIMHASH_SQL = _simhash_sql()


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard (all-pairs within a blocking key)
# ---------------------------------------------------------------------------

# A shingle present in more than this many documents of one source block is a
# "stop shingle": it is excluded from pair GENERATION (bounding the equi-join
# fan-out of a k-document shingle to cap*(cap-1)/2 instead of k^2/2) but still
# counted EXACTLY for every surviving pair via the per-document hot-shingle
# array correction below. Testdata max DF is 6 (sf0.1), so 256 changes nothing
# at parity scale while bounding any single key's fan-out at 100 TB to ~32k
# rows.
SHINGLE_DF_CAP = 256


def _pair_intersections(
    spark: SparkSession, sf_dir: str, max_shingle_df: int = SHINGLE_DF_CAP
) -> DataFrame:
    """Shared candidate machinery for the set-similarity family
    (`dedup_ngram_jaccard`, `dedup_ngram_containment`): every same-source
    doc pair sharing ≥1 shingle, with its EXACT intersection count and both
    distinct-set sizes — (doc_a, doc_b, icnt, sz_a, sz_b).

    Computed relationally: explode distinct shingles, equi-join on
    (source, shingle) to count each pair's intersection, then
    |A∪B| = |A|+|B|-|A∩B|. This replaces the naive
    blocked-crossJoin-with-array_intersect formulation (quadratic array
    scans per pair) with one shuffle keyed on the shingle — pairs that share
    nothing never materialize.

    Hot-shingle bound (the 100 TB guard): shingles with per-block document
    frequency above ``max_shingle_df`` are dropped from the pair-generation
    join (a k-document shingle would emit O(k^2) join rows), then added back
    EXACTLY: each document's hot shingles form a tiny array (at most the
    number of globally-hot shingles), and every candidate pair's intersection
    is corrected with ``size(array_intersect(hot_a, hot_b))``. The result is
    therefore byte-identical to the uncapped computation for every pair that
    shares at least one non-hot shingle; a pair whose ENTIRE overlap is
    stop-shingles is exactly the spurious boilerplate match stop-shingle
    removal exists to suppress (and none exist in testdata — max DF 6 << 256).
    Fan-out bound + exactness under an artificially tiny cap are locked by
    ``tests/test_dedup_ops.py``.

    Cost of the correction branch when the hot set is EMPTY (measured warm
    at sf0.1, local[32], 4 runs): full query 2.0-2.3 s vs cold-only variant
    1.9-2.6 s — <=0.2 s, pure stage-scheduling overhead on ~zero rows, since
    the branch reuses the ``groups`` Exchange (ReusedExchange, plan-asserted)
    and the left joins broadcast an empty build side under AQE. A driver-side
    empty-check short-circuit would need its own action over the same shuffle
    and cost more than it saves, so none is attempted."""
    ex = _shingle_rows(spark, sf_dir, with_source=True)
    # ONE shuffle of the exploded shingles: group to (source, sh) -> doc list.
    # Everything below (sizes, pair generation, hot arrays) derives from this
    # same aggregation, so Catalyst reuses its Exchange instead of
    # re-tokenizing + re-exploding the corpus per branch (ReusedExchange —
    # asserted in tests/test_plans.py).
    groups = ex.groupBy("source", "sh").agg(F.collect_list("doc_id").alias("docs"))
    # Per-doc set sizes are row-local (size of the distinct shingle array):
    # no shuffle, stays in whole-stage codegen, and never touches `groups`.
    d = load_table(spark, sf_dir, "documents")
    sizes = d.selectExpr(
        "doc_id", f"{WORD_TOKENS} AS toks"
    ).selectExpr("doc_id", f"size(array_distinct({_SHINGLES_SPARK_TOKS})) AS sz")
    # Cold shingles generate their doc pairs directly from the doc list —
    # k*(k-1)/2 pairs with k <= cap, no self-join needed. List order doesn't
    # matter: the a < b filter selects each unordered pair exactly once.
    inter = (
        groups.filter(F.size("docs") <= max_shingle_df)
        .select(
            F.explode(
                F.expr(_pairs_expr("docs"))
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("icnt_cold"))
    )
    # Hot set is tiny by construction (each member occurs in >cap docs, so
    # there are at most n_shingle_rows/cap of them): per-doc hot arrays stay
    # small.
    hot_arrays = (
        groups.filter(F.size("docs") > max_shingle_df)
        .select("sh", F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("sh")).alias("hot_sh"))
    )
    with_hot = (
        inter.join(
            hot_arrays.selectExpr("doc_id AS doc_a", "hot_sh AS hot_a"), "doc_a", "left"
        )
        .join(
            hot_arrays.selectExpr("doc_id AS doc_b", "hot_sh AS hot_b"), "doc_b", "left"
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "icnt_cold + size(array_intersect("
            "coalesce(hot_a, array()), coalesce(hot_b, array()))) AS icnt",
        )
    )
    return with_hot.join(
        sizes.selectExpr("doc_id AS doc_a", "sz AS sz_a"), "doc_a"
    ).join(sizes.selectExpr("doc_id AS doc_b", "sz AS sz_b"), "doc_b")


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_shingle_df: int = SHINGLE_DF_CAP
) -> DataFrame:
    """Exact token-3-gram Jaccard for every doc pair within the same
    ``source`` block, keeping pairs over 0.05.

    Computed relationally: explode distinct shingles, equi-join on
    (source, shingle) to count each pair's intersection, then
    |A∪B| = |A|+|B|-|A∩B|. This replaces the naive
    blocked-crossJoin-with-array_intersect formulation (quadratic array
    scans per pair) with one shuffle keyed on the shingle — pairs that share
    nothing never materialize. Candidate generation + the hot-shingle DF cap
    live in :func:`_pair_intersections` (shared with
    `dedup_ngram_containment`)."""
    return _pair_intersections(spark, sf_dir, max_shingle_df).selectExpr(
        "doc_a",
        "doc_b",
        "floor(CAST(icnt AS DOUBLE) / (sz_a + sz_b - icnt) * 1000000 + 0.5)"
        " / 1000000 AS jaccard",
    ).filter(F.col("jaccard") >= 0.05)


CONTAINMENT_MIN = 0.1


def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-3-gram CONTAINMENT — |A∩B| / min(|A|,|B|) — for every
    same-source doc pair, keeping pairs over 0.1. Containment is the
    subset-duplicate detector Jaccard structurally misses: a short document
    wholly embedded in a long one has containment 1.0 but Jaccard
    |A|/|B| → 0 as the length ratio grows, so quote-extraction and
    chunk-reuse dups survive Jaccard dedup. (Broder's "containment" measure;
    the asymmetric companion to resemblance.)

    Scale: identical plan to `dedup_ngram_jaccard` — the candidate pairs,
    hot-shingle cap, and exact intersection counts come from the SAME
    :func:`_pair_intersections` lineage; only the final scoring expression
    differs. No new shuffle shape."""
    return _pair_intersections(spark, sf_dir).selectExpr(
        "doc_a",
        "doc_b",
        "floor(CAST(icnt AS DOUBLE) / least(sz_a, sz_b) * 1000000 + 0.5)"
        " / 1000000 AS containment",
    ).filter(F.col("containment") >= CONTAINMENT_MIN)


DEDUP_NGRAM_CONTAINMENT_SQL = f"""
WITH sets AS (
  SELECT doc_id, source, list_distinct({_SHINGLES_DUCK}) AS sh FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / least(len(a.sh), len(b.sh)) * 1000000 + 0.5) / 1000000 AS containment
FROM sets a JOIN sets b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / least(len(a.sh), len(b.sh)) * 1000000 + 0.5) / 1000000 >= {CONTAINMENT_MIN}
"""


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH sets AS (
  SELECT doc_id, source, list_distinct({_SHINGLES_DUCK}) AS sh FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(a.sh || b.sh)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM sets a JOIN sets b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(a.sh || b.sh)) * 1000000 + 0.5) / 1000000 >= 0.05
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: a vector is a duplicate if an EARLIER
    vector in its label block has quantized-exact cosine >= 0.35; it is
    attributed to the smallest such vec_id (deterministic canonical
    representative). Completes the near-dup family (exact / MinHash /
    SimHash / n-gram Jaccard / embedding-cosine).

    Pair generation is the shared vectorized block engine
    (:func:`tmapreduce_spark.functions.similarity.blocked_pair_cosines` —
    int64 Gram matmul per block); the argmin-per-vector on top is a
    partial-aggregated groupBy on the pair stream, not a window over all
    pairs."""
    from tmapreduce_spark.functions.similarity import blocked_pair_cosines

    pairs = blocked_pair_cosines(spark, sf_dir, 0.35)
    return pairs.groupBy(F.col("vec_b").alias("dup_id")).agg(
        F.min("vec_a").alias("dup_of"),
        F.count("*").alias("n_matches"),
        F.max("cosine").alias("max_cosine"),
    )


def _dedup_embedding_sql() -> str:
    from tmapreduce_spark.functions.similarity import _pairs_sql

    return f"""
SELECT vec_b AS dup_id, min(vec_a) AS dup_of, count(*) AS n_matches, max(cosine) AS max_cosine
FROM ({_pairs_sql(0.35)}) pairs
GROUP BY vec_b
"""


# ---------------------------------------------------------------------------
# Near-dup cluster resolution: connected components over the verified pair
# graph -> canonical document per cluster (the op that actually SHRINKS a
# training corpus once pairs are known).
# ---------------------------------------------------------------------------

CLUSTER_JACCARD_MIN = 0.5


def _edges_neardup(
    spark: SparkSession, sf_dir: str, jaccard_min: float | None = None
) -> DataFrame:
    """Shared graph-family substrate: the undirected near-dup edge list
    ``(src, dst)`` — MinHash-verified pairs plus their swaps — eager
    localCheckpointed ONCE per call-site. Every iterative consumer (CC,
    k-core, label propagation, BFS) reads the materialized edges instead of
    re-running the signature/band/verify lineage under each of its join
    arms; before this was factored each consumer rebuilt the identical
    union+checkpoint inline (r06 verdict #3). Pairs from
    ``dedup_minhash_pairs`` are already distinct with doc_a < doc_b, so the
    swap union introduces no duplicates and needs no distinct shuffle."""
    e = dedup_minhash_pairs(spark, sf_dir)
    if jaccard_min is not None:
        e = e.filter(F.col("jaccard") >= jaccard_min)
    e = e.select("doc_a", "doc_b")
    return (
        e.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(e.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()
    )


def _cc_min_labels(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """Min-label connected components over a SWAPPED-UNION edge list
    ``(doc_a, doc_b)`` — the iterative core of :func:`dedup_cluster_resolve`,
    factored so consumers that already hold a materialized edge table (e.g.
    the leakage-safe split's audit) reuse it instead of rebuilding the
    signature/band/verify lineage. Returns ``(doc_id, label)`` for every
    node on an edge; label = the component's minimum doc_id."""
    # Seed with min(self, neighbors) directly off the edge list — exactly
    # the fixed point of propagation round 1, for the cost of one groupBy
    # instead of a full join+checkpoint+count round.
    labels = (
        edges.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.least(F.min("doc_b"), F.col("doc_a")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.selectExpr("doc_id AS doc_b", "label AS nbr_label"), "doc_b"
            )
            .groupBy("doc_a")
            .agg(F.min("nbr_label").alias("nbr_min"))
            .selectExpr("doc_a AS doc_id", "nbr_min")
        )
        # carry the previous label so convergence is a filter+count on the
        # ALREADY-materialized checkpoint — one Spark action per iteration,
        # not a second join/recompute
        stepped = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.col("label").alias("prev_label"),
                F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("label") != F.col("prev_label")).count()
        labels = stepped.select("doc_id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"label propagation did not converge in {max_iters} iters")
    return labels


def dedup_cluster_resolve(spark: SparkSession, sf_dir: str, max_iters: int = 20) -> DataFrame:
    """Connected components over MinHash near-dup pairs (jaccard >=
    CLUSTER_JACCARD_MIN) by min-label propagation, then canonical-keeper
    resolution: every clustered doc labeled with its component's lowest
    doc_id, flagged canonical iff it IS that keeper, with the component size.

    Scale design: each iteration is two shuffles on doc_id (neighbor-min
    groupBy + label join) over the EDGE set (already banding-bounded — never
    all pairs); iterations are bounded by component diameter, and near-dup
    graphs are overwhelmingly tiny star/clique components, so 3-4 rounds
    converge in practice (cap + convergence check here). localCheckpoint
    truncates the growing lineage each round. The driver-side loop touches
    only a per-round changed-count — the data never leaves executors. This is
    the standard alternating-min-label CC (cf. large-star/small-star); at
    petabyte graph scale swap in that two-phase variant, same join shapes."""
    # shared checkpointed substrate (pairs are distinct with doc_a < doc_b,
    # so the swapped union needs no distinct shuffle)
    edges = _edges_neardup(spark, sf_dir, jaccard_min=CLUSTER_JACCARD_MIN).selectExpr(
        "src AS doc_a", "dst AS doc_b"
    )
    labels = _cc_min_labels(edges, max_iters)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .selectExpr(
            "doc_id",
            "label AS cluster_id",
            "doc_id = label AS is_canonical",
            "cluster_size",
        )
    )


SPAN_W = 4  # token window for exact shared-span detection

# A SPAN_W-token window hash occurring more than this many times within one
# source (counting every positional occurrence, across AND within documents)
# is boilerplate — licenses, headers, navigation chrome.  It is dropped
# BEFORE pair generation, bounding any single (source, hash) group's fan-out
# to cap*(cap-1)/2 rows instead of k².  Semantics of the drop: a span made
# PURELY of hot windows is truncated/omitted (exactly the spurious
# boilerplate match the cap exists to suppress); any span containing at
# least one sub-cap window still surfaces, with its run shortened by the
# hot prefix/suffix only.  Testdata max occurrence count is ~6 at sf0.1, so
# 256 changes nothing at parity scale.  The DuckDB oracle applies the
# IDENTICAL cap, so driver parity holds at any cap value.
SPAN_OCC_CAP = 256


def dedup_span_exact(
    spark: SparkSession, sf_dir: str, max_span_occ: int = SPAN_OCC_CAP
) -> DataFrame:
    """Exact shared-span detection — the distributed form of exact-substring
    training-data dedup (cf. Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): for every same-`source` doc pair, the total
    number of matching SPAN_W-token windows and the LONGEST exact shared
    token span.

    Relational algorithm: positional shingles (doc, pos, md5(window)) are
    grouped by (source, hash) in ONE shuffle; each sub-cap group emits its
    occurrence pairs in place (k*(k-1)/2 with k <= cap — no self-join, no
    second shuffle of the corpus). Matches at a constant diagonal
    (pos_a - pos_b) that are consecutive in pos_a form one contiguous shared
    span, recovered with gaps-and-islands (pos_a - row_number per (pair,
    diagonal)) — so the longest span = max run length + SPAN_W - 1 tokens,
    exactly, without ever materializing substrings.

    Scale (the 100 TB guard): groups with more than ``max_span_occ``
    occurrences are boilerplate and are dropped before pair generation —
    see ``SPAN_OCC_CAP`` for the truncation semantics. This bounds the
    quadratic exactly as ``dedup_ngram_jaccard``'s stop-shingle cap does;
    fan-out bound + parity-scale no-op are locked by
    ``tests/test_dedup_ops.py``. True suffix-array dedup covers the
    residual case of monster spans built entirely from hot windows."""
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        spark,
        "doc_id",
    )
    sh = (
        d.selectExpr("doc_id", "source", f"{WORD_TOKENS} AS t")
        .filter(F.size("t") >= SPAN_W)  # sequence(1, 0) would run DESCENDING
        .selectExpr(
            "doc_id",
            "source",
            f"posexplode(transform(sequence(1, size(t) - {SPAN_W} + 1), "
            f"i -> md5(array_join(slice(t, i, {SPAN_W}), ' ')))) AS (pos, h)",
        )
    )
    groups = sh.groupBy("source", "h").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("occ")
    )
    joined = (
        groups.filter(F.size("occ") <= max_span_occ)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(occ, a -> transform(occ, b -> "
                    "struct(a.doc_id AS doc_a, b.doc_id AS doc_b, "
                    "a.pos AS pa, a.pos - b.pos AS diag)))), "
                    "p -> p.doc_a < p.doc_b)"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.pa", "p.diag")
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    spans = (
        joined.withColumn("rk", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "rk")
        .agg(F.count("*").alias("runlen"))
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        F.sum("runlen").cast("bigint").alias("n_matches"),
        (F.max("runlen") + SPAN_W - 1).cast("bigint").alias("longest_span_tokens"),
    )


DEDUP_SPAN_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents),
sh_all AS (
  SELECT doc_id, source, i AS pos,
         md5(list_aggregate(t[i:i + {SPAN_W} - 1], 'string_agg', ' ')) AS h
  FROM toks, unnest(range(1, len(t) - {SPAN_W} + 2)) AS u(i)),
cold AS (  -- identical boilerplate-window cap to the Spark side (SPAN_OCC_CAP)
  SELECT source, h FROM sh_all
  GROUP BY source, h HAVING count(*) <= {SPAN_OCC_CAP}),
sh AS (
  SELECT sh_all.* FROM sh_all JOIN cold USING (source, h)),
joined AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, a.pos - b.pos AS diag
  FROM sh a JOIN sh b
    ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id),
runs AS (
  SELECT doc_a, doc_b, diag,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS rk
  FROM joined),
spans AS (
  SELECT doc_a, doc_b, count(*) AS runlen
  FROM runs GROUP BY doc_a, doc_b, diag, rk)
SELECT doc_a, doc_b,
       CAST(sum(runlen) AS BIGINT) AS n_matches,
       CAST(max(runlen) + {SPAN_W} - 1 AS BIGINT) AS longest_span_tokens
FROM spans GROUP BY doc_a, doc_b
"""


def dedup_cc_twophase(spark: SparkSession, sf_dir: str, max_iters: int = 15) -> DataFrame:
    """The SAME connected-components resolution as ``dedup_cluster_resolve``
    computed with the two-phase large-star / small-star algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — the variant that
    converges in O(log^2 n) rounds on high-diameter graphs where plain
    min-label propagation needs O(diameter) rounds.

    large-star: per node u with undirected neighborhood N(u) and
    m = min(N(u) ∪ {u}), rewire every LARGER neighbor to m.
    small-star: orient edges high→low; per node u rewire every smaller
    neighbor (and u itself) to the minimum. Both phases are one
    groupBy(node).min + one equi-join back to the edge list — no
    collect_list, state per node is one label. Fixed point = every component
    a star rooted at its minimum, detected by an exact edge-set signature
    (count + bit_xor of xxhash64), two scalar actions per round on a
    localCheckpoint-truncated lineage. Near-dup graphs are tiny stars/cliques
    so this converges in 2-3 rounds here; its value is the worst-case bound
    at petabyte graph scale. Shares ``dedup_cluster_resolve``'s oracle —
    both algorithms must produce identical clusters."""
    # pairs are distinct with doc_a < doc_b, so (doc_a, doc_b) IS the
    # canonical (u, v) form — the r02 least/greatest+distinct was a no-op
    # reshuffle of an already-canonical edge set
    edges = (
        dedup_minhash_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= CLUSTER_JACCARD_MIN)
        .selectExpr("doc_a AS u", "doc_b AS v")
        .localCheckpoint()
    )

    def signature(e: DataFrame) -> tuple:
        # bit_xor, not sum: order-independent and cannot overflow ANSI BIGINT.
        # A false fixed-point needs equal counts AND a 64-bit hash-XOR
        # collision between consecutive edge sets (~2^-64/round) — and the
        # shared oracle would catch the wrong clusters it produced.
        row = e.agg(
            F.count("*").alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
        ).collect()[0]
        return (row["n"], row["h"])

    prev_sig = signature(edges)
    for _ in range(max_iters):
        # large-star over the undirected view: attach v (> u) to min(N(u) ∪ {u})
        und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # whole-partition window min instead of groupBy + join-back: the
        # neighborhood minimum rides along each row after ONE exchange of und
        # (the groupBy/join shape shuffled und twice per phase)
        large = (
            und.withColumn(
                "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
            )
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))  # m <= u < v
            .distinct()
        )
        # small-star over high→low orientation: attach every low neighbor
        # (and the high node itself) to the minimum low neighbor. large is
        # already distinct and dirc only renames its columns — no re-distinct.
        # Exactly ONE row per hi has lo == m (the minimum of a distinct set),
        # so the reference's filter+union pair is the per-row CASE below:
        # emit (m, hi) from that row and (m, lo) from every other — same
        # multiset, one pass, no second join or union.
        dirc = large.select(F.col("v").alias("hi"), F.col("u").alias("lo"))
        stepped = (
            dirc.withColumn("m", F.min("lo").over(Window.partitionBy("hi")))
            .select(
                F.col("m").alias("u"),
                F.when(F.col("lo") == F.col("m"), F.col("hi"))
                .otherwise(F.col("lo"))
                .alias("v"),
            )
            .distinct()
            .localCheckpoint()
        )
        sig = signature(stepped)
        edges = stepped
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"star contraction did not converge in {max_iters} iters")

    # fixed point: edges = (component_min u) -> (member v) star
    labels = edges.select(F.col("v").alias("doc_id"), F.col("u").alias("label")).union(
        edges.select(F.col("u").alias("doc_id"), F.col("u").alias("label")).distinct()
    )
    # whole-partition count window: one Exchange by label instead of the
    # groupBy + join-back pair (same rows, no sort — count needs no order)
    return labels.withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("label")).cast("bigint"),
    ).selectExpr(
        "doc_id",
        "label AS cluster_id",
        "doc_id = label AS is_canonical",
        "cluster_size",
    )


DEDUP_CLUSTER_SQL = (
    "WITH RECURSIVE pairs AS (" + DEDUP_MINHASH_PAIRS_SQL + ")"
    + f"""
, strong AS (
  SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {CLUSTER_JACCARD_MIN}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM strong
  UNION
  SELECT doc_b, doc_a FROM strong),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, rc.r FROM edges e JOIN reach rc ON rc.u = e.v),
comp AS (
  SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
sized AS (
  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT comp.doc_id, comp.cluster_id,
       comp.doc_id = comp.cluster_id AS is_canonical,
       sized.cluster_size
FROM comp JOIN sized USING (cluster_id)
"""
)


PR_SCALE = 1_000_000_000  # int64 fixed-point unit for PageRank mass
PR_ITERS = 5


def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the verified near-dup graph (the same
    banding-bounded edge set as ``dedup_cluster_resolve``) — ranks each
    clustered document by how central it is to its duplication neighborhood,
    the signal a corpus builder uses to pick the canonical copy of a
    boilerplate family (vs. min-doc_id's arbitrary pick).

    Exact fixed-point arithmetic: rank mass lives in int64 units of
    1/PR_SCALE; every update is ``base + (85 * sum(contrib)) DIV 100`` with
    ``contrib = r DIV deg`` — integer multiply/divide/sum only, so the
    result is order-independent and bit-identical to the oracle's recursive
    CTE running the same integer recurrence (a float PageRank could never
    hash-match across engines). Symmetric graph => no dangling nodes.

    Scale: PR_ITERS fixed rounds of (edge join + partial-agg sum) over a
    localCheckpoint'd edge list — the classic Pregel shape; each round is
    one shuffle keyed on doc_id, lineage depth is linear in rounds. The
    source node's static out-degree is pre-attached to each edge ONCE
    (outside the loop) so every round joins the rank table alone instead
    of re-joining the degree table — one join per round, not two."""
    edges = _edges_neardup(spark, sf_dir, jaccard_min=CLUSTER_JACCARD_MIN).selectExpr(
        "src AS doc_a", "dst AS doc_b"
    )
    deg = (
        edges.groupBy("doc_a").agg(F.count("*").alias("deg"))
        .withColumnRenamed("doc_a", "doc_id")
    )
    nn = deg.agg(F.count("*").alias("n"))
    ed = edges.join(
        deg.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    ).localCheckpoint()
    ranks = deg.crossJoin(F.broadcast(nn)).selectExpr(
        "doc_id", f"{PR_SCALE} DIV n AS r"
    )
    for _ in range(PR_ITERS):
        contribs = (
            ed.join(ranks.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .selectExpr("doc_b AS doc_id", "r DIV deg AS c")
            .groupBy("doc_id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contribs.crossJoin(F.broadcast(nn)).selectExpr(
            "doc_id", f"(15 * ({PR_SCALE} DIV n)) DIV 100 + (85 * s) DIV 100 AS r"
        )
    return ranks.selectExpr("doc_id", "r AS pagerank_fp")


GRAPH_PAGERANK_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_PAIRS_SQL}) p
  WHERE jaccard >= {CLUSTER_JACCARD_MIN}),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
deg AS (SELECT doc_a AS doc_id, count(*) AS deg FROM edges GROUP BY doc_a),
nn AS (SELECT count(*) AS n FROM deg),
pr(iter, doc_id, r) AS (
  SELECT 0, doc_id, {PR_SCALE} // (SELECT n FROM nn) FROM deg
  UNION ALL
  SELECT t.iter + 1, t.doc_id,
         (15 * ({PR_SCALE} // (SELECT n FROM nn))) // 100 + (85 * t.s) // 100
  FROM (
    SELECT p.iter, e.doc_b AS doc_id, sum(p.r // d.deg) AS s
    FROM pr p
    JOIN edges e ON e.doc_a = p.doc_id
    JOIN deg d ON d.doc_id = p.doc_id
    WHERE p.iter < {PR_ITERS}
    GROUP BY p.iter, e.doc_b) t)
SELECT doc_id, r AS pagerank_fp FROM pr WHERE iter = {PR_ITERS}
"""


# ---------------------------------------------------------------------------
# URL canonicalization dedup (the web-corpus "same page, many URLs" problem)
# ---------------------------------------------------------------------------

def _messy_url(dialect: str) -> str:
    """Deterministic messy URL per document: case-varied host, default port,
    trailing slash, utm_*/fbclid tracking params, fragments — the variant
    noise a crawler actually emits. path uses doc_id % 100 so distinct docs
    genuinely collide after canonicalization (the dedup has work to do).
    Same SQL text for both engines except the string cast type."""
    t = "STRING" if dialect == "spark" else "VARCHAR"
    return (
        "'https://' || "
        "CASE WHEN doc_id % 3 = 0 THEN upper(source) || '.Example.COM' "
        "     ELSE source || '.example.com' END || "
        "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || "
        f"'/docs/' || CAST(doc_id % 100 AS {t}) || "
        "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END || "
        "'?lang=' || lang || "
        "CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed&utm_campaign=x' ELSE '' END || "
        f"CASE WHEN doc_id % 7 = 0 THEN '&fbclid=' || CAST(doc_id AS {t}) ELSE '' END || "
        f"CASE WHEN doc_id % 6 = 0 THEN '#sec' || CAST(doc_id % 3 AS {t}) ELSE '' END"
    )


# Component regexes avoid backslashes entirely ('[?]' not '\\?') so the same
# literal parses identically under Spark's escaped strings and DuckDB's raw
# strings. Fragment never reaches any group ([^#] everywhere).
_URL_SCHEME = "lower(regexp_extract(url, '^([a-zA-Z]+)://', 1))"
_URL_HOST = (
    "lower(regexp_replace(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1), ':443$', ''))"
)
_URL_PATH = "regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1)"
_URL_QUERY = "regexp_extract(url, '[?]([^#]*)', 1)"


def _canon_query(dialect: str) -> str:
    """Drop tracking params, keep the rest in order (works on column ``q``)."""
    if dialect == "spark":
        return (
            "array_join(filter(split(q, '&'), "
            "x -> NOT (x LIKE 'utm%' OR x LIKE 'fbclid%')), '&')"
        )
    return (
        "array_to_string(list_filter(string_split(q, '&'), "
        "x -> NOT (x LIKE 'utm%' OR x LIKE 'fbclid%')), '&')"
    )


_CANON_URL = (
    "sch || '://' || host || "
    "CASE WHEN TRIM(TRAILING '/' FROM path) = '' THEN '/' "
    "     ELSE TRIM(TRAILING '/' FROM path) END || "
    "CASE WHEN cq <> '' THEN '?' || cq ELSE '' END"
)


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup: lowercase scheme/host, strip the :443
    default port, trailing path slash, tracking params (utm_*, fbclid) and
    fragments, then keep the lowest doc_id per canonical URL.

    Whole-stage-codegen expression chain (regexp_extract + a filter() HOF)
    feeding one hash aggregation on the canonical string — per-row work then
    a single shuffle on the canonical key, the same shape (and scale story)
    as dedup_exact_keep_first. The reference's pipeline has no URL notion at
    all (keys are opaque strings, ``/root/reference/src/tmapreduce/
    mrf.h:9-11``); this is the training-corpus "same page crawled five
    ways" dedup."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.selectExpr("doc_id", f"{_messy_url('spark')} AS url")
        .selectExpr(
            "doc_id",
            f"{_URL_SCHEME} AS sch",
            f"{_URL_HOST} AS host",
            f"{_URL_PATH} AS path",
            f"{_URL_QUERY} AS q",
        )
        .selectExpr("doc_id", "sch", "host", "path", f"{_canon_query('spark')} AS cq")
        .selectExpr("doc_id", f"{_CANON_URL} AS canonical_url")
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_variants"),
        )
    )


DEDUP_URL_CANONICAL_SQL = f"""
WITH u AS (SELECT doc_id, {_messy_url('duck')} AS url FROM documents),
p AS (SELECT doc_id, {_URL_SCHEME} AS sch, {_URL_HOST} AS host,
             {_URL_PATH} AS path, {_URL_QUERY} AS q
      FROM u),
c AS (SELECT doc_id, sch, host, path, {_canon_query('duck')} AS cq FROM p)
SELECT {_CANON_URL} AS canonical_url,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_variants
FROM c
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Corpus materialization: the deduplicated dataset you actually ship
# ---------------------------------------------------------------------------

def dedup_corpus_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the near-dup family: the surviving corpus itself.
    Non-canonical members of every MinHash/CC cluster are dropped; canonical
    keepers and never-clustered docs pass through with their metadata.

    Composition, one lazy lineage: minhash pairs → connected components
    (:func:`dedup_cluster_resolve`) → loser list → LEFT ANTI join against
    the corpus scan. The loser side is bounded by the number of clustered
    docs; it flows out of a checkpointed RDD (no stats), so the static plan
    is a conservative SMJ and AQE converts to broadcast at runtime when the
    observed size is small (plan-asserted post-execution). No broadcast HINT
    on purpose: on a heavily-duplicated web corpus the loser list can be a
    large fraction of the corpus, and the hint would then OOM the executors
    where AQE degrades gracefully to the shuffle join. This is the operator
    a pipeline schedules nightly; the cluster/keeper tables the other
    entries expose are its diagnostics."""
    losers = (
        dedup_cluster_resolve(spark, sf_dir)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    return d.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


DEDUP_CORPUS_MATERIALIZE_SQL = (
    DEDUP_CLUSTER_SQL.replace(
        """SELECT comp.doc_id, comp.cluster_id,
       comp.doc_id = comp.cluster_id AS is_canonical,
       sized.cluster_size
FROM comp JOIN sized USING (cluster_id)
""",
        """SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
""",
    )
)
# a silent no-op replace would ship the WRONG oracle (cluster rows)
assert DEDUP_CORPUS_MATERIALIZE_SQL != DEDUP_CLUSTER_SQL


SIMHASH_PAIR_BANDS = 4   # 4 × 15-bit bands over the 60-bit signature
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_PAIR_BANDS  # 15
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1        # 32767
SIMHASH_PAIR_MAXHAM = 2  # report pairs at hamming ≤ 2 (pigeonhole needs ≤ 3)


def _simhash_banded(sig: DataFrame) -> DataFrame:
    """Explode a (doc_id, simhash) signature table into one row per
    (doc_id, band, band_val) — the SINGLE definition of the band geometry,
    shared by `dedup_simhash_pairs` and `dedup_incremental_admit` so a
    future widening can't update one site and silently break the other's
    pigeonhole recall."""
    return sig.selectExpr(
        "doc_id",
        "simhash",
        f"explode(sequence(0, {SIMHASH_PAIR_BANDS - 1})) AS band",
    ).selectExpr(
        "doc_id",
        "simhash",
        "band",
        f"shiftright(simhash, band * {SIMHASH_BAND_BITS}) & {SIMHASH_BAND_MASK}"
        " AS band_val",
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS from SimHash signatures: hamming(sig_a, sig_b) ≤ 2,
    found by the band pigeonhole — split the 60-bit signature into 4 15-bit
    bands; any pair within hamming 3 (a fortiori 2) shares at least one
    untouched band, so an equi-join on (band, band_value) generates every
    qualifying candidate and the exact popcount(xor) refine keeps no false
    positives. This closes the simhash family: signature (`dedup_simhash`)
    → pairs (here) → clusters (`dedup_cluster_resolve`).

    Scale: the only join is the band equi-join on 15-bit values — 4×32,768 =
    131,072 distinct (band, value) buckets, so for RANDOM (non-near-dup)
    signatures a bucket holds ~n/131k docs; at 10⁹ docs that is ~7.6k
    candidates per bucket, versus ~10⁶ under the r04-flagged 32-bit/8-bit
    scheme (1,024 buckets) whose within-bucket join went quadratic. Beyond
    the random floor, occupancy tracks near-dup cluster size exactly like
    MinHash-LSH banding (`dedup_minhash_pairs`). The oracle states the O(n²)
    definition directly, which is the semantic the banding provably equals
    (pigeonhole recall pinned by a hypothesis property test).

    Pairs are generated IN-GROUP from one (band, band_val) aggregation —
    the same no-self-join shape as `dedup_minhash_pairs` — so the banded
    table is shuffled ONCE (a self-join, even with ReusedExchange, still
    builds and probes a hash table of all 4n banded rows); sort_array on
    the (doc_id, simhash) structs makes every emitted pair doc_a < doc_b,
    and the hamming filter runs inside the group before the cross-band
    dedup `distinct`. Fan-out is unchanged: k docs in a bucket emit
    k(k-1)/2 candidates either way."""
    bands = _simhash_banded(dedup_simhash(spark, sf_dir))
    grouped = bands.groupBy("band", "band_val").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ds")
    )
    return (
        grouped.filter(F.expr("size(ds) > 1"))
        .selectExpr(
            "explode(filter(flatten(transform(ds, (a, i) -> "
            "transform(slice(ds, i + 2, size(ds) - i - 1), "
            "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT) AS hamming)))), "
            f"p -> p.hamming <= {SIMHASH_PAIR_MAXHAM})) AS p"
        )
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
    )


DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH sim AS ({DEDUP_SIMHASH_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_PAIR_MAXHAM}
"""


def dedup_incremental_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: admit an incoming batch (doc_id % 5 = 0)
    against the existing corpus (the rest) — reject exact duplicates
    (md5 anti-join) AND near-duplicates (SimHash hamming ≤ 2 via the same
    4-band pigeonhole as `dedup_simhash_pairs`), emit the admitted docs.
    This is the nightly-crawl admission path: the new batch never compares
    against itself, only against the corpus.

    Scale: both rejects are anti-joins keyed on small values (16-byte md5,
    15-bit band values — 131k buckets, see `dedup_simhash_pairs`); the
    corpus side ships only (hash) / (signature,
    band) columns, never text. Signatures for both sides come from ONE
    corpus-wide computation, filtered — so incremental admission reuses the
    stored signature table instead of re-hashing the corpus each night."""
    d = load_table(spark, sf_dir, "documents")
    sig = dedup_simhash(spark, sf_dir)
    inc = d.filter(F.expr("doc_id % 5 = 0"))
    corp = d.filter(F.expr("doc_id % 5 != 0"))

    inc_h = inc.selectExpr("doc_id", "lang", "n_chars", "md5(text) AS h")
    corp_h = corp.selectExpr("md5(text) AS h").distinct()
    stage1 = inc_h.join(corp_h, "h", "left_anti")

    # Band the corpus-wide signature table ONCE (shared `_simhash_banded`
    # geometry), then split by the admission predicate — doc_id rides the
    # signature row, so the split is a filter, not a join (two joins and one
    # signature recomputation cheaper; the banded lineage's shuffle is
    # shared by both sides via exchange reuse).
    banded_all = _simhash_banded(sig)
    inc_b = banded_all.filter(F.expr("doc_id % 5 = 0"))
    corp_b = banded_all.filter(F.expr("doc_id % 5 != 0"))
    near = (
        inc_b.alias("i")
        .join(
            corp_b.alias("c"),
            (F.col("i.band") == F.col("c.band"))
            & (F.col("i.band_val") == F.col("c.band_val")),
        )
        .filter(
            F.expr(f"bit_count(i.simhash ^ c.simhash) <= {SIMHASH_PAIR_MAXHAM}")
        )
        .select(F.col("i.doc_id").alias("doc_id"))
        .distinct()
    )
    return stage1.join(near, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


DEDUP_INCREMENTAL_SQL = f"""
WITH sim AS ({DEDUP_SIMHASH_SQL}),
inc AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
corp AS (SELECT * FROM documents WHERE doc_id % 5 != 0),
exact_dup AS (
  SELECT DISTINCT i.doc_id
  FROM inc i JOIN corp c ON md5(i.text) = md5(c.text)),
near_dup AS (
  SELECT DISTINCT i.doc_id
  FROM inc i
  JOIN sim si ON si.doc_id = i.doc_id
  JOIN sim sc ON sc.doc_id != si.doc_id
  JOIN corp c ON c.doc_id = sc.doc_id
  WHERE bit_count(xor(si.simhash, sc.simhash)) <= {SIMHASH_PAIR_MAXHAM})
SELECT doc_id, lang, n_chars
FROM inc
WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup)
  AND doc_id NOT IN (SELECT doc_id FROM near_dup)
"""


# ---------------------------------------------------------------------------
# Aligned-chunk exact dedup (RefinedWeb/Falcon-style paragraph dedup adapted
# to the fixture's paragraph-free text: fixed 10-token aligned segments)
# ---------------------------------------------------------------------------

CHUNK_TOKS = 10


def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup stats: segment every document into aligned
    non-overlapping CHUNK_TOKS-token chunks, keep the FIRST occurrence of
    each distinct chunk corpus-wide (ordered by doc_id, chunk position),
    and report per document how many of its chunks were duplicates of
    earlier text. This is paragraph-level dedup (RefinedWeb §dedup) adapted
    to fixture text, and the cheap complement to `dedup_span_exact`:
    aligned segments miss shifted copies but cost ~1/W the rows of
    positional shingles and need no pair join at all.

    Scale: tokenize once per doc, explode n/W chunk rows, ONE shuffle on
    the 16-byte chunk hash for the keep-first window, one groupBy(doc_id)
    — linear end to end, no pair enumeration, no skew (chunk-hash keys are
    near-unique except for true boilerplate; a pathological viral chunk
    lands on one reducer but the window computes only row_number, not a
    pair set)."""
    d = load_table(spark, sf_dir, "documents")
    n_chunks_expr = f"greatest((size(toks) + {CHUNK_TOKS - 1}) div {CHUNK_TOKS}, 1)"
    chunks = (
        d.selectExpr("doc_id", f"{WORD_TOKENS} AS toks")
        .selectExpr(
            "doc_id",
            f"posexplode(transform(sequence(0, {n_chunks_expr} - 1), "
            f"i -> concat_ws(' ', slice(toks, i * {CHUNK_TOKS} + 1, {CHUNK_TOKS})))) "
            "AS (chunk_idx, chunk)",
        )
        .selectExpr("doc_id", "chunk_idx", "md5(chunk) AS h")
    )
    w = Window.partitionBy("h").orderBy(F.asc("doc_id"), F.asc("chunk_idx"))
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        F.expr(
            mround("CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)
        ).alias("dup_ratio"),
    )


DEDUP_CHUNK_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
chunks AS (
  SELECT doc_id,
         CAST(unnest(range(0, greatest((len(toks) + {CHUNK_TOKS - 1}) // {CHUNK_TOKS}, 1))) AS BIGINT) AS chunk_idx,
         unnest(list_transform(range(0, greatest((len(toks) + {CHUNK_TOKS - 1}) // {CHUNK_TOKS}, 1)),
                i -> array_to_string(list_slice(toks, i * {CHUNK_TOKS} + 1, i * {CHUNK_TOKS} + {CHUNK_TOKS}), ' '))) AS chunk
  FROM t),
ranked AS (
  SELECT doc_id, chunk_idx,
         row_number() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id ASC, chunk_idx ASC) AS rn
  FROM chunks)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       {mround('CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)', 6)} AS dup_ratio
FROM ranked
GROUP BY doc_id
"""


def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection by QUALITY POLICY: for every near-dup cluster
    (the `dedup_cluster_resolve` components), keep the highest-quality
    member — most tokens, doc_id as the deterministic tiebreak — instead of
    the arbitrary lowest-id keeper. Production corpus builds keep the best
    copy (longest, cleanest), not the first crawled; this entry is that
    policy as a first-class operator.

    Scale: the cluster assignment is the already-bounded CC output (one row
    per clustered doc); the quality join ships only (doc_id, n_toks); the
    per-cluster argmax is one WindowGroupLimit pass keyed on cluster_id.
    Changing policy = changing the ORDER BY — the plan is policy-agnostic."""
    clusters = dedup_cluster_resolve(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    sized = d.selectExpr(
        "doc_id", r"CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_toks"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_toks"), F.asc("doc_id"))
    return (
        clusters.join(sized, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc"),
            F.col("n_toks").alias("keeper_n_toks"),
            "cluster_size",
        )
    )


DEDUP_CLUSTER_KEEP_BEST_SQL = (
    "WITH clusters AS (" + DEDUP_CLUSTER_SQL + r""")
, sized AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
  FROM documents),
ranked AS (
  SELECT c.cluster_id, c.doc_id, s.n_toks, c.cluster_size,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY s.n_toks DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN sized s USING (doc_id))
SELECT cluster_id, doc_id AS keeper_doc, n_toks AS keeper_n_toks, cluster_size
FROM ranked WHERE rn = 1
"""
)


AUDIT_PER_BAND = 3


def dedup_audit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic human-eval sample of near-dup pairs: stratify the
    verified MinHash pairs by similarity decile and keep AUDIT_PER_BAND
    pairs per band by md5 hash priority — the replayable audit sheet a
    dedup-threshold review needs (uniform random within each score band,
    same sample every run, no rand()).

    Scale: pair stream → per-band WindowGroupLimit (each partition keeps
    ≤ k rows per band before the shuffle); sample size is bands × k
    regardless of corpus size."""
    pairs = dedup_minhash_pairs(spark, sf_dir)
    pri = F.md5(
        F.concat_ws("|", F.lit("audit"), F.col("doc_a").cast("string"),
                    F.col("doc_b").cast("string"))
    )
    banded = pairs.withColumn(
        "band", F.expr("CAST(floor(jaccard * 10) AS BIGINT)")
    ).withColumn("pri", pri)
    w = Window.partitionBy("band").orderBy(F.asc("pri"), F.asc("doc_a"), F.asc("doc_b"))
    return (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= AUDIT_PER_BAND)
        .select("band", "doc_a", "doc_b", "jaccard", F.col("rn").cast("bigint").alias("rn"))
    )


DEDUP_AUDIT_SAMPLE_SQL = (
    "WITH pairs AS (" + DEDUP_MINHASH_PAIRS_SQL + f""")
, banded AS (
  SELECT doc_a, doc_b, jaccard,
         CAST(floor(jaccard * 10) AS BIGINT) AS band,
         md5('audit' || '|' || CAST(doc_a AS VARCHAR) || '|' || CAST(doc_b AS VARCHAR)) AS pri
  FROM pairs)
SELECT band, doc_a, doc_b, jaccard, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT band, doc_a, doc_b, jaccard,
         row_number() OVER (PARTITION BY band
                            ORDER BY pri ASC, doc_a ASC, doc_b ASC) AS rn
  FROM banded) t
WHERE rn <= {AUDIT_PER_BAND}
"""
)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup graph (MinHash-LSH pair
    edges): how many closed near-dup triples each document participates in
    — the local clustering signal that separates true duplicate CLIQUES
    (template farms, mirrors) from chance pairwise collisions, which is why
    triangle count is the standard graph-quality metric next to CC.

    Scale: the classic two-join formulation over ID-oriented edges
    (doc_a < doc_b), so each triangle is enumerated exactly once (its
    vertices appear in sorted order). Both joins are hash equi-joins on
    single doc ids over the banding-bounded EDGE set — never the corpus.
    At billion-edge scale, orient edges by DEGREE (low→high) instead of id:
    same plan, wedge fan-out bounded by sqrt(|E|) per node (the standard
    compact-forward guarantee); id-orientation is the parity-friendly twin.

    The edge set feeds THREE join arms (e1/e2/e3) whose shuffles key on
    different columns, so no exchange is reusable across them — without a
    checkpoint the whole signature/band/verify pipeline re-executes once
    per arm (12 parquet scans in the declared plan). Materialize it once
    (the `graph_clustering_coeff` precedent, dedup.py:2885); lazy, so the
    first wedge stage's job materializes it instead of a separate blocking
    driver job (A/B: lazy 0.23–0.29 s vs eager 0.19–0.36 s vs none
    0.69–1.71 s session-warm — both checkpoint forms beat none ≥2×, lazy
    avoids the extra job, the graph_modularity verdict)."""
    e = (
        dedup_minhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )


GRAPH_TRIANGLE_SQL = (
    "WITH e AS (SELECT doc_a, doc_b FROM (" + DEDUP_MINHASH_PAIRS_SQL + """) t)
, tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM e e1
  JOIN e e2 ON e1.doc_b = e2.doc_a
  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
nodes AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT doc_id, count(*) AS n_triangles
FROM nodes GROUP BY doc_id
"""
)


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph: per-degree node counts
    over the MinHash-LSH pair edges — the first thing to look at before
    running CC at scale (a heavy tail means viral/boilerplate components
    that need the two-phase star algorithm; a thin tail means plain
    min-label converges in a few rounds).

    Scale: degrees come from ONE groupBy over the banding-bounded edge
    set (each edge exploded into its two endpoints), and the histogram is
    a second groupBy whose key space is the distinct-degree count —
    partial aggregation collapses both. Nothing here ever touches the
    corpus rows."""
    e = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        e.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("doc_id").alias("example_doc"),
        )
        .selectExpr("CAST(degree AS BIGINT) AS degree", "n_nodes", "example_doc")
    )


GRAPH_DEGREE_SQL = (
    "WITH e AS (SELECT doc_a, doc_b FROM (" + DEDUP_MINHASH_PAIRS_SQL + """) t),
ends AS (SELECT doc_a AS doc_id FROM e UNION ALL SELECT doc_b FROM e),
deg AS (SELECT doc_id, count(*) AS degree FROM ends GROUP BY doc_id)
SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_nodes,
       min(doc_id) AS example_doc
FROM deg GROUP BY degree
"""
)


def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size distribution of the near-dup graph: how many
    clusters of each size exist and how many documents they absorb — the
    one-glance dedup health report (a few huge components = boilerplate or
    template farms that deserve span-level treatment; many 2-3 clusters =
    ordinary mirrors). Rides `dedup_cluster_resolve`'s converged labels.

    Scale: two cascaded partial-agg groupBys over the LABEL table (one row
    per clustered doc, already banding-bounded); the histogram key space is
    the distinct-size count. Nothing beyond the CC cost itself."""
    labels = dedup_cluster_resolve(spark, sf_dir)
    return (
        labels.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .selectExpr("CAST(cluster_size AS BIGINT) AS cluster_size", "n_clusters", "n_docs")
    )


GRAPH_COMPONENT_SIZES_SQL = (
    "WITH labs AS (" + DEDUP_CLUSTER_SQL + """)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(count(*) AS BIGINT) AS n_docs
FROM labs GROUP BY cluster_size
"""
)


_BFS_MAX_HOPS = 3
_BFS_SEED_MOD = 7  # deterministic seed set: endpoints with doc_id % 7 == 0


def graph_reachability_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS reachability over the near-dup graph: minimum hop
    count (<= 3) from a deterministic seed set (edge endpoints with
    doc_id % 7 == 0) to every reachable node — the "blast radius" query
    behind contamination tracing (if these docs are tainted, what else is
    transitively near-duplicate?) and a second iterative-graph shape next
    to CC and PageRank.

    Spark side is layered frontier expansion: hop h's frontier joins the
    undirected edge list, new nodes are anti-joined against everything seen
    — BFS layering IS the min-hop proof, no per-path enumeration. The
    DuckDB oracle is the textbook WITH RECURSIVE (node, hop) closure with
    min(hop) GROUP BY on top; both sides bound depth at 3.

    Scale: every round is two hash joins on single doc ids over the
    banding-bounded EDGE set (`dedup.py:194` keeps it near-linear in true
    near-dup mass); the frontier shrinks monotonically in practice and the
    depth bound caps the lineage at 3 join layers — for unbounded-depth
    closures switch to the CC entries' localCheckpoint loop. The edge list
    is localCheckpointed ONCE up front (the `dedup_cluster_resolve`
    pattern): the MinHash signature/band/verify lineage would otherwise
    re-execute under every one of the ~8 downstream join arms."""
    und = _edges_neardup(spark, sf_dir)
    ends = und.select(F.col("src").alias("doc_id")).distinct()
    seeds = ends.filter(F.col("doc_id") % _BFS_SEED_MOD == 0)
    visited = seeds.withColumn("hop", F.lit(0))
    frontier = seeds
    for h in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(und, frontier.doc_id == und.src)
            .select(F.col("dst").alias("doc_id"))
            .distinct()
            .join(visited.select("doc_id"), "doc_id", "left_anti")
        )
        visited = visited.unionAll(nxt.withColumn("hop", F.lit(h)))
        frontier = nxt
    return visited.selectExpr("doc_id", "CAST(hop AS BIGINT) AS hop")


GRAPH_REACHABILITY_SQL = (
    "WITH RECURSIVE e AS (SELECT doc_a, doc_b FROM ("
    + DEDUP_MINHASH_PAIRS_SQL
    + f""") t),
und AS (SELECT doc_a AS src, doc_b AS dst FROM e
        UNION ALL SELECT doc_b, doc_a FROM e),
seeds AS (SELECT DISTINCT src AS doc_id FROM und
          WHERE src % {_BFS_SEED_MOD} = 0),
r(doc_id, hop) AS (
  SELECT doc_id, 0 FROM seeds
  UNION
  SELECT und.dst, r.hop + 1 FROM r JOIN und ON und.src = r.doc_id
  WHERE r.hop < {_BFS_MAX_HOPS})
SELECT doc_id, CAST(min(hop) AS BIGINT) AS hop FROM r GROUP BY doc_id
"""
)


def dedup_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair, the
    signature-agreement Jaccard estimate (matching components / 16) next
    to the exact shingle-set Jaccard and their absolute error — the audit
    that tells you whether NUM_PERMS is adequate before trusting the
    estimate at corpus scale (E[est] = J, sd ≈ sqrt(J(1-J)/k)).

    Exactness: the estimate is a 16-denominator rational, the exact value
    is the already-mrounded pair Jaccard, and the error is one abs() of
    IEEE-identical doubles.

    Scale: the banding substrate runs ONCE (the shared checkpointed
    candidate set — before r12 the pairs path and the signature path each
    re-ran it from the corpus), and the a/b signature tables are computed
    only over candidate documents (signatures are doc-local, the joins are
    inner on candidate ids, so restricting the scan first is bit-identical
    — guide §8 "decide with small rows"). The audit costs two doc-id hash
    joins over the banding-bounded pair set, never an all-pairs pass."""
    cands = _minhash_candidates(spark, sf_dir).localCheckpoint(eager=False)
    pairs = _verified_pairs(spark, sf_dir, cands)
    cand_docs = (
        cands.selectExpr("doc_a AS doc_id")
        .unionAll(cands.selectExpr("doc_b AS doc_id"))
        .distinct()
    )
    wide = _minhash_wide(spark, sf_dir, doc_filter=cand_docs)
    n_match = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(NUM_PERMS)
    )
    a = wide.alias("a")
    b = wide.alias("b")
    return (
        pairs.join(a, F.col("a.doc_id") == pairs.doc_a)
        .join(b, F.col("b.doc_id") == pairs.doc_b)
        .selectExpr(
            "doc_a",
            "doc_b",
            f"CAST({n_match} AS BIGINT) AS n_match",
            "jaccard AS jaccard_exact",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "n_match",
            f"{mround(f'CAST(n_match AS DOUBLE) / {NUM_PERMS}', 6)} AS jaccard_est",
            "jaccard_exact",
            f"{mround(f'abs(CAST(n_match AS DOUBLE) / {NUM_PERMS} - jaccard_exact)', 6)} AS abs_err",
        )
    )


DEDUP_MINHASH_EST_SQL = (
    "WITH p AS (SELECT doc_a, doc_b, jaccard FROM ("
    + DEDUP_MINHASH_PAIRS_SQL
    + ") t), s AS ("
    + _minhash_sql_core()
    + " SELECT doc_id, perm_id, min_hash FROM sig), est AS ("
    + """
  SELECT p.doc_a, p.doc_b, p.jaccard,
         sum(CASE WHEN sa.min_hash = sb.min_hash THEN 1 ELSE 0 END) AS n_match
  FROM p
  JOIN s sa ON sa.doc_id = p.doc_a
  JOIN s sb ON sb.doc_id = p.doc_b AND sb.perm_id = sa.perm_id
  GROUP BY p.doc_a, p.doc_b, p.jaccard)
"""
    + f"""
SELECT doc_a, doc_b, CAST(n_match AS BIGINT) AS n_match,
       {mround(f'CAST(n_match AS DOUBLE) / {NUM_PERMS}', 6)} AS jaccard_est,
       jaccard AS jaccard_exact,
       {mround(f'abs(CAST(n_match AS DOUBLE) / {NUM_PERMS} - jaccard)', 6)} AS abs_err
FROM est
"""
)


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every ordered source pair, how
    many distinct 10-token chunks they SHARE — the provenance diagnostic a
    dataset card needs (which crawls/snapshots copy from which, where the
    inter-source boilerplate lives) and the input to choosing dedup order
    across sources.

    Scale: chunks come from the same linear segmentation as
    ``dedup_chunk_exact``; per chunk hash the SOURCE SET is collected (a
    groupBy on the 16-byte hash whose values are tiny distinct-source
    sets, not documents), pairs are emitted in-group from the sorted set
    (no self-join), and the final groupBy's key space is at most
    n_sources² (400 here). A boilerplate chunk shared by all S sources
    emits S(S-1)/2 pairs once — bounded by the SOURCE count, not by its
    document frequency, which is what makes this safe where a doc-level
    pair join would go quadratic."""
    d = load_table(spark, sf_dir, "documents")
    n_chunks_expr = f"greatest((size(toks) + {CHUNK_TOKS - 1}) div {CHUNK_TOKS}, 1)"
    chunks = (
        d.selectExpr("source", f"{WORD_TOKENS} AS toks")
        .selectExpr(
            "source",
            f"explode(transform(sequence(0, {n_chunks_expr} - 1), "
            f"i -> md5(concat_ws(' ', slice(toks, i * {CHUNK_TOKS} + 1, {CHUNK_TOKS}))))) AS h",
        )
    )
    return (
        chunks.groupBy("h")
        .agg(F.expr("sort_array(collect_set(source)) AS srcs"))
        .filter(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(_pairs_expr("srcs", "src_a", "src_b"))
            ).alias("p")
        )
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count("*").alias("n_shared_chunks"))
        .selectExpr("src_a", "src_b", "n_shared_chunks")
    )


DEDUP_CROSS_SOURCE_SQL = rf"""
WITH t AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
chunks AS (
  SELECT source,
         unnest(list_transform(range(0, greatest((len(toks) + {CHUNK_TOKS - 1}) // {CHUNK_TOKS}, 1)),
                i -> md5(array_to_string(list_slice(toks, i * {CHUNK_TOKS} + 1, i * {CHUNK_TOKS} + {CHUNK_TOKS}), ' ')))) AS h
  FROM t),
per_h AS (SELECT DISTINCT h, source FROM chunks)
SELECT a.source AS src_a, b.source AS src_b,
       count(DISTINCT a.h) AS n_shared_chunks
FROM per_h a JOIN per_h b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
"""


def _overlap_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, method) flag union behind `dedup_methods_overlap`,
    un-checkpointed so plan tests can assert the cross-detector
    ReusedExchange on the executed plan: exact keep-first window flags,
    MinHash-LSH candidates, SimHash hamming<=2 pairs."""
    d = load_table(spark, sf_dir, "documents")
    # project the 16-byte hash BEFORE the window exchange — partitioning by
    # md5(text) while still carrying text shuffled every document body
    w = Window.partitionBy("h").orderBy("doc_id")
    exact_f = (
        d.select("doc_id", F.md5("text").alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn > 1")
        .select("doc_id")
    )
    # candidate set only — the exact-Jaccard verify joins never filter rows
    # (every candidate doc has a shingle set), so the flagged-doc set is
    # identical and the audit skips one full document re-tokenization.
    # Both flag sets are emitted IN-GROUP without materializing pair rows:
    # a doc is minhash-flagged iff it is not its bucket's minimum (<= k-1
    # rows per bucket instead of k(k-1)/2 pair rows + a pair distinct),
    # and simhash-flagged iff an earlier-sorted bucket member sits within
    # the hamming radius — same popcount work as pair generation but <= k
    # emitted rows and one less exchange each.
    mh = (
        _minhash_band_docs(spark, sf_dir)
        .selectExpr(
            "explode(slice(array_sort(docs), 2, size(docs) - 1)) AS doc_id"
        )
        .distinct()
    )
    sh_grouped = _simhash_banded(dedup_simhash(spark, sf_dir)).groupBy(
        "band", "band_val"
    ).agg(F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ds"))
    sh = (
        sh_grouped.filter(F.expr("size(ds) > 1"))
        .selectExpr(
            "explode(filter(transform(ds, (b, i) -> CASE WHEN i > 0 AND "
            f"exists(slice(ds, 1, i), a -> bit_count(a.simhash ^ b.simhash) <= {SIMHASH_PAIR_MAXHAM}) "
            "THEN b.doc_id ELSE CAST(NULL AS BIGINT) END), x -> x IS NOT NULL)) AS doc_id"
        )
        .distinct()
    )
    return (
        exact_f.withColumn("m", F.lit("exact"))
        .unionByName(mh.withColumn("m", F.lit("minhash")))
        .unionByName(sh.withColumn("m", F.lit("simhash")))
        .distinct()
    )


def dedup_methods_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method agreement audit: for each pair of detectors (exact
    hash, MinHash-LSH, SimHash), the sizes of their flagged-document sets
    and the Jaccard overlap — the analysis that tells you whether the
    cheap method already catches what the expensive one would, per corpus
    (RefinedWeb and Dolma both publish exactly this table).

    Scale: each flag set is its own already-bounded pipeline (window,
    banded joins); the audit on top is one distinct tag union, one 3-row
    count aggregate, and one doc-keyed equi-join for co-flags — audit cost
    is dominated by the detectors themselves, which a real run has
    computed anyway. The MinHash and SimHash pipelines both start from the
    same spread(documents, doc_id) exchange, which the union's single
    materializing action reuses (ReusedExchange — plan-asserted in
    test_plans.py), so documents is shuffled once for both detectors."""
    tags = (
        _overlap_tags(spark, sf_dir)
        # three consumers (counts, co-flag join both sides) — materialize the
        # tiny (doc_id, method) set ONCE so the detector pipelines don't run
        # 3x (same localCheckpoint precedent as dedup_cluster_resolve;
        # measured 8.0 s -> ~3 s at sf0.1)
        .localCheckpoint()
    )
    methods = spark.createDataFrame([("exact",), ("minhash",), ("simhash",)], "m string")
    counts = methods.join(
        tags.groupBy("m").agg(F.count("*").alias("cnt")), "m", "left"
    ).selectExpr("m", "coalesce(cnt, CAST(0 AS BIGINT)) AS n")
    both = (
        tags.alias("a")
        .join(tags.alias("b"), "doc_id")
        .filter("a.m < b.m")
        .groupBy(F.col("a.m").alias("m_a"), F.col("b.m").alias("m_b"))
        .agg(F.count("*").alias("n_both"))
    )
    grid = (
        counts.selectExpr("m AS m_a", "n AS n_a")
        .crossJoin(F.broadcast(counts.selectExpr("m AS m_b", "n AS n_b")))
        .filter("m_a < m_b")
    )
    return (
        grid.join(F.broadcast(both), ["m_a", "m_b"], "left")
        .selectExpr(
            "m_a AS method_a",
            "m_b AS method_b",
            "n_a",
            "n_b",
            "coalesce(n_both, 0) AS n_both",
            f"{mround('CAST(coalesce(n_both, 0) AS DOUBLE) / nullif(n_a + n_b - coalesce(n_both, 0), 0)', 6)} AS overlap_jaccard",
        )
    )


DEDUP_METHODS_OVERLAP_SQL = (
    """
WITH exact_f AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) t WHERE rn > 1),
mh AS (SELECT DISTINCT doc_b AS doc_id FROM ("""
    + DEDUP_MINHASH_PAIRS_SQL
    + """) t),
sh AS (SELECT DISTINCT doc_b AS doc_id FROM ("""
    + DEDUP_SIMHASH_PAIRS_SQL
    + f""") t),
tags AS (
  SELECT doc_id, 'exact' AS m FROM exact_f
  UNION SELECT doc_id, 'minhash' FROM mh
  UNION SELECT doc_id, 'simhash' FROM sh),
methods AS (SELECT unnest(['exact', 'minhash', 'simhash']) AS m),
counts AS (
  SELECT methods.m, coalesce(c.cnt, 0) AS n
  FROM methods LEFT JOIN (SELECT m, count(*) AS cnt FROM tags GROUP BY m) c
    ON c.m = methods.m),
co AS (
  SELECT a.m AS m_a, b.m AS m_b, count(*) AS n_both
  FROM tags a JOIN tags b ON a.doc_id = b.doc_id AND a.m < b.m
  GROUP BY 1, 2)
SELECT ca.m AS method_a, cb.m AS method_b, ca.n AS n_a, cb.n AS n_b,
       coalesce(n_both, 0) AS n_both,
       {mround('CAST(coalesce(n_both, 0) AS DOUBLE) / nullif(ca.n + cb.n - coalesce(n_both, 0), 0)', 6)} AS overlap_jaccard
FROM counts ca
JOIN counts cb ON ca.m < cb.m
LEFT JOIN co ON co.m_a = ca.m AND co.m_b = cb.m
"""
)


def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty audit: per document (in doc_id ingestion order),
    the fraction of its token-trigram shingles never seen in any EARLIER
    document — the curve data curation teams plot to decide when a crawl
    stops adding new text (novelty → 0 means you're paying storage for
    repeats). Shares the shingle definition with the MinHash family.

    Scale: one shingle explode, ONE keep-first window on the FULL 128-bit
    md5 (same single-shuffle shape as `dedup_chunk_exact`), one
    groupBy(doc_id). Linear; no pair join. Keyed on the full md5, NOT the
    mod-P reduction the MinHash permutations use: a %(1e9+7) keep-first
    key collides distinct shingles with probability ~n^2/2e9 (near-certain
    at millions of shingles), silently deflating novelty — and the oracle
    keys on the full digest."""
    hashes = (
        _shingle_rows(spark, sf_dir)
        .selectExpr("doc_id", "md5(sh) AS h")
        .distinct()
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = hashes.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.expr("CASE WHEN rn = 1 THEN 1 ELSE 0 END")).alias("n_novel"),
        F.expr(
            mround("CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)
        ).alias("novelty"),
    )


def _novelty_sql() -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, md5(s) AS h
  FROM (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS s FROM documents) t),
ranked AS (
  SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM sh)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       {mround("CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS novelty
FROM ranked GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Winnowing (MOSS) fingerprints
# ---------------------------------------------------------------------------

WINNOW_W = 4  # fingerprint window: guarantee = any match of >= w+k-1 tokens


def dedup_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm, Schleimer et
    al. SIGMOD'03): hash every SEQUENTIAL token 3-gram, slide a window of
    WINNOW_W consecutive hashes, keep each window's minimum — the selected
    subset is position-robust (any shared run of >= w+k-1 tokens between
    two documents is GUARANTEED to share a fingerprint, the property raw
    `doc_fingerprint` rolling hashes lack) while storing only ~2/(w+1) of
    the k-gram hashes. Output: per-doc k-gram count, fingerprint count,
    and the md5 of the sorted fingerprint set (the stored sketch a
    cross-doc matcher would band on).

    Determinism: pure per-row array algebra (no shuffle at all beyond the
    guarded `spread`); min over int64 hashes, sorted join for the digest —
    bit-identical in both engines. Docs shorter than w k-grams keep one
    window over whatever exists; docs under k tokens emit an empty set
    (md5 of '').

    Scale: zero-shuffle map-only pass; per-row state is the doc's own
    k-gram array. At 100 TB this is the cheapest possible shape — the
    expensive cross-doc step would band on fp values downstream, fanned
    out by bucket exactly like the MinHash band join."""
    return _winnow_selected(spark, sf_dir).selectExpr(
        "doc_id",
        "n_kgrams",
        "CAST(size(array_distinct(wmins)) AS BIGINT) AS n_fp",
        "md5(array_join(array_sort(array_distinct(wmins)), ',')) AS fp_md5",
    )


def _winnow_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_kgrams, wmins) — the per-window winnowing minima, shared
    by the per-doc fingerprint digest and the cross-doc pair matcher so
    the window geometry can't drift between them."""
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
        "doc_id",
    )
    toks = d.selectExpr("doc_id", f"{WORD_TOKENS} AS toks")
    hs = toks.selectExpr(
        "doc_id",
        f"transform({_SHINGLES_SPARK_TOKS}, s -> {_h60_spark('s')}) AS hs",
    )
    return hs.selectExpr(
        "doc_id",
        "CAST(size(hs) AS BIGINT) AS n_kgrams",
        f"CASE WHEN size(hs) = 0 THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE transform(sequence(0, greatest(size(hs) - {WINNOW_W}, 0)), "
        f"i -> array_min(slice(hs, i + 1, {WINNOW_W}))) END AS wmins",
    )


DEDUP_WINNOWING_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS kgs FROM documents),
h AS (
  SELECT doc_id, list_transform(kgs, s -> {_h60_duck('s')}) AS hs FROM t),
w AS (
  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_kgrams,
         CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
              ELSE list_transform(range(0, greatest(len(hs) - {WINNOW_W}, 0) + 1),
                                  i -> list_aggregate(hs[i + 1 : i + {WINNOW_W}], 'min'))
         END AS wmins
  FROM h)
SELECT doc_id, n_kgrams,
       CAST(len(list_distinct(wmins)) AS BIGINT) AS n_fp,
       md5(array_to_string(list_sort(list_distinct(wmins)), ',')) AS fp_md5
FROM w
"""


WINNOW_FP_CAP = 50  # a fingerprint in more docs than this is boilerplate
WINNOW_MIN_SHARED = 2  # pairs need >= 2 shared fingerprints (noise floor)


def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc matcher over winnowing fingerprints: pairs sharing >=
    WINNOW_MIN_SHARED selected k-gram minima, with the shared count as the
    match strength — the plagiarism/mirror detector the per-doc
    `dedup_winnowing_fingerprint` sketch exists to feed, completing the
    family the same way simhash/minhash go signature -> pairs.

    Scale: the SAME in-group pair emission as every other matcher here —
    fingerprints shared by more than WINNOW_FP_CAP docs are boilerplate
    and are dropped BEFORE pair generation (the `SPAN_OCC_CAP` /
    stop-shingle precedent), so fan-out is bounded by cap^2 per
    fingerprint, never document frequency; one (fp) shuffle, one pair
    groupBy."""
    rows = _winnow_selected(spark, sf_dir).selectExpr(
        "doc_id", "explode(array_distinct(wmins)) AS fp"
    )
    groups = (
        rows.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= WINNOW_FP_CAP))
    )
    return (
        groups.select(F.explode(F.expr(_pairs_expr("docs"))).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= WINNOW_MIN_SHARED)
        .selectExpr("doc_a", "doc_b", "n_shared_fp")
    )


DEDUP_WINNOWING_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS kgs FROM documents),
h AS (
  SELECT doc_id, list_transform(kgs, s -> {_h60_duck('s')}) AS hs FROM t),
w AS (
  SELECT doc_id,
         CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
              ELSE list_transform(range(0, greatest(len(hs) - {WINNOW_W}, 0) + 1),
                                  i -> list_aggregate(hs[i + 1 : i + {WINNOW_W}], 'min'))
         END AS wmins
  FROM h),
fps AS (SELECT doc_id, unnest(list_distinct(wmins)) AS fp FROM w),
ok AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING count(*) >= 2 AND count(*) <= {WINNOW_FP_CAP}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_fp
  FROM fps a
  JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN ok ON ok.fp = a.fp
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(n_shared_fp AS BIGINT) AS n_shared_fp
FROM pairs WHERE n_shared_fp >= {WINNOW_MIN_SHARED}
"""


def pipeline_dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-rate-vs-threshold curve: for each Jaccard cut 0.5..0.9, the
    verified near-dup pairs kept, distinct docs flagged, and the corpus
    fraction that would be removed — the table you read BEFORE committing
    to a similarity threshold (RefinedWeb/Dolma tune exactly this knob).
    Thresholds compare on the integer millionth grid the jaccard is
    already rounded to, so 0.6's inexact binary representation can never
    flip a boundary pair.

    Scale: the verified-pairs pipeline runs ONCE (its own bounded lineage);
    the curve on top is a 5-row broadcast cross join and one threshold
    groupBy over the pair set."""
    pairs = dedup_minhash_pairs(spark, sf_dir).selectExpr(
        "doc_b", "CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT) AS jq"
    )
    th = spark.createDataFrame([(t,) for t in range(5, 10)], "t long")
    tot = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count("*").alias("n_docs_total"))
    )
    hits = (
        pairs.crossJoin(F.broadcast(th))
        .filter("jq >= t * 100000")
        .groupBy("t")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_flagged"),
        )
    )
    return (
        th.join(hits, "t", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            mround("CAST(t AS DOUBLE) / 10", 1) + " AS threshold",
            "coalesce(n_pairs, CAST(0 AS BIGINT)) AS n_pairs",
            "coalesce(n_docs_flagged, CAST(0 AS BIGINT)) AS n_docs_flagged",
            mround(
                "CAST(coalesce(n_docs_flagged, 0) AS DOUBLE) / n_docs_total", 6
            )
            + " AS flagged_frac",
        )
    )


PIPELINE_DEDUP_RATE_SQL = (
    "WITH pairs AS (SELECT doc_b, CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)"
    " AS jq FROM ("
    + DEDUP_MINHASH_PAIRS_SQL
    + f"""
) raw),
th AS (SELECT unnest(range(5, 10)) AS t),
tot AS (SELECT count(*) AS n_docs_total FROM documents),
hits AS (
  SELECT t, count(*) AS n_pairs, count(DISTINCT doc_b) AS n_docs_flagged
  FROM pairs CROSS JOIN th WHERE jq >= t * 100000 GROUP BY t)
SELECT {mround('CAST(th.t AS DOUBLE) / 10', 1)} AS threshold,
       CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
       {mround('CAST(coalesce(n_docs_flagged, 0) AS DOUBLE) / n_docs_total', 6)}
         AS flagged_frac
FROM th LEFT JOIN hits ON th.t = hits.t CROSS JOIN tot
"""
)


QUERIES: dict[str, QuerySpec] = {
    "dedup_winnowing_fingerprint": QuerySpec(
        dedup_winnowing_fingerprint, DEDUP_WINNOWING_SQL, "dedup"
    ),
    "dedup_winnowing_pairs": QuerySpec(
        dedup_winnowing_pairs, DEDUP_WINNOWING_PAIRS_SQL, "dedup"
    ),
    "pipeline_dedup_rate_curve": QuerySpec(
        pipeline_dedup_rate_curve, PIPELINE_DEDUP_RATE_SQL, "pipeline"
    ),
    "text_novelty_score": QuerySpec(text_novelty_score, _novelty_sql(), "dedup"),
    "dedup_methods_overlap": QuerySpec(
        dedup_methods_overlap, DEDUP_METHODS_OVERLAP_SQL, "dedup"
    ),
    "dedup_cross_source_matrix": QuerySpec(
        dedup_cross_source_matrix, DEDUP_CROSS_SOURCE_SQL, "dedup"
    ),
    "dedup_minhash_est_vs_exact": QuerySpec(
        dedup_minhash_est_vs_exact, DEDUP_MINHASH_EST_SQL, "dedup"
    ),
    "graph_degree_stats": QuerySpec(graph_degree_stats, GRAPH_DEGREE_SQL, "dedup"),
    "dedup_chunk_exact": QuerySpec(dedup_chunk_exact, DEDUP_CHUNK_SQL, "dedup"),
    "dedup_cluster_keep_best": QuerySpec(
        dedup_cluster_keep_best, DEDUP_CLUSTER_KEEP_BEST_SQL, "dedup"
    ),
    "graph_triangle_count": QuerySpec(graph_triangle_count, GRAPH_TRIANGLE_SQL, "dedup"),
    "graph_reachability_bfs": QuerySpec(
        graph_reachability_bfs, GRAPH_REACHABILITY_SQL, "dedup"
    ),
    "graph_component_sizes": QuerySpec(
        graph_component_sizes, GRAPH_COMPONENT_SIZES_SQL, "dedup"
    ),
    "dedup_audit_sample": QuerySpec(dedup_audit_sample, DEDUP_AUDIT_SAMPLE_SQL, "dedup"),
    "dedup_incremental_admit": QuerySpec(
        dedup_incremental_admit, DEDUP_INCREMENTAL_SQL, "dedup"
    ),
    "dedup_simhash_pairs": QuerySpec(
        dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL, "dedup"
    ),
    "dedup_cluster_resolve": QuerySpec(dedup_cluster_resolve, DEDUP_CLUSTER_SQL, "dedup"),
    "dedup_corpus_materialize": QuerySpec(
        dedup_corpus_materialize, DEDUP_CORPUS_MATERIALIZE_SQL, "dedup"
    ),
    "dedup_url_canonical": QuerySpec(
        dedup_url_canonical, DEDUP_URL_CANONICAL_SQL, "dedup"
    ),
    "graph_pagerank_neardup": QuerySpec(graph_pagerank_neardup, GRAPH_PAGERANK_SQL, "dedup"),
    "dedup_cc_twophase": QuerySpec(dedup_cc_twophase, DEDUP_CLUSTER_SQL, "dedup"),
    "dedup_span_exact": QuerySpec(dedup_span_exact, DEDUP_SPAN_SQL, "dedup"),
    "dedup_embedding_cosine": QuerySpec(dedup_embedding_cosine, _dedup_embedding_sql(), "dedup"),
    "dedup_exact_groups": QuerySpec(dedup_exact_groups, DEDUP_EXACT_GROUPS_SQL, "dedup"),
    "dedup_exact_keep_first": QuerySpec(dedup_exact_keep_first, DEDUP_EXACT_KEEP_SQL, "dedup"),
    "dedup_minhash_signature": QuerySpec(dedup_minhash_signature, DEDUP_MINHASH_SIG_SQL, "dedup"),
    "dedup_minhash_pairs": QuerySpec(dedup_minhash_pairs, DEDUP_MINHASH_PAIRS_SQL, "dedup"),
    "dedup_simhash": QuerySpec(dedup_simhash, DEDUP_SIMHASH_SQL, "dedup"),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL, "dedup"),
    "dedup_ngram_containment": QuerySpec(
        dedup_ngram_containment, DEDUP_NGRAM_CONTAINMENT_SQL, "dedup"
    ),
}


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peeling) over the near-dup graph
# ---------------------------------------------------------------------------

_KCORE_KS = (2, 3)
_KCORE_ROUNDS = 6


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership over the near-dup graph: per node its degree and
    whether it survives 2-core and 3-core peeling (iteratively drop nodes
    with fewer than k surviving neighbors). Coreness separates DENSE
    duplicate cliques — template farms, mirrors, SEO spam, which survive
    peeling — from pendant chains and stars that pairwise counts can't
    distinguish; next to triangle count it is the standard graph-density
    audit before trusting CC clusters.

    Both engines run the SAME fixed _KCORE_ROUNDS peeling rounds (a
    deterministic bounded unroll; `tests` pin that the fixture graphs
    reach the fixpoint a round early, so the bound is slack, and peeling
    is monotone — once the fixpoint is hit further rounds are no-ops, so
    a generous bound never changes the answer). Spark iterates with a
    localCheckpoint per round — the CC/BFS pattern (`dedup.py:595-622`)
    that keeps the lineage flat instead of geometric; the DuckDB oracle is
    the same peel unrolled as MATERIALIZED CTEs.

    Scale: every round is two hash equi-joins + one partial-agg groupBy on
    single doc ids over the banding-bounded EDGE set (never the corpus),
    and the survivor set only shrinks. At web scale, rounds is a knob
    (chains longer than the bound would read as conservative
    over-membership) and the exact-coreness swap is the h-index
    propagation loop on the same checkpointed substrate."""
    und = _edges_neardup(spark, sf_dir)
    nodes = und.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").alias("degree")
    )
    # consumed by the k=2 and k=3 seed filters below plus the final output
    # join — materialize the tiny (doc_id, degree) table once instead of
    # re-aggregating the edge list under every consumer arm
    nodes = nodes.localCheckpoint()
    out = nodes
    for k in _KCORE_KS:
        # Round 1 of the peel is ALWAYS the plain degree filter: with
        # alive_0 = all nodes, the double join keeps every edge, so
        # d == degree and alive_1 == {degree >= k} exactly. Seed from the
        # materialized degree table and skip round 1's two edge joins —
        # one full join round saved per k, same fixed-unroll contract
        # (the remaining loop runs _KCORE_ROUNDS - 1 times; peeling is
        # monotone, so rounds after the fixpoint were no-ops anyway).
        alive = (
            nodes.filter(F.col("degree") >= k).select("doc_id").localCheckpoint()
        )
        prev_n = alive.count()
        for _ in range(_KCORE_ROUNDS - 1):
            alive = (
                und.join(alive.withColumnRenamed("doc_id", "src"), "src")
                .join(alive.withColumnRenamed("doc_id", "dst"), "dst")
                .groupBy("src")
                .agg(F.count("*").alias("d"))
                .filter(F.col("d") >= k)
                .select(F.col("src").alias("doc_id"))
                .localCheckpoint()
            )
            # exact early exit: peeling is monotone (alive_r ⊆ alive_{r-1}),
            # so an equal COUNT proves an equal SET — once the fixpoint is
            # hit every remaining round is a no-op by the same monotonicity
            # the fixed-unroll contract already relies on; skipping them
            # cannot change the answer, only the wall clock. The count reads
            # the just-materialized checkpoint, not a recompute.
            n = alive.count()
            if n == prev_n:
                break
            prev_n = n
        out = out.join(
            alive.withColumn(f"in_{k}core", F.lit(1)), "doc_id", "left"
        )
    return out.selectExpr(
        "doc_id",
        "CAST(degree AS BIGINT) AS degree",
        "CAST(coalesce(in_2core, 0) AS BIGINT) AS in_2core",
        "CAST(coalesce(in_3core, 0) AS BIGINT) AS in_3core",
    )


def _kcore_sql() -> str:
    ctes = []
    for k in _KCORE_KS:
        ctes.append(
            f"a{k}_0 AS MATERIALIZED (SELECT doc_id FROM nodes)"
        )
        for r in range(1, _KCORE_ROUNDS + 1):
            ctes.append(
                f"""a{k}_{r} AS MATERIALIZED (
  SELECT u.src AS doc_id FROM und u
  JOIN a{k}_{r - 1} p ON u.src = p.doc_id
  JOIN a{k}_{r - 1} q ON u.dst = q.doc_id
  GROUP BY u.src HAVING count(*) >= {k})"""
            )
    last = {k: f"a{k}_{_KCORE_ROUNDS}" for k in _KCORE_KS}
    return (
        "WITH e AS MATERIALIZED (SELECT doc_a, doc_b FROM ("
        + DEDUP_MINHASH_PAIRS_SQL
        + """) t),
und AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM e
       UNION ALL SELECT doc_b, doc_a FROM e),
nodes AS (SELECT src AS doc_id, count(*) AS degree FROM und GROUP BY src),
"""
        + ",\n".join(ctes)
        + f"""
SELECT n.doc_id, CAST(n.degree AS BIGINT) AS degree,
       CAST(CASE WHEN c2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_2core,
       CAST(CASE WHEN c3.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_3core
FROM nodes n
LEFT JOIN {last[2]} c2 ON n.doc_id = c2.doc_id
LEFT JOIN {last[3]} c3 ON n.doc_id = c3.doc_id
"""
    )


GRAPH_KCORE_SQL = _kcore_sql()

QUERIES["graph_kcore"] = QuerySpec(graph_kcore, GRAPH_KCORE_SQL, "dedup")


# ---------------------------------------------------------------------------
# Semi-supervised label propagation over the near-dup graph
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3
_LP_SEED_MOD = 3  # deterministic seed set: nodes with doc_id % 3 == 0


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the near-dup graph: nodes
    with doc_id % 3 == 0 are CLAMPED seeds carrying their document's lang
    label; every other node repeatedly adopts the majority label among its
    labeled neighbors (deterministic tie-break: smallest label), keeping
    its previous label when no neighbor is labeled. Three synchronous
    rounds — the transductive "spread the trusted annotation to its
    near-duplicates" pass a labeling pipeline runs before paying for model
    inference on everything (near-dups should inherit the human label).

    Both engines run the SAME fixed _LP_ROUNDS synchronous rounds (Spark:
    per-round localCheckpoint like CC/BFS/kcore; oracle: the rounds
    unrolled as MATERIALIZED CTEs), so parity is exact by construction —
    no convergence assumption enters the contract.

    Scale: each round is one doc-id equi-join of the label table against
    the banding-bounded edge set + one (node, label) partial-agg groupBy +
    one WindowGroupLimit-shaped majority pick — linear in edges, and the
    label table is one row per node. Rounds is the usual iterative knob."""
    und = _edges_neardup(spark, sf_dir)
    nodes = und.select(F.col("src").alias("doc_id")).distinct()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    seeds = (
        nodes.filter(F.col("doc_id") % _LP_SEED_MOD == 0)
        .join(docs, "doc_id")
        .selectExpr("doc_id", "lang AS seed_label")
    )
    # Carry the clamp columns (seed_label, is_seed) INSIDE the label table
    # instead of re-joining the seed set every round: one doc_id equi-join
    # per round (labels x best) instead of two, and the final is_seed join
    # disappears — 4 fewer shuffled joins over the fixed-round loop, with
    # bit-identical clamping (r12 optimization; the update CASE is unchanged).
    labels = nodes.join(
        seeds.withColumn("in_seeds", F.lit(True)), "doc_id", "left"
    ).select(
        F.col("doc_id"),
        F.col("seed_label").alias("label"),
        F.col("seed_label"),
        # membership, NOT seed_label IS NOT NULL: a seed row whose document
        # lang is NULL is still a seed for the is_seed output (the clamp CASE
        # below keys on seed_label exactly like the pre-rewrite join did)
        F.coalesce(F.col("in_seeds"), F.lit(False)).alias("is_seed"),
        # checkpoint replaces the old per-round seeds checkpoint: round 1
        # consumes this table under BOTH its join arms (msgs + update)
    ).localCheckpoint()
    for _ in range(_LP_ROUNDS):
        msgs = (
            und.join(
                labels.selectExpr("doc_id AS src", "label AS nl"), "src"
            )
            .filter(F.col("nl").isNotNull())
            .groupBy(F.col("dst").alias("doc_id"), F.col("nl"))
            .agg(F.count("*").alias("cnt"))
        )
        # majority with smallest-label tie-break as ONE aggregate:
        # min_by over the (-cnt, nl) tuple == ORDER BY cnt DESC, nl ASC
        # LIMIT 1 — replaces the row_number window (same two exchanges but
        # partial map-side aggregation and NO per-partition sort).
        best = msgs.groupBy("doc_id").agg(
            F.expr("min_by(nl, struct(-cnt, nl))").alias("best_label")
        )
        labels = (
            labels.join(best, "doc_id", "left")
            .selectExpr(
                "doc_id",
                "CASE WHEN seed_label IS NOT NULL THEN seed_label"
                " ELSE coalesce(best_label, label) END AS label",
                "seed_label",
                "is_seed",
            )
            .localCheckpoint()
        )
    return labels.selectExpr(
        "doc_id", "CAST(is_seed AS BIGINT) AS is_seed", "label"
    )


def _label_prop_sql() -> str:
    ctes = []
    prev = "l0"
    for r in range(1, _LP_ROUNDS + 1):
        ctes.append(
            f"""m{r} AS MATERIALIZED (
  SELECT u.dst AS doc_id, l.label AS nl, count(*) AS cnt
  FROM und u JOIN {prev} l ON u.src = l.doc_id
  WHERE l.label IS NOT NULL GROUP BY 1, 2),
b{r} AS MATERIALIZED (
  SELECT doc_id, nl AS best_label FROM (
    SELECT doc_id, nl,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, nl ASC) AS rn
    FROM m{r}) t WHERE rn = 1),
l{r} AS MATERIALIZED (
  SELECT l.doc_id,
         CASE WHEN s.doc_id IS NOT NULL THEN s.seed_label
              ELSE coalesce(b.best_label, l.label) END AS label
  FROM {prev} l
  LEFT JOIN b{r} b ON l.doc_id = b.doc_id
  LEFT JOIN seeds s ON l.doc_id = s.doc_id)"""
        )
        prev = f"l{r}"
    return (
        "WITH e AS MATERIALIZED (SELECT doc_a, doc_b FROM ("
        + DEDUP_MINHASH_PAIRS_SQL
        + f""") t),
und AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM e
       UNION ALL SELECT doc_b, doc_a FROM e),
nodes AS (SELECT DISTINCT src AS doc_id FROM und),
seeds AS MATERIALIZED (
  SELECT n.doc_id, d.lang AS seed_label
  FROM nodes n JOIN documents d ON n.doc_id = d.doc_id
  WHERE n.doc_id % {_LP_SEED_MOD} = 0),
l0 AS MATERIALIZED (
  SELECT n.doc_id, s.seed_label AS label
  FROM nodes n LEFT JOIN seeds s ON n.doc_id = s.doc_id),
"""
        + ",\n".join(ctes)
        + f"""
SELECT l.doc_id,
       CAST(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_seed,
       l.label
FROM {prev} l LEFT JOIN seeds s ON l.doc_id = s.doc_id
"""
    )


GRAPH_LABEL_PROP_SQL = _label_prop_sql()

QUERIES["graph_label_propagation"] = QuerySpec(
    graph_label_propagation, GRAPH_LABEL_PROP_SQL, "dedup"
)


# --- Link prediction over the co-purchase graph (common-neighbor Jaccard) --


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-purchase graph: for every
    NON-adjacent part pair whose co-purchase neighborhoods share >= 2
    common neighbors, the common-neighbor count and neighborhood Jaccard
    cn/(deg_a + deg_b - cn) — the "bought together with the same things
    but never together yet" recommendation candidate, the classic
    common-neighbors link predictor (Liben-Nowell & Kleinberg). Run on
    the SAME repeat-co-purchase edge set `orders_assoc_rules` mines
    (pairs co-occurring in >= 2 orders), so predicted links are exactly
    the rules the next data refresh would be expected to add. (The
    MinHash near-dup graph is deliberately NOT the substrate: LSH
    components are cliques, so it has no non-adjacent 2-hop pairs —
    measured empty at both fixture SFs.)

    Exactness: counts are integers; Jaccard is one fixed division,
    mrounded.

    Scale: wedges enumerate through the CENTER node of the undirected
    edge list (two hash equi-joins on single part ids over the
    support-thresholded edge set — the triangle-count shape), so pair
    fan-out is sum deg(x)^2 over the SPARSE co-purchase graph, never
    catalog-quadratic; at billion-edge scale cap hub degrees first (the
    standard wedge sampling). Existing edges drop via one anti-join;
    degrees ride in as two broadcast aggregates of the same edge list."""
    from tmapreduce_spark.sources.catalog import spread

    li = spread(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        spark,
        "l_orderkey",
    )
    e = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey)) AS parts"))
        .filter(F.size("parts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(parts, a -> transform(parts, "
                    "b -> struct(a AS pa, b AS pb)))), p -> p.pa < p.pb)"
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("pa", "pb")
        # the edge list feeds FOUR consumers (two wedge legs, the
        # anti-join, degrees) — materialize it once (the CC/BFS
        # localCheckpoint precedent) instead of re-running the basket
        # aggregation per consumer
        .localCheckpoint(eager=True)
    )
    und = e.union(e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb")))
    w1, w2 = und.alias("w1"), und.alias("w2")
    cand = (
        w1.join(w2, F.col("w1.pa") == F.col("w2.pa"))
        .filter(F.col("w1.pb") < F.col("w2.pb"))
        .select(F.col("w1.pb").alias("a"), F.col("w2.pb").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
        .filter(F.col("cn") >= 2)
    )
    non_adj = cand.join(
        e.selectExpr("pa AS a", "pb AS b"), ["a", "b"], "left_anti"
    )
    deg = und.groupBy("pa").agg(F.count("*").alias("deg"))
    return (
        non_adj.join(F.broadcast(deg.selectExpr("pa AS a", "deg AS deg_a")), "a")
        .join(F.broadcast(deg.selectExpr("pa AS b", "deg AS deg_b")), "b")
        .selectExpr(
            "a AS part_a",
            "b AS part_b",
            "cn AS common_neighbors",
            "deg_a",
            "deg_b",
            mround("CAST(cn AS DOUBLE) / (deg_a + deg_b - cn)", 6)
            + " AS jaccard",
        )
    )


GRAPH_LINK_PRED_SQL = (
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2),
und AS (
  SELECT pa, pb FROM e
  UNION ALL SELECT pb AS pa, pa AS pb FROM e),
cand AS (
  SELECT w1.pb AS a, w2.pb AS b, CAST(count(*) AS BIGINT) AS cn
  FROM und w1 JOIN und w2 ON w1.pa = w2.pa
  WHERE w1.pb < w2.pb
  GROUP BY 1, 2
  HAVING count(*) >= 2),
non_adj AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = c.a AND e.pb = c.b)),
deg AS (SELECT pa, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1)
SELECT n.a AS part_a, n.b AS part_b, n.cn AS common_neighbors,
       da.deg AS deg_a, db.deg AS deg_b,
       """
    + mround("CAST(n.cn AS DOUBLE) / (da.deg + db.deg - n.cn)", 6)
    + """ AS jaccard
FROM non_adj n
JOIN deg da ON da.pa = n.a
JOIN deg db ON db.pa = n.b
"""
)


QUERIES["graph_link_prediction"] = QuerySpec(
    graph_link_prediction, GRAPH_LINK_PRED_SQL, "dedup"
)


# --- Modularity of a node partition over the co-purchase graph -------------

def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition over the repeat-co-purchase
    part graph: per brand community, internal-edge share e_c/m, expected
    share (d_c/2m)^2 under the degree-preserving null, and the contribution
    e_c/m - (d_c/2m)^2; plus the overall Q — the partition-quality score
    that tells whether an attribute (here p_brand) explains the graph's
    edge structure (the evaluation companion to `graph_label_propagation`,
    which FINDS communities; this scores a given partition exactly).

    Exactness: e_c, d_c, m are exact int64 over the same support->=2 edge
    set `graph_link_prediction` wedges (Q = (4*m*sum_e_c - sum_d_c^2) /
    (4m^2) in integers until two fixed divisions).

    Scale: the corpus reduces to the thresholded edge list once
    (basket-bounded pair fan-out, the assoc-rules substrate); community
    tagging is two broadcast joins of the parts dim onto edge endpoints;
    everything after runs on the |brands|-row community table with the
    2-value overall aggregate broadcast back."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    e = (
        li.groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey)) AS parts"))
        .filter(F.size("parts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(parts, a -> transform(parts, "
                    "b -> struct(a AS pa, b AS pb)))), p -> p.pa < p.pb)"
                )
            ).alias("pr")
        )
        .groupBy("pr.pa", "pr.pb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("pa", "pb")
        .localCheckpoint(eager=True)  # 3 consumers: tagging, degrees, m
    )
    tagged = (
        e.join(F.broadcast(p.selectExpr("p_partkey AS pa", "p_brand AS ba")), "pa")
        .join(F.broadcast(p.selectExpr("p_partkey AS pb", "p_brand AS bb")), "pb")
    )
    internal = (
        tagged.filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    und = e.union(e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb")))
    deg_c = (
        und.join(F.broadcast(p.selectExpr("p_partkey AS pa", "p_brand AS brand")), "pa")
        .groupBy("brand")
        .agg(
            F.count("*").cast("bigint").alias("d_c"),
            F.countDistinct("pa").cast("bigint").alias("n_nodes"),
        )
    )
    # broadcast the |brands|-row internal side (no SMJ exchange+sort for two
    # tiny tables) and materialize per once: BOTH the output rows and the
    # broadcast overall aggregate consume it, and without the checkpoint the
    # whole deg_c/internal subtree executed twice under the crossJoin
    per = (
        deg_c.join(F.broadcast(internal), "brand", "left")
        .selectExpr("brand", "n_nodes", "coalesce(e_c, 0) AS e_c", "d_c")
        # lazy: materialized by the broadcast-side job of the final action
        # (no extra blocking job), then reused by the output-row scan
        .localCheckpoint(eager=False)
    )
    overall = per.agg(
        F.sum("e_c").cast("bigint").alias("sum_ec"),
        F.sum(F.expr("d_c * d_c")).cast("bigint").alias("sum_dc2"),
        (F.sum("d_c") / 2).cast("bigint").alias("m"),
    )
    return per.crossJoin(F.broadcast(overall)).selectExpr(
        "brand", "n_nodes", "e_c", "d_c",
        mround("CAST(e_c AS DOUBLE) / m", 6) + " AS internal_share",
        mround("CAST(d_c AS DOUBLE) * d_c / (CAST(4 AS DOUBLE) * m * m)", 6)
        + " AS expected_share",
        mround(
            "CAST(e_c AS DOUBLE) / m - CAST(d_c AS DOUBLE) * d_c / (CAST(4 AS DOUBLE) * m * m)", 6
        ) + " AS contribution",
        mround(
            "(CAST(4 AS DOUBLE) * m * sum_ec - CAST(sum_dc2 AS DOUBLE)) / (CAST(4 AS DOUBLE) * m * m)", 6
        ) + " AS modularity_q",
    )


GRAPH_MODULARITY_SQL = (
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2),
tagged AS (
  SELECT e.pa, e.pb, ta.p_brand AS ba, tb.p_brand AS bb
  FROM e JOIN part ta ON ta.p_partkey = e.pa
         JOIN part tb ON tb.p_partkey = e.pb),
internal AS (
  SELECT ba AS brand, CAST(count(*) AS BIGINT) AS e_c
  FROM tagged WHERE ba = bb GROUP BY 1),
und AS (
  SELECT pa, pb FROM e UNION ALL SELECT pb AS pa, pa AS pb FROM e),
deg_c AS (
  SELECT p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS d_c,
         CAST(count(DISTINCT und.pa) AS BIGINT) AS n_nodes
  FROM und JOIN part p ON p.p_partkey = und.pa
  GROUP BY 1),
per AS (
  SELECT d.brand, d.n_nodes, coalesce(i.e_c, 0) AS e_c, d.d_c
  FROM deg_c d LEFT JOIN internal i ON i.brand = d.brand),
overall AS (
  SELECT CAST(sum(e_c) AS BIGINT) AS sum_ec,
         CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc2,
         CAST(sum(d_c) // 2 AS BIGINT) AS m
  FROM per)
SELECT brand, n_nodes, e_c, d_c,
       """
    + mround("CAST(e_c AS DOUBLE) / m", 6)
    + """ AS internal_share,
       """
    + mround("CAST(d_c AS DOUBLE) * d_c / (CAST(4 AS DOUBLE) * m * m)", 6)
    + """ AS expected_share,
       """
    + mround("CAST(e_c AS DOUBLE) / m - CAST(d_c AS DOUBLE) * d_c / (CAST(4 AS DOUBLE) * m * m)", 6)
    + """ AS contribution,
       """
    + mround("(CAST(4 AS DOUBLE) * m * sum_ec - CAST(sum_dc2 AS DOUBLE)) / (CAST(4 AS DOUBLE) * m * m)", 6)
    + """ AS modularity_q
FROM per CROSS JOIN overall
"""
)


QUERIES["graph_modularity"] = QuerySpec(
    graph_modularity, GRAPH_MODULARITY_SQL, "dedup"
)


# ---------------------------------------------------------------------------
# Local clustering coefficient over the near-dup graph — round 7
# ---------------------------------------------------------------------------


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the near-dup graph:
    cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the density of each node's
    neighborhood. Next to the global triangle count this separates CLIQUE
    nodes (template farms / mirror sets where every near-dup also matches
    every other, cc → 1) from STAR hubs (one boilerplate page matching
    many unrelated pages, cc → 0) — exactly the call a dedup pipeline
    makes when deciding keep-one-per-cluster vs span-level surgery
    (`graph_triangle_count`'s docstring motivates the global version;
    this is its per-node refinement, cf. Watts–Strogatz).

    Per-node triangles ride the SAME id-oriented wedge join as
    `graph_triangle_count` (a<b<c each counted once, exploded to its 3
    corners); degrees come from one explode+groupBy. The coefficient is
    NULL for degree-1 nodes (undefined, no wedge exists). Exact: counts
    are integers, the single division is presented via mround(6).

    Scale: the canonical (doc_a < doc_b) edge set is localCheckpointed
    ONCE and feeds all three wedge-join arms plus the degree aggregate —
    four consumers, one materialization (the `_edges_neardup` pattern);
    both joins are hash equi-joins on single ids over banding-bounded
    edges. At billion-edge scale, orient by degree instead of id
    (compact-forward) for the sqrt(|E|) wedge bound — same plan shape."""
    e = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    tri_per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
    )
    deg = (
        e.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.join(tri_per_node, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(degree AS BIGINT) AS degree",
            "CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles",
            "CASE WHEN degree < 2 THEN NULL ELSE "
            + mround(
                "CAST(2 * coalesce(n_tri, 0) AS DOUBLE) / (degree * (degree - 1))", 6
            )
            + " END AS clustering_coeff",
        )
    )


GRAPH_CLUSTERING_COEFF_SQL = (
    "WITH e AS (SELECT doc_a, doc_b FROM (" + DEDUP_MINHASH_PAIRS_SQL + """) t),
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM e e1
  JOIN e e2 ON e1.doc_b = e2.doc_a
  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
tri_nodes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) x
  GROUP BY doc_id),
deg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT doc_a AS doc_id FROM e UNION ALL SELECT doc_b FROM e) y
  GROUP BY doc_id)
SELECT d.doc_id, d.degree,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree < 2 THEN NULL ELSE """
    + mround(
        "CAST(2 * coalesce(t.n_tri, 0) AS DOUBLE) / (d.degree * (d.degree - 1))", 6
    )
    + """ END AS clustering_coeff
FROM deg d LEFT JOIN tri_nodes t ON d.doc_id = t.doc_id
"""
)


QUERIES["graph_clustering_coeff"] = QuerySpec(
    graph_clustering_coeff, GRAPH_CLUSTERING_COEFF_SQL, "dedup"
)


# ---------------------------------------------------------------------------
# LSH S-curve calibration audit — round 7
# ---------------------------------------------------------------------------

# Theoretical band-collision probability p(s) = 1 - (1 - s^r)^b for the
# catalog's MinHash geometry (b = NUM_PERMS/BAND_R bands of r = BAND_R rows),
# precomputed in Python at import and embedded as LITERALS in both engines —
# the Benford pattern: no runtime pow() whose last-bit behavior could differ.
_SCURVE_GRID = [
    (s20, round(1.0 - (1.0 - (s20 / 20.0) ** BAND_R) ** (NUM_PERMS // BAND_R), 6))
    for s20 in range(0, 20)
]


def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve calibration audit: the theoretical detection probability
    of the catalog's MinHash geometry (b=4 bands × r=4 rows: p(s) =
    1−(1−s⁴)⁴, 50% capture at s≈0.64) on a 0.05 Jaccard grid, next to the
    EMPIRICAL verified-pair counts per Jaccard bucket. This is the table
    that answers "is NUM_PERMS/BAND_R right for this corpus?" before anyone
    re-tunes: mass piled just below the S-curve knee means the geometry is
    dropping real near-dups (add bands); mass far above it means wasted
    verification (add rows). Complements `dedup_minhash_est_vs_exact`
    (estimator accuracy) with the RECALL side of the calibration story.

    Exactness: theory values are import-time Python constants embedded as
    literals in BOTH engines (the Benford precedent — no runtime pow());
    empirical buckets are least(floor(jaccard·20), 19) on the already
    mround(6)-pinned pair Jaccard — the identical double expression in both
    engines on identical inputs.

    Scale: a 20-row constant dim (s20 = 0..19 — bucket 0 keeps verified
    pairs with jaccard < 0.05 visible instead of dropping them off the
    grid) left-joined with one partial-agg groupBy over the
    banding-bounded verified pair set — audit cost rides entirely on the
    detector's own pipeline."""
    grid = spark.createDataFrame(_SCURVE_GRID, "s20 INT, detect_prob DOUBLE")
    emp = (
        dedup_minhash_pairs(spark, sf_dir)
        .selectExpr("least(CAST(floor(jaccard * 20) AS INT), 19) AS s20")
        .groupBy("s20")
        .agg(F.count("*").alias("n_pairs"))
    )
    return (
        grid.join(emp, "s20", "left")
        .selectExpr(
            mround("CAST(s20 AS DOUBLE) / 20", 2) + " AS jaccard_lo",
            "detect_prob",
            "CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs",
        )
    )


DEDUP_LSH_SCURVE_SQL = (
    "WITH grid(s20, detect_prob) AS (VALUES "
    + ", ".join(f"({s20}, {p})" for s20, p in _SCURVE_GRID)
    + "),\npairs AS (SELECT jaccard FROM ("
    + DEDUP_MINHASH_PAIRS_SQL
    + """) t),
emp AS (
  SELECT least(CAST(floor(jaccard * 20) AS INT), 19) AS s20,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1)
SELECT """
    + mround("CAST(g.s20 AS DOUBLE) / 20", 2)
    + """ AS jaccard_lo,
       CAST(g.detect_prob AS DOUBLE) AS detect_prob,
       CAST(coalesce(e.n_pairs, 0) AS BIGINT) AS n_pairs
FROM grid g LEFT JOIN emp e ON g.s20 = e.s20
"""
)


QUERIES["dedup_lsh_scurve"] = QuerySpec(
    dedup_lsh_scurve, DEDUP_LSH_SCURVE_SQL, "dedup"
)


# ---------------------------------------------------------------------------
# Leakage-safe train/val split (cluster-consistent assignment) — round 9
# ---------------------------------------------------------------------------

SPLIT_TRAIN_PCT = 80  # 80/20 content-addressed split


def _split_bucket(key: str, dialect: str) -> str:
    """md5-derived 0..99 bucket of an int key — the pipeline_train_val_split
    hash, portable across engines."""
    if dialect == "spark":
        return (
            f"CAST(conv(substring(md5(CAST({key} AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) % 100"
        )
    return f"CAST(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % 100"


def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-consistent train/val split — the eval-contamination guard
    every serious pretraining pipeline runs: assigning splits by
    md5(doc_id) lets near-duplicate pairs straddle train/val (the val set
    then "memorizes" training text and benchmarks inflate), so the SAFE
    assignment hashes each document's near-dup CLUSTER representative
    (min-doc_id of its connected component; singletons are their own
    representative) — components move atomically and crossing edges are
    structurally zero. Reports both assignments side by side: split sizes,
    the near-dup edge count, and the leaked-edge count under each policy
    (safe is 0 BY CONSTRUCTION — the audit column proves it; naive leaks
    whatever the hash happens to cut).

    Scale: components come from the shared banding-bounded CC
    (:func:`dedup_cluster_resolve` — iterative min-label over the
    localCheckpoint-ed edge substrate); the split is a pure per-row hash
    (no shuffle), the leak audit is two broadcast-able equi-joins of the
    EDGE list (banding-bounded, never all pairs) against the assignment,
    and the answer is a 1-row fold."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    # ONE pair build serves both the CC and the leak audit (materialized —
    # without this the audit re-ran the whole signature/band/verify lineage
    # and the plan carried 3 Generates).
    pairs = (
        dedup_minhash_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= CLUSTER_JACCARD_MIN)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    edges = pairs.unionAll(pairs.selectExpr("doc_b AS doc_a", "doc_a AS doc_b"))
    labels = _cc_min_labels(edges).selectExpr("doc_id", "label AS cluster_id")
    assigned = (
        d.join(labels, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(cluster_id, doc_id) AS rep",
        )
        .selectExpr(
            "doc_id",
            f"CASE WHEN {_split_bucket('rep', 'spark')} < {SPLIT_TRAIN_PCT}"
            " THEN 1 ELSE 0 END AS safe_train",
            f"CASE WHEN {_split_bucket('doc_id', 'spark')} < {SPLIT_TRAIN_PCT}"
            " THEN 1 ELSE 0 END AS naive_train",
        )
        .localCheckpoint()  # reused by the size fold AND both edge probes
    )
    a = assigned.selectExpr(
        "doc_id AS doc_a", "safe_train AS sa", "naive_train AS na"
    )
    b = assigned.selectExpr(
        "doc_id AS doc_b", "safe_train AS sb", "naive_train AS nb"
    )
    edge_audit = pairs.join(a, "doc_a").join(b, "doc_b").agg(
        F.count("*").cast("bigint").alias("n_neardup_edges"),
        F.sum(F.expr("CASE WHEN sa <> sb THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("leaked_edges_safe"),
        F.sum(F.expr("CASE WHEN na <> nb THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("leaked_edges_naive"),
    )
    sizes = assigned.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("safe_train").cast("bigint").alias("n_train_safe"),
        F.sum("naive_train").cast("bigint").alias("n_train_naive"),
    )
    return sizes.crossJoin(F.broadcast(edge_audit)).selectExpr(
        "n_docs",
        "n_train_safe",
        "CAST(n_docs - n_train_safe AS BIGINT) AS n_val_safe",
        "n_train_naive",
        "CAST(n_docs - n_train_naive AS BIGINT) AS n_val_naive",
        "n_neardup_edges",
        "leaked_edges_safe",
        "leaked_edges_naive",
    )


PIPELINE_LEAKAGE_SPLIT_SQL = (
    "WITH RECURSIVE pairs AS (" + DEDUP_MINHASH_PAIRS_SQL + ")"
    + f"""
, strong AS (
  SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {CLUSTER_JACCARD_MIN}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM strong
  UNION
  SELECT doc_b, doc_a FROM strong),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, rc.r FROM edges e JOIN reach rc ON rc.u = e.v),
comp AS (
  SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
assigned AS (
  SELECT d.doc_id,
         CASE WHEN {_split_bucket("coalesce(c.cluster_id, d.doc_id)", "duck")}
              < {SPLIT_TRAIN_PCT} THEN 1 ELSE 0 END AS safe_train,
         CASE WHEN {_split_bucket("d.doc_id", "duck")}
              < {SPLIT_TRAIN_PCT} THEN 1 ELSE 0 END AS naive_train
  FROM documents d LEFT JOIN comp c USING (doc_id)),
edge_audit AS (
  SELECT CAST(count(*) AS BIGINT) AS n_neardup_edges,
         CAST(sum(CASE WHEN a.safe_train <> b.safe_train THEN 1 ELSE 0 END)
           AS BIGINT) AS leaked_edges_safe,
         CAST(sum(CASE WHEN a.naive_train <> b.naive_train THEN 1 ELSE 0 END)
           AS BIGINT) AS leaked_edges_naive
  FROM strong e
  JOIN assigned a ON a.doc_id = e.doc_a
  JOIN assigned b ON b.doc_id = e.doc_b),
sizes AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(safe_train) AS BIGINT) AS n_train_safe,
         CAST(sum(naive_train) AS BIGINT) AS n_train_naive
  FROM assigned)
SELECT n_docs, n_train_safe,
       CAST(n_docs - n_train_safe AS BIGINT) AS n_val_safe,
       n_train_naive,
       CAST(n_docs - n_train_naive AS BIGINT) AS n_val_naive,
       n_neardup_edges, leaked_edges_safe, leaked_edges_naive
FROM sizes CROSS JOIN edge_audit
"""
)

QUERIES["pipeline_leakage_safe_split"] = QuerySpec(
    pipeline_leakage_safe_split, PIPELINE_LEAKAGE_SPLIT_SQL, "pipeline"
)


# ---------------------------------------------------------------------------
# Boundary-stitch detector (suffix/prefix overlap) — round 9
# ---------------------------------------------------------------------------

STITCH_K = 12  # boundary key width: suffix_12(a) == prefix_12(b) generates
STITCH_MAX_L = 256  # probe cap: overlaps longer than a chunk never matter


def dedup_boundary_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-boundary duplication detector: document pairs where a's SUFFIX
    equals b's PREFIX — the signature of a sliding-window chunker or a
    crawler that re-emits page tails as the next page's head (exact and
    near-dup both miss it: the shared text is a fraction of either doc).
    Candidates come from a 12-char boundary-key equi-join; each candidate's
    true maximal overlap length (12..256) is then verified by direct
    substring comparison. Emits (doc_a, doc_b, overlap_len).

    Determinism: pure string equality end to end — no hashing, no floats.

    Scale: the LSH discipline applied to boundaries — the key join shuffles
    only (12-char key, doc_id) pairs, never text; texts are joined back BY
    ID for the candidate set alone, and the L-probe explode (<= 245 rows
    per candidate, capped at STITCH_MAX_L so verification cost is O(cap^2)
    per candidate independent of document length) touches candidates only.
    At 100 TB this is two hash joins on ids plus candidate-local work."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(f"length(text) >= {STITCH_K}")
        .selectExpr("doc_id", "text", "length(text) AS ln")
    )
    pre = d.selectExpr(
        "doc_id AS doc_b", f"substring(text, 1, {STITCH_K}) AS bkey"
    )
    suf = d.selectExpr(
        "doc_id AS doc_a",
        f"substring(text, ln - {STITCH_K - 1}, {STITCH_K}) AS bkey",
    )
    cand = suf.join(pre, "bkey").filter("doc_a <> doc_b").select(
        "doc_a", "doc_b"
    )
    ta = d.selectExpr("doc_id AS doc_a", "text AS t_a", "ln AS l_a")
    tb = d.selectExpr("doc_id AS doc_b", "text AS t_b", "ln AS l_b")
    # NOTE (r12): rewriting this explode as one aggregate() fold per
    # candidate was A/B-tested and is 2x SLOWER (1.79 s -> 3.30 s isolated):
    # the interpreted higher-order lambda knocks the whole stage out of
    # codegen, while this Generate+filter shape stays codegen'd and the
    # partial aggregation collapses the fan-out before the exchange.
    probed = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"explode(sequence({STITCH_K},"
            f" least({STITCH_MAX_L}, l_a, l_b))) AS L",
            "t_a",
            "t_b",
            "l_a",
        )
        .filter("substring(t_a, l_a - L + 1, L) = substring(t_b, 1, L)")
    )
    return probed.groupBy("doc_a", "doc_b").agg(
        F.max("L").cast("bigint").alias("overlap_len")
    )


DEDUP_BOUNDARY_STITCH_SQL = f"""
WITH d AS (
  SELECT doc_id, text, len(text) AS ln FROM documents
  WHERE len(text) >= {STITCH_K}),
pre AS (SELECT doc_id AS doc_b, substr(text, 1, {STITCH_K}) AS bkey FROM d),
suf AS (SELECT doc_id AS doc_a,
               substr(text, ln - {STITCH_K - 1}, {STITCH_K}) AS bkey
        FROM d),
cand AS (
  SELECT doc_a, doc_b FROM suf JOIN pre USING (bkey) WHERE doc_a <> doc_b),
probed AS (
  SELECT doc_a, doc_b, u.L
  FROM cand
  JOIN (SELECT doc_id AS doc_a, text AS t_a, ln AS l_a FROM d) USING (doc_a)
  JOIN (SELECT doc_id AS doc_b, text AS t_b, ln AS l_b FROM d) USING (doc_b),
  unnest(generate_series({STITCH_K}, least({STITCH_MAX_L}, l_a, l_b))) AS u(L)
  WHERE substr(t_a, l_a - u.L + 1, u.L) = substr(t_b, 1, u.L))
SELECT doc_a, doc_b, CAST(max(L) AS BIGINT) AS overlap_len
FROM probed GROUP BY doc_a, doc_b
"""

QUERIES["dedup_boundary_stitch"] = QuerySpec(
    dedup_boundary_stitch, DEDUP_BOUNDARY_STITCH_SQL, "dedup"
)


# ---------------------------------------------------------------------------
# McNemar paired test of the two near-dup detectors — round 9
# ---------------------------------------------------------------------------


def eval_mcnemar_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test of MinHash-LSH vs SimHash as duplicate
    detectors over the SAME document universe: the 2x2 paired table (both
    flag, only MinHash, only SimHash, neither) and the continuity-corrected
    chi-square max(abs(b - c) - 1, 0)^2 / (b + c) — the standard Edwards
    form: the clamp keeps equal nonzero discordant cells at exactly 0
    instead of overshooting to 1/(b+c) (r09 ADVICE) — the correct way
    to ask `dedup_methods_overlap`'s question ("do the detectors disagree
    more than chance?"): marginal-homogeneity inference on the DISCORDANT
    cells, which the raw Jaccard overlap cannot give.

    Determinism: flag sets are the exact detector pipelines (md5-derived
    integer hashing throughout); every cell is an int64 count; the
    statistic is one fixed IEEE division.

    Scale: rides the factored `_overlap_tags` union with the exact-dup
    branch pruned at OPTIMIZATION TIME (the m-filter folds that branch to
    an empty relation, so only the two banded detectors run); the per-doc
    pivot and 2x2 fold run on the flagged-id set, and the universe size is
    a broadcast 1-row count."""
    tags = (
        _overlap_tags(spark, sf_dir)
        .filter("m IN ('minhash', 'simhash')")
        .localCheckpoint()
    )
    per_doc = tags.groupBy("doc_id").agg(
        F.expr("max(CASE WHEN m = 'minhash' THEN 1 ELSE 0 END)").alias("f_mh"),
        F.expr("max(CASE WHEN m = 'simhash' THEN 1 ELSE 0 END)").alias("f_sh"),
    )
    cells = per_doc.agg(
        F.expr("count(*) FILTER (WHERE f_mh = 1 AND f_sh = 1)")
        .cast("bigint")
        .alias("n_both"),
        F.expr("count(*) FILTER (WHERE f_mh = 1 AND f_sh = 0)")
        .cast("bigint")
        .alias("n_only_minhash"),
        F.expr("count(*) FILTER (WHERE f_mh = 0 AND f_sh = 1)")
        .cast("bigint")
        .alias("n_only_simhash"),
    )
    total = load_table(spark, sf_dir, "documents").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return cells.crossJoin(F.broadcast(total)).selectExpr(
        "n_docs",
        "CAST(n_both + n_only_minhash AS BIGINT) AS n_minhash",
        "CAST(n_both + n_only_simhash AS BIGINT) AS n_simhash",
        "n_both",
        "n_only_minhash",
        "n_only_simhash",
        mround(
            "CASE WHEN n_only_minhash + n_only_simhash = 0"
            " THEN CAST(0 AS DOUBLE)"
            " ELSE CAST(greatest(abs(n_only_minhash - n_only_simhash) - 1, 0) AS DOUBLE)"
            " * CAST(greatest(abs(n_only_minhash - n_only_simhash) - 1, 0) AS DOUBLE)"
            " / (n_only_minhash + n_only_simhash) END",
            6,
        )
        + " AS chi2_mcnemar",
    )


EVAL_MCNEMAR_SQL = (
    """
WITH mh AS (SELECT DISTINCT doc_b AS doc_id FROM ("""
    + DEDUP_MINHASH_PAIRS_SQL
    + """) t),
sh AS (SELECT DISTINCT doc_b AS doc_id FROM ("""
    + DEDUP_SIMHASH_PAIRS_SQL
    + f""") t),
tags AS (
  SELECT doc_id, 'minhash' AS m FROM mh
  UNION SELECT doc_id, 'simhash' FROM sh),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN m = 'minhash' THEN 1 ELSE 0 END) AS f_mh,
         max(CASE WHEN m = 'simhash' THEN 1 ELSE 0 END) AS f_sh
  FROM tags GROUP BY doc_id),
cells AS (
  SELECT CAST(count(*) FILTER (WHERE f_mh = 1 AND f_sh = 1) AS BIGINT) AS n_both,
         CAST(count(*) FILTER (WHERE f_mh = 1 AND f_sh = 0) AS BIGINT) AS n_only_minhash,
         CAST(count(*) FILTER (WHERE f_mh = 0 AND f_sh = 1) AS BIGINT) AS n_only_simhash
  FROM per_doc),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT n_docs,
       CAST(n_both + n_only_minhash AS BIGINT) AS n_minhash,
       CAST(n_both + n_only_simhash AS BIGINT) AS n_simhash,
       n_both, n_only_minhash, n_only_simhash,
       {mround(
           "CASE WHEN n_only_minhash + n_only_simhash = 0"
           " THEN CAST(0 AS DOUBLE)"
           " ELSE CAST(greatest(abs(n_only_minhash - n_only_simhash) - 1, 0) AS DOUBLE)"
           " * CAST(greatest(abs(n_only_minhash - n_only_simhash) - 1, 0) AS DOUBLE)"
           " / (n_only_minhash + n_only_simhash) END", 6)} AS chi2_mcnemar
FROM cells CROSS JOIN total
"""
)

QUERIES["eval_mcnemar_dedup"] = QuerySpec(
    eval_mcnemar_dedup, EVAL_MCNEMAR_SQL, "eval"
)


# ---------------------------------------------------------------------------
# Degree assortativity of the near-dup graph — round 9
# ---------------------------------------------------------------------------


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the near-duplicate graph: the
    Pearson correlation of (deg(src), deg(dst)) over the directed edge
    list (both orientations — the standard undirected treatment). Positive
    r = hubs link to hubs (one template family duplicated en masse);
    negative r = star patterns (one canonical page copied by many
    singletons) — the structural fingerprint that tells a dedup curator
    WHICH cluster shape dominates before choosing keep-best vs keep-first.

    Exactness: degrees are integer counts; the six moment sums are int64
    (`pearson_txt` casts each once to DOUBLE for the fixed combination) —
    reduction order is irrelevant end to end.

    Scale: rides the shared `_edges_neardup` substrate (banded LSH, never
    all-pairs); degrees are one partial-agg groupBy over the edge list and
    join back twice BY NODE KEY; the correlation is a 1-row fold."""
    from tmapreduce_spark.parity import pearson_txt

    edges = _edges_neardup(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    j = (
        edges.join(deg.selectExpr("src", "deg AS dx"), "src")
        .join(deg.selectExpr("src AS dst", "deg AS dy"), "dst")
    )
    agg = j.agg(
        F.count("*").cast("bigint").alias("n_dir_edges"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.expr("dx * dx")).cast("bigint").alias("sxx"),
        F.sum(F.expr("dy * dy")).cast("bigint").alias("syy"),
        F.sum(F.expr("dx * dy")).cast("bigint").alias("sxy"),
    )
    return agg.selectExpr(
        "n_dir_edges",
        pearson_txt("n_dir_edges", "sx", "sy", "sxx", "syy", "sxy")
        + " AS assortativity",
    )


def _assortativity_sql() -> str:
    from tmapreduce_spark.parity import pearson_txt

    return (
        """
WITH pairs AS (SELECT * FROM ("""
        + DEDUP_MINHASH_PAIRS_SQL
        + f""") t_pairs),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
j AS (
  SELECT a.deg AS dx, b.deg AS dy
  FROM edges JOIN deg a ON edges.src = a.src
             JOIN deg b ON edges.dst = b.src),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_dir_edges,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM j)
SELECT n_dir_edges,
       {pearson_txt("n_dir_edges", "sx", "sy", "sxx", "syy", "sxy")} AS assortativity
FROM agg
"""
    )


QUERIES["graph_assortativity"] = QuerySpec(
    graph_assortativity, _assortativity_sql(), "dedup"
)


# ---------------------------------------------------------------------------
# Capture-recapture duplicate-population estimate — round 10
# ---------------------------------------------------------------------------
#
# The ecology estimator applied to dedup coverage: treat MinHash-LSH and
# SimHash as two independent "capture" surveys of the SAME duplicate
# population; the Chapman estimator N_hat = (n1+1)(n2+1)/(m+1) - 1 then
# estimates how many duplicate documents exist INCLUDING the ones neither
# detector flagged — the "how much did we miss" number eval_mcnemar_dedup's
# disagreement test cannot give. Rides the same factored _overlap_tags
# union (candidates-only, no all-pairs anywhere).


def eval_capture_recapture_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: both detectors' flag counts, the overlap, the observed
    union, the Chapman population estimate, the estimated undetected
    count (clamped at 0 — the estimator can fall below the observed union
    when overlap is high, which is itself a finding), and estimated
    coverage = observed / N_hat.

    Determinism: integer cells end-to-end; Chapman and coverage are fixed
    IEEE expressions over exact int64 operands, grid-rounded 1e-6.

    Scale: identical substrate cost to eval_mcnemar_dedup — banded
    candidate generation only; the estimator is a 1-row fold."""
    tags = (
        _overlap_tags(spark, sf_dir)
        .filter("m IN ('minhash', 'simhash')")
        .localCheckpoint()
    )
    per_doc = tags.groupBy("doc_id").agg(
        F.expr("max(CASE WHEN m = 'minhash' THEN 1 ELSE 0 END)").alias("f_mh"),
        F.expr("max(CASE WHEN m = 'simhash' THEN 1 ELSE 0 END)").alias("f_sh"),
    )
    cells = per_doc.agg(
        F.expr("count(*) FILTER (WHERE f_mh = 1)").cast("bigint").alias("n_minhash"),
        F.expr("count(*) FILTER (WHERE f_sh = 1)").cast("bigint").alias("n_simhash"),
        F.expr("count(*) FILTER (WHERE f_mh = 1 AND f_sh = 1)")
        .cast("bigint")
        .alias("n_both"),
        F.count("*").cast("bigint").alias("n_observed"),
    )
    nhat = (
        "(CAST(n_minhash + 1 AS DOUBLE) * (n_simhash + 1) / (n_both + 1) - 1)"
    )
    return cells.selectExpr(
        "n_minhash",
        "n_simhash",
        "n_both",
        "n_observed",
        mround(nhat, 6) + " AS n_hat_chapman",
        mround(f"greatest(({nhat}) - n_observed, CAST(0 AS DOUBLE))", 6)
        + " AS est_undetected",
        mround(f"CAST(n_observed AS DOUBLE) / nullif({nhat}, 0)", 6)
        + " AS est_coverage",
    )


EVAL_CAPTURE_RECAPTURE_SQL = (
    """
WITH mh AS (SELECT DISTINCT doc_b AS doc_id FROM ("""
    + DEDUP_MINHASH_PAIRS_SQL
    + """) t),
sh AS (SELECT DISTINCT doc_b AS doc_id FROM ("""
    + DEDUP_SIMHASH_PAIRS_SQL
    + f""") t),
tags AS (
  SELECT doc_id, 'minhash' AS m FROM mh
  UNION SELECT doc_id, 'simhash' FROM sh),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN m = 'minhash' THEN 1 ELSE 0 END) AS f_mh,
         max(CASE WHEN m = 'simhash' THEN 1 ELSE 0 END) AS f_sh
  FROM tags GROUP BY doc_id),
cells AS (
  SELECT CAST(count(*) FILTER (WHERE f_mh = 1) AS BIGINT) AS n_minhash,
         CAST(count(*) FILTER (WHERE f_sh = 1) AS BIGINT) AS n_simhash,
         CAST(count(*) FILTER (WHERE f_mh = 1 AND f_sh = 1) AS BIGINT)
           AS n_both,
         CAST(count(*) AS BIGINT) AS n_observed
  FROM per_doc)
SELECT n_minhash, n_simhash, n_both, n_observed,
       {mround('(CAST(n_minhash + 1 AS DOUBLE) * (n_simhash + 1) / (n_both + 1) - 1)', 6)}
         AS n_hat_chapman,
       {mround('greatest((CAST(n_minhash + 1 AS DOUBLE) * (n_simhash + 1) / (n_both + 1) - 1) - n_observed, CAST(0 AS DOUBLE))', 6)}
         AS est_undetected,
       {mround('CAST(n_observed AS DOUBLE) / nullif(CAST(n_minhash + 1 AS DOUBLE) * (n_simhash + 1) / (n_both + 1) - 1, 0)', 6)}
         AS est_coverage
FROM cells
"""
)

QUERIES["eval_capture_recapture_dedup"] = QuerySpec(
    eval_capture_recapture_dedup, EVAL_CAPTURE_RECAPTURE_SQL, "eval"
)
