"""Text-analysis operators over the ``documents`` table: char/word counting,
token statistics, quality scoring, language-ID heuristic, fingerprinting.

The char histogram is the DataFrame-native form of the reference's ONLY
shipped workload (``/root/reference/example/word_count/word_count.cc:9-34``:
map = per-document ``[a-z0-9]`` char histogram, reduce = per-char sum). Here
it's ``explode(split(...)) -> groupBy -> count`` — pure built-ins, whole-stage
codegen, automatic partial aggregation (the reference ships every map output
pair over the wire instead, ``worker.cc:311-315``).

All other operators are LLM-data-pipeline additions (north star): everything
is expression-only (no Python UDFs) so they run JVM-side at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tmapreduce_spark.catalog import QuerySpec
from tmapreduce_spark.functions.dedup import DEDUP_SPAN_SQL
from tmapreduce_spark.parity import WORD_TOKENS, cents, mavg, mround, mround_col
from tmapreduce_spark.sources.catalog import load_table, spread


def _word_tokens(d: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, tok) for every non-empty :data:`WORD_TOKENS` token of ``d``."""
    return d.select(key, F.explode(F.expr(WORD_TOKENS)).alias("tok")).filter(
        F.col("tok") != ""
    )


def charcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide ``[a-z0-9]`` char histogram — the reference's golden query
    (SURVEY §2A item 17), as one exploded aggregation."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), "")
            ).alias("ch")
        )
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count("*").alias("total"))
    )


CHARCOUNT_SQL = """
SELECT ch, count(*) AS total
FROM (SELECT unnest(string_split(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), '')) AS ch
      FROM documents) t
WHERE ch <> ''
GROUP BY ch
"""


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token count (the classic wordcount, token = whitespace
    split)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("total"))
    )


WORDCOUNT_SQL = r"""
SELECT tok, count(*) AS total
FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents) t
WHERE tok <> ''
GROUP BY tok
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: count, distinct count, mean token
    length. Token counting is the whitespace tokenizer; a BPE-ish regex
    tokenizer is `token_bpe_ish`."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    return toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.expr("floor(CAST(sum(length(tok)) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000").alias("avg_tok_len"),
    )


TOKEN_STATS_SQL = r"""
SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       floor(CAST(sum(length(tok)) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS avg_tok_len
FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents) t
WHERE tok <> ''
GROUP BY doc_id
"""


def token_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token count: split on word boundaries AND digit/letter
    transitions (a cheap GPT-2-pretokenizer approximation), then count
    corpus-wide tokens. Regex-only — stays in codegen."""
    d = load_table(spark, sf_dir, "documents")
    # split letters/digits/other into separate runs, like the GPT-2 pretokenizer's
    # coarse classes; 4-char max pieces approximate sub-word granularity.
    pieces = F.expr(
        r"""
        flatten(transform(
          split(lower(text), '[^a-z0-9]+'),
          w -> transform(sequence(0, greatest(int(ceil(length(w) / 4.0)) - 1, 0)),
                         i -> substring(w, i * 4 + 1, 4))))
        """
    )
    return (
        d.select(F.explode(pieces).alias("piece"))
        .filter(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.count("*").alias("total"))
    )


TOKEN_BPE_SQL = r"""
SELECT piece, count(*) AS total
FROM (
  SELECT unnest(flatten(list_transform(
           string_split_regex(lower(text), '[^a-z0-9]+'),
           w -> list_transform(range(0, greatest(CAST(ceil(length(w) / 4.0) AS INTEGER), 1)),
                               i -> substring(w, i * 4 + 1, 4))))) AS piece
  FROM documents) t
WHERE piece <> ''
GROUP BY piece
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: length, type-token ratio, mean word
    length, and a composite score — the standard cheap pre-filter for LLM
    training corpora (length + repetition heuristics)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.length("text").alias("text_len"),
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id", "text_len").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.expr("floor(CAST(sum(length(tok)) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000").alias("mean_word_len"),
    )
    ttr = F.col("n_distinct") / F.col("n_tokens")
    len_score = F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
    return per_doc.select(
        "doc_id",
        "text_len",
        "n_tokens",
        (F.floor(ttr * 1000000 + F.lit(0.5)) / 1000000).alias("type_token_ratio"),
        "mean_word_len",
        (F.floor((ttr * 0.5 + len_score * 0.5) * 1000000 + F.lit(0.5)) / 1000000).alias("quality_score"),
    )


TEXT_QUALITY_SQL = r"""
SELECT doc_id, text_len, n_tokens,
       floor(n_distinct / CAST(n_tokens AS DOUBLE) * 1000000 + 0.5) / 1000000 AS type_token_ratio,
       mean_word_len,
       floor(((n_distinct / CAST(n_tokens AS DOUBLE)) * 0.5
             + least(n_tokens / 64.0, 1.0) * 0.5) * 1000000 + 0.5) / 1000000 AS quality_score
FROM (
  SELECT doc_id, text_len, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
         floor(CAST(sum(length(tok)) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS mean_word_len
  FROM (SELECT doc_id, length(text) AS text_len,
               unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents) x
  WHERE tok <> ''
  GROUP BY doc_id, text_len) t
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-hit scoring (n-gram-free heuristic): score each
    language by how many of its marker stopwords appear as tokens; argmax with
    a fixed tie order (en>fr>es>de>zh). Reported as a per-(label, prediction)
    confusion-matrix count. Expression-only; markers broadcast as literals."""
    d = load_table(spark, sf_dir, "documents")
    markers = {
        "en": ["the", "and", "of", "to", "in"],
        "fr": ["le", "la", "et", "les", "des"],
        "es": ["el", "de", "que", "los", "las"],
        "de": ["der", "die", "und", "das", "ist"],
        "zh": ["de5", "shi4", "le5", "zai4", "you3"],
    }
    toks = F.expr(WORD_TOKENS)
    scores = {
        lang: F.size(
            F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in ws]))
        )
        for lang, ws in markers.items()
    }
    pred = (
        F.when(
            (scores["en"] >= scores["fr"]) & (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"]) & (scores["en"] >= scores["zh"]),
            "en",
        )
        .when(
            (scores["fr"] >= scores["es"]) & (scores["fr"] >= scores["de"])
            & (scores["fr"] >= scores["zh"]),
            "fr",
        )
        .when((scores["es"] >= scores["de"]) & (scores["es"] >= scores["zh"]), "es")
        .when(scores["de"] >= scores["zh"], "de")
        .otherwise("zh")
    )
    return (
        d.select(F.col("lang").alias("label"), pred.alias("predicted"))
        .groupBy("label", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


LANG_ID_SQL = r"""
WITH scored AS (
  SELECT lang AS label,
         len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')),
             ['the','and','of','to','in'])) AS s_en,
         len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')),
             ['le','la','et','les','des'])) AS s_fr,
         len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')),
             ['el','de','que','los','las'])) AS s_es,
         len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')),
             ['der','die','und','das','ist'])) AS s_de,
         len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')),
             ['de5','shi4','le5','zai4','you3'])) AS s_zh
  FROM documents)
SELECT label,
       CASE
         WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
         WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
         WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
         WHEN s_de >= s_zh THEN 'de'
         ELSE 'zh'
       END AS predicted,
       count(*) AS n_docs
FROM scored
GROUP BY 1, 2
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 content hash plus a 61-bit rolling
    polynomial hash (base-31 mod 1e9+7) over the cleaned text — the rolling
    hash is the primitive under simhash/minhash and Rabin-Karp chunking.
    Expression-only via the `aggregate` higher-order function."""
    d = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("content_md5"),
        F.expr(
            "aggregate(split(regexp_replace(lower(text), '[^a-z0-9]', ''), ''), "
            "0L, (acc, ch) -> CASE WHEN ch = '' THEN acc "
            "ELSE (acc * 31 + ascii(ch)) % 1000000007 END)"
        ).alias("rolling_hash"),
        F.length(clean).alias("clean_len"),
    )


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(text) AS content_md5,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), ''),
                          ch -> CAST(ord(ch) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash,
       CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS clean_len
FROM documents
"""


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline in one plan: exact dedup
    (keep-lowest-doc_id per text) → quality filter (score >= 0.5) → per-lang
    corpus stats. Demonstrates that the cleaning stages fuse into a single
    lineage Catalyst optimizes as one DAG — no intermediate materialization.

    Scale: dedup shuffles (text-hash, id) pairs; quality is a token explode
    with partial aggregation; the final per-lang rollup is tiny. One pass
    over the corpus plus the dedup shuffle."""
    d = load_table(spark, sf_dir, "documents")
    # group on md5(text) so the dedup shuffle really does carry (text-hash,
    # id) pairs as documented, never document bodies
    keepers = (
        d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    q = text_quality(spark, sf_dir).select("doc_id", "n_tokens", "quality_score")
    cleaned = (
        q.join(keepers, "doc_id", "left_semi")
        .filter(F.col("quality_score") >= 0.5)
        .join(d.select("doc_id", "lang"), "doc_id")
    )
    return cleaned.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


PIPELINE_CLEAN_SQL = f"""
WITH q AS ({TEXT_QUALITY_SQL}),
keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
cleaned AS (
  SELECT q.doc_id, q.n_tokens
  FROM q
  WHERE q.doc_id IN (SELECT doc_id FROM keepers) AND q.quality_score >= 0.5)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM cleaned JOIN documents USING (doc_id)
GROUP BY lang
"""


SAMPLE_BUCKETS = 100
SAMPLE_KEEP = 10  # keep buckets 0..9 => deterministic ~10% sample


def sample_bucket_col() -> "F.Column":
    """The md5-derived sample bucket of doc_id — shared by the catalog query
    and the repartitioning-invariance test so they can't drift apart."""
    return F.expr(
        f"pmod(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT), {SAMPLE_BUCKETS})"
    )


def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket sampling: keep documents whose md5-derived
    bucket falls below the keep threshold (~10%). This — not rand() — is how
    a training pipeline samples at scale: reproducible across runs, engines,
    and partitionings; stable under re-partitioning; and stratifiable by
    keying the hash on any column. Summarized per lang so the sample rate is
    visible."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("bucket", sample_bucket_col())
        .filter(F.col("bucket") < SAMPLE_KEEP)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


SAMPLE_HASH_SQL = f"""
SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM (SELECT lang, doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % {SAMPLE_BUCKETS} AS bucket
      FROM documents) t
WHERE bucket < {SAMPLE_KEEP}
GROUP BY lang
"""


def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model n-gram counting: top-10 token bigrams per source with
    counts — the map-side array build (tokenize once, slide a width-2 window)
    feeding a partial-aggregated groupBy, then a per-source WindowGroupLimit
    top-k. At 100 TB this is the canonical LM-corpus-statistics shape: the
    shuffle carries (source, bigram, partial count), never documents."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr("source", f"{WORD_TOKENS} AS toks")
    bigrams = toks.selectExpr(
        "source",
        # validity decided once per document from size(toks) — split tokens
        # are non-empty and whitespace-free, so every window of a >=2-token
        # doc renders as exactly 2 parts and the old per-bigram re-split
        # filter accepted it; <2-token docs had their single degenerate
        # window rejected (same contract as dedup._SHINGLES_SPARK_TOKS)
        """explode(CASE WHEN size(toks) >= 2
             THEN transform(sequence(0, size(toks) - 2),
                            i -> concat_ws(' ', toks[i], toks[i + 1]))
             ELSE CAST(array() AS ARRAY<STRING>) END) AS bigram""",
    )
    counts = bigrams.groupBy("source", "bigram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("source", "bigram", "n", F.col("rk").cast("bigint").alias("rk"))
    )


TEXT_BIGRAM_SQL = r"""
WITH toks AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
bigrams AS (
  SELECT source, unnest(list_filter(
           list_transform(range(0, greatest(len(toks) - 1, 1)),
                          i -> toks[i + 1] || ' ' || toks[i + 2]),
           s -> s IS NOT NULL AND len(string_split(s, ' ')) = 2)) AS bigram
  FROM toks),
counts AS (
  SELECT source, bigram, count(*) AS n FROM bigrams GROUP BY source, bigram)
SELECT source, bigram, n, CAST(rk AS BIGINT) AS rk
FROM (SELECT source, bigram, n,
             row_number() OVER (PARTITION BY source ORDER BY n DESC, bigram ASC) AS rk
      FROM counts) t
WHERE rk <= 10
"""


def pipeline_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (upsert, latest-wins): events as a change stream
    keyed by (user_id, event_type); keep each key's most recent row. The
    MERGE-INTO / log-compaction primitive of incremental pipelines — one
    shuffle on the key, WindowGroupLimit keeps per-partition state bounded
    (no full sort), identical at 100 TB where the changelog dwarfs the
    compacted state."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.unix_timestamp("ts").cast("bigint").alias("last_epoch"),
            mround_col(F.col("value"), 6).alias("last_value"),
        )
    )


PIPELINE_UPSERT_SQL = """
SELECT user_id, event_type, event_id AS last_event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_epoch,
       floor(value * 1000000 + 0.5) / 1000000 AS last_value
FROM (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1
"""


def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold corpus filtering: keep documents whose quality
    score is >= their source's median score — the data-driven (not fixed)
    cutoff used to trim the bottom half of a training corpus per domain.
    Exact interpolated percentile on the 1e-6-rounded score grid: both
    engines interpolate the same two middle doubles, so the threshold —
    and therefore the kept set — matches exactly. One extra shuffle for the
    per-source median (tiny: |sources| rows), broadcast back."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_tokens"), F.countDistinct("tok").alias("n_distinct")
    )
    ttr = F.col("n_distinct") / F.col("n_tokens")
    len_score = F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
    scored = per_doc.select(
        "doc_id",
        "source",
        (F.floor((ttr * 0.5 + len_score * 0.5) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "quality_score"
        ),
    )
    med = scored.groupBy("source").agg(
        F.expr("percentile(quality_score, 0.5)").alias("median_score")
    )
    return (
        scored.join(F.broadcast(med), "source")
        .filter(F.col("quality_score") >= F.col("median_score"))
        .select(
            "doc_id",
            "source",
            "quality_score",
            mround_col(F.col("median_score"), 6).alias("source_median"),
        )
    )


PIPELINE_QUALITY_FILTER_SQL = r"""
WITH scored AS (
  SELECT doc_id, source,
         floor(((n_distinct / CAST(n_tokens AS DOUBLE)) * 0.5
               + least(n_tokens / 64.0, 1.0) * 0.5) * 1000000 + 0.5) / 1000000 AS quality_score
  FROM (
    SELECT doc_id, source, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
    FROM (SELECT doc_id, source,
                 unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents) x
    WHERE tok <> ''
    GROUP BY doc_id, source) t),
med AS (
  SELECT source, quantile_cont(quality_score, 0.5) AS median_score
  FROM scored GROUP BY source)
SELECT doc_id, scored.source, quality_score,
       floor(median_score * 1000000 + 0.5) / 1000000 AS source_median
FROM scored JOIN med ON scored.source = med.source
WHERE quality_score >= median_score
"""


def sample_stratified_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-size sampling: exactly 20 docs per source, chosen by
    md5 hash priority — deterministic (replayable, oracle-checkable, unlike
    rand()), uniform within each stratum, and WindowGroupLimit-shaped so each
    partition keeps only k rows per stratum before the shuffle. Complements
    `sample_hash_bucket` (Bernoulli-style rate sampling) with the
    equal-allocation quota sampler a training mix needs."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pri = F.md5(F.concat_ws("|", F.lit("strat"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", pri.alias("pri"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source", F.col("rn").cast("bigint").alias("rn"))
    )


SAMPLE_STRATIFIED_SQL = """
SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('strat' || '|' || CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rn
  FROM documents) t
WHERE rn <= 20
"""


CHUNK_LEN = 50  # tokens per chunk
CHUNK_STRIDE = 40  # 10-token overlap


def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for embedding/RAG pipelines: fixed-length token
    windows (CHUNK_LEN) at a fixed stride (CHUNK_STRIDE, i.e. 10-token
    overlap), emitting (doc_id, chunk_idx, n_tokens, chunk_fingerprint).
    Expression-only: the chunk starts are a sequence() explode, the chunk
    text is slice()+array_join — map-side, no shuffle at all; the
    fingerprint is md5 so chunks are joinable/dedupable downstream without
    shipping text."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.selectExpr("doc_id", r"split(trim(text), '\\s+') AS t")
        .filter(F.size("t") >= 1)
        .selectExpr(
            "doc_id",
            "size(t) AS n_doc_tokens",
            f"posexplode(transform(sequence(1, greatest(size(t) - {CHUNK_LEN}, 0) + 1, {CHUNK_STRIDE}), "
            f"s -> slice(t, s, {CHUNK_LEN}))) AS (chunk_idx, chunk)",
        )
        .selectExpr(
            "doc_id",
            "CAST(chunk_idx AS BIGINT) AS chunk_idx",
            "CAST(size(chunk) AS BIGINT) AS n_tokens",
            "md5(array_join(chunk, ' ')) AS chunk_fingerprint",
        )
    )


PIPELINE_CHUNK_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
starts AS (
  SELECT doc_id, t, u.s
  FROM toks, unnest(range(1, greatest(len(t) - {CHUNK_LEN}, 0) + 2, {CHUNK_STRIDE})) AS u(s)
  WHERE len(t) >= 1)
SELECT doc_id,
       (s - 1) // {CHUNK_STRIDE} AS chunk_idx,
       CAST(len(t[s:s + {CHUNK_LEN} - 1]) AS BIGINT) AS n_tokens,
       md5(list_aggregate(t[s:s + {CHUNK_LEN} - 1], 'string_agg', ' ')) AS chunk_fingerprint
FROM starts
"""


PACK_TARGET = 512  # tokens per packed sequence bin


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (ordered by doc_id within source)
    to fixed-capacity context bins by running token count — bin =
    floor(exclusive-prefix-sum / PACK_TARGET), the deterministic streaming
    packer every pretraining pipeline runs before batching. One window per
    source partition (cumsum is a streaming frame — no materialized
    per-doc lists); the final groupBy reports per-bin fill so over/underflow
    is auditable."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "source", "doc_id", r"CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tokens"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = toks.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_TARGET)
        .cast("bigint")
        .alias("bin_id"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


PIPELINE_PACK_SQL = rf"""
WITH toks AS (
  SELECT source, doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents),
binned AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_TARGET}.0) AS BIGINT) AS bin_id
  FROM toks)
SELECT source, bin_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc
FROM binned GROUP BY source, bin_id
"""


DECONTAM_W = 6  # benchmark-overlap shingle width


def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Pile protocol): flag every
    training document sharing an exact DECONTAM_W-token shingle with the
    held-out set (here: source 'src0' plays the benchmark). One distinct
    shingle explode per side and a LEFT SEMI join on the md5 shingle hash —
    contaminated docs are identified without ever joining text, and the
    flagged set is returned with its token count so the removal cost is
    visible. At 100 TB the benchmark side is tiny ⇒ broadcast semi-join;
    the corpus side is the same map-side explode the dedup family uses."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "doc_id", "source", "n_chars", f"{WORD_TOKENS} AS t"
    ).filter(F.size("t") >= DECONTAM_W)
    sh = toks.selectExpr(
        "doc_id",
        "source",
        f"explode(array_distinct(transform(sequence(1, size(t) - {DECONTAM_W} + 1), "
        f"i -> md5(array_join(slice(t, i, {DECONTAM_W}), ' '))))) AS h",
    )
    bench = sh.filter(F.col("source") == "src0").select("h").distinct()
    train = sh.filter(F.col("source") != "src0")
    flagged = (
        train.join(F.broadcast(bench), "h", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    return flagged.join(
        d.select("doc_id", "n_chars"), "doc_id"
    ).select("doc_id", "source", "n_chars")


PIPELINE_DECONTAM_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, n_chars, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, source,
         md5(list_aggregate(t[i:i + {DECONTAM_W} - 1], 'string_agg', ' ')) AS h
  FROM toks, unnest(range(1, len(t) - {DECONTAM_W} + 2)) AS u(i)
  WHERE len(t) >= {DECONTAM_W}),
bench AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
flagged AS (
  SELECT DISTINCT s.doc_id, s.source
  FROM sh s WHERE s.source <> 'src0' AND s.h IN (SELECT h FROM bench))
SELECT f.doc_id, f.source, d.n_chars
FROM flagged f JOIN documents d USING (doc_id)
"""


def pipeline_merge_scd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE semantics (Delta/Iceberg ``MERGE INTO``) as a plain
    full-outer join + CASE — WHEN MATCHED AND op='D' THEN DELETE, WHEN
    MATCHED AND op='U' THEN UPDATE, WHEN NOT MATCHED THEN INSERT, ELSE keep.
    The change feed is derived deterministically from the base table
    (doc_id % 10: 0→update upper(text), 1→delete, 2→insert a reversed copy
    under doc_id+10M) so the merge is oracle-checkable without external
    fixtures.

    Scale: MERGE is exactly one co-partitioned full-outer join on the key —
    the same shape Delta executes after file pruning; no collect, no window.
    Complements ``pipeline_upsert_latest`` (changelog compaction = MERGE
    collapsed to last-writer-wins) and the streaming foreachBatch upsert test
    (incremental MERGE)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mod = F.pmod("doc_id", F.lit(10))
    changes = (
        d.withColumn("mod", mod)
        .filter(F.col("mod").isin(0, 1, 2))
        .select(
            F.when(F.col("mod") == 2, F.col("doc_id") + 10_000_000)
            .otherwise(F.col("doc_id"))
            .alias("doc_id"),
            F.when(F.col("mod") == 0, F.upper("text"))
            .when(F.col("mod") == 2, F.reverse("text"))
            .alias("new_text"),
            F.when(F.col("mod") == 0, F.lit("U"))
            .when(F.col("mod") == 1, F.lit("D"))
            .otherwise(F.lit("I"))
            .alias("op"),
        )
    )
    merged = d.alias("b").join(changes.alias("c"), "doc_id", "full_outer")
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            "doc_id",
            F.when(F.col("op").isNull(), F.lit("kept"))
            .when(F.col("op") == "U", F.lit("updated"))
            .otherwise(F.lit("inserted"))
            .alias("action"),
            F.length(F.coalesce("new_text", "text")).cast("bigint").alias("len_final"),
        )
    )


PIPELINE_MERGE_SQL = """
WITH base AS (SELECT doc_id, text FROM documents),
changes AS (
  SELECT CASE WHEN doc_id % 10 = 2 THEN doc_id + 10000000 ELSE doc_id END AS doc_id,
         CASE WHEN doc_id % 10 = 0 THEN upper(text)
              WHEN doc_id % 10 = 2 THEN reverse(text) END AS new_text,
         CASE WHEN doc_id % 10 = 0 THEN 'U'
              WHEN doc_id % 10 = 1 THEN 'D' ELSE 'I' END AS op
  FROM documents WHERE doc_id % 10 IN (0, 1, 2))
SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
       CASE WHEN c.op IS NULL THEN 'kept'
            WHEN c.op = 'U' THEN 'updated' ELSE 'inserted' END AS action,
       CAST(length(COALESCE(c.new_text, b.text)) AS BIGINT) AS len_final
FROM base b FULL OUTER JOIN changes c ON b.doc_id = c.doc_id
WHERE c.op IS NULL OR c.op <> 'D'
"""


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: (token, doc_id, term-frequency) postings plus
    per-token document frequency — the retrieval-side twin of wordcount and
    the substrate for BM25/TF-IDF scoring (df and tf are the exact-integer
    inputs; the log-weighting is deliberately left to the consumer — see
    PARITY note on transcendentals in compared columns).

    Scale: explode is map-side; postings are one partial-aggregated groupBy
    on (tok, doc_id); df rides a count window partitioned by tok over the
    ALREADY-aggregated postings (vocabulary-sized, not corpus-sized)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    postings = (
        d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return postings.select(
        "tok", "doc_id", "tf", F.count("*").over(Window.partitionBy("tok")).alias("df")
    )


TEXT_INVERTED_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
postings AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok, doc_id)
SELECT tok, doc_id, tf, count(*) OVER (PARTITION BY tok) AS df FROM postings
"""


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (cf. Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Table A1 repetition filters):
    the fraction of bigram positions taken by the single most frequent
    bigram (``top_bigram_frac``) and the fraction of trigram positions
    covered by trigrams occurring more than once (``dup_trigram_frac``),
    plus the composite flag a corpus cleaner would filter on
    (top-2-gram > 0.20 OR dup-3-gram > 0.30 — Gopher's published cutoffs).
    The synthetic corpus has no newlines, so the line/paragraph variants of
    the rule collapse onto the n-gram forms implemented here.

    Exact integer counting end-to-end: both n-gram streams explode from ONE
    tokenization, aggregate partially (map-side combine on (doc_id, n,
    gram)), and the per-doc rollup is a second tiny shuffle keyed on doc_id.
    At 100 TB this is the same two-shuffle shape as wordcount — no windows,
    no arrays shipped between stages."""
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
        "doc_id",
    )
    toks = d.selectExpr(
        "doc_id", f"{WORD_TOKENS} AS t"
    ).filter(F.size("t") >= 3)
    grams = toks.selectExpr(
        "doc_id",
        "explode(array("
        "named_struct('n', 2, 'grams', transform(sequence(1, size(t) - 1), "
        "i -> concat_ws(' ', slice(t, i, 2)))), "
        "named_struct('n', 3, 'grams', transform(sequence(1, size(t) - 2), "
        "i -> concat_ws(' ', slice(t, i, 3)))))) AS g",
    ).selectExpr("doc_id", "g.n AS n", "explode(g.grams) AS gram")
    counts = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("cnt"))
    per = counts.groupBy("doc_id", "n").agg(
        F.max("cnt").alias("max_cnt"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_cover"),
        F.sum("cnt").alias("total"),
    )
    stats = per.groupBy("doc_id").agg(
        F.expr(
            "floor(max(CASE WHEN n = 2 THEN CAST(max_cnt AS DOUBLE) / total END)"
            " * 1000000 + 0.5) / 1000000"
        ).alias("top_bigram_frac"),
        F.expr(
            "floor(max(CASE WHEN n = 3 THEN CAST(dup_cover AS DOUBLE) / total END)"
            " * 1000000 + 0.5) / 1000000"
        ).alias("dup_trigram_frac"),
    )
    return stats.select(
        "doc_id",
        "top_bigram_frac",
        "dup_trigram_frac",
        (
            (F.col("top_bigram_frac") > 0.2) | (F.col("dup_trigram_frac") > 0.3)
        ).alias("repetition_flagged"),
    )


TEXT_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents),
grams AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 3
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
  FROM toks WHERE len(t) >= 3),
counts AS (
  SELECT doc_id, n, gram, count(*) AS cnt FROM grams GROUP BY doc_id, n, gram),
per AS (
  SELECT doc_id, n, max(cnt) AS max_cnt,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cover,
         sum(cnt) AS total
  FROM counts GROUP BY doc_id, n),
stats AS (
  SELECT doc_id,
         floor(max(CASE WHEN n = 2 THEN CAST(max_cnt AS DOUBLE) / total END)
               * 1000000 + 0.5) / 1000000 AS top_bigram_frac,
         floor(max(CASE WHEN n = 3 THEN CAST(dup_cover AS DOUBLE) / total END)
               * 1000000 + 0.5) / 1000000 AS dup_trigram_frac
  FROM per GROUP BY doc_id)
SELECT doc_id, top_bigram_frac, dup_trigram_frac,
       (top_bigram_frac > 0.2 OR dup_trigram_frac > 0.3) AS repetition_flagged
FROM stats
"""


def pipeline_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub pass every training corpus runs
    before release. The corpus has no natural PII, so a contact blob is built
    deterministically from customer fields (the ``scalar_url_parse``
    convention: construct, then verifiably process): an email, a phone, and
    the account balance embedded in prose. Detection counts and redaction
    both run with real regexes from the Java-regex ∩ RE2 subset (char
    classes, +, {n} — see PARITY notes), so Spark and the oracle transform
    identically; the md5 of the redacted text proves byte-exact redaction,
    not just equal counts.

    Scale: pure expression pipeline (regexp_replace / regexp_count),
    whole-stage codegen, zero shuffles — linear scan shape."""
    c = load_table(spark, sf_dir, "customer")
    blob = F.concat(
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at user"),
        F.col("c_custkey").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad(F.pmod(F.col("c_custkey"), F.lit(10_000_000)).cast("string"), 7, "0"),
        F.lit(" re acct "),
        F.col("c_acctbal").cast("string"),
    )
    email_re = "[a-z0-9]+@[a-z0-9.]+[a-z]"
    phone_re = "[+][0-9]-[0-9]{3}-[0-9]{7}"
    redacted = F.regexp_replace(
        F.regexp_replace(blob, email_re, "[EMAIL]"), phone_re, "[PHONE]"
    )
    return c.select(
        "c_custkey",
        (F.size(F.split(blob, email_re)) - F.lit(1)).alias("n_emails"),
        (F.size(F.split(blob, phone_re)) - F.lit(1)).alias("n_phones"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


PIPELINE_PII_SQL = r"""
WITH blob AS (
  SELECT c_custkey,
         'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
           || '@mail.example.com or +1-555-'
           || lpad(CAST(c_custkey % 10000000 AS VARCHAR), 7, '0')
           || ' re acct ' || CAST(c_acctbal AS VARCHAR) AS t
  FROM customer),
red AS (
  SELECT c_custkey,
         regexp_replace(
           regexp_replace(t, '[a-z0-9]+@[a-z0-9.]+[a-z]', '[EMAIL]', 'g'),
           '[+][0-9]-[0-9]{3}-[0-9]{7}', '[PHONE]', 'g') AS r,
         t
  FROM blob)
SELECT c_custkey,
       CAST(len(string_split_regex(t, '[a-z0-9]+@[a-z0-9.]+[a-z]')) - 1 AS INTEGER) AS n_emails,
       CAST(len(string_split_regex(t, '[+][0-9]-[0-9]{3}-[0-9]{7}')) - 1 AS INTEGER) AS n_phones,
       CAST(length(r) AS BIGINT) AS redacted_len,
       md5(r) AS redacted_md5
FROM red
"""


BLOCKED_HOSTS = ["src1.example.com", "src3.example.com"]


def pipeline_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering — the URL-level hygiene pass of a web
    corpus build: derive each document's host (the ``scalar_url_parse``
    construction), drop documents whose host is on the blocklist via a
    broadcast LEFT ANTI join (the 100 TB shape: the blocklist is tiny and
    ships to every executor; the corpus never shuffles), and report
    kept-per-source stats so the removal cost is auditable."""
    d = load_table(spark, sf_dir, "documents")
    hosts = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
    )
    block = spark.createDataFrame([(h,) for h in BLOCKED_HOSTS], "host string")
    kept = hosts.join(F.broadcast(block), "host", "left_anti")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


PIPELINE_DOMAIN_SQL = f"""
WITH hosts AS (
  SELECT doc_id, source, n_chars, source || '.example.com' AS host
  FROM documents),
block(host) AS (VALUES {", ".join(f"('{h}')" for h in BLOCKED_HOSTS)})
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS first_doc
FROM hosts
WHERE host NOT IN (SELECT host FROM block)
GROUP BY source
"""


MIX_PRI_SCALE = 1000  # sqrt fixed-point scale for the temperature weights


def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (the multilingual/multi-domain
    resampling rule, p_s ∝ n_s^α with α = 0.5): allocate half the corpus
    budget across sources proportionally to sqrt(source size), then keep
    exactly that quota per source by deterministic md5 hash priority.

    Exactness across engines: sqrt is IEEE-correctly-rounded (unlike ln/exp
    — PARITY notes), and it is immediately fixed-pointed to an int64
    (floor(sqrt(n)*1000)), so the weight SUM is integer — order-independent
    — and each quota is one integer multiply + integer divide. No float ever
    enters a comparison or an aggregation.

    Scale: two tiny per-source aggregates broadcast back. The keep step
    ranks within each source; because the quota is a COLUMN (data-derived),
    Spark cannot push a WindowGroupLimit the way the literal-k
    ``sample_stratified_fixed`` does — but Catalyst column-prunes the window
    input to ``(doc_id, source)`` (plan-asserted: no scan in this plan reads
    ``text``), so the per-source sort handles ~16-byte rows, not documents.
    If even the narrow sort is too much, the standard two-pass threshold
    select (compute each source's quota-th smallest priority, broadcast,
    filter ``pri <= threshold``) gives the same kept set for one extra tiny
    action; the single-pass form is kept because it stays fully lazy and
    oracle-exact."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_s"))
    budget = d.agg(F.expr("count(*) DIV 2").alias("budget"))
    ms = counts.select(
        "source", F.expr(f"CAST(floor(sqrt(n_s) * {MIX_PRI_SCALE}) AS BIGINT) AS ms")
    )
    sums = ms.agg(F.sum("ms").alias("sum_ms"))
    quota = (
        ms.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(budget))
        .select("source", F.expr("ms * budget DIV sum_ms AS quota"))
    )
    pri = F.md5(F.concat_ws("|", F.lit("mix"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        d.join(F.broadcast(quota), "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source", F.col("rn").cast("bigint").alias("rn"), "quota")
    )


SAMPLE_DOMAIN_MIX_SQL = f"""
WITH counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
budget AS (SELECT count(*) // 2 AS budget FROM documents),
ms AS (SELECT source, CAST(floor(sqrt(n_s) * {MIX_PRI_SCALE}) AS BIGINT) AS ms FROM counts),
sums AS (SELECT sum(ms) AS sum_ms FROM ms),
quota AS (
  SELECT source, ms * (SELECT budget FROM budget) // (SELECT sum_ms FROM sums) AS quota
  FROM ms),
ranked AS (
  SELECT doc_id, d.source, quota,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY md5('mix' || '|' || CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rn
  FROM documents d JOIN quota q ON d.source = q.source)
SELECT doc_id, source, CAST(rn AS BIGINT) AS rn, CAST(quota AS BIGINT) AS quota
FROM ranked WHERE rn <= quota
"""


TFIDF_TOP_K = 5


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP_K`` characteristic terms per document by exact
    rational tf-idf: score = tf * (N + 1) / df on the inverted-index
    postings (:func:`text_inverted_index`'s substrate). The logarithm of
    textbook tf-idf/BM25 is deliberately omitted: ln() is a transcendental
    whose last-ulp differs between engines (PARITY notes), and for a FIXED
    tf the log form is monotone in this ratio, so the ranking machinery —
    postings, df join, per-doc WindowGroupLimit top-k — is identical; a
    consumer wanting calibrated scores applies the log to the returned
    exact ratio.

    Scale: postings aggregation + a count window partitioned by token + the
    rank window partitioned by doc — the same partial-agg + group-limit
    shapes as ``text_bigram_topk`` (plan-asserted there)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # N as a broadcast 1-row corpus stat — stays lazy, no driver action
    nd = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    toks = _word_tokens(d)
    postings = toks.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    with_df = postings.withColumn(
        "df", F.count("*").over(Window.partitionBy("tok"))
    )
    scored = with_df.crossJoin(F.broadcast(nd)).select(
        "doc_id",
        "tok",
        "tf",
        F.col("df").cast("bigint").alias("df"),
        F.expr(
            "floor(CAST(tf AS DOUBLE) * (n_docs + 1) / df * 1000000 + 0.5) / 1000000"
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "tok", "tf", "df", "tfidf", F.col("rank").cast("bigint").alias("rank"))
    )


TEXT_TFIDF_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
postings AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok, doc_id),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tok, tf,
         CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
         floor(CAST(tf AS DOUBLE) * (SELECT n_docs + 1 FROM n)
               / count(*) OVER (PARTITION BY tok) * 1000000 + 0.5) / 1000000 AS tfidf
  FROM postings),
ranked AS (
  SELECT doc_id, tok, tf, df, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rank
  FROM scored)
SELECT doc_id, tok, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


SPAN_DROP_MIN = 12  # drop the later doc of any pair sharing a span this long


def pipeline_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus build as ONE lineage — benchmark holdout →
    decontamination → exact shared-span dedup → quality filter → chunking →
    sequence packing — proving the r02 pipeline ops COMPOSE without driver
    materialization between stages (VERDICT r02 #8; the wider sibling of
    ``pipeline_clean_corpus``'s dedup→quality→stats trio).

    Stages, all lazy over the same catalog operators:
    1. hold out source 'src0' as the benchmark set;
    2. drop training docs sharing a DECONTAM_W-token shingle with it
       (:func:`pipeline_decontaminate`'s flagged set, left-anti);
    3. drop the later doc of every same-source pair whose longest exact
       shared span is >= SPAN_DROP_MIN tokens
       (:func:`~tmapreduce_spark.functions.dedup.dedup_span_exact`);
    4. keep docs with composite quality >= 0.5 (:func:`text_quality`);
    5. chunk survivors into CHUNK_LEN windows at CHUNK_STRIDE;
    6. pack chunks into PACK_TARGET-token bins by per-source running sum,
       reported as per-bin fill stats.

    One Spark job at action time: no .count()/.collect() between stages
    (plan-asserted in ``tests/test_plans.py``). Scale: each stage keeps its
    own entry's shape — the anti-joins are semi-join-shaped on doc_id, the
    span/decontam shuffles are the capped shingle aggregations, packing is
    one window per source partition."""
    from pyspark.sql import Window

    from tmapreduce_spark.functions.dedup import dedup_span_exact

    d = load_table(spark, sf_dir, "documents")
    quality = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    contaminated = pipeline_decontaminate(spark, sf_dir).select("doc_id")
    span_drops = (
        dedup_span_exact(spark, sf_dir)
        .filter(F.col("longest_span_tokens") >= SPAN_DROP_MIN)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    survivors = (
        d.filter(F.col("source") != "src0")
        .join(quality, "doc_id")
        .filter(F.col("quality_score") >= 0.5)
        .join(contaminated, "doc_id", "left_anti")
        .join(span_drops, "doc_id", "left_anti")
        .select("doc_id", "source", "text")
    )
    # only each chunk's SIZE survives this stage, so never materialize the
    # sliced token arrays (unlike pipeline_chunk_documents, which fingerprints
    # chunk contents): size(slice(t, s, L)) == least(L, size(t) - s + 1) for
    # every generated start s <= size(t) — pure arithmetic on the token count
    chunks = (
        survivors.selectExpr(
            "doc_id", "source", r"size(split(trim(text), '\\s+')) AS nt"
        )
        .filter(F.col("nt") >= 1)
        .selectExpr(
            "doc_id",
            "source",
            "nt",
            f"posexplode(sequence(1, greatest(nt - {CHUNK_LEN}, 0) + 1, "
            f"{CHUNK_STRIDE})) AS (chunk_idx, s)",
        )
        .selectExpr(
            "doc_id",
            "source",
            "chunk_idx",
            f"CAST(least({CHUNK_LEN}, nt - s + 1) AS BIGINT) AS n_tokens",
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = chunks.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_TARGET)
        .cast("bigint")
        .alias("bin_id"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


PIPELINE_E2E_SQL = rf"""
WITH quality AS ({TEXT_QUALITY_SQL}),
dsh AS (
  SELECT DISTINCT doc_id, source,
         md5(list_aggregate(t[i:i + {DECONTAM_W} - 1], 'string_agg', ' ')) AS h
  FROM (SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents) toks,
       unnest(range(1, len(t) - {DECONTAM_W} + 2)) AS u(i)
  WHERE len(t) >= {DECONTAM_W}),
contaminated AS (
  SELECT DISTINCT doc_id FROM dsh
  WHERE source <> 'src0' AND h IN (SELECT h FROM dsh WHERE source = 'src0')),
span_drops AS (
  SELECT DISTINCT doc_b AS doc_id FROM ({DEDUP_SPAN_SQL}) sp
  WHERE longest_span_tokens >= {SPAN_DROP_MIN}),
survivors AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN quality q ON q.doc_id = d.doc_id
  WHERE d.source <> 'src0' AND q.quality_score >= 0.5
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND d.doc_id NOT IN (SELECT doc_id FROM span_drops)),
chunks AS (
  SELECT doc_id, source, (s - 1) // {CHUNK_STRIDE} AS chunk_idx,
         CAST(len(t[s:s + {CHUNK_LEN} - 1]) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
        FROM survivors) toks,
       unnest(range(1, greatest(len(t) - {CHUNK_LEN}, 0) + 2, {CHUNK_STRIDE})) AS u(s)
  WHERE len(t) >= 1),
binned AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_TARGET}.0) AS BIGINT) AS bin_id
  FROM chunks)
SELECT source, bin_id, count(*) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens, min(doc_id) AS first_doc
FROM binned GROUP BY source, bin_id
"""


# ---------------------------------------------------------------------------
# Deterministic output sharding (the training-data-loader contract)
# ---------------------------------------------------------------------------

N_SHARDS = 64


def pipeline_shard_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced output sharding: every doc hashes to one of
    N_SHARDS shards (md5-derived, engine-portable — NOT rand(), NOT
    monotonically_increasing_id, both of which break replay), summarized
    per shard to prove the balance a data loader depends on.

    At 100 TB this column IS the repartition/write key:
    ``df.repartition(N, "shard").write.partitionBy("shard")`` gives shards
    that are stable across reruns, engines, and input partitionings —
    re-materializing a shard after a lost file re-creates byte-identical
    membership. The per-shard counts here are what the balance test pins
    (hash uniformity keeps max/min well under 2x at realistic shard
    counts)."""
    d = load_table(spark, sf_dir, "documents")
    shard = F.expr(
        f"pmod(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT), {N_SHARDS})"
    )
    return (
        d.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


PIPELINE_SHARD_SQL = f"""
SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         % {N_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Dataset card: the corpus summary every released dataset ships with
# ---------------------------------------------------------------------------

def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset card: per-language AND whole-corpus rows from a
    single ROLLUP aggregation — docs, whitespace tokens, chars, distinct
    texts (the exact-dup signal). ROLLUP computes both granularities in one
    shuffle instead of a per-lang pass plus a global pass; count(DISTINCT
    text) rides the same aggregation (Spark expands it to a two-phase
    distinct-aggregate plan automatically). The TOTAL row's distinct count
    is NOT the sum of per-lang rows — the same text recurring across
    languages collapses — which is exactly the cross-lingual-dup signal a
    corpus release documents."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "lang",
        "text",
        "n_chars",
        r"size(split(trim(text), '\\s+')) AS n_toks",
    )
    return (
        toks.rollup("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("text").alias("n_distinct_texts"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("TOTAL")).alias("lang_scope"),
            "n_docs",
            "n_tokens",
            "total_chars",
            "n_distinct_texts",
        )
    )


PIPELINE_DATASET_CARD_SQL = r"""
SELECT coalesce(lang, 'TOTAL') AS lang_scope,
       count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT text) AS n_distinct_texts
FROM documents
GROUP BY ROLLUP(lang)
"""


# ---------------------------------------------------------------------------
# Corpus-LM quality score (perplexity-proxy, transcendental-free)
# ---------------------------------------------------------------------------

def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram corpus-LM quality signal per document: mean token RARITY,
    where rarity(t) = corpus_tokens / count(t) — the exact-rational cousin
    of mean negative log-likelihood. The classic log form is a per-token
    monotone transform of this ratio; it is omitted for the same reason
    ``text_tfidf_topk`` omits it (ln() last-ulp differs between engines —
    PARITY notes), and the filtering use (flag documents made of too-common
    or too-rare tokens) thresholds either form equally.

    Plan: one shuffle builds the unigram table (partial-aggregated), the
    corpus total rides a broadcast 1-row aggregate, the model joins back to
    the token stream as a broadcast hash join (vocab ≪ corpus; at web-scale
    vocab, drop the broadcast hint and let AQE pick the shuffle join), and
    the per-doc mean uses integer-micro summation (``mavg``) so reduction
    order can't move the result."""
    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d)
    unigram = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    # corpus total from the vocab-sized aggregate — NOT a second scan+explode
    # of documents (at 100 TB that would be an entire redundant corpus pass)
    total = unigram.agg(F.sum("cnt").alias("n_total"))
    model = unigram.crossJoin(F.broadcast(total)).select(
        "tok", (F.col("n_total").cast("double") / F.col("cnt")).alias("rarity")
    )
    return (
        toks.join(F.broadcast(model), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.expr(mavg("rarity", 6)).alias("mean_rarity"),
        )
    )


TEXT_NGRAM_LM_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
unigram AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
n AS (SELECT count(*) AS n_total FROM t),
scored AS (
  SELECT doc_id, CAST((SELECT n_total FROM n) AS DOUBLE) / cnt AS rarity
  FROM t JOIN unigram USING (tok))
SELECT doc_id, count(*) AS n_toks, {mavg("rarity", 6)} AS mean_rarity
FROM scored
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidates + exact confirmation (two linear passes)
# ---------------------------------------------------------------------------

_MG_K = 50  # counter capacity; guarantee threshold is total/(K+1)


def _tokens(d: DataFrame) -> DataFrame:
    return d.select(
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")


def mg_candidates(toks: DataFrame, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries over a token column: each task
    holds AT MOST ``k + 1`` counters at any instant (the fixed-memory
    invariant — the trim runs INSIDE the fold, immediately after the insert
    that can push the dict to k+1, never after a whole batch), folding
    vectorized per-batch exact counts via the standard weighted-MG rule —
    add, then subtract the minimum counter and drop non-positives.
    Union-of-partitions guarantee: any token with global count
    > total/(k+1) survives in at least one partition's summary (each trim
    removes ≥ (k+1)·m total weight, so decrements sum to ≤ total/(k+1))."""
    import pandas as pd

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for t, c in pdf["tok"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
                if len(counters) > k:
                    m = min(counters.values())
                    counters = {t2: c2 - m for t2, c2 in counters.items() if c2 > m}
        yield pd.DataFrame({"tok": list(counters.keys())})

    return toks.mapInPandas(mg, "tok string").distinct()


def text_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (count > total/(K+1)) without ever
    grouping the full vocabulary: pass 1 runs fixed-memory Misra-Gries per
    partition (:func:`mg_candidates` — a guaranteed SUPERSET of the true
    heavy hitters), pass 2 exact-counts ONLY the candidate tokens (broadcast
    semi-join) plus one corpus total, and the strict threshold filter makes
    the final answer exact — so the entry is oracle-checkable even though
    the sketch pass is partitioning-dependent.

    Scale: at 100 TB a full wordcount groupBy shuffles the whole vocabulary
    (billions of rare keys); here the shuffle carries ≤ K tokens per task ×
    tasks, the confirm pass aggregates ≤ K·P candidate keys, and both passes
    are linear scans. This is the standard two-pass exact-HH recipe."""
    toks = _tokens(load_table(spark, sf_dir, "documents"))
    cands = mg_candidates(toks, _MG_K)
    totals = toks.agg(F.count("*").alias("total"))
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(totals))
        .filter(F.col("cnt") * (_MG_K + 1) > F.col("total"))
        .select(
            "tok",
            "cnt",
            F.expr(mround("CAST(cnt AS DOUBLE) / total", 6)).alias("share"),
        )
    )


TEXT_HEAVY_HITTERS_SQL = rf"""
WITH t AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
tt AS (SELECT tok FROM t WHERE tok <> ''),
totals AS (SELECT count(*) AS total FROM tt)
SELECT tok, count(*) AS cnt,
       {mround("CAST(count(*) AS DOUBLE) / total", 6)} AS share
FROM tt CROSS JOIN totals
GROUP BY tok, total
HAVING count(*) * {_MG_K + 1} > total
"""


# ---------------------------------------------------------------------------
# PMI collocations (transcendental-free: the PMI ratio, not its log)
# ---------------------------------------------------------------------------

def text_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by PMI ratio p(ab)/(p(a)p(b)) — the association
    score behind phrase mining, kept as the raw ratio (monotone in PMI) so
    no transcendental log enters the oracle compare. Support floor n_ab ≥ 5.

    Scale: bigram and unigram counts are two partial-aggregated groupBys of
    the same tokenized scan; the unigram model (vocab-sized) joins back
    twice as a BROADCAST — facts never reshuffle for the model lookups; the
    final top-50 is TakeOrderedAndProject over the bigram vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(f"{WORD_TOKENS} AS toks")
    bigrams = toks.selectExpr(
        # per-document validity check instead of a per-bigram regex re-split
        # (equivalence argument at dedup._SHINGLES_SPARK_TOKS)
        """explode(CASE WHEN size(toks) >= 2
             THEN transform(sequence(0, size(toks) - 2),
                            i -> concat_ws(' ', toks[i], toks[i + 1]))
             ELSE CAST(array() AS ARRAY<STRING>) END) AS bigram"""
    )
    bi = bigrams.groupBy("bigram").agg(F.count("*").alias("n_ab"))
    uni = (
        toks.selectExpr("explode(toks) AS tok")
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n_uni"))
    )
    totals = (
        bi.agg(F.sum("n_ab").alias("total_bi"))
        .join(uni.agg(F.sum("n_uni").alias("total_uni")))
    )
    score = (
        "CAST(n_ab AS DOUBLE) * total_uni / n_a * total_uni / n_b / total_bi"
    )
    return (
        bi.filter(F.col("n_ab") >= 5)
        .withColumn("a", F.split("bigram", " ").getItem(0))
        .withColumn("b", F.split("bigram", " ").getItem(1))
        .join(F.broadcast(uni.selectExpr("tok AS a", "n_uni AS n_a")), "a")
        .join(F.broadcast(uni.selectExpr("tok AS b", "n_uni AS n_b")), "b")
        .join(F.broadcast(totals))
        .orderBy(F.expr(score).desc(), F.asc("bigram"))
        .limit(50)
        .select(
            "bigram",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(mround(score, 6)).alias("pmi_ratio"),
        )
    )


TEXT_PMI_SQL = rf"""
WITH toksl AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
bigrams AS (
  SELECT unnest(list_filter(
           list_transform(range(0, greatest(len(toks) - 1, 1)),
                          i -> toks[i + 1] || ' ' || toks[i + 2]),
           s -> s IS NOT NULL AND len(string_split(s, ' ')) = 2)) AS bigram
  FROM toksl),
bi AS (SELECT bigram, count(*) AS n_ab FROM bigrams GROUP BY bigram),
uni AS (
  SELECT tok, count(*) AS n_uni
  FROM (SELECT unnest(toks) AS tok FROM toksl) u
  WHERE tok <> ''
  GROUP BY tok),
totals AS (
  SELECT (SELECT CAST(sum(n_ab) AS BIGINT) FROM bi) AS total_bi,
         (SELECT CAST(sum(n_uni) AS BIGINT) FROM uni) AS total_uni)
SELECT bigram, n_ab, n_a, n_b,
       {mround("CAST(n_ab AS DOUBLE) * total_uni / n_a * total_uni / n_b / total_bi", 6)} AS pmi_ratio
FROM (SELECT b.bigram, b.n_ab,
             ua.n_uni AS n_a, ub.n_uni AS n_b
      FROM bi b
      JOIN uni ua ON string_split(b.bigram, ' ')[1] = ua.tok
      JOIN uni ub ON string_split(b.bigram, ' ')[2] = ub.tok
      WHERE b.n_ab >= 5) j
CROSS JOIN totals
ORDER BY CAST(n_ab AS DOUBLE) * total_uni / n_a * total_uni / n_b / total_bi DESC,
         bigram ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Snapshot diff (CDC changelog between two table versions)
# ---------------------------------------------------------------------------

def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff of two corpus snapshots: classify every key as Insert /
    Update / Delete between an 'old' and 'new' version (derived
    deterministically from orders: new drops key%13, old drops key%11, and
    new bumps price on key%7) — the changelog MERGE/compaction pipelines
    consume. One full-outer join on the key; unchanged rows are filtered
    out, so output is bounded by churn, not table size.

    Scale: both snapshots shuffle once on the shared key (co-partitioned
    join); at 100 TB bucketed snapshots make this shuffle-free. Value
    comparison is exact (same binary doubles both sides)."""
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.expr("o_orderkey % 11 != 0")).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    new = o.filter(F.expr("o_orderkey % 13 != 0")).select(
        "o_orderkey",
        F.expr(
            "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10 "
            "ELSE o_totalprice END"
        ).alias("new_price"),
    )
    j = old.join(new, "o_orderkey", "full_outer")
    return (
        j.withColumn(
            "op",
            F.when(F.col("old_price").isNull(), "I")
            .when(F.col("new_price").isNull(), "D")
            .when(F.col("old_price") != F.col("new_price"), "U"),
        )
        .filter(F.col("op").isNotNull())
        .select(
            "o_orderkey",
            "op",
            F.expr(mround("old_price", 2)).alias("old_price"),
            F.expr(mround("new_price", 2)).alias("new_price"),
        )
    )


PIPELINE_SNAPSHOT_DIFF_SQL = f"""
WITH old AS (
  SELECT o_orderkey, o_totalprice AS old_price FROM orders WHERE o_orderkey % 11 != 0),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
              ELSE o_totalprice END AS new_price
  FROM orders WHERE o_orderkey % 13 != 0)
SELECT o_orderkey,
       CASE WHEN old_price IS NULL THEN 'I'
            WHEN new_price IS NULL THEN 'D'
            WHEN old_price != new_price THEN 'U' END AS op,
       {mround("old_price", 2)} AS old_price,
       {mround("new_price", 2)} AS new_price
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE (CASE WHEN old_price IS NULL THEN 'I'
            WHEN new_price IS NULL THEN 'D'
            WHEN old_price != new_price THEN 'U' END) IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (hash-proportional, replayable)
# ---------------------------------------------------------------------------

def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed train/val/test assignment: split = f(md5(doc_id))
    with 90/5/5 bucket proportions, reported as per-(source, split) counts
    and token totals. Like `pipeline_shard_output`, membership is a pure
    function of the row — the split is byte-stable across re-runs, resumable
    writes, and engine versions; no rand() leakage between epochs.

    Scale: one scan, one partial-aggregated groupBy on (source, split);
    the hash is the first 8 hex digits of md5 (portable across engines)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
    return (
        d.selectExpr(
            "source",
            f"""CASE WHEN {bucket} < 90 THEN 'train'
                     WHEN {bucket} < 95 THEN 'val'
                     ELSE 'test' END AS split""",
            "n_chars",
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


PIPELINE_TRAIN_VAL_SQL = """
WITH assigned AS (
  SELECT source,
         CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
              WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM documents)
SELECT source, split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned
GROUP BY source, split
"""


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-probability LM score: per document, the mean of
    P(tok_i | tok_{i-1}) under the corpus bigram model
    (count(prev,cur) / count(prev-as-prefix)) — the order-sensitive quality
    signal the unigram `text_ngram_lm_score` can't see (scrambled text
    keeps its unigram rarity but collapses its bigram probabilities).
    Exact-rational: every probability is a ratio of two corpus counts, the
    mean quantizes terms to integer micro-units (mavg) — no logs, no
    engine-dependent float folds.

    Scale: the bigram/prefix models are wordcount-shaped aggregations
    (partial-agg map-side); at 100 TB they broadcast (vocab² is sparse:
    observed bigrams only) exactly like the unigram model join; per-doc
    scoring is then shuffle-free until the final groupBy(doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.selectExpr("doc_id", f"{WORD_TOKENS} AS toks").filter(
        F.expr("size(toks) >= 2")
    )
    bi = t.selectExpr(
        "doc_id", "toks", "explode(sequence(0, size(toks) - 2)) AS i"
    ).selectExpr("doc_id", "toks[i] AS prev", "toks[i + 1] AS cur")
    cbig = bi.groupBy("prev", "cur").agg(F.count("*").alias("cb"))
    cpref = bi.groupBy("prev").agg(F.count("*").alias("cp"))
    scored = (
        bi.join(F.broadcast(cbig), ["prev", "cur"])
        .join(F.broadcast(cpref), ["prev"])
        .selectExpr("doc_id", "CAST(cb AS DOUBLE) / cp AS p")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.expr(mavg("p", 6)).alias("mean_condprob"),
    )


TEXT_BIGRAM_LM_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
bi AS (
  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
  FROM t, unnest(range(1, len(toks))) AS u(i)),
cbig AS (SELECT prev, cur, count(*) AS cb FROM bi GROUP BY prev, cur),
cpref AS (SELECT prev, count(*) AS cp FROM bi GROUP BY prev),
scored AS (
  SELECT bi.doc_id, CAST(cb AS DOUBLE) / cp AS p
  FROM bi JOIN cbig USING (prev, cur) JOIN cpref USING (prev))
SELECT doc_id, count(*) AS n_bigrams, {mavg('p', 6)} AS mean_condprob
FROM scored GROUP BY doc_id
"""


def pipeline_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination REPORT — the release-gate companion to
    `pipeline_decontaminate` (which emits the flagged docs): for every
    training source, total docs, contaminated docs, contamination rate, and
    the count of distinct benchmark shingles that hit it. This is the table
    a dataset card publishes and the number a release gate thresholds on.

    Scale: same broadcast semi-join shape as decontaminate (the benchmark
    shingle set is tiny), then ONE groupBy(source) over the hit rows and a
    broadcast join of per-source totals — report cardinality is n_sources,
    so every aggregate partial-aggregates map-side."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "doc_id", "source", f"{WORD_TOKENS} AS t"
    ).filter(F.size("t") >= DECONTAM_W)
    sh = toks.selectExpr(
        "doc_id",
        "source",
        f"explode(array_distinct(transform(sequence(1, size(t) - {DECONTAM_W} + 1), "
        f"i -> md5(array_join(slice(t, i, {DECONTAM_W}), ' '))))) AS h",
    )
    bench = sh.filter(F.col("source") == "src0").select("h").distinct()
    hits = sh.filter(F.col("source") != "src0").join(F.broadcast(bench), "h", "left_semi")
    per_source = hits.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_contaminated"),
        F.countDistinct("h").alias("n_hit_shingles"),
    )
    totals = (
        d.filter(F.col("source") != "src0").groupBy("source").agg(F.count("*").alias("n_docs"))
    )
    return (
        totals.join(per_source, "source", "left")
        .selectExpr(
            "source",
            "n_docs",
            "coalesce(n_contaminated, 0) AS n_contaminated",
            "coalesce(n_hit_shingles, 0) AS n_hit_shingles",
            mround("CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_docs", 6)
            + " AS contam_rate",
        )
    )


PIPELINE_CONTAM_REPORT_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, source,
         md5(list_aggregate(t[i:i + {DECONTAM_W} - 1], 'string_agg', ' ')) AS h
  FROM toks, unnest(range(1, len(t) - {DECONTAM_W} + 2)) AS u(i)
  WHERE len(t) >= {DECONTAM_W}),
bench AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
hits AS (
  SELECT s.doc_id, s.source, s.h
  FROM sh s WHERE s.source <> 'src0' AND s.h IN (SELECT h FROM bench)),
per_source AS (
  SELECT source, count(DISTINCT doc_id) AS n_contaminated,
         count(DISTINCT h) AS n_hit_shingles
  FROM hits GROUP BY source),
totals AS (
  SELECT source, count(*) AS n_docs FROM documents WHERE source <> 'src0'
  GROUP BY source)
SELECT t.source, t.n_docs,
       COALESCE(p.n_contaminated, 0) AS n_contaminated,
       COALESCE(p.n_hit_shingles, 0) AS n_hit_shingles,
       {mround('CAST(COALESCE(p.n_contaminated, 0) AS DOUBLE) / t.n_docs', 6)} AS contam_rate
FROM totals t LEFT JOIN per_source p ON t.source = p.source
"""


def pipeline_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order interleave: shuffle each source
    internally by md5 priority (replayable), then round-robin across
    sources — position = (rank_within_source - 1) × n_sources +
    source_index — so a sequential reader sees sources evenly mixed
    instead of concatenated (the data-ordering step before sharded
    training, where source-run clumping skews early training).

    Scale: one row_number window per source (single shuffle on source) and
    a broadcast join of the tiny ranked-source dim; the global position is
    ARITHMETIC — no global sort ever happens. A writer then
    repartitionByRange(interleave_pos) to lay the order on disk."""
    d = load_table(spark, sf_dir, "documents")
    srcs = (
        d.select("source")
        .distinct()
        .withColumn(
            "sidx",
            F.expr("row_number() OVER (ORDER BY source)"),
        )
        .withColumn("n_src", F.expr("count(*) OVER ()"))
    )
    pri = F.md5(F.concat_ws("|", F.lit("ileave"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    ranked = d.select("doc_id", "source").withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(srcs), "source")
        .selectExpr(
            "doc_id",
            "source",
            "CAST(rn AS BIGINT) AS rn",
            "CAST((rn - 1) * n_src + sidx AS BIGINT) AS interleave_pos",
        )
    )


PIPELINE_INTERLEAVE_SQL = """
WITH srcs AS (
  SELECT source,
         row_number() OVER (ORDER BY source) AS sidx,
         count(*) OVER () AS n_src
  FROM (SELECT DISTINCT source FROM documents)),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('ileave' || '|' || CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rn
  FROM documents)
SELECT r.doc_id, r.source, CAST(r.rn AS BIGINT) AS rn,
       CAST((r.rn - 1) * s.n_src + s.sidx AS BIGINT) AS interleave_pos
FROM ranked r JOIN srcs s USING (source)
"""


# ---------------------------------------------------------------------------
# Token-budget data mixing: per-source admission under a fixed token budget
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 2000  # per-source token cap


def pipeline_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget admission — the step that turns mixing WEIGHTS into an
    actual dataset: each source gets a fixed token budget; its documents are
    ranked by deterministic md5 priority (replayable, no rand()) and
    admitted in priority order while the running token total stays within
    budget. Emits the admitted docs with their token count and the running
    total that admitted them. Complements `sample_domain_mix` (which picks
    per-source DOC quotas): budgets are what training recipes specify.

    Scale: one tokenize-free length pass (size(split()) — no explode), one
    window per source for the running cumsum (single shuffle on source; for
    hot sources, pre-aggregate per (source, priority-bucket) and cumsum the
    buckets first — same two-level trick as the interval join), one filter.
    Never collects, never ranks globally."""
    d = load_table(spark, sf_dir, "documents")
    pri = F.md5(F.concat_ws("|", F.lit("budget"), F.col("doc_id").cast("string")))
    w = (
        Window.partitionBy("source")
        .orderBy(pri.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = d.select(
        "doc_id",
        "source",
        F.expr(r"size(split(trim(text), '\\s+'))").cast("bigint").alias("n_toks"),
    )
    return (
        sized.withColumn("cum_toks", F.sum("n_toks").over(w))
        .filter(F.col("cum_toks") <= TOKEN_BUDGET)
        .select("doc_id", "source", "n_toks", "cum_toks")
    )


PIPELINE_TOKEN_BUDGET_SQL = rf"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
  FROM documents),
running AS (
  SELECT doc_id, source, n_toks,
         sum(n_toks) OVER (PARTITION BY source
                           ORDER BY md5('budget' || '|' || CAST(doc_id AS VARCHAR)) ASC,
                                    doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
  FROM sized)
SELECT doc_id, source, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
FROM running
WHERE cum_toks <= {TOKEN_BUDGET}
"""


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fasttext-style inference, engine-side)
# ---------------------------------------------------------------------------

QC_DIM = 1024  # hashed feature space
QC_MULT = 2654435761  # Knuth multiplicative constant for the weight stand-in
QC_MOD = 2003  # prime > 2*1000: weights land in [-1001, +1001] milli-units
QC_BIAS_MILLI = 50


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear text classifier inference — the fasttext-quality-filter
    shape used to score web corpora (CCNet / DCLM-style model-based
    filtering): hash each token into QC_DIM buckets, sum the per-bucket
    weights, add a bias, squash, threshold. Weights here are a
    deterministic function of the bucket id (a stand-in for a trained
    vector broadcast from the driver — swapping in real weights is a
    broadcast join against a QC_DIM-row dim table, same plan).

    Engine-exactness: bucket ids come from the shared md5→int60 hash,
    weights are integer milli-units, the per-doc feature sum is an integer
    sum (order-independent), and the squash is the ALGEBRAIC fast sigmoid
    x/(1+|x|) — add/abs/divide only, no exp(), so both engines produce
    bit-identical doubles before mround.

    Scale: tokenize once, explode, one groupBy(doc_id) with partial
    aggregation; everything whole-stage codegen. At 100 TB this is the
    cheapest model-based filter that exists — one shuffle keyed by doc_id."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "doc_id", f"explode({WORD_TOKENS}) AS tok"
    ).filter("tok <> ''")
    bucket = f"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) % {QC_DIM}"
    w_milli = f"(({bucket}) * {QC_MULT}) % {QC_MOD} - {(QC_MOD - 1) // 2}"
    scored = toks.selectExpr("doc_id", f"{w_milli} AS w_milli").groupBy("doc_id").agg(
        F.count("*").alias("n_toks"), F.sum("w_milli").alias("w_sum")
    )
    logit = f"({QC_BIAS_MILLI} + CAST(w_sum AS DOUBLE) / n_toks) / 1000"
    return scored.selectExpr(
        "doc_id",
        "n_toks",
        f"{mround(logit, 6)} AS logit",
        f"{mround(f'0.5 + ({logit}) / (1 + abs({logit})) / 2', 6)} AS score",
        f"CAST(({logit}) > 0 AS BOOLEAN) AS keep",
    )


TEXT_QC_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
feat AS (
  SELECT doc_id,
         (CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % {QC_DIM})
           * {QC_MULT} % {QC_MOD} - {(QC_MOD - 1) // 2} AS w_milli
  FROM toks WHERE tok <> ''),
scored AS (
  SELECT doc_id, count(*) AS n_toks, sum(w_milli) AS w_sum
  FROM feat GROUP BY doc_id)
SELECT doc_id, n_toks,
       {mround(f'({QC_BIAS_MILLI} + CAST(w_sum AS DOUBLE) / n_toks) / 1000', 6)} AS logit,
       {mround(f'0.5 + (({QC_BIAS_MILLI} + CAST(w_sum AS DOUBLE) / n_toks) / 1000) / (1 + abs(({QC_BIAS_MILLI} + CAST(w_sum AS DOUBLE) / n_toks) / 1000)) / 2', 6)} AS score,
       CAST((({QC_BIAS_MILLI} + CAST(w_sum AS DOUBLE) / n_toks) / 1000) > 0 AS BOOLEAN) AS keep
FROM scored
"""


def pipeline_seqlen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sequence-length histogram in power-of-two buckets — the
    batch/packing planner's input (how many docs fall in each length
    class decides packing efficiency and padding waste before training).
    Bucket = floor(log2(n_toks)) computed EXACTLY as the bit length of the
    integer token count (length of its binary string minus one) — no
    floating log, no cross-engine rounding edge at bucket boundaries.

    Scale: tokenize → size() only (never explodes tokens), one groupBy on
    (source, bucket) with ~n_sources × 64 output groups; partial
    aggregation collapses everything map-side."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.selectExpr(
        "source",
        r"greatest(size(split(trim(text), '\\s+')), 1) AS n_toks",
    ).selectExpr("source", "n_toks", "length(bin(n_toks)) - 1 AS bucket")
    return (
        sized.groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_toks"),
        )
        .selectExpr(
            "source",
            "CAST(bucket AS INT) AS bucket",
            "CAST(shiftleft(1, bucket) AS BIGINT) AS len_lo",
            "CAST(shiftleft(1, bucket + 1) - 1 AS BIGINT) AS len_hi",
            "n_docs",
            "CAST(total_toks AS BIGINT) AS total_toks",
        )
    )


PIPELINE_SEQLEN_SQL = r"""
WITH sized AS (
  SELECT source,
         greatest(len(string_split_regex(trim(text), '\s+')), 1) AS n_toks
  FROM documents),
bucketed AS (
  SELECT source, length(bin(n_toks)) - 1 AS bucket, n_toks FROM sized)
SELECT source, CAST(bucket AS INT) AS bucket,
       CAST(1 << bucket AS BIGINT) AS len_lo,
       CAST((1 << (bucket + 1)) - 1 AS BIGINT) AS len_hi,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_toks
FROM bucketed
GROUP BY source, bucket
"""


def pipeline_quality_ablate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold ablation table in one pass: for every decile cut
    of the `text_quality` composite score, how many documents and tokens
    survive and what corpus share that is — the table you read BEFORE
    choosing the filter threshold (each row answers "what does cutting at
    q ≥ 0.X cost me?"). Computing all thresholds at once replaces the
    usual re-run-the-filter-per-candidate loop.

    Determinism: the score is the same mrounded composite as
    `text_quality`; deciles are integer buckets of it; survivor counts
    are suffix sums over the 10-row decile table.

    Scale: one tokenize + one groupBy(doc) (shared shape with
    text_quality), then a ≤10-row aggregate; the suffix-sum window is
    un-partitioned BY DESIGN over those ≤10 rows — constant work however
    large the corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
    )
    score = (
        "floor((n_distinct / CAST(n_tokens AS DOUBLE) * 0.5 "
        "+ least(n_tokens / 64.0, CAST(1.0 AS DOUBLE)) * 0.5) * 1000000 + 0.5) / 1000000"
    )
    buck = per_doc.selectExpr(
        f"least(CAST(floor(({score}) * 10) AS INT), 9) AS decile", "n_tokens"
    )
    grp = buck.groupBy("decile").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_toks")
    )
    w = Window.orderBy(F.desc("decile")).rowsBetween(Window.unboundedPreceding, 0)
    tot = grp.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("n_toks").alias("tot_toks")
    )
    return (
        grp.withColumn("kept_docs", F.sum("n_docs").over(w))
        .withColumn("kept_toks", F.sum("n_toks").over(w))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(decile AS DOUBLE) / 10 AS cut",
            "CAST(kept_docs AS BIGINT) AS kept_docs",
            "CAST(kept_toks AS BIGINT) AS kept_toks",
            f"{mround('CAST(kept_docs AS DOUBLE) / tot_docs', 6)} AS doc_frac",
            f"{mround('CAST(kept_toks AS DOUBLE) / tot_toks', 6)} AS tok_frac",
        )
    )


PIPELINE_QUALITY_ABLATE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents),
per_doc AS (
  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
  FROM toks WHERE tok <> '' GROUP BY doc_id),
buck AS (
  SELECT least(CAST(floor((floor((n_distinct / CAST(n_tokens AS DOUBLE) * 0.5
               + least(n_tokens / 64.0, CAST(1.0 AS DOUBLE)) * 0.5) * 1000000 + 0.5) / 1000000) * 10) AS INT), 9) AS decile,
         n_tokens
  FROM per_doc),
grp AS (
  SELECT decile, count(*) AS n_docs, sum(n_tokens) AS n_toks
  FROM buck GROUP BY decile),
run AS (
  SELECT decile, n_docs, n_toks,
         sum(n_docs) OVER (ORDER BY decile DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS kept_docs,
         sum(n_toks) OVER (ORDER BY decile DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS kept_toks
  FROM grp),
tot AS (SELECT sum(n_docs) AS tot_docs, sum(n_toks) AS tot_toks FROM grp)
SELECT CAST(decile AS DOUBLE) / 10 AS cut,
       CAST(kept_docs AS BIGINT) AS kept_docs,
       CAST(kept_toks AS BIGINT) AS kept_toks,
       {mround('CAST(kept_docs AS DOUBLE) / tot_docs', 6)} AS doc_frac,
       {mround('CAST(kept_toks AS DOUBLE) / tot_toks', 6)} AS tok_frac
FROM run, tot
"""


DSIR_DIM = 1024  # hashed feature space (shared shape with the classifier)
DSIR_CAP = 100.0  # importance-weight clip (standard practice, and bounds the sum)


def pipeline_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance weighting (Xie et al. 2023, Data Selection
    via Importance Resampling): score every raw document by how much its
    hashed-unigram distribution looks like the TARGET domain (source
    'src0', the same held-out convention as `pipeline_decontaminate`).
    Per token the weight is the Laplace-smoothed bucket-probability ratio
    p_target/p_raw, clipped at DSIR_CAP; the document score is the mean.
    (DSIR sums log-ratios; the arithmetic mean of ratios is the
    transcendental-free twin — same ordering signal, oracle-exact. See
    PARITY notes on why no ln() ever runs engine-side.)

    Exactness: each ratio is integers-in, one-division-out, quantized to
    int64 micro-units per token, integer-summed (order-independent), one
    final division.

    Scale: the 'model' is ONE 1024-row hashed-count histogram — target and
    raw bucket counts as conditional sums of a single groupBy(b) over the
    tokenized corpus (before this the tgt/raw/tot model tables were three
    separate aggregations whose subtrees differed by scan filter, so the
    tokenize+md5 pass ran once per table); the totals derive from the
    histogram itself, and the lazy localCheckpoint means the corpus is
    hashed ONCE for the whole model. Broadcast joins ship it, exactly how
    DSIR ships its n-gram tables to workers; one groupBy(doc_id) with
    partial aggregation. Raw corpus never shuffles.

    Equivalence of the single histogram: every probe-side bucket (a bucket
    of some source<>'src0' token) has a histogram row by construction, so
    the left join's coalesce(n_t, 0) sees n_t = 0 exactly where the old
    per-table join saw a missing row, and tot_t/tot_r are the same sums
    taken over buckets instead of tokens."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "doc_id",
        "source",
        f"explode({WORD_TOKENS}) AS tok",
    ).filter("tok <> ''")
    bucket = f"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) % {DSIR_DIM}"
    bucketed = toks.selectExpr("doc_id", "source", f"{bucket} AS b")
    hist = (
        bucketed.groupBy("b")
        .agg(
            F.sum(F.expr("CASE WHEN source = 'src0' THEN 1 ELSE 0 END")).alias("n_t"),
            F.sum(F.expr("CASE WHEN source <> 'src0' THEN 1 ELSE 0 END")).alias("n_r"),
        )
        .localCheckpoint(eager=False)
    )
    tot = hist.groupBy().agg(
        F.sum("n_t").alias("tot_t"), F.sum("n_r").alias("tot_r")
    )
    ratio = (
        f"least(CAST(coalesce(n_t, 0) + 1 AS DOUBLE) * (tot_r + {DSIR_DIM}) "
        f"/ ((coalesce(n_r, 0) + 1) * CAST(tot_t + {DSIR_DIM} AS DOUBLE)), "
        f"CAST({DSIR_CAP} AS DOUBLE))"
    )
    scored = (
        bucketed.filter("source <> 'src0'")
        .join(F.broadcast(hist), "b", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "doc_id",
            f"CAST(floor(({ratio}) * 1000000 + 0.5) AS BIGINT) AS rq",
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"), F.sum("rq").alias("rsum"))
    )
    return scored.selectExpr(
        "doc_id",
        "n_toks",
        f"{mround('CAST(rsum AS DOUBLE) / n_toks / 1000000', 6)} AS weight",
        "CAST(CAST(rsum AS DOUBLE) / n_toks / 1000000 > 1 AS BOOLEAN) AS keep",
    )


PIPELINE_DSIR_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % {DSIR_DIM} AS b
  FROM (SELECT doc_id, source,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents) t
  WHERE tok <> ''),
tgt AS (SELECT b, count(*) AS n_t FROM toks WHERE source = 'src0' GROUP BY b),
raw AS (SELECT b, count(*) AS n_r FROM toks WHERE source <> 'src0' GROUP BY b),
tot AS (
  SELECT sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tot_t,
         sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS tot_r
  FROM toks),
scored AS (
  SELECT doc_id, count(*) AS n_toks,
         sum(CAST(floor(least(
               CAST(coalesce(n_t, 0) + 1 AS DOUBLE) * (tot_r + {DSIR_DIM})
               / ((coalesce(n_r, 0) + 1) * CAST(tot_t + {DSIR_DIM} AS DOUBLE)),
               CAST({DSIR_CAP} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS rsum
  FROM toks
  LEFT JOIN tgt USING (b)
  LEFT JOIN raw USING (b)
  CROSS JOIN tot
  WHERE source <> 'src0'
  GROUP BY doc_id)
SELECT doc_id, n_toks,
       {mround('CAST(rsum AS DOUBLE) / n_toks / 1000000', 6)} AS weight,
       CAST(CAST(rsum AS DOUBLE) / n_toks / 1000000 > 1 AS BOOLEAN) AS keep
FROM scored
"""


_VOCAB_TOPK = 500


def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus top-500 vocab:
    the fraction of token OCCURRENCES (and the distinct-token tail) a
    fixed vocabulary would miss — the go/no-go audit before committing a
    tokenizer vocab size, and the per-source drift alarm (a source whose
    OOV rate spikes is new-domain data the tokenizer fragments).

    Determinism: the vocabulary is the top-500 tokens under the TOTAL
    order (count DESC, token ASC), so boundary ties resolve identically
    in both engines.

    Scale: pass 1 is the wordcount shuffle + a top-k limit (Spark plans
    TakeOrderedAndProject — per-partition heaps, never a global sort);
    pass 2 re-scans tokens with the 500-row vocab BROADCAST left-joined
    (no shuffle) and folds per-source counts in one partial-agg groupBy.
    Vocabulary size is the knob: the broadcast stays KB-sized at any
    corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_TOPK)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("total_toks"),
            F.sum(F.when(F.col("in_vocab"), 1).otherwise(0)).alias("hits"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("tok"))
            ).alias("n_distinct_oov"),
        )
        .selectExpr(
            "source",
            "total_toks",
            "n_distinct_oov",
            mround("CAST(total_toks - hits AS DOUBLE) / total_toks", 6)
            + " AS oov_rate",
        )
    )


TEXT_VOCAB_OOV_SQL = rf"""
WITH toks AS (
  SELECT source, tok
  FROM (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents) t
  WHERE tok <> ''),
vocab AS (
  SELECT tok, TRUE AS in_vocab
  FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok ASC LIMIT {_VOCAB_TOPK}) v)
SELECT source,
       CAST(count(*) AS BIGINT) AS total_toks,
       CAST(count(DISTINCT CASE WHEN in_vocab IS NULL THEN toks.tok END)
            AS BIGINT) AS n_distinct_oov,
       {mround('CAST(count(*) - sum(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS DOUBLE) / count(*)', 6)}
         AS oov_rate
FROM toks LEFT JOIN vocab ON toks.tok = vocab.tok
GROUP BY source
"""


_NUCLEUS_P_NUM, _NUCLEUS_P_DEN = 9, 10  # p = 0.9 as an exact rational


def text_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-p (nucleus) vocabulary: the SMALLEST head of the
    token-frequency distribution covering >= 90% of occurrences — the
    tokenizer-budget question ("how many types until 90% coverage?") and a
    long-tail-heaviness signal per source. Membership is the exact integer
    predicate DEN*cum_prev < NUM*total (a token enters while strictly less
    than p is covered — the first crossing token is included), under the
    total order (count DESC, token ASC); no float cumsum anywhere.

    Scale: per-(source, token) counts collapse in one partial-agg shuffle;
    the cumsum window partitions BY SOURCE over the per-source vocabulary
    (parallel across sources); output is one row per source. If a single
    source's vocabulary is itself too large to window-sort in one
    partition, the exact two-level swap: the crossing point depends only on
    the count MULTISET, so cumsum over the per-count histogram (groupBy
    count value — thousands of rows) finds the threshold count t and how
    many t-count tokens enter, and only the boundary ties at t need the
    token order (one TakeOrdered over tokens with count = t)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("c"), F.asc("tok"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("source")
    kept = (
        counts.withColumn("cum_prev", F.coalesce(F.sum("c").over(w), F.lit(0)))
        .withColumn("total", F.sum("c").over(wt))
        .withColumn("n_vocab", F.count("*").over(wt))
        .filter(f"{_NUCLEUS_P_DEN} * cum_prev < {_NUCLEUS_P_NUM} * total")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("nucleus_size"),
            F.sum("c").alias("covered"),
            F.max("total").alias("total_toks"),
            F.max("n_vocab").alias("vocab_size"),
        )
        .selectExpr(
            "source",
            "nucleus_size",
            "vocab_size",
            "total_toks",
            mround("CAST(covered AS DOUBLE) / total_toks", 6) + " AS coverage",
        )
    )


TEXT_NUCLEUS_SQL = rf"""
WITH counts AS (
  SELECT source, tok, count(*) AS c
  FROM (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents) t
  WHERE tok <> ''
  GROUP BY source, tok),
ranked AS (
  SELECT source, c,
         coalesce(sum(c) OVER (PARTITION BY source ORDER BY c DESC, tok ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_prev,
         sum(c) OVER (PARTITION BY source) AS total,
         count(*) OVER (PARTITION BY source) AS n_vocab
  FROM counts),
kept AS (
  SELECT * FROM ranked
  WHERE {_NUCLEUS_P_DEN} * cum_prev < {_NUCLEUS_P_NUM} * total)
SELECT source, CAST(count(*) AS BIGINT) AS nucleus_size,
       CAST(max(n_vocab) AS BIGINT) AS vocab_size,
       CAST(max(total) AS BIGINT) AS total_toks,
       {mround('CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / max(total)', 6)}
         AS coverage
FROM kept GROUP BY source
"""


def pipeline_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights across sources (alpha = 0.3 —
    the multilingual-LM mixing rule from mBERT/XLM-R: w_i proportional to
    p_i^alpha): upweights tail sources, downweights head ones, the
    standard complement of `pipeline_token_budget_mix`'s hard caps.
    Output per source: doc count, raw share, temperature weight, and the
    boost factor w/p (how much the sampler over/under-represents the
    source vs natural frequency).

    Determinism: the normalizer sums p_i^alpha over sources in SORTED
    source order via an explicit array fold on BOTH engines (a plain SUM
    aggregates in engine-dependent order; 20 doubles summed differently
    can flip the 1e-6 rounding) — DuckDB's list_reduce seeds with the
    first element, IEEE-identical to Spark's 0.0 seed since 0+x == x;
    power(p, 0.3) is a documented engine-side-transcendental exception
    (see parity.py).

    Scale: one count aggregate per source (partial-aggregated), one
    collected fold over the SOURCE list — model-side state bounded by the
    number of corpora, not rows."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per.agg(F.sum("n_docs").alias("n_total"))
    t = per.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_docs",
        "n_total",
        "power(CAST(n_docs AS DOUBLE) / n_total, 0.3) AS x",
    )
    den = t.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "named_struct('source', source, 'x', x))), s -> s.x), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        ).alias("den")
    )
    return (
        t.crossJoin(F.broadcast(den))
        .selectExpr(
            "source",
            "n_docs",
            mround("CAST(n_docs AS DOUBLE) / n_total", 6) + " AS p_raw",
            mround("x / den", 6) + " AS w_temp",
            mround("(x / den) / (CAST(n_docs AS DOUBLE) / n_total)", 6)
            + " AS boost",
        )
    )


PIPELINE_MIX_TEMPERATURE_SQL = f"""
WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per),
t AS (
  SELECT source, n_docs, n_total,
         power(CAST(n_docs AS DOUBLE) / n_total, 0.3) AS x
  FROM per CROSS JOIN tot),
den AS (
  SELECT list_reduce(list_transform(list_sort(list({{'source': source, 'x': x}})),
                                    s -> s.x),
                     (acc, v) -> acc + v) AS den
  FROM t)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       {mround('CAST(n_docs AS DOUBLE) / n_total', 6)} AS p_raw,
       {mround('x / den', 6)} AS w_temp,
       {mround('(x / den) / (CAST(n_docs AS DOUBLE) / n_total)', 6)} AS boost
FROM t CROSS JOIN den
"""


def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio, hapax fraction
    (types occurring once — Zipf tail share), and top-token concentration
    — the vocabulary-health triple behind template/spam detection (a
    generated doc shows low TTR + high top-token share; a keyword-stuffed
    one shows the inverse hapax signature). Exact integer counting, one
    division chain at the surface.

    Scale: the wordcount shape — (doc, token) partial-agg then a per-doc
    rollup; both shuffles key on doc_id (the spread exchange double-serves
    the first), nothing ships arrays."""
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
        "doc_id",
    )
    per_tok = (
        d.selectExpr(
            "doc_id", f"explode({WORD_TOKENS}) AS tok"
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END")).alias("n_hapax"),
            F.max("c").alias("top_c"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            mround("CAST(n_types AS DOUBLE) / n_tokens", 6) + " AS ttr",
            mround("CAST(n_hapax AS DOUBLE) / n_types", 6) + " AS hapax_frac",
            mround("CAST(top_c AS DOUBLE) / n_tokens", 6) + " AS top_token_frac",
        )
    )


TEXT_LEXICAL_DIVERSITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
per_tok AS (
  SELECT doc_id, tok, count(*) AS c
  FROM toks WHERE tok <> '' GROUP BY doc_id, tok),
agg AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax, max(c) AS top_c
  FROM per_tok GROUP BY doc_id)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types, CAST(n_hapax AS BIGINT) AS n_hapax,
       {mround('CAST(n_types AS DOUBLE) / n_tokens', 6)} AS ttr,
       {mround('CAST(n_hapax AS DOUBLE) / n_types', 6)} AS hapax_frac,
       {mround('CAST(top_c AS DOUBLE) / n_tokens', 6)} AS top_token_frac
FROM agg
"""


ZIPF_K = 500  # vocabulary head the power law is fit over


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the corpus vocabulary head: OLS of ln(freq)
    on ln(rank) for the top-ZIPF_K tokens — slope ≈ −1 is the natural-text
    signature; a flat slope flags template/boilerplate corpora and a steep
    one flags vocabulary collapse (the corpus-health scalar next to
    `text_lexical_diversity`'s per-doc triple). Reported with intercept
    and R² of the log-log fit.

    Determinism: the five OLS moment sums fold over the 500 points in
    RANK order via an array accumulator on BOTH engines (DuckDB's
    list_reduce mis-evaluates struct accumulators and seeds with the first
    element — 0+x == x makes the Spark zero-seed fold IEEE-identical);
    per-point ln() is one call on identical doubles — a documented
    engine-side-transcendental exception (see parity.py: 1-ulp risk
    ~1e-10 per value).

    Scale: the vocabulary count partial-aggregates; TakeOrdered keeps
    ZIPF_K rows; everything after is model-side (a 500-element array on
    one row)."""
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
        "doc_id",
    )
    counts = (
        d.selectExpr(f"explode({WORD_TOKENS}) AS tok")
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    top = counts.orderBy(F.desc("c"), "tok").limit(ZIPF_K)
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("c"), "tok"))
    ).selectExpr(
        "rank",
        "ln(CAST(rank AS DOUBLE)) AS x",
        "ln(CAST(c AS DOUBLE)) AS y",
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(named_struct("
        "'r', rank, 'x', x, 'y', y))), s -> array(CAST(1 AS DOUBLE), s.x, s.y,"
        " s.x * s.x, s.x * s.y, s.y * s.y)), "
        "array(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),"
        " CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)), "
        "(acc, v) -> array(acc[0] + v[0], acc[1] + v[1], acc[2] + v[2],"
        " acc[3] + v[3], acc[4] + v[4], acc[5] + v[5]))"
    )
    return ranked.agg(F.expr(fold).alias("m")).selectExpr(
        "CAST(m[0] AS BIGINT) AS n_points",
        mround(
            "(m[0] * m[4] - m[1] * m[2]) / (m[0] * m[3] - m[1] * m[1])", 6
        )
        + " AS slope",
        mround(
            "(m[2] - ((m[0] * m[4] - m[1] * m[2]) / (m[0] * m[3] - m[1] * m[1]))"
            " * m[1]) / m[0]",
            6,
        )
        + " AS intercept",
        mround(
            "((m[0] * m[4] - m[1] * m[2]) * (m[0] * m[4] - m[1] * m[2]))"
            " / ((m[0] * m[3] - m[1] * m[1]) * (m[0] * m[5] - m[2] * m[2]))",
            6,
        )
        + " AS r2",
    )


TEXT_ZIPF_FIT_SQL = rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
counts AS (
  SELECT tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY tok),
top AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT {ZIPF_K}),
ranked AS (
  SELECT row_number() OVER (ORDER BY c DESC, tok) AS rank, c FROM top),
pts AS (
  SELECT rank, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM ranked),
m AS (
  SELECT list_reduce(
           list_transform(list_sort(list({{'r': rank, 'x': x, 'y': y}})),
                          s -> [CAST(1 AS DOUBLE), s.x, s.y, s.x * s.x,
                                s.x * s.y, s.y * s.y]),
           (acc, v) -> [acc[1] + v[1], acc[2] + v[2], acc[3] + v[3],
                        acc[4] + v[4], acc[5] + v[5], acc[6] + v[6]]) AS m
  FROM pts)
SELECT CAST(m[1] AS BIGINT) AS n_points,
       {mround('(m[1] * m[5] - m[2] * m[3]) / (m[1] * m[4] - m[2] * m[2])', 6)}
         AS slope,
       {mround('(m[3] - ((m[1] * m[5] - m[2] * m[3]) / (m[1] * m[4] - m[2] * m[2])) * m[2]) / m[1]', 6)}
         AS intercept,
       {mround('((m[1] * m[5] - m[2] * m[3]) * (m[1] * m[5] - m[2] * m[3])) / ((m[1] * m[4] - m[2] * m[2]) * (m[1] * m[6] - m[3] * m[3]))', 6)}
         AS r2
FROM m
"""


BPE_MERGES = 3


def _bpe_escape(sym: str) -> str:
    """Escape a symbol for embedding as a SQL string literal."""
    return sym.replace("\\", "\\\\").replace("'", "\\'")


def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE_MERGES merge rules of byte-pair-encoding tokenizer
    training over the corpus (Sennrich et al., ACL'16): build the word
    frequency table, split words into character symbols, then repeatedly
    (count adjacent symbol pairs weighted by word frequency → take the
    most frequent pair, ties broken (count DESC, sym_a, sym_b) → merge
    its occurrences greedily left-to-right inside every word). Output:
    one row per merge rule with its pair count — the start of the merges
    file every BPE/GPT-2-style tokenizer ships. (No end-of-word marker:
    the fixture corpus is space-tokenized lowercase words, so the marker
    would be a constant suffix; documented deviation from the Sennrich
    formulation, identical in both engines.)

    Determinism: pair counts are integer sums; greedy application is the
    same left-to-right fold on both engines (non-overlapping: after a
    merge the new symbol becomes the fold's tail, so `aaa` + (a,a) →
    [aa, a], the standard BPE behavior).

    Scale: the corpus is scanned ONCE (the word-frequency groupBy, then
    localCheckpoint); each round is one linear pass over the
    vocabulary-sized symbol table (pair explode + partial-aggregated
    groupBy) plus a 1-row top-1 collect — the merge rule is MODEL state
    exactly like the k-means centroids (scale.py) and PCA Gram
    (similarity.py) — and the applied merge is re-checkpointed so rounds
    never stack lineage (see `_bpe_train`)."""
    rules, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        rules,
        "merge_rank long, sym_a string, sym_b string, merged string, pair_count long",
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Run the BPE_MERGES training rounds; returns (rules, the (w, s, freq)
    vocabulary table with all merges applied) — shared by the merge-rule
    report and the fertility audit so the two can't disagree on the
    trained tokenizer.

    The vocabulary is localCheckpoint-ed ONCE after the corpus groupBy and
    again after each merge application: without the truncation, round r's
    lineage re-scans the corpus r times AND stacks r nested fold lambdas,
    whose Catalyst analysis cost grows superlinearly (measured 1.6 s →
    3.0 s → 10.3 s per round at sf0.1; ~1 s total with the checkpoints —
    the same materialize-the-iteration fix as the PCA Gram and the CC
    rounds). The checkpointed table is vocabulary-sized, ≪ corpus."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.selectExpr(f"explode({WORD_TOKENS}) AS w")
        .filter("w != ''")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    cur = words.selectExpr(
        "w",
        "transform(sequence(1, length(w)), i -> substring(w, i, 1)) AS s",
        "freq",
    ).localCheckpoint()
    rules: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, BPE_MERGES + 1):
        pairs = cur.filter("size(s) >= 2").selectExpr(
            "explode(transform(sequence(0, size(s) - 2), "
            "i -> named_struct('a', s[i], 'b', s[i + 1]))) AS p",
            "freq",
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        rules.append((rank, a, b, a + b, cnt))
        ea, eb, eab = _bpe_escape(a), _bpe_escape(b), _bpe_escape(a + b)
        cur = cur.selectExpr(
            "w",
            "CASE WHEN size(s) < 2 THEN s ELSE "
            "aggregate(slice(s, 2, size(s) - 1), array(s[0]), "
            f"(acc, x) -> CASE WHEN element_at(acc, -1) = '{ea}' AND x = '{eb}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{eab}')) "
            "ELSE concat(acc, array(x)) END) END AS s",
            "freq",
        ).localCheckpoint()
    return rules, cur


def _bpe_sql_ctes(emit_final: bool) -> str:
    """Shared unrolled CTE chain for the BPE oracles: char split → per-round
    (adjacent pair count → deterministic top-1 → correlated list_reduce
    merge). With emit_final, also applies round BPE_MERGES' rule so
    s{BPE_MERGES + 1} is the fully trained vocabulary. The merge applies
    via LEFT JOIN ON TRUE (not CROSS JOIN): when the pair supply exhausts
    before BPE_MERGES rounds, t{r} is EMPTY and a cross join would wipe
    the vocabulary — the left join keeps every word with NULL rule fields,
    which the fold's CASE treats as never-matching, mirroring the Spark
    trainer's loop break."""
    rounds = []
    for r in range(1, BPE_MERGES + 1):
        rounds.append(
            f"""p{r} AS (
  SELECT u.a AS a, u.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
  FROM s{r}, unnest(list_transform(range(1, len(s)),
       i -> struct_pack(a := s[i], b := s[i + 1]))) AS t(u)
  GROUP BY 1, 2),
t{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1)"""
        )
        if r < BPE_MERGES or emit_final:
            rounds.append(
                f"""s{r + 1} AS (
  SELECT w, CASE WHEN len(s) < 2 THEN s ELSE list_reduce(
           list_prepend([s[1]], list_transform(s[2:], x -> [x])),
           (acc, v) -> CASE WHEN acc[-1] = t{r}.a AND v[1] = t{r}.b
                       THEN acc[:len(acc) - 1] || [t{r}.a || t{r}.b]
                       ELSE acc || [v[1]] END) END AS s, freq
  FROM s{r} LEFT JOIN t{r} ON TRUE)"""
            )
    return rf"""WITH words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM documents) t
  WHERE w != '' GROUP BY w),
s1 AS (SELECT w, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS s, freq
       FROM words),
{",".join(rounds)}"""


def _bpe_sql() -> str:
    selects = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS sym_a, b AS sym_b, a || b AS merged,"
        f" cnt AS pair_count FROM t{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return f"""
{_bpe_sql_ctes(emit_final=False)}
{selects}
"""


TOKENIZER_BPE_MERGES_SQL = _bpe_sql()


def tokenizer_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility audit of the trained BPE_MERGES-rule tokenizer: apply the
    learned merges to the vocabulary, then report per source the corpus
    word/char/token totals and the two ratios every tokenizer eval quotes
    — fertility (tokens per word) and compression (chars per token). This
    is the read-out that tells you whether the merges learned on a mixed
    corpus serve each domain equally (a domain with high fertility is
    under-served and will cost more context window).

    Determinism: totals are integer sums; the two ratios are one fixed
    double division each, mround(6).

    Scale: training is `_bpe_train` (linear rounds, 1-row model-state
    collects); the audit joins the corpus token stream to the
    vocabulary's (word → token count) map — a groupBy-shaped equi-join on
    the word key (vocabulary ≪ corpus; AQE broadcasts it when it fits) —
    then one partial-aggregated groupBy(source). No new shuffle shape."""
    _, vocab = _bpe_train(spark, sf_dir)
    per_word = vocab.selectExpr("w", "CAST(size(s) AS BIGINT) AS n_tok")
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "source", f"explode({WORD_TOKENS}) AS w"
    ).filter("w != ''")
    return (
        toks.join(per_word, "w")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.expr("length(w)")).alias("n_chars"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .selectExpr(
            "source",
            "n_words",
            "n_chars",
            "n_tokens",
            mround("CAST(n_tokens AS DOUBLE) / n_words", 6) + " AS fertility",
            mround("CAST(n_chars AS DOUBLE) / n_tokens", 6) + " AS chars_per_token",
        )
    )


TOKENIZER_FERTILITY_SQL = f"""
{_bpe_sql_ctes(emit_final=True)},
per_word AS (
  SELECT w, CAST(len(s) AS BIGINT) AS n_tok FROM s{BPE_MERGES + 1}),
toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
flt AS (SELECT source, w FROM toks WHERE w != '')
SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(f.w)) AS BIGINT) AS n_chars,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       {mround('CAST(sum(n_tok) AS DOUBLE) / count(*)', 6)} AS fertility,
       {mround('CAST(sum(length(f.w)) AS DOUBLE) / sum(n_tok)', 6)} AS chars_per_token
FROM flt f JOIN per_word p ON f.w = p.w
GROUP BY source
"""


BM25_TOP_K = 5  # characteristic terms per document


def _bm25_weight(tf: str = "tf", df: str = "df", dl: str = "dl") -> str:
    """Okapi BM25 weight of one term in one document as Spark SQL, over the
    corpus stats columns ``n_docs`` and ``sum_dl``: k1 = 1.2, b = 0.75 and
    the log-free idf of :func:`text_bm25_topk`."""
    return (
        f"(CAST(n_docs - {df} AS DOUBLE) + 0.5) / (CAST({df} AS DOUBLE) + 0.5)"
        f" * (CAST({tf} AS DOUBLE) * 2.2) / (CAST({tf} AS DOUBLE)"
        f" + 1.2 * (0.25 + 0.75 * CAST({dl} AS DOUBLE) * n_docs / sum_dl))"
    )


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 term scoring — the retrieval-era upgrade of
    :func:`text_tfidf_topk` (same postings substrate) with document-length
    normalization: score = idf_sur * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))
    at the textbook k1=1.2, b=0.75. Like tf-idf, the log is deliberately
    dropped from the Robertson idf: idf_sur = (N - df + 0.5)/(df + 0.5) is
    the exact rational argument of ln() and monotone in it, so the ranking
    (which is what BM25 exists for) is unchanged while every arithmetic op
    stays cross-engine IEEE-exact (PARITY notes).

    Scale: one tokenize + postings groupBy, a df window keyed by token, and
    a dl window + top-k rank window both keyed by doc_id (one exchange
    serves both); corpus stats (N, total token count) are a broadcast 1-row
    aggregate. Identical shuffle shapes to text_tfidf_topk — linear at
    100 TB, no new exchange."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d)
    postings = toks.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    stats = postings.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum("tf").cast("bigint").alias("sum_dl"),
    )
    enriched = postings.withColumn(
        "df", F.count("*").over(Window.partitionBy("tok")).cast("bigint")
    ).withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")).cast("bigint"))
    scored = enriched.crossJoin(F.broadcast(stats)).selectExpr(
        "doc_id",
        "tok",
        "tf",
        "df",
        "dl",
        mround(_bm25_weight(), 6) + " AS bm25",
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("doc_id", "tok", "tf", "df", "dl", "bm25", "rank")
    )


TEXT_BM25_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
postings AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok, doc_id),
stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(sum(tf) AS BIGINT) AS sum_dl
  FROM postings),
enriched AS (
  SELECT doc_id, tok, tf,
         CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
  FROM postings),
scored AS (
  SELECT doc_id, tok, tf, df, dl,
         {mround('(CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)'
                 ' * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)'
                 ' + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * n_docs / sum_dl))', 6)} AS bm25
  FROM enriched CROSS JOIN stats),
ranked AS (
  SELECT doc_id, tok, tf, df, dl, bm25,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, tok ASC) AS BIGINT) AS rank
  FROM scored)
SELECT doc_id, tok, tf, df, dl, bm25, rank FROM ranked WHERE rank <= {BM25_TOP_K}
"""


# Classifier-eval substrate: the hashed-linear stand-in model's score (exact
# integer micro-units of the mround(6) sigmoid — see text_quality_classifier)
# next to a rule-based quality label (the text_quality composite >= 0.65 on
# the SAME lowercased tokenization, so both derive from one token exchange).
# The stand-in weights are hash-derived, hence uncorrelated with the rule by
# construction — the fixture value is the exact distributed eval machinery,
# not the (deliberately humble) model.
QC_LABEL_CUT = 0.65


def _qc_score_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "doc_id", f"explode({WORD_TOKENS}) AS tok"
    ).filter("tok <> ''")
    bucket = f"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) % {QC_DIM}"
    w_milli = f"(({bucket}) * {QC_MULT}) % {QC_MOD} - {(QC_MOD - 1) // 2}"
    per_doc = toks.selectExpr("doc_id", "tok", f"{w_milli} AS w_milli").groupBy(
        "doc_id"
    ).agg(
        F.count("*").alias("n_toks"),
        F.countDistinct("tok").alias("n_distinct"),
        F.sum("w_milli").alias("w_sum"),
    )
    logit = f"({QC_BIAS_MILLI} + CAST(w_sum AS DOUBLE) / n_toks) / 1000"
    return per_doc.selectExpr(
        "doc_id",
        f"CAST(floor((0.5 + ({logit}) / (1 + abs({logit})) / 2) * 1000000 + 0.5) AS BIGINT)"
        " AS score_micro",
        "CAST((CAST(n_distinct AS DOUBLE) / n_toks * 0.5"
        f" + least(n_toks / 64.0, 1.0) * 0.5) >= {QC_LABEL_CUT} AS INT) AS label",
    )


_QC_SCORE_LABEL_SQL = rf"""
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
feat AS (
  SELECT doc_id, tok,
         (CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % {QC_DIM})
           * {QC_MULT} % {QC_MOD} - {(QC_MOD - 1) // 2} AS w_milli
  FROM toks WHERE tok <> ''),
per_doc AS (
  SELECT doc_id, count(*) AS n_toks, count(DISTINCT tok) AS n_distinct,
         sum(w_milli) AS w_sum
  FROM feat GROUP BY doc_id),
scored AS (
  SELECT doc_id,
         CAST(floor((0.5 + (({QC_BIAS_MILLI} + CAST(w_sum AS DOUBLE) / n_toks) / 1000)
               / (1 + abs(({QC_BIAS_MILLI} + CAST(w_sum AS DOUBLE) / n_toks) / 1000)) / 2)
               * 1000000 + 0.5) AS BIGINT) AS score_micro,
         CAST((CAST(n_distinct AS DOUBLE) / n_toks * 0.5
               + least(n_toks / 64.0, 1.0) * 0.5) >= {QC_LABEL_CUT} AS INT) AS label
  FROM per_doc)
"""


def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / ECE input for the quality classifier: bin the
    model score on a fixed 0.02 grid (bin = score_micro div 20000 — an
    integer division of exact micro-units, so bin assignment is
    cross-engine exact), then per bin report support, positives, the mean
    predicted score, the empirical positive rate, and |gap|. ECE is the
    support-weighted mean of abs_gap — left to the consumer so the output
    stays a per-bin table.

    Scale: the substrate is one tokenize + one groupBy(doc_id); the
    calibration rollup is a second groupBy over per-doc rows with partial
    aggregation onto ~a dozen bin groups. All sums are integer (micro-unit
    scores, 0/1 labels) — reduction-order-proof."""
    per = _qc_score_label(spark, sf_dir)
    agg = per.selectExpr("score_micro div 20000 AS bin", "score_micro", "label").groupBy(
        "bin"
    ).agg(
        F.count("*").alias("n"),
        F.sum("label").cast("bigint").alias("n_pos"),
        F.sum("score_micro").alias("sum_micro"),
    )
    ms = "CAST(sum_micro AS DOUBLE) / 1000000 / n"
    pr = "CAST(n_pos AS DOUBLE) / n"
    return agg.selectExpr(
        "bin",
        "n",
        "n_pos",
        mround(ms, 6) + " AS mean_score",
        mround(pr, 6) + " AS pos_rate",
        mround(f"abs(({ms}) - ({pr}))", 6) + " AS abs_gap",
    )


EVAL_CALIBRATION_SQL = rf"""
WITH {_QC_SCORE_LABEL_SQL},
agg AS (
  SELECT score_micro // 20000 AS bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS n_pos,
         CAST(sum(score_micro) AS BIGINT) AS sum_micro
  FROM scored GROUP BY 1)
SELECT bin, n, n_pos,
       {mround('CAST(sum_micro AS DOUBLE) / 1000000 / n', 6)} AS mean_score,
       {mround('CAST(n_pos AS DOUBLE) / n', 6)} AS pos_rate,
       {mround('abs((CAST(sum_micro AS DOUBLE) / 1000000 / n) - (CAST(n_pos AS DOUBLE) / n))', 6)} AS abs_gap
FROM agg
"""


def eval_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 sweep of the quality classifier against the rule
    label at nine operating thresholds (0.56..0.64, the stand-in model's
    observed score range). The confusion counts come from ONE linear pass:
    per-doc rows collapse to a (centi-score-bin, label) contingency table
    (≲40 rows), which then cross-joins the 9-row threshold dim — the
    classic PR-curve-without-resorting trick. Thresholds sit exactly on
    centi-bin edges, so `score >= t` is an integer bin comparison with no
    float boundary risk. F1 uses the division-free identity
    2·tp/(2·tp+fp+fn); precision is NULL where nothing is predicted
    positive.

    Scale: corpus-sized work is the substrate's single groupBy(doc_id);
    everything after operates on the ≲40-row contingency table."""
    per = _qc_score_label(spark, sf_dir)
    cnts = per.selectExpr("score_micro div 10000 AS centi", "label").groupBy(
        "centi", "label"
    ).agg(F.count("*").alias("cnt"))
    thr = spark.range(56, 65).selectExpr("CAST(id AS BIGINT) AS thr_centi")
    joined = cnts.crossJoin(F.broadcast(thr))
    agg = joined.groupBy("thr_centi").agg(
        F.sum(F.expr("CASE WHEN centi >= thr_centi AND label = 1 THEN cnt ELSE 0 END")).cast("bigint").alias("tp"),
        F.sum(F.expr("CASE WHEN centi >= thr_centi AND label = 0 THEN cnt ELSE 0 END")).cast("bigint").alias("fp"),
        F.sum(F.expr("CASE WHEN centi < thr_centi AND label = 1 THEN cnt ELSE 0 END")).cast("bigint").alias("fn"),
        F.sum(F.expr("CASE WHEN centi < thr_centi AND label = 0 THEN cnt ELSE 0 END")).cast("bigint").alias("tn"),
    )
    return agg.selectExpr(
        "CAST(thr_centi AS DOUBLE) / 100 AS threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        "CASE WHEN tp + fp = 0 THEN NULL ELSE "
        + mround("CAST(tp AS DOUBLE) / (tp + fp)", 6)
        + " END AS precision",
        "CASE WHEN tp + fn = 0 THEN NULL ELSE "
        + mround("CAST(tp AS DOUBLE) / (tp + fn)", 6)
        + " END AS recall",
        "CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE "
        + mround("CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)", 6)
        + " END AS f1",
    )


EVAL_THRESHOLD_SWEEP_SQL = rf"""
WITH {_QC_SCORE_LABEL_SQL},
cnts AS (
  SELECT score_micro // 10000 AS centi, label, CAST(count(*) AS BIGINT) AS cnt
  FROM scored GROUP BY 1, 2),
thr AS (SELECT CAST(unnest(range(56, 65)) AS BIGINT) AS thr_centi),
agg AS (
  SELECT thr_centi,
         CAST(sum(CASE WHEN centi >= thr_centi AND label = 1 THEN cnt ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN centi >= thr_centi AND label = 0 THEN cnt ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN centi < thr_centi AND label = 1 THEN cnt ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN centi < thr_centi AND label = 0 THEN cnt ELSE 0 END) AS BIGINT) AS tn
  FROM cnts CROSS JOIN thr GROUP BY thr_centi)
SELECT CAST(thr_centi AS DOUBLE) / 100 AS threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp = 0 THEN NULL ELSE {mround('CAST(tp AS DOUBLE) / (tp + fp)', 6)} END AS precision,
       CASE WHEN tp + fn = 0 THEN NULL ELSE {mround('CAST(tp AS DOUBLE) / (tp + fn)', 6)} END AS recall,
       CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE {mround('CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)', 6)} END AS f1
FROM agg
"""


# Fixed ad-hoc query workload for the retrieval path (terms drawn from the
# synthetic corpus vocabulary; q3 includes the rarest token so one query
# exercises the high-idf regime).
BM25_QUERIES: dict[str, list[str]] = {
    "q_hash_join": ["hash", "join"],
    "q_sort_pipeline": ["sort", "merge", "window"],
    "q_dedup": ["dup", "scan"],
    "q_streaming": ["stream", "batch"],
    "q_engine": ["spark", "query", "fast"],
}
BM25_TERMS = sorted({t for ts in BM25_QUERIES.values() for t in ts})
BM25_SEARCH_TOP_K = 10


def _qterms(spark: SparkSession) -> DataFrame:
    """The query workload as (query_id, tok) rows."""
    return spark.createDataFrame(
        [(q, t) for q, ts in sorted(BM25_QUERIES.items()) for t in ts],
        "query_id string, tok string",
    )


def _workload_per_doc(toks: DataFrame) -> DataFrame:
    """One row per document with a token: its length ``dl`` and the count
    ``tf{i}`` of each workload term ``BM25_TERMS[i]``. One groupBy(doc_id)
    of conditional sums, so the full-vocabulary postings never shuffle; the
    workload is fixed at plan time. Materialized once, since its consumers
    (corpus stats, the term unpivot) read it several times."""
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("dl"),
            *[
                F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
                .cast("bigint")
                .alias(f"tf{i}")
                for i, t in enumerate(BM25_TERMS)
            ],
        )
        .localCheckpoint()
    )


def _workload_postings(per_doc: DataFrame) -> DataFrame:
    """(doc_id, dl, tok, tf) for each workload term a document holds: the
    stack() unpivot of :func:`_workload_per_doc`, bounded by the workload,
    not the vocabulary."""
    stack_args = ", ".join(f"'{t}', tf{i}" for i, t in enumerate(BM25_TERMS))
    return per_doc.selectExpr(
        "doc_id", "dl", f"stack({len(BM25_TERMS)}, {stack_args}) AS (tok, tf)"
    ).filter("tf > 0")


def _bm25_workload_scored(toks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """BM25 substrate of the query workload over the token frame ``toks``
    (doc_id, tok): (scored, stats), where scored is (doc_id, tok, tf, dl,
    bm25_micro) for every workload term a document holds, each weight as
    exact integer micro-units so any sum of them is reduction-order-proof,
    and stats is the 1-row (n_docs, sum_dl) corpus aggregate."""
    per_doc = _workload_per_doc(toks)
    stats = per_doc.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    postings = _workload_postings(per_doc)
    dfs = postings.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    scored = (
        postings.join(F.broadcast(dfs), "tok").crossJoin(F.broadcast(stats))
    ).selectExpr("doc_id", "tok", "tf", "dl", f"{cents(_bm25_weight())} AS bm25_micro")
    return scored, stats


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-side BM25 retrieval — the actual search-engine shape on top of
    :func:`text_bm25_topk`'s scoring: a fixed 5-query workload joins the
    postings on the term key (the query table is broadcast — it is the tiny
    side by construction), each matched term contributes its BM25 weight,
    and per (query, doc) the contributions sum AS INTEGER MICRO-UNITS so
    the float reduction order cannot move a bit; top-10 docs per query by
    (score DESC, doc_id ASC).

    Scale: the query workload is FIXED and known at plan time, so the only
    postings that can ever reach the query join are the <=13 workload
    terms' — ONE groupBy(doc_id) pass computes the doc-length table and
    each workload term's per-doc tf as conditional sums (the r11 shape
    shuffled the full-vocabulary (tok, doc_id) postings and ran TWO windows
    over them — partition-by-term df and partition-by-doc dl — only to
    discard every non-workload row at the join). df/dl/stats all derive
    from the tiny wide table; one broadcast equi-join (term dim ≪ corpus)
    and one (query, doc) groupBy follow — at 100 TB this is exactly how
    batch retrieval over an inverted index runs; the WindowGroupLimit
    top-k never materializes a global sort."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d)
    scored, _ = _bm25_workload_scored(toks)
    hits = scored.join(F.broadcast(_qterms(spark)), "tok").groupBy("query_id", "doc_id").agg(
        F.count("*").cast("bigint").alias("n_hit_terms"),
        F.sum("bm25_micro").alias("score_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_SEARCH_TOP_K)
        .selectExpr(
            "query_id",
            "doc_id",
            "n_hit_terms",
            "CAST(score_micro AS DOUBLE) / 1000000 AS score",
            "rank",
        )
    )


def _bm25_query_values() -> str:
    return ", ".join(
        f"('{q}', '{t}')" for q, ts in sorted(BM25_QUERIES.items()) for t in ts
    )


TEXT_BM25_SEARCH_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
postings AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok, doc_id),
stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(sum(tf) AS BIGINT) AS sum_dl
  FROM postings),
enriched AS (
  SELECT doc_id, tok, tf,
         CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
  FROM postings),
scored AS (
  SELECT doc_id, tok,
         CAST(floor((
           (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)
           * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)
           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * n_docs / sum_dl))
         ) * 1000000 + 0.5) AS BIGINT) AS bm25_micro
  FROM enriched CROSS JOIN stats),
qterms AS (SELECT * FROM (VALUES {_bm25_query_values()}) AS v(query_id, tok)),
hits AS (
  SELECT query_id, s.doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
         CAST(sum(bm25_micro) AS BIGINT) AS score_micro
  FROM scored s JOIN qterms USING (tok)
  GROUP BY query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, n_hit_terms,
         CAST(score_micro AS DOUBLE) / 1000000 AS score,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
  FROM hits)
SELECT query_id, doc_id, n_hit_terms, score, rank
FROM ranked WHERE rank <= {BM25_SEARCH_TOP_K}
"""


COMPACT_TARGET_BYTES = 2048  # per-output-file target (fixture-scaled)


def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan — the Delta-OPTIMIZE / Iceberg-rewrite
    bin-packing shape: within each source, walk documents in doc_id order
    accumulating bytes (the `n_chars` stat column — the plan never touches
    `text`, so the scan is two pruned columns), and open a new output file
    whenever the EXCLUSIVE running total crosses the target. file_seq =
    floor(running_excl / target) admits bounded overflow per file (≤ one
    document), which is exactly the greedy heuristic real compactors use.
    Output: one row per planned file with its document span and size.

    Scale: one window cumsum keyed by source + one groupBy on the same key
    — a single exchange. Deterministic packing is inherently sequential
    per key; at 100 TB the key widens to (source, shard) so each packing
    walk stays executor-sized."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    planned = d.withColumn(
        "file_seq",
        F.floor(
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / F.lit(COMPACT_TARGET_BYTES)
        ).cast("bigint"),
    )
    return (
        planned.groupBy("source", "file_seq")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select("source", "file_seq", "n_docs", "bytes", "first_doc", "last_doc")
    )


PIPELINE_COMPACTION_SQL = f"""
WITH planned AS (
  SELECT source, doc_id, n_chars,
         CAST(floor(coalesce(sum(n_chars) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / {COMPACT_TARGET_BYTES}) AS BIGINT) AS file_seq
  FROM documents)
SELECT source, file_seq, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS bytes,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM planned GROUP BY source, file_seq
"""


K_ANON = 5  # minimum group size for a quasi-identifier combo to be releasable


def pipeline_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit over the (lang, source) quasi-identifier —
    the privacy gate that complements :func:`pipeline_pii_scrub` before a
    corpus ships: any QI group smaller than k=5 re-identifies its members by
    attribute combination alone, PII-scrubbed or not. Per group: size,
    at-risk flag, and the corpus-wide share of documents sitting in at-risk
    groups (the number a release checklist actually quotes — suppressing
    those rows is the standard remediation).

    Scale: one partial-aggregated groupBy on the QI key; the corpus risk
    share is a 1-row aggregate over the GROUP table (cardinality = QI
    combinations, ≪ corpus) broadcast back — never a second data pass."""
    d = load_table(spark, sf_dir, "documents")
    groups = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    risk = groups.agg(
        F.sum(F.expr(f"CASE WHEN n < {K_ANON} THEN n ELSE 0 END")).alias("n_risk"),
        F.sum("n").alias("n_total"),
    )
    return groups.crossJoin(F.broadcast(risk)).selectExpr(
        "lang",
        "source",
        "n",
        f"CAST(n < {K_ANON} AS BOOLEAN) AS at_risk",
        mround("CAST(n_risk AS DOUBLE) / n_total", 6) + " AS corpus_risk_share",
    )


PIPELINE_KANON_SQL = f"""
WITH groups AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source),
risk AS (
  SELECT CAST(sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT) AS n_risk,
         CAST(sum(n) AS BIGINT) AS n_total
  FROM groups)
SELECT lang, source, n,
       CAST(n < {K_ANON} AS BOOLEAN) AS at_risk,
       {mround('CAST(n_risk AS DOUBLE) / n_total', 6)} AS corpus_risk_share
FROM groups CROSS JOIN risk
"""


QUERIES: dict[str, QuerySpec] = {
    "pipeline_mix_temperature": QuerySpec(
        pipeline_mix_temperature, PIPELINE_MIX_TEMPERATURE_SQL, "pipeline"
    ),
    "text_lexical_diversity": QuerySpec(
        text_lexical_diversity, TEXT_LEXICAL_DIVERSITY_SQL, "text"
    ),
    "text_zipf_fit": QuerySpec(text_zipf_fit, TEXT_ZIPF_FIT_SQL, "text"),
    "text_nucleus_vocab": QuerySpec(text_nucleus_vocab, TEXT_NUCLEUS_SQL, "text"),
    "text_vocab_oov_rate": QuerySpec(text_vocab_oov_rate, TEXT_VOCAB_OOV_SQL, "text"),
    "pipeline_importance_weights": QuerySpec(
        pipeline_importance_weights, PIPELINE_DSIR_SQL, "pipeline"
    ),
    "pipeline_quality_ablate": QuerySpec(
        pipeline_quality_ablate, PIPELINE_QUALITY_ABLATE_SQL, "pipeline"
    ),
    "text_quality_classifier": QuerySpec(text_quality_classifier, TEXT_QC_SQL, "text"),
    "pipeline_seqlen_histogram": QuerySpec(
        pipeline_seqlen_histogram, PIPELINE_SEQLEN_SQL, "pipeline"
    ),
    "pipeline_token_budget_mix": QuerySpec(
        pipeline_token_budget_mix, PIPELINE_TOKEN_BUDGET_SQL, "pipeline"
    ),
    "pipeline_contamination_report": QuerySpec(
        pipeline_contamination_report, PIPELINE_CONTAM_REPORT_SQL, "pipeline"
    ),
    "text_bigram_lm_score": QuerySpec(text_bigram_lm_score, TEXT_BIGRAM_LM_SQL, "text"),
    "pipeline_interleave_order": QuerySpec(
        pipeline_interleave_order, PIPELINE_INTERLEAVE_SQL, "pipeline"
    ),
    "pipeline_train_val_split": QuerySpec(
        pipeline_train_val_split, PIPELINE_TRAIN_VAL_SQL, "pipeline"
    ),
    "text_heavy_hitters_mg": QuerySpec(
        text_heavy_hitters_mg, TEXT_HEAVY_HITTERS_SQL, "text"
    ),
    "text_pmi_topk": QuerySpec(text_pmi_topk, TEXT_PMI_SQL, "text"),
    "pipeline_snapshot_diff": QuerySpec(
        pipeline_snapshot_diff, PIPELINE_SNAPSHOT_DIFF_SQL, "pipeline"
    ),
    "text_ngram_lm_score": QuerySpec(text_ngram_lm_score, TEXT_NGRAM_LM_SQL, "text"),
    "pipeline_shard_output": QuerySpec(pipeline_shard_output, PIPELINE_SHARD_SQL, "pipeline"),
    "pipeline_dataset_card": QuerySpec(pipeline_dataset_card, PIPELINE_DATASET_CARD_SQL, "pipeline"),
    "text_inverted_index": QuerySpec(text_inverted_index, TEXT_INVERTED_SQL, "text"),
    "pipeline_corpus_e2e": QuerySpec(pipeline_corpus_e2e, PIPELINE_E2E_SQL, "pipeline"),
    "text_repetition_stats": QuerySpec(text_repetition_stats, TEXT_REPETITION_SQL, "text"),
    "pipeline_pii_scrub": QuerySpec(pipeline_pii_scrub, PIPELINE_PII_SQL, "pipeline"),
    "pipeline_domain_filter": QuerySpec(pipeline_domain_filter, PIPELINE_DOMAIN_SQL, "pipeline"),
    "text_tfidf_topk": QuerySpec(text_tfidf_topk, TEXT_TFIDF_SQL, "text"),
    "sample_domain_mix": QuerySpec(sample_domain_mix, SAMPLE_DOMAIN_MIX_SQL, "pipeline"),
    "pipeline_merge_scd": QuerySpec(pipeline_merge_scd, PIPELINE_MERGE_SQL, "pipeline"),
    "pipeline_chunk_documents": QuerySpec(pipeline_chunk_documents, PIPELINE_CHUNK_SQL, "pipeline"),
    "pipeline_pack_sequences": QuerySpec(pipeline_pack_sequences, PIPELINE_PACK_SQL, "pipeline"),
    "pipeline_decontaminate": QuerySpec(pipeline_decontaminate, PIPELINE_DECONTAM_SQL, "pipeline"),
    "sample_stratified_fixed": QuerySpec(sample_stratified_fixed, SAMPLE_STRATIFIED_SQL, "pipeline"),
    "text_bigram_topk": QuerySpec(text_bigram_topk, TEXT_BIGRAM_SQL, "text"),
    "pipeline_upsert_latest": QuerySpec(pipeline_upsert_latest, PIPELINE_UPSERT_SQL, "pipeline"),
    "pipeline_quality_filter": QuerySpec(pipeline_quality_filter, PIPELINE_QUALITY_FILTER_SQL, "pipeline"),
    "sample_hash_bucket": QuerySpec(sample_hash_bucket, SAMPLE_HASH_SQL, "pipeline"),
    "pipeline_clean_corpus": QuerySpec(pipeline_clean_corpus, PIPELINE_CLEAN_SQL, "pipeline"),
    "charcount": QuerySpec(charcount, CHARCOUNT_SQL, "text/flagship"),
    "wordcount": QuerySpec(wordcount, WORDCOUNT_SQL, "text"),
    "token_stats": QuerySpec(token_stats, TOKEN_STATS_SQL, "text"),
    "token_bpe_ish": QuerySpec(token_bpe_ish, TOKEN_BPE_SQL, "text"),
    "text_quality": QuerySpec(text_quality, TEXT_QUALITY_SQL, "text"),
    "lang_id_heuristic": QuerySpec(lang_id_heuristic, LANG_ID_SQL, "text"),
    "doc_fingerprint": QuerySpec(doc_fingerprint, DOC_FINGERPRINT_SQL, "text"),
    "tokenizer_bpe_merges": QuerySpec(
        tokenizer_bpe_merges, TOKENIZER_BPE_MERGES_SQL, "text"
    ),
    "tokenizer_apply_fertility": QuerySpec(
        tokenizer_apply_fertility, TOKENIZER_FERTILITY_SQL, "text"
    ),
    "text_bm25_topk": QuerySpec(text_bm25_topk, TEXT_BM25_SQL, "text"),
    "text_bm25_search": QuerySpec(text_bm25_search, TEXT_BM25_SEARCH_SQL, "text"),
    "eval_calibration_bins": QuerySpec(
        eval_calibration_bins, EVAL_CALIBRATION_SQL, "text"
    ),
    "eval_threshold_sweep": QuerySpec(
        eval_threshold_sweep, EVAL_THRESHOLD_SWEEP_SQL, "text"
    ),
    "pipeline_compaction_plan": QuerySpec(
        pipeline_compaction_plan, PIPELINE_COMPACTION_SQL, "pipeline"
    ),
    "pipeline_kanonymity_audit": QuerySpec(
        pipeline_kanonymity_audit, PIPELINE_KANON_SQL, "pipeline"
    ),
}


# ---------------------------------------------------------------------------
# Isotonic calibration (PAV as closed-form minimax on the bounded bin table)
# ---------------------------------------------------------------------------


def eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the quality classifier on the 0.02
    score grid: the monotone-nondecreasing fit of empirical positive rate
    vs score — what you apply to raw model scores before thresholding so
    that "0.8 means 80%". Instead of the sequential pool-adjacent-violators
    scan (which does not distribute), the fit uses the EXACT closed form
    iso(k) = max_{i<=k} min_{j>=k} posrate(i..j): interval positive rates
    come from prefix sums over the bin table, and the minimax runs as two
    tiny grouped reductions over the O(B^3) (i,k,j) triangle — B is ~a
    dozen bins, so this is driver-trivial, and min/max over IEEE-identical
    doubles is deterministic on both engines.

    Scale: the corpus-sized work is the classifier substrate's single
    tokenize + groupBy(doc_id) (shared with eval_calibration_bins); the
    isotonic algebra touches only the BOUNDED bin table — the score grid
    caps B at 51 whatever the corpus size, which is exactly why the
    minimax reduction beats shipping rows to a sequential PAV.

    Properties pinned in tests: iso_fit is non-decreasing in bin, lies in
    [0,1], and the support-weighted fit total equals total positives (PAV
    preserves mass); values match an independent sequential-PAV recompute."""
    per = _qc_score_label(spark, sf_dir)
    bins = (
        per.selectExpr("score_micro div 20000 AS bin", "label")
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("label").cast("bigint").alias("n_pos"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("n_pos").over(w).alias("cpos"),
    )
    i = pre.selectExpr("bin AS i_bin", "n AS i_n", "n_pos AS i_pos",
                       "cn AS i_cn", "cpos AS i_cpos")
    j = pre.selectExpr("bin AS j_bin", "cn AS j_cn", "cpos AS j_cpos")
    ivals = (
        i.join(F.broadcast(j), F.expr("i_bin <= j_bin"))
        .selectExpr(
            "i_bin",
            "j_bin",
            "CAST(j_cpos - i_cpos + i_pos AS DOUBLE)"
            " / CAST(j_cn - i_cn + i_n AS DOUBLE) AS iv_rate",
        )
    )
    k = bins.selectExpr("bin AS k_bin")
    inner = (
        ivals.join(F.broadcast(k), F.expr("i_bin <= k_bin AND k_bin <= j_bin"))
        .groupBy("k_bin", "i_bin")
        .agg(F.min("iv_rate").alias("min_j"))
        .groupBy("k_bin")
        .agg(F.max("min_j").alias("iso_raw"))
    )
    return (
        bins.join(inner, bins.bin == inner.k_bin)
        .selectExpr(
            "bin",
            "n",
            "n_pos",
            mround("CAST(n_pos AS DOUBLE) / n", 6) + " AS pos_rate",
            mround("iso_raw", 6) + " AS iso_fit",
        )
    )


EVAL_ISOTONIC_SQL = rf"""
WITH {_QC_SCORE_LABEL_SQL},
bins AS (
  SELECT score_micro // 20000 AS bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS n_pos
  FROM scored GROUP BY 1),
pre AS (
  SELECT bin, n, n_pos,
         CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
         CAST(sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos
  FROM bins),
ivals AS (
  SELECT i.bin AS i_bin, j.bin AS j_bin,
         CAST(j.cpos - i.cpos + i.n_pos AS DOUBLE)
           / CAST(j.cn - i.cn + i.n AS DOUBLE) AS iv_rate
  FROM pre i JOIN pre j ON i.bin <= j.bin),
inner_min AS (
  SELECT k.bin AS k_bin, v.i_bin, min(v.iv_rate) AS min_j
  FROM ivals v JOIN bins k ON v.i_bin <= k.bin AND k.bin <= v.j_bin
  GROUP BY 1, 2),
iso AS (
  SELECT k_bin, max(min_j) AS iso_raw FROM inner_min GROUP BY k_bin)
SELECT b.bin, b.n, b.n_pos,
       {mround('CAST(b.n_pos AS DOUBLE) / b.n', 6)} AS pos_rate,
       {mround('i.iso_raw', 6)} AS iso_fit
FROM bins b JOIN iso i ON b.bin = i.k_bin
"""


QUERIES["eval_isotonic_calibration"] = QuerySpec(
    eval_isotonic_calibration, EVAL_ISOTONIC_SQL, "eval"
)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and term-coverage rankers
# ---------------------------------------------------------------------------

RRF_K = 60
RRF_TOP_K = 5


def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the same fixed 5-query
    workload is run through TWO rankers — BM25 (`text_bm25_search`'s
    top-10) and a term-coverage ranker (distinct query terms matched, then
    total tf — the boolean-AND-leaning signal BM25's tf saturation can
    rank differently) — and fused by RRF, the standard score-free fusion
    for heterogeneous rankers (lexical + semantic in production; two
    lexical views here): score = Σ 1/(60+rank). Contributions are
    integer-micro via 1000000 div (60+rank) — exact integers, so the
    fused ordering is reduction-order-proof; ties break on doc_id.

    Scale: the workload is fixed at plan time, so the corpus is tokenized
    once into the conditional-sum per-doc table (`text_bm25_search`'s
    single-pass shape: ONE groupBy(doc_id) computes dl and each of the
    <=13 workload terms' tf; the full-vocabulary postings NEVER
    materialize or shuffle — the r11 shape checkpointed them and ran
    partition-by-term and partition-by-doc windows over every posting
    only to discard all non-workload rows at the query join). The one
    Generate left in the plan is the stack() unpivot of the tiny
    checkpointed wide table — workload-bounded, not corpus-bounded
    (plan-asserted in tests/test_plans.py). Both rankers rank the SAME
    candidate set (docs matching >=1 query term), so both ranks are two
    row_number windows over the ONE (query_id)-partitioned exchange of
    the per-(query,doc) hit aggregate — no second tokenize, no full-outer
    fusion join; rows outside a ranker's top-10 keep a NULL rank exactly
    as the outer join produced."""
    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d)
    scored, _ = _bm25_workload_scored(toks)
    hits = scored.join(F.broadcast(_qterms(spark)), "tok").groupBy("query_id", "doc_id").agg(
        F.count("*").cast("bigint").alias("n_matched"),
        F.sum("bm25_micro").alias("score_micro"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )
    w_bm = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    w_cov = Window.partitionBy("query_id").orderBy(
        F.desc("n_matched"), F.desc("total_tf"), F.asc("doc_id")
    )
    both = (
        hits.withColumn("r_bm", F.row_number().over(w_bm))
        .withColumn("r_cov", F.row_number().over(w_cov))
        .selectExpr(
            "query_id",
            "doc_id",
            f"CASE WHEN r_bm <= {BM25_SEARCH_TOP_K}"
            " THEN CAST(r_bm AS BIGINT) END AS rank_bm25",
            f"CASE WHEN r_cov <= {BM25_SEARCH_TOP_K}"
            " THEN CAST(r_cov AS BIGINT) END AS rank_cov",
        )
        .filter("rank_bm25 IS NOT NULL OR rank_cov IS NOT NULL")
    )
    rrf = (
        f"coalesce(1000000 div ({RRF_K} + rank_bm25), 0)"
        f" + coalesce(1000000 div ({RRF_K} + rank_cov), 0)"
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    )
    return (
        both.selectExpr(
            "query_id", "doc_id", "rank_bm25", "rank_cov",
            f"CAST({rrf} AS BIGINT) AS rrf_micro",
        )
        .withColumn("rank_fused", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rank_fused") <= RRF_TOP_K)
    )


RETRIEVAL_RRF_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
postings AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok, doc_id),
stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(sum(tf) AS BIGINT) AS sum_dl
  FROM postings),
enriched AS (
  SELECT doc_id, tok, tf,
         CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
  FROM postings),
scored AS (
  SELECT doc_id, tok, tf,
         CAST(floor((
           (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)
           * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)
           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * n_docs / sum_dl))
         ) * 1000000 + 0.5) AS BIGINT) AS bm25_micro
  FROM enriched CROSS JOIN stats),
qterms AS (SELECT * FROM (VALUES {_bm25_query_values()}) AS v(query_id, tok)),
hits AS (
  SELECT query_id, s.doc_id, CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(bm25_micro) AS BIGINT) AS score_micro,
         CAST(sum(tf) AS BIGINT) AS total_tf
  FROM scored s JOIN qterms USING (tok)
  GROUP BY query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                ORDER BY score_micro DESC, doc_id ASC) AS r_bm,
         row_number() OVER (PARTITION BY query_id
                ORDER BY n_matched DESC, total_tf DESC, doc_id ASC) AS r_cov
  FROM hits),
merged AS (
  SELECT query_id, doc_id,
         CASE WHEN r_bm <= {BM25_SEARCH_TOP_K} THEN CAST(r_bm AS BIGINT) END
           AS rank_bm25,
         CASE WHEN r_cov <= {BM25_SEARCH_TOP_K} THEN CAST(r_cov AS BIGINT) END
           AS rank_cov
  FROM ranked
  WHERE r_bm <= {BM25_SEARCH_TOP_K} OR r_cov <= {BM25_SEARCH_TOP_K}),
fused AS (
  SELECT query_id, doc_id, rank_bm25, rank_cov,
         CAST(coalesce(1000000 // ({RRF_K} + rank_bm25), 0)
              + coalesce(1000000 // ({RRF_K} + rank_cov), 0) AS BIGINT)
           AS rrf_micro
  FROM merged)
SELECT query_id, doc_id, rank_bm25, rank_cov, rrf_micro,
       CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rank_fused
FROM fused
QUALIFY rank_fused <= {RRF_TOP_K}
"""


QUERIES["retrieval_rrf_hybrid"] = QuerySpec(
    retrieval_rrf_hybrid, RETRIEVAL_RRF_SQL, "eval"
)


# ---------------------------------------------------------------------------
# Deterministic cross-validation folds
# ---------------------------------------------------------------------------

CV_FOLDS = 5


def pipeline_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment + balance audit: every document
    lands in one of 5 folds by md5(doc_id) — the replayable, join-free way
    to split a corpus for cross-validation (same fold every run, on every
    engine, no rand(), no shuffle-order dependence), with the per-(fold,
    source) census that catches a skewed fold BEFORE a model trains on it.
    share is the source's share within its fold; comparing shares across
    folds is the balance read-out.

    Scale: fold assignment is a per-row hash (no exchange at all); the
    audit is one partial-agg groupBy to the (5 × sources) grid plus a
    window over that reduced table. The assignment column is exactly what
    a writer would partitionBy to materialize the folds."""
    d = load_table(spark, sf_dir, "documents")
    fold = (
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        f" AS BIGINT) % {CV_FOLDS}"
    )
    grid = (
        d.selectExpr(f"{fold} AS fold", "source", "n_chars")
        .groupBy("fold", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )
    w = Window.partitionBy("fold")
    return grid.select(
        "fold",
        "source",
        "n_docs",
        "n_chars",
        F.sum("n_docs").over(w).cast("bigint").alias("fold_total"),
    ).selectExpr(
        "fold",
        "source",
        "n_docs",
        "n_chars",
        "fold_total",
        mround("CAST(n_docs AS DOUBLE) / fold_total", 6) + " AS share",
    )


PIPELINE_CV_FOLDS_SQL = f"""
WITH grid AS (
  SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {CV_FOLDS} AS fold,
         source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1, 2)
SELECT fold, source, n_docs, n_chars,
       CAST(sum(n_docs) OVER (PARTITION BY fold) AS BIGINT) AS fold_total,
       {mround('CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY fold)', 6)}
         AS share
FROM grid
"""


QUERIES["pipeline_cv_folds"] = QuerySpec(
    pipeline_cv_folds, PIPELINE_CV_FOLDS_SQL, "pipeline"
)


# ---------------------------------------------------------------------------
# Differential-privacy count release (geometric mechanism, literal CDF)
# ---------------------------------------------------------------------------

DP_NOISE_B = 20  # noise support clamp: k in [-B, B]


def _dp_noise_rows() -> list[tuple[int, int, int]]:
    """(noise_k, lo, hi) intervals partitioning the 2^60 uniform grid
    according to the two-sided geometric distribution with alpha = 1/2
    (epsilon = ln 2): P(0) = 1/3, P(±k) = (1/3)·2^−k. Computed ONCE in
    exact rational arithmetic and injected into both engines as literals —
    the inverse-CDF lookup becomes a range join against a 41-row table, so
    no engine-side log/exp ever runs. Tail mass beyond ±B (≈3e-7) is
    folded into the end intervals."""
    from fractions import Fraction

    G = 1 << 60
    ks = list(range(-DP_NOISE_B, DP_NOISE_B + 1))
    cum = Fraction(0)
    rows = []
    for k in ks:
        p = Fraction(1, 3) * Fraction(1, 2 ** abs(k))
        if k == -DP_NOISE_B:
            p += Fraction(1, 3) * Fraction(1, 2 ** DP_NOISE_B)  # lower tail
        if k == DP_NOISE_B:
            p += Fraction(1, 3) * Fraction(1, 2 ** DP_NOISE_B)  # upper tail
        lo = int(cum * G)
        cum += p
        hi = G if k == DP_NOISE_B else int(cum * G)
        rows.append((k, lo, hi))
    return rows


def pipeline_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-language document counts via the
    GEOMETRIC mechanism (the discrete Laplace; epsilon = ln 2) — the
    release gate beyond `pipeline_kanonymity_audit`'s suppression: instead
    of dropping small groups, every published count gets integer noise
    whose distribution provably bounds what one document's presence can
    reveal. Noise is drawn by inverse-CDF lookup: a deterministic
    md5-uniform per group (replayable — same release every run, the same
    determinism-over-rand() rule as every sampler here) against the exact
    rational CDF of the two-sided geometric, precomputed ONCE in Python
    (`_dp_noise_rows`) and shipped to both engines as a 41-row literal
    table — no engine-side log/exp, no float CDF. Released count clamps
    at zero. The true count is kept in the output because this entry is
    the calibration AUDIT of the mechanism; an actual release drops it.

    Scale: one partial-agg groupBy to the per-group counts, then a
    broadcast range join against the 41-row noise dim — per-group cost is
    O(1) and the noise table never grows with data."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_true"))
    noise = spark.createDataFrame(
        _dp_noise_rows(), "noise_k long, lo long, hi long"
    )
    u = "CAST(conv(substring(md5(lang), 1, 15), 16, 10) AS BIGINT)"
    seeded = counts.selectExpr("lang", "n_true", f"{u} AS u")
    return (
        seeded.join(F.broadcast(noise), F.expr("u >= lo AND u < hi"))
        .selectExpr(
            "lang",
            "n_true",
            "noise_k AS noise",
            "CAST(greatest(n_true + noise_k, 0) AS BIGINT) AS n_released",
        )
    )


def _dp_counts_sql() -> str:
    vals = ", ".join(f"({k}, {lo}, {hi})" for k, lo, hi in _dp_noise_rows())
    return f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_true FROM documents GROUP BY lang),
noise AS (SELECT * FROM (VALUES {vals}) AS v(noise_k, lo, hi)),
seeded AS (
  SELECT lang, n_true,
         CAST(('0x' || substring(md5(lang), 1, 15)) AS BIGINT) AS u
  FROM counts)
SELECT lang, n_true, CAST(noise_k AS BIGINT) AS noise,
       CAST(greatest(n_true + noise_k, 0) AS BIGINT) AS n_released
FROM seeded JOIN noise ON u >= lo AND u < hi
"""


PIPELINE_DP_COUNTS_SQL = _dp_counts_sql()

QUERIES["pipeline_dp_counts"] = QuerySpec(
    pipeline_dp_counts, PIPELINE_DP_COUNTS_SQL, "pipeline"
)


# --- Readability scoring (Flesch / Flesch-Kincaid heuristics) --------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability scores: Flesch reading ease and
    Flesch-Kincaid grade level from the three classic counts — words
    ([a-z]+ runs of the lowercased text), sentences ([.!?]+ runs, floored
    at 1), and the vowel-group syllable proxy ([aeiouy]+ runs, the
    standard cheap syllable estimator) — the document-quality feature
    that separates natural prose from boilerplate/code/gibberish next to
    the stopword and repetition signals.

    Exactness: all three inputs are integer match counts from identical
    ASCII character-class regexes (Java regex and RE2 agree on these
    classes), and both formulas are fixed IEEE expressions of those
    integers with shared decimal literals — deterministic to the bit.

    Scale: a pure per-row map over the pruned (doc_id, text) projection —
    no shuffle, no UDF, whole-stage codegen end to end; exactly the shape
    that runs at 100 TB as one embarrassingly parallel scan."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.selectExpr(
        "doc_id",
        "CAST(size(regexp_extract_all(lower(text), '[a-z]+', 0)) AS BIGINT)"
        " AS n_words",
        "CAST(greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1)"
        " AS BIGINT) AS n_sentences",
        "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)"
        " AS n_syllables",
    ).filter("n_words >= 1")
    wps = "CAST(n_words AS DOUBLE) / n_sentences"
    spw = "CAST(n_syllables AS DOUBLE) / n_words"
    return scored.selectExpr(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        mround(f"206.835 - 1.015 * ({wps}) - 84.6 * ({spw})", 4)
        + " AS flesch_ease",
        mround(f"0.39 * ({wps}) + 11.8 * ({spw}) - 15.59", 4)
        + " AS fk_grade",
    )


def _readability_sql() -> str:
    wps = "CAST(n_words AS DOUBLE) / n_sentences"
    spw = "CAST(n_syllables AS DOUBLE) / n_words"
    return f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
           AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents)
SELECT doc_id, n_words, n_sentences, n_syllables,
       {mround(f"206.835 - 1.015 * ({wps}) - 84.6 * ({spw})", 4)} AS flesch_ease,
       {mround(f"0.39 * ({wps}) + 11.8 * ({spw}) - 15.59", 4)} AS fk_grade
FROM scored
WHERE n_words >= 1
"""


TEXT_READABILITY_SQL = _readability_sql()

QUERIES["text_readability"] = QuerySpec(
    text_readability, TEXT_READABILITY_SQL, "text"
)


# ---------------------------------------------------------------------------
# Multiclass classifier evaluation: confusion-matrix metrics
# ---------------------------------------------------------------------------

def eval_confusion_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 plus accuracy and macro-F1 for the
    stopword language identifier (:func:`lang_id_heuristic`) against the gold
    `lang` labels — the standard multiclass eval report a model-quality gate
    emits, computed as pure group-table algebra over the confusion matrix.

    Exactness: precision and recall are single divisions of exact integers;
    F1 uses the integer identity f1 = 2*tp / (pred_n + support) (equal to
    the harmonic mean, since pred_n = tp+fp and support = tp+fn) — one
    division, no compound float chain. Macro-F1 pre-rounds each class F1 to
    an integer 1e-6 grid and sums INTEGERS, so the cross-class reduction
    order is irrelevant (the `agg_mutual_information` pattern).

    Scale: the corpus collapses to the confusion matrix (n_classes^2 rows)
    in ONE partial-aggregated groupBy; row and column marginals and the
    diagonal all come from one 2x explode of that tiny cell table into a
    single groupBy(class) — never separate marginal joins that would
    re-scan the corpus — and the groupBy(cls) exchange is REUSED by the
    1-row overall aggregate under AQE (runtime-pinned in tests: the final
    adaptive plan carries a ReusedExchange, so the corpus is scanned once)."""
    cells = lang_id_heuristic(spark, sf_dir)
    tagged = cells.selectExpr(
        """explode(array(
             struct(label AS cls, n_docs AS n_sup, 0L AS n_prd,
                    CASE WHEN label = predicted THEN n_docs ELSE 0L END AS n_tp),
             struct(predicted AS cls, 0L AS n_sup, n_docs AS n_prd, 0L AS n_tp)
           )) AS t"""
    ).select("t.*")
    per = (
        tagged.groupBy("cls")
        .agg(
            F.sum("n_sup").cast("bigint").alias("support"),
            F.sum("n_prd").cast("bigint").alias("pred_n"),
            F.sum("n_tp").cast("bigint").alias("tp"),
        )
        .filter(F.col("support") > 0)  # classes = gold labels
        .selectExpr(
            "*",
            "CAST(floor(CAST(tp AS DOUBLE) * 2000000 / (pred_n + support) + 0.5)"
            " AS BIGINT) AS f1_grid",
        )
    )
    overall = per.agg(
        F.sum("tp").cast("bigint").alias("tp_all"),
        F.sum("support").cast("bigint").alias("n_all"),
        F.sum("f1_grid").cast("bigint").alias("f1_sum"),
        F.count("*").cast("bigint").alias("n_classes"),
    )
    return per.crossJoin(F.broadcast(overall)).selectExpr(
        "cls",
        "support",
        "pred_n",
        "tp",
        mround("CASE WHEN pred_n = 0 THEN 0.0 "
               "ELSE CAST(tp AS DOUBLE) / pred_n END", 6) + " AS precision",
        mround("CAST(tp AS DOUBLE) / support", 6) + " AS recall",
        mround("CAST(tp AS DOUBLE) * 2 / (pred_n + support)", 6) + " AS f1",
        mround("CAST(tp_all AS DOUBLE) / n_all", 6) + " AS accuracy",
        mround("CAST(f1_sum AS DOUBLE) / (n_classes * 1000000)", 6)
        + " AS macro_f1",
    )


EVAL_CONFUSION_SQL = f"""
WITH cells AS ({LANG_ID_SQL}),
tagged AS (
  SELECT label AS cls, n_docs AS n_sup, 0 AS n_prd,
         CASE WHEN label = predicted THEN n_docs ELSE 0 END AS n_tp
  FROM cells
  UNION ALL
  SELECT predicted AS cls, 0 AS n_sup, n_docs AS n_prd, 0 AS n_tp
  FROM cells),
per AS (
  SELECT cls,
         CAST(sum(n_sup) AS BIGINT) AS support,
         CAST(sum(n_prd) AS BIGINT) AS pred_n,
         CAST(sum(n_tp) AS BIGINT) AS tp,
         CAST(floor(CAST(sum(n_tp) AS DOUBLE) * 2000000
              / (sum(n_prd) + sum(n_sup)) + 0.5) AS BIGINT) AS f1_grid
  FROM tagged
  GROUP BY cls
  HAVING sum(n_sup) > 0),
overall AS (
  SELECT CAST(sum(tp) AS BIGINT) AS tp_all,
         CAST(sum(support) AS BIGINT) AS n_all,
         CAST(sum(f1_grid) AS BIGINT) AS f1_sum,
         CAST(count(*) AS BIGINT) AS n_classes
  FROM per)
SELECT cls, support, pred_n, tp,
       {mround('CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / pred_n END', 6)} AS precision,
       {mround('CAST(tp AS DOUBLE) / support', 6)} AS recall,
       {mround('CAST(tp AS DOUBLE) * 2 / (pred_n + support)', 6)} AS f1,
       {mround('CAST(tp_all AS DOUBLE) / n_all', 6)} AS accuracy,
       {mround('CAST(f1_sum AS DOUBLE) / (n_classes * 1000000)', 6)} AS macro_f1
FROM per CROSS JOIN overall
"""


QUERIES["eval_confusion_multiclass"] = QuerySpec(
    eval_confusion_multiclass, EVAL_CONFUSION_SQL, "text"
)


# ---------------------------------------------------------------------------
# Context-length truncation loss audit
# ---------------------------------------------------------------------------

TRUNC_CTX_LENS = (128, 512, 2048)


def pipeline_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation audit: for each source and each candidate
    context length, how many documents overflow and what share of tokens a
    hard truncation throws away — the number that picks max_seq_len for a
    training run (and flags sources whose docs need chunking instead of
    truncating; complements `pipeline_chunk_documents` /
    `pipeline_pack_sequences` on the same token-count substrate).

    Exactness: whitespace token counts and clipped overflows are integers;
    the loss share is one exact-integer division per output row.

    Scale: one linear pass reduces the corpus to (doc, token_count); the
    3x context-length explode happens on that 2-column reduced frame, and
    the report is a partial-aggregated groupBy on a (sources x 3)-key."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.selectExpr(
        "source",
        "size(filter(split(trim(text), '\\\\s+'), x -> x <> '')) AS tok",
    )
    exploded = per_doc.selectExpr(
        "source", "tok",
        f"explode(array{TRUNC_CTX_LENS}) AS ctx_len",
    )
    return (
        exploded.groupBy("source", "ctx_len")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.expr("CASE WHEN tok > ctx_len THEN 1 ELSE 0 END"))
            .cast("bigint").alias("n_truncated"),
            F.sum("tok").cast("bigint").alias("total_tokens"),
            F.sum(F.expr("greatest(tok - ctx_len, 0)")).cast("bigint")
            .alias("tokens_lost"),
        )
        .selectExpr(
            "source", "ctx_len", "n_docs", "n_truncated", "total_tokens",
            "tokens_lost",
            mround("CAST(tokens_lost AS DOUBLE) / total_tokens", 6)
            + " AS loss_share",
        )
    )


PIPELINE_TRUNCATION_SQL = f"""
WITH per_doc AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '')) AS tok
  FROM documents),
exploded AS (
  SELECT source, tok, unnest([{', '.join(str(l) for l in TRUNC_CTX_LENS)}]) AS ctx_len
  FROM per_doc)
SELECT source, CAST(ctx_len AS INT) AS ctx_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN tok > ctx_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(sum(greatest(tok - ctx_len, 0)) AS BIGINT) AS tokens_lost,
       {mround('CAST(sum(greatest(tok - ctx_len, 0)) AS DOUBLE) / sum(tok)', 6)} AS loss_share
FROM exploded GROUP BY source, ctx_len
"""


QUERIES["pipeline_truncation_loss"] = QuerySpec(
    pipeline_truncation_loss, PIPELINE_TRUNCATION_SQL, "pipeline"
)


# ---------------------------------------------------------------------------
# Dataset content fingerprint (reproducibility / versioning)
# ---------------------------------------------------------------------------

def pipeline_dataset_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent dataset content fingerprint per source (plus the
    corpus total): bit_xor and modular sums of per-document md5-derived
    int64s, doc counts, char totals — the content-addressable version id a
    dataset card / reproducibility manifest records (two runs over the
    same rows produce the same fingerprint REGARDLESS of partitioning or
    row order; any added/dropped/edited document flips it).

    Exactness: xor and modular integer sums are associative+commutative —
    the reduction-order-proof property is the POINT of the operator, not
    just a parity trick.

    Scale: one pruned-column linear pass, partial-aggregated to one row
    per source; fingerprints are mergeable across shards by construction
    (xor of xors, sums of sums mod p), so incremental ingest can maintain
    them without a full re-scan."""
    d = load_table(spark, sf_dir, "documents")
    h = "CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)"
    per_doc = d.selectExpr(
        "source", f"{h} AS h", "length(text) AS n_chars"
    )
    per_source = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr("bit_xor(h)").cast("bigint").alias("content_xor"),
        F.sum(F.expr("h % 1000000007")).cast("bigint").alias("content_sum_mod"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    corpus = per_doc.groupBy(F.lit("__corpus__").alias("source")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr("bit_xor(h)").cast("bigint").alias("content_xor"),
        F.sum(F.expr("h % 1000000007")).cast("bigint").alias("content_sum_mod"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return per_source.unionAll(corpus)


PIPELINE_DATASET_HASH_SQL = """
WITH per_doc AS (
  SELECT source,
         CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h,
         length(text) AS n_chars
  FROM documents),
tagged AS (
  SELECT source, h, n_chars FROM per_doc
  UNION ALL
  SELECT '__corpus__' AS source, h, n_chars FROM per_doc)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(bit_xor(h) AS BIGINT) AS content_xor,
       CAST(sum(h % 1000000007) AS BIGINT) AS content_sum_mod,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM tagged GROUP BY source
"""


QUERIES["pipeline_dataset_hash"] = QuerySpec(
    pipeline_dataset_hash, PIPELINE_DATASET_HASH_SQL, "pipeline"
)


# ---------------------------------------------------------------------------
# Classifier ranking metrics: exact ROC-AUC (rank / Mann-Whitney form) and
# PR-AUC (average precision, step integration) — round 7
# ---------------------------------------------------------------------------


def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the quality classifier against the rule label via
    the rank (Mann-Whitney U) identity with midrank tie handling:
    AUC = (Σ_pos avgrank − n_pos(n_pos+1)/2) / (n_pos·n_neg). Everything
    is computed from the per-SCORE contingency table (score_micro is an
    exact integer, so grouping by it is cross-engine exact): for a score
    group with n_s rows (p_s positive) and c_s rows strictly below it,
    2·Σ avgrank over its positives = p_s·(2c_s + n_s + 1) — integers all
    the way, one DOUBLE division at the end. Also reports the Gini
    coefficient 2·AUC−1 (the form credit scoring quotes).

    Scale: corpus-sized work is the substrate's one tokenize + one
    groupBy(doc_id); the rank arithmetic runs on the per-score aggregate,
    whose key space is bounded by the micro-unit score grid (≤1e6 and in
    practice a few hundred), with one windowed cumsum over it — the same
    reduced-dim window pattern as `agg_abc_classification`, and the same
    two-level bucketed sweep applies if a model ever emits millions of
    distinct scores."""
    from pyspark.sql import Window

    per = _qc_score_label(spark, sf_dir)
    by_score = per.groupBy("score_micro").agg(
        F.count("*").alias("n_s"),
        F.sum("label").cast("bigint").alias("p_s"),
    )
    w = Window.orderBy("score_micro").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_score.withColumn(
        "c_s", F.coalesce(F.sum("n_s").over(w), F.lit(0))
    )
    agg = ranked.agg(
        F.sum(F.expr("p_s * (2 * c_s + n_s + 1)")).alias("r2_pos"),
        F.sum("p_s").alias("n_pos"),
        F.sum(F.expr("n_s - p_s")).alias("n_neg"),
    )
    auc = (
        "(CAST(r2_pos AS DOUBLE) / 2 - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)"
        " / (CAST(n_pos AS DOUBLE) * n_neg)"
    )
    return agg.selectExpr(
        "CAST(n_pos AS BIGINT) AS n_pos",
        "CAST(n_neg AS BIGINT) AS n_neg",
        mround(auc, 6) + " AS auc_roc",
        mround(f"2 * ({auc}) - 1", 6) + " AS gini",
    )


EVAL_AUC_ROC_SQL = rf"""
WITH {_QC_SCORE_LABEL_SQL},
by_score AS (
  SELECT score_micro, CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(label) AS BIGINT) AS p_s
  FROM scored GROUP BY score_micro),
ranked AS (
  SELECT score_micro, n_s, p_s,
         CAST(coalesce(sum(n_s) OVER (ORDER BY score_micro
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c_s
  FROM by_score),
agg AS (
  SELECT CAST(sum(p_s * (2 * c_s + n_s + 1)) AS BIGINT) AS r2_pos,
         CAST(sum(p_s) AS BIGINT) AS n_pos,
         CAST(sum(n_s - p_s) AS BIGINT) AS n_neg
  FROM ranked)
SELECT n_pos, n_neg,
       {mround('(CAST(r2_pos AS DOUBLE) / 2 - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)'
               ' / (CAST(n_pos AS DOUBLE) * n_neg)', 6)} AS auc_roc,
       {mround('2 * ((CAST(r2_pos AS DOUBLE) / 2 - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)'
               ' / (CAST(n_pos AS DOUBLE) * n_neg)) - 1', 6)} AS gini
FROM agg
"""


QUERIES["eval_auc_roc"] = QuerySpec(eval_auc_roc, EVAL_AUC_ROC_SQL, "eval")


def eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-AUC as average precision (the sklearn step-function form): sweep
    the distinct scores DESCENDING; at each threshold t the cumulative
    (tp, fp) give precision(t) = tp/(tp+fp), and
    AP = Σ_t (tp(t) − tp(prev)) · precision(t) / n_pos. Each term is
    accumulated as EXACT INTEGER MICRO-UNITS via the overflow-safe
    decomposition of (p_s·cum_tp·1e6) div cum_n: with A = cum_tp·1e6,
    the identity (p_s·A) div n = p_s·(A div n) + (p_s·(A mod n)) div n
    holds exactly for nonnegative ints, and its largest intermediate is
    p_s·(A mod n) < p_s·cum_n ≤ n_pos·n_total — int64-safe to ~3e9 rows
    per side (the naive triple product wrapped at n_pos ≈ 3e6). Both
    divisions truncate identically in both engines, so the cross-group
    sum is reduction-order-proof; the only floats are the two final
    presentations. Ties follow the step form: a whole score group enters
    at once (no intra-group interpolation). Reports AP next to the
    positive base rate (the random-classifier baseline AP).

    Scale: identical substrate economics to `eval_auc_roc` — the sweep is
    a windowed cumsum over the bounded per-score aggregate, never the
    corpus rows."""
    from pyspark.sql import Window

    per = _qc_score_label(spark, sf_dir)
    by_score = per.groupBy("score_micro").agg(
        F.count("*").alias("n_s"),
        F.sum("label").cast("bigint").alias("p_s"),
    )
    w = Window.orderBy(F.desc("score_micro")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = by_score.select(
        "p_s",
        F.sum("n_s").over(w).alias("cum_n"),
        F.sum("p_s").over(w).alias("cum_tp"),
    )
    agg = stepped.agg(
        F.sum(
            F.expr(
                "p_s * ((cum_tp * 1000000) div cum_n)"
                " + (p_s * ((cum_tp * 1000000) % cum_n)) div cum_n"
            )
        ).alias("ap_micro"),
        F.max("cum_tp").alias("n_pos"),
        F.max("cum_n").alias("n_total"),
    )
    return agg.selectExpr(
        "CAST(n_pos AS BIGINT) AS n_pos",
        "CAST(n_total AS BIGINT) AS n_total",
        mround("CAST(ap_micro AS DOUBLE) / 1000000 / n_pos", 6) + " AS pr_auc",
        mround("CAST(n_pos AS DOUBLE) / n_total", 6) + " AS base_rate",
    )


EVAL_PR_AUC_SQL = rf"""
WITH {_QC_SCORE_LABEL_SQL},
by_score AS (
  SELECT score_micro, CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(label) AS BIGINT) AS p_s
  FROM scored GROUP BY score_micro),
stepped AS (
  SELECT p_s,
         CAST(sum(n_s) OVER (ORDER BY score_micro DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
         CAST(sum(p_s) OVER (ORDER BY score_micro DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tp
  FROM by_score),
agg AS (
  SELECT CAST(sum(p_s * ((cum_tp * 1000000) // cum_n)
               + (p_s * ((cum_tp * 1000000) % cum_n)) // cum_n) AS BIGINT) AS ap_micro,
         CAST(max(cum_tp) AS BIGINT) AS n_pos,
         CAST(max(cum_n) AS BIGINT) AS n_total
  FROM stepped)
SELECT n_pos, n_total,
       {mround('CAST(ap_micro AS DOUBLE) / 1000000 / n_pos', 6)} AS pr_auc,
       {mround('CAST(n_pos AS DOUBLE) / n_total', 6)} AS base_rate
FROM agg
"""


QUERIES["eval_pr_auc"] = QuerySpec(eval_pr_auc, EVAL_PR_AUC_SQL, "eval")


# ---------------------------------------------------------------------------
# RAKE keyword extraction — round 7
# ---------------------------------------------------------------------------

# RAKE delimiter set: the corpus function-word vocabulary ("a"/"the" occur
# in the synthetic corpus; the rest future-proof real text). Candidate
# phrases are maximal stopword-free token runs.
RAKE_STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on")
RAKE_TOP_K = 20
RAKE_MAX_PHRASE = 4  # keywords, not sentences: drop runs longer than this


def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010) over the
    corpus: candidate phrases are maximal stopword-free token runs; each
    word scores degree/frequency where degree is the summed length of every
    phrase containing it (co-occurrence credit) and frequency its raw
    count; a phrase scores the sum of its member word scores. Top
    RAKE_TOP_K distinct phrases of ≤ RAKE_MAX_PHRASE words by
    (score DESC, phrase ASC), with corpus occurrence counts — the standard
    unsupervised keyword/tag extraction pass over a new corpus.

    Exactness: word scores are integer MILLI-units ((1000·degree) div
    freq — truncating integer division, identical in both engines), so
    phrase scores are exact integer sums and the final ordering is
    reduction-order-proof; the one float is the presentation /1000.
    Phrase islands come from a running stopword count (cumsum over
    (doc, pos)), so phrase boundaries are pure integer arithmetic.

    Scale: one tokenize feeds everything; islands are a per-doc window
    (partitioned by doc_id — never global); word stats are one
    partial-agg groupBy on tokens; phrase assembly AND phrase scoring are
    ONE (doc, island) aggregation — the word-score broadcast join runs
    map-side on the member stream BEFORE the groupBy, so no second
    phrase-level table exists and no corpus-scale phrases⋈scores join ever
    happens (every member token appears in wscore by construction, so the
    inner join drops nothing); the top-k is TakeOrderedAndProject over the
    distinct-phrase aggregate, never a global sort of members."""
    d = load_table(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    toks = d.select(
        "doc_id",
        F.posexplode(F.expr(WORD_TOKENS)).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    wisl = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = toks.withColumn(
        "isl",
        F.sum(F.expr(f"CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END")).over(wisl),
    ).filter(F.expr(f"tok NOT IN ({stop_list})"))
    wphrase = Window.partitionBy("doc_id", "isl")
    members = flagged.withColumn("plen", F.count("*").over(wphrase))
    wscore = members.groupBy("tok").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("deg")
    ).selectExpr("tok", "(1000 * deg) div freq AS w_milli")
    combined = (
        members.join(F.broadcast(wscore), "tok")
        .groupBy("doc_id", "isl")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))),"
                " x -> x.tok))"
            ).alias("phrase"),
            F.count("*").alias("n_words"),
            F.sum("w_milli").alias("score_milli"),
        )
    )
    return (
        combined.filter(F.col("n_words") <= RAKE_MAX_PHRASE)
        .groupBy("phrase", "n_words", "score_milli")
        .agg(F.count("*").alias("n_occurrences"))
        .selectExpr(
            "phrase",
            "CAST(n_words AS BIGINT) AS n_words",
            "n_occurrences",
            "CAST(score_milli AS DOUBLE) / 1000 AS rake_score",
        )
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(RAKE_TOP_K)
    )


TEXT_KEYWORD_RAKE_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
pos AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
  WHERE toks[u.i] <> ''),
flagged AS (
  SELECT doc_id, pos, tok,
         sum(CASE WHEN tok IN ({", ".join(f"'{s}'" for s in RAKE_STOPWORDS)})
             THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM pos),
members AS (
  SELECT doc_id, pos, tok, isl,
         count(*) OVER (PARTITION BY doc_id, isl) AS plen
  FROM flagged
  WHERE tok NOT IN ({", ".join(f"'{s}'" for s in RAKE_STOPWORDS)})),
wscore AS (
  SELECT tok, (1000 * sum(plen)) // count(*) AS w_milli
  FROM members GROUP BY tok),
phrases AS (
  SELECT doc_id, isl, string_agg(tok, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS n_words
  FROM members GROUP BY doc_id, isl),
scored AS (
  SELECT m.doc_id, m.isl, CAST(sum(w.w_milli) AS BIGINT) AS score_milli
  FROM members m JOIN wscore w USING (tok)
  GROUP BY m.doc_id, m.isl)
SELECT p.phrase, p.n_words, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(s.score_milli AS DOUBLE) / 1000 AS rake_score
FROM phrases p JOIN scored s ON p.doc_id = s.doc_id AND p.isl = s.isl
WHERE p.n_words <= {RAKE_MAX_PHRASE}
GROUP BY p.phrase, p.n_words, s.score_milli
ORDER BY rake_score DESC, p.phrase ASC
LIMIT {RAKE_TOP_K}
"""


QUERIES["text_keyword_rake"] = QuerySpec(
    text_keyword_rake, TEXT_KEYWORD_RAKE_SQL, "text"
)


# ---------------------------------------------------------------------------
# Brier score + Murphy decomposition — round 7
# ---------------------------------------------------------------------------


def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the quality classifier with the Murphy (1973)
    binned decomposition: reliability (calibration error, lower better),
    resolution (how much the bins separate the base rate, higher better),
    and uncertainty ȳ(1−ȳ) — the one-row scoreboard on top of
    `eval_calibration_bins`' per-bin table, and the standard way to say
    WHY a probability model's Brier is what it is. `brier_binned` is
    REL − RES + UNC (the decomposition identity, exact when forecasts are
    constant within a bin; reported next to the raw per-doc Brier so the
    binning approximation is visible, not hidden).

    Exactness: the raw Brier sum Σ(score_micro − 10⁶·label)² is pure int64
    (≤1e12/doc); the per-bin REL/RES terms are fixed IEEE expressions of
    exact integer bin sums, PRE-ROUNDED to a 1e-9 integer grid before the
    cross-bin sum (the `eval_pass_at_k`/PSI pattern), so no float
    reduction order exists anywhere.

    Scale: the corpus collapses to the ~dozen-bin table in one partial-agg
    groupBy off the shared classifier substrate; the global base-rate row
    broadcasts; everything after is constant-size."""
    per = _qc_score_label(spark, sf_dir)
    bins = per.selectExpr(
        "score_micro div 20000 AS bin", "score_micro", "label"
    ).groupBy("bin").agg(
        F.count("*").alias("n_k"),
        F.sum("label").cast("bigint").alias("pos_k"),
        F.sum("score_micro").alias("sum_micro_k"),
    )
    glob = per.agg(
        F.count("*").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
        F.sum(
            F.expr(
                "(score_micro - 1000000 * label) * (score_micro - 1000000 * label)"
            )
        ).alias("sq"),
    )
    sbar = "CAST(sum_micro_k AS DOUBLE) / 1000000 / n_k"
    ybar_k = "CAST(pos_k AS DOUBLE) / n_k"
    ybar = "CAST(pos AS DOUBLE) / n"
    rel_t = f"n_k * (({sbar}) - ({ybar_k})) * (({sbar}) - ({ybar_k}))"
    res_t = f"n_k * (({ybar_k}) - ({ybar})) * (({ybar_k}) - ({ybar}))"
    terms = bins.crossJoin(F.broadcast(glob)).selectExpr(
        "n",
        "pos",
        "sq",
        f"CAST(floor(({rel_t}) * 1000000000 + 0.5) AS BIGINT) AS rel9",
        f"CAST(floor(({res_t}) * 1000000000 + 0.5) AS BIGINT) AS res9",
    )
    agg = terms.groupBy("n", "pos", "sq").agg(
        F.sum("rel9").alias("rel9s"), F.sum("res9").alias("res9s")
    )
    rel = "CAST(rel9s AS DOUBLE) / 1000000000 / n"
    res = "CAST(res9s AS DOUBLE) / 1000000000 / n"
    unc = f"({ybar}) * (1 - ({ybar}))"
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        mround("CAST(sq AS DOUBLE) / 1e12 / n", 6) + " AS brier",
        mround(rel, 6) + " AS reliability",
        mround(res, 6) + " AS resolution",
        mround(unc, 6) + " AS uncertainty",
        mround(f"({rel}) - ({res}) + ({unc})", 6) + " AS brier_binned",
    )


_BRIER_SBAR = "CAST(sum_micro_k AS DOUBLE) / 1000000 / n_k"
_BRIER_YK = "CAST(pos_k AS DOUBLE) / n_k"
_BRIER_Y = "CAST(pos AS DOUBLE) / n"

EVAL_BRIER_SQL = rf"""
WITH {_QC_SCORE_LABEL_SQL},
bins AS (
  SELECT score_micro // 20000 AS bin, CAST(count(*) AS BIGINT) AS n_k,
         CAST(sum(label) AS BIGINT) AS pos_k,
         CAST(sum(score_micro) AS BIGINT) AS sum_micro_k
  FROM scored GROUP BY 1),
gstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos,
         CAST(sum((score_micro - 1000000 * label)
              * (score_micro - 1000000 * label)) AS BIGINT) AS sq
  FROM scored),
terms AS (
  SELECT n, pos, sq,
         CAST(floor((n_k * (({_BRIER_SBAR}) - ({_BRIER_YK}))
              * (({_BRIER_SBAR}) - ({_BRIER_YK}))) * 1000000000 + 0.5) AS BIGINT) AS rel9,
         CAST(floor((n_k * (({_BRIER_YK}) - ({_BRIER_Y}))
              * (({_BRIER_YK}) - ({_BRIER_Y}))) * 1000000000 + 0.5) AS BIGINT) AS res9
  FROM bins CROSS JOIN gstats),
agg AS (
  SELECT n, pos, sq, CAST(sum(rel9) AS BIGINT) AS rel9s,
         CAST(sum(res9) AS BIGINT) AS res9s
  FROM terms GROUP BY n, pos, sq)
SELECT n AS n_docs,
       {mround('CAST(sq AS DOUBLE) / 1e12 / n', 6)} AS brier,
       {mround('CAST(rel9s AS DOUBLE) / 1000000000 / n', 6)} AS reliability,
       {mround('CAST(res9s AS DOUBLE) / 1000000000 / n', 6)} AS resolution,
       {mround(f'({_BRIER_Y}) * (1 - ({_BRIER_Y}))', 6)} AS uncertainty,
       {mround(f'(CAST(rel9s AS DOUBLE) / 1000000000 / n) - (CAST(res9s AS DOUBLE) / 1000000000 / n) + (({_BRIER_Y}) * (1 - ({_BRIER_Y})))', 6)} AS brier_binned
FROM agg
"""


QUERIES["eval_brier_decomposition"] = QuerySpec(
    eval_brier_decomposition, EVAL_BRIER_SQL, "eval"
)


# ---------------------------------------------------------------------------
# Cohen's kappa — chance-corrected rater agreement (round 9)
# ---------------------------------------------------------------------------

# Fixed operating point for the classifier rater: the score grid's midrange
# (the per-SF median sits at ~590k micro at every shipped SF, and a FIXED
# threshold keeps the rater data-independent — a quantile cut would make
# rater B a function of the corpus it is judging).
_KAPPA_CUT_MICRO = 590_000

_KAPPA_PO = "CAST(diag AS DOUBLE) / n"
_KAPPA_PE = (
    "(CAST(ra AS DOUBLE) * ca + CAST(n - ra AS DOUBLE) * (n - ca))"
    " / (CAST(n AS DOUBLE) * n)"
)
# fraction-cleared exact-integer form:
# kappa = (n*diag - rc) / (n*n - rc),  rc = ra*ca + (n-ra)*(n-ca)
_KAPPA_RC = "(ra * ca + (n - ra) * (n - ca))"
_KAPPA = f"CAST(n * diag - {_KAPPA_RC} AS DOUBLE) / (n * n - {_KAPPA_RC})"


def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality raters — the
    lexical rule label and the hashed-feature classifier thresholded at the
    fixed score midpoint (:data:`_KAPPA_CUT_MICRO`) — the chance-corrected
    agreement coefficient that separates "the raters agree" from "the
    majority class makes anyone agree": the acceptance gate a weak-label /
    LLM-as-judge pipeline runs before trusting a cheap rater. Reports
    observed agreement p_o, chance agreement p_e from the marginal
    products, and kappa in the fraction-cleared exact-integer form
    kappa = (n*diag - rc) / (n^2 - rc), rc = ra*ca + (n-ra)*(n-ca) —
    one DOUBLE division per statistic, no compound float chain.

    Determinism: n, the two positive-marginals ra/ca, and the agreement
    diagonal are exact int64 counts folded in ONE aggregate over the shared
    per-doc substrate (:func:`_qc_score_label`); rc <= n^2 keeps the
    products in int64 through ~3e9 documents (DECIMAL(38,0) swap beyond).

    Scale: the corpus-sized work is the substrate's one tokenize + one
    groupBy(doc_id); the kappa arithmetic is a 4-column single-row fold of
    that per-doc table — no second corpus pass, no window, no join."""
    per = _qc_score_label(spark, sf_dir).selectExpr(
        "CAST(label AS BIGINT) AS a",
        f"CASE WHEN score_micro >= {_KAPPA_CUT_MICRO} THEN 1 ELSE 0 END AS b",
    )
    agg = per.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("ra"),
        F.sum("b").cast("bigint").alias("ca"),
        F.sum(F.expr("CASE WHEN a = b THEN 1 ELSE 0 END")).cast("bigint").alias("diag"),
    )
    return agg.selectExpr(
        "n AS n_items",
        "diag AS agree_n",
        mround(_KAPPA_PO, 6) + " AS observed_agreement",
        mround(_KAPPA_PE, 6) + " AS expected_agreement",
        mround(_KAPPA, 6) + " AS kappa",
    )


EVAL_COHENS_KAPPA_SQL = f"""
WITH {_QC_SCORE_LABEL_SQL},
raters AS (
  SELECT CAST(label AS BIGINT) AS a,
         CASE WHEN score_micro >= {_KAPPA_CUT_MICRO} THEN 1 ELSE 0 END AS b
  FROM scored),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a) AS BIGINT) AS ra,
         CAST(sum(b) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS diag
  FROM raters)
SELECT n AS n_items, diag AS agree_n,
       {mround(_KAPPA_PO, 6)} AS observed_agreement,
       {mround(_KAPPA_PE, 6)} AS expected_agreement,
       {mround(_KAPPA, 6)} AS kappa
FROM agg
"""

QUERIES["eval_cohens_kappa"] = QuerySpec(
    eval_cohens_kappa, EVAL_COHENS_KAPPA_SQL, "eval"
)


# ---------------------------------------------------------------------------
# Language-model retrieval: Dirichlet query likelihood (round 9)
# ---------------------------------------------------------------------------

QL_MU = 2000  # Dirichlet prior (standard Zhai & Lafferty operating point)
QL_TOP_K = 10

# grid9: pre-round a per-term transcendental onto a 1e-9 integer grid BEFORE
# any cross-row sum (the PSI / mutual-information / NDCG pattern) — the only
# reductions below are int64 sums, so engine reduction order cannot move a bit.


def _g9(expr: str) -> str:
    return f"CAST(floor(({expr}) * 1000000000 + 0.5) AS BIGINT)"


def retrieval_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2004)
    for the fixed 5-query workload — the language-model ranker beside BM25's
    tf-idf view: score(q,d) = sum over query terms of
    ln((tf + mu*P(t|C)) / (dl + mu)), decomposed into the SPARSE form
    A + B + C so only matched (term, doc) postings are ever touched:
    A = sum over matched terms of ln(1 + tf*N / (mu*ctf)),
    B = |q| * ln(mu / (dl + mu))  (per doc, from the doc-length table),
    C = sum over query terms of ln(ctf / N)  (per query, rank-constant but
    kept so the reported score IS the log-likelihood).

    Determinism: each ln() runs on a fixed-text double of exact int64
    inputs and is pre-rounded onto the 1e-9 integer grid before any sum
    (the documented transcendental exception — PSI pattern); A/B/C combine
    as pure int64, ties break on doc_id. Every workload term exists in the
    corpus vocabulary (pinned by test), so C is finite.

    Scale: ONE tokenize + ONE groupBy(doc_id) pass computes the doc-length
    table and the per-doc tf of every (fixed, known-at-plan-time) workload
    term as conditional sums — the full-vocabulary (tok, doc_id) postings
    shuffle the r11 shape paid (and then localCheckpoint-materialized) only
    existed to be filtered back down to the <=13 query terms; the exchange
    now carries 5k rows x 13 ints instead of every posting (r12 rewrite,
    2.36 s -> measured below). ctf/matched unpivot the tiny wide table with
    stack(); the dense leg is doclen x 5 queries — linear in documents,
    never in postings; top-10 per query via row_number, no global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d)
    per_doc = _workload_per_doc(toks)
    stats = per_doc.agg(F.sum("dl").cast("bigint").alias("n_c"))
    doclen = per_doc.select("doc_id", "dl")
    postings = _workload_postings(per_doc)
    qterms = _qterms(spark)
    ctf = postings.groupBy("tok").agg(F.sum("tf").cast("bigint").alias("ctf"))
    # A: matched-term kicker, grid-int per posting row
    a_term = _g9(
        f"ln(1 + CAST(tf AS DOUBLE) * n_c / (CAST({QL_MU} AS DOUBLE) * ctf))"
    )
    matched = (
        postings.join(F.broadcast(qterms), "tok")
        .join(F.broadcast(ctf), "tok")
        .crossJoin(F.broadcast(stats))
        .selectExpr("query_id", "doc_id", f"{a_term} AS a9")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("a9").cast("bigint").alias("a9"),
            F.count("*").cast("bigint").alias("n_hit_terms"),
        )
    )
    # C: per-query constant from the same ctf table
    c_term = _g9("ln(CAST(ctf AS DOUBLE) / n_c)")
    qconst = (
        qterms.join(ctf, "tok")
        .crossJoin(F.broadcast(stats))
        .selectExpr("query_id", f"{c_term} AS c9")
        .groupBy("query_id")
        .agg(
            F.sum("c9").cast("bigint").alias("c9"),
            F.count("*").cast("bigint").alias("qlen"),
        )
    )
    b_term = _g9(f"ln(CAST({QL_MU} AS DOUBLE) / (dl + {QL_MU}))")
    full = (
        doclen.crossJoin(F.broadcast(qconst))
        .selectExpr("query_id", "doc_id", f"qlen * {b_term} + c9 AS bc9")
        .join(matched, ["query_id", "doc_id"], "left")
        .selectExpr(
            "query_id",
            "doc_id",
            "CAST(coalesce(n_hit_terms, 0) AS BIGINT) AS n_hit_terms",
            "CAST(coalesce(a9, 0) + bc9 AS BIGINT) AS score9",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score9"), F.asc("doc_id"))
    return (
        full.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= QL_TOP_K)
        .selectExpr(
            "query_id",
            "doc_id",
            "n_hit_terms",
            mround("CAST(score9 AS DOUBLE) / 1000000000", 6) + " AS score",
            "rank",
        )
    )


def _ql_sql() -> str:
    a_term = _g9(
        f"ln(1 + CAST(tf AS DOUBLE) * n_c / (CAST({QL_MU} AS DOUBLE) * ctf))"
    )
    c_term = _g9("ln(CAST(ctf AS DOUBLE) / n_c)")
    b_term = _g9(f"ln(CAST({QL_MU} AS DOUBLE) / (dl + {QL_MU}))")
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
postings AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok, doc_id),
stats AS (SELECT CAST(sum(tf) AS BIGINT) AS n_c FROM postings),
doclen AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id),
qterms AS (SELECT * FROM (VALUES {_bm25_query_values()}) AS v(query_id, tok)),
ctf AS (
  SELECT tok, CAST(sum(tf) AS BIGINT) AS ctf
  FROM postings WHERE tok IN (SELECT DISTINCT tok FROM qterms)
  GROUP BY tok),
matched AS (
  SELECT query_id, doc_id,
         CAST(sum({a_term}) AS BIGINT) AS a9,
         CAST(count(*) AS BIGINT) AS n_hit_terms
  FROM postings JOIN qterms USING (tok) JOIN ctf USING (tok) CROSS JOIN stats
  GROUP BY query_id, doc_id),
qconst AS (
  SELECT query_id, CAST(sum({c_term}) AS BIGINT) AS c9,
         CAST(count(*) AS BIGINT) AS qlen
  FROM qterms JOIN ctf USING (tok) CROSS JOIN stats
  GROUP BY query_id),
full_frame AS (
  SELECT q.query_id, d.doc_id,
         CAST(coalesce(m.n_hit_terms, 0) AS BIGINT) AS n_hit_terms,
         CAST(coalesce(m.a9, 0) + q.qlen * {b_term} + q.c9 AS BIGINT) AS score9
  FROM doclen d CROSS JOIN qconst q
  LEFT JOIN matched m ON m.query_id = q.query_id AND m.doc_id = d.doc_id),
ranked AS (
  SELECT query_id, doc_id, n_hit_terms,
         {mround('CAST(score9 AS DOUBLE) / 1000000000', 6)} AS score,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score9 DESC, doc_id ASC) AS BIGINT) AS rank
  FROM full_frame)
SELECT query_id, doc_id, n_hit_terms, score, rank
FROM ranked WHERE rank <= {QL_TOP_K}
"""


RETRIEVAL_QL_SQL = _ql_sql()

QUERIES["retrieval_query_likelihood"] = QuerySpec(
    retrieval_query_likelihood, RETRIEVAL_QL_SQL, "eval"
)


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback expansion (RM1-lite) — round 9
# ---------------------------------------------------------------------------

PRF_FB_DOCS = 10  # feedback depth: the BM25 top-10 per query
PRF_TOP_TERMS = 5  # expansion terms reported per query


def retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM1-lite, the uniform-
    weight core of RM3): run the fixed workload's BM25 top-10 as feedback
    docs, estimate the relevance model w(t) = sum over feedback docs of
    tf(t,d)/dl_d, drop the original query terms, and report each query's
    top-5 expansion terms — the classic lexical-gap fix a retrieval
    pipeline applies before a second-pass ranking.

    Determinism: the seed ranking is `text_bm25_search`'s integer-micro
    ordering (hash-exact by construction); each tf/dl contribution is
    pre-rounded onto the 1e-9 integer grid before the cross-doc sum, so
    w(t) is an int64 fold; term ties break lexicographically.

    Scale: the seed ranking runs `text_bm25_search`'s single-pass shape —
    the workload is fixed at plan time, so ONE groupBy(doc_id) computes dl
    and each of the <=13 workload terms' per-doc tf as conditional sums
    and the full-vocabulary postings NEVER shuffle (the r11 shape built
    and localCheckpointed them, ran partition-by-term and partition-by-doc
    windows over every posting, then discarded all non-workload rows at
    the query join — and its feedback phase ran ANOTHER full-postings
    window before the 50-doc filter). The feedback join now filters the
    token stream FIRST (broadcast of the 50 (query, doc) seed pairs), so
    the relevance-model aggregation — and its dl window — runs over <= 50
    document term lists, bounded by the workload, never the corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d)
    scored, _ = _bm25_workload_scored(toks)
    qterms = _qterms(spark)
    hits = scored.join(F.broadcast(qterms), "tok").groupBy("query_id", "doc_id").agg(
        F.sum("bm25_micro").alias("score_micro")
    )
    w_bm = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    feedback = (
        hits.withColumn("r", F.row_number().over(w_bm))
        .filter(F.col("r") <= PRF_FB_DOCS)
        .select("query_id", "doc_id")
    )
    w_term = _g9("CAST(tf AS DOUBLE) / dl")
    fb_terms = (
        toks.join(F.broadcast(feedback), "doc_id")
        .groupBy("query_id", "doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "dl",
            F.sum("tf")
            .over(Window.partitionBy("query_id", "doc_id"))
            .cast("bigint"),
        )
        .selectExpr("query_id", "tok", f"{w_term} AS w9")
        .groupBy("query_id", "tok")
        .agg(
            F.sum("w9").cast("bigint").alias("w9"),
            F.count("*").cast("bigint").alias("n_fb_docs"),
        )
        .join(F.broadcast(qterms), ["query_id", "tok"], "left_anti")
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("w9"), F.asc("tok"))
    return (
        fb_terms.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= PRF_TOP_TERMS)
        .selectExpr(
            "query_id",
            "rank",
            "tok AS term",
            mround("CAST(w9 AS DOUBLE) / 1000000000", 6) + " AS weight",
            "n_fb_docs",
        )
    )


def _prf_sql() -> str:
    w_term = _g9("CAST(tf AS DOUBLE) / dl")
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
postings AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok, doc_id),
stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(sum(tf) AS BIGINT) AS sum_dl
  FROM postings),
enriched AS (
  SELECT doc_id, tok, tf,
         CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
  FROM postings),
scored AS (
  SELECT doc_id, tok, dl,
         CAST(floor((
           (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)
           * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)
           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * n_docs / sum_dl))
         ) * 1000000 + 0.5) AS BIGINT) AS bm25_micro
  FROM enriched CROSS JOIN stats),
qterms AS (SELECT * FROM (VALUES {_bm25_query_values()}) AS v(query_id, tok)),
hits AS (
  SELECT query_id, s.doc_id, CAST(sum(bm25_micro) AS BIGINT) AS score_micro
  FROM scored s JOIN qterms USING (tok)
  GROUP BY query_id, s.doc_id),
feedback AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score_micro DESC, doc_id ASC) AS r
    FROM hits) t WHERE r <= {PRF_FB_DOCS}),
withdl AS (
  SELECT doc_id, tok, tf,
         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
  FROM postings),
fb_terms AS (
  SELECT query_id, tok,
         CAST(sum({w_term}) AS BIGINT) AS w9,
         CAST(count(*) AS BIGINT) AS n_fb_docs
  FROM withdl JOIN feedback USING (doc_id)
  GROUP BY query_id, tok),
expanded AS (
  SELECT f.query_id, f.tok, f.w9, f.n_fb_docs
  FROM fb_terms f
  WHERE NOT EXISTS (SELECT 1 FROM qterms q
                    WHERE q.query_id = f.query_id AND q.tok = f.tok)),
ranked AS (
  SELECT query_id, tok, w9, n_fb_docs,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY w9 DESC, tok ASC) AS BIGINT) AS rank
  FROM expanded)
SELECT query_id, rank, tok AS term,
       {mround('CAST(w9 AS DOUBLE) / 1000000000', 6)} AS weight,
       n_fb_docs
FROM ranked WHERE rank <= {PRF_TOP_TERMS}
"""


RETRIEVAL_PRF_SQL = _prf_sql()

QUERIES["retrieval_prf_expansion"] = QuerySpec(
    retrieval_prf_expansion, RETRIEVAL_PRF_SQL, "eval"
)


# ---------------------------------------------------------------------------
# Per-source unigram KL divergence from the corpus (round 9)
# ---------------------------------------------------------------------------


def text_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence D(P_source || P_corpus) of each source's unigram token
    distribution from the whole-corpus distribution — the domain-shift
    score a training-mix designer reads before weighting sources (a source
    that diverges hard from the mix either carries signal or garbage; this
    ranks which to inspect), completing the drift family with a
    text-native member beside PSI/KS/chi-square on prices.

    Only observed (source, token) cells contribute — a token absent from a
    source has p_s = 0 and adds exactly 0 to the sum, so the sparse form is
    the EXACT statistic, not an approximation. Each cell term
    (cnt/n_s) * ln(cnt*N / (n_s*ctf)) is one fixed-text IEEE expression of
    exact int64 counts, pre-rounded onto the 1e-9 integer grid before the
    per-source sum (the documented transcendental exception — PSI pattern).

    Scale: ONE partial-aggregated groupBy collapses the corpus to the
    (source, token) cell table (bounded by |sources| x vocabulary); the
    token marginal is a window over that reduced table, the corpus total a
    broadcast 1-row aggregate, and the answer is a |sources|-row groupBy.
    Nothing after the first groupBy sees a corpus row."""
    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d, "source")
    # One tokenize: the reduced cell table is materialized so the corpus
    # total and the marginal windows read the same blocks (rrf pattern) —
    # without this, both consumers re-expand the explode (2 Generates).
    cells = (
        toks.groupBy("source", "tok").agg(F.count("*").alias("cnt")).localCheckpoint()
    )
    total = cells.agg(F.sum("cnt").cast("bigint").alias("n_all"))
    en = cells.withColumn(
        "ctf", F.sum("cnt").over(Window.partitionBy("tok")).cast("bigint")
    ).withColumn(
        "n_s", F.sum("cnt").over(Window.partitionBy("source")).cast("bigint")
    )
    term = _g9(
        "(CAST(cnt AS DOUBLE) / n_s)"
        " * ln(CAST(cnt AS DOUBLE) * n_all / (CAST(n_s AS DOUBLE) * ctf))"
    )
    per = (
        en.crossJoin(F.broadcast(total))
        .selectExpr("source", "n_s", f"{term} AS t9")
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_distinct_tokens"),
            F.sum("t9").cast("bigint").alias("kl9"),
        )
    )
    return per.selectExpr(
        "source",
        "n_tokens",
        "n_distinct_tokens",
        mround("CAST(kl9 AS DOUBLE) / 1000000000", 6) + " AS kl_nats",
    )


def _source_kl_sql() -> str:
    term = _g9(
        "(CAST(cnt AS DOUBLE) / n_s)"
        " * ln(CAST(cnt AS DOUBLE) * n_all / (CAST(n_s AS DOUBLE) * ctf))"
    )
    return rf"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
cells AS (
  SELECT source, tok, count(*) AS cnt FROM toks WHERE tok <> ''
  GROUP BY source, tok),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_all FROM cells),
en AS (
  SELECT source, tok, cnt,
         CAST(sum(cnt) OVER (PARTITION BY tok) AS BIGINT) AS ctf,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM cells)
SELECT source,
       CAST(max(n_s) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct_tokens,
       {mround('CAST(sum(' + term + ') AS DOUBLE) / 1000000000', 6)} AS kl_nats
FROM en CROSS JOIN total
GROUP BY source
"""


TEXT_SOURCE_KL_SQL = _source_kl_sql()

QUERIES["text_source_kl_divergence"] = QuerySpec(
    text_source_kl_divergence, TEXT_SOURCE_KL_SQL, "text"
)


# ---------------------------------------------------------------------------
# Character-level entropy rate (compressibility proxy) — round 9
# ---------------------------------------------------------------------------

# Entropy from exact counts: H = ln(n) - (1/n) * sum_c cnt*ln(cnt) nats.
# Each cnt*ln(cnt) term rides the 1e-9 integer grid (_g9 — the documented
# transcendental exception), so the per-source reduction is an int64 sum.
# int64 bound: sum_c cnt*ln(cnt) <= n*ln(n); the grid sum stays exact to
# n ~ 4e8 chars per source — beyond that drop the grid to 1e6 (same shape).
_ENT_TERM9 = "CAST(floor(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)"
_LN2 = "ln(2.0)"


def _entropy_bits(s9: str, n: str) -> str:
    """H in BITS from a grid-int term sum and the population size (shared
    text both dialects; ln(n)/ln(2) and the division are fixed IEEE ops)."""
    return (
        f"(ln(CAST({n} AS DOUBLE)) - CAST({s9} AS DOUBLE) / 1000000000 / {n})"
        f" / {_LN2}"
    )


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-level entropy — unigram H(c) and conditional
    bigram H(c2|c1) = H(c1c2) - H(c1), both in bits/char — the
    model-free compressibility proxy a corpus curator reads next to
    `text_quality`: natural prose sits near ~4 bits unigram / ~3.5
    conditional; machine-generated or templated text collapses the
    conditional entropy, and binary-ish garbage pushes both toward 8.

    Population: the corpus's bigram windows (positions 1..len-1), so the
    unigram marginal is EXACTLY the bigram prefix marginal and one cell
    table serves all three entropies (a document's final character is the
    only char excluded — a vanishing boundary effect, documented not
    hidden).

    Determinism: one explode produces (source, bigram) cells; counts are
    exact int64; each cnt*ln(cnt) term is pre-rounded onto the 1e-9 integer
    grid before summation (the `text_source_kl_divergence` convention), so
    reduction order is irrelevant; the final H expressions are fixed-text
    IEEE chains.

    Scale: the groupBy key space is |sources| x charset^2 (~9k cells for
    ASCII) — partial aggregation collapses every partition to that bound
    before the shuffle, so a 100 TB corpus moves kilobytes; the marginal is
    a second groupBy OVER THE CELL TABLE, never the corpus."""
    d = load_table(spark, sf_dir, "documents")
    # length guard: Spark's sequence(1, 0) would generate DESCENDING [1, 0]
    # for a sub-2-char doc; DuckDB's range(1, len) is empty there — the
    # filter makes both engines skip such docs identically.
    # spread() fans the single-row-group scan across the cluster before the
    # CPU-amplifying explode (2.4s -> 0.6s for the cell build at sf0.1,
    # measured); the char array is split ONCE so the bigram lambda is O(1)
    # array indexing, not an O(position) substring seek per element (r11).
    pairs = (
        spread(d.select("source", "text"), spark)
        .filter("length(text) >= 2")
        .selectExpr("source", "length(text) AS n", "split(text, '') AS cs")
        .select(
            "source",
            F.expr(
                "explode(transform(sequence(1, n - 1),"
                " i -> concat(cs[i-1], cs[i])))"
            ).alias("bg"),
        )
    )
    # One explode: the reduced cell table is materialized so the bigram fold
    # and the prefix marginal read the same blocks (the
    # text_source_kl_divergence pattern — without this both consumers
    # re-expand the explode: 2 Generates, measured).
    cells = (
        pairs.groupBy("source", "bg")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    # prefix marginal over the (tiny) cell table = the unigram cell table
    uni = (
        cells.selectExpr("source", "substring(bg, 1, 1) AS c1", "cnt")
        .groupBy("source", "c1")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    bi_s = cells.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.count("*").cast("bigint").alias("n_distinct_bigrams"),
        F.sum(F.expr(_ENT_TERM9)).cast("bigint").alias("s9_bi"),
    )
    uni_s = uni.groupBy("source").agg(
        F.sum(F.expr(_ENT_TERM9)).cast("bigint").alias("s9_uni"),
    )
    h_uni = _entropy_bits("s9_uni", "n_bigrams")
    h_bi = _entropy_bits("s9_bi", "n_bigrams")
    return bi_s.join(uni_s, "source").selectExpr(
        "source",
        "n_bigrams",
        "n_distinct_bigrams",
        mround(h_uni, 6) + " AS h_char_bits",
        mround(h_bi, 6) + " AS h_bigram_bits",
        mround(f"({h_bi}) - ({h_uni})", 6) + " AS h_cond_bits",
    )


def _char_entropy_sql() -> str:
    h_uni = _entropy_bits("s9_uni", "n_bigrams")
    h_bi = _entropy_bits("s9_bi", "n_bigrams")
    return f"""
WITH pairs AS (
  SELECT source, substr(text, u.i, 2) AS bg
  FROM documents, unnest(range(1, len(text))) AS u(i)),
cells AS (
  SELECT source, bg, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY source, bg),
uni AS (
  SELECT source, substr(bg, 1, 1) AS c1, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM cells GROUP BY source, substr(bg, 1, 1)),
bi_s AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
         CAST(sum({_ENT_TERM9}) AS BIGINT) AS s9_bi
  FROM cells GROUP BY source),
uni_s AS (
  SELECT source, CAST(sum({_ENT_TERM9}) AS BIGINT) AS s9_uni
  FROM uni GROUP BY source)
SELECT source, n_bigrams, n_distinct_bigrams,
       {mround(h_uni, 6)} AS h_char_bits,
       {mround(h_bi, 6)} AS h_bigram_bits,
       {mround(f"({h_bi}) - ({h_uni})", 6)} AS h_cond_bits
FROM bi_s JOIN uni_s USING (source)
"""


TEXT_CHAR_ENTROPY_SQL = _char_entropy_sql()

QUERIES["text_char_entropy"] = QuerySpec(
    text_char_entropy, TEXT_CHAR_ENTROPY_SQL, "text"
)


# ---------------------------------------------------------------------------
# Dual-ranker MRR eval (BM25 vs query likelihood) — round 9
# ---------------------------------------------------------------------------

MRR_K = 10  # judge each ranker's top-10


def eval_mrr_dual_ranker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 of the two lexical rankers — BM25 (`text_bm25_search`) and
    Dirichlet query likelihood (`retrieval_query_likelihood`) — against
    derived strict-AND qrels (a document is relevant to a query iff it
    contains EVERY query term): the side-by-side retrieval-quality readout
    an offline eval harness emits before swapping rankers in production.
    Reports per ranker the query count, queries with a relevant doc in the
    top-10, and MRR as exact integer micro (1e6 div rank, summed as int64,
    divided by n_queries once).

    Determinism: both rankers' orderings are already integer-exact (micro
    BM25 weights; 1e-9-grid QL log-likelihoods) with doc_id tie-breaks;
    reciprocal ranks are integer micro via truncating division, so the MRR
    fold is pure int64.

    Scale (r09 verdict #3 diet; r11 column-lane diet): the full inverted
    index is NEVER materialized, and since r11 neither is a per-(query,
    doc, token) candidate table — the whole workload is 5 queries over 12
    distinct tokens (a compile-time constant), so the corpus collapses in
    ONE pass to one row per document carrying dl plus a tf LANE per query
    token (12 conditional sums), the corpus/df/ctf statistics fold to a
    single broadcast row, and every per-(query, doc) quantity — the BM25
    micro sum, QL's A-term, the strict-AND term count, the B+C constants —
    becomes a map-side column expression over those lanes. The r10 plan's
    three checkpoint jobs (doclen, qpost, cand), the qpost-doclen shuffle
    join, and the QL left join all disappear; what remains is one
    (doc_id) aggregation shuffle, one broadcast stats attach, one explode
    to (doc, query) rows, and the two per-query top-10 windows — the
    irreducible sorts. At 100 TB: one tokenize pass, one keyed shuffle,
    windows bounded per query by WindowGroupLimit; the lane count grows
    with the QUERY workload, not the data."""
    d = load_table(spark, sf_dir, "documents")
    qtok_list = BM25_TERMS
    n_q = len(BM25_QUERIES)  # 5, workload constant
    # ONE corpus pass, no keyed shuffle: the tf lanes are codegen'd array
    # counts over the once-projected token array (size(ts) minus the array
    # with that token removed — array_remove beats a lambda filter() by
    # ~1.5x here, measured: higher-order functions evaluate interpreted) —
    # never explode + groupBy, which shuffles every token. spread() fans the
    # single-row-group local parquet across the cluster first (one compact
    # pre-amplification exchange, a no-op at production split counts). The
    # dl >= 1 filter replicates the postings-era semantics exactly: a doc
    # with no tokens never had a doclen row, so it never entered either
    # ranking.
    lanes = (
        spread(d.select("doc_id", "text"), spark)
        .selectExpr("doc_id", f"{WORD_TOKENS} AS ts")
        .selectExpr(
            "doc_id",
            "CAST(size(array_remove(ts, '')) AS BIGINT) AS dl",
            *[
                f"CAST(size(ts) - size(array_remove(ts, '{t}')) AS BIGINT)"
                f" AS tf_{i}"
                for i, t in enumerate(qtok_list)
            ],
        )
        .filter("dl >= 1")
        .localCheckpoint()
    )
    # corpus + per-token df/ctf statistics: ONE tiny fold to a 1-row
    # broadcast (n_c == sum_dl exactly, as before)
    stats = lanes.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            c
            for i in range(len(qtok_list))
            for c in (
                F.sum(F.expr(f"CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END"))
                .cast("bigint")
                .alias(f"df_{i}"),
                F.sum(f"tf_{i}").cast("bigint").alias(f"ctf_{i}"),
            )
        ],
    )
    # per-LANE scores first (each heavy expression appears ONCE; the
    # per-query structs below are plain sums of these columns — keeps the
    # Catalyst tree small, which is where a naive inline version spent
    # ~0.5s/run of pure driver analysis time, measured)
    def _a9(i: int) -> str:
        return _g9(
            f"ln(1 + CAST(tf_{i} AS DOUBLE) * sum_dl"
            f" / (CAST({QL_MU} AS DOUBLE) * ctf_{i}))"
        )

    def _c9(i: int) -> str:
        return _g9(f"ln(CAST(ctf_{i} AS DOUBLE) / sum_dl)")

    b9 = _g9(f"ln(CAST({QL_MU} AS DOUBLE) / (dl + {QL_MU}))")
    nl = range(len(qtok_list))
    scored = lanes.crossJoin(F.broadcast(stats)).selectExpr(
        "doc_id",
        f"({b9}) AS b9",
        *[
            f"(CASE WHEN tf_{i} > 0 THEN {cents(_bm25_weight(f'tf_{i}', f'df_{i}'))}"
            f" ELSE CAST(0 AS BIGINT) END) AS bm_{i}"
            for i in nl
        ],
        *[
            f"(CASE WHEN tf_{i} > 0 THEN {_a9(i)}"
            f" ELSE CAST(0 AS BIGINT) END) AS a9_{i}"
            for i in nl
        ],
        # QL's B+C constants use only tokens with at least one posting
        # (the r9 plan's inner join qterms><qtok_stats dropped the rest)
        *[
            f"(CASE WHEN df_{i} > 0 THEN {_c9(i)}"
            f" ELSE CAST(0 AS BIGINT) END) AS c9_{i}"
            for i in nl
        ],
        *[f"(CASE WHEN df_{i} > 0 THEN 1 ELSE 0 END) AS has_{i}" for i in nl],
        *[f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS m_{i}" for i in nl],
    )
    structs = []
    for q in sorted(BM25_QUERIES):
        idxs = [qtok_list.index(t) for t in BM25_QUERIES[q]]
        score_micro = " + ".join(f"bm_{i}" for i in idxs)
        a9 = " + ".join(f"a9_{i}" for i in idxs)
        n_terms = " + ".join(f"m_{i}" for i in idxs)
        c9 = " + ".join(f"c9_{i}" for i in idxs)
        qlen_bc = " + ".join(f"has_{i}" for i in idxs)
        structs.append(
            f"named_struct('query_id', '{q}',"
            f" 'score_micro', CAST({score_micro} AS BIGINT),"
            f" 'n_terms', CAST({n_terms} AS BIGINT),"
            f" 'is_rel', CAST({n_terms} AS BIGINT) = {len(BM25_QUERIES[q])},"
            f" 'score9', CAST({a9} AS BIGINT)"
            f" + CAST({qlen_bc} AS BIGINT) * b9 + CAST({c9} AS BIGINT))"
        )
    per_query = scored.selectExpr(
        "doc_id", f"explode(array({', '.join(structs)})) AS q"
    ).selectExpr(
        "q.query_id AS query_id", "doc_id", "q.score_micro AS score_micro",
        "q.n_terms AS n_terms", "q.is_rel AS is_rel", "q.score9 AS score9",
    )

    # --- ranker 1: BM25 over matched docs only (as the r9 candidate table)
    w_bm = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    bm_top = (
        per_query.filter("n_terms > 0")
        .withColumn("rank", F.row_number().over(w_bm).cast("bigint"))
        .filter(F.col("rank") <= MRR_K)
        .selectExpr("'bm25' AS ranker", "query_id", "doc_id", "rank", "is_rel")
    )
    # --- ranker 2: Dirichlet QL over EVERY doc (B+C scores unmatched docs)
    w_ql = Window.partitionBy("query_id").orderBy(F.desc("score9"), F.asc("doc_id"))
    ql_top = (
        per_query.withColumn("rank", F.row_number().over(w_ql).cast("bigint"))
        .filter(F.col("rank") <= MRR_K)
        .selectExpr(
            "'ql_dirichlet' AS ranker", "query_id", "doc_id", "rank", "is_rel"
        )
    )

    # --- fold: first relevant rank per (ranker, query) -> integer-micro MRR
    # (is_rel IS the strict-AND qrels membership — no join needed)
    first_rel = (
        bm_top.unionAll(ql_top)
        .filter("is_rel")
        .groupBy("ranker", "query_id")
        .agg(F.min("rank").alias("first_rank"))
    )
    return (
        first_rel.groupBy("ranker")
        .agg(
            F.count("*").cast("bigint").alias("n_hit_queries"),
            F.sum(F.expr("1000000 div first_rank")).cast("bigint").alias("rr_micro"),
        )
        .selectExpr(
            "ranker",
            f"CAST({n_q} AS BIGINT) AS n_queries",
            "n_hit_queries",
            mround(f"CAST(rr_micro AS DOUBLE) / 1000000 / {n_q}", 6) + " AS mrr",
        )
    )


def _mrr_sql() -> str:
    a_term = _g9(
        f"ln(1 + CAST(tf AS DOUBLE) * n_c / (CAST({QL_MU} AS DOUBLE) * ctf))"
    )
    c_term = _g9("ln(CAST(ctf AS DOUBLE) / n_c)")
    b_term = _g9(f"ln(CAST({QL_MU} AS DOUBLE) / (dl + {QL_MU}))")
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
postings AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok, doc_id),
qterms AS (SELECT * FROM (VALUES {_bm25_query_values()}) AS v(query_id, tok)),
q_hits AS (SELECT query_id, p.tok, p.doc_id, p.tf FROM postings p JOIN qterms USING (tok)),
qlen AS (SELECT query_id, count(*) AS qlen FROM qterms GROUP BY query_id),
qrels AS (
  SELECT h.query_id, h.doc_id FROM q_hits h
  GROUP BY h.query_id, h.doc_id
  HAVING count(*) = (SELECT qlen FROM qlen WHERE qlen.query_id = h.query_id)),
stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(sum(tf) AS BIGINT) AS sum_dl
  FROM postings),
enriched AS (
  SELECT doc_id, tok, tf,
         CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
  FROM postings),
bm_scored AS (
  SELECT doc_id, tok,
         CAST(floor((
           (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)
           * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)
           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * n_docs / sum_dl))
         ) * 1000000 + 0.5) AS BIGINT) AS bm25_micro
  FROM enriched CROSS JOIN stats),
bm_top AS (
  SELECT 'bm25' AS ranker, query_id, doc_id, rank FROM (
    SELECT query_id, s.doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY sum(bm25_micro) DESC, s.doc_id ASC) AS BIGINT) AS rank
    FROM bm_scored s JOIN qterms USING (tok)
    GROUP BY query_id, s.doc_id) t WHERE rank <= {MRR_K}),
cstats AS (SELECT CAST(sum(tf) AS BIGINT) AS n_c FROM postings),
doclen AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id),
ctf AS (
  SELECT tok, CAST(sum(tf) AS BIGINT) AS ctf
  FROM postings WHERE tok IN (SELECT DISTINCT tok FROM qterms)
  GROUP BY tok),
matched AS (
  SELECT query_id, doc_id, CAST(sum({a_term}) AS BIGINT) AS a9
  FROM q_hits JOIN ctf USING (tok) CROSS JOIN cstats
  GROUP BY query_id, doc_id),
qconst AS (
  SELECT query_id, CAST(sum({c_term}) AS BIGINT) AS c9,
         CAST(count(*) AS BIGINT) AS qlen
  FROM qterms JOIN ctf USING (tok) CROSS JOIN cstats
  GROUP BY query_id),
ql_top AS (
  SELECT 'ql_dirichlet' AS ranker, query_id, doc_id, rank FROM (
    SELECT q.query_id, d.doc_id,
           CAST(row_number() OVER (PARTITION BY q.query_id
             ORDER BY (coalesce(m.a9, 0) + q.qlen * {b_term} + q.c9) DESC,
                      d.doc_id ASC) AS BIGINT) AS rank
    FROM doclen d CROSS JOIN qconst q
    LEFT JOIN matched m ON m.query_id = q.query_id AND m.doc_id = d.doc_id) t
  WHERE rank <= {MRR_K}),
both_top AS (SELECT * FROM bm_top UNION ALL SELECT * FROM ql_top),
first_rel AS (
  SELECT ranker, query_id, CAST(min(rank) AS BIGINT) AS first_rank
  FROM both_top JOIN qrels USING (query_id, doc_id)
  GROUP BY ranker, query_id),
n_q AS (SELECT count(DISTINCT query_id) AS n FROM qterms)
SELECT ranker,
       CAST(n AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_hit_queries,
       {mround('CAST(sum(1000000 // first_rank) AS DOUBLE) / 1000000 / n', 6)} AS mrr
FROM first_rel CROSS JOIN n_q
GROUP BY ranker, n
"""


EVAL_MRR_DUAL_SQL = _mrr_sql()

QUERIES["eval_mrr_dual_ranker"] = QuerySpec(
    eval_mrr_dual_ranker, EVAL_MRR_DUAL_SQL, "eval"
)


# ---------------------------------------------------------------------------
# Heaps' law vocabulary-growth fit — round 10
# ---------------------------------------------------------------------------
#
# Zipf (text_zipf_fit) describes the rank-frequency SHAPE of one corpus;
# Heaps describes how vocabulary GROWS with corpus size: V = K * N^beta.
# The fixture's whitespace vocabulary saturates instantly (31 word types —
# probed before design, the r9 degenerate-subject rule), so the unit is the
# 3-token SHINGLE: its type count grows all the way through the corpus
# (beta ~ 0.82, r^2 ~ 0.995 at sf0.01) — and shingle-vocabulary growth is
# the quantity that actually sizes winnowing/MinHash dedup state, which is
# what a pipeline operator fits Heaps FOR.

_HEAPS_L6 = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"


def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(shingle vocab) on ln(shingle count) across ten
    cumulative corpus prefixes: beta (the Heaps exponent), K, and r^2.

    The prefix trick makes this one-pass: V_p needs only each shingle's
    FIRST doc (min doc_id per type — a vocab-sized table) and N_p only the
    per-doc shingle counts, so ten cut points are ten conditional sums
    over REDUCED tables — the corpus is never re-scanned per prefix. Cut
    points are pure integer arithmetic on the doc_id range (no data-
    dependent quantile), logs pre-rounded onto a 1e-6 integer grid (1e-9
    squares would overflow the cross-point OLS sums), slope/intercept/r^2
    fixed IEEE chains over exact int64 sums.

    Scale: two groupBys collapse the corpus to |vocab| + |docs| rows; the
    ten-point join and regression are constant-size."""
    d = load_table(spark, sf_dir, "documents")
    # sub-3-token guard: Spark's sequence(1, size-2) DESCENDS through 0 when
    # size < 3 (the r9 sequence-step pitfall) and slice() rejects start 0;
    # DuckDB's range(1, len-1) is just empty there — the filter makes both
    # engines skip such docs identically.
    # the token ARRAY is projected ONCE before the explode: referencing
    # split() inside the transform lambda re-evaluates it per element —
    # O(tokens^2) per document, measured as ~4.5s of the entry's cost at
    # sf0.1 before this projection. NO spread here: the un-checkpointed sh
    # subtree is duplicated into four consumer branches, so a pre-explode
    # repartition replicates as four extra un-reused Exchanges (measured
    # r11, 11 -> 15) for no wall win at this entry's size.
    sh = (
        d.selectExpr("doc_id", f"{WORD_TOKENS} AS ts")
        .filter("size(ts) >= 3")
        .selectExpr(
            "doc_id",
            "explode(transform(sequence(1, size(ts) - 2),"
            " i -> concat_ws(' ', slice(ts, i, 3)))) AS s",
        )
    )
    # dlen is computed FIRST and the doc_id range derives from it — the
    # range over sh directly would be a third full pass over the shingle
    # stream (dlen and firsts are the two unavoidable ones)
    dlen = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("len"))
    rng = dlen.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    cuts = (
        spark.range(1, 11)
        .selectExpr("CAST(id AS BIGINT) AS k")
        .crossJoin(F.broadcast(rng))
        .selectExpr("k", "lo + ((hi - lo + 1) * k) div 10 - 1 AS cut")
    )
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("fd"))
    n_p = (
        dlen.crossJoin(F.broadcast(cuts))
        .filter("doc_id <= cut")
        .groupBy("k")
        .agg(F.sum("len").cast("bigint").alias("n_tok"))
    )
    v_p = (
        firsts.crossJoin(F.broadcast(cuts))
        .filter("fd <= cut")
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("v_tok"))
    )
    pts = n_p.join(v_p, "k").selectExpr(
        _HEAPS_L6.format(x="n_tok") + " AS lx",
        _HEAPS_L6.format(x="v_tok") + " AS ly",
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.expr("lx * lx")).cast("bigint").alias("sxx"),
        F.sum(F.expr("ly * ly")).cast("bigint").alias("syy"),
        F.sum(F.expr("lx * ly")).cast("bigint").alias("sxy"),
    )
    return s.selectExpr(*_heaps_out_exprs())


def _heaps_out_exprs() -> list[str]:
    beta = (
        "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
    )
    lnk = f"((CAST(sy AS DOUBLE) - ({beta}) * sx) / n / 1000000)"
    r2 = (
        "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))"
    )
    return [
        "n AS n_prefixes",
        mround(beta, 5) + " AS beta_heaps",
        mround(f"exp({lnk})", 5) + " AS k_heaps",
        mround(r2, 5) + " AS r_squared",
    ]


def _heaps_sql() -> str:
    return rf"""
WITH tl AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents),
sh AS (
  SELECT doc_id, ts[u.i] || ' ' || ts[u.i + 1] || ' ' || ts[u.i + 2] AS s
  FROM tl, unnest(range(1, len(ts) - 1)) AS u(i)),
rng AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM sh),
cuts AS (
  SELECT CAST(u.k AS BIGINT) AS k, lo + ((hi - lo + 1) * u.k) // 10 - 1 AS cut
  FROM rng, unnest(generate_series(1, 10)) AS u(k)),
dlen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM sh GROUP BY doc_id),
firsts AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY s),
np_ AS (
  SELECT c.k, CAST(sum(d.len) AS BIGINT) AS n_tok
  FROM cuts c JOIN dlen d ON d.doc_id <= c.cut GROUP BY c.k),
vp AS (
  SELECT c.k, CAST(count(*) AS BIGINT) AS v_tok
  FROM cuts c JOIN firsts f ON f.fd <= c.cut GROUP BY c.k),
pts AS (
  SELECT {_HEAPS_L6.format(x="n_tok")} AS lx,
         {_HEAPS_L6.format(x="v_tok")} AS ly
  FROM np_ JOIN vp USING (k)),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
         CAST(sum(lx * lx) AS BIGINT) AS sxx,
         CAST(sum(ly * ly) AS BIGINT) AS syy,
         CAST(sum(lx * ly) AS BIGINT) AS sxy
  FROM pts)
SELECT {", ".join(_heaps_out_exprs())} FROM s
"""


QUERIES["text_heaps_law_fit"] = QuerySpec(
    text_heaps_law_fit, _heaps_sql(), "text"
)


# ---------------------------------------------------------------------------
# Burrows' delta stylometric distance — round 10
# ---------------------------------------------------------------------------
#
# The classic authorship-attribution distance (Burrows 2002): z-score each
# source's relative frequency of the corpus's top function words, then
# delta(a, b) = mean |z_a - z_b|. For a training-data pipeline it is the
# SOURCE-STYLE distance matrix behind "which scrapes are stylistically
# redundant" — a different axis than the token-overlap dedup family.

_BURROWS_K = 10  # top-K corpus function words


def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Burrows' delta between sources over the corpus's top-10
    tokens (frequency desc, token asc tie-break). Relative frequencies are
    grid-rounded to 1e-6 integers on the DENSE source x token grid (a
    source missing a word is frequency 0, not a missing row); per-token
    mean/sd over sources fold from exact int64 sums (population sd; a
    zero-sd token contributes z = 0 by the NULLIF convention, documented);
    z-scores are grid-rounded 1e-6 so the final |z_a - z_b| fold is pure
    integer.

    Scale: one tokenize -> (source, token) counts; the top-K vocabulary is
    a 10-row broadcast; the dense grid is |sources| x 10 and the pair
    matrix |sources|^2 / 2 — model-sized, independent of corpus volume."""
    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d, "source")
    st = toks.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).localCheckpoint()
    topk = (
        st.groupBy("tok")
        .agg(F.sum("cnt").cast("bigint").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("tok"))
        .limit(_BURROWS_K)
        .select("tok")
    )
    src_tot = st.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n_src"))
    grid = (
        src_tot.crossJoin(F.broadcast(topk))
        .join(st, ["source", "tok"], "left")
        .selectExpr(
            "source",
            "tok",
            "CAST(floor(CAST(coalesce(cnt, 0) AS DOUBLE) / n_src * 1000000"
            " + 0.5) AS BIGINT) AS f6",
        )
    )
    stats = grid.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("ns"),
        F.sum("f6").cast("bigint").alias("sf"),
        F.sum(F.expr("f6 * f6")).cast("bigint").alias("sff"),
    )
    z = grid.join(F.broadcast(stats), "tok").selectExpr(
        "source",
        "tok",
        "CAST(floor(coalesce("
        "  (f6 - CAST(sf AS DOUBLE) / ns)"
        "  / nullif(sqrt((sff - CAST(sf AS DOUBLE) * sf / ns) / ns), 0),"
        " 0) * 1000000 + 0.5) AS BIGINT) AS z6",
    )
    a = z.selectExpr("source AS source_a", "tok", "z6 AS za")
    b = z.selectExpr("source AS source_b", "tok", "z6 AS zb")
    return (
        a.join(b, "tok")
        .filter("source_a < source_b")
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.expr("abs(za - zb)")).cast("bigint").alias("sad"))
        .selectExpr(
            "source_a",
            "source_b",
            mround(f"CAST(sad AS DOUBLE) / {_BURROWS_K} / 1000000", 6)
            + " AS delta",
        )
    )


def _burrows_sql() -> str:
    return rf"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
st AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks WHERE tok <> '' GROUP BY source, tok),
topk AS (
  SELECT tok FROM (
    SELECT tok, sum(cnt) AS tot FROM st GROUP BY tok
    ORDER BY tot DESC, tok ASC LIMIT {_BURROWS_K})),
src_tot AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_src FROM st GROUP BY source),
grid AS (
  SELECT s.source, k.tok,
         CAST(floor(CAST(coalesce(c.cnt, 0) AS DOUBLE) / s.n_src * 1000000
              + 0.5) AS BIGINT) AS f6
  FROM src_tot s CROSS JOIN topk k
  LEFT JOIN st c ON c.source = s.source AND c.tok = k.tok),
stats AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(f6) AS BIGINT) AS sf,
         CAST(sum(f6 * f6) AS BIGINT) AS sff
  FROM grid GROUP BY tok),
z AS (
  SELECT source, tok,
         CAST(floor(coalesce(
           (f6 - CAST(sf AS DOUBLE) / ns)
           / nullif(sqrt((sff - CAST(sf AS DOUBLE) * sf / ns) / ns), 0),
          0) * 1000000 + 0.5) AS BIGINT) AS z6
  FROM grid JOIN stats USING (tok))
SELECT a.source AS source_a, b.source AS source_b,
       {mround(f'CAST(sum(abs(a.z6 - b.z6)) AS DOUBLE) / {_BURROWS_K} / 1000000', 6)}
         AS delta
FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
GROUP BY a.source, b.source
"""


QUERIES["text_burrows_delta"] = QuerySpec(
    text_burrows_delta, _burrows_sql(), "text"
)


# ---------------------------------------------------------------------------
# Cross-source LM cross-entropy matrix — round 10
# ---------------------------------------------------------------------------
#
# The data-mixing signal behind pipeline_mix_temperature's knobs: train an
# add-one-smoothed character-bigram LM per source and score every OTHER
# source under it. H(a, b) - H(a, a) is the excess bits source b's model
# pays on source a's text — low excess means the sources are stylistically
# interchangeable (mix them), high excess means b's model generalizes badly
# to a (keep both). Char bigrams keep the event space bounded (charset^2),
# the text_char_entropy population discipline.


def text_cross_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All source pairs (a, b): cross-entropy H(a, b) =
    -sum_bg p_a(bg) ln q_b(bg) in nats, with q_b add-one smoothed over the
    GLOBAL observed bigram vocabulary (so q_b > 0 wherever p_a > 0), plus
    the self-entropy H(a, a) and the excess H(a,b) - H(a,a).

    Determinism: counts are int64; each cnt_a * ln(q_b) term is
    grid-rounded at 1e-9 BEFORE the cross-bigram sum (cnt_a <= 1e5 keeps
    the grid product under 1e15 int64 at any realistic cell), and the
    final divisions are fixed IEEE.

    Scale: the corpus collapses once to (source, bigram) cells bounded by
    |sources| x charset^2; the pair scoring joins the cell table against
    the broadcast source list (|cells| x |sources| rows, still bounded by
    the cell space) — never against the corpus."""
    d = load_table(spark, sf_dir, "documents")
    # spread + split-once char array: same two wins as text_char_entropy
    # (fan out the single-row-group scan; O(1) array-indexed bigrams)
    pairs = (
        spread(d.select("source", "text"), spark)
        .filter("length(text) >= 2")
        .selectExpr("source", "length(text) AS n", "split(text, '') AS cs")
        .select(
            "source",
            F.expr(
                "explode(transform(sequence(1, n - 1),"
                " i -> concat(cs[i-1], cs[i])))"
            ).alias("bg"),
        )
    )
    cells = pairs.groupBy("source", "bg").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).localCheckpoint()
    totals = cells.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_src")
    )
    vocab = cells.agg(F.countDistinct("bg").cast("bigint").alias("v_glob"))
    # model side: for every (scoring source b, bigram in GLOBAL vocab seen
    # by ANY source a) we need cnt_b — join a-cells with b-models on bg
    a_side = cells.selectExpr("source AS source_a", "bg", "cnt AS cnt_a")
    b_side = cells.selectExpr("source AS source_b", "bg", "cnt AS cnt_b")
    b_tot = totals.selectExpr("source AS source_b", "n_src AS n_b")
    scored = (
        a_side.join(F.broadcast(totals.selectExpr("source AS source_a",
                                                  "n_src AS n_a")), "source_a")
        .crossJoin(F.broadcast(b_tot))
        .join(b_side, ["source_b", "bg"], "left")
        .crossJoin(F.broadcast(vocab))
        .selectExpr(
            "source_a",
            "source_b",
            "n_a",
            "CAST(floor(cnt_a * ln((CAST(coalesce(cnt_b, 0) AS DOUBLE) + 1)"
            " / (n_b + v_glob)) * 1000000000 + 0.5) AS BIGINT) AS t9",
        )
    )
    h = scored.groupBy("source_a", "source_b", "n_a").agg(
        F.sum("t9").cast("bigint").alias("s9")
    ).selectExpr(
        "source_a",
        "source_b",
        mround("-CAST(s9 AS DOUBLE) / 1000000000 / n_a", 6) + " AS h_cross",
    )
    self_h = h.filter("source_a = source_b").selectExpr(
        "source_a", "h_cross AS h_self"
    )
    return h.join(self_h, "source_a").selectExpr(
        "source_a",
        "source_b",
        "h_cross",
        mround("h_cross - h_self", 6) + " AS excess_nats",
    )


def _cross_ppl_sql() -> str:
    return """
WITH pairs AS (
  SELECT source, substr(text, u.i, 2) AS bg
  FROM documents, unnest(range(1, len(text))) AS u(i)
  WHERE len(text) >= 2),
cells AS (
  SELECT source, bg, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY source, bg),
totals AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_src FROM cells GROUP BY source),
vocab AS (SELECT CAST(count(DISTINCT bg) AS BIGINT) AS v_glob FROM cells),
scored AS (
  SELECT a.source AS source_a, bt.source AS source_b, ta.n_src AS n_a,
         CAST(floor(a.cnt * ln((CAST(coalesce(b.cnt, 0) AS DOUBLE) + 1)
              / (bt.n_src + v.v_glob)) * 1000000000 + 0.5) AS BIGINT) AS t9
  FROM cells a
  JOIN totals ta ON ta.source = a.source
  CROSS JOIN totals bt
  LEFT JOIN cells b ON b.source = bt.source AND b.bg = a.bg
  CROSS JOIN vocab v),
h AS (
  SELECT source_a, source_b,
         floor(-CAST(sum(t9) AS DOUBLE) / 1000000000 / n_a * 1000000 + 0.5)
           / 1000000 AS h_cross
  FROM scored GROUP BY source_a, source_b, n_a)
SELECT h.source_a, h.source_b, h.h_cross,
       floor((h.h_cross - s.h_cross) * 1000000 + 0.5) / 1000000 AS excess_nats
FROM h JOIN h s ON s.source_a = h.source_a AND s.source_b = h.source_a
"""


QUERIES["text_cross_perplexity"] = QuerySpec(
    text_cross_perplexity, _cross_ppl_sql(), "text"
)


# ---------------------------------------------------------------------------
# Span-corruption mask plan (T5-style objective prep) — round 10
# ---------------------------------------------------------------------------
#
# The training-objective half of the pipeline family: pipeline_pack_sequences
# shapes batches, this plans the denoising MASKS — deterministic span starts
# (md5 coin per token position, rate 1/20), fixed span length 3, overlaps
# merged — and reports the statistics a T5-style recipe is tuned on (mask
# rate ~15%, mean span length, sentinel count = number of MERGED runs).
# Everything is a pure function of (doc_id, position), so both engines
# recompute the same plan with NO window: masked(p) needs only the coins at
# p-2..p, run-start(p) the coins at p-3..p — four md5s per position, all
# map-side.

_SC_RATE = 20  # span-start probability 1/20 per position
_SC_LEN = 3  # span length in tokens


def _sc_start(dialect: str, pos: str) -> str:
    """1 iff a span STARTS at `pos` (0 when pos is out of range)."""
    s = f"concat('sc:', CAST(doc_id AS STRING), ':', CAST({pos} AS STRING))"
    if dialect != "spark":
        s = f"('sc:' || CAST(doc_id AS VARCHAR) || ':' || CAST({pos} AS VARCHAR))"
    h = (
        f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
        if dialect == "spark"
        else f"CAST(('0x' || substring(md5({s}), 1, 15)) AS BIGINT)"
    )
    return (
        f"(CASE WHEN ({pos}) >= 0 AND {h} % {_SC_RATE} = 0 THEN 1 ELSE 0 END)"
    )


def pipeline_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: documents, token count, span starts, masked tokens
    (merged-overlap union), sentinel count (contiguous masked runs — what
    T5 replaces with one sentinel token each), mask rate, and mean merged
    span length. masked(p) = a start exists in [p-2, p]; run_start(p) =
    masked(p) and not masked(p-1), both expanded to direct coin
    evaluations so no sequential scan or window exists — the plan is
    embarrassingly parallel at any scale."""
    d = load_table(spark, sf_dir, "documents")
    pos = (
        d.selectExpr(
            "doc_id",
            "source",
            f"size({WORD_TOKENS}) AS n_tok",
        )
        .filter("n_tok >= 1")
        .selectExpr(
            "doc_id", "source", "n_tok",
            "explode(sequence(0, n_tok - 1)) AS p",
        )
    )
    starts = [_sc_start("spark", f"p - {k}") for k in range(_SC_LEN + 1)]
    flags = pos.selectExpr(
        "source",
        "doc_id",
        f"{starts[0]} AS s0",
        f"greatest({starts[0]}, {starts[1]}, {starts[2]}) AS masked",
        f"greatest({starts[1]}, {starts[2]}, {starts[3]}) AS masked_prev",
    )
    return (
        flags.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("s0").cast("bigint").alias("n_span_starts"),
            F.sum("masked").cast("bigint").alias("n_masked"),
            F.sum(F.expr("CASE WHEN masked = 1 AND masked_prev = 0 THEN 1"
                         " ELSE 0 END")).cast("bigint").alias("n_sentinels"),
        )
        .selectExpr(
            "source", "n_docs", "n_tokens", "n_span_starts", "n_masked",
            "n_sentinels",
            mround("CAST(n_masked AS DOUBLE) / n_tokens", 6) + " AS mask_rate",
            # nullif: a source with zero span starts (degenerate tiny
            # corpus) yields NULL identically in both engines (r10 advice)
            mround("CAST(n_masked AS DOUBLE) / nullif(n_sentinels, 0)", 6)
            + " AS mean_span_len",
        )
    )


def _span_corruption_sql() -> str:
    st = [_sc_start("duck", f"p - {k}") for k in range(_SC_LEN + 1)]
    return rf"""
WITH docs AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok
  FROM documents),
pos AS (
  SELECT doc_id, source, u.p
  FROM docs, unnest(range(0, n_tok)) AS u(p)
  WHERE n_tok >= 1),
flags AS (
  SELECT source, doc_id,
         {st[0]} AS s0,
         greatest({st[0]}, {st[1]}, {st[2]}) AS masked,
         greatest({st[1]}, {st[2]}, {st[3]}) AS masked_prev
  FROM pos)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(s0) AS BIGINT) AS n_span_starts,
       CAST(sum(masked) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN masked = 1 AND masked_prev = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sentinels,
       {mround('CAST(sum(masked) AS DOUBLE) / count(*)', 6)} AS mask_rate,
       {mround('CAST(sum(masked) AS DOUBLE) / nullif(sum(CASE WHEN masked = 1 AND masked_prev = 0 THEN 1 ELSE 0 END), 0)', 6)}
         AS mean_span_len
FROM flags
GROUP BY source
"""


QUERIES["pipeline_span_corruption"] = QuerySpec(
    pipeline_span_corruption, _span_corruption_sql(), "pipeline"
)


# ---------------------------------------------------------------------------
# Retrieval exposure-fairness audit — round 10
# ---------------------------------------------------------------------------
#
# The fairness consumption of the ranking stack: position exposure (the
# 1/log2(1+rank) attention model NDCG discounts with) aggregated BY SOURCE
# over every query's BM25 top-10, compared against each source's share of
# the corpus — the disparity audit run before a retrieval system ships
# (sources systematically buried relative to their corpus presence show
# ratio << 1). Exposure weights are import-time Python literals through
# string->double parsing, the NDCG/twiddle discipline.

import math as _math

_EXPO_CASE = "CASE rank " + " ".join(
    f"WHEN {r} THEN CAST({int(_math.floor(1 / _math.log2(1 + r) * 1000000 + 0.5))}"
    f" AS BIGINT)"
    for r in range(1, MRR_K + 1)
) + " END"


def eval_exposure_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: corpus document share vs share of total BM25-top-10
    exposure across the query workload, and the disparity ratio. Ranks on
    the ``text_bm25_search`` substrate (:func:`_bm25_workload_scored`: one
    materialized per-doc table of workload-term counts, no index).

    Determinism: ranks are row_number over integer-micro BM25 scores with
    doc_id tie-break; exposure weights are 1e-6-grid integer literals so
    every sum is exact int64; the two shares and the ratio are fixed IEEE
    divisions.

    Scale: exposure aggregates over queries x 10 rows; only the corpus
    share (one groupBy over documents) and the ranking substrate touch
    the corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = _word_tokens(d)
    bm_scored, corpus = _bm25_workload_scored(toks)
    w_bm = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    top = (
        bm_scored.join(F.broadcast(_qterms(spark)), "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("bm25_micro").alias("score_micro"))
        .withColumn("rank", F.row_number().over(w_bm).cast("bigint"))
        .filter(F.col("rank") <= MRR_K)
    )
    expo = (
        top.join(d.select("doc_id", "source"), "doc_id")
        .selectExpr("source", f"{_EXPO_CASE} AS e6")
        .groupBy("source")
        .agg(F.sum("e6").cast("bigint").alias("e6"))
    )
    tot_e = expo.agg(F.sum("e6").cast("bigint").alias("te6"))
    src_n = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_src"))
    cshare = "(CAST(n_src AS DOUBLE) / n_docs)"
    eshare = "(CAST(coalesce(e6, 0) AS DOUBLE) / te6)"
    return (
        src_n.crossJoin(F.broadcast(corpus.select("n_docs")))
        .join(expo, "source", "left")
        .crossJoin(F.broadcast(tot_e))
        .selectExpr(
            "source",
            "n_src AS n_docs_source",
            mround(cshare, 6) + " AS corpus_share",
            mround(eshare, 6) + " AS exposure_share",
            mround(f"({eshare}) / ({cshare})", 6) + " AS disparity_ratio",
        )
    )


def _exposure_sql() -> str:
    cshare = "(CAST(n_src AS DOUBLE) / n_docs)"
    eshare = "(CAST(coalesce(e6, 0) AS DOUBLE) / te6)"
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
qterms AS (SELECT * FROM (VALUES {_bm25_query_values()}) AS v(query_id, tok)),
doclen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t2 GROUP BY doc_id),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM doclen),
qpost AS (
  SELECT tok, doc_id, count(*) AS tf FROM t2
  WHERE tok IN (SELECT DISTINCT tok FROM qterms)
  GROUP BY tok, doc_id),
qtok_stats AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS ctf
  FROM qpost GROUP BY tok),
bm_scored AS (
  SELECT doc_id, tok,
         CAST(floor((
           (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)
           * (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)
           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * n_docs / sum_dl))
         ) * 1000000 + 0.5) AS BIGINT) AS bm25_micro
  FROM qpost
  JOIN qtok_stats USING (tok)
  JOIN doclen USING (doc_id)
  CROSS JOIN corpus),
top AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, s.doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY sum(bm25_micro) DESC, s.doc_id ASC) AS BIGINT) AS rank
    FROM bm_scored s JOIN qterms USING (tok)
    GROUP BY query_id, s.doc_id) t WHERE rank <= {MRR_K}),
expo AS (
  SELECT d.source, CAST(sum({_EXPO_CASE}) AS BIGINT) AS e6
  FROM top JOIN documents d USING (doc_id)
  GROUP BY d.source),
tot_e AS (SELECT CAST(sum(e6) AS BIGINT) AS te6 FROM expo),
src_n AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM documents
  GROUP BY source)
SELECT source,
       n_src AS n_docs_source,
       {mround(cshare, 6)} AS corpus_share,
       {mround(eshare, 6)} AS exposure_share,
       {mround(f"({eshare}) / ({cshare})", 6)} AS disparity_ratio
FROM src_n
CROSS JOIN corpus
LEFT JOIN expo USING (source)
CROSS JOIN tot_e
"""


QUERIES["eval_exposure_fairness"] = QuerySpec(
    eval_exposure_fairness, _exposure_sql(), "eval"
)
