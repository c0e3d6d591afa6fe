"""Text-analysis operators over the documents table (north-star
extension: SURVEY.md §7.8 / BASELINE.json north_star).

All hot-path logic is built-in Catalyst expressions (split, regexp,
md5, higher-order functions) — no Python in the row path except the
explicitly-marked mapInPandas multimodal stub, which demonstrates the
Arrow-batched plumbing for binary columns.

Scale notes: every query is a single scan + hash aggregate; token
explodes are bounded by document length; nothing collects to the
driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fabric_claims_spark.caching import tracked_cache
from fabric_claims_spark.localframe import local_frame
from fabric_claims_spark.queries import query
from fabric_claims_spark.sources.parquet import load_table

# Token pattern shared by both engines (text is space-separated).
_WS = r"\s+"


def _token_count() -> F.Column:
    t = F.trim(F.col("text"))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, _WS))
    ).cast("long")


_TOKEN_COUNT_SQL = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
)


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content (extension op; exact variant of
# the reference's key-dedup A4, NB_SILVER:204-207).
@query(
    "docs_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
           COUNT(*) AS copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").cast("long").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("copies"),
    )


# --------------------------------------------------------------------------
# Token counting (whitespace tokenizer) aggregated per language.
@query(
    "docs_token_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM({_TOKEN_COUNT_SQL}) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM({_TOKEN_COUNT_SQL}) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc
    FROM documents
    GROUP BY lang
    """,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(_token_count()).cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum(_token_count()).cast("double") / F.count(F.lit(1))).alias(
            "avg_tokens_per_doc"
        ),
    )


# --------------------------------------------------------------------------
# BPE-ish token estimate: word pieces (<=4 chars) + digit runs +
# punctuation islands — a deterministic tokenizer-cost proxy
# (extensions/text.bpe_ish_token_count).
@query(
    "docs_bpe_token_estimate",
    oracle="""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\\s]')) )
                AS BIGINT) AS bpe_ish_tokens,
           COUNT(*) AS docs
    FROM documents GROUP BY source
    """,
)
def docs_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = F.regexp_count("text", F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]"))
    return d.groupBy("source").agg(
        F.sum(tok).cast("long").alias("bpe_ish_tokens"),
        F.count(F.lit(1)).alias("docs"),
    )


# --------------------------------------------------------------------------
# Quality scoring: length / alpha-ratio / whitespace-ratio / stopword
# presence, per document (heuristic quality filter for training data).
@query(
    "docs_quality_score",
    oracle=f"""
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS char_len,
      CAST({_TOKEN_COUNT_SQL} AS BIGINT) AS token_count,
      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        / length(text) AS alpha_ratio,
      CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
        / length(text) AS space_ratio,
      CAST(len(regexp_extract_all(text, '\\bthe\\b')) AS BIGINT) AS stopword_hits,
      CASE WHEN length(text) >= 100
            AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                / length(text) > 0.5
           THEN 'keep' ELSE 'filter' END AS quality_flag
    FROM documents
    WHERE length(text) > 0
    """,
)
def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
        / F.length("text")
    )
    space_ratio = (
        F.length(F.regexp_replace("text", "[^ ]", "")).cast("double")
        / F.length("text")
    )
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("char_len"),
        _token_count().alias("token_count"),
        alpha_ratio.alias("alpha_ratio"),
        space_ratio.alias("space_ratio"),
        F.regexp_count("text", F.lit(r"\bthe\b")).cast("long").alias("stopword_hits"),
        F.when((F.length("text") >= 100) & (alpha_ratio > 0.5), "keep")
        .otherwise("filter")
        .alias("quality_flag"),
    )


# --------------------------------------------------------------------------
# Language-ID heuristic: stopword-marker counts per language with a
# fixed-precedence argmax (n-gram/stopword heuristic; the synthetic
# corpus is English-vocabulary so 'en' dominates — the machinery, not
# the labels, is under test).
_MARKERS = {
    "en": r"\b(the|a|and|of)\b",
    "de": r"\b(der|die|das|und)\b",
    "es": r"\b(el|la|los|que)\b",
}


@query(
    "docs_langid_stopwords",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
        CAST(len(regexp_extract_all(text, '{_MARKERS["en"]}')) AS BIGINT) AS score_en,
        CAST(len(regexp_extract_all(text, '{_MARKERS["de"]}')) AS BIGINT) AS score_de,
        CAST(len(regexp_extract_all(text, '{_MARKERS["es"]}')) AS BIGINT) AS score_es
      FROM documents)
    SELECT doc_id, lang AS labeled_lang, score_en, score_de, score_es,
      CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en > 0 THEN 'en'
           WHEN score_de >= score_es AND score_de > 0 THEN 'de'
           WHEN score_es > 0 THEN 'es'
           ELSE 'unknown' END AS predicted_lang
    FROM scored
    """,
)
def docs_langid_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scores = {
        k: F.regexp_count("text", F.lit(p)).cast("long") for k, p in _MARKERS.items()
    }
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["es"].alias("score_es"),
    )
    en, de, es = F.col("score_en"), F.col("score_de"), F.col("score_es")
    return scored.withColumn(
        "predicted_lang",
        F.when((en >= de) & (en >= es) & (en > 0), "en")
        .when((de >= es) & (de > 0), "de")
        .when(es > 0, "es")
        .otherwise("unknown"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting: content hash over normalized text (rolling
# -hash winnowing's cheap cousin; stable under whitespace/punct noise).
@query(
    "docs_fingerprint",
    oracle="""
    SELECT source,
           CAST(COUNT(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))
                AS BIGINT) AS distinct_fingerprints,
           COUNT(*) AS docs
    FROM documents
    GROUP BY source
    """,
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.text import normalized_fingerprint

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.countDistinct(normalized_fingerprint(F.col("text"))).alias(
            "distinct_fingerprints"
        ),
        F.count(F.lit(1)).alias("docs"),
    )


# --------------------------------------------------------------------------
# Token-set Jaccard near-dup within (lang, source) corpus slices, via
# PPJoin-style prefix filtering: each doc contributes only its
# (|T| - ⌈τ|T|⌉ + 1) globally-RAREST tokens as candidate keys; any
# pair with J ≥ τ provably shares a prefix token (Xiao et al., prefix
# filter). The candidate join is keyed on (lang, source, rare-token)
# — cardinality grows with the corpus instead of being pinned at
# ~|langs|×|sources|, which is what makes this shape survive 100 TB
# where a plain (lang, source) block self-join goes quadratic inside
# giant blocks. Candidates then verify exact Jaccard (size-ratio
# pruned). Lossless: the result — every same-slice pair with J ≥ 0.8
# — is unchanged, so the oracle stays the straightforward blocked SQL.
@query(
    "docs_jaccard_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source,
             list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
      FROM documents WHERE length(trim(text)) > 0)
    SELECT * FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
               AS jaccard
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.8
    """,
)
def docs_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.operators.partitioning import spread

    d = spread(
        load_table(spark, sf_dir, "documents").where(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    t = d.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split(F.trim(F.col("text")), _WS)).alias("toks"),
    ).withColumn("n", F.size("toks"))
    # feeds prefix generation AND pair verification; tracked so
    # library callers release it via caching.scoped_caches()
    t = tracked_cache(t)

    # global token rarity, computed as a count-over-partition window on
    # the SAME exploded frame that feeds the rank below — one shuffle
    # on tok, straight into the doc_id rank shuffle. (The agg+join
    # form pays an extra full pass: groupBy shuffle, then the exploded
    # frame shuffles AGAIN on tok for the join. Skew parity: a hot
    # token loads one window partition exactly as it loads one join
    # partition; the df-rank prefix then discards it either way.)
    tok = t.select("doc_id", "lang", "source", "n", F.explode("toks").alias("tok"))
    w_df = Window.partitionBy("tok")

    # rank each doc's tokens rarest-first; keep the prefix. Prefix
    # length uses integer arithmetic: ⌈0.8n⌉ = (4n+4) div 5 — a float
    # ceil(0.8*n) rounds UP on exact multiples (0.8*5 → 4.0000…02),
    # shortening the prefix and silently dropping true pairs.
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        tok.withColumn("df", F.count(F.lit(1)).over(w_df))
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= F.col("n") - ((F.col("n") * 4 + 4) / 5).cast("long") + 1)
        .select("doc_id", "lang", "source", "n", "tok")
    )

    # candidates: prefix-to-prefix join on (slice, rare token). The
    # J >= τ ⇒ min(n)/max(n) >= τ size bound rides IN the join
    # condition (prefix rows carry n) — result-identical to the
    # post-join filter below, but the violating pairs never reach
    # the distinct (sf0.1: 155k -> 126k candidate pairs).
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.lang") == F.col("pb.lang"))
            & (F.col("pa.source") == F.col("pb.source"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (F.col("pa.n") * 10 >= F.col("pb.n") * 8)
            & (F.col("pb.n") * 10 >= F.col("pa.n") * 8),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )

    # exact verification on candidates only
    ta = t.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("na"),
    )
    tb = t.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    # Size prefilter: J ≥ τ ⇒ min(n)/max(n) ≥ τ — prunes before the
    # O(|A|+|B|) intersect; result-identical.
    size_ok = (F.col("na") * 10 >= F.col("nb") * 8) & (
        F.col("nb") * 10 >= F.col("na") * 8
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(size_ok)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.8)
    )


# --------------------------------------------------------------------------
# Context-window chunking: split every document into fixed token
# windows with overlap (chunk 32, stride 24 → 8-token overlap) — the
# standard pre-training/RAG preprocessing step that turns variable-
# length documents into model-sized pieces. Pure Catalyst: sequence()
# generates chunk starts, posexplode fans them out, slice() cuts the
# token array — no UDF, no shuffle at all (narrow map over the scan).
_CHUNK = 32
_STRIDE = 24


@query(
    "docs_chunk_split",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    ch AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks), {_STRIDE})) AS chunk_start
      FROM t)
    SELECT doc_id,
           CAST((chunk_start - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(len(list_slice(toks, chunk_start,
                               least(chunk_start + {_CHUNK} - 1, len(toks))))
                AS BIGINT) AS chunk_tokens,
           array_to_string(list_slice(toks, chunk_start,
                                      least(chunk_start + {_CHUNK} - 1, len(toks))),
                           ' ') AS chunk_text
    FROM ch
    """,
)
def docs_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = d.select(
        "doc_id", F.split(F.trim(F.col("text")), _WS).alias("toks")
    ).withColumn("n", F.size("toks"))
    ch = t.select(
        "doc_id",
        "toks",
        F.posexplode(F.sequence(F.lit(1), F.col("n"), F.lit(_STRIDE))).alias(
            "chunk_idx", "chunk_start"
        ),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_start"), _CHUNK)
    return ch.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# Sequence packing: assign every document a (pack_id, pack_offset) in
# the concatenated token stream cut at a fixed context budget — the
# batch-shaping step that turns a shuffled corpus into fixed-size
# training sequences. The global running sum is computed scale-safely:
# per-shard window cumsum + a cumsum over the (tiny, shard-count-row)
# shard-totals frame broadcast back — the classic two-phase prefix
# sum, NOT a single-partition global window (which would serialize
# 100 TB through one task).
_PACK_BUDGET = 256
_PACK_SHARD = 512


@query(
    "docs_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST({_TOKEN_COUNT_SQL} AS BIGINT) AS tokens
      FROM documents),
    c AS (
      SELECT doc_id, tokens,
             CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM t)
    SELECT doc_id, tokens,
           CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS pack_offset,
           CAST((cum_before + greatest(tokens, 1) - 1) // {_PACK_BUDGET}
                > cum_before // {_PACK_BUDGET} AS BIGINT) AS spans_packs
    FROM c
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", _token_count().alias("tokens")
    ).withColumn("shard", F.floor(F.col("doc_id") / _PACK_SHARD).cast("long"))

    # phase 1: cumsum within each shard (parallel, bounded partitions)
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("cum_in", F.coalesce(F.sum("tokens").over(w_in), F.lit(0)))

    # phase 2: shard offsets — one row per shard (corpus/512 rows), so
    # the unpartitioned window is over a provably tiny frame, then
    # broadcast back (no shuffle of the doc-sized side).
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        t.groupBy("shard")
        .agg(F.sum("tokens").alias("shard_tokens"))
        .withColumn(
            "shard_offset", F.coalesce(F.sum("shard_tokens").over(w_sh), F.lit(0))
        )
        .select("shard", "shard_offset")
    )

    cum_before = F.col("shard_offset") + F.col("cum_in")
    pack_id = F.floor(cum_before / _PACK_BUDGET).cast("long")
    end_pack = F.floor(
        (cum_before + F.greatest(F.col("tokens"), F.lit(1)) - 1) / _PACK_BUDGET
    ).cast("long")
    return (
        t.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "tokens",
            pack_id.alias("pack_id"),
            (cum_before % _PACK_BUDGET).cast("long").alias("pack_offset"),
            (end_pack > pack_id).cast("long").alias("spans_packs"),
        )
    )


# --------------------------------------------------------------------------
# Multimodal plumbing: treat text bytes as an opaque binary payload and
# run an Arrow-batched mapInPandas "decode" (the real image/audio
# decode is environment-gated — extensions/multimodal.py; here the
# deterministic byte-length metadata keeps the oracle checkable).
@query(
    "multimodal_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           'stub-decoder-v1' AS decoder
    FROM documents
    """,
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_bytes": pdf["payload"].map(len).astype("int64"),
                    "decoder": "stub-decoder-v1",
                }
            )

    return d.mapInPandas(
        decode_batches, schema="doc_id long, payload_bytes long, decoder string"
    )


# --------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson-Sparck Jones Okapi weighting) for a
# fixed query over the corpus — the retrieval op of an LLM data
# pipeline (sampling the most query-relevant documents at scale).
# Shape: ONE aggregate pass computes corpus stats (N, avgdl, per-term
# document frequencies), then a single projection scores every doc and
# TakeOrderedAndProject keeps the top k — no shuffle beyond the stats
# agg, no per-term joins (terms are pivoted into fixed columns).
#
# Cross-engine determinism: idf uses ln(), which differs by 1 ulp
# between the JVM and libm (measured: ln(3.0)) — idf is snapped to
# 6 dp in both engines, same as the cosine queries. Every other score
# op is IEEE arithmetic written in the identical order on both sides;
# sums of token counts are exact-integer doubles, so the stats are
# order-independent. Score ties at the k boundary break on doc_id.
_BM25_TERMS = ["spark", "window", "merge"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 20


def _bm25_oracle() -> str:
    k1, b, k = _BM25_K1, _BM25_B, _BM25_K
    dfs = ",\n             ".join(
        f"SUM(CAST(len(regexp_extract_all(t, '\\b{term}\\b')) > 0 AS BIGINT))"
        f" AS df_{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    idfs = ",\n             ".join(
        f"ROUND(ln((n - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0), 6) AS idf_{i}"
        for i in range(len(_BM25_TERMS))
    )
    tfs = ",\n             ".join(
        f"CAST(len(regexp_extract_all(d.t, '\\b{term}\\b')) AS DOUBLE) AS tf_{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    score = " + ".join(
        f"idf_{i} * (tf_{i} * {k1 + 1.0!r} / (tf_{i} + {k1!r} * "
        f"({1.0 - b!r} + {b!r} * dl / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    tf_out = ", ".join(
        f"CAST(tf_{i} AS BIGINT) AS tf_{term}"
        for i, term in enumerate(_BM25_TERMS)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS t,
             CAST({_TOKEN_COUNT_SQL} AS DOUBLE) AS dl
      FROM documents),
    stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {dfs}
      FROM d),
    idf AS (
      SELECT avgdl,
             {idfs}
      FROM stats),
    scored AS (
      SELECT d.doc_id, d.dl, idf.*,
             {tfs}
      FROM d CROSS JOIN idf)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, {tf_out},
           {score} AS bm25_score
    FROM scored
    ORDER BY bm25_score DESC, doc_id
    LIMIT {k}
    """


@query("docs_bm25_topk", oracle=_bm25_oracle())
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    k1, b = _BM25_K1, _BM25_B
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("t"),
        _token_count().cast("double").alias("dl"),
    )
    # one pass for corpus stats; scalars broadcast as literals
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum(
                (F.regexp_count("t", F.lit(rf"\b{term}\b")) > 0).cast("long")
            ).alias(f"df_{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    ).first()
    n = stats["n"]
    avgdl = stats["sdl"] / stats["n"]  # same IEEE division as the oracle

    tf_cols = [
        F.regexp_count("t", F.lit(rf"\b{term}\b")).cast("double").alias(f"tf_{i}")
        for i, term in enumerate(_BM25_TERMS)
    ]
    scored = d.select("doc_id", "dl", *tf_cols)

    norm = F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    score = None
    for i, term in enumerate(_BM25_TERMS):
        df_i = stats[f"df_{i}"]
        idf_i = F.round(
            F.log(F.lit((n - df_i + 0.5) / (df_i + 0.5) + 1.0)), 6
        )
        tfn = (F.col(f"tf_{i}") * F.lit(k1 + 1.0)) / (
            F.col(f"tf_{i}") + F.lit(k1) * norm
        )
        term_score = idf_i * tfn
        score = term_score if score is None else score + term_score

    return (
        scored.select(
            "doc_id",
            *[
                F.col(f"tf_{i}").cast("long").alias(f"tf_{term}")
                for i, term in enumerate(_BM25_TERMS)
            ],
            score.alias("bm25_score"),
        )
        .orderBy(F.col("bm25_score").desc(), "doc_id")
        .limit(_BM25_K)
    )

    # reference note: retrieval is an extension beyond lkv971/
    # fabric-claims (which has no text ops); it rounds out the LLM
    # data-pipeline suite next to dedup and quality scoring.


# --------------------------------------------------------------------------
# Deterministic train/val/test assignment: a stable hash of the doc id
# buckets every document into 100 cells; 80/10/10 cells map to splits.
# Hash-based (not random) so the assignment is reproducible across
# runs, engines, and re-partitioning — the property a training
# pipeline actually needs from its split step. Pure projection: no
# shuffle, no state.
@query(
    "docs_hash_split",
    oracle="""
    SELECT doc_id, lang, source,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100
                AS BIGINT) AS bucket,
           CASE
             WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 < 80
               THEN 'train'
             WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 < 90
               THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
)
def docs_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.dedup import md5_long

    d = load_table(spark, sf_dir, "documents")
    bucket = (md5_long(F.col("doc_id").cast("string")) % 100).cast("long")
    return d.select(
        "doc_id",
        "lang",
        "source",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# Deterministic corpus shuffle: a stable global training order (rank
# by content-independent hash) computed scale-safely. Ordering by a
# hash whose PREFIX is the shard key means (shard, hash) order equals
# global hash order — so rank = within-shard row_number + cumsum of
# shard counts, the same two-phase pattern as docs_pack_sequences: no
# single-partition window ever touches the doc-sized side.
@query(
    "docs_shuffle_order",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
           CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                AS BIGINT) AS position
    FROM documents
    """,
)
def docs_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    ).withColumn("shard", F.substring("h", 1, 2))

    w_in = Window.partitionBy("shard").orderBy("h", "doc_id")
    t = t.withColumn("rank_in_shard", F.row_number().over(w_in))

    # shard offsets: 256 rows max — the only partitionless window
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        t.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("offset", F.coalesce(F.sum("cnt").over(w_sh), F.lit(0)))
        .select("shard", "offset")
    )
    return (
        t.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "h",
            (F.col("offset") + F.col("rank_in_shard")).cast("long").alias("position"),
        )
    )


# --------------------------------------------------------------------------
# Repetition detection — the "repetitious text" quality filter
# (degenerate generations, boilerplate, keyword stuffing): distinct-
# token ratio, hottest-token share, hottest-bigram share. All exact
# integer ratios (single IEEE division per cell — deterministic).
# Scale shape: two explode→hash-aggregate passes keyed by doc, no
# joins wider than the doc's own tokens.
@query(
    "docs_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    tok AS (
      SELECT doc_id, unnest(toks) AS tok FROM t),
    top_tok AS (
      SELECT doc_id, MAX(c) AS top_token_count FROM (
        SELECT doc_id, COUNT(*) AS c FROM tok GROUP BY doc_id, tok)
      GROUP BY doc_id),
    bg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram FROM (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
        FROM t WHERE len(toks) >= 2)),
    top_bg AS (
      SELECT doc_id, MAX(c) AS top_bigram_count FROM (
        SELECT doc_id, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram)
      GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
             AS distinct_ratio,
           CAST(tt.top_token_count AS DOUBLE) / len(toks)
             AS top_token_share,
           CAST(COALESCE(tb.top_bigram_count, 0) AS DOUBLE)
             / greatest(len(toks) - 1, 1) AS top_bigram_share,
           CAST(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) < 0.3
                OR CAST(tt.top_token_count AS DOUBLE) / len(toks) > 0.2
                AS BIGINT) AS repetitive
    FROM t
    JOIN top_tok tt ON tt.doc_id = t.doc_id
    LEFT JOIN top_bg tb ON tb.doc_id = t.doc_id
    """,
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = d.select(
        "doc_id", F.split(F.trim(F.col("text")), _WS).alias("toks")
    ).withColumn("n", F.size("toks"))

    tok = t.select("doc_id", F.explode("toks").alias("tok"))
    top_tok = (
        tok.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_count"))
    )
    bigrams = t.where(F.col("n") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(2))),
            )
        ).alias("bigram"),
    )
    top_bg = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"))
    )
    distinct_ratio = F.size(F.array_distinct("toks")).cast("double") / F.col("n")
    top_token_share = F.col("top_token_count").cast("double") / F.col("n")
    top_bigram_share = F.coalesce(F.col("top_bigram_count"), F.lit(0)).cast(
        "double"
    ) / F.greatest(F.col("n") - 1, F.lit(1))
    return (
        t.join(top_tok, "doc_id")
        .join(top_bg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("tokens"),
            distinct_ratio.alias("distinct_ratio"),
            top_token_share.alias("top_token_share"),
            top_bigram_share.alias("top_bigram_share"),
            ((distinct_ratio < 0.3) | (top_token_share > 0.2))
            .cast("long")
            .alias("repetitive"),
        )
    )


# --------------------------------------------------------------------------
# Unigram language-model scoring — the KenLM-style fluency filter at
# its simplest: score every document by the mean corpus log-
# probability of its tokens (low score = off-distribution text).
# Determinism across engines: ln() differs by 1 ulp between the JVM
# and libm, and float summation is partition-order-dependent — so the
# per-token log is rounded to 6 dp, scaled to integer MICRO-units,
# and summed as exact longs; only the final mean is one IEEE
# division. Scale shape: corpus counts are one token-keyed aggregate
# computed as a count-over-partition window on the SAME exploded
# frame that feeds the per-doc mean (one shuffle on tok straight
# into the doc aggregate — the docs_jaccard_pairs pattern).
@query(
    "docs_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    tot AS (SELECT COUNT(*) AS total FROM tok),
    scored AS (
      SELECT doc_id,
             CAST(ROUND(ROUND(ln(CAST(COUNT(*) OVER (PARTITION BY tok) AS DOUBLE)
                                 / (SELECT total FROM tot)), 6) * 1000000, 0)
                  AS BIGINT) AS micro_log
      FROM tok)
    SELECT doc_id,
           COUNT(*) AS tokens,
           CAST(SUM(micro_log) AS DOUBLE) / (1000000.0 * COUNT(*))
             AS avg_logprob
    FROM scored
    GROUP BY doc_id
    """,
)
def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), _WS)).alias("tok"))
    total = tok.count()  # one scalar; broadcast as a literal
    w_tok = Window.partitionBy("tok")
    micro_log = F.round(
        F.round(
            F.log(F.count(F.lit(1)).over(w_tok).cast("double") / F.lit(float(total))),
            6,
        )
        * 1_000_000,
        0,
    ).cast("long")
    return (
        tok.withColumn("micro_log", micro_log)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("tokens"),
            (
                F.sum("micro_log").cast("double")
                / (F.lit(1_000_000.0) * F.count(F.lit(1)))
            ).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# Benchmark-contamination probe — decontamination's detection step:
# treat a small set of "evaluation" documents as probes, and find
# every corpus document sharing >= 2 word 8-grams with any probe (the
# standard n-gram-overlap contamination test). The probe side is a
# handful of documents, so its gram set broadcasts; the corpus side
# is one explode -> distinct per doc; the join is equi on the gram
# string. Probe docs match themselves — the built-in positive
# control.
_PROBE_DOC_IDS = [0, 7, 13]
_PROBE_GRAM = 8
_PROBE_MIN_SHARED = 2


@query(
    "docs_contamination_probe",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    dg AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(toks, i, i + {_PROBE_GRAM - 1}), ' ') AS gram
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - {_PROBE_GRAM - 1}, 1))) AS i
        FROM t)),
    probes AS (
      SELECT doc_id AS probe_doc_id, gram FROM dg
      WHERE doc_id IN ({", ".join(str(i) for i in _PROBE_DOC_IDS)}))
    SELECT d.doc_id, p.probe_doc_id,
           COUNT(*) AS shared_8grams
    FROM dg d JOIN probes p ON d.gram = p.gram
    GROUP BY d.doc_id, p.probe_doc_id
    HAVING COUNT(*) >= {_PROBE_MIN_SHARED}
    """,
)
def docs_contamination_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.dedup import word_shingles
    from fabric_claims_spark.operators.partitioning import spread

    d = spread(
        load_table(spark, sf_dir, "documents").where(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    dg = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), _PROBE_GRAM))
        ).alias("gram"),
    )
    probes = dg.where(F.col("doc_id").isin(_PROBE_DOC_IDS)).select(
        F.col("doc_id").alias("probe_doc_id"), "gram"
    )
    return (
        dg.join(F.broadcast(probes), "gram")
        .groupBy("doc_id", "probe_doc_id")
        .agg(F.count(F.lit(1)).alias("shared_8grams"))
        .where(F.col("shared_8grams") >= _PROBE_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# Token-distribution entropy per language (nats) — a corpus-diversity
# diagnostic. Uses the identity H = ln(T) - (Σ c·ln(c))/T so ln is
# only ever taken of INTEGER counts (values both engines share
# bit-exactly); each ln is rounded to 6 dp and scaled to a micro-nat
# integer (the docs_unigram_logprob pattern), so the weighted sum is
# exact int64 arithmetic and the final entropy is one deterministic
# double chain. Two hash aggregates — (lang, token) then lang — with
# map-side partial aggregation absorbing the 5-key lang skew.
@query(
    "docs_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    c AS (SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
    SELECT lang,
           COUNT(*) AS distinct_tokens,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           ROUND(ROUND(ln(CAST(SUM(c) AS DOUBLE)), 6)
                 - CAST(SUM(CAST(ROUND(ROUND(ln(CAST(c AS DOUBLE)), 6)
                                       * 1000000, 0) AS BIGINT) * c)
                        AS DOUBLE)
                   / (1000000.0 * SUM(c)), 6) AS entropy_nats
    FROM c
    GROUP BY lang
    """,
)
def docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = d.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), _WS)).alias("tok")
    )
    c = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    micro_ln = F.round(
        F.round(F.log(F.col("c").cast("double")), 6) * 1_000_000, 0
    ).cast("long")
    return (
        c.select("lang", "c", (micro_ln * F.col("c")).alias("wln"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.sum("c").cast("long").alias("total_tokens"),
            F.round(
                F.round(F.log(F.sum("c").cast("double")), 6)
                - F.sum("wln").cast("double")
                / (F.lit(1_000_000.0) * F.sum("c")),
                6,
            ).alias("entropy_nats"),
        )
    )


# --------------------------------------------------------------------------
# Per-document TF-IDF top terms — keyword extraction, the classic
# "what is this document about" projection of a corpus. Expressed as
# tf · (ln N − ln df) so ln is only ever taken of INTEGER counts
# (the docs_token_entropy / docs_unigram_logprob micro-nat pattern:
# each ln rounds to 6 dp and scales to an int64 micro-nat, so the
# score is exact integer arithmetic until one final IEEE division).
# Scale shape: explode → two hash aggregates; the document-frequency
# table is vocabulary-sized (bounded, broadcast); the top-3 window
# partitions by doc_id with per-partition rows bounded by per-doc
# vocabulary — nothing global, nothing skewed.
@query(
    "docs_tfidf_topterms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    sc AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(CAST(tf.tf *
                 (CAST(ROUND(ROUND(ln(CAST(n.n_docs AS DOUBLE)), 6)
                             * 1000000, 0) AS BIGINT)
                  - CAST(ROUND(ROUND(ln(CAST(df.df AS DOUBLE)), 6)
                               * 1000000, 0) AS BIGINT))
                 AS DOUBLE) / 1000000.0, 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (
      SELECT doc_id, term, tf, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS term_rank
      FROM sc)
    SELECT doc_id, term_rank, term, tf, tfidf FROM r WHERE term_rank <= 3
    """,
)
def docs_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), _WS)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))

    def micro_ln(c: F.Column) -> F.Column:
        return F.round(
            F.round(F.log(c.cast("double")), 6) * 1_000_000, 0
        ).cast("long")

    sc = (
        tf.join(F.broadcast(dfr), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                (
                    F.col("tf")
                    * (micro_ln(F.col("n_docs")) - micro_ln(F.col("df")))
                ).cast("double")
                / 1_000_000.0,
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        sc.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= 3)
        .select("doc_id", "term_rank", "term", "tf", "tfidf")
    )


# --------------------------------------------------------------------------
# PII redaction — the scrub pass a corpus takes before it ships
# (extensions/text.redact_pii). The driver corpus is synthetic word
# salad with no contact info, so redacting it would exercise nothing;
# instead the query BUILDS deterministic contact strings from the
# customer table (name → email local part, custkey → phone suffix) in
# both engines, redacts them, and aggregates per market segment — the
# regex semantics, the masking, and the audit counts all hash-check.
# Scale shape: one projection chain (regexp_replace ×2 + regexp_count
# ×2, whole-stage codegen) and one hash aggregate over a 5-value key.
@query(
    "customers_pii_redaction",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment,
             c_name || ' <' || lower(replace(c_name, '#', '.'))
               || '@example.com> phone 555-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
      FROM customer),
    r AS (
      SELECT c_mktsegment, contact,
             regexp_replace(
               regexp_replace(contact, '[a-z0-9.]+@[a-z]+[.][a-z]+',
                              '[EMAIL]', 'g'),
               '555-[0-9][0-9][0-9][0-9]', '[PHONE]', 'g') AS redacted,
             CAST(length(regexp_extract_all(contact,
                    '[a-z0-9.]+@[a-z]+[.][a-z]+')) AS BIGINT) AS emails,
             CAST(length(regexp_extract_all(contact,
                    '555-[0-9][0-9][0-9][0-9]')) AS BIGINT) AS phones
      FROM c)
    SELECT c_mktsegment,
           COUNT(*) AS customers,
           CAST(SUM(emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(length(contact) - length(redacted)) AS BIGINT)
             AS chars_removed,
           MIN(redacted) AS sample_redacted
    FROM r GROUP BY 1
    """,
)
def customers_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.text import (
        PII_PATTERNS,
        pii_hits,
        redact_pii,
    )

    cust = load_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com> phone 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    r = cust.select(
        "c_mktsegment",
        contact.alias("contact"),
        redact_pii(contact).alias("redacted"),
        pii_hits(contact, PII_PATTERNS["email"]).alias("emails"),
        pii_hits(contact, PII_PATTERNS["phone"]).alias("phones"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("customers"),
        F.sum("emails").cast("long").alias("emails_redacted"),
        F.sum("phones").cast("long").alias("phones_redacted"),
        F.sum(F.length("contact") - F.length("redacted"))
        .cast("long")
        .alias("chars_removed"),
        F.min("redacted").alias("sample_redacted"),
    )


# --------------------------------------------------------------------------
# Inverted-index construction — per-term posting lists (the data
# structure behind the BM25 retrieval query, materialized as an
# operator in its own right). One explode → distinct → per-term
# sorted aggregate; posting lists surface as comma-joined strings so
# the gate canonicalizer hash-checks the exact doc ordering. Scale
# shape: one shuffle on the term key with map-side partial
# aggregation; per-term list size is the document frequency, and the
# df cap bounds the hottest (stopword) postings the way the LSH
# bucket_cap bounds hot buckets — a capped engine would page real
# postings to secondary structures instead.
_POSTINGS_MAX_DF = 400


@query(
    "docs_posting_lists",
    oracle=f"""
    WITH td AS (
      SELECT DISTINCT tok AS term, doc_id
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents WHERE length(trim(text)) > 0)),
    pl AS (
      SELECT term, COUNT(*) AS df,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings
      FROM td GROUP BY 1)
    SELECT term, df, postings FROM pl WHERE df <= {_POSTINGS_MAX_DF}
    """,
)
def docs_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    td = (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), _WS)).alias("term"),
        )
        .distinct()
    )
    # count-filter-THEN-collect (skew playbook): collecting postings
    # before the df cap would buffer a viral stopword's full
    # occurrence list in the aggregation just to discard it. The df
    # count partial-aggregates (hot term → one partial row per map
    # task); the cap filter then guarantees every list that reaches
    # collect_list is bounded by _POSTINGS_MAX_DF elements.
    keep = (
        td.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _POSTINGS_MAX_DF)
    )
    pl = (
        td.join(keep, "term")
        .groupBy("term", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return pl.select("term", "df", "postings")


# --------------------------------------------------------------------------
# Span-level duplication fraction — for every document, what share of
# its distinct word 8-grams appears in at least one OTHER document
# (the per-doc signal behind exact-substring train-set dedup, Lee et
# al., "Deduplicating Training Data Makes Language Models Better",
# ACL'22 — rendered Spark-shaped: no suffix array, one gram-keyed
# window). Purely linear: explode distinct 8-grams, count gram
# occurrences with a window over the 60-bit md5 gram key (hashing
# shrinks the shuffle payload from gram text to one int64; both
# engines hash identically so the oracle stays exact), then one
# per-doc aggregate. No pair space at all — this is the dedup METRIC,
# while minhash/jaccard/winnow produce the pairs.
@query(
    "docs_dup_span_fraction",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    dg AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(
                list_slice(toks, i, i + 7), ' ')), 1, 15))::BIGINT AS g
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i
        FROM t)),
    df AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS df FROM dg)
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_grams,
           ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_fraction
    FROM df GROUP BY doc_id
    """,
)
def docs_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.dedup import word_shingles
    from fabric_claims_spark.operators.partitioning import spread

    d = spread(
        load_table(spark, sf_dir, "documents").where(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    dg = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), 8))).alias(
            "gram"
        ),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10)
        .cast("long")
        .alias("g"),
    )
    # SKEW PLAYBOOK (degenerate corpus: one viral 8-gram in every
    # doc): a gram-keyed WINDOW ships every occurrence of the hot
    # gram to ONE task, MATERIALIZES the whole key group in the task
    # buffer (WindowExec; OOM/spill at scale), and its semantics
    # forbid splitting. The grouped form streams: df is a grouped
    # aggregate joined back to the gram stream — O(1) per-row memory,
    # and the join is skew-splittable. The explicit repartition on g
    # is the one shuffle BOTH consumers (the df aggregate and the
    # join's left side) consume is the MATERIALIZED gram stream —
    # column pruning gives the two consumers different exchange
    # shapes, so a bare shared lineage re-executes the
    # scan+explode+hash pipeline per consumer (measured 2x the query
    # cost); localCheckpoint runs it once (the clean_corpus label
    # precedent; at cluster scale swap in reliable checkpoint /
    # a gram table write, the Lee et al. pipeline's own shape).
    # Plan pinned by tests/test_plans.py; degenerate-corpus numbers
    # in SCALING.md (round 6).
    dgp = dg.localCheckpoint(eager=False)
    gstats = dgp.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    dfed = dgp.join(gstats, "g").select("doc_id", "df")
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return dfed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        dup.cast("long").alias("dup_grams"),
        F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias(
            "dup_fraction"
        ),
    )


# --------------------------------------------------------------------------
# Multimodal feature extraction (gate twin of
# extensions/multimodal.py:extract_features): payload → deterministic
# unit-norm embedding, here emitted as exact INTEGER micro-units so
# the DuckDB oracle can replicate the arithmetic bit-for-bit:
# components are hash-slice/2^32 − 0.5 (exact binary64), the norm is
# the same left-to-right sum of squares in both engines, and
# floor(x/norm·1e6) is unambiguous — no fractional rounding mode in
# play anywhere.
_MMF_DIM = 8


def _mmfeat_oracle() -> str:
    comps = ",\n           ".join(
        f"(('0x' || substr(hx, {((4 * i) % 29) * 2 + 1}, 8))::BIGINT"
        f" / 4294967296.0 - 0.5) AS r{i}"
        for i in range(_MMF_DIM)
    )
    sumsq = " + ".join(f"r{i}*r{i}" for i in range(_MMF_DIM))
    micros = ", ".join(
        f"CAST(FLOOR(r{i}/(CASE WHEN nrm = 0 THEN 1 ELSE nrm END)*1000000) AS BIGINT)" for i in range(_MMF_DIM)
    )
    return f"""
    WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents),
    r AS (SELECT doc_id,
           {comps}
          FROM h),
    n AS (SELECT *, sqrt({sumsq}) AS nrm FROM r)
    SELECT doc_id, concat_ws(',', {micros}) AS emb_micro FROM n
    """


@query("multimodal_feature_extract", oracle=_mmfeat_oracle())
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads — the
    gate-checkable form of extensions.multimodal.extract_features
    (same derivation; micro-unit output because the driver compare
    cannot hash float arrays)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        for pdf in batches:
            embs = []
            for payload in pdf["payload"]:
                h = hashlib.sha256(bytes(payload)).digest()
                # %29 (prime): all _MMF_DIM windows distinct — see
                # extensions/multimodal.extract_features
                raw = [
                    int.from_bytes(h[(4 * i) % 29 : (4 * i) % 29 + 4], "big")
                    / 2**32
                    - 0.5
                    for i in range(_MMF_DIM)
                ]
                nrm = math.sqrt(sum(x * x for x in raw)) or 1.0
                embs.append(
                    ",".join(
                        str(math.floor(x / nrm * 1000000)) for x in raw
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "emb_micro": embs})

    return d.mapInPandas(feat, schema="doc_id long, emb_micro string")


# --------------------------------------------------------------------------
# Corpus drift — Jensen–Shannon divergence of each source's term
# distribution against the REST of the corpus: the mixture-health
# diagnostic a training pipeline runs when deciding whether a source
# has drifted from (or duplicates) the blend it feeds
# (docs_mixture_weights' distributional complement).
#
# Absent-term closed form: a term missing from the source contributes
# 0.5·q·ln2 to JS (p = 0 ⇒ m = q/2), so summing 0.5·ln2·Q(absent) in
# one exact-integer expression avoids materializing the full
# |sources| × |vocab| grid — only (source, present-term) rows exist.
# Determinism follows docs_unigram_logprob's convention: each
# per-term contribution is ln-rounded and summed as integer
# nano-nats (partition-order independent); the absent-mass remainder
# is exact-integer counts with two IEEE ops and a literal ln 2.
#
# Scale notes (100 TB): two hash aggregates over the token stream
# (per-(source, term) and per-term) joined on term — co-partitioned,
# map-side combined; output is |sources| rows. No windows, no grids,
# no driver state beyond the one corpus-total scalar.
_LN2 = 0.6931471805599453


@query(
    "docs_source_js_drift",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    st AS (SELECT source, tok, COUNT(*) AS cs FROM tok GROUP BY 1, 2),
    ts AS (SELECT source, SUM(cs) AS t_s FROM st GROUP BY 1),
    ct AS (SELECT tok, SUM(cs) AS c FROM st GROUP BY 1),
    tot AS (SELECT SUM(cs) AS t FROM st),
    scored AS (
      SELECT st.source,
             st.cs, ct.c - st.cs AS qn, ts.t_s, tot.t - ts.t_s AS qd,
             CAST(ROUND(ROUND(
               0.5 * (st.cs * 1.0 / ts.t_s)
                   * ln((st.cs * 1.0 / ts.t_s)
                        / ((st.cs * 1.0 / ts.t_s)
                           + ((ct.c - st.cs) * 1.0 / (tot.t - ts.t_s))) * 2)
               + CASE WHEN ct.c - st.cs > 0 THEN
                   0.5 * ((ct.c - st.cs) * 1.0 / (tot.t - ts.t_s))
                       * ln(((ct.c - st.cs) * 1.0 / (tot.t - ts.t_s))
                            / ((st.cs * 1.0 / ts.t_s)
                               + ((ct.c - st.cs) * 1.0 / (tot.t - ts.t_s))) * 2)
                 ELSE 0 END, 9) * 1000000000, 0) AS BIGINT) AS nano
      FROM st JOIN ts USING (source) JOIN ct USING (tok) CROSS JOIN tot)
    SELECT source,
           CAST(MAX(t_s) AS BIGINT) AS source_tokens,
           ROUND(CAST(SUM(nano) AS DOUBLE) / 1000000000.0
                 + 0.5 * {_LN2!r}
                   * (MAX(qd) - SUM(qn)) * 1.0 / MAX(qd), 6)
             AS js_divergence
    FROM scored GROUP BY source ORDER BY source
    """,
)
def docs_source_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = d.select(
        "source", F.explode(F.split(F.trim(F.col("text")), _WS)).alias("tok")
    )
    st = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cs"))
    ts = st.groupBy("source").agg(F.sum("cs").alias("t_s"))
    ct = st.groupBy("tok").agg(F.sum("cs").alias("c"))
    t = int(st.agg(F.sum("cs")).collect()[0][0])  # one corpus scalar

    j = st.join(ts, "source").join(ct, "tok")
    p = F.col("cs") * 1.0 / F.col("t_s")
    qn = F.col("c") - F.col("cs")
    qd = F.lit(t) - F.col("t_s")
    q = qn * 1.0 / qd
    two_m_inv = (p + q)  # contributions use ln(x / m) = ln(x/(p+q) * 2)
    contrib = 0.5 * p * F.log(p / two_m_inv * 2) + F.when(
        qn > 0, 0.5 * q * F.log(q / two_m_inv * 2)
    ).otherwise(0.0)
    nano = F.round(F.round(contrib, 9) * 1_000_000_000, 0).cast("long")
    return (
        j.select("source", "t_s", qn.alias("qn"), qd.alias("qd"), nano.alias("nano"))
        .groupBy("source")
        .agg(
            F.max("t_s").cast("long").alias("source_tokens"),
            F.round(
                F.sum("nano").cast("double") / F.lit(1e9)
                + 0.5
                * F.lit(_LN2)
                * (F.max("qd") - F.sum("qn"))
                * 1.0
                / F.max("qd"),
                6,
            ).alias("js_divergence"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Zipf power-law fit over the corpus token frequencies — the sanity
# check that a text corpus looks like natural language (ln f ≈ a −
# s·ln r with s near 1; synthetic or template-heavy corpora bend the
# line). OLS on (ln rank, ln freq) of the top-K vocabulary.
# Determinism: each ln rounds to 5 dp and scales to an int64 (1e5
# units — chosen so n·Σxy stays far inside int64 even at
# 100-TB-corpus frequencies, unlike the 1e6 micro-nat scale used for
# per-row sums elsewhere); every Σ is an exact integer sum, and slope
# and intercept are each one closed-form double expression. The rank
# window orders the vocabulary frame — bounded by the token domain,
# not corpus size (posting-lists precedent).
_ZIPF_K = 500


@query(
    "docs_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    vocab AS (
      SELECT tok, COUNT(*) AS freq FROM tok GROUP BY 1),
    ranked AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS r
      FROM vocab QUALIFY r <= {_ZIPF_K}),
    pts AS (
      SELECT CAST(ROUND(ROUND(ln(CAST(r AS DOUBLE)), 5) * 100000, 0)
                  AS BIGINT) AS x,
             CAST(ROUND(ROUND(ln(CAST(freq AS DOUBLE)), 5) * 100000, 0)
                  AS BIGINT) AS y
      FROM ranked),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts)
    SELECT n AS n_tokens,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (n * sxx - sx * sx) AS zipf_slope,
           (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx)) * sx)
             / (n * 100000.0) AS intercept_ln_freq
    FROM s
    """,
)
def docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    vocab = (
        d.select(F.explode(F.split(F.trim(F.col("text")), _WS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = (
        vocab.withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.desc("freq"), "tok")),
        )
        .where(F.col("r") <= _ZIPF_K)
    )

    def scaled_ln(c):
        return F.round(F.round(F.log(c.cast("double")), 5) * 100000, 0).cast(
            "long"
        )

    pts = ranked.select(
        scaled_ln(F.col("r")).alias("x"), scaled_ln(F.col("freq")).alias("y")
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return s.select(
        F.col("n").alias("n_tokens"),
        slope.alias("zipf_slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / (F.col("n") * 100000.0)
        ).alias("intercept_ln_freq"),
    )


# --------------------------------------------------------------------------
# PMI word-association pairs — pointwise mutual information over
# document-level co-occurrence, the classic collocation/association
# miner. The quadratic blowup is controlled the way a 100-TB corpus
# needs: pairs are generated only WITHIN the top-V df-ranked
# vocabulary (V=150, so ≤ C(150,2) pairs per doc regardless of doc
# length), via the in-expression sorted-array combination trick
# (basket_brand_pairs pattern) — no token-level self-join. PMI itself
# is one closed-form ln per surviving pair.
_PMI_VOCAB = 150
_PMI_MIN_PAIR = 5


@query(
    "docs_pmi_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
    n AS (SELECT COUNT(*) AS nd FROM d),
    tok AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM d),
    df AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY 1),
    vocab AS (
      SELECT tok, df FROM (
        SELECT tok, df,
               ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS r
        FROM df)
      WHERE r <= {_PMI_VOCAB}),
    vt AS (SELECT t.doc_id, t.tok FROM tok t JOIN vocab v ON t.tok = v.tok),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS both_docs
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_PMI_MIN_PAIR})
    SELECT p.tok_a, p.tok_b, p.both_docs,
           ROUND(ln(CAST(p.both_docs * n.nd AS DOUBLE)
                    / (va.df * vb.df)), 6) AS pmi
    FROM pairs p
    JOIN vocab va ON p.tok_a = va.tok
    JOIN vocab vb ON p.tok_b = vb.tok
    CROSS JOIN n
    ORDER BY p.tok_a, p.tok_b
    """,
)
def docs_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.operators.partitioning import spread

    d = spread(
        load_table(spark, sf_dir, "documents").where(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), _WS)).alias("tok")
    ).distinct()
    df = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    vocab = (
        df.withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("df"), "tok"))
        )
        .where(F.col("r") <= _PMI_VOCAB)
        .drop("r")
    )
    n = d.agg(F.count(F.lit(1)).alias("nd"))
    vt = tok.join(F.broadcast(vocab.select("tok")), "tok")
    baskets = vt.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("tok")).alias("ts")
    )
    combos = F.flatten(
        F.transform(
            F.col("ts"),
            lambda x, i: F.transform(
                F.slice(F.col("ts"), i + 2, F.size("ts")),
                lambda y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.tok_a").alias("tok_a"), F.col("p.tok_b").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("both_docs"))
        .where(F.col("both_docs") >= _PMI_MIN_PAIR)
    )
    va = F.broadcast(vocab.select(F.col("tok"), F.col("df").alias("df_a")))
    vb = F.broadcast(vocab.select(F.col("tok"), F.col("df").alias("df_b")))
    return (
        pairs.join(va, pairs.tok_a == va.tok)
        .drop("tok")
        .join(vb, pairs.tok_b == vb.tok)
        .drop("tok")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "both_docs",
            F.round(
                F.log(
                    (F.col("both_docs") * F.col("nd")).cast("double")
                    / (F.col("df_a") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("tok_a", "tok_b")
    )


# --------------------------------------------------------------------------
# G2 log-likelihood keyword extraction — "what terms characterize this
# source vs the rest of the corpus?", the Dunning (1993) keyness
# statistic every corpus-comparison pipeline uses. Contingency per
# (source, term): a = in-source count, b = elsewhere count, with
# expectations from the marginals; G2 = 2·(a·ln(a/Ea) + b·ln(b/Eb))
# as closed-form per-row doubles (zero-guarded identically in both
# engines). Candidates are df-capped, and the top-5-per-source window
# runs over the (sources × vocab) frame — bounded by the domains.
_G2_MIN_TERM = 50
_G2_TOP = 5


@query(
    "docs_keyword_g2",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    st AS (SELECT source, tok, COUNT(*) AS a FROM tok GROUP BY 1, 2),
    tt AS (SELECT tok, SUM(a) AS t FROM st GROUP BY 1 HAVING SUM(a) >= {_G2_MIN_TERM}),
    ss AS (SELECT source, SUM(a) AS s FROM st GROUP BY 1),
    g AS (SELECT SUM(a) AS g FROM st),
    scored AS (
      SELECT st.source, st.tok, st.a, tt.t - st.a AS b,
             ROUND(2 * (CASE WHEN st.a > 0 THEN
                    CAST(st.a AS DOUBLE)
                    * ln(CAST(st.a * g.g AS DOUBLE) / (ss.s * tt.t))
                  ELSE 0 END
                + CASE WHEN tt.t - st.a > 0 THEN
                    CAST(tt.t - st.a AS DOUBLE)
                    * ln(CAST((tt.t - st.a) * g.g AS DOUBLE)
                         / ((g.g - ss.s) * tt.t))
                  ELSE 0 END), 6) AS g2
      FROM st JOIN tt ON st.tok = tt.tok
      JOIN ss ON st.source = ss.source
      CROSS JOIN g)
    SELECT source, rank, tok, a AS term_count, g2
    FROM (
      SELECT source, tok, a, g2,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY g2 DESC, tok) AS rank
      FROM scored)
    WHERE rank <= {_G2_TOP}
    ORDER BY source, rank
    """,
)
def docs_keyword_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = d.select(
        "source", F.explode(F.split(F.trim(F.col("text")), _WS)).alias("tok")
    )
    st = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("a"))
    tt = (
        st.groupBy("tok")
        .agg(F.sum("a").alias("t"))
        .where(F.col("t") >= _G2_MIN_TERM)
    )
    ss = st.groupBy("source").agg(F.sum("a").alias("s"))
    g = st.agg(F.sum("a").alias("g"))
    b = F.col("t") - F.col("a")
    term1 = F.when(
        F.col("a") > 0,
        F.col("a").cast("double")
        * F.log(
            (F.col("a") * F.col("g")).cast("double")
            / (F.col("s") * F.col("t"))
        ),
    ).otherwise(F.lit(0.0))
    term2 = F.when(
        b > 0,
        b.cast("double")
        * F.log(
            (b * F.col("g")).cast("double")
            / ((F.col("g") - F.col("s")) * F.col("t"))
        ),
    ).otherwise(F.lit(0.0))
    scored = (
        st.join(tt, "tok")
        .join(F.broadcast(ss), "source")
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            "tok",
            "a",
            F.round(2 * (term1 + term2), 6).alias("g2"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("g2"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _G2_TOP)
        .select(
            "source", "rank", "tok", F.col("a").alias("term_count"), "g2"
        )
        .orderBy("source", "rank")
    )


# --------------------------------------------------------------------------
# Curriculum interleave — the training-order builder: rank documents
# within each source by a quality proxy, then emit the head of the
# round-robin interleave (position (r−1)·S + source_index), so every
# source contributes its best documents early and no single source
# dominates the front of training. Per-source ranking at 100 TB uses
# the salted two-phase top-k (docs_sample_per_lang pattern) — here
# the within-source window is stated directly and the interleave
# frame is K·sources rows, domain-bounded.
_CURR_K = 20


@query(
    "docs_curriculum_order",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS r
      FROM documents),
    topk AS (SELECT * FROM ranked WHERE r <= {_CURR_K}),
    src AS (
      SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS sidx
      FROM (SELECT DISTINCT source FROM documents)),
    ns AS (SELECT COUNT(*) AS n FROM src)
    SELECT t.doc_id, t.source, t.r AS within_rank,
           CAST((t.r - 1) * ns.n + s.sidx AS BIGINT) AS position
    FROM topk t JOIN src s ON t.source = s.source CROSS JOIN ns
    ORDER BY position
    """,
)
def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ranked = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.desc("n_chars"), "doc_id"
            )
        )
        .alias("r"),
    ).where(F.col("r") <= _CURR_K)
    src = (
        d.select("source")
        .distinct()
        .withColumn(
            "sidx", F.row_number().over(Window.orderBy("source"))
        )
    )
    ns = src.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(ns))
        .select(
            "doc_id",
            "source",
            F.col("r").alias("within_rank"),
            ((F.col("r") - 1) * F.col("n") + F.col("sidx"))
            .cast("bigint")
            .alias("position"),
        )
        .orderBy("position")
    )


# --------------------------------------------------------------------------
# Bigram language-model scoring with add-one smoothing — the next
# step up from docs_unigram_logprob: score each document by the mean
# corpus log-probability of its bigram transitions, p(w2|w1) =
# (c12+1)/(c1+V). Bigrams pair adjacent tokens IN-EXPRESSION from the
# token array (no positional self-join); corpus bigram and unigram
# counts ride as count-over-partition windows on the exploded frame
# (the docs_jaccard_pairs one-shuffle pattern), and each log rounds
# to a 6-dp micro-nat int64 so the per-doc mean is exact until one
# final division.
@query(
    "docs_bigram_logprob",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    v AS (
      SELECT COUNT(DISTINCT tok) AS vs FROM (
        SELECT unnest(t) AS tok FROM d)),
    bg AS (
      SELECT d.doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM d, unnest(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2),
    scored AS (
      SELECT doc_id,
             CAST(ROUND(ROUND(ln(
               CAST(COUNT(*) OVER (PARTITION BY w1, w2) + 1 AS DOUBLE)
               / (COUNT(*) OVER (PARTITION BY w1) + (SELECT vs FROM v))),
               6) * 1000000, 0) AS BIGINT) AS micro_log
      FROM bg)
    SELECT doc_id, COUNT(*) AS bigrams,
           CAST(SUM(micro_log) AS DOUBLE) / (1000000.0 * COUNT(*))
             AS avg_bigram_logprob
    FROM scored GROUP BY doc_id
    """,
)
def docs_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    ).select("doc_id", F.split(F.trim(F.col("text")), _WS).alias("t"))
    vs = (
        d.select(F.explode("t").alias("tok")).distinct().count()
    )  # one scalar: vocabulary size
    bigram_structs = F.expr(
        "transform(slice(t, 1, size(t) - 1),"
        " (x, i) -> struct(x AS w1, t[i + 1] AS w2))"
    )
    bg = (
        d.where(F.size("t") >= 2)
        .select("doc_id", F.explode(bigram_structs).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    w12 = Window.partitionBy("w1", "w2")
    w1 = Window.partitionBy("w1")
    micro_log = F.round(
        F.round(
            F.log(
                (F.count(F.lit(1)).over(w12) + 1).cast("double")
                / (F.count(F.lit(1)).over(w1) + F.lit(vs))
            ),
            6,
        )
        * 1_000_000,
        0,
    ).cast("long")
    return (
        bg.withColumn("micro_log", micro_log)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("bigrams"),
            (
                F.sum("micro_log").cast("double")
                / (1_000_000.0 * F.count(F.lit(1)))
            ).alias("avg_bigram_logprob"),
        )
    )


# --------------------------------------------------------------------------
# Cross-source contamination matrix — pairwise 8-gram overlap between
# corpus sources, the dataset-level complement of the per-doc
# contamination probe: high shared-gram Jaccard between two sources
# means one (partially) copies the other. Per gram hash, the distinct
# source set collapses to a sorted array (<= |sources|), and source
# pairs are generated in-expression (C(20,2) max per gram — the
# basket trick); no gram-level self-join, one shuffle on the gram
# hash. Grams hash to 60-bit ints before grouping so the shuffle
# carries fixed-width keys, not text.
_XS_GRAM = 8


@query(
    "docs_cross_source_grams",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT source,
             ('0x' || substr(md5(substr(text, pos, {_XS_GRAM})), 1, 15))::BIGINT
               AS gh
      FROM (
        SELECT source, text,
               unnest(generate_series(1,
                 greatest(length(text) - {_XS_GRAM - 1}, 0))) AS pos
        FROM documents)),
    sc AS (SELECT source, COUNT(*) AS grams FROM g GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared_grams
      FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
      GROUP BY 1, 2)
    SELECT i.source_a, i.source_b, i.shared_grams,
           CAST(i.shared_grams AS DOUBLE)
             / (ca.grams + cb.grams - i.shared_grams) AS gram_jaccard
    FROM inter i
    JOIN sc ca ON i.source_a = ca.source
    JOIN sc cb ON i.source_b = cb.source
    ORDER BY i.source_a, i.source_b
    """,
)
def docs_cross_source_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.dedup import md5_long
    from fabric_claims_spark.operators.partitioning import spread

    # single-file scan + per-CHAR explode: without spread the gram
    # hash pipeline is one task (see docs_dup_span_fraction)
    d = spread(load_table(spark, sf_dir, "documents"))
    pos = F.explode(
        F.sequence(
            F.lit(1),
            F.greatest(F.length("text") - (_XS_GRAM - 1), F.lit(0)),
        )
    ).alias("pos")
    g = (
        d.select("source", "text")
        .where(F.length("text") >= _XS_GRAM)
        .select("source", pos, "text")
        .select(
            "source",
            md5_long(F.expr(f"substr(text, pos, {_XS_GRAM})")).alias("gh"),
        )
        .distinct()
    )
    sc = g.groupBy("source").agg(F.count(F.lit(1)).alias("grams"))
    sets = g.groupBy("gh").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    combos = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size("ss")),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    inter = (
        sets.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    ca = F.broadcast(
        sc.select(F.col("source"), F.col("grams").alias("grams_a"))
    )
    cb = F.broadcast(
        sc.select(F.col("source"), F.col("grams").alias("grams_b"))
    )
    either = F.col("grams_a") + F.col("grams_b") - F.col("shared_grams")
    return (
        inter.join(ca, inter.source_a == ca.source)
        .drop("source")
        .join(cb, inter.source_b == cb.source)
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            (F.col("shared_grams").cast("double") / either).alias(
                "gram_jaccard"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Boilerplate / template detection — documents sharing an identical
# text PREFIX are near-certain template instances (headers, scraped
# chrome, generated forms); flagging them is a standard LLM-corpus
# cleaning pass that exact dedup (whole-text) misses. One hash
# aggregate on the 64-char prefix hash — fixed-width shuffle keys,
# counts + a min exemplar, nothing pairwise.
_BP_PREFIX = 64
_BP_MIN_DOCS = 3


@query(
    "docs_boilerplate_prefixes",
    oracle=f"""
    SELECT md5(substr(text, 1, {_BP_PREFIX})) AS prefix_hash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS exemplar_doc,
           MIN(substr(text, 1, 32)) AS prefix_sample
    FROM documents
    WHERE length(text) >= {_BP_PREFIX}
    GROUP BY 1 HAVING COUNT(*) >= {_BP_MIN_DOCS}
    ORDER BY n_docs DESC, prefix_hash
    """,
)
def docs_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= _BP_PREFIX
    )
    return (
        d.groupBy(
            F.md5(F.substring("text", 1, _BP_PREFIX)).alias("prefix_hash")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("exemplar_doc"),
            F.min(F.substring("text", 1, 32)).alias("prefix_sample"),
        )
        .where(F.col("n_docs") >= _BP_MIN_DOCS)
        .orderBy(F.desc("n_docs"), "prefix_hash")
    )


# --------------------------------------------------------------------------
# Language-ID confusion matrix — the evaluation harness for the
# heuristic classifier above: labeled lang × predicted lang counts
# with row-level precision. One projection (the same marker argmax)
# into one bounded aggregate (langs × predictions ≤ 5×4 cells); the
# eval family twin of embeddings_ann_recall / minhash_estimate_error.
@query(
    "docs_langid_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
        CAST(len(regexp_extract_all(text, '{_MARKERS["en"]}')) AS BIGINT) AS score_en,
        CAST(len(regexp_extract_all(text, '{_MARKERS["de"]}')) AS BIGINT) AS score_de,
        CAST(len(regexp_extract_all(text, '{_MARKERS["es"]}')) AS BIGINT) AS score_es
      FROM documents),
    pred AS (
      SELECT lang AS labeled_lang,
        CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en > 0 THEN 'en'
             WHEN score_de >= score_es AND score_de > 0 THEN 'de'
             WHEN score_es > 0 THEN 'es'
             ELSE 'unknown' END AS predicted_lang
      FROM scored),
    m AS (
      SELECT labeled_lang, predicted_lang, COUNT(*) AS n
      FROM pred GROUP BY 1, 2)
    SELECT m.labeled_lang, m.predicted_lang, m.n,
           CAST(m.n AS DOUBLE)
             / SUM(m.n) OVER (PARTITION BY m.labeled_lang) AS row_share
    FROM m
    ORDER BY m.labeled_lang, m.predicted_lang
    """,
)
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    scores = {
        k: F.regexp_count("text", F.lit(p)).cast("long")
        for k, p in _MARKERS.items()
    }
    en, de, es = scores["en"], scores["de"], scores["es"]
    pred = d.select(
        F.col("lang").alias("labeled_lang"),
        F.when((en >= de) & (en >= es) & (en > 0), "en")
        .when((de >= es) & (de > 0), "de")
        .when(es > 0, "es")
        .otherwise("unknown")
        .alias("predicted_lang"),
    )
    m = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("labeled_lang")
    return m.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("row_share"),
    ).orderBy("labeled_lang", "predicted_lang")


# --------------------------------------------------------------------------
# N-gram novelty curve — per document, the fraction of its distinct
# word 8-grams NOT seen in any earlier document (doc_id as arrival
# order): the monitoring signal for incremental-ingest dedup and
# curriculum ordering ("is new data still adding new content, or has
# the stream gone stale?"). One grouped pass computes each gram's
# first-seen doc (MIN over the gram key); novelty is then a pure
# per-doc aggregate — linear, no pair joins, no windows over raw
# grams beyond the gram-keyed min.
@query(
    "docs_ngram_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    dg AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(
                list_slice(toks, i, i + 7), ' ')), 1, 15))::BIGINT AS g
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i
        FROM t)),
    fs AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY 1)
    SELECT dg.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN fs.first_doc = dg.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
           ROUND(CAST(SUM(CASE WHEN fs.first_doc = dg.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM dg JOIN fs ON fs.g = dg.g
    GROUP BY dg.doc_id
    ORDER BY dg.doc_id
    """,
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.dedup import word_shingles
    from fabric_claims_spark.operators.partitioning import spread

    d = spread(
        load_table(spark, sf_dir, "documents").where(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    dg = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), 8))).alias(
            "gram"
        ),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10)
        .cast("long")
        .alias("g"),
    )
    # first-seen doc per gram — grouped MIN joined back over the
    # once-materialized gram stream (the dup-span query's skew
    # playbook: streaming aggregate + splittable join instead of a
    # window's materialized key-group buffer; localCheckpoint runs
    # the shingle pipeline once for both consumers — see SCALING.md
    # round 6)
    dgp = dg.localCheckpoint(eager=False)
    fs = dgp.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    flagged = dgp.join(fs, "g").select(
        "doc_id",
        (F.col("first_doc") == F.col("doc_id")).alias("is_first"),
    )
    novel = F.sum(F.when(F.col("is_first"), 1).otherwise(0))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("long").alias("novel_grams"),
            F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Quality-budget pruning ("nucleus" selection per source): within each
# source, keep the minimal prefix of docs — ordered best-first
# (n_chars DESC, doc_id for ties) — whose cumulative chars reach 80%
# of the source's total. The data-pruning counterpart of nucleus
# sampling: spend the token budget on the densest docs per source and
# report the attrition. Threshold entirely in BIGINT arithmetic
# (100*prefix < 80*total), no float cut to disagree on.
# Scale shape: one shuffle on source; the running sum is a window
# over each source's docs ordered by the quality key — fine while
# per-source doc counts are task-sized; a 100 TB single-source corpus
# would pre-bucket the quality key (operators/ranking.py's
# distributed-rank discipline) before the prefix cut.
@query(
    "docs_quality_nucleus",
    oracle="""
    WITH r AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_chars,
             SUM(n_chars) OVER (PARTITION BY source) AS total_chars,
             COUNT(*) OVER (PARTITION BY source) AS docs_total
      FROM documents)
    SELECT source,
           docs_total,
           CAST(SUM(CASE WHEN 100 * (cum_chars - n_chars)
                              < 80 * total_chars
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(MAX(total_chars) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN 100 * (cum_chars - n_chars)
                              < 80 * total_chars
                         THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM r
    GROUP BY source, docs_total
    ORDER BY source
    """,
)
def docs_quality_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w_run = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_src = Window.partitionBy("source")
    r = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(w_run).alias("cum_chars"),
        F.sum("n_chars").over(w_src).alias("total_chars"),
        F.count(F.lit(1)).over(w_src).alias("docs_total"),
    )
    keep = (
        F.lit(100) * (F.col("cum_chars") - F.col("n_chars"))
        < F.lit(80) * F.col("total_chars")
    )
    return (
        r.groupBy("source", "docs_total")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("docs_kept"),
            F.max("total_chars").cast("long").alias("chars_total"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
        .select("source", "docs_total", "docs_kept", "chars_total", "chars_kept")
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# TextRank keywords (Mihalcea & Tarau, EMNLP 2004) — graph-based
# keyword extraction as a COMPOSITION of shipped operators: the word
# co-occurrence graph (adjacent-token pairs per document, undirected,
# count-weighted, built with a per-document lead window — bounded by
# document length, never corpus-global) feeds the same weighted
# PageRank brand_pagerank pins green (extensions/graph.pagerank:
# per-round one co-partitioned join + one aggregate, 12-dp rounded
# ranks, 9-dp out-weight ratios), and the top keywords are one
# TakeOrderedAndProject. The oracle unrolls the identical 5 rounds.
_TEXTRANK_ITERS = 5
_TEXTRANK_TOPK = 15


def _textrank_oracle(iters: int = _TEXTRANK_ITERS) -> str:
    head = """
    WITH toks AS (
      SELECT doc_id, tok, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY pos) AS rn
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
                   generate_subscripts(
                     regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
            FROM documents WHERE length(trim(text)) > 0)),
    adj AS (
      SELECT a.tok AS w1, b.tok AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
      WHERE a.tok <> b.tok),
    upper_p AS (
      SELECT LEAST(w1, w2) AS src, GREATEST(w1, w2) AS dst, COUNT(*) AS w
      FROM adj GROUP BY 1, 2),
    pairs AS (
      SELECT src, dst, w FROM upper_p
      UNION ALL
      SELECT dst, src, w FROM upper_p),
    outw AS (SELECT src, SUM(w) AS out_w FROM pairs GROUP BY 1),
    er AS (SELECT p.src, p.dst, ROUND(CAST(p.w AS DOUBLE) / o.out_w, 9) AS r
           FROM pairs p JOIN outw o ON p.src = o.src),
    nodes AS (SELECT DISTINCT src AS node FROM pairs),
    t AS (SELECT COUNT(*) AS n FROM nodes),
    it0 AS (SELECT node, ROUND(CAST(1 AS DOUBLE) / t.n, 12) AS pr
            FROM nodes CROSS JOIN t)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
    c{k} AS (
      SELECT e.dst AS node,
             SUM(CAST(ROUND(p.pr * e.r, 12) AS DECIMAL(20,12))) AS s
      FROM er e JOIN it{k - 1} p ON e.src = p.node GROUP BY 1),
    it{k} AS (
      SELECT n.node,
             ROUND(CAST(0.15 AS DOUBLE) / t.n
                   + CAST(0.85 AS DOUBLE)
                     * CAST(COALESCE(c.s, CAST(0 AS DECIMAL(20,12)))
                            AS DOUBLE), 12) AS pr
      FROM nodes n CROSS JOIN t LEFT JOIN c{k} c ON n.node = c.node)""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS BIGINT)
             AS rank,
           node AS word, pr AS textrank
    FROM it{iters}
    ORDER BY pr DESC, node LIMIT {_TEXTRANK_TOPK}"""
    )


@query("docs_textrank_keywords", oracle=_textrank_oracle())
def docs_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from fabric_claims_spark.extensions.graph import pagerank

    d = load_table(spark, sf_dir, "documents")
    toks = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), _WS)).alias("pos", "tok"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        toks.select(
            F.col("tok").alias("w1"),
            F.lead("tok").over(w_doc).alias("w2"),
        )
        .where(F.col("w2").isNotNull() & (F.col("w1") != F.col("w2")))
    )
    upper = (
        adj.select(
            F.least("w1", "w2").alias("src"),
            F.greatest("w1", "w2").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = upper.unionByName(
        upper.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    pr = pagerank(edges, "src", "dst", weight="w", iters=_TEXTRANK_ITERS)
    top = (
        pr.orderBy(F.col("pr").desc(), F.col("node").asc())
        .limit(_TEXTRANK_TOPK)
    )
    w_rank = Window.orderBy(F.col("pr").desc(), F.col("node").asc())
    return top.select(
        F.row_number().over(w_rank).cast("long").alias("rank"),
        F.col("node").alias("word"),
        F.col("pr").alias("textrank"),
    )


# --------------------------------------------------------------------------
# DSIR importance weights [Xie et al., NeurIPS 2023, arXiv:2302.03169
# "Data Selection for Language Models via Importance Resampling"]:
# score every raw document by how much more likely its hashed-n-gram
# feature counts are under a TARGET distribution (a curated slice —
# here the designated high-quality sources, the paper's
# Wikipedia+books stand-in) than under the RAW corpus distribution.
# log w(doc) = Σ_b c_b(doc) · [ln p_target(b) − ln p_raw(b)] over B
# hash buckets with add-one smoothing — the bag-of-hashed-ngrams
# importance estimator the paper shows matches expert LMs for
# selection. Resampling then keeps documents ∝ exp(log w) (or top-k,
# the paper's hard variant) — the WEIGHT table is the operator here;
# selection composes downstream (docs_hash_split-style).
#
# Scale shape: one explode → bucket projection (md5 fold, the
# cross-engine hash), ONE corpus aggregate emitting B=64 rows (both
# target and raw counts in one pass — target-ness is a per-row flag,
# so there is no second scan), broadcast of the 64-row log-ratio
# table back onto the per-doc bucket counts, one final groupBy
# doc_id. Everything is corpus-linear; the only non-doc-bounded
# state is B rows. Logs round to 6-dp micro-nats (int64) so the
# per-doc sum is exact integer math until one final division — the
# docs_bigram_logprob discipline.
from fabric_claims_spark.operators.dsir import (  # noqa: E402
    DSIR_B as _DSIR_B,
    DSIR_TARGET as _DSIR_TARGET,
)


# reused verbatim by the resampling oracle below (as a parenthesized
# CTE-bearing subquery)
_DSIR_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    b AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(tok),1,15))::BIGINT % {_DSIR_B} AS bucket
      FROM toks),
    corpus AS (
      SELECT bucket,
             COUNT(*) AS s_b,
             SUM(CASE WHEN source IN {_DSIR_TARGET} THEN 1 ELSE 0 END) AS t_b
      FROM b GROUP BY bucket),
    tot AS (
      SELECT SUM(s_b) AS s_tot, SUM(t_b) AS t_tot FROM corpus),
    llr AS (
      SELECT bucket,
             CAST(ROUND(ROUND(ln(CAST(t_b + 1 AS DOUBLE)
                                 / (t_tot + {_DSIR_B})), 6) * 1000000, 0)
                  AS BIGINT)
             - CAST(ROUND(ROUND(ln(CAST(s_b + 1 AS DOUBLE)
                                   / (s_tot + {_DSIR_B})), 6) * 1000000, 0)
                    AS BIGINT) AS micro_llr
      FROM corpus CROSS JOIN tot),
    dc AS (
      SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY doc_id, bucket)
    SELECT dc.doc_id,
           CAST(SUM(dc.c) AS BIGINT) AS n_toks,
           CAST(SUM(dc.c * llr.micro_llr) AS DOUBLE) / 1000000.0
             AS log_weight
    FROM dc JOIN llr ON llr.bucket = dc.bucket
    GROUP BY dc.doc_id
    ORDER BY dc.doc_id
    """


@query("docs_dsir_weights", oracle=_DSIR_ORACLE)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.operators.dsir import (
        dsir_bucket_rows,
        dsir_weights_from_bucket_counts,
    )

    d = load_table(spark, sf_dir, "documents")
    # one explode -> one (doc, bucket, tgt) count aggregate; the
    # corpus rollup and llr table derive from those counts, so the
    # scan runs once with no cache. The scoring core is shared
    # verbatim with streaming/corpus_stream.dsir_monitor_stream.
    dc = (
        dsir_bucket_rows(d, b=_DSIR_B, target_sources=_DSIR_TARGET)
        .groupBy("doc_id", "bucket", "tgt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return dsir_weights_from_bucket_counts(dc, b=_DSIR_B)


# --------------------------------------------------------------------------
# DSIR resampling — the second half of the paper's loop: given the
# importance weights, SAMPLE K documents proportional to exp(log w)
# WITHOUT replacement. Mechanism: Gumbel-top-k [Vieira 2014; Kool et
# al., ICML 2019] — perturb each doc's log-weight with an independent
# Gumbel(0,1) draw g = -ln(-ln(u)) and take the top-k of
# (log_weight + g); the argmax-top-k of Gumbel-perturbed logits IS an
# exact sample ∝ softmax(logits) without replacement. u derives from
# the md5 fold of the doc id (the docs_hash_split idiom, offset +0.5
# inside the 2^53 grid so u ∈ (0,1) strictly — ln(0) can't occur), so
# the "draw" is reproducible across runs, engines, and partitionings:
# a training pipeline's sample must be an auditable function of the
# data, not of the scheduler.
#
# Scale shape: one broadcast-free projection over the weight table
# and a TakeOrderedAndProject top-k — no global sort, no shuffle
# beyond the weight computation itself. Both the rounded Gumbel and
# the rounded final key are single-ln/IEEE-arithmetic chains, exact
# in both engines.
_DSIR_SAMPLE_K = 64
_U53 = 9007199254740992  # 2^53


@query(
    "docs_dsir_resample",
    oracle=f"""
    WITH w AS (SELECT * FROM ({_DSIR_ORACLE})),
    keyed AS (
      SELECT doc_id, log_weight,
             ROUND(log_weight + ROUND(-ln(-ln(
               ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                 % {_U53}) + 0.5) / {_U53}.0)), 6), 6) AS sample_key
      FROM w)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY sample_key DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, log_weight, sample_key
    FROM (SELECT * FROM keyed
          ORDER BY sample_key DESC, doc_id LIMIT {_DSIR_SAMPLE_K})
    """,
)
def docs_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.operators.dsir import dsir_gumbel_key

    w = docs_dsir_weights(spark, sf_dir)
    keyed = w.select(
        "doc_id",
        "log_weight",
        dsir_gumbel_key(F.col("log_weight"), F.col("doc_id")).alias(
            "sample_key"
        ),
    )
    top = keyed.orderBy(F.col("sample_key").desc(), "doc_id").limit(
        _DSIR_SAMPLE_K
    )
    w_rank = Window.orderBy(F.col("sample_key").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w_rank).cast("long").alias("rank"),
        "doc_id",
        "log_weight",
        "sample_key",
    )


# --------------------------------------------------------------------------
# DSIR end-to-end (VERDICT r8 item 5): the actual data-selection loop
# a pre-training pipeline runs, as ONE composed query —
#
#   score   every raw document with the DSIR importance weight
#           (operators/dsir.py, shared verbatim with the standalone
#           weight query and the streaming monitor),
#   select  a candidate pool of POOL_K documents by Gumbel-top-k
#           (exact softmax sampling without replacement — the shared
#           dsir_gumbel_key, so the pool is reproducible on any
#           partitioning),
#   mix     the final batch: Hamilton largest-remainder allocation of
#           N seats over basis-point source weights (exact integer
#           math, Σ = N always), filled per source by descending
#           sample key — the importance order the resample already
#           established.
#
# The mixture deliberately includes a NON-target source (src4) whose
# documents score low: its pool presence is thin, so the honest-
# shortfall path (a source with fewer pool docs than its quota
# returns what exists) is exercised, identically in both engines.
#
# Scale shape: the weight pass is corpus-linear (see docs_dsir_weights);
# the pool is a TakeOrderedAndProject top-K (no global sort); every
# window after that runs over ≤ POOL_K rows joined to a broadcast
# 5-row weight table — the mixing stage is constant-bounded no matter
# the corpus size, so no salted two-phase window is needed here
# (contrast docs_mixture_sample, which windows over the raw corpus).
_PIPE_POOL_K = 160
_PIPE_N = 48
_PIPE_BPS = (
    ("src0", 3000),
    ("src1", 2600),
    ("src2", 1800),
    ("src3", 1400),
    ("src4", 1200),
)


@query(
    "docs_dsir_pipeline",
    oracle=f"""
    WITH w AS (SELECT * FROM ({_DSIR_ORACLE})),
    keyed AS (
      SELECT doc_id, log_weight,
             ROUND(log_weight + ROUND(-ln(-ln(
               ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                 % {_U53}) + 0.5) / {_U53}.0)), 6), 6) AS sample_key
      FROM w),
    pool AS (
      SELECT k.doc_id, k.log_weight, k.sample_key, d.source
      FROM (SELECT * FROM keyed
            ORDER BY sample_key DESC, doc_id LIMIT {_PIPE_POOL_K}) k
      JOIN documents d USING (doc_id)),
    mw(source, bps) AS (VALUES {", ".join(f"('{s}', {b})" for s, b in _PIPE_BPS)}),
    q AS (
      SELECT source, ({_PIPE_N} * bps) // 10000 AS base,
             ({_PIPE_N} * bps) % 10000 AS rem
      FROM mw),
    seats AS (SELECT {_PIPE_N} - SUM(base) AS s FROM q),
    alloc AS (
      SELECT source,
             base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                         <= (SELECT s FROM seats) THEN 1 ELSE 0 END AS n
      FROM q),
    ranked AS (
      SELECT p.source, p.doc_id, p.log_weight,
             ROW_NUMBER() OVER (
               PARTITION BY p.source
               ORDER BY p.sample_key DESC, p.doc_id) AS mix_rank
      FROM pool p JOIN mw ON mw.source = p.source)
    SELECT r.source, CAST(r.mix_rank AS BIGINT) AS mix_rank, r.doc_id,
           r.log_weight, CAST(a.n AS BIGINT) AS alloc
    FROM ranked r JOIN alloc a ON a.source = r.source
    WHERE r.mix_rank <= a.n
    ORDER BY r.source, r.mix_rank
    """,
)
def docs_dsir_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = docs_dsir_weights(spark, sf_dir)
    return dsir_select_from_weights(w, d.select("doc_id", "source"))


def dsir_select_from_weights(
    w: DataFrame, doc_sources: DataFrame
) -> DataFrame:
    """The selection half of the DSIR end-to-end pipeline (pool +
    mixture), shared verbatim by the batch query above and the
    streaming twin (streaming/corpus_stream.dsir_pipeline_stream) —
    stream==batch parity is structural. ``w`` is the (doc_id,
    log_weight) importance table; ``doc_sources`` maps doc_id →
    source. Every stage after the TakeOrderedAndProject pool is
    bounded by POOL_K rows and a broadcast weight table."""
    from fabric_claims_spark.operators.dsir import dsir_gumbel_key

    spark = w.sparkSession
    keyed = w.select(
        "doc_id",
        "log_weight",
        dsir_gumbel_key(F.col("log_weight"), F.col("doc_id")).alias(
            "sample_key"
        ),
    )
    pool = (
        keyed.orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(_PIPE_POOL_K)
        .join(doc_sources, "doc_id")
    )
    mw = local_frame(spark, list(_PIPE_BPS), "source string, bps long")
    # Hamilton largest-remainder — exact integer math on both sides
    base = F.expr(f"(bps * {_PIPE_N}) div 10000")
    rem = (F.col("bps") * _PIPE_N) % 10000
    q = mw.select("source", base.alias("base"), rem.alias("rem"))
    seats = q.agg((F.lit(_PIPE_N) - F.sum("base")).alias("s"))
    w_seat = Window.orderBy(F.col("rem").desc(), F.col("source"))
    alloc = q.crossJoin(F.broadcast(seats)).select(
        "source",
        (
            F.col("base")
            + F.when(F.row_number().over(w_seat) <= F.col("s"), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("alloc"),
    )
    # pool is ≤ POOL_K rows: the per-source window is constant-bounded
    w_mix = Window.partitionBy("source").orderBy(
        F.col("sample_key").desc(), F.col("doc_id")
    )
    return (
        pool.join(F.broadcast(mw.select("source")), "source")
        .withColumn("mix_rank", F.row_number().over(w_mix).cast("bigint"))
        .join(F.broadcast(alloc), "source")
        .where(F.col("mix_rank") <= F.col("alloc"))
        .select("source", "mix_rank", "doc_id", "log_weight", "alloc")
        .orderBy("source", "mix_rank")
    )


# --------------------------------------------------------------------------
# Decontamination REMOVAL (GPT-3 appendix-C discipline): the
# contamination probe above MEASURES train/eval n-gram overlap; this
# is the transform a training pipeline actually runs — drop every
# TRAIN document sharing any word n-gram with the held-out splits.
# Composes the deterministic md5 hash split (docs_hash_split) with
# the distinct-gram explode (docs_contamination_probe's machinery):
# grams of the eval side (a bounded 20% here; in practice eval sets
# are tiny and the gram table broadcasts) equi-join the train grams,
# contaminated ids fall out of a left_anti.
#
# Scale shape: one gram explode per side, one equi-join keyed on the
# gram (hash-partitioned, hot grams are natural-language boilerplate
# that real pipelines cap exactly like the LSH bucket cap; the
# fixture needs no cap), one anti join on doc_id. Everything linear;
# no pair term. Empty-text train docs have no grams and survive by
# construction (nothing to overlap).
_DECON_GRAM = 8


@query(
    "docs_decontaminated_train",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, source, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
               % 100 AS bucket
      FROM documents),
    t AS (
      SELECT doc_id, bucket, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM split WHERE length(trim(text)) > 0),
    dg AS (
      SELECT DISTINCT doc_id, bucket,
             array_to_string(
               list_slice(toks, i, i + {_DECON_GRAM - 1}), ' ') AS gram
      FROM (
        SELECT doc_id, bucket, toks,
               unnest(generate_series(
                 1, greatest(len(toks) - {_DECON_GRAM - 1}, 1))) AS i
        FROM t)),
    contaminated AS (
      SELECT DISTINCT tr.doc_id
      FROM dg tr JOIN dg ev ON tr.gram = ev.gram
      WHERE tr.bucket < 80 AND ev.bucket >= 80)
    SELECT s.doc_id, s.lang, s.source
    FROM split s
    WHERE s.bucket < 80
      AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ORDER BY s.doc_id
    """,
)
def docs_decontaminated_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.dedup import md5_long, word_shingles

    d = load_table(spark, sf_dir, "documents")
    bucket = (md5_long(F.col("doc_id").cast("string")) % 100).cast("long")
    split = d.select("doc_id", "lang", "source", "text", bucket.alias("bucket"))
    dg = split.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        "bucket",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), _DECON_GRAM))
        ).alias("gram"),
    )
    contaminated = (
        dg.where(F.col("bucket") < 80)
        .select("doc_id", "gram")
        .join(
            dg.where(F.col("bucket") >= 80).select("gram").distinct(),
            "gram",
        )
        .select("doc_id")
        .distinct()
    )
    return (
        split.where(F.col("bucket") < 80)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Decontamination with the HOT-GRAM CAP (round 10, VERDICT r9 item
# 5): the uncapped removal above joins train grams to eval grams on
# equality — linear on real data, but a boilerplate 8-gram (license
# header, nav chrome) shared by every eval doc AND a large train
# slice makes that key quadratic-hot (measured: SCALING.md
# "Decontamination hot-gram skew and the df cap"). The production
# lever is a document-frequency cutoff on the PROBE side: an eval
# gram matching more than ``_DECON_DF_CAP`` train documents is
# boilerplate, not contamination evidence — exactly the LSH
# bucket-cap discipline (extensions/dedup.incremental_dedup). The
# cap bounds every gram's join fan-out, so the candidate table is
# ≤ cap·|eval grams| rows by construction.
#
# _DECON_DF_CAP = 1 pins the MECHANISM at a value the fixture can
# exercise (natural df maxes at 2 here: the capped release keeps the
# df-2-gram docs the uncapped removal drops at sf0.01/0.1, so the
# hashes differ and the cap is visibly load-bearing); a production
# corpus uses a cap near 10^3 — far above any true eval overlap,
# far below web boilerplate df.
_DECON_DF_CAP = 1


@query(
    "docs_decontaminated_train_capped",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, source, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
               % 100 AS bucket
      FROM documents),
    t AS (
      SELECT doc_id, bucket, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM split WHERE length(trim(text)) > 0),
    dg AS (
      SELECT DISTINCT doc_id, bucket,
             array_to_string(
               list_slice(toks, i, i + {_DECON_GRAM - 1}), ' ') AS gram
      FROM (
        SELECT doc_id, bucket, toks,
               unnest(generate_series(
                 1, greatest(len(toks) - {_DECON_GRAM - 1}, 1))) AS i
        FROM t)),
    evg AS (SELECT DISTINCT gram FROM dg WHERE bucket >= 80),
    hot AS (
      SELECT g.gram
      FROM dg g JOIN evg ON g.gram = evg.gram
      WHERE g.bucket < 80
      GROUP BY g.gram
      HAVING COUNT(DISTINCT g.doc_id) > {_DECON_DF_CAP}),
    contaminated AS (
      SELECT DISTINCT tr.doc_id
      FROM dg tr
      JOIN (SELECT gram FROM evg
            WHERE gram NOT IN (SELECT gram FROM hot)) ev
        ON tr.gram = ev.gram
      WHERE tr.bucket < 80)
    SELECT s.doc_id, s.lang, s.source
    FROM split s
    WHERE s.bucket < 80
      AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ORDER BY s.doc_id
    """,
)
def docs_decontaminated_train_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fabric_claims_spark.extensions.dedup import md5_long, word_shingles

    d = load_table(spark, sf_dir, "documents")
    bucket = (md5_long(F.col("doc_id").cast("string")) % 100).cast("long")
    split = d.select(
        "doc_id", "lang", "source", "text", bucket.alias("bucket")
    )
    dg = split.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        "bucket",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), _DECON_GRAM))
        ).alias("gram"),
    )
    tg = dg.where(F.col("bucket") < 80).select("doc_id", "gram")
    eg = dg.where(F.col("bucket") >= 80).select("gram").distinct()
    # probe-side df cutoff: count train docs per MATCHED gram only
    # (the semi-joined frame — never a full train-gram rollup), then
    # drop the hot grams from the probe set
    hot = (
        tg.join(eg, "gram")
        .groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("tdf"))
        .where(F.col("tdf") > _DECON_DF_CAP)
        .select("gram")
    )
    probe = eg.join(hot, "gram", "left_anti")
    contaminated = tg.join(probe, "gram").select("doc_id").distinct()
    return (
        split.where(F.col("bucket") < 80)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# DSIR → mixture weights (DoReMi-flavored, round 9): turn the
# per-document importance scores into PER-SOURCE basis-point mixture
# weights — the measure → weight → allocate loop closed. Each
# source's mass is softmax(mean per-token log-weight) over sources;
# masses convert to exact integer micro-units and Hamilton
# largest-remainder allocates 10000 bps (Σ = 10000 always — the
# output plugs directly into docs_mixture_sample-style draws).
#
# Cross-engine determinism: per-doc log_weight is an exact multiple
# of 1e-6 — re-scaled to int64 micro-nats per doc so per-source sums
# are exact integer math on any partitioning; ONE division gives the
# per-token mean; exp() (1-ulp engine drift, like ln) snaps to 6 dp;
# the rounded masses scale to exact micro-unit longs before the
# integer Hamilton. Scale shape: one groupBy source over the weight
# table (20 rows out), everything after is a broadcast-sized frame.
@query(
    "docs_dsir_source_bps",
    oracle=f"""
    WITH w AS (SELECT * FROM ({_DSIR_ORACLE})),
    ws AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS docs,
             SUM(CAST(ROUND(w.log_weight * 1000000, 0) AS BIGINT))
               AS micro_sum,
             SUM(w.n_toks) AS toks
      FROM w JOIN documents d ON d.doc_id = w.doc_id
      GROUP BY d.source),
    m AS (
      SELECT source, docs,
             ROUND(CAST(micro_sum AS DOUBLE) / toks / 1000000.0, 9)
               AS mean_token_llr
      FROM ws),
    mass AS (
      SELECT source, docs, mean_token_llr,
             CAST(ROUND(ROUND(exp(mean_token_llr), 6) * 1000000, 0)
                  AS BIGINT) AS micro_mass
      FROM m),
    tot AS (SELECT SUM(micro_mass) AS w_tot FROM mass),
    q AS (
      SELECT source, docs, mean_token_llr, micro_mass,
             (10000 * micro_mass) // w_tot AS base,
             (10000 * micro_mass) % w_tot AS rem
      FROM mass CROSS JOIN tot),
    seats AS (SELECT 10000 - SUM(base) AS s FROM q)
    SELECT source, docs, mean_token_llr,
           CAST(base + CASE WHEN ROW_NUMBER() OVER (
                    ORDER BY rem DESC, source)
                  <= (SELECT s FROM seats) THEN 1 ELSE 0 END
                AS BIGINT) AS bps
    FROM q
    ORDER BY source
    """,
)
def docs_dsir_source_bps(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = docs_dsir_weights(spark, sf_dir)
    ws = (
        w.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum(
                F.round(F.col("log_weight") * 1_000_000, 0).cast("long")
            ).alias("micro_sum"),
            F.sum("n_toks").alias("toks"),
        )
    )
    m = ws.select(
        "source",
        "docs",
        F.round(
            F.col("micro_sum").cast("double")
            / F.col("toks")
            / F.lit(1_000_000.0),
            9,
        ).alias("mean_token_llr"),
    )
    mass = m.select(
        "source",
        "docs",
        "mean_token_llr",
        F.round(F.round(F.exp("mean_token_llr"), 6) * 1_000_000, 0)
        .cast("bigint")
        .alias("micro_mass"),
    )
    tot = mass.agg(F.sum("micro_mass").alias("w_tot"))
    q = mass.crossJoin(F.broadcast(tot)).select(
        "source",
        "docs",
        "mean_token_llr",
        F.expr("(10000 * micro_mass) div w_tot").alias("base"),
        ((F.lit(10000) * F.col("micro_mass")) % F.col("w_tot")).alias("rem"),
    )
    seats = q.agg((F.lit(10000) - F.sum("base")).alias("s"))
    w_seat = Window.orderBy(F.col("rem").desc(), F.col("source"))
    return (
        q.crossJoin(F.broadcast(seats))
        .select(
            "source",
            "docs",
            "mean_token_llr",
            (
                F.col("base")
                + F.when(
                    F.row_number().over(w_seat) <= F.col("s"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("bps"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Interpolated Kneser–Ney bigram language model (Kneser & Ney 1995;
# Chen & Goodman 1998) — the production-grade upgrade of the add-one
# model above (docs_bigram_logprob): absolute discounting D=0.75 with
# the discounted mass re-allocated by CONTINUATION probability (how
# many distinct contexts a word follows), the smoothing KenLM-style
# perplexity filters actually use on web corpora.
#
#   P(w2|w1) = (max(c(w1,w2)−D, 0) + D·N1+(w1,·)·Pcont(w2)) / c(w1)
#   Pcont(w2) = N1+(·,w2) / N1+(··)
#
# Determinism: all counts are exact integers from hash aggregates;
# D = 0.75 is exact binary; the probability uses only exactly-rounded
# IEEE ops in an expression tree written identically in both engines;
# ln() follows the established micro-nats discipline (round to 6
# decimals → int64 → exact integer sum → one final division).
#
# Scale notes (100 TB): one corpus scan explodes bigrams; the three
# model tables (bigram counts, context stats, continuation counts)
# are vocab²-bounded aggregates that broadcast back onto the bigram
# stream (swap to shuffle joins for web-scale vocabs — same keys);
# N1+(··) is one collected scalar. Per-doc scoring is a single hash
# aggregate.
# Shared KN CTE chain: corpus → bigrams → model tables → per-bigram
# micro-nats scores. Reused verbatim by the per-doc readout below and
# the perplexity-filter gate (round 11), so the two oracles can never
# drift on the model arithmetic.
_KN_SCORED_CTES = """d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    bg AS (
      SELECT d.doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM d, unnest(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2),
    bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2),
    ctx AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1w1
      FROM bc GROUP BY w1),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nw2
      FROM bc GROUP BY w2),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM bc),
    scored AS (
      SELECT g.doc_id,
             CAST(ROUND(ROUND(ln(
               (GREATEST(b.c12 - 0.75, 0.0)
                + ((0.75 * x.n1w1)
                   * (CAST(o.nw2 AS DOUBLE) / n.ntypes))) / x.c1),
               6) * 1000000, 0) AS BIGINT) AS micro_log
      FROM bg g
      JOIN bc b ON b.w1 = g.w1 AND b.w2 = g.w2
      JOIN ctx x ON x.w1 = g.w1
      JOIN cont o ON o.w2 = g.w2
      CROSS JOIN nt n)"""


@query(
    "docs_kneser_ney_logprob",
    oracle=f"""
    WITH {_KN_SCORED_CTES}
    SELECT doc_id, COUNT(*) AS bigrams,
           CAST(SUM(micro_log) AS DOUBLE) / (1000000.0 * COUNT(*))
             AS avg_kn_logprob
    FROM scored GROUP BY doc_id
    """,
)
def docs_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kn_doc_scores(spark, sf_dir)


def _kn_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bigrams, avg_kn_logprob) — the KN scorer, shared
    verbatim by the readout gate above and the perplexity filter."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.split(F.trim(F.col("text")), _WS).alias("t"))
    )
    bigram_structs = F.expr(
        "transform(slice(t, 1, size(t) - 1),"
        " (x, i) -> struct(x AS w1, t[i + 1] AS w2))"
    )
    bg = (
        d.where(F.size("t") >= 2)
        .select("doc_id", F.explode(bigram_structs).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    bc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1w1"),
    )
    cont = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("nw2")
    )
    ntypes = bc.count()  # one scalar: distinct bigram types
    p = (
        F.greatest(F.col("c12") - F.lit(0.75), F.lit(0.0))
        + (
            (F.lit(0.75) * F.col("n1w1"))
            * (F.col("nw2").cast("double") / F.lit(ntypes))
        )
    ) / F.col("c1")
    micro_log = F.round(F.round(F.log(p), 6) * 1_000_000, 0).cast("long")
    scored = (
        bg.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .withColumn("micro_log", micro_log)
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("bigrams"),
        (
            F.sum("micro_log").cast("double")
            / (F.lit(1_000_000.0) * F.count(F.lit(1)))
        ).alias("avg_kn_logprob"),
    )


# --------------------------------------------------------------------------
# LM perplexity filter (round 11) — the curation step the KN scorer
# exists for on real pipelines (KenLM-style fluency gating, CCNet /
# Wenzek et al. 2020): rank every scorable document by its
# average KN log-probability and keep the top 80% (gibberish and
# boilerplate-shredded text score low). The keep count is exact
# integer arithmetic — keep_n = ceil(8n/10) = (8n + 9) DIV 10, never
# 0.8·n in floating point (0.8 is not exact binary; 0.8·450 rounds UP
# through ceil) — and ranking runs through the distributed selection
# operator (range repartition → per-bucket rank → broadcast offsets),
# not a partitionless window over the doc table. The sort key is the
# unrounded avg (an identical int64/int64 expression tree in both
# engines → bit-identical doubles), tie-broken by doc_id. Docs with
# fewer than two tokens have no bigrams, are unscorable, and are
# excluded — a production pipeline routes those to the length gate
# (docs_quality_score) instead.
@query(
    "docs_lm_perplexity_filter",
    oracle=f"""
    WITH {_KN_SCORED_CTES},
    docavg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS bigrams,
             CAST(SUM(micro_log) AS DOUBLE) / (1000000.0 * COUNT(*))
               AS avg_kn_logprob
      FROM scored GROUP BY doc_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docavg),
    ranked AS (
      SELECT doc_id, bigrams, avg_kn_logprob,
             ROW_NUMBER() OVER (
               ORDER BY avg_kn_logprob ASC, doc_id ASC) AS rk
      FROM docavg)
    SELECT r.doc_id, r.bigrams, r.avg_kn_logprob,
           CAST(r.rk > t.n - (8 * t.n + 9) // 10 AS BIGINT) AS kept
    FROM ranked r CROSS JOIN tot t
    """,
)
def docs_lm_perplexity_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fabric_claims_spark.operators.ranking import with_global_rank

    docavg = _kn_doc_scores(spark, sf_dir)
    ranked, n = with_global_rank(docavg, ["avg_kn_logprob", "doc_id"])
    keep_n = (8 * n + 9) // 10
    return ranked.select(
        "doc_id",
        F.col("bigrams").cast("long").alias("bigrams"),
        "avg_kn_logprob",
        (F.col("_rank") > F.lit(n - keep_n)).cast("long").alias("kept"),
    )


# --------------------------------------------------------------------------
# Positional phrase search — the inverted-index machinery the lexical
# serving store lacks: a positional postings table (word, doc_id, pos)
# answers exact-phrase queries by joining the phrase terms' postings
# on (doc_id, adjacent positions). The searched phrase is the corpus's
# own most frequent trigram (deterministic argmax, count DESC then
# lexicographic), so the gate is self-contained and non-empty at every
# scale.
#
# Scale notes (100 TB): a phrase lookup touches only the phrase
# terms' posting lists (in the stored index those are per-word
# buckets — the scan is |postings(w1)|+|postings(w2)|+|postings(w3)|,
# not corpus-sized), and the adjacency join is an equi-join on
# (doc_id, pos±k). Here the postings build is in-plan for the gate;
# production appends pos to operators/serving_index.apply_lexical
# postings and this query becomes three bucket reads + two joins.
_PHRASE_POSITIONAL_ORACLE = """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    post AS (
      SELECT doc_id, t[i] AS word, i AS pos
      FROM d, unnest(generate_series(1, len(t))) s(i)),
    tg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
      FROM d, unnest(generate_series(1, len(t) - 2)) s(i)
      WHERE len(t) >= 3),
    best AS (
      SELECT w1, w2, w3
      FROM (SELECT w1, w2, w3, COUNT(*) AS c FROM tg GROUP BY 1, 2, 3)
      ORDER BY c DESC, w1, w2, w3 LIMIT 1),
    m AS (
      SELECT p1.doc_id, b.w1, b.w2, b.w3
      FROM best b
      JOIN post p1 ON p1.word = b.w1
      JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
                  AND p2.word = b.w2
      JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
                  AND p3.word = b.w3)
    SELECT doc_id, w1 || ' ' || w2 || ' ' || w3 AS phrase,
           CAST(COUNT(*) AS BIGINT) AS occurrences
    FROM m GROUP BY 1, 2
    """


def _top_trigram(d: DataFrame) -> DataFrame:
    """The corpus's most frequent trigram as a one-row (w1, w2, w3)
    frame — deterministic argmax (count DESC then lexicographic).
    ``d`` is the (doc_id, t token-array) frame."""
    trigram_structs = F.expr(
        "transform(slice(t, 1, size(t) - 2),"
        " (x, i) -> struct(x AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"
    )
    tg = (
        d.where(F.size("t") >= 3)
        .select(F.explode(trigram_structs).alias("g"))
        .select("g.w1", "g.w2", "g.w3")
    )
    return (
        tg.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w1", "w2", "w3")
        .limit(1)
        .select("w1", "w2", "w3")
    )


@query("docs_phrase_search_positional", oracle=_PHRASE_POSITIONAL_ORACLE)
def docs_phrase_search_positional(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fabric_claims_spark.operators.serving_index import (
        phrase_occurrences,
        positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.split(F.trim(F.col("text")), _WS).alias("t")
    )
    post = positional_postings(docs)
    m = phrase_occurrences(post, _top_trigram(d))
    return m.groupBy(
        "doc_id", F.concat_ws(" ", "w1", "w2", "w3").alias("phrase")
    ).agg(F.count(F.lit(1)).alias("occurrences"))


# --------------------------------------------------------------------------
# n-term phrase search (round 11, VERDICT r10 item 5): the adjacency
# join generalized past the fixed trigram — one leg per phrase term,
# n bucket reads + n-1 (doc_id, pos±k) equi-joins. The gate searches
# the corpus's top BIGRAM and top 4-GRAM in one row set (phrase_len
# distinguishes them), both derived by the same deterministic argmax
# as the trigram twin, so the 2-term and 4-term paths are each
# visible in the hash. The 3-term gates (in-plan + served) are
# unchanged and keep pinning the original shape.


def _phrase_ngram_oracle_block(n: int) -> str:
    """One WITH-block chain computing the top n-gram's occurrence
    rows (doc_id, phrase, phrase_len, occurrences) — mirrors the
    trigram oracle with n join legs."""
    ws = [f"w{i}" for i in range(1, n + 1)]
    tg_cols = ", ".join(f"t[i + {k}] AS w{k + 1}" for k in range(n))
    legs = "\n      ".join(
        f"JOIN post{n} p{i} ON p{i}.doc_id = p1.doc_id "
        f"AND p{i}.pos = p1.pos + {i - 1} AND p{i}.word = b.w{i}"
        for i in range(2, n + 1)
    )
    b_ws = ", ".join(f"b.{w}" for w in ws)
    phrase = " || ' ' || ".join(ws)
    return f"""
    post{n} AS (
      SELECT doc_id, t[i] AS word, i AS pos
      FROM d, unnest(generate_series(1, len(t))) s(i)),
    tg{n} AS (
      SELECT {tg_cols}
      FROM d, unnest(generate_series(1, len(t) - {n - 1})) s(i)
      WHERE len(t) >= {n}),
    best{n} AS (
      SELECT {", ".join(ws)}
      FROM (SELECT {", ".join(ws)}, COUNT(*) AS c FROM tg{n}
            GROUP BY {", ".join(str(i) for i in range(1, n + 1))})
      ORDER BY c DESC, {", ".join(ws)} LIMIT 1),
    m{n} AS (
      SELECT p1.doc_id, {b_ws}
      FROM best{n} b
      JOIN post{n} p1 ON p1.word = b.w1
      {legs}),
    occ{n} AS (
      SELECT doc_id, {phrase} AS phrase,
             CAST({n} AS BIGINT) AS phrase_len,
             CAST(COUNT(*) AS BIGINT) AS occurrences
      FROM m{n} GROUP BY 1, 2)"""


_PHRASE_NGRAM_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    {_phrase_ngram_oracle_block(2)},
    {_phrase_ngram_oracle_block(4)}
    SELECT * FROM occ2 UNION ALL SELECT * FROM occ4
    """


def _top_ngram(d: DataFrame, n: int) -> DataFrame:
    """The corpus's most frequent n-gram as a one-row (w1, .., wn)
    frame — the trigram argmax generalized (count DESC then
    lexicographic). ``d`` is the (doc_id, t token-array) frame."""
    ws = [f"w{i}" for i in range(1, n + 1)]
    fields = ", ".join(
        ("x" if k == 0 else f"t[i + {k}]") + f" AS w{k + 1}"
        for k in range(n)
    )
    structs = F.expr(
        f"transform(slice(t, 1, size(t) - {n - 1}),"
        f" (x, i) -> struct({fields}))"
    )
    tg = (
        d.where(F.size("t") >= n)
        .select(F.explode(structs).alias("g"))
        .select(*(f"g.{w}" for w in ws))
    )
    return (
        tg.groupBy(*ws)
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), *ws)
        .limit(1)
        .select(*ws)
    )


@query("docs_phrase_search_ngram", oracle=_PHRASE_NGRAM_ORACLE)
def docs_phrase_search_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.operators.serving_index import (
        phrase_occurrences,
        positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.split(F.trim(F.col("text")), _WS).alias("t")
    )
    post = positional_postings(docs)
    out = None
    for n in (2, 4):
        ws = [f"w{i}" for i in range(1, n + 1)]
        g = (
            phrase_occurrences(post, _top_ngram(d, n))
            .groupBy("doc_id", F.concat_ws(" ", *ws).alias("phrase"))
            .agg(F.count(F.lit(1)).alias("occurrences"))
            .select(
                "doc_id",
                "phrase",
                F.lit(n).cast("long").alias("phrase_len"),
                "occurrences",
            )
        )
        out = g if out is None else out.unionByName(g)
    return out
