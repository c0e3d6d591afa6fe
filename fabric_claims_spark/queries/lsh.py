"""MinHash-LSH / SimHash queries, hash-checked against DuckDB.

The prod hash is xxhash64 (cheapest JVM-side hash; see
extensions/dedup.py), which DuckDB cannot reproduce — so the gate
queries here run the ``hasher='md5'`` variant instead: one md5 per
shingle/token folded to a 60-bit int (identical in both engines:
Spark ``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``), then an affine
universal-hash family mod 2^31-1 derives the per-slot hashes. All
intermediates stay under 2^63, which matters because DuckDB *errors*
on BIGINT overflow. The oracle SQL below is generated from the same
MH_A/MH_B constants the Spark side uses, so the driver gets a real
value-hash match instead of the rows-only fallback.

Signature vectors cross the gate as comma-joined strings: the
driver's canonicalizer sorts columns with pandas and cannot hash
list cells.

Every query here is hash-checked — including the winnowing overlap
pairs (k-gram hash → window MIN over positions → df-cutoff →
pair-count, all expressible in SQL with the same md5 fold). The only
rows-only query left in the whole registry is ``approx_aggregates``,
whose sketch internals legitimately differ across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fabric_claims_spark.extensions.dedup import (
    MH_A,
    MH_B,
    MH_PRIME,
    minhash_near_dups,
    minhash_signatures,
    simhash60_md5,
)
from fabric_claims_spark.queries import query
from fabric_claims_spark.sources.parquet import load_table

_NUM_HASHES = 64
_BANDS = 16
_K = 5

# DuckDB twin of extensions.dedup.md5_long(shingle) % MH_PRIME.
_SQL_BASE = "(('0x' || substr(md5(shingle),1,15))::BIGINT % 2147483647)"


def _sql_shingles_cte(src: str = "documents", name: str = "sh") -> str:
    """Char 5-gram generator matching extensions.dedup
    minhash_signatures (1-indexed substr over exploded positions).
    ``src`` lets callers point the chain at a prior CTE (e.g. the
    quality/exact-dedup survivors in the clean-corpus query);
    ``name`` disambiguates when one query needs two chains (the
    incremental corpus/batch split)."""
    return f"""{name} AS (
      SELECT doc, substr(text, pos, {_K}) AS shingle FROM (
        SELECT doc_id AS doc, text,
               unnest(generate_series(1, greatest(length(text) - {_K - 1}, 1))) AS pos
        FROM {src}))"""


def _sql_mins_cte(shsrc: str = "sh", name: str = "mins") -> str:
    terms = ",\n        ".join(
        f"MIN(({MH_A[i]} * {_SQL_BASE} + {MH_B[i]}) % {MH_PRIME}) AS h{i}"
        for i in range(_NUM_HASHES)
    )
    return f"{name} AS (\n      SELECT doc,\n        {terms}\n      FROM {shsrc} GROUP BY doc)"


def _signatures_oracle() -> str:
    cols = ", ".join(f"h{i}" for i in range(_NUM_HASHES))
    return f"""
    WITH {_sql_shingles_cte()},
    {_sql_mins_cte()}
    SELECT doc, concat_ws(',', {cols}) AS sig FROM mins
    """


def _neardup_ctes(bucket_cap: int = 64, src: str = "documents") -> str:
    """CTE chain producing ``est(doc_a, doc_b, est_jaccard)`` — shared
    by the pair query, the cluster query, and the clean-corpus query
    so every gate checks the exact same candidate pipeline."""
    rows = _NUM_HASHES // _BANDS
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc, {b} AS band_idx, concat_ws(',', {cols}) AS bk FROM mins".format(
            b=b,
            cols=", ".join(f"h{b * rows + i}" for i in range(rows)),
        )
        for b in range(_BANDS)
    )
    eq_sum = " + ".join(
        f"CAST(ma.h{i} = mb.h{i} AS INT)" for i in range(_NUM_HASHES)
    )
    return f"""{_sql_shingles_cte(src)},
    {_sql_mins_cte()},
    bands AS (
      {band_selects}),
    bands_capped AS (
      SELECT doc, band_idx, bk FROM (
        SELECT doc, band_idx, bk,
               COUNT(*) OVER (PARTITION BY band_idx, bk) AS bs
        FROM bands)
      WHERE bs <= {bucket_cap}),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bands_capped a JOIN bands_capped b
        ON a.band_idx = b.band_idx AND a.bk = b.bk AND a.doc < b.doc),
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST({eq_sum} AS DOUBLE) / {_NUM_HASHES} AS est_jaccard
      FROM cand c
      JOIN mins ma ON ma.doc = c.doc_a
      JOIN mins mb ON mb.doc = c.doc_b)"""


def _neardup_oracle(threshold: float = 0.5, bucket_cap: int = 64) -> str:
    return f"""
    WITH {_neardup_ctes(bucket_cap)}
    SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}
    """


def _dup_clusters_oracle(threshold: float = 0.5) -> str:
    """Near-dup pairs → connected components via a recursive CTE
    (min reachable label), the SQL twin of
    extensions.graph.connected_components over the same edge set."""
    return f"""
    WITH RECURSIVE {_neardup_ctes()},
    pairs AS (
      SELECT doc_a, doc_b FROM est WHERE est_jaccard >= {threshold}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(node, lab) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
    comp AS (
      SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node)
    SELECT node AS doc, cluster,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT)
             AS cluster_size,
           CAST(node = cluster AS BIGINT) AS is_canonical
    FROM comp
    """


def _simhash_ctes() -> str:
    """CTE chain ending in ``sh(doc, simhash)`` — the DuckDB twin of
    extensions.dedup.simhash60_md5, shared by the signature query and
    the Hamming-banded pair query."""
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    acc = " + ".join(f"CASE WHEN b{i} > 0 THEN {2**i} ELSE 0 END" for i in range(60))
    return rf"""toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents),
    hs AS (
      SELECT doc, ('0x' || substr(md5(tok),1,15))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc,
        {votes}
      FROM hs GROUP BY doc),
    sh AS (
      SELECT doc, CAST({acc} AS BIGINT) AS simhash FROM votes)"""


def _simhash_oracle() -> str:
    return f"""
    WITH {_simhash_ctes()}
    SELECT doc, simhash FROM sh
    """


_SH_BANDS = 4
_SH_BITS = 15
_SH_MAX_HAMMING = 3
_SH_BUCKET_CAP = 64


def _simhash_neardup_oracle() -> str:
    """DuckDB twin of extensions.dedup.simhash_band_pairs over the
    simhash60_md5 signatures (same banding, same bucket cap, same
    exact-Hamming verify)."""
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc, {b} AS band_idx, "
        f"(simhash >> {b * _SH_BITS}) & {2**_SH_BITS - 1} AS bv FROM sh"
        for b in range(_SH_BANDS)
    )
    return f"""
    WITH {_simhash_ctes()},
    bnd AS (
      {band_selects}),
    capped AS (
      SELECT doc, band_idx, bv FROM (
        SELECT doc, band_idx, bv,
               COUNT(*) OVER (PARTITION BY band_idx, bv) AS bs
        FROM bnd)
      WHERE bs <= {_SH_BUCKET_CAP}),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.bv = b.bv AND a.doc < b.doc)
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN sh x ON x.doc = c.doc_a
    JOIN sh y ON y.doc = c.doc_b
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {_SH_MAX_HAMMING}
    """


@query("docs_minhash_neardup", oracle=_neardup_oracle(0.5))
def docs_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle → minhash → band → bucket-join near-dup pairs
    (same-vocabulary synthetic docs produce a tight band of
    high-overlap pairs; threshold 0.5 keeps the genuinely-similar
    tail). md5 hasher so the DuckDB oracle hash-matches."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dups(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        hasher="md5",
    ).orderBy("doc_a", "doc_b")


@query("docs_dup_clusters", oracle=_dup_clusters_oracle(0.5))
def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group assignment: LSH near-dup pairs → connected
    components → (doc, cluster, cluster_size, is_canonical). The
    canonical doc (minimum id in its component) is the survivor a
    keep-one-per-group dedup would retain; everything else is
    droppable. Components via iterative min-label propagation
    (extensions/graph.py — one shuffle join per round, rounds =
    component diameter)."""
    from fabric_claims_spark.extensions.graph import connected_components
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dups(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        hasher="md5",
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    w = Window.partitionBy("cluster")
    return (
        comp.select(F.col("node").alias("doc"), "cluster")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn(
            "is_canonical", (F.col("doc") == F.col("cluster")).cast("long")
        )
        .orderBy("doc")
    )


@query("docs_simhash", oracle=_simhash_oracle())
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit cross-engine SimHash per document (near-dup via small
    Hamming distance). Prod 64-bit xxhash64 variant:
    extensions.dedup.simhash64."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash60_md5(docs, "doc_id", "text").orderBy("doc")


@query("docs_simhash_neardup", oracle=_simhash_neardup_oracle())
def docs_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via Hamming-distance LSH banding: the
    60-bit signature is cut into 4×15-bit chunks; pigeonhole
    guarantees every pair at Hamming ≤ 3 shares a chunk, so the
    self-join is keyed on (band, chunk-value) with the same hot-bucket
    cap as the MinHash path (extensions.dedup.simhash_band_pairs).
    Completes the dedup family: exact → MinHash (set overlap) →
    SimHash (bit-level drift) → Jaccard-verified pairs."""
    from fabric_claims_spark.extensions.dedup import simhash_band_pairs

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash60_md5(docs, "doc_id", "text")
    return simhash_band_pairs(
        sigs,
        bands=_SH_BANDS,
        bits=_SH_BITS,
        max_hamming=_SH_MAX_HAMMING,
        bucket_cap=_SH_BUCKET_CAP,
    ).orderBy("doc_a", "doc_b")


def _winnow_oracle(
    k: int = 16, window: int = 8, min_shared: int = 4, max_doc_freq: int = 10
) -> str:
    """DuckDB twin of extensions.text.winnow_overlap_pairs with
    hasher='md5': same k-gram hash, same window minima (full windows
    only + degenerate-doc branch), same distinct/df-cutoff/pair-count
    pipeline."""
    return f"""
    WITH ph AS (
      SELECT doc, n, pos,
             ('0x' || substr(md5(substr(text, pos, {k})),1,15))::BIGINT AS h
      FROM (
        SELECT doc_id AS doc, text,
               greatest(length(text) - {k - 1}, 1) AS n,
               unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS pos
        FROM documents)),
    fps AS (
      SELECT DISTINCT doc, fp FROM (
        SELECT doc, pos, n,
               MIN(h) OVER (PARTITION BY doc ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp
        FROM ph)
      WHERE pos <= n - {window} + 1
      UNION
      SELECT doc, MIN(h) AS fp FROM ph WHERE n <= {window} GROUP BY doc),
    rare AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {max_doc_freq}),
    pr AS (
      SELECT f.doc, f.fp FROM fps f JOIN rare USING (fp))
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           COUNT(*) AS shared_fingerprints
    FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc < b.doc
    GROUP BY 1, 2
    HAVING COUNT(*) >= {min_shared}
    """


@query("docs_winnow_overlap", oracle=_winnow_oracle())
def docs_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint overlap pairs (k-gram hashes, window
    minima — substring-overlap guarantee the MinHash estimate lacks).
    md5 hasher so the DuckDB oracle hash-matches; prod default stays
    xxhash64."""
    from fabric_claims_spark.extensions.text import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    # long grams + df-cutoff: this corpus's shared vocabulary makes
    # short substrings corpus-common (hot-key join bombs)
    return winnow_overlap_pairs(
        docs,
        "doc_id",
        "text",
        k=16,
        window=8,
        min_shared=4,
        max_doc_freq=10,
        hasher="md5",
    ).orderBy("doc_a", "doc_b")


@query("docs_minhash_signatures", oracle=_signatures_oracle())
def docs_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (doc → 64 min-hash slots), surfaced as
    a comma-joined string for the gate canonicalizer."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, hasher="md5"
    )
    return sigs.select(
        "doc", F.array_join(F.col("sig").cast("array<string>"), ",").alias("sig")
    ).orderBy("doc")


# --------------------------------------------------------------------------
# The end-to-end corpus-cleaning composition — the pipeline an LLM
# training run actually executes, as ONE oracle-checked operator:
# quality filter → exact dedup (content-hash canonical) → near-dup
# clustering over the survivors (MinHash-LSH pairs → connected
# components) → every document labeled kept / quality_filtered /
# exact_dup / near_dup with its FINAL surviving canonical (exact-dup
# canonicals that themselves lose the near-dup vote resolve
# transitively to the cluster survivor).
_CLEAN_MIN_CHARS = 100
_CLEAN_MIN_ALPHA = 0.5
_CLEAN_THRESHOLD = 0.5
# label-broadcast gate: 1M (node, cluster) long-pairs ≈ 16 MB payload
# (well under any executor budget); above it the label joins shuffle
_CLEAN_LABEL_BROADCAST_MAX = 1_000_000


def _clean_corpus_oracle() -> str:
    return f"""
    WITH RECURSIVE ql AS (
      SELECT doc_id, text FROM documents
      WHERE length(text) >= {_CLEAN_MIN_CHARS}
        AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            / length(text) > {_CLEAN_MIN_ALPHA}),
    ex AS (
      SELECT doc_id, text,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_canon
      FROM ql),
    surv AS (
      SELECT doc_id, text FROM ex WHERE doc_id = exact_canon),
    {_neardup_ctes(src="surv")},
    prs AS (
      SELECT doc_a, doc_b FROM est WHERE est_jaccard >= {_CLEAN_THRESHOLD}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs),
    reach(node, lab) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
    comp AS (
      SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node)
    SELECT d.doc_id,
      CASE
        WHEN e.doc_id IS NULL THEN 'quality_filtered'
        WHEN e.doc_id != e.exact_canon THEN 'exact_dup'
        WHEN c.cluster IS NOT NULL AND c.cluster != d.doc_id THEN 'near_dup'
        ELSE 'kept'
      END AS status,
      CAST(CASE
        WHEN e.doc_id IS NULL THEN NULL
        WHEN e.doc_id != e.exact_canon THEN COALESCE(c2.cluster, e.exact_canon)
        WHEN c.cluster IS NOT NULL THEN c.cluster
        ELSE d.doc_id
      END AS BIGINT) AS canonical_doc_id
    FROM documents d
    LEFT JOIN ex e ON e.doc_id = d.doc_id
    LEFT JOIN comp c ON c.node = d.doc_id
    LEFT JOIN comp c2 ON c2.node = e.exact_canon
    """


@query("docs_clean_corpus", oracle=_clean_corpus_oracle())
def docs_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning end-to-end. Scale shape: the quality filter and
    exact dedup are one scan + one hash window; LSH pairs only ever
    form over the deduped survivors (never the raw corpus); the
    component labels join back onto the corpus by doc_id with a
    COUNT-GATED broadcast — the label frame is proportional to the
    near-dup population (commonly 20-50% of an LLM corpus), so it is
    localCheckpoint-materialized (distributed, once — it feeds BOTH
    label joins, and the iterative lineage would otherwise recompute
    per join), its exact row count read off the materialized copy
    (metadata-cheap), and the broadcast hint applied ONLY under
    _CLEAN_LABEL_BROADCAST_MAX rows. The gate exists because a
    checkpointed frame is a LogicalRDD with unknown stats: the
    planner assumes worst-case size and always shuffles, even for a
    100-row label set. An unconditional hint OOMs
    at high dup rates; the measured gate is scale-safe at both ends."""
    from fabric_claims_spark.extensions.graph import connected_components
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    alpha = (
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
        / F.length("text")
    )
    ql = docs.where(
        (F.length("text") >= _CLEAN_MIN_CHARS) & (alpha > _CLEAN_MIN_ALPHA)
    ).select("doc_id", "text")
    ex = ql.withColumn(
        "exact_canon", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    )
    surv = ex.where(F.col("doc_id") == F.col("exact_canon")).select(
        "doc_id", "text"
    )
    pairs = minhash_near_dups(
        surv,
        "doc_id",
        "text",
        threshold=_CLEAN_THRESHOLD,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        hasher="md5",
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b").localCheckpoint()

    e = ex.select("doc_id", "exact_canon")
    c = comp.select(F.col("node").alias("doc_id"), "cluster")
    c2 = comp.select(
        F.col("node").alias("exact_canon"), F.col("cluster").alias("canon_cluster")
    )
    # count the materialized labels (cheap) and broadcast only when
    # the frame is measured-small — see docstring
    if comp.count() <= _CLEAN_LABEL_BROADCAST_MAX:
        c, c2 = F.broadcast(c), F.broadcast(c2)
    out = (
        docs.select("doc_id")
        .join(e, "doc_id", "left")
        .join(c, "doc_id", "left")
        .join(c2, "exact_canon", "left")
    )
    status = (
        F.when(F.col("exact_canon").isNull(), "quality_filtered")
        .when(F.col("doc_id") != F.col("exact_canon"), "exact_dup")
        .when(
            F.col("cluster").isNotNull() & (F.col("cluster") != F.col("doc_id")),
            "near_dup",
        )
        .otherwise("kept")
    )
    canonical = (
        F.when(F.col("exact_canon").isNull(), F.lit(None))
        .when(
            F.col("doc_id") != F.col("exact_canon"),
            F.coalesce("canon_cluster", "exact_canon"),
        )
        .when(F.col("cluster").isNotNull(), F.col("cluster"))
        .otherwise(F.col("doc_id"))
        .cast("long")
    )
    return out.select(
        "doc_id", status.alias("status"), canonical.alias("canonical_doc_id")
    )


# --------------------------------------------------------------------------
# Incremental dedup: a new crawl batch against the existing corpus —
# batch-sized work against precomputable corpus keys (content hash,
# band table), never a corpus rescan. The gate fixture splits the
# documents table by doc_id mod: ~4/5 plays the stored corpus, ~1/5
# the arriving batch.
_INC_MOD = 5
_INC_THRESHOLD = 0.5


def _incremental_oracle(threshold: float = _INC_THRESHOLD, cap: int = 64) -> str:
    rows = _NUM_HASHES // _BANDS

    def band_sel(mins: str) -> str:
        return "\n      UNION ALL ".join(
            "SELECT doc, {b} AS band_idx, concat_ws(',', {cols}) AS bk FROM {m}".format(
                b=b,
                cols=", ".join(f"h{b * rows + i}" for i in range(rows)),
                m=mins,
            )
            for b in range(_BANDS)
        )

    eq_sum = " + ".join(
        f"CAST(ma.h{i} = mb.h{i} AS INT)" for i in range(_NUM_HASHES)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_INC_MOD} != 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_INC_MOD} = 0),
    ex AS (
      SELECT b.doc_id AS doc, MIN(c.doc_id) AS m
      FROM batch b JOIN corpus c ON md5(b.text) = md5(c.text)
      GROUP BY 1),
    {_sql_shingles_cte("corpus", "shc")},
    {_sql_mins_cte("shc", "minsc")},
    {_sql_shingles_cte("batch", "shb")},
    {_sql_mins_cte("shb", "minsb")},
    bandsc AS (
      {band_sel("minsc")}),
    bandsc_capped AS (
      SELECT doc, band_idx, bk FROM (
        SELECT doc, band_idx, bk,
               COUNT(*) OVER (PARTITION BY band_idx, bk) AS bs
        FROM bandsc)
      WHERE bs <= {cap}),
    bandsb AS (
      {band_sel("minsb")}),
    cand AS (
      SELECT DISTINCT b.doc AS doc, c.doc AS cdoc
      FROM bandsb b JOIN bandsc_capped c
        ON b.band_idx = c.band_idx AND b.bk = c.bk),
    nr AS (
      SELECT cand.doc, MIN(cand.cdoc) AS m
      FROM cand
      JOIN minsb ma ON ma.doc = cand.doc
      JOIN minsc mb ON mb.doc = cand.cdoc
      WHERE CAST({eq_sum} AS DOUBLE) / {_NUM_HASHES} >= {threshold}
      GROUP BY 1)
    SELECT b.doc_id,
      CASE WHEN e.m IS NOT NULL THEN 'exact_dup'
           WHEN n.m IS NOT NULL THEN 'near_dup'
           ELSE 'new' END AS status,
      CAST(COALESCE(e.m, n.m) AS BIGINT) AS match_id
    FROM batch b
    LEFT JOIN ex e ON e.doc = b.doc_id
    LEFT JOIN nr n ON n.doc = b.doc_id
    """


@query("docs_incremental_dedup", oracle=_incremental_oracle())
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup (extensions/dedup.py:incremental_dedup):
    exact via content-hash equi-join, near via the batch band keys
    joined against the (capped) corpus band table — batch-sized work;
    at 100 TB the corpus sides are stored tables bucketed on their
    join keys, so only the batch shuffles. md5 hasher for the DuckDB
    twin."""
    from fabric_claims_spark.extensions.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.pmod("doc_id", _INC_MOD) != 0)
    batch = docs.where(F.pmod("doc_id", _INC_MOD) == 0)
    return incremental_dedup(
        corpus,
        batch,
        "doc_id",
        "text",
        threshold=_INC_THRESHOLD,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        hasher="md5",
    )


# --------------------------------------------------------------------------
# Train/test leakage probe — the check every LLM data pipeline needs
# after splitting: near-duplicate pairs that STRADDLE a train/val/test
# boundary leak evaluation data into training. Composes the SimHash
# band-LSH pair generator with the deterministic hash-split
# assignment; because the split is a pure function of the doc id, the
# splits of both endpoints are derived in-projection — no extra join
# beyond the pair generator itself.
@query(
    "docs_split_leakage",
    oracle=f"""
    SELECT p.doc_a, p.doc_b, p.hamming,
           sa.split AS split_a, sb.split AS split_b,
           CAST(sa.split <> sb.split AS BIGINT) AS is_leak
    FROM ({_simhash_neardup_oracle()}) p
    JOIN (SELECT doc_id, CASE
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                 % 100 < 80 THEN 'train'
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                 % 100 < 90 THEN 'val'
            ELSE 'test' END AS split FROM documents) sa
      ON p.doc_a = sa.doc_id
    JOIN (SELECT doc_id, CASE
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                 % 100 < 80 THEN 'train'
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                 % 100 < 90 THEN 'val'
            ELSE 'test' END AS split FROM documents) sb
      ON p.doc_b = sb.doc_id
    ORDER BY p.doc_a, p.doc_b
    """,
)
def docs_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.dedup import (
        md5_long,
        simhash_band_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash60_md5(docs, "doc_id", "text")
    pairs = simhash_band_pairs(
        sigs,
        bands=_SH_BANDS,
        bits=_SH_BITS,
        max_hamming=_SH_MAX_HAMMING,
        bucket_cap=_SH_BUCKET_CAP,
    )

    def split_of(c):
        b = (md5_long(c.cast("string")) % 100).cast("long")
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    return pairs.select(
        "doc_a",
        "doc_b",
        "hamming",
        split_of(F.col("doc_a")).alias("split_a"),
        split_of(F.col("doc_b")).alias("split_b"),
        (split_of(F.col("doc_a")) != split_of(F.col("doc_b")))
        .cast("bigint")
        .alias("is_leak"),
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# Sketch-quality evaluation for MinHash — per near-dup candidate pair,
# the 64-slot estimate vs the EXACT shingle Jaccard, in-engine (the
# dedup twin of embeddings_ann_recall): a pipeline tunes bands/rows
# against measured estimation error instead of faith. The exact
# overlap joins shingle sets only for the surviving pairs (pair list
# broadcast — tiny by construction), so the exact pass costs
# O(pair-doc shingles), never a corpus self-join.
@query(
    "docs_minhash_estimate_error",
    oracle=f"""
    WITH {_neardup_ctes()},
    pairs AS (
      SELECT doc_a, doc_b, est_jaccard FROM est
      WHERE est_jaccard >= 0.5),
    ds AS (SELECT DISTINCT doc, shingle FROM sh),
    sz AS (SELECT doc, COUNT(*) AS nsh FROM ds GROUP BY 1),
    ov AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
      FROM pairs p
      JOIN ds a ON a.doc = p.doc_a
      JOIN ds b ON b.doc = p.doc_b AND a.shingle = b.shingle
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b,
           ROUND(p.est_jaccard, 6) AS est_jaccard,
           ROUND(CAST(o.inter AS DOUBLE)
                 / (sa.nsh + sb.nsh - o.inter), 6) AS exact_jaccard,
           ROUND(ABS(p.est_jaccard
                     - CAST(o.inter AS DOUBLE)
                       / (sa.nsh + sb.nsh - o.inter)), 6) AS abs_err
    FROM pairs p
    JOIN ov o ON o.doc_a = p.doc_a AND o.doc_b = p.doc_b
    JOIN sz sa ON sa.doc = p.doc_a
    JOIN sz sb ON sb.doc = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """,
)
def docs_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The pair list is consumed TWICE (broadcast into the overlap
    # join, then the final estimate join). ReuseExchange happens to
    # deduplicate the two identical subplans today (A/B measured:
    # same runtime either way), but that reuse is an optimizer
    # accident a refactor can silently break; the tiny survivor frame
    # is localCheckpoint-ed once so single-execution is structural
    # (same contract as docs_clean_corpus' component labels).
    pairs = (
        minhash_near_dups(
            docs, "doc_id", "text",
            threshold=0.5, num_hashes=_NUM_HASHES, bands=_BANDS, hasher="md5",
        )
        .select("doc_a", "doc_b", "est_jaccard")
        .localCheckpoint()
    )
    # only pair-participating docs ever feed the exact pass (ov and
    # sz consume pair endpoints alone), so the shingle explode +
    # DISTINCT runs over the tiny survivor-doc slice, not the whole
    # corpus — a broadcast semi-join BEFORE the explode (the oracle
    # shingles everything and joins down; identical results)
    pair_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ds = (
        docs.join(F.broadcast(pair_docs), "doc_id", "left_semi")
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("text") - (_K - 1), F.lit(1)),
                )
            ).alias("pos"),
            "text",
        )
        .select("doc", F.expr(f"substr(text, pos, {_K})").alias("shingle"))
        .distinct()
    )
    sz = ds.groupBy("doc").agg(F.count(F.lit(1)).alias("nsh"))
    pa = F.broadcast(pairs)
    ov = (
        ds.join(pa, ds["doc"] == pa["doc_a"])
        .select("doc_a", "doc_b", "shingle")
        .join(
            ds.select(
                F.col("doc").alias("doc_b2"),
                F.col("shingle").alias("shingle2"),
            ),
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("shingle") == F.col("shingle2")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = F.broadcast(
        sz.select(F.col("doc"), F.col("nsh").alias("nsh_a"))
    )
    sb = F.broadcast(
        sz.select(F.col("doc"), F.col("nsh").alias("nsh_b"))
    )
    exact = F.col("inter").cast("double") / (
        F.col("nsh_a") + F.col("nsh_b") - F.col("inter")
    )
    return (
        pairs.join(ov, ["doc_a", "doc_b"])
        .join(sa, F.col("doc_a") == sa["doc"])
        .drop("doc")
        .join(sb, F.col("doc_b") == sb["doc"])
        .select(
            "doc_a",
            "doc_b",
            F.round("est_jaccard", 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Quality × duplication calibration — the data-centric sanity check
# "are the documents my quality filter keeps also the ones the
# near-dup detector flags?": quality flag (the docs_quality_score
# rule, verbatim) crossed with SimHash near-dup membership, with the
# dup rate per bucket. Dup membership is the distinct union of pair
# endpoints — bounded by the pair output, attached as a broadcast
# left join flag, never a corpus self-join.
@query(
    "docs_quality_dup_calibration",
    oracle=f"""
    WITH p AS ({_simhash_neardup_oracle()}),
    dup AS (
      SELECT doc_a AS doc FROM p UNION SELECT doc_b AS doc FROM p),
    q AS (
      SELECT doc_id,
        CASE WHEN length(text) >= 100
              AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                       AS DOUBLE) / length(text) > 0.5
             THEN 'keep' ELSE 'filter' END AS quality_flag
      FROM documents WHERE length(text) > 0)
    SELECT q.quality_flag,
           CAST(dup.doc IS NOT NULL AS BIGINT) AS is_dup,
           COUNT(*) AS docs,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY q.quality_flag)
             AS share_of_flag
    FROM q LEFT JOIN dup ON q.doc_id = dup.doc
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def docs_quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from fabric_claims_spark.extensions.dedup import simhash_band_pairs

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash60_md5(docs, "doc_id", "text")
    pairs = simhash_band_pairs(
        sigs,
        bands=_SH_BANDS,
        bits=_SH_BITS,
        max_hamming=_SH_MAX_HAMMING,
        bucket_cap=_SH_BUCKET_CAP,
    )
    dup = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    alpha = F.length(
        F.regexp_replace("text", "[^a-zA-Z]", "")
    ).cast("double") / F.length("text")
    q = docs.where(F.length("text") > 0).select(
        "doc_id",
        F.when((F.length("text") >= 100) & (alpha > 0.5), "keep")
        .otherwise("filter")
        .alias("quality_flag"),
    )
    flagged = q.join(
        F.broadcast(dup), q["doc_id"] == dup["doc"], "left"
    ).select(
        "quality_flag",
        F.col("doc").isNotNull().cast("bigint").alias("is_dup"),
    )
    g = flagged.groupBy("quality_flag", "is_dup").agg(
        F.count(F.lit(1)).alias("docs")
    )
    w = W.partitionBy("quality_flag")
    return g.select(
        "quality_flag",
        "is_dup",
        "docs",
        (F.col("docs").cast("double") / F.sum("docs").over(w)).alias(
            "share_of_flag"
        ),
    ).orderBy("quality_flag", "is_dup")


# --------------------------------------------------------------------------
# The curation funnel — the shape a production training-data pipeline
# actually runs: raw corpus → exact dedup (content-hash canonical) →
# MinHash-LSH near-dup prune (greedy lower-id keep among exact
# survivors), with one attrition row per stage. Composes the two
# oracle-proven dedup stages end-to-end so the FUNNEL itself (stage
# ordering, survivor joins) is hash-checked, not just the parts.
# Scale shape: each stage is the already-audited plan (hash-group,
# banded LSH) run over the PREVIOUS stage's survivors — the whole
# point of a funnel: the LSH signature pass shingles+hashes only the
# exact survivors, so signature work scales with the deduped corpus,
# not the raw one (on a crawl corpus with 50% exact copies that
# halves the most expensive stage). Equivalent to LSH-over-raw +
# survivor post-filter because exact copies carry identical text and
# hence identical signatures — except where a band bucket exceeds
# bucket_cap only because duplicate copies padded it; running on
# survivors keeps such buckets (a strict recall improvement). The
# oracle runs the same order: exact dedup first, CTE chain over the
# survivor docs.
@query(
    "docs_dedup_cascade",
    oracle=f"""
    WITH es AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    sdocs AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN es ON es.doc_id = d.doc_id),
    {_neardup_ctes(src="sdocs")},
    drp AS (
      SELECT DISTINCT doc_b AS doc_id FROM est
      WHERE est_jaccard >= 0.5),
    ns AS (
      SELECT doc_id FROM es
      WHERE doc_id NOT IN (SELECT doc_id FROM drp))
    SELECT CAST(0 AS BIGINT) AS stage_idx, '0_raw' AS stage,
           (SELECT COUNT(*) FROM documents) AS docs_remaining
    UNION ALL
    SELECT CAST(1 AS BIGINT), '1_exact', (SELECT COUNT(*) FROM es)
    UNION ALL
    SELECT CAST(2 AS BIGINT), '2_near_dup', (SELECT COUNT(*) FROM ns)
    ORDER BY stage_idx
    """,
)
def docs_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact_surv = docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id")
    )
    surv_docs = docs.join(exact_surv.select("doc_id"), "doc_id", "semi")
    pairs = minhash_near_dups(
        surv_docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        hasher="md5",
    ).select("doc_a", "doc_b")
    # every pair's endpoints are exact survivors by construction;
    # greedy lower-id keep drops doc_b
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    near_surv = exact_surv.join(dropped, "doc_id", "left_anti")

    def stage(idx: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count(F.lit(1)).alias("docs_remaining")).select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "docs_remaining",
        )

    return (
        stage(0, "0_raw", docs)
        .unionByName(stage(1, "1_exact", exact_surv))
        .unionByName(stage(2, "2_near_dup", near_surv))
        .orderBy("stage_idx")
    )


# --------------------------------------------------------------------------
# Quality-aware survivorship: within each near-dup cluster, the doc a
# curation pipeline KEEPS should be the best one, not the lowest id —
# here the longest (n_chars; ties to the smaller id for determinism).
# The golden-records pattern (customers_golden_records) applied to
# the text-dedup clusters.
@query(
    "docs_cluster_quality_canonicals",
    oracle=f"""
    WITH RECURSIVE {_neardup_ctes()},
    pairs AS (
      SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(node, lab) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
    comp AS (
      SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node)
    SELECT cluster, canonical_doc, cluster_size, canonical_chars
    FROM (
      SELECT c.cluster, d.doc_id AS canonical_doc,
             d.n_chars AS canonical_chars,
             COUNT(*) OVER (PARTITION BY c.cluster) AS cluster_size,
             ROW_NUMBER() OVER (
               PARTITION BY c.cluster
               ORDER BY d.n_chars DESC, d.doc_id) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.node)
    WHERE rn = 1
    ORDER BY cluster
    """,
)
def docs_cluster_quality_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.graph import connected_components
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dups(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        hasher="md5",
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    joined = comp.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = Window.partitionBy("cluster")
    rn = Window.partitionBy("cluster").orderBy(
        F.col("n_chars").desc(), F.col("node").asc()
    )
    return (
        joined.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(rn))
        .where(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("node").alias("canonical_doc"),
            "cluster_size",
            F.col("n_chars").alias("canonical_chars"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# MinHash-LSH QUALITY gate — the docs-side twin of
# embeddings_semdedup_recall(_mp): the near-dup hashes prove the
# banded pipeline is deterministic, not that it FINDS the true
# near-dup pairs. This eval measures end-to-end recall against exact
# shingle-set Jaccard ground truth over a fixed cohort
# (doc_id < _MH_RECALL_COHORT — constant-cost at any corpus size; the
# exact pair scan is an eval-harness computation, never a production
# path). Two recall columns separate the two loss mechanisms:
#   recall_band — true pairs surviving band-bucket candidate
#                 generation (banding misses: 1-(1-s^r)^b theory,
#                 r=4 rows × b=16 bands here);
#   recall_e2e  — true pairs ALSO clearing the 64-slot signature
#                 estimate >= threshold (estimator variance adds
#                 misses near the threshold; ~zero at high sim).
# recall_hi pins the guarantee that matters for dedup: pairs at
# jaccard >= 0.8 must essentially all survive (theory: 0.9998).
_MH_RECALL_COHORT = 512
_MH_RECALL_HI = 0.8


@query(
    "docs_minhash_recall",
    oracle=f"""
    WITH co AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id < {_MH_RECALL_COHORT} AND length(trim(text)) > 0),
    {_neardup_ctes(64, "co")},
    ds AS (SELECT DISTINCT doc, shingle FROM sh),
    sz AS (SELECT doc, COUNT(*) AS n FROM ds GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
      FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2),
    truth AS (
      SELECT i.doc_a, i.doc_b,
             ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jac
      FROM inter i
      JOIN sz sa ON sa.doc = i.doc_a
      JOIN sz sb ON sb.doc = i.doc_b
      WHERE ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) >= 0.5),
    e2e AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5)
    SELECT CAST(0.5 AS DOUBLE) AS threshold,
           CAST(COUNT(*) AS BIGINT) AS true_pairs,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS band_hits,
           CAST(SUM(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS e2e_hits,
           ROUND(CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall_band,
           ROUND(CAST(SUM(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall_e2e,
           CAST(SUM(CASE WHEN t.jac >= {_MH_RECALL_HI} THEN 1 ELSE 0 END)
                AS BIGINT) AS hi_true,
           CAST(SUM(CASE WHEN t.jac >= {_MH_RECALL_HI}
                          AND e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hi_e2e,
           ROUND(CAST(SUM(CASE WHEN t.jac >= {_MH_RECALL_HI}
                               AND e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN t.jac >= {_MH_RECALL_HI}
                              THEN 1 ELSE 0 END), 0), 6) AS recall_hi
    FROM truth t
    LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    LEFT JOIN e2e e ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b
    """,
)
def docs_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.caching import tracked_cache
    from fabric_claims_spark.extensions.dedup import (
        _minhash_mins,
        _shingle_frame,
        band,
        bucket_pairs,
        cap_buckets,
        minhash_band_keys,
        minhash_verify,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") < _MH_RECALL_COHORT)
        & (F.length(F.trim(F.col("text"))) > 0)
    )
    # shingles feed BOTH the signature pipeline under test and the
    # exact ground truth — cache so the corpus scans once
    sh = tracked_cache(_shingle_frame(docs, "doc_id", "text", _K, "char"))
    mins = tracked_cache(_minhash_mins(sh, _NUM_HASHES, "md5"))

    # the production candidate pipeline (minhash_near_dups' blocking),
    # kept apart from its verify so band recall is measured too
    keys = minhash_band_keys(_NUM_HASHES, _BANDS, "md5")
    cand = bucket_pairs(cap_buckets(band(mins, "doc", keys), 64), "doc")
    e2e = minhash_verify(cand, mins, mins, _NUM_HASHES, 0.5).select(
        "doc_a", "doc_b"
    )

    # exact ground truth over the cohort (eval-harness cost, C(n,2)
    # bounded by the fixed cohort — same justification as the
    # semdedup recall cohort)
    ds = sh.distinct()
    sz = ds.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    ia = ds.select(F.col("doc").alias("doc_a"), "shingle")
    ib = ds.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        ia.join(ib, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.round(
        F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")),
        6,
    )
    truth = (
        inter.join(sz.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn("jac", jac)
        .where(F.col("jac") >= 0.5)
        .select("doc_a", "doc_b", "jac")
    )

    flagged = (
        truth.join(
            cand.withColumn("_band", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .join(e2e.withColumn("_e2e", F.lit(1)), ["doc_a", "doc_b"], "left")
    )
    hi = F.col("jac") >= F.lit(_MH_RECALL_HI)
    band_hit = F.col("_band").isNotNull()
    e2e_hit = F.col("_e2e").isNotNull()
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("true_pairs"),
        F.sum(F.when(band_hit, 1).otherwise(0)).cast("bigint").alias("band_hits"),
        F.sum(F.when(e2e_hit, 1).otherwise(0)).cast("bigint").alias("e2e_hits"),
        F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("hi_true"),
        F.sum(F.when(hi & e2e_hit, 1).otherwise(0)).cast("bigint").alias("hi_e2e"),
    ).select(
        F.lit(0.5).alias("threshold"),
        "true_pairs",
        "band_hits",
        "e2e_hits",
        F.round(
            F.col("band_hits").cast("double") / F.col("true_pairs"), 6
        ).alias("recall_band"),
        F.round(
            F.col("e2e_hits").cast("double") / F.col("true_pairs"), 6
        ).alias("recall_e2e"),
        "hi_true",
        "hi_e2e",
        F.round(
            F.try_divide(
                F.col("hi_e2e").cast("double"), F.nullif(F.col("hi_true").cast("double"), F.lit(0.0))
            ),
            6,
        ).alias("recall_hi"),
    )


# --------------------------------------------------------------------------
# SimHash QUALITY gate — completes the recall-gate trio (SemDeDup →
# embeddings_semdedup_recall(_mp), MinHash → docs_minhash_recall).
# SimHash's banding is pigeonhole-LOSSLESS inside the hamming cutoff
# (4 bands, cutoff 3 < 4: any pair within the cutoff shares a band),
# so unlike MinHash the interesting loss is purely the ESTIMATOR: a
# semantically-near pair whose 60-bit sketch differs in more than 3
# positions is invisible. Ground truth is exact cosine over token-
# COUNT vectors (what SimHash provably approximates: P(bit flip) =
# angle/π) over the fixed 512-doc cohort. Two truth bands make the
# operator's real contract measurable: cosine >= 0.99 (near-exact
# rewrites — the regime hamming<=3/60 targets: expected hit prob
# ~0.7-0.9) and 0.90 <= cosine < 0.99 (paraphrase-distance — expected
# ~0: mean hamming at cos 0.9 is ~8.6, far over the cutoff). A high
# recall_hi with recall_mid ~0 is the CORRECT verdict for this
# operator; catching the mid band is MinHash's job.
_SH_RECALL_COHORT = 512
_SH_COS_HI = "0.99"
_SH_COS_MID = "0.9"


@query(
    "docs_simhash_recall",
    oracle=f"""
    WITH {_simhash_ctes()},
    shc AS (
      SELECT s.doc, s.simhash FROM sh s
      JOIN documents d ON d.doc_id = s.doc
      WHERE s.doc < {_SH_RECALL_COHORT} AND length(trim(d.text)) > 0),
    bnd AS (
      {" UNION ALL ".join(
        f"SELECT doc, {b} AS band_idx, (simhash >> {b * _SH_BITS})"
        f" & {2**_SH_BITS - 1} AS bv FROM shc"
        for b in range(_SH_BANDS)
      )}),
    capped AS (
      SELECT doc, band_idx, bv FROM (
        SELECT doc, band_idx, bv,
               COUNT(*) OVER (PARTITION BY band_idx, bv) AS bs
        FROM bnd)
      WHERE bs <= {_SH_BUCKET_CAP}),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.bv = b.bv AND a.doc < b.doc),
    e2e AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN shc x ON x.doc = c.doc_a
      JOIN shc y ON y.doc = c.doc_b
      WHERE bit_count(xor(x.simhash, y.simhash)) <= {_SH_MAX_HAMMING}),
    tc AS (
      SELECT doc_id AS doc, tok, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
        WHERE doc_id < {_SH_RECALL_COHORT} AND length(trim(text)) > 0)
      GROUP BY 1, 2),
    nrm AS (SELECT doc, sqrt(SUM(c*c)) AS n FROM tc GROUP BY doc),
    dt AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, SUM(a.c * b.c) AS dot
      FROM tc a JOIN tc b ON a.tok = b.tok AND a.doc < b.doc
      GROUP BY 1, 2),
    truth AS (
      SELECT d.doc_a, d.doc_b,
             ROUND(d.dot / (x.n * y.n), 6) AS cos
      FROM dt d JOIN nrm x ON x.doc = d.doc_a
                JOIN nrm y ON y.doc = d.doc_b
      WHERE ROUND(d.dot / (x.n * y.n), 6) >= {_SH_COS_MID})
    SELECT CAST({_SH_COS_HI} AS DOUBLE) AS threshold_hi,
           CAST({_SH_COS_MID} AS DOUBLE) AS threshold_mid,
           CAST(SUM(CASE WHEN t.cos >= {_SH_COS_HI} THEN 1 ELSE 0 END)
                AS BIGINT) AS hi_true,
           CAST(SUM(CASE WHEN t.cos >= {_SH_COS_HI}
                          AND e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hi_hits,
           ROUND(CAST(SUM(CASE WHEN t.cos >= {_SH_COS_HI}
                               AND e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN t.cos >= {_SH_COS_HI}
                              THEN 1 ELSE 0 END), 0), 6) AS recall_hi,
           CAST(SUM(CASE WHEN t.cos < {_SH_COS_HI} THEN 1 ELSE 0 END)
                AS BIGINT) AS mid_true,
           CAST(SUM(CASE WHEN t.cos < {_SH_COS_HI}
                          AND e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS mid_hits,
           ROUND(CAST(SUM(CASE WHEN t.cos < {_SH_COS_HI}
                               AND e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN t.cos < {_SH_COS_HI}
                              THEN 1 ELSE 0 END), 0), 6) AS recall_mid
    FROM truth t
    LEFT JOIN e2e e ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b
    """,
)
def docs_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.caching import tracked_cache
    from fabric_claims_spark.extensions.dedup import simhash_band_pairs

    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") < _SH_RECALL_COHORT)
        & (F.length(F.trim(F.col("text"))) > 0)
    )
    sh = tracked_cache(simhash60_md5(docs, "doc_id", "text"))
    e2e = simhash_band_pairs(
        sh,
        bands=_SH_BANDS,
        bits=_SH_BITS,
        max_hamming=_SH_MAX_HAMMING,
        bucket_cap=_SH_BUCKET_CAP,
    ).select("doc_a", "doc_b")

    tc = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tc = tracked_cache(tc)
    nrm = tc.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("n")
    )
    ta = tc.select(F.col("doc").alias("doc_a"), "tok", F.col("c").alias("ca"))
    tb = tc.select(F.col("doc").alias("doc_b"), "tok", F.col("c").alias("cb"))
    dt = (
        ta.join(tb, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    cos = F.round(
        F.col("dot") / (F.col("na") * F.col("nb")),
        6,
    )
    truth = (
        dt.join(nrm.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(nrm.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn("cos", cos)
        .where(F.col("cos") >= F.lit(float(_SH_COS_MID)))
        .select("doc_a", "doc_b", "cos")
    )
    flagged = truth.join(
        e2e.withColumn("_hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    hi = F.col("cos") >= F.lit(float(_SH_COS_HI))
    hit = F.col("_hit").isNotNull()
    return flagged.agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("hi_true"),
        F.sum(F.when(hi & hit, 1).otherwise(0)).cast("bigint").alias("hi_hits"),
        F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("mid_true"),
        F.sum(F.when((~hi) & hit, 1).otherwise(0))
        .cast("bigint")
        .alias("mid_hits"),
    ).select(
        F.lit(float(_SH_COS_HI)).alias("threshold_hi"),
        F.lit(float(_SH_COS_MID)).alias("threshold_mid"),
        "hi_true",
        "hi_hits",
        F.round(
            F.try_divide(
                F.col("hi_hits").cast("double"),
                F.nullif(F.col("hi_true").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("recall_hi"),
        "mid_true",
        "mid_hits",
        F.round(
            F.try_divide(
                F.col("mid_hits").cast("double"),
                F.nullif(F.col("mid_true").cast("double"), F.lit(0.0)),
            ),
            6,
        ).alias("recall_mid"),
    )


# --------------------------------------------------------------------------
# Per-source dedup rates — the curation dashboard readout a
# training pipeline watches per ingestion source: how much of each
# source survives exact dedup, how much survives the near-dup pass,
# and the kept share. A source whose kept_rate collapses is scraping
# boilerplate/mirrors and needs attention BEFORE it floods the
# mixture. Reuses the cascade's survivor sets verbatim (same md5
# exact fold, same banded MinHash pairs, same greedy lower-id keep)
# and only adds a source rollup — two broadcastable survivor-id
# left joins and one groupBy, nothing new at scale.
@query(
    "docs_dedup_rate_by_source",
    oracle=f"""
    WITH es AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    sdocs AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN es ON es.doc_id = d.doc_id),
    {_neardup_ctes(src="sdocs")},
    drp AS (
      SELECT DISTINCT doc_b AS doc_id FROM est
      WHERE est_jaccard >= 0.5),
    ns AS (
      SELECT doc_id FROM es
      WHERE doc_id NOT IN (SELECT doc_id FROM drp))
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS exact_survivors,
           CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS neardup_survivors,
           ROUND(CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS kept_rate
    FROM documents d
    LEFT JOIN es e ON e.doc_id = d.doc_id
    LEFT JOIN ns n ON n.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def docs_dedup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact_surv = docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id")
    )
    surv_docs = docs.join(exact_surv.select("doc_id"), "doc_id", "semi")
    pairs = minhash_near_dups(
        surv_docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        hasher="md5",
    ).select("doc_a", "doc_b")
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    near_surv = exact_surv.select("doc_id").join(
        dropped, "doc_id", "left_anti"
    )
    e = exact_surv.select("doc_id").withColumn("is_e", F.lit(1))
    n = near_surv.withColumn("is_n", F.lit(1))
    kept = F.sum(F.coalesce(F.col("is_n"), F.lit(0)))
    return (
        docs.select("doc_id", "source")
        .join(e, "doc_id", "left")
        .join(n, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum(F.coalesce(F.col("is_e"), F.lit(0)))
            .cast("bigint")
            .alias("exact_survivors"),
            kept.cast("bigint").alias("neardup_survivors"),
            F.round(
                kept.cast("double") / F.count(F.lit(1)), 6
            ).alias("kept_rate"),
        )
        .orderBy("source")
    )
