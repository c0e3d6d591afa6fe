"""Similarity-search operators over the embeddings table (north-star
extension: approximate-nearest-neighbor building blocks).

Cosine scores are computed with built-in higher-order functions
(zip_with dot product + aggregate fold) entirely JVM-side. The oracle
mirrors the exact same operation order (dot / (sqrt(na) * sqrt(nb)))
via list_dot_product so both engines walk the vector sequentially —
bit-identical doubles, then rounded to 6dp for belt-and-braces.

Scale path: brute-force is the correctness baseline (fine when one
side broadcasts); the IVF assignment below is the bucketed variant —
centroids broadcast, each vector scored against K centroids instead
of N vectors. The cosine, the IVF assignment, the probe and the
rounded top-k are the shared primitives of extensions/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fabric_claims_spark.extensions.similarity import (
    as_double_array,
    cosine,
    cosine_topk,
    dot,
    ivf_assign,
    ivf_probe,
    ivf_search,
)
from fabric_claims_spark.localframe import local_frame
from fabric_claims_spark.operators.partitioning import spread
from fabric_claims_spark.queries import query
from fabric_claims_spark.sources.parquet import load_table


# Perf note for pair scans (measured on the semdedup-recall
# brute-force scan, 2M pairs at sf0.1): Catalyst's array HOFs
# (zip_with/aggregate) are CodegenFallback — every element evaluates
# through an interpreted closure — but the tempting fixes are WORSE:
# a 64-term unrolled getItem chain exceeds codegen limits and
# interprets a 64-deep expression tree (33 s vs the HOF's 13 s), and
# unpacking to 64 plain double columns puts the join row past
# spark.sql.codegen.maxFields (wide-row WSCG measured 32 s; the
# default 100-field cutoff is protective). What actually pays:
# keep the join condition trivial (block-pair equi-join, never a
# pair-expression theta condition — BNLJ conditions evaluate
# interpreted per candidate), project the cosine once per pair, and
# bound the pair space itself (eval cohort). The HOF fold stays the
# canonical dot — bit-exact with DuckDB's list_dot_product.


# --------------------------------------------------------------------------
# Brute-force cosine top-k for one query vector: the ANN correctness
# baseline. Spark plan: broadcast 1-row query side → projection +
# TakeOrderedAndProject (no global shuffle/sort materialization).
@query(
    "embeddings_knn_bruteforce",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cosine_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def embeddings_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        as_double_array("embedding").alias("qv")
    )
    e = emb.where(F.col("vec_id") != 0).select(
        "vec_id", "label", as_double_array("embedding").alias("ev")
    )
    return cosine_topk(e, q, 10)


# --------------------------------------------------------------------------
# IVF assignment: nearest of K fixed centroids per vector (the coarse
# quantizer of an IVF index; centroids broadcast so the fact side
# never shuffles). Deterministic ties broken by centroid_id.
# shared verbatim with the stored-index maintenance gate
# (queries/serving.py): the incrementally-built assignment table must
# hash-equal this one-shot assignment
_IVF_ASSIGN_ORACLE = """
    WITH centroids AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
      FROM embeddings e, centroids c)
    SELECT vec_id, centroid_id AS assigned_centroid, sim AS centroid_sim
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) = 1
    """


@query("embeddings_ivf_assign", oracle=_IVF_ASSIGN_ORACLE)
def embeddings_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), as_double_array("embedding").alias("cv")
    )
    e = emb.select("vec_id", as_double_array("embedding").alias("ev"))
    return ivf_assign(e, centroids).select(
        "vec_id", "assigned_centroid", "centroid_sim"
    )


# --------------------------------------------------------------------------
# Label-blocked pairwise similarity: all pairs within a label bucket
# above a threshold (embedding-cosine near-dup detection; blocking by
# label keeps the pair space linear-ish, the LSH variant in
# extensions/dedup.py removes the need for labels).
@query(
    "embeddings_normalize",
    oracle="""
    SELECT vec_id, label,
           ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
             AS l2_norm,
           array_to_string(list_transform(embedding::DOUBLE[],
             x -> printf('%.6f',
                    ROUND(x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                    embedding::DOUBLE[])), 6)
                    + 0.0)), ',')
             AS unit_vec
    FROM embeddings
    """,
)
def embeddings_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalization projection (the prep step that turns cosine
    into a plain dot product, letting the IVF/topk stages skip per-row
    norms). Pure HOF transform — no shuffle, no UDF.

    The unit vector is surfaced as a comma-joined fixed-6dp string:
    the driver's canonicalizer sorts result columns with pandas and
    cannot hash list cells, so array outputs must cross the gate as
    strings. ``%.6f`` renders bit-identical text in both engines for
    the same rounded double (verified incl. the -0.0 case, which is
    normalized via ``+ 0.0``).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ev = as_double_array("embedding")
    norm = F.sqrt(dot(ev, ev))
    return emb.select(
        "vec_id",
        "label",
        F.round(norm, 6).alias("l2_norm"),
        F.array_join(
            F.transform(
                ev,
                lambda x: F.format_string(
                    "%.6f", F.round(x / norm, 6) + F.lit(0.0)
                ),
            ),
            ",",
        ).alias("unit_vec"),
    )


# --------------------------------------------------------------------------
# Embedding near-dup pairs via random-hyperplane LSH blocking
# (extensions/similarity.py): only vectors sharing one of 4 8-bit
# sign-signature bands ever meet, so the self-join key space is
# (band, bucket) — it grows with the corpus, unlike the label
# blocking this replaces (a handful of giant label blocks = quadratic
# pair space at 100 TB). Candidates verify exact cosine. The oracle
# reproduces the identical hyperplanes (6dp decimal constants parse
# to the same doubles; list_dot_product matches the zip_with fold op
# order), so the approximate candidate set itself is hash-checked.
_EMB_DIM = 64
_NEARDUP_THRESHOLD = 0.3


def _hp_planes():
    from fabric_claims_spark.extensions.similarity import hyperplanes

    return hyperplanes(_EMB_DIM)


def _neardup_oracle() -> str:
    planes = _hp_planes()
    band_selects = []
    for bi, band in enumerate(planes):
        bits = " || ".join(
            "(CASE WHEN list_dot_product(ev, [{coefs}]) >= 0 "
            "THEN '1' ELSE '0' END)".format(
                coefs=", ".join(f"{c:.6f}" for c in h)
            )
            for h in band
        )
        band_selects.append(
            f"SELECT vec_id, {bi} AS band_idx, {bits} AS sig FROM e"
        )
    bands_sql = "\n      UNION ALL ".join(band_selects)
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    b AS (
      {bands_sql}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
      FROM b a JOIN b b2
        ON a.band_idx = b2.band_idx AND a.sig = b2.sig
       AND a.vec_id < b2.vec_id)
    SELECT * FROM (
      SELECT c.vec_a, c.vec_b,
             ROUND(list_dot_product(ea.ev, eb.ev)
                   / (sqrt(list_dot_product(ea.ev, ea.ev))
                      * sqrt(list_dot_product(eb.ev, eb.ev))), 6) AS cosine_sim
      FROM cand c
      JOIN e ea ON ea.vec_id = c.vec_a
      JOIN e eb ON eb.vec_id = c.vec_b)
    WHERE cosine_sim >= {_NEARDUP_THRESHOLD}
    """


@query("embeddings_neardup_pairs", oracle=_neardup_oracle())
def embeddings_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.similarity import hyperplane_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_neardup_pairs(emb, _NEARDUP_THRESHOLD, _hp_planes())

# --------------------------------------------------------------------------
# IVF search: the full ANN read path — route the query vector to its
# nprobe=2 nearest centroid buckets, brute-force only inside them
# (extensions/similarity.ivf_search; every similarity rounds to 6dp
# for cross-engine parity). The scan side only ever scores K
# centroids per vector (assignment) and the probed ~2/K of the
# corpus (search) — at 100 TB with persisted
# bucketed assignments the probe is a partition-pruned read, not a
# full scan. The approximate result itself is hash-checked: the
# oracle replicates routing, bucketing, and scoring exactly.
_IVF_K = 8
_IVF_NPROBE = 2
_IVF_TOPK = 10


# shared verbatim with the served twin (queries/serving.py) — same
# routing, same bucketing, same scoring, so stored == in-plan is a
# hash identity
_IVF_SEARCH_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
    q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
    cent AS (
      SELECT vec_id AS centroid_id, ev AS cv FROM e WHERE vec_id < {_IVF_K}),
    assign AS (
      SELECT vec_id, centroid_id AS assigned_centroid FROM (
        SELECT e.vec_id, c.centroid_id,
               ROUND(list_dot_product(e.ev, c.cv)
                     / (sqrt(list_dot_product(e.ev, e.ev))
                        * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM e, cent c)
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) = 1),
    probe AS (
      SELECT centroid_id FROM (
        SELECT c.centroid_id,
               ROUND(list_dot_product(q.qv, c.cv)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM cent c, q)
      ORDER BY sim DESC, centroid_id ASC LIMIT {_IVF_NPROBE})
    SELECT e.vec_id, e.label,
           ROUND(list_dot_product(e.ev, q.qv)
                 / (sqrt(list_dot_product(e.ev, e.ev))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
    FROM e
    JOIN assign a ON a.vec_id = e.vec_id
    JOIN probe p ON a.assigned_centroid = p.centroid_id, q
    WHERE e.vec_id != 0
    ORDER BY cosine_sim DESC, e.vec_id ASC
    LIMIT {_IVF_TOPK}
    """


# --------------------------------------------------------------------------
# Metadata-FILTERED vector search (round 12): serving systems rarely
# run an unconstrained top-k — the query carries a predicate
# (tenant, language, collection), and the engine must return the k
# best among ONLY the rows passing it. This gate runs the filter for
# EVERY label at once — the groupwise formulation: top-k per filter
# value — which is also the scalable plan: one broadcast of the query
# vector, one shuffle on the filter key, per-group top-k inside the
# window (Spark 4 rewrites rank<=k windows to WindowGroupLimit: each
# map task keeps only k rows per group before the shuffle, so the
# exchange carries k·|labels| rows, not the corpus). Post-filtering a
# global top-k would instead under-fill sparse labels — the classic
# filtered-ANN failure this shape avoids by construction.
_FKNN_TOPK = 3

_FILTERED_KNN_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
    q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND(list_dot_product(e.ev, q.qv)
                   / (sqrt(list_dot_product(e.ev, e.ev))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6)
               AS cosine_sim
      FROM e, q WHERE e.vec_id != 0)
    SELECT label, CAST(rk AS BIGINT) AS rank, vec_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY label ORDER BY cosine_sim DESC, vec_id ASC) AS rk
      FROM scored)
    WHERE rk <= {_FKNN_TOPK}
    ORDER BY label, rank
    """


@query("embeddings_filtered_knn", oracle=_FILTERED_KNN_ORACLE)
def embeddings_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double_array("embedding").alias("ev"))
    q = e.where(F.col("vec_id") == 0).select(F.col("ev").alias("qv"))
    scored = (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("ev"), F.col("qv")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _FKNN_TOPK)
        .select("label", "rank", "vec_id", "cosine_sim")
        .orderBy("label", "rank")
    )


@query("embeddings_ivf_search", oracle=_IVF_SEARCH_ORACLE)
def embeddings_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double_array("embedding").alias("ev"))
    q = e.where(F.col("vec_id") == 0).select(F.col("ev").alias("qv"))
    cent = e.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("ev").alias("cv")
    )
    return ivf_search(
        e.where(F.col("vec_id") != 0), cent, q, _IVF_NPROBE, _IVF_TOPK
    )


# --------------------------------------------------------------------------
# Distributed Lloyd k-means (the IVF centroid trainer) — the oracle
# unrolls the whole loop in SQL: per round, an argmin assignment over
# the CROSS JOIN with the k current centroids (dist as three
# list_dot_product terms, matching the Spark zip_with folds
# bit-exactly), then a centroid update from integer micro-unit sums
# (exact, order-independent) divided once in doubles and rounded to
# 9 dp. Empty clusters COALESCE to their previous centroid. Seeds =
# the k smallest vec_ids.
_KM_K = 8
_KM_ITERS = 3


_KM_DIST = (
    "list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)"
    " + list_dot_product(c.cv, c.cv)"
)


def _kmeans_ctes(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """The Lloyd-loop CTE prefix (ev, cent0 … cent{iters}) shared by
    every oracle that consumes trained centroids — proven bit-exact
    vs the Spark trainer by embeddings_kmeans."""
    dist = _KM_DIST
    ctes = [
        "ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""cent0 AS (
      SELECT vec_id AS cid, v AS cv FROM ev ORDER BY vec_id LIMIT {k})""",
    ]
    for r in range(iters):
        ctes.append(
            f"""asg{r} AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (SELECT e.vec_id, e.v, c.cid, {dist} AS dist
              FROM ev e CROSS JOIN cent{r} c))
      WHERE rn = 1)""")
        ctes.append(
            f"""mu{r} AS (
      SELECT cluster, dim,
             ROUND(CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE)
                   / (COUNT(*) * 1000000.0), 9) AS m
      FROM (SELECT cid AS cluster, unnest(v) AS x,
                   generate_subscripts(v, 1) AS dim
            FROM asg{r})
      GROUP BY 1, 2)""")
        ctes.append(
            f"""newc{r} AS (
      SELECT cluster AS cid, list(m ORDER BY dim) AS cv
      FROM mu{r} GROUP BY 1)""")
        ctes.append(
            f"""cent{r + 1} AS (
      SELECT c.cid, COALESCE(n.cv, c.cv) AS cv
      FROM cent{r} c LEFT JOIN newc{r} n ON n.cid = c.cid)""")
    return ",\n    ".join(ctes)


def _kmeans_oracle(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    return f"""
    WITH {_kmeans_ctes(k, iters)}
    SELECT vec_id, cid AS cluster, ROUND(dist, 6) AS dist FROM (
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM (SELECT e.vec_id, c.cid, {_KM_DIST} AS dist
            FROM ev e CROSS JOIN cent{iters} c))
    WHERE rn = 1
    """


@query("embeddings_kmeans", oracle=_kmeans_oracle())
def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means assignment after 3 broadcast-centroid rounds
    (extensions/similarity.py:kmeans_assignments) — vectors never
    shuffle; each update shuffles k·dim partial sums."""
    from fabric_claims_spark.extensions.similarity import kmeans_assignments

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_assignments(e, k=_KM_K, iters=_KM_ITERS)


# --------------------------------------------------------------------------
# Scalar-quantized (int8) ANN — the memory-compression path for
# cluster-resident vector search: each stored vector is reduced to
# per-vector-scaled int8 codes (4× smaller than float32; the scale
# cancels out of cosine, so ranking runs directly on the integer
# codes) and the top-k is re-scored exactly. Quantization uses
# floor(x/s + 0.5) — identical rounding semantics in both engines,
# no ROUND-half mode dependence. Output carries both the quantized
# and exact cosines, so the gate hash-checks the quantization error
# itself, not just the ranking.
#
# Scale notes (100 TB): codes store as array<tinyint> (4× less
# executor memory / shuffle payload than floats — the difference
# between an in-memory ANN sweep and spilling); the search plan is
# identical to embeddings_knn_bruteforce (broadcast 1-row query,
# projection, TakeOrderedAndProject), and composes with the IVF
# bucket pruning (probe buckets, then quantized scan, then exact
# re-score of k candidates).
@query(
    "embeddings_sq8_knn",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    c AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev,
             list_transform(
               embedding::DOUBLE[],
               x -> FLOOR(x / (list_aggregate(list_transform(
                      embedding::DOUBLE[], v -> ABS(v)), 'max') / 127.0)
                    + 0.5)) AS code
      FROM embeddings WHERE vec_id != 0)
    SELECT vec_id, label,
           ROUND(list_dot_product(qv, code)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(code, code))), 6) AS sq8_cosine,
           ROUND(list_dot_product(qv, ev)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(ev, ev))), 6) AS exact_cosine
    FROM c, q
    ORDER BY sq8_cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def embeddings_sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        as_double_array("embedding").alias("qv")
    )
    ev = as_double_array("embedding")
    max_abs = F.array_max(F.transform(ev, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    code = F.transform(ev, lambda x: F.floor(x / scale + F.lit(0.5)).cast("double"))
    e = emb.where(F.col("vec_id") != 0).select(
        "vec_id", "label", ev.alias("ev"), code.alias("code")
    )
    return (
        e.join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("code"), F.col("qv")), 6).alias("sq8_cosine"),
            F.round(cosine(F.col("ev"), F.col("qv")), 6).alias("exact_cosine"),
        )
        .orderBy(F.col("sq8_cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) ANN — the fine-quantizer that completes
# the FAISS-style stack (IVF coarse buckets → PQ codes → exact
# re-score) [Jégou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011]: the 64-dim vector splits into M=4
# 16-dim subvectors, each encoded as its nearest of K=16 codewords
# (here a deterministic data-derived codebook: the subvectors of
# vec_id 1..16), so a vector stores as 4 nibbles — 64× smaller than
# float32. Search is asymmetric (ADC): the query's dot product with
# every codeword is a 64-entry broadcast table, and a vector's
# approximate dot is the sum of its M table lookups.
#
# Determinism: nearest-codeword ranking uses the expanded key
# |c|² − 2·(sv·c) (same order statistics as L2², computed via the
# already-verified list-dot machinery), ties break on codeword id via
# a row_number window; the M-part ADC sum is written as M conditional
# sums added in a FIXED order (m=0..3) — never a hash-agg float sum.
#
# Scale notes (100 TB): codebook and query table are O(M·K) — always
# broadcast; encoding is a linear (vector, subspace) × K comparison
# with no shuffle wider than the (vec_id, m) re-group; stored codes
# are 4 bytes/vector, the difference between RAM-resident and spilled
# at billion-vector scale. Exact dot rides along only for the
# top-k output (re-scoring).
def train_pq_codebook(
    emb: DataFrame, M: int = 4, K: int = 16, SD: int = 16, iters: int = 2
) -> DataFrame:
    """Per-subspace Lloyd-trained PQ codebook as a (j, m, cw) frame.

    Each subspace trains independently with
    extensions.similarity.kmeans_centroids, INITIALIZED from the same
    vec_id 1..K seed subvectors the untrained path uses — so by
    Lloyd's monotonicity the trained codebook's quantization
    distortion is <= the seeded codebook's, deterministically (the
    property tests/test_extensions pins). Centroids are driver state
    (M*K*SD doubles, bounded); the returned frame is broadcast-sized.
    """
    from fabric_claims_spark.extensions.similarity import kmeans_centroids

    spark = emb.sparkSession
    rows = []
    for m in range(M):
        subs = emb.where(F.col("vec_id") >= 1).select(
            "vec_id", F.slice(F.col("v"), m * SD + 1, SD).alias("v")
        )
        for cid, vec in kmeans_centroids(
            subs, k=K, iters=iters, id_col="vec_id", vec_col="v"
        ):
            # kmeans cluster ids ARE the seed vec_ids (1..K)
            rows.append((cid, m, [float(x) for x in vec]))
    return local_frame(spark, rows, "j long, m int, cw array<double>")


def pq_adc_frame(
    emb: DataFrame,
    M: int = 4,
    K: int = 16,
    SD: int = 16,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Unlimited PQ/ADC scoring frame: (vec_id, label, adc_dot,
    exact_dot) for every vector past the codebook range, ranked by the
    caller. Codebook = the subvectors of vec_id 1..K; query = vec 0.
    Factored out of the registered query so tests can take top-R
    candidate sets (the rerank pipeline's real contract) and tune K."""
    from pyspark.sql import Window

    ms = F.array(*[F.lit(m) for m in range(M)])
    sub = F.slice(F.col("v"), F.col("m") * SD + 1, SD)

    def with_subspaces(df):
        return df.select(
            "*", F.explode(ms).alias("m")
        ).select("*", sub.alias("sub"))

    if codebook is None:
        cb = with_subspaces(
            emb.where(F.col("vec_id").between(1, K))
        ).select(F.col("vec_id").alias("j"), "m", F.col("sub").alias("cw"))
    else:
        cb = codebook.select("j", "m", "cw")
    q = emb.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    qsub = F.slice(F.col("qv"), F.col("m") * SD + 1, SD)
    qt = (
        F.broadcast(cb)
        .crossJoin(F.broadcast(q))
        .select("m", "j", dot(qsub, F.col("cw")).alias("qdot"))
    )
    sv = with_subspaces(emb.where(F.col("vec_id") > K)).select(
        "vec_id", "label", "m", "sub"
    )
    dist_key = dot(F.col("cw"), F.col("cw")) - 2 * dot(
        F.col("sub"), F.col("cw")
    )
    rn = F.row_number().over(
        Window.partitionBy("vec_id", "m").orderBy(dist_key, F.col("j"))
    )
    codes = (
        sv.join(F.broadcast(cb), "m")
        .withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "m", "j")
    )
    part = lambda m: F.sum(F.when(F.col("m") == m, F.col("qdot")))  # noqa: E731
    adc = (
        codes.join(F.broadcast(qt), ["m", "j"])
        .groupBy("vec_id", "label")
        .agg(
            sum((part(m) for m in range(1, M)), part(0)).alias("adc_dot")
        )
    )
    exact = emb.select("vec_id", "v").crossJoin(F.broadcast(q)).select(
        "vec_id", dot(F.col("v"), F.col("qv")).alias("exact_dot")
    )
    return adc.join(exact, "vec_id").select(
        "vec_id",
        "label",
        F.round(F.col("adc_dot"), 6).alias("adc_dot"),
        F.round(F.col("exact_dot"), 6).alias("exact_dot"),
    )


@query(
    "embeddings_pq_adc_knn",
    oracle="""
    WITH cb AS (
      SELECT vec_id AS j, m,
             (embedding::DOUBLE[])[m*16+1 : m*16+16] AS cw
      FROM embeddings, (VALUES (0), (1), (2), (3)) t(m)
      WHERE vec_id BETWEEN 1 AND 16),
    q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    qt AS (
      SELECT cb.m, cb.j,
             list_dot_product((q.qv)[cb.m*16+1 : cb.m*16+16], cb.cw) AS qdot
      FROM cb, q),
    sv AS (
      SELECT vec_id, label, m,
             (embedding::DOUBLE[])[m*16+1 : m*16+16] AS sub
      FROM embeddings, (VALUES (0), (1), (2), (3)) t(m)
      WHERE vec_id > 16),
    ranked AS (
      SELECT sv.vec_id, sv.label, sv.m, cb.j,
             ROW_NUMBER() OVER (
               PARTITION BY sv.vec_id, sv.m
               ORDER BY list_dot_product(cb.cw, cb.cw)
                        - 2 * list_dot_product(sv.sub, cb.cw), cb.j)
               AS rn
      FROM sv JOIN cb ON sv.m = cb.m),
    codes AS (SELECT vec_id, label, m, j FROM ranked WHERE rn = 1),
    adc AS (
      SELECT c.vec_id, c.label,
             SUM(CASE WHEN c.m = 0 THEN qt.qdot END)
             + SUM(CASE WHEN c.m = 1 THEN qt.qdot END)
             + SUM(CASE WHEN c.m = 2 THEN qt.qdot END)
             + SUM(CASE WHEN c.m = 3 THEN qt.qdot END) AS adc_dot
      FROM codes c JOIN qt ON c.m = qt.m AND c.j = qt.j
      GROUP BY c.vec_id, c.label)
    SELECT a.vec_id, a.label,
           ROUND(a.adc_dot, 6) AS adc_dot,
           ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv), 6)
             AS exact_dot
    FROM adc a
    JOIN embeddings e ON a.vec_id = e.vec_id
    CROSS JOIN q
    ORDER BY adc_dot DESC, a.vec_id
    LIMIT 10
    """,
)
def embeddings_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    return (
        pq_adc_frame(emb, M=4, K=16, SD=16)
        .orderBy(F.col("adc_dot").desc(), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Composed IVF → PQ → exact search — the full FAISS-style ANN pipeline
# as ONE hash-checked query: the coarse quantizer (8 cosine centroids,
# the embeddings_ivf_assign machinery) prunes the corpus to the
# nprobe=2 buckets nearest the query, the PQ/ADC fine quantizer ranks
# only those candidates from 4-byte codes, and the exact dot re-score
# rides on the top-10. Each stage is individually gated elsewhere
# (embeddings_ivf_assign / embeddings_pq_adc_knn); this query pins
# their COMPOSITION — bucket pruning must not change the PQ ranking
# semantics, only restrict its input.
#
# Scale notes (100 TB): centroids, probe set, codebook, and the query
# distance table are all broadcast; the corpus-sized side flows scan →
# assignment projection → semi-filter → code rank → TakeOrdered with
# no shuffle wider than the (vec_id, m) regroup on ~nprobe/K_coarse of
# the data.
@query(
    "embeddings_ivf_pq_search",
    oracle="""
    WITH centroids AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT centroid_id FROM (
        SELECT c.centroid_id,
               ROUND(list_dot_product(q.qv, c.cv)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM centroids c, q)
      QUALIFY ROW_NUMBER() OVER (ORDER BY sim DESC, centroid_id) <= 2),
    assigned AS (
      SELECT vec_id FROM (
        SELECT e.vec_id, c.centroid_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM embeddings e, centroids c WHERE e.vec_id > 16)
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1
        AND centroid_id IN (SELECT centroid_id FROM probe)),
    cb AS (
      SELECT vec_id AS j, m,
             (embedding::DOUBLE[])[m*16+1 : m*16+16] AS cw
      FROM embeddings, (VALUES (0), (1), (2), (3)) t(m)
      WHERE vec_id BETWEEN 1 AND 16),
    qt AS (
      SELECT cb.m, cb.j,
             list_dot_product((q.qv)[cb.m*16+1 : cb.m*16+16], cb.cw) AS qdot
      FROM cb, q),
    sv AS (
      SELECT e.vec_id, e.label, t.m,
             (e.embedding::DOUBLE[])[t.m*16+1 : t.m*16+16] AS sub
      FROM embeddings e
      JOIN assigned a ON e.vec_id = a.vec_id,
           (VALUES (0), (1), (2), (3)) t(m)),
    ranked AS (
      SELECT sv.vec_id, sv.label, sv.m, cb.j,
             ROW_NUMBER() OVER (
               PARTITION BY sv.vec_id, sv.m
               ORDER BY list_dot_product(cb.cw, cb.cw)
                        - 2 * list_dot_product(sv.sub, cb.cw), cb.j)
               AS rn
      FROM sv JOIN cb ON sv.m = cb.m),
    codes AS (SELECT vec_id, label, m, j FROM ranked WHERE rn = 1),
    adc AS (
      SELECT c.vec_id, c.label,
             SUM(CASE WHEN c.m = 0 THEN qt.qdot END)
             + SUM(CASE WHEN c.m = 1 THEN qt.qdot END)
             + SUM(CASE WHEN c.m = 2 THEN qt.qdot END)
             + SUM(CASE WHEN c.m = 3 THEN qt.qdot END) AS adc_dot
      FROM codes c JOIN qt ON c.m = qt.m AND c.j = qt.j
      GROUP BY c.vec_id, c.label)
    SELECT a.vec_id, a.label,
           ROUND(a.adc_dot, 6) AS adc_dot,
           ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv), 6)
             AS exact_dot
    FROM adc a
    JOIN embeddings e ON a.vec_id = e.vec_id
    CROSS JOIN q
    ORDER BY adc_dot DESC, a.vec_id
    LIMIT 10
    """,
)
def embeddings_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    K_COARSE, NPROBE, K = 8, 2, 16
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    centroids = emb.where(F.col("vec_id") < K_COARSE).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    q = emb.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    assigned = (
        ivf_assign(
            emb.where(F.col("vec_id") > K).select(
                "vec_id", F.col("v").alias("ev")
            ),
            centroids,
        )
        .join(
            F.broadcast(ivf_probe(centroids, q, NPROBE)),
            F.col("assigned_centroid") == F.col("centroid_id"),
            "left_semi",
        )
        .select("vec_id")
    )
    searchable = emb.where(F.col("vec_id") <= K).unionByName(
        emb.join(F.broadcast(assigned), "vec_id", "left_semi")
    )
    return (
        pq_adc_frame(searchable, M=4, K=K, SD=16)
        .orderBy(F.col("adc_dot").desc(), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# In-engine ANN quality evaluation — recall@k of the IVF-probed search
# against the exact brute-force top-k, computed as a query so a
# pipeline can gate index parameters (nprobe, K) on measured recall
# without exporting anything. Pure composition of the two registered
# searches: both top-k frames are k rows, so the overlap join and the
# final 1-row aggregate are trivial; all cost is in the searches
# themselves (TakeOrderedAndProject shapes, pinned by test_plans).
@query(
    "embeddings_ann_recall",
    oracle=f"""
    WITH exact AS (
      SELECT vec_id FROM (
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 0)
        SELECT e.vec_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv))), 6)
                 AS cosine_sim
        FROM embeddings e, q
        WHERE e.vec_id != 0
        ORDER BY cosine_sim DESC, e.vec_id ASC
        LIMIT {_IVF_TOPK})),
    approx AS (
      SELECT vec_id FROM (
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        cent AS (
          SELECT vec_id AS centroid_id, ev AS cv FROM e
          WHERE vec_id < {_IVF_K}),
        assign AS (
          SELECT vec_id, centroid_id AS assigned_centroid FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROUND(list_dot_product(e.ev, c.cv)
                         / (sqrt(list_dot_product(e.ev, e.ev))
                            * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
            FROM e, cent c)
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) = 1),
        probe AS (
          SELECT centroid_id FROM (
            SELECT c.centroid_id,
                   ROUND(list_dot_product(q.qv, c.cv)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
            FROM cent c, q)
          ORDER BY sim DESC, centroid_id ASC LIMIT {_IVF_NPROBE})
        SELECT e.vec_id,
               ROUND(list_dot_product(e.ev, q.qv)
                     / (sqrt(list_dot_product(e.ev, e.ev))
                        * sqrt(list_dot_product(q.qv, q.qv))), 6)
                 AS cosine_sim
        FROM e
        JOIN assign a ON a.vec_id = e.vec_id
        JOIN probe p ON a.assigned_centroid = p.centroid_id, q
        WHERE e.vec_id != 0
        ORDER BY cosine_sim DESC, e.vec_id ASC
        LIMIT {_IVF_TOPK}))
    SELECT CAST({_IVF_TOPK} AS BIGINT) AS k,
           (SELECT COUNT(*) FROM exact x JOIN approx a
              ON x.vec_id = a.vec_id) AS hits,
           CAST((SELECT COUNT(*) FROM exact x JOIN approx a
                   ON x.vec_id = a.vec_id) AS DOUBLE)
             / {_IVF_TOPK} AS recall_at_k
    """,
)
def embeddings_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = embeddings_knn_bruteforce(spark, sf_dir).select("vec_id")
    approx = embeddings_ivf_search(spark, sf_dir).select("vec_id")
    return (
        exact.join(approx, "vec_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .select(
            F.lit(_IVF_TOPK).cast("bigint").alias("k"),
            "hits",
            (F.col("hits").cast("double") / _IVF_TOPK).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# Diversity-capped retrieval — the production rerank between raw
# top-k and MMR: at most 2 results per label, then the global top-10,
# so one dominant cluster cannot fill the result page. Two ranking
# passes, both bounded: the per-label cap is a window over each
# label's scored candidates, and the final cut is TakeOrdered over
# the survivors. (MMR proper is iterative; the per-label cap is its
# closed-form approximation and is what serving stacks actually run.)
_DIV_PER_LABEL = 2
_DIV_TOPK = 10


@query(
    "embeddings_diverse_topk",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
      FROM embeddings e, q WHERE e.vec_id != 0),
    capped AS (
      SELECT vec_id, label, cosine_sim FROM (
        SELECT vec_id, label, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY cosine_sim DESC, vec_id)
                 AS lr
        FROM scored)
      WHERE lr <= {_DIV_PER_LABEL})
    SELECT vec_id, label, cosine_sim
    FROM capped
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {_DIV_TOPK}
    """,
)
def embeddings_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        as_double_array("embedding").alias("qv")
    )
    e = emb.where(F.col("vec_id") != 0).select(
        "vec_id", "label", as_double_array("embedding").alias("ev")
    )
    scored = e.join(F.broadcast(q)).select(
        "vec_id",
        "label",
        F.round(cosine(F.col("ev"), F.col("qv")), 6).alias("cosine_sim"),
    )
    wl = Window.partitionBy("label").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    capped = (
        scored.withColumn("lr", F.row_number().over(wl))
        .where(F.col("lr") <= _DIV_PER_LABEL)
        .drop("lr")
    )
    return capped.orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    ).limit(_DIV_TOPK)


# --------------------------------------------------------------------------
# IVF index balance diagnostic — the bucket-size distribution of the
# coarse quantizer, the metric that decides whether an IVF index will
# actually prune (a skewed assignment sends every probe to the same
# giant list). One aggregate over the assignment; imbalance = max
# bucket / ideal bucket in one closed-form division.
@query(
    "embeddings_centroid_balance",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    cent AS (
      SELECT vec_id AS centroid_id, ev AS cv FROM e WHERE vec_id < {_IVF_K}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               ROUND(list_dot_product(e.ev, c.cv)
                     / (sqrt(list_dot_product(e.ev, e.ev))
                        * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM e, cent c)
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) = 1),
    b AS (SELECT centroid_id, COUNT(*) AS bucket_size FROM assign GROUP BY 1),
    t AS (SELECT SUM(bucket_size) AS n, COUNT(*) AS k FROM b)
    SELECT b.centroid_id, b.bucket_size,
           ROUND(CAST(b.bucket_size * t.k AS DOUBLE) / t.n, 6)
             AS imbalance_factor
    FROM b CROSS JOIN t
    ORDER BY b.centroid_id
    """,
)
def embeddings_centroid_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double_array("embedding").alias("ev"))
    cent = e.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("ev").alias("cv")
    )
    b = (
        ivf_assign(e, cent)
        .groupBy(F.col("assigned_centroid").alias("centroid_id"))
        .agg(F.count(F.lit(1)).alias("bucket_size"))
    )
    t = b.agg(
        F.sum("bucket_size").alias("n"), F.count(F.lit(1)).alias("k")
    )
    return (
        b.crossJoin(F.broadcast(t))
        .select(
            "centroid_id",
            "bucket_size",
            F.round(
                (F.col("bucket_size") * F.col("k")).cast("double")
                / F.col("n"),
                6,
            ).alias("imbalance_factor"),
        )
        .orderBy("centroid_id")
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space with LLOYD-TRAINED k-means centroids
# (the paper's recipe: k-means the embeddings, then prune WITHIN each
# cluster only) — the pair space is Σ C(|cluster|,2), a k-th of
# all-pairs, and shrinks further as k grows with corpus size (the
# paper's regime: cluster size ~constant, pair work ~n·|cluster|).
# Training reuses the embeddings_kmeans Lloyd loop (broadcast
# driver-held centroids, zero-shuffle assignment, k·dim-row updates);
# the oracle unrolls the identical loop via _kmeans_ctes, so the
# trained centroids — and therefore the cluster partition the pruning
# runs inside — are bit-exact across engines.
# Survivor rule, deterministic: a vector is dropped iff a LOWER-id
# vector in its cluster sits above the cosine threshold (the id-order
# greedy SemDeDup uses with "keep one per semantic group" intent —
# transitive groups are intentionally NOT chased; that full-CC
# variant is docs_dup_clusters' job on text).
# Every similarity rounds to 6dp before comparison, so the
# threshold cut is bit-identical across engines.
_SEMDEDUP_THRESH = "0.3"

# Pair-join block fan-out (guide §2.5 deterministic salting): the
# within-cluster pair joins below otherwise hash on the cluster id
# alone — k distinct keys, so k tasks carry the quadratic pair pass
# no matter how many cores exist. 16 blocks × k clusters spreads it
# 16× for a 16× replication of one (row-count-sized, not pair-sized)
# side; results are identical (each pair meets in exactly one block).
_PAIR_BLOCKS = 16


def _semantic_dedup_oracle(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    return f"""
    WITH {_kmeans_ctes(k, iters)},
    asgf AS (
      SELECT vec_id, v, cid AS cluster FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (SELECT e.vec_id, e.v, c.cid, {_KM_DIST} AS dist
              FROM ev e CROSS JOIN cent{iters} c))
      WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM asgf a
      JOIN asgf b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6)
            >= {_SEMDEDUP_THRESH})
    SELECT s.vec_id, s.cluster
    FROM asgf s
    WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)
    ORDER BY s.vec_id
    """


@query("embeddings_semantic_dedup", oracle=_semantic_dedup_oracle())
def embeddings_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.similarity import (
        _lloyd_assign,
        kmeans_centroids,
    )

    from fabric_claims_spark.operators.partitioning import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # Lloyd-trained coarse quantizer (k·dim driver state, 3 rounds),
    # then the zero-shuffle literal-centroid argmin assignment — the
    # exact pair embeddings_kmeans pins green against the SQL unroll.
    cents = kmeans_centroids(emb, k=_KM_K, iters=_KM_ITERS)
    ev = emb.select("vec_id", as_double_array("embedding").alias("v"))
    assign = _lloyd_assign(ev, cents).select(
        "vec_id", "cluster", F.col("v").alias("ev")
    )
    # norms precompute per VECTOR (row-local sqrt of the same _dot
    # expression _cosine uses, so dot/(na*nb) is bit-identical to the
    # per-pair recomputation the oracle performs) — without this every
    # pair re-derives both 64-element self-dots: 3x the array math
    # over the C(cluster,2) pair space
    withn = assign.withColumn("nrm", F.sqrt(dot(F.col("ev"), F.col("ev"))))
    # Deterministic pair-blocking (guide §2.5): the pair join's only
    # equi-key is the cluster id — k distinct values, so the whole
    # quadratic within-cluster dot-product pass lands on ≤ k reduce
    # partitions (measured: ONE 11 s task at sf0.1). Salt the a-side
    # with pmod(id, B) and replicate the b-side B ways: same pair set
    # exactly once each, k·B-way parallelism on the pair compute.
    a = withn.select(
        F.col("cluster").alias("c_a"),
        F.col("vec_id").alias("id_a"),
        F.col("ev").alias("ev_a"),
        F.col("nrm").alias("n_a"),
    ).withColumn("blk_a", F.pmod("id_a", F.lit(_PAIR_BLOCKS)).cast("int"))
    blocks = spark.range(_PAIR_BLOCKS).select(
        F.col("id").cast("int").alias("blk_b")
    )
    b = withn.select(
        F.col("cluster").alias("c_b"),
        F.col("vec_id").alias("id_b"),
        F.col("ev").alias("ev_b"),
        F.col("nrm").alias("n_b"),
    ).crossJoin(F.broadcast(blocks))
    pair_cos = dot(F.col("ev_a"), F.col("ev_b")) / (
        F.col("n_a") * F.col("n_b")
    )
    dropped = (
        a.join(
            b,
            (a["c_a"] == b["c_b"])
            & (a["blk_a"] == b["blk_b"])
            & (a["id_a"] < b["id_b"]),
        )
        .where(F.round(pair_cos, 6) >= F.lit(float(_SEMDEDUP_THRESH)))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "cluster")
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# SemDeDup QUALITY gate — hashes prove the within-cluster pair pass
# is deterministic, not that the clustering finds the duplicate
# pairs. This eval measures pair recall: of the vector pairs whose
# exact cosine clears the SemDeDup threshold (brute-force ground
# truth — an eval-harness computation, NOT the production path),
# what fraction lands in the same trained Lloyd cluster and is
# therefore visible to embeddings_semantic_dedup? The CLUSTERING
# under evaluation trains on the full corpus; the ground-truth pair
# scan runs over a fixed EVAL COHORT (vec_id < _RECALL_COHORT) so
# the eval's cost is constant in corpus size — a C(n,2) eval that
# grows with the corpus would itself be the scale bug. true_pairs =
# above-threshold cohort pairs, hit_pairs = the same-cluster subset,
# recall = hits/true. Cosine rounds to 6 dp on both engines (the
# exact expression the dedup itself uses), so the gate is
# hash-exact. tests/test_extensions.py asserts the recall floor;
# SCALING.md records the measured numbers per scale.
_RECALL_COHORT = 1024


@query(
    "embeddings_semdedup_recall",
    oracle=f"""
    WITH {{kmeans}},
    asgf AS (
      SELECT vec_id, v, cid AS cluster FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (SELECT e.vec_id, e.v, c.cid, {{dist}} AS dist
              FROM ev e CROSS JOIN cent{{iters}} c))
      WHERE rn = 1),
    p AS (
      SELECT a.cluster AS ca, b.cluster AS cb
      FROM asgf a JOIN asgf b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {{cohort}} AND b.vec_id < {{cohort}}
        AND ROUND(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6)
            >= {{thresh}})
    SELECT CAST({{k}} AS BIGINT) AS clusters,
           CAST({{thresh}} AS DOUBLE) AS threshold,
           CAST(COUNT(*) AS BIGINT) AS true_pairs,
           CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
             AS hit_pairs,
           ROUND(CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pair_recall
    FROM p
    """.format(
        kmeans=_kmeans_ctes(),
        dist=_KM_DIST,
        iters=_KM_ITERS,
        k=_KM_K,
        thresh=_SEMDEDUP_THRESH,
        cohort=_RECALL_COHORT,
    ),
)
def embeddings_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.extensions.similarity import (
        _lloyd_assign,
        kmeans_centroids,
    )

    # spread the single-file scan: training assignment AND the whole
    # cohort pair pass (2M cosine folds) otherwise run in ONE task
    # (guide §2.5; measured 4.3 s single-task at sf0.1)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_centroids(emb, k=_KM_K, iters=_KM_ITERS)
    ev = emb.select("vec_id", as_double_array("embedding").alias("v"))
    withn = _lloyd_assign(ev, cents).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    # Pair enumeration is a BLOCK-PAIR EQUI-JOIN, not a nested-loop
    # theta join. A BroadcastNestedLoopJoin on id_a < id_b evaluates
    # its condition interpreted per ordered candidate and was measured
    # at 28 s for 2000 vectors at sf0.1 (70 s with the cosine pushed
    # into the join condition — Catalyst pushes any pair-referencing
    # predicate there, so the threshold must fold into aggregate
    # conditions, never a pair-level WHERE). Instead: block
    # p = vec_id % B, the C(B+1,2) ordered block pairs (pa <= pb)
    # broadcast, each cohort vector replicates to its partner blocks,
    # and a BroadcastHashJoin on the partner-block key emits exactly
    # the C(n,2) unordered pairs (diagonal blocks keep id_a < id_b).
    # The cosine projects ONCE per pair (HOF fold — the bit-exact
    # DuckDB twin; a 64-term unrolled chain was tried and is SLOWER:
    # it blows past codegen limits and falls back to interpreting a
    # 64-deep expression tree). 28 s -> ~14 s at sf0.1, constant
    # beyond the cohort.
    cohort = withn.where(F.col("vec_id") < _RECALL_COHORT)
    n_blocks = 16
    a = cohort.select(
        F.col("vec_id").alias("id_a"),
        F.col("cluster").alias("c_a"),
        F.col("v").alias("ev_a"),
        F.col("nrm").alias("n_a"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("pa"),
    )
    b = cohort.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster").alias("c_b"),
        F.col("v").alias("ev_b"),
        F.col("nrm").alias("n_b"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("pb"),
    )
    block_pairs = local_frame(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "pa int, pb int",
    )
    rep = a.join(
        F.broadcast(block_pairs.withColumn("pa", F.col("pa").cast("bigint"))),
        "pa",
    )
    pairs = rep.join(F.broadcast(b), "pb").where(
        (F.col("pa") != F.col("pb")) | (F.col("id_a") < F.col("id_b"))
    )
    pair_cos = F.round(
        dot(F.col("ev_a"), F.col("ev_b")) / (F.col("n_a") * F.col("n_b")),
        6,
    )
    scored = pairs.select(
        pair_cos.alias("cs"),
        (F.col("c_a") == F.col("c_b")).alias("same_cluster"),
    )
    above = F.col("cs") >= F.lit(float(_SEMDEDUP_THRESH))
    return (
        scored
        .agg(
            F.sum(F.when(above, 1).otherwise(0))
            .cast("bigint")
            .alias("true_pairs"),
            F.sum(
                F.when(above & F.col("same_cluster"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("hit_pairs"),
        )
        .select(
            F.lit(_KM_K).cast("bigint").alias("clusters"),
            F.lit(float(_SEMDEDUP_THRESH)).alias("threshold"),
            "true_pairs",
            "hit_pairs",
            F.round(
                F.col("hit_pairs").cast("double") / F.col("true_pairs"), 6
            ).alias("pair_recall"),
        )
    )


# --------------------------------------------------------------------------
# SemDeDup boundary multi-probe (VERDICT r7 item 4). Single-probe
# SemDeDup misses every duplicate pair the Voronoi boundary splits —
# measured pair recall 0.27–0.34 (SCALING.md §round-7). The standard
# IVF fix applies to the PAIR PASS too: assign each vector to its
# TOP-2 nearest trained centroids and make a pair visible when the
# probe sets intersect. Cost stays within-cluster bounded: each
# vector sits in exactly 2 probe lists, so the pair space is at most
# Σ C(2·|cluster|, 2) ≈ 4× the single-probe space — still a k-th of
# all-pairs, never a corpus blow-up. The PRIMARY assignment (probe
# rank 1) is the bit-identical argmin of the single-probe path, so
# the output clustering column is unchanged; only the drop rule sees
# more pairs. Structural guarantee (pytest): every single-probe-
# visible pair is multi-probe-visible (probe 1 = the primary), so
# survivors_mp ⊆ survivors_sp.
_SEMDEDUP_PROBES = 2


def _ranked_assign_cte(iters: int = _KM_ITERS) -> str:
    """The per-vector (dist, cid)-ranked assignment over the trained
    centroids — rn = 1 is the classic argmin, rn <= p the probe set."""
    return f"""ranked AS (
      SELECT vec_id, v, cid, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM (SELECT e.vec_id, e.v, c.cid, {_KM_DIST} AS dist
            FROM ev e CROSS JOIN cent{iters} c))"""


@query(
    "embeddings_semantic_dedup_mp",
    oracle=f"""
    WITH {_kmeans_ctes()},
    {_ranked_assign_cte()},
    asgf AS (SELECT vec_id, v, cid AS cluster FROM ranked WHERE rn = 1),
    asgp AS (SELECT vec_id, v, cid FROM ranked
             WHERE rn <= {_SEMDEDUP_PROBES}),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM asgp a
      JOIN asgp b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6)
            >= {_SEMDEDUP_THRESH})
    SELECT s.vec_id, s.cluster
    FROM asgf s
    WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)
    ORDER BY s.vec_id
    """,
)
def embeddings_semantic_dedup_mp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fabric_claims_spark.extensions.similarity import (
        _lloyd_assign_probes,
        kmeans_centroids,
    )

    from fabric_claims_spark.operators.partitioning import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_centroids(emb, k=_KM_K, iters=_KM_ITERS)
    ev = emb.select("vec_id", as_double_array("embedding").alias("v"))
    pr = _lloyd_assign_probes(ev, cents, probes=_SEMDEDUP_PROBES)
    withn = pr.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    # one row per (vector, probed cluster) — the equi-join key; a pair
    # sharing both probes joins twice, the DISTINCT collapses it.
    # Same deterministic pair-blocking as embeddings_semantic_dedup
    # (guide §2.5): the probed-cluster key alone is k values, so the
    # quadratic pair pass would run ≤ k-way; pmod(id, B) blocks × a
    # B-way replicated b-side spread it k·B-way, same pair set.
    probe_rows = withn.select(
        "vec_id",
        F.explode("probes").alias("pc"),
        F.col("v"),
        F.col("nrm"),
    )
    a = probe_rows.select(
        F.col("pc").alias("pc_a"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("ev_a"),
        F.col("nrm").alias("n_a"),
    ).withColumn("blk_a", F.pmod("id_a", F.lit(_PAIR_BLOCKS)).cast("int"))
    blocks = spark.range(_PAIR_BLOCKS).select(
        F.col("id").cast("int").alias("blk_b")
    )
    b = probe_rows.select(
        F.col("pc").alias("pc_b"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("ev_b"),
        F.col("nrm").alias("n_b"),
    ).crossJoin(F.broadcast(blocks))
    pair_cos = dot(F.col("ev_a"), F.col("ev_b")) / (
        F.col("n_a") * F.col("n_b")
    )
    dropped = (
        a.join(
            b,
            (a["pc_a"] == b["pc_b"])
            & (a["blk_a"] == b["blk_b"])
            & (a["id_a"] < b["id_b"]),
        )
        .where(F.round(pair_cos, 6) >= F.lit(float(_SEMDEDUP_THRESH)))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        pr.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "cluster")
        .orderBy("vec_id")
    )


@query(
    "embeddings_semdedup_recall_mp",
    oracle=f"""
    WITH {_kmeans_ctes()},
    {_ranked_assign_cte()},
    asgp AS (SELECT vec_id, cid FROM ranked
             WHERE rn <= {_SEMDEDUP_PROBES}
               AND vec_id < {_RECALL_COHORT}),
    shared AS (
      SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
      FROM asgp x JOIN asgp y ON x.cid = y.cid AND x.vec_id < y.vec_id),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM ev a JOIN ev b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {_RECALL_COHORT} AND b.vec_id < {_RECALL_COHORT}
        AND ROUND(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6)
            >= {_SEMDEDUP_THRESH})
    SELECT CAST({_KM_K} AS BIGINT) AS clusters,
           CAST({_SEMDEDUP_PROBES} AS BIGINT) AS probes,
           CAST({_SEMDEDUP_THRESH} AS DOUBLE) AS threshold,
           CAST(COUNT(*) AS BIGINT) AS true_pairs,
           CAST(SUM(CASE WHEN s.va IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hit_pairs,
           ROUND(CAST(SUM(CASE WHEN s.va IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS pair_recall
    FROM p LEFT JOIN shared s ON s.va = p.va AND s.vb = p.vb
    """,
)
def embeddings_semdedup_recall_mp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair recall of the multi-probe visibility rule over the same
    fixed eval cohort as embeddings_semdedup_recall: of the pairs
    whose exact cosine clears the threshold, what fraction shares AT
    LEAST ONE of the two probed clusters? Same constant-cost
    block-pair equi-join scan; the hit test is arrays_overlap on the
    two 2-element probe sets carried per vector."""
    from fabric_claims_spark.extensions.similarity import (
        _lloyd_assign_probes,
        kmeans_centroids,
    )

    # spread the single-file scan: the probe assignment and the whole
    # cohort pair pass otherwise run in ONE task (guide §2.5)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_centroids(emb, k=_KM_K, iters=_KM_ITERS)
    ev = emb.select("vec_id", as_double_array("embedding").alias("v"))
    withn = _lloyd_assign_probes(
        ev, cents, probes=_SEMDEDUP_PROBES
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    cohort = withn.where(F.col("vec_id") < _RECALL_COHORT)
    n_blocks = 16
    a = cohort.select(
        F.col("vec_id").alias("id_a"),
        F.col("probes").alias("pr_a"),
        F.col("v").alias("ev_a"),
        F.col("nrm").alias("n_a"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("pa"),
    )
    b = cohort.select(
        F.col("vec_id").alias("id_b"),
        F.col("probes").alias("pr_b"),
        F.col("v").alias("ev_b"),
        F.col("nrm").alias("n_b"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("pb"),
    )
    block_pairs = local_frame(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "pa int, pb int",
    )
    rep = a.join(
        F.broadcast(block_pairs.withColumn("pa", F.col("pa").cast("bigint"))),
        "pa",
    )
    pairs = rep.join(F.broadcast(b), "pb").where(
        (F.col("pa") != F.col("pb")) | (F.col("id_a") < F.col("id_b"))
    )
    pair_cos = F.round(
        dot(F.col("ev_a"), F.col("ev_b")) / (F.col("n_a") * F.col("n_b")),
        6,
    )
    scored = pairs.select(
        pair_cos.alias("cs"),
        F.arrays_overlap(F.col("pr_a"), F.col("pr_b")).alias("probe_hit"),
    )
    above = F.col("cs") >= F.lit(float(_SEMDEDUP_THRESH))
    return (
        scored.agg(
            F.sum(F.when(above, 1).otherwise(0))
            .cast("bigint")
            .alias("true_pairs"),
            F.sum(F.when(above & F.col("probe_hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("hit_pairs"),
        )
        .select(
            F.lit(_KM_K).cast("bigint").alias("clusters"),
            F.lit(_SEMDEDUP_PROBES).cast("bigint").alias("probes"),
            F.lit(float(_SEMDEDUP_THRESH)).alias("threshold"),
            "true_pairs",
            "hit_pairs",
            F.round(
                F.col("hit_pairs").cast("double") / F.col("true_pairs"), 6
            ).alias("pair_recall"),
        )
    )


# --------------------------------------------------------------------------
# Hybrid retrieval via Reciprocal Rank Fusion [Cormack, Clarke &
# Buettcher, SIGIR 2009] — the standard way to combine a lexical and
# a semantic ranking without score calibration: each list contributes
# 1/(k + rank), k=60. Lexical side: token-set Jaccard vs the query
# doc (shared-token candidates only — the query's token set
# broadcasts). Semantic side: cosine vs the query vector (brute
# force, the correctness baseline). Both sides cut to their TOP-100
# by TakeOrderedAndProject — ranks are then row_numbers over 100-row
# frames, never a global window on data-sized frames — and fusion
# joins the two bounded lists on the shared id (docs without
# embeddings simply can't fuse — the partial-coverage corpus at
# sf0.1 exercises that honestly). Every rank and both divisions are
# identical in the two engines; the fused score rounds to 6 dp.
_RRF_K = 60
_RRF_TOP = 100


@query(
    "docs_hybrid_rrf_search",
    oracle=f"""
    WITH qt AS (
      SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE doc_id = 0),
    qn AS (SELECT COUNT(*) AS qn FROM qt),
    dt AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE doc_id != 0 AND length(trim(text)) > 0),
    ds AS (SELECT DISTINCT doc_id, tok FROM dt),
    dn AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
    ov AS (
      SELECT ds.doc_id, COUNT(*) AS inter
      FROM ds JOIN qt ON qt.tok = ds.tok GROUP BY 1),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY jac DESC, doc_id) AS r_lex
      FROM (
        SELECT ov.doc_id,
               ROUND(CAST(ov.inter AS DOUBLE)
                     / (dn.n + qn.qn - ov.inter), 6) AS jac
        FROM ov JOIN dn ON dn.doc_id = ov.doc_id CROSS JOIN qn
        ORDER BY jac DESC, ov.doc_id LIMIT {_RRF_TOP})),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_sem
      FROM (
        SELECT e.vec_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], q.v)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.v, q.v))), 6) AS cos
        FROM embeddings e CROSS JOIN qv q WHERE e.vec_id != 0
        ORDER BY cos DESC, e.vec_id LIMIT {_RRF_TOP}))
    SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
           CAST(l.r_lex AS BIGINT) AS r_lex,
           CAST(s.r_sem AS BIGINT) AS r_sem,
           ROUND(COALESCE(1.0 / (60 + l.r_lex), 0)
                 + COALESCE(1.0 / (60 + s.r_sem), 0), 6) AS rrf_score
    FROM lex l FULL JOIN sem s ON s.vec_id = l.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def docs_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.operators.partitioning import spread
    from fabric_claims_spark.sources.parquet import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    qt = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .distinct()
    )
    qn = qt.count()  # bounded: one doc's vocabulary
    ds = (
        spread(docs.where((F.col("doc_id") != 0)
                          & (F.length(F.trim(F.col("text"))) > 0)))
        .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .distinct()
    )
    dn = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ov = ds.join(F.broadcast(qt), "tok").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("inter")
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("n") + F.lit(qn) - F.col("inter")),
        6,
    )
    lex_top = (
        ov.join(dn, "doc_id")
        .select("doc_id", jac.alias("jac"))
        .orderBy(F.col("jac").desc(), F.col("doc_id").asc())
        .limit(_RRF_TOP)
    )
    w_lex = Window.orderBy(F.col("jac").desc(), F.col("doc_id").asc())
    lex = lex_top.withColumn("r_lex", F.row_number().over(w_lex)).select(
        "doc_id", "r_lex"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        as_double_array("embedding").alias("qv")
    )
    scored = (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", as_double_array("embedding").alias("ev"))
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("ev"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(_RRF_TOP)
    )
    w_sem = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    sem = scored.withColumn("r_sem", F.row_number().over(w_sem)).select(
        "vec_id", "r_sem"
    )
    # standard RRF handles partial membership: a doc absent from one
    # list just loses that list's term (FULL outer fusion) — with the
    # sf0.1 corpus only 2 of 5 docs carry embeddings, an inner fusion
    # can legitimately be EMPTY (disjoint top-100s), which is a
    # correct-but-useless retrieval surface
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_sem")), F.lit(0.0)
        ),
        6,
    )
    return (
        lex.join(sem, lex["doc_id"] == sem["vec_id"], "full_outer")
        .select(
            F.coalesce(lex["doc_id"], sem["vec_id"]).alias("doc_id"),
            F.col("r_lex").cast("long").alias("r_lex"),
            F.col("r_sem").cast("long").alias("r_sem"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# RRF over the INVERTED INDEX — the served-retrieval twin of
# docs_hybrid_rrf_search (VERDICT r6 item 7). The scan variant
# re-derives every document's token set per query; a serving layer
# keeps the docs_posting_lists index and touches only the postings
# the query needs. Two-phase lexical retrieval, the standard
# serving shape:
#
#   1. CANDIDATE GENERATION from the inverted index, df-pruned:
#      query terms are processed in increasing document-frequency
#      order (what WAND-family engines do); terms with df <= the
#      posting cap are used outright, and the _IDX_RAREST rarest
#      query terms are ALWAYS used even when every query term is a
#      high-df "stopword" (the dense-vocabulary corpus at sf0.1 is
#      exactly that world — without the fallback the candidate set
#      is empty and recall collapses). Candidate count is bounded by
#      sum(df) over the selected terms — never corpus-sized on a
#      natural (Zipfian) vocabulary.
#   2. EXACT SCORING over the FORWARD index: the candidate set is
#      bounded, so fetching each candidate's stored token set (the
#      (doc_id, term) frame keyed by doc — at scale a bloom/DPP
#      prune on the scan) and its doc-length sidecar computes the
#      same exact Jaccard the scan variant computes. Scores are
#      therefore identical wherever the true lexical top-100 is
#      reachable from the selected postings — pytest pins indexed
#      top-10 == scan top-10 at every fixture scale.
#
# Semantic side and the RRF fusion are shared with the scan twin
# verbatim. Cites reference NB_GOLD report queries only by family;
# the serving design is standard IR (Manning et al., IIR ch.5-7).
# the retrieval index IS docs_posting_lists' index — share its cap so
# the two can never drift
from fabric_claims_spark.queries.text_docs import (  # noqa: E402
    _POSTINGS_MAX_DF as _IDX_DF_CAP,
)
_IDX_RAREST = 4


# shared with queries/serving.docs_hybrid_rrf_served — the served
# consumer reads the same index frames from a TableStore and must
# produce the identical fused top-10, so it carries the identical
# oracle
_RRF_INDEXED_ORACLE = f"""
    WITH td AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0),
    qt AS (
      SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents WHERE doc_id = 0),
    qn AS (SELECT COUNT(*) AS qn FROM qt),
    dn AS (SELECT doc_id, COUNT(*) AS n FROM td GROUP BY 1),
    dfc AS (SELECT term, COUNT(*) AS df FROM td GROUP BY 1),
    qdf AS (
      SELECT qt.term, dfc.df,
             ROW_NUMBER() OVER (ORDER BY dfc.df, qt.term) AS rk
      FROM qt JOIN dfc USING (term)),
    qterms AS (
      SELECT term FROM qdf WHERE df <= {_IDX_DF_CAP} OR rk <= {_IDX_RAREST}),
    cand AS (
      SELECT DISTINCT td.doc_id FROM td JOIN qterms USING (term)
      WHERE td.doc_id != 0),
    ov AS (
      SELECT td.doc_id, COUNT(*) AS inter
      FROM td JOIN cand USING (doc_id) JOIN qt USING (term) GROUP BY 1),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY jac DESC, doc_id) AS r_lex
      FROM (
        SELECT ov.doc_id,
               ROUND(CAST(ov.inter AS DOUBLE)
                     / (dn.n + qn.qn - ov.inter), 6) AS jac
        FROM ov JOIN dn USING (doc_id) CROSS JOIN qn
        ORDER BY jac DESC, ov.doc_id LIMIT {_RRF_TOP})),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_sem
      FROM (
        SELECT e.vec_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], q.v)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.v, q.v))), 6) AS cos
        FROM embeddings e CROSS JOIN qv q WHERE e.vec_id != 0
        ORDER BY cos DESC, e.vec_id LIMIT {_RRF_TOP}))
    SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
           CAST(l.r_lex AS BIGINT) AS r_lex,
           CAST(s.r_sem AS BIGINT) AS r_sem,
           ROUND(COALESCE(1.0 / (60 + l.r_lex), 0)
                 + COALESCE(1.0 / (60 + s.r_sem), 0), 6) AS rrf_score
    FROM lex l FULL JOIN sem s ON s.vec_id = l.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """


@query("docs_hybrid_rrf_indexed", oracle=_RRF_INDEXED_ORACLE)
def docs_hybrid_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fabric_claims_spark.operators.partitioning import spread

    docs = load_table(spark, sf_dir, "documents")
    # the index frames (posting pairs + df + doc-length sidecar) —
    # in serving these are materialized once (see
    # operators/serving_index.py and the docs_hybrid_rrf_served
    # consumer, which reads them from a TableStore and must fuse the
    # identical top-10); here they build in-plan with the exact shape
    # docs_posting_lists pins (distinct explode, partial-agg df) so
    # the query IS the index consumer
    td = (
        spread(docs.where(F.length(F.trim(F.col("text"))) > 0))
        .select(
            "doc_id",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("term"),
        )
        .distinct()
    )
    dfc = td.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dn = td.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    emb = load_table(spark, sf_dir, "embeddings")
    return _rrf_indexed_core(td, dfc, dn, emb)


def _rrf_indexed_core(
    td: DataFrame, dfc: DataFrame, dn: DataFrame, emb: DataFrame
) -> DataFrame:
    """Candidate generation + exact scoring + RRF fusion over supplied
    INDEX FRAMES — shared verbatim by the in-plan gate query above and
    the served consumer that reads the same frames from a TableStore
    serving index (queries/serving.docs_hybrid_rrf_served), so the two
    can never drift. The query doc's term set is read off the postings
    (doc 0's posting rows ARE its distinct terms)."""
    qt = td.where(F.col("doc_id") == 0).select("term")
    qn = qt.count()  # bounded: one doc's vocabulary
    # increasing-df query-term order; keep cheap terms + the R rarest
    w_df = Window.orderBy(F.col("df").asc(), F.col("term").asc())
    qterms = (
        qt.join(dfc, "term")
        .withColumn("rk", F.row_number().over(w_df))
        .where(
            (F.col("df") <= F.lit(_IDX_DF_CAP))
            | (F.col("rk") <= F.lit(_IDX_RAREST))
        )
        .select("term")
    )
    # phase 1: candidates = union of the selected terms' postings
    cand = (
        td.join(F.broadcast(qterms), "term")
        .where(F.col("doc_id") != 0)
        .select("doc_id")
        .distinct()
    )
    # phase 2: forward-index fetch of candidate token sets -> exact
    # overlap counts (cand is bounded, so this join prunes the td
    # scan to candidate docs; qt broadcasts)
    ov = (
        td.join(cand, "doc_id")
        .join(F.broadcast(qt), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("n") + F.lit(qn) - F.col("inter")),
        6,
    )
    lex_top = (
        ov.join(dn, "doc_id")
        .select("doc_id", jac.alias("jac"))
        .orderBy(F.col("jac").desc(), F.col("doc_id").asc())
        .limit(_RRF_TOP)
    )
    w_lex = Window.orderBy(F.col("jac").desc(), F.col("doc_id").asc())
    lex = lex_top.withColumn("r_lex", F.row_number().over(w_lex)).select(
        "doc_id", "r_lex"
    )
    q = emb.where(F.col("vec_id") == 0).select(
        as_double_array("embedding").alias("qv")
    )
    scored = (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", as_double_array("embedding").alias("ev"))
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("ev"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(_RRF_TOP)
    )
    w_sem = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    sem = scored.withColumn("r_sem", F.row_number().over(w_sem)).select(
        "vec_id", "r_sem"
    )
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_sem")), F.lit(0.0)
        ),
        6,
    )
    return (
        lex.join(sem, lex["doc_id"] == sem["vec_id"], "full_outer")
        .select(
            F.coalesce(lex["doc_id"], sem["vec_id"]).alias("doc_id"),
            F.col("r_lex").cast("long").alias("r_lex"),
            F.col("r_sem").cast("long").alias("r_sem"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Hyperplane-LSH recall gate (round 9) — completes the recall-gate
# family (MinHash r8, SimHash r8, SemDeDup r7/r8): end-to-end recall
# of the PRODUCTION hyperplane blocking (hyperplane_band_sigs /
# hyperplane_neardup_pairs shape, identical planes) against exact
# cosine ground truth over a fixed 256-vector cohort, reported in
# two similarity bands. Sign-LSH collision probability is
# (1 - θ/π)^bits per band — steep in cosine — so the honest contract
# is: high-similarity pairs (cos ≥ 0.9) are mostly caught, the
# 0.3–0.9 band is mostly NOT at 4×8 bits (those pairs belong to the
# SemDeDup / brute-force paths). The gate makes that machine-readable
# instead of folklore. Cohort-bounded: constant cost at any corpus
# size; the pipeline under test is the production banding verbatim.
_HP_RECALL_COHORT = 256
_HP_COS_HI = "0.9"
_HP_COS_LO = "0.3"


def _hp_recall_oracle() -> str:
    planes = _hp_planes()
    band_selects = []
    for bi, band in enumerate(planes):
        bits = " || ".join(
            "(CASE WHEN list_dot_product(ev, [{coefs}]) >= 0 "
            "THEN '1' ELSE '0' END)".format(
                coefs=", ".join(f"{c:.6f}" for c in h)
            )
            for h in band
        )
        band_selects.append(
            f"SELECT vec_id, {bi} AS band_idx, {bits} AS sig FROM e"
        )
    bands_sql = "\n      UNION ALL ".join(band_selects)
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE vec_id < {_HP_RECALL_COHORT}),
    b AS (
      {bands_sql}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
      FROM b a JOIN b b2
        ON a.band_idx = b2.band_idx AND a.sig = b2.sig
       AND a.vec_id < b2.vec_id),
    truth AS (
      SELECT ea.vec_id AS vec_a, eb.vec_id AS vec_b,
             ROUND(list_dot_product(ea.ev, eb.ev)
                   / (sqrt(list_dot_product(ea.ev, ea.ev))
                      * sqrt(list_dot_product(eb.ev, eb.ev))), 6) AS cos
      FROM e ea JOIN e eb ON ea.vec_id < eb.vec_id)
    SELECT CAST({_HP_COS_HI} AS DOUBLE) AS threshold_hi,
           CAST({_HP_COS_LO} AS DOUBLE) AS threshold_lo,
           CAST(SUM(CASE WHEN t.cos >= {_HP_COS_HI} THEN 1 ELSE 0 END)
                AS BIGINT) AS hi_true,
           CAST(SUM(CASE WHEN t.cos >= {_HP_COS_HI}
                          AND c.vec_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hi_hits,
           ROUND(CAST(SUM(CASE WHEN t.cos >= {_HP_COS_HI}
                               AND c.vec_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN t.cos >= {_HP_COS_HI}
                              THEN 1 ELSE 0 END), 0), 6) AS recall_hi,
           CAST(SUM(CASE WHEN t.cos >= {_HP_COS_LO}
                          AND t.cos < {_HP_COS_HI} THEN 1 ELSE 0 END)
                AS BIGINT) AS lo_true,
           CAST(SUM(CASE WHEN t.cos >= {_HP_COS_LO}
                          AND t.cos < {_HP_COS_HI}
                          AND c.vec_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS lo_hits,
           ROUND(CAST(SUM(CASE WHEN t.cos >= {_HP_COS_LO}
                               AND t.cos < {_HP_COS_HI}
                               AND c.vec_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN t.cos >= {_HP_COS_LO}
                              AND t.cos < {_HP_COS_HI}
                              THEN 1 ELSE 0 END), 0), 6) AS recall_lo
    FROM truth t
    LEFT JOIN cand c ON c.vec_a = t.vec_a AND c.vec_b = t.vec_b
    WHERE t.cos >= {_HP_COS_LO}
    """


@query("embeddings_hyperplane_recall", oracle=_hp_recall_oracle())
def embeddings_hyperplane_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fabric_claims_spark.caching import tracked_cache
    from fabric_claims_spark.extensions.dedup import band, bucket_pairs
    from fabric_claims_spark.extensions.similarity import (
        hyperplane_band_sigs,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _HP_RECALL_COHORT
    )
    # spread the single-file cohort scan: the cached frame feeds
    # the 32k-pair truth self-join AND the 128-hyperplane banding,
    # both of which otherwise run single-task at the scan's
    # parallelism. Aggregate-only output — partitioning-invariant.
    e = tracked_cache(
        spread(emb.select("vec_id", as_double_array("embedding").alias("ev")))
    )
    keys = hyperplane_band_sigs(F.col("ev"), _hp_planes())
    cand = (
        bucket_pairs(band(e, "vec_id", keys), "vec_id", "vec_a", "vec_b")
        .withColumn("hit", F.lit(1))
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("ev").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("ev").alias("vb"))
    truth = (
        ea.join(eb, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .where(F.col("cos") >= float(_HP_COS_LO))
    )
    hi = F.col("cos") >= float(_HP_COS_HI)
    lo = ~hi
    j = truth.join(cand, ["vec_a", "vec_b"], "left")
    caught = F.col("hit").isNotNull()
    return j.agg(
        F.lit(float(_HP_COS_HI)).alias("threshold_hi"),
        F.lit(float(_HP_COS_LO)).alias("threshold_lo"),
        F.sum(hi.cast("int")).cast("bigint").alias("hi_true"),
        F.sum((hi & caught).cast("int")).cast("bigint").alias("hi_hits"),
        F.round(
            F.sum((hi & caught).cast("int")).cast("double")
            / F.nullif(F.sum(hi.cast("int")), F.lit(0)),
            6,
        ).alias("recall_hi"),
        F.sum(lo.cast("int")).cast("bigint").alias("lo_true"),
        F.sum((lo & caught).cast("int")).cast("bigint").alias("lo_hits"),
        F.round(
            F.sum((lo & caught).cast("int")).cast("double")
            / F.nullif(F.sum(lo.cast("int")), F.lit(0)),
            6,
        ).alias("recall_lo"),
    )


# --------------------------------------------------------------------------
# Contrastive pair mining — the training-data op for embedding-model
# fine-tuning: for every anchor in a deterministic cohort, the top-k
# nearest SAME-label neighbors (positives) and top-k nearest
# DIFFERENT-label neighbors (hard negatives — the pairs that actually
# move a contrastive loss; easy negatives are uninformative). Output
# is a triplet-ready table (anchor, role, rank, candidate, cosine).
#
# Scale notes (100 TB): the anchor cohort broadcasts onto the stored
# corpus — the corpus never shuffles; per-anchor top-k is a window
# over (anchor, role), rank-bounded. For web-scale mining swap the
# brute-force candidate scan for the IVF probe path
# (apply_ivf_batch / embeddings_ivf_search — same scoring, bucket-
# pruned candidates); the mining semantics (role split + ranked
# cutoff) are unchanged. Cosines round to 6 dp with vec_id
# tie-breaks — the suite's standard determinism discipline.
_HARDNEG_K = 3
_HARDNEG_COHORT = 100  # anchors: vec_id % 100 == 0 (5/5/20 per scale)


@query(
    "embeddings_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
    a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, ev AS av
      FROM e WHERE vec_id % {_HARDNEG_COHORT} = 0),
    scored AS (
      SELECT a.anchor_id,
             CASE WHEN e.label = a.anchor_label THEN 'pos' ELSE 'neg' END
               AS role,
             e.vec_id AS cand_id, e.label AS cand_label,
             ROUND(list_dot_product(e.ev, a.av)
                   / (sqrt(list_dot_product(e.ev, e.ev))
                      * sqrt(list_dot_product(a.av, a.av))), 6)
               AS cosine_sim
      FROM e, a
      WHERE e.vec_id != a.anchor_id)
    SELECT anchor_id, role,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
           cand_id, cand_label, cosine_sim
    FROM scored
    WINDOW w AS (PARTITION BY anchor_id, role
                 ORDER BY cosine_sim DESC, cand_id ASC)
    QUALIFY ROW_NUMBER() OVER w <= {_HARDNEG_K}
    """,
)
def embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double_array("embedding").alias("ev"))
    a = e.where(F.col("vec_id") % _HARDNEG_COHORT == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("ev").alias("av"),
    )
    scored = (
        e.join(F.broadcast(a), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.when(F.col("label") == F.col("anchor_label"), "pos")
            .otherwise("neg")
            .alias("role"),
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            F.round(cosine(F.col("ev"), F.col("av")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("anchor_id", "role").orderBy(
        F.col("cosine_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _HARDNEG_K)
        .select("anchor_id", "role", "rnk", "cand_id", "cand_label",
                "cosine_sim")
    )


# --------------------------------------------------------------------------
# Embedding-truncation recall (Matryoshka-style, Kusupati et al.
# 2022): how much ANN recall survives when stored vectors keep only
# their first d dimensions — the storage/compute lever for a 100-TB
# vector corpus (d=16 of 64 is 4× less scan bytes AND 4× less dot-
# product work per candidate, composing with the SQ8/PQ compression
# paths). For each dim budget, per-anchor top-k by truncated cosine
# is compared against the full-dimension top-k truth; recall is an
# exact integer hit count with ONE final division.
#
# Scale notes: same broadcast-cohort shape as the other recall gates
# (corpus never shuffles; per-anchor top-k is a rank-bounded window).
# The truncated scoring slices the stored array in-plan; production
# stores the prefix as its own column/file so the scan itself sheds
# the bytes — the plan is otherwise identical.
_TRUNC_BUDGETS = (8, 16, 32)
_TRUNC_TOPK = 10


def _trunc_topk_sql(vec_expr_e: str, vec_expr_a: str) -> str:
    """Per-anchor top-k CTE body over the given vector expressions."""
    return f"""
      SELECT anchor_id, cand_id FROM (
        SELECT a.anchor_id, e.vec_id AS cand_id,
               ROUND(list_dot_product({vec_expr_e}, {vec_expr_a})
                     / (sqrt(list_dot_product({vec_expr_e}, {vec_expr_e}))
                        * sqrt(list_dot_product({vec_expr_a},
                                                {vec_expr_a}))), 6) AS sim
        FROM e, a WHERE e.vec_id != a.anchor_id)
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY anchor_id ORDER BY sim DESC, cand_id ASC)
        <= {_TRUNC_TOPK}"""


def _trunc_budget_sql(d: int) -> str:
    return f"""
    SELECT CAST({d} AS BIGINT) AS dim_budget,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(SUM(hits) AS BIGINT) AS hits,
           CAST(SUM(hits) AS DOUBLE)
             / (COUNT(*) * {_TRUNC_TOPK}) AS recall_at_{_TRUNC_TOPK}
    FROM (
      SELECT anc.anchor_id, COUNT(x.cand_id) AS hits
      FROM a anc
      LEFT JOIN (
        SELECT p.anchor_id, p.cand_id
        FROM ({_trunc_topk_sql(f"e.ev[1:{d}]", f"a.av[1:{d}]")}) p
        JOIN truth t
          ON t.anchor_id = p.anchor_id AND t.cand_id = p.cand_id) x
        ON x.anchor_id = anc.anchor_id
      GROUP BY anc.anchor_id)
    """


@query(
    "embeddings_truncation_recall",
    oracle=(
        f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    a AS (
      SELECT vec_id AS anchor_id, ev AS av
      FROM e WHERE vec_id % {_HARDNEG_COHORT} = 0),
    truth AS ({_trunc_topk_sql("e.ev", "a.av")})
    """
        + "\nUNION ALL\n".join(
            _trunc_budget_sql(d) for d in _TRUNC_BUDGETS
        )
    ),
)
def embeddings_truncation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double_array("embedding").alias("ev"))
    a = e.where(F.col("vec_id") % _HARDNEG_COHORT == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("ev").alias("av")
    )
    anchors = a.select("anchor_id")

    def topk(ev: Column, av: Column) -> DataFrame:
        scored = e.join(
            F.broadcast(a), F.col("vec_id") != F.col("anchor_id")
        ).select(
            "anchor_id",
            F.col("vec_id").alias("cand_id"),
            F.round(cosine(ev, av), 6).alias("sim"),
        )
        w = Window.partitionBy("anchor_id").orderBy(
            F.col("sim").desc(), F.col("cand_id").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _TRUNC_TOPK)
            .select("anchor_id", "cand_id")
        )

    truth = topk(F.col("ev"), F.col("av")).localCheckpoint()

    def budget_recall(d: int) -> DataFrame:
        approx = topk(
            F.slice(F.col("ev"), 1, d), F.slice(F.col("av"), 1, d)
        )
        matched = approx.join(truth, ["anchor_id", "cand_id"], "left_semi")
        hits = matched.groupBy("anchor_id").agg(
            F.count(F.lit(1)).alias("h")
        )
        per_anchor = anchors.join(hits, "anchor_id", "left").select(
            "anchor_id", F.coalesce("h", F.lit(0)).alias("hits")
        )
        return per_anchor.agg(
            F.lit(d).cast("long").alias("dim_budget"),
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
            F.sum("hits").cast("long").alias("hits"),
            (
                F.sum("hits").cast("double")
                / (F.count(F.lit(1)) * F.lit(_TRUNC_TOPK))
            ).alias(f"recall_at_{_TRUNC_TOPK}"),
        )

    out = budget_recall(_TRUNC_BUDGETS[0])
    for d in _TRUNC_BUDGETS[1:]:
        out = out.unionByName(budget_recall(d))
    return out


# --------------------------------------------------------------------------
# Per-dimension embedding drift profile (round 11) — the monitoring op
# an embedding pipeline runs when the encoder is retrained or upgraded:
# split the corpus into two cohorts (deterministic vec_id parity — in
# production, ingestion period or encoder version) and compare the
# cohorts' per-dimension means. A dimension whose mean shifts is the
# first sign the two cohorts' vectors are not interchangeable (stale
# IVF quantizers, broken ANN recall — the failure SCALING r10 measured
# from the bucket-balance side).
#
# Determinism discipline: float components are NEVER summed as floats
# (partition-order-dependent). Each component quantizes to exact
# micro-units via the proven double-round pattern
# (ROUND(ROUND(x, 6)·1e6, 0) → int64), per-cohort sums fold as exact
# integers, and each reported mean/shift is a single IEEE expression
# over two int64s — identical trees in both engines. The exact
# integer cross-numerator |a_sum·n_b − b_sum·n_a| rides along so a
# zero-shift assertion needs no float compare at all.
#
# Scale notes (100 TB): one corpus scan → posexplode (rows × dims) →
# ONE hash aggregate keyed (dim, cohort) → dim-bounded output (64
# rows); no joins, no windows, no driver state beyond the result.
@query(
    "embeddings_period_dim_drift",
    oracle="""
    WITH comp AS (
      SELECT vec_id % 2 AS grp, s.i AS dim,
             CAST(ROUND(ROUND(CAST(embedding[s.i] AS DOUBLE), 6)
                        * 1000000, 0) AS BIGINT) AS micro
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) s(i)),
    agg AS (
      SELECT dim,
             CAST(SUM(CASE WHEN grp = 0 THEN micro END) AS BIGINT)
               AS a_sum,
             CAST(SUM(CASE WHEN grp = 1 THEN micro END) AS BIGINT)
               AS b_sum,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM comp GROUP BY dim)
    SELECT CAST(dim AS BIGINT) AS dim, n_a, n_b,
           CAST(a_sum AS DOUBLE) / (1000000.0 * n_a) AS a_mean,
           CAST(b_sum AS DOUBLE) / (1000000.0 * n_b) AS b_mean,
           ABS(a_sum * n_b - b_sum * n_a) AS shift_num
    FROM agg ORDER BY dim
    """,
)
def embeddings_period_dim_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    micro = F.round(
        F.round(F.col("x").cast("double"), 6) * 1_000_000, 0
    ).cast("long")
    comp = emb.select(
        (F.col("vec_id") % 2).alias("grp"),
        F.posexplode(F.col("embedding")).alias("i", "x"),
    ).select("grp", (F.col("i") + 1).alias("dim"), micro.alias("micro"))
    agg = comp.groupBy("dim").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("micro")))
        .cast("long")
        .alias("a_sum"),
        F.sum(F.when(F.col("grp") == 1, F.col("micro")))
        .cast("long")
        .alias("b_sum"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    return agg.select(
        F.col("dim").cast("long").alias("dim"),
        "n_a",
        "n_b",
        (
            F.col("a_sum").cast("double") / (F.lit(1_000_000.0) * F.col("n_a"))
        ).alias("a_mean"),
        (
            F.col("b_sum").cast("double") / (F.lit(1_000_000.0) * F.col("n_b"))
        ).alias("b_mean"),
        F.abs(
            F.col("a_sum") * F.col("n_b") - F.col("b_sum") * F.col("n_a")
        ).alias("shift_num"),
    ).orderBy("dim")
