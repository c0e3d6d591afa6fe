"""Vector primitives over embedding columns (array<float>) — the one
home of the cosine, the IVF coarse assignment, the probe and the
rounded cosine top-k. The registry queries (queries/similarity.py,
queries/serving.py) and the serving index (operators/serving_index.py)
all call these, so the one-shot, stored and served paths share one
set of expressions and cannot drift.

Brute-force cosine top-k is the correctness baseline; the scale path
is IVF: assign every vector to its nearest of K broadcast centroids,
then score only the probe's nprobe nearest bucket(s). Every
similarity is the cosine rounded to 6 dp and every tie breaks on the
smaller id — the expressions the DuckDB oracles spell in SQL. All of
it is zip_with/aggregate higher-order functions — JVM-side, no UDFs.

Frame conventions: vectors are ``(vec_id, ev: array<double>, ...)``,
centroids ``(centroid_id, cv: array<double>)``, a query one row
``(qv: array<double>)``.

At 100 TB: centroids come from a sampled k-means (or are sampled
rows, as here); vectors are written bucketed by ``assigned_centroid``
so a query touches 1/K of the data, and the per-bucket scan is an
embarrassingly parallel map.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fabric_claims_spark.extensions.dedup import band, bucket_pairs


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over double arrays — the op order of
    DuckDB's list_dot_product, so both engines produce the same double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def as_double_array(c: str | Column) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _sim(a: str, b: str) -> Column:
    return F.round(cosine(F.col(a), F.col(b)), 6)


def ivf_assign(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (the IVF coarse quantizer):
    ``(vec_id, ev)`` × broadcast ``(centroid_id, cv)`` →
    ``(vec_id, ev, assigned_centroid, centroid_sim)``, the argmax of the
    rounded cosine with ties to the smaller centroid_id. Broadcast-join
    shaped: O(rows·k) work, O(1) plan size — no per-centroid literal
    expressions, so it carries any k without the plan-cost wall
    measured for the literal Lloyd path (SCALING.md round 9)."""
    scored = e.join(F.broadcast(centroids)).select(
        "vec_id", "ev", "centroid_id", _sim("ev", "cv").alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "ev",
            F.col("centroid_id").alias("assigned_centroid"),
            F.col("sim").alias("centroid_sim"),
        )
    )


def ivf_probe(centroids: DataFrame, q: DataFrame, nprobe: int) -> DataFrame:
    """Query routing: the ``nprobe`` centroid_ids nearest the query by
    rounded cosine, ties to the smaller id (a k-row frame; callers
    broadcast it into their bucket filter)."""
    return (
        centroids.join(F.broadcast(q))
        .select("centroid_id", _sim("cv", "qv").alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .select("centroid_id")
    )


def cosine_topk(e: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """The ``k`` rows of ``e`` most similar to the query: ``ev`` becomes
    the rounded ``cosine_sim``, the caller's other columns are kept,
    and rows order by cosine_sim descending, then vec_id ascending.
    orderBy+limit compiles to TakeOrderedAndProject — per-partition
    top-k, then a k-row merge on the driver, no global sort."""
    keep = [c for c in e.columns if c != "ev"]
    return (
        e.join(F.broadcast(q))
        .select(*keep, _sim("ev", "qv").alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_search(
    e: DataFrame, centroids: DataFrame, q: DataFrame, nprobe: int = 1, k: int = 10
) -> DataFrame:
    """IVF read path: ``ivf_probe`` routes the query to its ``nprobe``
    nearest buckets, ``ivf_assign`` keeps the vectors of ``e`` that
    fall in them, and ``cosine_topk`` ranks only those (assignments
    computed inline here; a real index persists them bucketed).

    nprobe is the recall knob — nprobe=K degenerates to brute force;
    tests/test_extensions.py pins the recall at nprobe=2 on a
    synthetic table."""
    hits = ivf_assign(e.select("vec_id", "ev"), centroids).join(
        F.broadcast(ivf_probe(centroids, q, nprobe)),
        F.col("assigned_centroid") == F.col("centroid_id"),
        "left_semi",
    )
    return cosine_topk(e.join(hits.select("vec_id"), "vec_id", "left_semi"), q, k)


# -- random-hyperplane LSH (SimHash for real vectors) ------------------------
HP_BANDS = 4
HP_BITS = 8


def hyperplanes(
    dim: int, bands: int = HP_BANDS, bits: int = HP_BITS, seed: int = 0xC05
) -> list[list[list[float]]]:
    """Deterministic gaussian hyperplanes, rounded to 6dp so the same
    constants embed exactly in both Spark literals and oracle SQL
    text (decimal → nearest-double is identical in both parsers)."""
    rng = random.Random(seed)
    return [
        [[round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(bits)]
        for _ in range(bands)
    ]


def hyperplane_band_sigs(vec: Column, planes: list[list[list[float]]]) -> list[Column]:
    """One bit-string signature per band: bit j = sign(v·h_j). The dot
    is the sequential zip_with/aggregate fold, matching DuckDB's
    list_dot_product op order bit-exactly, so bucket keys agree across
    engines even for near-zero dots."""
    sigs = []
    for hs in planes:
        bits = [
            F.when(
                dot(vec, F.array(*[F.lit(c) for c in h])) >= 0, F.lit("1")
            ).otherwise(F.lit("0"))
            for h in hs
        ]
        sigs.append(F.concat(*bits))
    return sigs


def hyperplane_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    planes: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH blocking: only vectors
    sharing a band signature ever meet, so the self-join is keyed on
    (band, 2^bits-ary bucket) — cardinality grows with the corpus,
    unlike label/metadata blocking whose handful of giant blocks go
    quadratic at scale. Candidates verify exact cosine ≥ threshold
    (LSH recall: a pair hashing into no common band is not emitted —
    the deliberate approximation that buys the linear pair space)."""
    e = vectors.select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("ev")
    )
    keys = hyperplane_band_sigs(F.col("ev"), planes)
    cand = bucket_pairs(band(e, "vid", keys), "vid", "vec_a", "vec_b")
    ea = e.select(F.col("vid").alias("vec_a"), F.col("ev").alias("ev_a"))
    eb = e.select(F.col("vid").alias("vec_b"), F.col("ev").alias("ev_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("ev_a"), F.col("ev_b")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


# -- distributed k-means (Lloyd) ---------------------------------------------
def kmeans_assignments(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column — the
    trainer for the IVF coarse quantizer (``ivf_assign`` consumes the
    centroids this loop converges to). Returns the final assignment
    ``(vec_id, cluster, dist)`` after ``iters`` update rounds.

    Scale shape — MLlib's discipline: centroids are DRIVER state
    (k·dim doubles, bounded), never a joined frame:

    * assignment: a pure PROJECTION — per row, ``array_min`` over k
      literal (dist, cid) structs built from the driver-held
      centroids. ZERO shuffle; the vectors never move.
    * update: posexplode to (cluster, dim) micro-units — n·dim rows,
      linear, map-side combined down to ≤ k·dim partials; the shuffle
      is k·dim rows, and only those k·dim means come back to the
      driver for the next round.
    * empty clusters keep their previous centroid, so k is stable.

    Cross-engine determinism (the oracle unrolls this loop in SQL):
    distances are ``dot(v,v) − 2·dot(v,c) + dot(c,c)`` — sequential
    zip_with folds matching DuckDB's list_dot_product op order
    bit-exactly (centroid literals round-trip through the driver
    exactly: binary64 in, binary64 out); component sums use integer
    MICRO-UNITS (round(x·1e6) as long — exact, order-independent
    addition, the text_docs entropy pattern); means divide once in
    IEEE doubles and ROUND to 9 dp IN SPARK (never Python's
    banker's rounding); argmin ties break on the smaller centroid id.
    Seeds are the k smallest ids' vectors (deterministic, no RNG).
    """
    ev = vectors.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    )
    cents = kmeans_centroids(vectors, k, iters, id_col, vec_col)
    return _lloyd_assign(ev, cents).select(
        "vec_id", "cluster", F.round(F.col("d"), 6).alias("dist")
    )


def _self_dot(cv: list[float]) -> float:
    """dot(cv, cv) computed driver-side with the EXACT fold order of
    ``aggregate(zip_with(ca, ca, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)``
    — a sequential left fold of IEEE binary64 adds of products, so the
    value is bit-identical to what Catalyst constant-folding produces
    from the expression form (pinned by test_extensions)."""
    acc = 0.0
    for x in cv:
        acc = acc + float(x) * float(x)
    return acc


def _dist_struct(cid: int, cv: list[float], dv: Column | None = None) -> Column:
    """(squared-distance, cid) struct vs one literal centroid — struct
    ordering is (d, cid), so min/sort tie-break on the smaller id.

    Construction cost matters (guide §1.2 applied to the DRIVER): the
    Lloyd loop rebuilds k of these per iteration, and the old
    ``F.array(*[F.lit(x) for x in cv])`` + ``dot(ca, ca)`` form paid
    ~200 py4j round trips per centroid — measured 1.3-1.9 s of pure
    Python expression construction per training iteration at k=8,
    dim=64. ``F.lit(cv)`` builds the same ArrayType(Double) literal in
    one call, the centroid self-dot folds to the identical double
    driver-side (``_self_dot``), and callers pass the shared
    ``dot(v, v)`` subtree in as ``dv`` instead of rebuilding it per
    centroid. The analyzed expression is value-identical; only the
    construction path changed."""
    ca = F.lit([float(x) for x in cv])
    if dv is None:
        dv = dot(F.col("v"), F.col("v"))
    d = dv - F.lit(2.0) * dot(F.col("v"), ca) + F.lit(_self_dot(cv))
    return F.struct(d.alias("d"), F.lit(cid).cast("long").alias("cid"))


def _lloyd_assign(
    ev: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Zero-shuffle argmin assignment: array_min over k literal
    (dist, cid) structs. ``ev`` must expose (vec_id, v: array<double>)."""
    dv = dot(F.col("v"), F.col("v"))  # shared subtree, built once
    m = F.array_min(
        F.array(*[_dist_struct(cid, cv, dv) for cid, cv in cents])
    )
    return ev.select(
        "vec_id",
        F.col("v"),
        m.getField("cid").alias("cluster"),
        m.getField("d").alias("d"),
    )


def _lloyd_assign_probes(
    ev: DataFrame, cents: list[tuple[int, list[float]]], probes: int = 2
) -> DataFrame:
    """Zero-shuffle top-``probes`` assignment (SemDeDup boundary
    multi-probe): array_sort over the k literal (dist, cid) structs,
    sliced to the ``probes`` nearest. Same row-local expression tree
    as ``_lloyd_assign`` — element 0 IS the argmin assignment, so the
    primary cluster is bit-identical to the single-probe path.
    Returns (vec_id, v, cluster, probes: array<long>)."""
    dv = dot(F.col("v"), F.col("v"))  # shared subtree, built once
    arr = F.array_sort(
        F.array(*[_dist_struct(cid, cv, dv) for cid, cv in cents])
    )
    top = F.slice(arr, 1, probes)
    return ev.select(
        "vec_id",
        F.col("v"),
        top[0].getField("cid").alias("cluster"),
        F.transform(top, lambda s: s.getField("cid")).alias("probes"),
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int | None = None,
) -> list[tuple[int, list[float]]]:
    """The Lloyd loop itself; returns the trained centroids as driver
    state [(cid, vector)] — the form ``_lloyd_assign`` embeds as
    literals and ``ivf_index_build`` persists alongside the index.

    ``sample_cap`` bounds the TRAINING set (assignment always covers
    the full corpus): when the corpus exceeds the cap, train on the
    deterministic md5-hash sample of ~cap vectors. This is the fix
    for the measured k-regime wall (SCALING.md §round-8): the Lloyd
    assignment embeds k literal centroid expressions per row, so
    full-corpus training is O(n·k·dim) — quadratic once k scales
    with the corpus, while a capped sample keeps training
    O(cap·k·dim) and leaves only the one linear full-corpus
    assignment pass to the caller. Hash-based (not random): the same
    corpus always trains the same centroids, on any partitioning.
    ``None`` (default) keeps exact full-corpus training — the
    determinism-gate setting every oracle-checked query pins.

    A cut that under-fills k (cap near k, sparse hash density) widens
    ×4 per step — still deterministic (a bigger cut is a strict
    superset of the smaller sample) — and each widening emits a
    ``UserWarning``; only if no cut short of the whole grid yields k
    vectors does training fall back to the full corpus, with a
    louder warning, so the O(n·k·iters) cost the cap exists to avoid
    is never reintroduced silently (ADVICE r9)."""
    ev = vectors.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    )
    if sample_cap is not None:
        n = ev.count()
        if n > sample_cap:
            from fabric_claims_spark.extensions.dedup import md5_long

            grid = 1 << 20
            cut = max(1, (sample_cap * grid) // n)
            # a cap near k (or sparse hash density) can yield < k
            # rows; training on that would silently return < k
            # centroids and degrade every downstream assignment.
            # Widen the hash cut (×4 per step — a strict superset of
            # the prior sample, so still deterministic) before giving
            # up on sampling: abandoning it outright reintroduces the
            # O(n·k·iters) full-corpus cost the cap exists to avoid.
            # Every widening/fallback warns, so callers can tell the
            # training cost silently grew (ADVICE r9).
            import warnings

            def sampled_n(frame, c: int) -> int:
                return frame.where(
                    F.pmod(
                        md5_long(F.col("vec_id").cast("string")),
                        F.lit(grid),
                    )
                    < F.lit(c)
                ).count()

            while cut < grid and sampled_n(ev, cut) < k:
                warnings.warn(
                    f"kmeans_centroids: hash sample at cut={cut}/{grid} "
                    f"yielded < k={k} vectors; widening the cut ×4",
                    stacklevel=2,
                )
                cut = min(grid, cut * 4)
            if cut >= grid:
                warnings.warn(
                    "kmeans_centroids: sample_cap could not yield k "
                    "vectors at any cut — training on the FULL corpus "
                    f"(n={n}); sampled-training cost guarantees do not "
                    "apply to this call",
                    stacklevel=2,
                )
            else:
                ev = ev.where(
                    F.pmod(
                        md5_long(F.col("vec_id").cast("string")),
                        F.lit(grid),
                    )
                    < F.lit(cut)
                )
    cents: list[tuple[int, list[float]]] = [
        (r["vec_id"], list(r["v"])) for r in ev.orderBy("vec_id").limit(k).collect()
    ]
    if len(cents) < k:
        raise ValueError(
            f"kmeans_centroids: corpus has only {len(cents)} vectors, "
            f"cannot seed k={k} centroids"
        )
    for _ in range(iters):
        micro = _lloyd_assign(ev, cents).select(
            "cluster",
            F.posexplode(
                F.transform("v", lambda x: F.round(x * 1e6, 0).cast("long"))
            ).alias("dim", "micro"),
        )
        means = (
            micro.groupBy("cluster", "dim")
            .agg(F.sum("micro").alias("s"), F.count(F.lit(1)).alias("c"))
            .select(
                "cluster",
                "dim",
                F.round(
                    F.col("s").cast("double") / (F.col("c") * F.lit(1e6)), 9
                ).alias("m"),
            )
        )
        got: dict[int, list[tuple[int, float]]] = {}
        for r in means.collect():  # ≤ k·dim rows — bounded driver state
            got.setdefault(r["cluster"], []).append((r["dim"], r["m"]))
        cents = [
            (
                cid,
                [m for _, m in sorted(got[cid])] if cid in got else cv,
            )
            for cid, cv in cents
        ]
    return cents


# -- persisted IVF index (bucketed layout) -----------------------------------
def ivf_index_build(
    spark,
    vectors: DataFrame,
    table: str,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    path: str | None = None,
    sample_cap: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Train centroids (Lloyd) and persist the vectors BUCKETED on
    ``assigned_centroid`` — the write-once layout that makes every
    probe a bucket-pruned scan: Spark's bucket pruning turns an
    equality/IN filter on the bucket column into reading only the
    matching files (``SelectedBucketsCount: nprobe out of k`` in the
    plan), so a query touches 1/k of a 100 TB index per probed
    centroid with no shuffle and no index-wide scan. Returns the
    trained centroids (persist them beside the table in production).

    ``sample_cap`` is the paper-scale-k lever (see
    ``kmeans_centroids``): hash-sampled training. The default keeps
    the exact oracle-pinned path bit-identical.
    """
    from fabric_claims_spark.operators.bucketing import write_bucketed

    cents = kmeans_centroids(
        vectors, k, iters, id_col, vec_col, sample_cap=sample_cap
    )
    ev = vectors.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    )
    indexed = vectors.join(
        _lloyd_assign(ev, cents).select(
            F.col("vec_id").alias(id_col),
            F.col("cluster").alias("assigned_centroid"),
        ),
        id_col,
    )
    write_bucketed(indexed, table, "assigned_centroid", buckets=k, path=path)
    return cents


def ivf_index_probe(
    spark,
    table: str,
    cents: list[tuple[int, list[float]]],
    query_vec: list[float],
    nprobe: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors from the ``nprobe`` nearest buckets of a
    persisted IVF index. Centroid routing is driver-side arithmetic
    over the k-row centroid list; the scan reads ONLY the probed
    buckets (``SelectedBucketsCount: nprobe out of k``) and finishes
    with TakeOrderedAndProject — no exchange anywhere.

    Planning note: Spark's auto-bucketed-scan heuristic drops the
    bucketed read (and with it bucket pruning) when no join/agg wants
    the hash distribution — a pure filter+top-k probe is exactly that
    case. The probe plans under
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``
    and pins its physical plan before restoring the conf, so only
    this Dataset is affected."""
    from fabric_claims_spark.operators.bucketing import read_bucketed

    def sq(c):  # squared euclidean, driver-side routing only
        return sum((a - b) * (a - b) for a, b in zip(c, query_vec))

    probed = [cid for cid, cv in sorted(cents, key=lambda t: (sq(t[1]), t[0]))][
        :nprobe
    ]
    qv = F.array(*[F.lit(x) for x in query_vec])
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        df = (
            read_bucketed(spark, table)
            .where(F.col("assigned_centroid").isin(probed))
            .select(
                id_col,
                F.round(cosine(as_double_array(vec_col), qv), 6).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(topk)
        )
        # QueryExecution.executedPlan is a once-per-Dataset lazy val:
        # touching it here pins the bucket-pruned plan for all later
        # actions on this frame, regardless of the restored conf.
        df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(conf_key, prev)
    return df
