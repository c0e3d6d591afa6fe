"""Document deduplication: exact, MinHash-LSH, SimHash, token Jaccard.

All stages are built-in Catalyst expressions (xxhash64, higher-order
functions, hash aggregates) — no Python in the row path, so the whole
pipeline stays in whole-stage codegen and scales with partitions.

Scale shape (the reason this is LSH and not all-pairs): signatures
are one narrow shuffle keyed by doc; candidate generation self-joins
on (band_idx, band_hash) — only docs sharing a band bucket ever meet,
so the join output is ~linear in true near-dup mass instead of O(n²).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fabric_claims_spark.caching import tracked_cache
from fabric_claims_spark.operators.partitioning import spread

# Cross-engine universal-hash family for the DuckDB-oracle MinHash
# variant: one md5 per shingle (the only hash both engines share),
# folded to a 60-bit int, then num_hashes cheap affine derivations
# h_i(x) = (A[i]*base + B[i]) mod P with P = 2^31-1. A[i]*base tops
# out near 2^62, inside signed-64 range — essential because DuckDB
# *errors* on BIGINT overflow (Spark would silently wrap).
MH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)
_rng = random.Random(0x5EED)
MH_A = [_rng.randrange(1, MH_PRIME) for _ in range(256)]
MH_B = [_rng.randrange(0, MH_PRIME) for _ in range(256)]
del _rng


def md5_long(col: Column) -> Column:
    """60-bit int from the first 15 hex chars of md5 — the one hash
    derivable identically in Spark and DuckDB
    (``('0x' || substr(md5(x),1,15))::BIGINT`` on the DuckDB side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# -- exact ------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one canonical (min id) row per
    distinct content hash, with the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


# -- MinHash ----------------------------------------------------------------
def word_shingles(text: Column, k: int = 3) -> Column:
    """Overlapping word k-grams (token windows joined with a space) —
    coarser than char shingles; preferred when token-level edits are
    the expected noise."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(k))),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    k: int = 5,
    shingle_unit: str = "char",
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<long>[num_hashes]): element i is
    min(hash_i(shingle)) over the doc's shingle set — the classic
    permutation-free MinHash family. ``shingle_unit``: 'char' | 'word'.

    ``hasher``: 'xxhash64' (prod default — cheapest JVM hash) or 'md5'
    (cross-engine: one md5 per shingle + affine mod-P derivations,
    reproducible in DuckDB SQL so the driver gate can hash-check it).
    """
    sh = _shingle_frame(df, id_col, text_col, k, shingle_unit)
    mins = _minhash_mins(sh, num_hashes, hasher)
    return mins.select(
        "doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def _shingle_frame(
    df: DataFrame, id_col: str, text_col: str, k: int, shingle_unit: str
) -> DataFrame:
    """(doc, shingle) rows. Shingles are produced by exploding integer
    positions and slicing per-row with codegen'd expressions — NOT by
    exploding a transform()-built array (interpreted lambda eval is
    ~100× slower per element; see winnow_prints for the same lesson).
    No distinct: min() is idempotent under duplicate shingles, so the
    dedup shuffle would be pure overhead.

    ``spread`` first: the explode multiplies rows ~|text|×, and Spark
    keeps the scan's parallelism through it — a single-file scan would
    run the whole shingle+hash+agg stage in one task (measured 6.4 s
    single-task vs ~0.5 s at 32-way on the sf0.1 documents table)."""
    df = spread(df)
    text = F.col(text_col)
    if shingle_unit == "char":
        n_sh = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
        return df.select(
            F.col(id_col).alias("doc"),
            text.alias("_t"),
            F.explode(F.sequence(F.lit(1), n_sh)).alias("pos"),
        ).select("doc", F.col("_t").substr(F.col("pos"), F.lit(k)).alias("shingle"))
    toks = F.split(F.trim(text), r"\s+")
    n_sh = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    return df.select(
        F.col(id_col).alias("doc"),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(1), n_sh)).alias("pos"),
    ).select(
        "doc",
        F.concat_ws(" ", F.slice(F.col("_toks"), F.col("pos"), F.lit(k))).alias(
            "shingle"
        ),
    )


def _band_key_cols(rows: int, bands: int, hasher: str) -> list[Column]:
    """One blocking-key expression per band over the wide h0..h{n-1}
    layout. md5 mode keeps the raw comma-joined slot values (the form
    DuckDB can rebuild); xxhash64 mode folds them to one long."""
    if hasher == "md5":
        return [
            F.concat_ws(",", *[F.col(f"h{b * rows + i}") for i in range(rows)])
            for b in range(bands)
        ]
    return [
        F.xxhash64(
            F.concat_ws(",", *[F.col(f"h{b * rows + i}") for i in range(rows)]),
            F.lit(b),
        )
        for b in range(bands)
    ]


def _minhash_mins(sh: DataFrame, num_hashes: int, hasher: str) -> DataFrame:
    """Wide form of the signature matrix: (doc, h0..h{n-1}) — one row,
    one column per slot. The wide layout keeps every downstream
    compare/band expression in whole-stage codegen; the array form
    exists only at the API edge (HOF lambdas over arrays evaluate
    interpreted, ~100× slower per element)."""
    # All num_hashes slot aggregates ride in ONE parsed expression (a
    # struct of mins, unpacked right after): the Column-API chain paid
    # ~6 py4j round trips per slot — measured 1.6 s of pure PYTHON per
    # 64-slot build, the same driver-side construction tax the Lloyd
    # literals paid (guide §1.2 applied to the driver). The analyzed
    # per-slot expressions are identical (INT literals promote over
    # the LONG base exactly as F.lit(int) does; P = 2^31-1 keeps every
    # product under 2^62) — value-equality re-verified against the
    # Column-API form and pinned by every LSH oracle gate.
    if hasher == "md5":
        sh = sh.select("doc", md5_long(F.col("shingle")).alias("_hb"))
        inner = ", ".join(
            f"min(({MH_A[i]} * (_hb % {MH_PRIME}) + {MH_B[i]}) "
            f"% {MH_PRIME}) AS h{i}"
            for i in range(num_hashes)
        )
    else:
        inner = ", ".join(
            f"min(xxhash64(shingle, {i})) AS h{i}"
            for i in range(num_hashes)
        )
    return (
        sh.groupBy("doc")
        .agg(F.expr(f"struct({inner})").alias("_s"))
        .select("doc", "_s.*")
    )


def _eq_sum_expr(
    num_hashes: int, a_prefix: str = "ha", b_prefix: str = "hb"
) -> Column:
    """Σ CAST(a_i = b_i AS INT) over the wide signature layout as ONE
    parsed expression — the Column-API chain costs ~3 py4j round
    trips per slot (~0.8 s of driver-side Python per 64-slot build;
    the _minhash_mins lesson). Left-associative addition of INT
    casts, exactly what sum(generator) built — value-identical."""
    return F.expr(
        " + ".join(
            f"CAST({a_prefix}{i} = {b_prefix}{i} AS INT)"
            for i in range(num_hashes)
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Band the signature and self-join on band buckets → candidate
    (doc_a, doc_b) pairs. bands must divide num_hashes; more bands =
    higher recall, lower precision.

    ``hasher='md5'`` keys each band by the comma-joined slot values
    instead of an xxhash64 of them — a hash-free band key equality
    joins identically, and DuckDB can reproduce it verbatim."""
    rows = num_hashes // bands
    if hasher == "md5":
        band_keys = [
            F.array_join(
                F.slice(F.col("sig"), b * rows + 1, rows).cast("array<string>"), ","
            )
            for b in range(bands)
        ]
    else:
        band_keys = [
            F.xxhash64(
                F.slice(F.col("sig"), b * rows + 1, rows).cast("string"),
                F.lit(b),
            )
            for b in range(bands)
        ]
    banded = signatures.select(
        "doc",
        F.posexplode(F.array(*band_keys)).alias("band_idx", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    shingle_unit: str = "char",
    hasher: str = "xxhash64",
    bucket_cap: int | None = 64,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle → minhash → band →
    bucket-join → estimate → threshold.

    Runs on the WIDE signature layout throughout (h0..h63 columns):
    band keys and the slot-equality sum are flat codegen expressions.
    The array-based helpers above remain the public building blocks;
    this composition avoids their per-pair interpreted HOF compare
    (64 lambda evals × every candidate pair — measured 3× the whole
    query's runtime at sf0.1).

    ``bucket_cap`` drops band buckets holding more docs than the cap
    before the self-join — the hot-bucket bomb guard. A bucket shared
    by thousands of docs contributes C(n,2) candidate pairs yet almost
    no discriminative signal (on this corpus one bucket held 1,562
    docs = 1.2M of 1.6M candidates, none surviving the estimate);
    every measured true pair also collides in a small bucket. None
    disables the cap for exhaustive-recall runs."""
    # mins feed both candidate generation and estimation — cache so
    # the shingle scan + 64-way agg runs once (scan amortization,
    # same pattern as the bronze fan-out). tracked_cache: callers
    # composing operators release it via caching.scoped_caches().
    mins = tracked_cache(
        _minhash_mins(
            _shingle_frame(df, id_col, text_col, k, shingle_unit), num_hashes, hasher
        )
    )
    return _near_dups_from_mins(
        mins, threshold, num_hashes, bands, hasher, bucket_cap
    )


def _near_dups_from_mins(
    mins: DataFrame,
    threshold: float,
    num_hashes: int,
    bands: int,
    hasher: str,
    bucket_cap: int | None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """``minhash_near_dups`` from a PRECOMPUTED signature frame —
    callers that already hold (and checkpointed) the wide mins (the
    serving-index apply path computes them for the stored tables)
    skip the whole shingle scan + 64-way aggregate instead of paying
    it twice per increment (guide §1.2: don't compute things twice).
    ``banded`` optionally reuses a precomputed UNCAPPED
    (doc, band_idx, band_hash) frame of the same mins. Expressions are
    the verbatim ``minhash_near_dups`` tail, so results are
    bit-identical."""
    rows = num_hashes // bands
    if banded is None:
        band_keys = _band_key_cols(rows, bands, hasher)
        banded = mins.select(
            "doc",
            F.posexplode(F.array(*band_keys)).alias("band_idx", "band_hash"),
        )
    if bucket_cap is not None:
        w_bucket = Window.partitionBy("band_idx", "band_hash")
        banded = (
            banded.withColumn("_bs", F.count(F.lit(1)).over(w_bucket))
            .where(F.col("_bs") <= bucket_cap)
            .drop("_bs")
        )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    ma = mins.select(
        F.col("doc").alias("doc_a"), *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)]
    )
    mb = mins.select(
        F.col("doc").alias("doc_b"), *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)]
    )
    eq_sum = _eq_sum_expr(num_hashes)
    return (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (eq_sum.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    shingle_unit: str = "char",
    hasher: str = "xxhash64",
    bucket_cap: int | None = 64,
) -> DataFrame:
    """Dedup a NEW batch of documents against an EXISTING corpus —
    the daily-increment shape of a training-data pipeline, where
    re-running all-corpus dedup per crawl batch is corpus-sized work
    that incremental maintenance does in batch-sized work.

    Returns one row per batch doc: ``(doc_id, status, match_id)`` with
    ``status ∈ {'exact_dup','near_dup','new'}`` and ``match_id`` the
    smallest matching corpus id (NULL for new). Intra-batch duplicates
    are out of scope here — run ``minhash_near_dups`` on the batch for
    those; the two compose.

    Scale shape (100 TB corpus, GB-scale batch):

    * exact: content-hash equi-join batch→corpus. The corpus side is
      a (hash, id) projection — in production a STORED table bucketed
      on the hash, so the join is batch-side shuffle only.
    * near: the batch's band keys join the corpus's band table (again:
      stored + bucketed on (band_idx, band_key) in production — see
      operators/bucketing.py — so only the batch shuffles). The
      ``bucket_cap`` guard drops corpus band buckets above the cap
      exactly as in ``minhash_near_dups``: a bucket shared by
      thousands of corpus docs carries no discriminative signal and
      would multiply every colliding batch doc by its size.
    * verify: candidate (batch, corpus) pairs — bounded by
      bands × cap per batch doc — join both wide signatures and keep
      est_jaccard ≥ threshold.

    Nothing in the plan scans the corpus per batch doc; the corpus
    appears only behind equi-joins on precomputable keys.
    """
    rows = num_hashes // bands
    cid, bid = F.col(id_col).alias("_cid"), F.col(id_col).alias("doc")

    # exact: smallest corpus id per identical content
    ex = (
        batch.select(bid, F.md5(F.col(text_col)).alias("_h"))
        .join(corpus.select(F.md5(F.col(text_col)).alias("_h"), cid), "_h")
        .groupBy("doc")
        .agg(F.min("_cid").alias("exact_match"))
    )

    mins_c = tracked_cache(
        _minhash_mins(
            _shingle_frame(corpus, id_col, text_col, k, shingle_unit),
            num_hashes,
            hasher,
        )
    )
    mins_b = tracked_cache(
        _minhash_mins(
            _shingle_frame(batch, id_col, text_col, k, shingle_unit),
            num_hashes,
            hasher,
        )
    )
    band_keys = _band_key_cols(rows, bands, hasher)

    def banded(mins: DataFrame) -> DataFrame:
        return mins.select(
            "doc", F.posexplode(F.array(*band_keys)).alias("band_idx", "band_hash")
        )

    bc = banded(mins_c)
    if bucket_cap is not None:
        w_bucket = Window.partitionBy("band_idx", "band_hash")
        bc = (
            bc.withColumn("_bs", F.count(F.lit(1)).over(w_bucket))
            .where(F.col("_bs") <= bucket_cap)
            .drop("_bs")
        )
    cand = (
        banded(mins_b)
        .join(
            bc.select(
                "band_idx", "band_hash", F.col("doc").alias("_cdoc")
            ),
            ["band_idx", "band_hash"],
        )
        .select("doc", "_cdoc")
        .distinct()
    )
    ma = mins_b.select(
        "doc", *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)]
    )
    mb = mins_c.select(
        F.col("doc").alias("_cdoc"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)],
    )
    eq_sum = _eq_sum_expr(num_hashes)
    near = (
        cand.join(ma, "doc")
        .join(mb, "_cdoc")
        .where(
            (eq_sum.cast("double") / F.lit(num_hashes)) >= F.lit(threshold)
        )
        .groupBy("doc")
        .agg(F.min("_cdoc").alias("near_match"))
    )
    status = (
        F.when(F.col("exact_match").isNotNull(), "exact_dup")
        .when(F.col("near_match").isNotNull(), "near_dup")
        .otherwise("new")
    )
    return (
        batch.select(bid)
        .join(ex, "doc", "left")
        .join(near, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            status.alias("status"),
            F.coalesce("exact_match", "near_match").cast("long").alias("match_id"),
        )
    )


# -- SimHash ------------------------------------------------------------------
def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-bit majority vote of
    token hashes, reassembled into one long (near-dups differ in few
    bits → Hamming distance)."""
    toks = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    bit_terms = [
        F.when(
            F.col(f"b{i}") > 0,
            F.lit(2**i if i < 63 else -(2**63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc + t
    return votes.select("doc", acc.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (built-in on longs)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash60_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Cross-engine SimHash: 60-bit md5-derived token hashes, per-bit
    majority vote reassembled into one positive long. 60 bits (not 64)
    because the md5 fold keeps values under 2^60 — every intermediate
    stays positive, so DuckDB's checked BIGINT arithmetic and Spark's
    agree with no sign games at bit 63. Prod path stays
    :func:`simhash64` (xxhash64)."""
    toks = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", md5_long(F.col("tok")))
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(60)
        ]
    )
    acc = F.lit(0).cast("long")
    for i in range(60):
        acc = acc + F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("doc", acc.alias("simhash"))


def simhash_band_pairs(
    sigs: DataFrame,
    bands: int = 4,
    bits: int = 15,
    max_hamming: int = 3,
    bucket_cap: int = 64,
) -> DataFrame:
    """Near-dup pairs from a SimHash column via Hamming-distance LSH:
    the signature is cut into ``bands`` contiguous ``bits``-bit chunks
    and only docs sharing a chunk value ever meet (pigeonhole: a pair
    with Hamming distance ≤ bands-1 MUST agree on ≥ 1 chunk, so with
    the defaults every pair at ``max_hamming`` ≤ 3 < 4 is generated).
    Candidates verify exact ``bit_count(a XOR b) ≤ max_hamming``.

    Scale shape: a fixed signature width gives band collisions a fixed
    per-pair probability, so on a clustered corpus uncapped candidates
    are a constant *fraction* of C(n,2) — ``bucket_cap`` (same guard
    as the MinHash path) bounds every surviving bucket to C(cap,2)
    pairs, making the join output linear in bucket count. The recall
    cost is deliberate and documented: members of a > cap bucket stop
    pairing *through that band* (measured at sf0.1: cap=64 keeps
    378/512 true pairs while cutting candidates 272k → 100k).

    ``sigs`` is (doc, simhash) from :func:`simhash64` (prod, 64-bit
    xxhash64; use bits ≤ 16 so chunks avoid the sign bit games) or
    :func:`simhash60_md5` (cross-engine, 60-bit; 4×15 exactly tiles).
    """
    mask = F.lit((1 << bits) - 1)
    banded = sigs.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * bits).bitwiseAND(mask)
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "bv"),
    )
    w = Window.partitionBy("band_idx", "bv")
    capped = (
        banded.withColumn("bs", F.count(F.lit(1)).over(w))
        .where(F.col("bs") <= bucket_cap)
        .drop("bs")
    )
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            hamming64(F.col("sig_a"), F.col("sig_b")).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
