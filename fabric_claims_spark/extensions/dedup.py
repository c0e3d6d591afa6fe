"""Document deduplication: exact, MinHash-LSH, SimHash, token Jaccard.

All stages are built-in Catalyst expressions (xxhash64, higher-order
functions, hash aggregates) — no Python in the row path, so the whole
pipeline stays in whole-stage codegen and scales with partitions.

Scale shape (the reason this is LSH and not all-pairs): signatures
are one narrow shuffle keyed by doc; candidate generation self-joins
on (band_idx, band_hash) — only docs sharing a band bucket ever meet,
so the join output is ~linear in true near-dup mass instead of O(n²).
The blocking steps (band, cap, bucket join, MinHash verify) live only
here; SimHash, hyperplane LSH (extensions/similarity.py) and the stored
LSH index (operators/serving_index.py) compose them.
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


def _minhash_mins(sh: DataFrame, num_hashes: int, hasher: str) -> DataFrame:
    """Wide form of the signature matrix: (doc, h0..h{n-1}) — one row,
    one column per slot. The wide layout keeps every downstream
    compare/band expression in whole-stage codegen; the array form
    exists only at the API edge (HOF lambdas over arrays evaluate
    interpreted, ~100× slower per element)."""
    # All num_hashes slot aggregates ride in ONE parsed expression (a
    # struct of mins, unpacked right after): the Column-API chain paid
    # ~6 py4j round trips per slot — measured 1.6 s of pure PYTHON per
    # 64-slot build. The analyzed per-slot expressions are identical
    # (INT literals promote over the LONG base exactly as F.lit(int)
    # does; P = 2^31-1 keeps every product under 2^62) — pinned by
    # every LSH oracle gate.
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


# -- banded-LSH blocking ------------------------------------------------------
# Every LSH family blocks candidates through the same four steps, and
# these are their only copies: ``band`` explodes (id, keys) into
# (id, band_idx, band_hash) rows, ``cap_buckets`` drops hot buckets,
# ``bucket_pairs`` self-joins the buckets into distinct id pairs, and
# ``minhash_verify`` keeps the pairs whose signature estimate clears
# the threshold. ``batch_store_pairs`` is the incremental leg: a new
# batch's bands against the capped bands of a stored corpus.
def minhash_band_keys(num_hashes: int, bands: int, hasher: str) -> list[Column]:
    """One blocking-key expression per band over the wide h0..h{n-1}
    layout. md5 mode keeps the raw comma-joined slot values (the form
    DuckDB can rebuild); xxhash64 mode folds them to one long.

    ``bands`` must divide ``num_hashes``: a remainder would leave the
    trailing slots out of every band."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must be a positive divisor of num_hashes={num_hashes}"
        )
    rows = num_hashes // bands
    keys = [
        F.concat_ws(",", *[F.col(f"h{b * rows + i}") for i in range(rows)])
        for b in range(bands)
    ]
    if hasher == "md5":
        return keys
    return [F.xxhash64(key, F.lit(b)) for b, key in enumerate(keys)]


def band(df: DataFrame, id_col: str, keys: list[Column]) -> DataFrame:
    """(id_col, band_idx, band_hash): one row per band key, band_idx
    being the key's position in ``keys``."""
    return df.select(
        id_col, F.posexplode(F.array(*keys)).alias("band_idx", "band_hash")
    )


def check_bucket_cap(bucket_cap: int) -> None:
    """A cap below 1 would drop every bucket and empty every result."""
    if bucket_cap < 1:
        raise ValueError(f"bucket_cap={bucket_cap} must be at least 1")


def cap_buckets(banded: DataFrame, bucket_cap: int) -> DataFrame:
    """Drop band buckets holding more than ``bucket_cap`` rows — the
    hot-bucket guard. A bucket shared by n docs contributes C(n,2)
    candidate pairs yet almost no discriminative signal (on this
    corpus one bucket held 1,562 docs = 1.2M of 1.6M candidates, none
    surviving the estimate); every measured true pair also collides
    in a small bucket."""
    check_bucket_cap(bucket_cap)
    w_bucket = Window.partitionBy("band_idx", "band_hash")
    return (
        banded.withColumn("_bs", F.count(F.lit(1)).over(w_bucket))
        .where(F.col("_bs") <= bucket_cap)
        .drop("_bs")
    )


def bucket_pairs(
    banded: DataFrame, id_col: str, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Distinct (a, b) id pairs, a < b, sharing at least one
    (band_idx, band_hash) bucket — an equi-join, so only bucket mates
    ever meet."""
    left, right = banded.alias("a"), banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias(a), F.col(f"b.{id_col}").alias(b))
        .distinct()
    )


def minhash_verify(
    pairs: DataFrame,
    mins_a: DataFrame,
    mins_b: DataFrame,
    num_hashes: int,
    threshold: float,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """(a, b, est_jaccard) for the candidate pairs whose wide
    signatures (``doc``, h0..h{n-1}) agree on at least ``threshold``
    of their slots.

    The slot-equality sum is ONE parsed expression: the Column-API
    chain costs ~3 py4j round trips per slot (~0.8 s of driver-side
    Python per 64-slot build)."""
    eq_sum = F.expr(
        " + ".join(f"CAST(ha{i} = hb{i} AS INT)" for i in range(num_hashes))
    )
    ma = mins_a.select(
        F.col("doc").alias(a),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)],
    )
    mb = mins_b.select(
        F.col("doc").alias(b),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)],
    )
    return (
        pairs.join(ma, a)
        .join(mb, b)
        .select(
            a,
            b,
            (eq_sum.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def batch_store_pairs(
    bands_batch: DataFrame,
    mins_batch: DataFrame,
    bands_store: DataFrame,
    mins_store: DataFrame,
    num_hashes: int,
    threshold: float,
    bucket_cap: int,
) -> DataFrame:
    """(doc, store_doc, est_jaccard): verified pairs of a batch doc
    and a stored doc sharing a bucket. Only the store's buckets are
    capped; the batch reaches the store only through the equi-join on
    (band_idx, band_hash), so the work is bounded by bands × cap per
    batch doc."""
    cand = (
        bands_batch.join(
            cap_buckets(bands_store, bucket_cap).select(
                "band_idx", "band_hash", F.col("doc").alias("store_doc")
            ),
            ["band_idx", "band_hash"],
        )
        .select("doc", "store_doc")
        .distinct()
    )
    return minhash_verify(
        cand, mins_batch, mins_store, num_hashes, threshold, "doc", "store_doc"
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
    bucket_cap: int = 64,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle → minhash → band → cap →
    bucket-join → estimate → threshold, on the WIDE signature layout
    throughout (h0..h63 columns): band keys and the slot-equality sum
    are flat codegen expressions, never a per-pair interpreted HOF
    compare (64 lambda evals × every candidate pair — measured 3× the
    whole query's runtime at sf0.1)."""
    keys = minhash_band_keys(num_hashes, bands, hasher)
    check_bucket_cap(bucket_cap)
    # mins feed both candidate generation and estimation — cache so
    # the shingle scan + 64-way agg runs once. tracked_cache: callers
    # composing operators release it via caching.scoped_caches().
    mins = tracked_cache(
        _minhash_mins(
            _shingle_frame(df, id_col, text_col, k, shingle_unit), num_hashes, hasher
        )
    )
    pairs = bucket_pairs(cap_buckets(band(mins, "doc", keys), bucket_cap), "doc")
    return minhash_verify(pairs, mins, mins, num_hashes, threshold)


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
    bucket_cap: int = 64,
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
    * near: ``batch_store_pairs`` — the batch's band keys join the
      corpus's capped band table (again: stored + bucketed on
      (band_idx, band_key) in production — see operators/bucketing.py
      — so only the batch shuffles), and the candidates verify
      est_jaccard ≥ threshold.

    Nothing in the plan scans the corpus per batch doc; the corpus
    appears only behind equi-joins on precomputable keys.
    """
    keys = minhash_band_keys(num_hashes, bands, hasher)
    check_bucket_cap(bucket_cap)
    cid, bid = F.col(id_col).alias("_cid"), F.col(id_col).alias("doc")

    # exact: smallest corpus id per identical content
    ex = (
        batch.select(bid, F.md5(F.col(text_col)).alias("_h"))
        .join(corpus.select(F.md5(F.col(text_col)).alias("_h"), cid), "_h")
        .groupBy("doc")
        .agg(F.min("_cid").alias("exact_match"))
    )

    mins_c, mins_b = (
        tracked_cache(
            _minhash_mins(
                _shingle_frame(side, id_col, text_col, k, shingle_unit),
                num_hashes,
                hasher,
            )
        )
        for side in (corpus, batch)
    )
    near = (
        batch_store_pairs(
            band(mins_b, "doc", keys),
            mins_b,
            band(mins_c, "doc", keys),
            mins_c,
            num_hashes,
            threshold,
            bucket_cap,
        )
        .groupBy("doc")
        .agg(F.min("store_doc").alias("near_match"))
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
    are a constant *fraction* of C(n,2) — ``cap_buckets`` (the MinHash
    path's guard) bounds every surviving bucket to C(cap,2)
    pairs, making the join output linear in bucket count. The recall
    cost is deliberate and documented: members of a > cap bucket stop
    pairing *through that band* (measured at sf0.1: cap=64 keeps
    378/512 true pairs while cutting candidates 272k → 100k).

    ``sigs`` is (doc, simhash) from :func:`simhash64` (prod, 64-bit
    xxhash64; use bits ≤ 16 so chunks avoid the sign bit games) or
    :func:`simhash60_md5` (cross-engine, 60-bit; 4×15 exactly tiles).
    """
    mask = F.lit((1 << bits) - 1)
    chunks = [F.shiftright("simhash", b * bits).bitwiseAND(mask) for b in range(bands)]
    cand = bucket_pairs(cap_buckets(band(sigs, "doc", chunks), bucket_cap), "doc")
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
