"""Text analysis column builders: tokenization, quality scoring,
fingerprinting, PII redaction and winnowing (queries/text_docs.py
calls ``normalized_fingerprint`` and ``redact_pii``, and inlines the
token and quality expressions so its DuckDB oracles stay
side-by-side readable).

Everything is a Catalyst expression over a string column; the BPE-ish
token estimate uses a regex split (word pieces + digits + punctuation
islands) rather than a real tokenizer — a cheap, deterministic proxy
that scales as a projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# word pieces ~4 chars, digits, and punctuation islands — a crude but
# deterministic BPE-token-count proxy
_BPE_ISH = r"[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column) -> Column:
    t = F.trim(text)
    return (
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("long")
    )


def bpe_ish_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_BPE_ISH)).cast("long")


def alpha_ratio(text: Column) -> Column:
    return F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("double") / F.length(
        text
    )


def quality_flag(
    text: Column, min_chars: int = 100, min_alpha_ratio: float = 0.5
) -> Column:
    return F.when(
        (F.length(text) >= min_chars) & (alpha_ratio(text) > min_alpha_ratio), "keep"
    ).otherwise("filter")


def normalized_fingerprint(text: Column) -> Column:
    """Whitespace/punct/case-invariant content hash."""
    return F.md5(F.regexp_replace(F.lower(text), "[^a-z0-9]", ""))


# PII scrub patterns. Deliberately backslash-free (character classes
# only) so the identical literal behaves the same under Java regex
# (Spark executors) and RE2 (DuckDB oracles) with no escaping drift.
# Insertion order is application order: email first so the phone
# pattern never fires inside an already-masked span.
PII_PATTERNS: dict[str, str] = {
    "email": "[a-z0-9.]+@[a-z]+[.][a-z]+",
    "phone": "555-[0-9][0-9][0-9][0-9]",
}


def redact_pii(text: Column, patterns: dict[str, str] | None = None) -> Column:
    """Mask every occurrence of each PII pattern with its [TAG] — the
    scrub step of a training-data pipeline (strip contact info before
    a corpus ships). Pure Catalyst regexp_replace chain: one projection,
    no shuffle, whole-stage codegen; at 100 TB this is scan-bound."""
    out = text
    for name, pat in (patterns or PII_PATTERNS).items():
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out


def pii_hits(text: Column, pattern: str) -> Column:
    """Occurrence count of one PII pattern (audit metric)."""
    return F.regexp_count(text, F.lit(pattern)).cast("long")


def winnow_prints(
    df,  # DataFrame
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
    hasher: str = "xxhash64",
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03) as (doc, fp) rows: rolling k-gram hashes, one minimum
    per sliding window of ``window`` hashes, distinct per doc.

    Guarantees any shared substring of length >= k + window - 1
    contributes a shared fingerprint. Implementation: hash array
    computed ONCE per row, posexploded, sliding min via a window
    frame — linear work. (The tempting nested-HOF form —
    transform(i -> array_min(slice(hashes, i, w))) — is O(n²): the
    optimizer collapses projections and re-inlines the whole hash
    array per window index.)
    """
    from pyspark.sql import Window

    text = F.col(text_col)
    n_sh = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    # Explode integer positions, THEN hash the substring as a row-level
    # codegen'd expression. (Building the hash array inside a
    # transform() lambda looks natural but evaluates interpreted,
    # ~0.4 ms/element — 100× slower than whole-stage codegen.)
    if hasher == "md5":
        from fabric_claims_spark.extensions.dedup import md5_long

        def _h(gram: Column) -> Column:
            # cross-engine: DuckDB oracle reproduces this exactly
            return md5_long(gram)
    else:

        def _h(gram: Column) -> Column:
            return F.xxhash64(gram)

    from fabric_claims_spark.operators.partitioning import spread

    pos_h = spread(df).select(
        F.col(id_col).alias("doc"),
        n_sh.alias("_n"),
        text.alias("_t"),
        F.posexplode(F.sequence(F.lit(1), n_sh)).alias("_i", "pos"),
    ).select(
        "doc",
        "_n",
        "pos",
        _h(F.col("_t").substr(F.col("pos"), F.lit(k))).alias("h"),
    )
    w = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, window - 1)
    return (
        pos_h.withColumn("_fp", F.min("h").over(w))
        # only full windows (winnowing semantics); pos is 1-based
        .where(F.col("pos") <= F.col("_n") - window + 1)
        .select("doc", F.col("_fp").alias("fp"))
        .union(  # degenerate docs shorter than one window keep 1 print
            pos_h.where(F.col("_n") <= window)
            .groupBy("doc")
            .agg(F.min("h").alias("fp"))
        )
        .distinct()
    )


def winnow_fingerprint_sets(df, id_col: str, text_col: str, k: int = 8, window: int = 4):
    """(doc, fps array) form of ``winnow_prints``."""
    return (
        winnow_prints(df, id_col, text_col, k, window)
        .groupBy("doc")
        .agg(F.array_sort(F.collect_set("fp")).alias("fps"))
    )


def winnow_overlap_pairs(
    df,  # DataFrame
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
    min_shared: int = 8,
    max_doc_freq: int | None = 20,
    hasher: str = "xxhash64",
):
    """Near-dup candidates from shared winnowing fingerprints: self-
    join the (small) fingerprint sets on fingerprint, count shared
    prints per pair — the same bucket-join shape as MinHash-LSH but
    with substring-overlap guarantees.

    ``max_doc_freq`` drops fingerprints present in more than that many
    docs before the join: corpus-common substrings are both useless
    for near-dup evidence and quadratic join bombs (the classic hot-
    key skew) — this is the textual idf-cutoff analog of salting.
    """
    prints = winnow_prints(df, id_col, text_col, k, window, hasher)
    if max_doc_freq is not None:
        # Broadcast the FREQUENT set, not the rare one: rare
        # fingerprints are ~the whole corpus (unbounded — broadcasting
        # them OOMs at scale), while fingerprints shared by more than
        # max_doc_freq docs are by definition few (the hot keys, each
        # covering > cutoff docs, so |frequent| ≤ total_prints/cutoff).
        # A left_anti against the bounded hot set keeps exactly the
        # rare prints without ever shuffling them.
        frequent = (
            prints.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("fp")
        )
        prints = prints.join(F.broadcast(frequent), "fp", "left_anti")
    a, b = prints.alias("a"), prints.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )
