"""Security/governance operators (SURVEY.md §2.12).

The reference documents — but does not ship code for — Dynamic Data
Masking, column-level security, and RLS via a predicate function +
security policy (README.md:166-172 of the reference). In a single-
engine Spark design these become view factories: masking is a
projection wrapper, RLS is a predicate-injecting wrapper. The salted-
hash pseudonymization that IS in reference code lives in
functions/hashing.py and is applied at silver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def mask_full(col: Column) -> Column:
    """DDM 'default()' analog: full redaction."""
    return F.lit("****")


def mask_partial(col: Column, keep_last: int = 4) -> Column:
    """DDM partial() analog: keep the last N characters."""
    n = F.length(col)
    return F.concat(
        F.repeat(F.lit("*"), F.greatest(n - keep_last, F.lit(0))),
        col.substr(F.greatest(n - keep_last + 1, F.lit(1)), F.lit(keep_last)),
    )


def mask_hash(col: Column, salt: str) -> Column:
    """Masking by pseudonymization (join-stable)."""
    return F.sha2(F.concat(col, F.lit(salt)), 256)


def masked_view(
    df: DataFrame, masks: dict[str, Callable[[Column], Column]]
) -> DataFrame:
    """Column-masking view factory: apply per-column mask functions,
    pass everything else through (projection-only — no shuffle)."""
    return df.select(
        *[
            masks[c](F.col(c)).alias(c) if c in masks else F.col(c)
            for c in df.columns
        ]
    )


def row_filtered_view(df: DataFrame, predicate: Column) -> DataFrame:
    """RLS view factory (Security.fnClaimsProviderPredicate analog):
    the predicate is injected under the consumer's identity and pushes
    down to the scan like any filter."""
    return df.where(predicate)


def provider_rls(df: DataFrame, provider_ids: list[str]) -> DataFrame:
    """The reference's RLS shape: a provider sees only their rows."""
    return row_filtered_view(df, F.col("ProviderID").isin(provider_ids))


# --------------------------------------------------------------------------
# k-anonymity ENFORCEMENT (VERDICT r8 item 6) — the transform behind
# the customers_k_anonymity risk readout. Global recoding over a
# fixed Sweeney-style generalization ladder, then suppression:
#
#   L0  geo = nation,        balance bands of 1000
#   L1  geo = nation,        balance bands of 2000
#   L2  geo = region rollup, balance bands of 2000
#   L3  geo = region rollup, balance bands of 4000
#
# The chosen level is the FIRST whose smallest quasi-ID equivalence
# class reaches k (computed in-plan — a 1-row frame, so the choice is
# declarative, partition-invariant, and oracle-expressible as a
# scalar subquery, never a driver-side branch). Rows still in a
# class below k at the final level are SUPPRESSED (dropped) — the
# residual the ladder cannot generalize away — and their count is
# audit-logged, never their keys (a suppression log that names the
# suppressed subjects defeats the suppression).
#
# Scale shape: one broadcast dim join (nation, 25 rows), one 4-way
# union of projections over the fact scan, one groupBy bounded by
# |ladder| x QI domain, a 1-row broadcast level choice, and a
# broadcast class-table semi-join for the suppression filter — every
# state bounded by the QI domain, nothing pair-shaped, no window
# over the raw rows.
K_LADDER: tuple[tuple[str, int], ...] = (
    ("n", 1000),
    ("n", 2000),
    ("r", 2000),
    ("r", 4000),
)


def _qi_levels(cj: DataFrame, ladder) -> DataFrame:
    """(level, geo, segment, bal_band) per row per ladder level —
    ``cj`` is customer joined to nation (for the region rollup)."""
    frames = []
    for lvl, (kind, width) in enumerate(ladder):
        geo = F.concat(
            F.lit(kind),
            (
                F.col("c_nationkey")
                if kind == "n"
                else F.col("n_regionkey")
            ).cast("string"),
        )
        frames.append(
            cj.select(
                F.lit(lvl).cast("long").alias("level"),
                F.col("c_custkey"),
                geo.alias("geo"),
                F.col("c_mktsegment").alias("segment"),
                F.floor(F.col("c_acctbal") / width)
                .cast("bigint")
                .alias("bal_band"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def klt_anonymize(
    customers: DataFrame,
    nations: DataFrame,
    k: int = 5,
    l: int = 1,
    t: float | None = None,
    ladder=K_LADDER,
) -> tuple[DataFrame, DataFrame]:
    """The full privacy-triad ENFORCEMENT: k-anonymity + l-diversity
    + t-closeness (Li et al., ICDE 2007) over the same generalization
    ladder. Everything ``kl_anonymize`` documents, plus: the level
    choice additionally requires the max per-(geo, segment) ordered
    EMD between the group's balance-band distribution and the
    ORIGINAL table's (the attacker's prior — a fixed reference, so
    suppression needs no fixpoint) to stay ≤ t, and the group
    suppression stage drops groups whose SURVIVING cells exceed t
    alongside those below l. EMD uses the exact-integer-numerator
    form (customers_t_closeness's determinism argument): cumulative
    sums of n_cb·N − g_b·N_c stay integer; one exactly-rounded IEEE
    division per group.

    ``t=None`` skips the EMD machinery entirely — the plan is then
    exactly ``kl_anonymize``'s (hash-pinned by its oracle queries).

    Scale shape: adds two bounded dense (group × band) grids (both
    broadcast-sized products of QI × band domains), one window per
    group over the band order, and a per-level max — nothing
    row-shaped beyond the existing groupBys.
    """
    return _ladder_anonymize(customers, nations, k, l, t, ladder)


def kl_anonymize(
    customers: DataFrame,
    nations: DataFrame,
    k: int = 5,
    l: int = 1,
    ladder=K_LADDER,
) -> tuple[DataFrame, DataFrame]:
    """Enforce k-anonymity AND l-diversity (Machanavajjhala et al.)
    on the customer quasi-identifiers by global recoding +
    suppression. The sensitive attribute is the balance band at the
    released granularity; the non-sensitive quasi-identifiers are
    (geo, segment). Returns ``(rows, classes)``:

    * ``rows`` — one row per SURVIVING customer:
      (c_custkey, level, geo, segment, bal_band); every released
      full-QI cell has ≥ k members AND every released
      (geo, segment) group carries ≥ l distinct balance bands, by
      construction.
    * ``classes`` — the released class table
      (level, geo, segment, bal_band, n); bounded by the QI domain,
      re-measurable (min(n) IS the output's k-anonymity; the min
      distinct-band count per (geo, segment) IS its l-diversity).

    Level choice: the FIRST ladder level whose smallest full-QI cell
    reaches k and whose least-diverse (geo, segment) group reaches l
    (both computed in-plan from 1-row frames — declarative,
    partition-invariant, oracle-expressible). Suppression is
    two-stage and non-iterative: below-k cells drop first, then any
    (geo, segment) group whose SURVIVING cells carry < l distinct
    bands drops whole — removing an l-violating group cannot push a
    remaining cell below k, so two passes reach the fixpoint.

    ``l=1`` (the default) degenerates to pure k-anonymity — any
    non-empty group has ≥ 1 distinct band, so the l-stage keeps
    everything and the level choice reduces to the k rule; that IS
    ``k_anonymize``, which delegates here.

    Scale shape: unchanged from the k-only transform plus one
    aggregate bounded by the (geo, segment) domain — one broadcast
    dim join, a 4-way union of projections over the fact scan,
    groupBys bounded by |ladder| × QI domain, 1-row broadcast level
    choice, broadcast semi-joins for suppression. Nothing
    pair-shaped, no window over raw rows.
    """
    return _ladder_anonymize(customers, nations, k, l, None, ladder)


def _group_emd(
    cells: DataFrame,
    glb: DataFrame,
    mlv: DataFrame,
    n_total: int,
    by_level: bool,
) -> DataFrame:
    """Per-(geo, segment) ordered EMD of ``cells`` (level, geo,
    segment, bal_band, n) against the ORIGINAL per-level global band
    distribution ``glb`` (level, bal_band, gn). Exact integer
    numerators (n_cb·N − g_b·N_c over the common denominator N_c·N)
    through the cumulative window; one IEEE division per group.
    ``by_level=True`` grids every ladder level (the level-choice
    readout); False expects single-level cells (the survivor stage).
    Returns (level, geo, segment, emd). All frames bounded by
    QI × band domains."""
    from pyspark.sql.window import Window

    grp = cells.groupBy("level", "geo", "segment").agg(
        F.sum("n").alias("nc")
    )
    grid = (
        grp.join(F.broadcast(glb), "level")
        .join(
            cells.select(
                "level", "geo", "segment", "bal_band",
                F.col("n").alias("ncb"),
            ),
            ["level", "geo", "segment", "bal_band"],
            "left",
        )
        .select(
            "level",
            "geo",
            "segment",
            "nc",
            "bal_band",
            "gn",
            F.coalesce(F.col("ncb"), F.lit(0)).alias("ncb"),
        )
    )
    part = (
        ["level", "geo", "segment"] if by_level else ["geo", "segment"]
    )
    w = (
        Window.partitionBy(*part)
        .orderBy("bal_band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "level",
        "geo",
        "segment",
        "nc",
        F.sum(
            F.col("ncb") * F.lit(n_total) - F.col("gn") * F.col("nc")
        ).over(w).alias("cumnum"),
    )
    return (
        cum.groupBy("level", "geo", "segment")
        .agg(
            F.sum(F.abs(F.col("cumnum"))).alias("s"),
            F.min("nc").alias("nc"),
        )
        .join(F.broadcast(mlv), "level")
        .select(
            "level",
            "geo",
            "segment",
            (
                F.col("s").cast("double")
                / (F.col("nc") * F.lit(n_total) * (F.col("m") - 1))
            ).alias("emd"),
        )
    )


def _ladder_anonymize(
    customers: DataFrame,
    nations: DataFrame,
    k: int,
    l: int,
    t: float | None,
    ladder,
) -> tuple[DataFrame, DataFrame]:
    cj = customers.join(
        F.broadcast(
            nations.select("n_nationkey", "n_regionkey")
        ),
        customers["c_nationkey"] == F.col("n_nationkey"),
    )
    allv = _qi_levels(cj, ladder)
    g = allv.groupBy("level", "geo", "segment", "bal_band").agg(
        F.count(F.lit(1)).alias("n")
    )
    kml = g.groupBy("level").agg(F.min("n").alias("kmin"))
    # l = 1 is vacuous (every nonempty group has ≥1 distinct band):
    # skip the per-level diversity aggregate and the group stage
    # entirely — result-identical (hash-pinned by the k_anonymize
    # gates), and it removes two aggregates the plain k-enforcement
    # path was paying for nothing (a median-confirmed 1.76× bench
    # regression when the delegation first landed).
    if l > 1:
        lml = (
            g.groupBy("level", "geo", "segment")
            .agg(F.countDistinct("bal_band").alias("l_"))
            .groupBy("level")
            .agg(F.min("l_").alias("lmin"))
            .withColumnRenamed("level", "l_level")
        )
    if t is not None:
        # per-level global band distribution (the attacker's prior at
        # each granularity) and band-domain sizes — both bounded
        n_total = customers.count()
        glb = allv.groupBy("level", "bal_band").agg(
            F.count(F.lit(1)).alias("gn")
        )
        mlv = glb.groupBy("level").agg(F.count(F.lit(1)).alias("m"))
        tml = (
            _group_emd(g, glb, mlv, n_total, by_level=True)
            .groupBy("level")
            .agg(F.max("emd").alias("tmax"))
            .withColumnRenamed("level", "t_level")
        )
    last = len(ladder) - 1
    choice = kml.where(F.col("kmin") >= k)
    if l > 1:
        choice = choice.join(
            lml, choice["level"] == F.col("l_level")
        ).where(F.col("lmin") >= l)
    if t is not None:
        choice = choice.join(
            tml, F.col("level") == F.col("t_level")
        ).where(F.col("tmax") <= t)
    lv = choice.agg(
        F.coalesce(F.min("level"), F.lit(last)).cast("long").alias("lv")
    )
    gk = (
        g.join(F.broadcast(lv), g["level"] == F.col("lv"))
        .where(F.col("n") >= k)
        .select("level", "geo", "segment", "bal_band", "n")
    )
    if l > 1:
        gl = (
            gk.groupBy("geo", "segment")
            .agg(F.countDistinct("bal_band").alias("l_sur"))
            .where(F.col("l_sur") >= l)
            .select("geo", "segment")
        )
    else:
        # every surviving group trivially has ≥1 distinct band
        gl = gk.select("geo", "segment").distinct()
    if t is not None:
        # the t-stage evaluates the SURVIVING cells against the
        # ORIGINAL prior at the chosen level's granularity — a fixed
        # reference, so no fixpoint iteration is needed
        gt = _group_emd(gk, glb, mlv, n_total, by_level=False).where(
            F.col("emd") <= t
        ).select("geo", "segment")
        gl = gl.join(F.broadcast(gt), ["geo", "segment"], "left_semi")
    if l > 1 or t is not None:
        classes = gk.join(
            F.broadcast(gl), ["geo", "segment"], "left_semi"
        )
    else:
        # no group-level cut can fire: the surviving cells ARE the
        # release (skips the group semi-join entirely for plain
        # k-enforcement)
        classes = gk
    rows = allv.join(F.broadcast(lv), allv["level"] == F.col("lv")).join(
        F.broadcast(classes.select("geo", "segment", "bal_band")),
        ["geo", "segment", "bal_band"],
        "left_semi",
    ).select("c_custkey", "level", "geo", "segment", "bal_band")
    return rows, classes


def k_anonymize(
    customers: DataFrame,
    nations: DataFrame,
    k: int = 5,
    ladder=K_LADDER,
) -> tuple[DataFrame, DataFrame]:
    """Pure k-anonymity enforcement — ``kl_anonymize`` at l=1 (the
    l-stage is then a no-op and the level choice reduces to the k
    rule; results are identical to the pre-l implementation, pinned
    by the oracle hash of customers_k_anonymize_enforced)."""
    return kl_anonymize(customers, nations, k=k, l=1, ladder=ladder)


def enforce_k_anonymity(
    store,
    customers: DataFrame,
    nations: DataFrame,
    k: int = 5,
    ladder=K_LADDER,
    audit_pipeline: str = "k_anonymize",
    l: int = 1,
) -> dict[str, int]:
    """Run the transform, audit-log the suppression COUNT (never the
    suppressed keys), and return {total, kept, suppressed, level}.
    ``l > 1`` enforces l-diversity alongside k-anonymity (the
    combined kl transform); the audit row's target records both."""
    from fabric_claims_spark.sources.audit import (
        append_audit_rows,
        build_audit_row,
    )

    rows, classes = kl_anonymize(
        customers, nations, k=k, l=l, ladder=ladder
    )
    total = customers.count()
    # ONE action over the rows plan (VERDICT r9 nit: count() +
    # select(level).first() executed the 4-way-union + double-join
    # plan twice — a double full-scan at 100×). Every surviving row
    # carries the same chosen level, so min(level) rides the same
    # aggregate as the count for free.
    kl = rows.agg(
        F.count(F.lit(1)).alias("kept"), F.min("level").alias("level")
    ).first()
    kept = int(kl["kept"])
    append_audit_rows(
        store.spark,
        store,
        [
            build_audit_row(
                pipeline=audit_pipeline,
                layer="governance",
                status="Succeeded",
                rows_written=kept,
                target_object=(
                    f"k_anonymize(k={k})"
                    if l <= 1
                    else f"kl_anonymize(k={k},l={l})"
                ),
            )
        ],
    )
    return {
        "total": total,
        "kept": kept,
        "suppressed": total - kept,
        "level": int(kl["level"])
        if kl["level"] is not None
        else len(ladder) - 1,
    }


def forget_subject(
    store,
    subject_tables: dict[str, str],
    subject_id,
    audit_pipeline: str = "gdpr_erasure",
) -> dict[str, int]:
    """Right-to-be-forgotten: delete every row for ``subject_id``
    across ``subject_tables`` ({table_name: key_column}) and append a
    per-table audit row recording the erasure counts.

    Each table is one ``TableStore.delete`` — a native Delta DELETE
    on clusters, an atomic anti-filter commit on the parquet
    fallback. The audit row carries only the COUNT and the pipeline
    tag, never the subject key itself (an erasure log that names the
    erased subject defeats the erasure). Returns {table: rows_erased}.
    """
    from fabric_claims_spark.sources.audit import (
        append_audit_rows,
        build_audit_row,
    )

    results: dict[str, int] = {}
    audit_rows = []
    for table, key_col in subject_tables.items():
        n = store.delete(table, F.col(key_col) == F.lit(subject_id))
        results[table] = n
        audit_rows.append(
            build_audit_row(
                pipeline=audit_pipeline,
                layer="governance",
                status="Succeeded",
                rows_written=n,
                target_object=table,
            )
        )
    # one append for the whole fan-out (round 13): per-table rows in
    # deletion order (per-row timestamps), one table version
    append_audit_rows(store.spark, store, audit_rows)
    return results


def forget_documents(
    index_store,
    doc_ids: DataFrame,
    batch_id: int | None = None,
    vec_ids: DataFrame | None = None,
    audit_pipeline: str = "gdpr_erasure",
) -> dict[str, int]:
    """Right-to-be-forgotten for DERIVED serving state (round 12):
    an erasure that only touches the source tables leaves the
    subject's content queryable through every materialized index —
    postings, phrase positions, near-dup pairs, stored vectors. This
    fans one erasure increment out to all four families
    (``operators/serving_index.apply_*_deletes``, one shared
    batch_id — each family has its own commit table, so redelivery
    of the whole request is a per-family no-op) and appends one
    audit row per family carrying only the COUNT (never the ids —
    the ``forget_subject`` rule). Logical erasure is immediate at
    each commit swap; the bytes go at the families' maintenance
    cadence (``fold_*_deletes`` / the next IVF rebuild).

    Outcome honesty (ADVICE r12): each family's audit row records
    what actually happened — ``status='Succeeded'`` only when the
    apply landed THIS call; a batch_id already committed in that
    family (redelivery, or a caller id colliding with an earlier
    build batch) audits as ``status='Skipped'`` with
    ``rows_written=0``, so an erasure ledger can never claim a
    tombstone that was not landed. A batch_id strictly below the
    lexical df rollup's watermark raises (see
    ``apply_lexical_deletes``). The batch_id must come from the same
    monotonic per-family sequence builds use — when a
    ``corpus_mutation_stream`` maintains these families, its
    micro-batches occupy ids 2b (adds) and 2b+1 (deletes), so
    forget ids must be issued beyond the stream's high-water mark.
    ``batch_id=None`` (round 13 default) allocates exactly that:
    ``serving_index.next_batch_id`` — max committed id across every
    family's commit table, plus one — so the default call pattern
    cannot collide with any build, stream leg, or earlier erasure.

    Vector completeness (round 13, VERDICT r12 item 4): when
    ``vec_ids`` is omitted, the subject's vectors are resolved from
    the ``ivf_docmap`` table (populated by ``apply_ivf_batch(...,
    doc_col=...)``) — one doc-keyed request covers all four
    families. If an IVF index exists but carries NO doc→vec mapping
    and no ``vec_ids`` were given, this raises instead of silently
    leaving the subject's embeddings queryable.

    ``doc_ids`` names the documents in its ``doc_id`` column; a
    single-column frame is taken as-is whatever its column is called,
    and a multi-column frame without ``doc_id`` raises.

    Returns {family: ids_requested} for applied legs (skipped legs
    report 0)."""
    from fabric_claims_spark.extensions.bpe import (
        _release_checkpoint,
        _tracked_checkpoint,
    )
    from fabric_claims_spark.operators import serving_index as si
    from fabric_claims_spark.sources.audit import (
        append_audit_rows,
        build_audit_row,
    )

    if "doc_id" in doc_ids.columns:
        id_col = "doc_id"
    elif len(doc_ids.columns) == 1:
        id_col = doc_ids.columns[0]
    else:
        raise ValueError(
            "forget_documents: doc_ids must carry a doc_id column or "
            f"be a single-column frame, got {doc_ids.columns}"
        )
    if batch_id is None:
        batch_id = si.next_batch_id(index_store)
    # materialize the request ONCE (round 14, guide §1.2): each family
    # leg re-derived doc_ids from its source plan (4+ rescans of the
    # kill-set derivation). localCheckpoint is eager, so the cost is
    # paid here; the count below only reuses the truncated lineage.
    # Non-distinct, preserving the requested-count semantics exactly.
    doc_ids, cp = _tracked_checkpoint(
        doc_ids.select(F.col(id_col).alias("doc_id"))
    )
    try:
        n_docs = doc_ids.count()
        results: dict[str, int] = {}
        audit_rows = []
        for fam in si.FAMILIES:
            ids, n = doc_ids, n_docs
            if fam is si.IVF:
                if vec_ids is None and index_store.exists(si.IVF_VECS):
                    docmap = si.read_ivf_docmap(index_store)
                    if docmap.isEmpty():
                        raise ValueError(
                            "forget_documents: an IVF index exists but "
                            "carries no doc→vec mapping and no vec_ids "
                            "were given — the subject's embeddings would "
                            "stay queryable. Either build the index with "
                            "apply_ivf_batch(doc_col=...) or pass vec_ids "
                            "explicitly."
                        )
                    vec_ids = docmap.join(doc_ids, "doc_id", "left_semi").select(
                        "vec_id"
                    )
                if vec_ids is None:
                    continue
                ids, n = vec_ids, vec_ids.count()
            elif not index_store.exists(fam.data[0][0]):
                continue
            applied = getattr(si, f"apply_{fam.name}_deletes")(
                index_store, ids, batch_id
            )
            results[fam.name] = int(n) if applied else 0
            audit_rows.append(
                build_audit_row(
                    pipeline=audit_pipeline,
                    layer="governance",
                    status="Succeeded" if applied else "Skipped",
                    rows_written=results[fam.name],
                    target_object=f"serving_index:{fam.name}",
                )
            )
        # one append for the whole fan-out (round 13): per-family rows
        # land with per-row timestamps in leg order, one table version
        append_audit_rows(index_store.spark, index_store, audit_rows)
        return results
    finally:
        _release_checkpoint(cp)
