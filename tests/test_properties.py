"""Property-based tests (SURVEY.md §5 item 4, hypothesis): split
invariant, MERGE idempotency, merge-commutes-with-dedup."""

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F

from fabric_claims_spark.extensions.dedup import minhash_near_dups
from fabric_claims_spark.operators.dedup import dedup_latest
from fabric_claims_spark.operators.quality import Rule, split_by_rules
from fabric_claims_spark.sources.merge import TableStore

# keyed rows: (key ∈ small space → collisions guaranteed, version, value)
row_st = st.tuples(
    st.integers(min_value=0, max_value=9),
    st.integers(min_value=0, max_value=100),
    st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
)
rows_st = st.lists(row_st, min_size=1, max_size=25)

# few examples: each example runs real Spark jobs (seconds apiece);
# the strategies are small enough that 5 examples still hit key
# collisions, nulls, and multi-version keys
_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, v, x) for k, v, x in rows], "k int, ver int, val string"
    )


@given(rows=rows_st)
@settings(**_SETTINGS)
def test_dedup_split_partition_invariant(spark, rows):
    """survivors + duplicates == input, and survivors have the max
    (ver, k)-order row per key."""
    df = _df(spark, rows)
    survivors, dupes = dedup_latest(
        df, ["k"], [F.col("ver").desc(), F.col("val").asc_nulls_last()]
    )
    n, s, d = df.count(), survivors.count(), dupes.count()
    assert n == s + d
    assert s == df.select("k").distinct().count()
    # every key's surviving version is its max version
    max_ver = {r["k"]: r["mv"] for r in df.groupBy("k").agg(F.max("ver").alias("mv")).collect()}
    for r in survivors.collect():
        assert r["ver"] == max_ver[r["k"]]


@given(rows=rows_st)
@settings(**_SETTINGS)
def test_rule_split_is_partition(spark, rows):
    """DQ split: good ∪ bad == input, disjoint by construction."""
    df = _df(spark, rows)
    rules = [
        Rule("high_ver", F.col("ver") > 50),
        Rule("null_val", F.col("val").isNull()),
    ]
    good, bad = split_by_rules(df, rules)
    assert good.count() + bad.count() == df.count()
    assert good.where((F.col("ver") > 50) | F.col("val").isNull()).count() == 0


@given(rows=rows_st)
@settings(**_SETTINGS)
def test_merge_idempotent_property(spark, tmp_path_factory, rows):
    """merge(b); merge(b) ≡ merge(b) — second pass reports 0/0."""
    store = TableStore(spark, str(tmp_path_factory.mktemp("wh")))
    batch, _ = dedup_latest(
        _df(spark, rows), ["k"], [F.col("ver").desc(), F.col("val").asc_nulls_last()]
    )
    store.merge("t", batch, keys=["k"])
    after_first = sorted((r["k"], r["ver"]) for r in store.read("t").collect())
    stats = store.merge("t", batch, keys=["k"])
    assert (stats.inserted, stats.updated) == (0, 0)
    assert sorted((r["k"], r["ver"]) for r in store.read("t").collect()) == after_first


@given(rows=rows_st)
@settings(**_SETTINGS)
def test_upsert_commutes_with_dedup(spark, tmp_path_factory, rows):
    """Merging latest-per-key once ≡ merging each version in ver order
    (final state, for keyed rows)."""
    df = _df(spark, rows)
    latest, _ = dedup_latest(
        df, ["k"], [F.col("ver").desc(), F.col("val").asc_nulls_last()]
    )
    s1 = TableStore(spark, str(tmp_path_factory.mktemp("wh1")))
    s1.merge("t", latest, keys=["k"])
    want = sorted(map(tuple, s1.read("t").collect()))

    s2 = TableStore(spark, str(tmp_path_factory.mktemp("wh2")))
    versions = sorted({v for _, v, _ in rows})
    for v in versions:
        batch, _ = dedup_latest(
            df.where(F.col("ver") == v),
            ["k"],
            [F.col("ver").desc(), F.col("val").asc_nulls_last()],
        )
        s2.merge("t", batch, keys=["k"])
    got = sorted(map(tuple, s2.read("t").collect()))
    assert got == want


# 60-bit signatures with planted near-dup structure: pairs are built
# by flipping up to `flips` random bit positions off a base value.
sig_case_st = st.tuples(
    st.integers(min_value=0, max_value=(1 << 60) - 1),  # base signature
    st.lists(  # per-doc flip sets (distance from base = len of set)
        st.sets(st.integers(min_value=0, max_value=59), max_size=6),
        min_size=2,
        max_size=8,
    ),
)


@given(case=sig_case_st)
@settings(**_SETTINGS)
def test_simhash_band_pairs_pigeonhole_property(spark, case):
    """LSH recall guarantee (no cap): ANY pair at Hamming distance
    ≤ bands-1 MUST be emitted, and every emitted pair's distance must
    be exact and ≤ max_hamming — checked against a brute-force
    reference on randomized planted signatures."""
    from fabric_claims_spark.extensions.dedup import simhash_band_pairs

    base, flip_sets = case
    sigs = [
        (i, base ^ sum(1 << b for b in flips))
        for i, flips in enumerate(flip_sets)
    ]
    df = spark.createDataFrame(sigs, "doc long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_band_pairs(
            df, bands=4, bits=15, max_hamming=3, bucket_cap=10**9
        ).collect()
    }
    want_guaranteed = {}
    for i, (di, si) in enumerate(sigs):
        for dj, sj in sigs[i + 1 :]:
            d = bin(si ^ sj).count("1")
            if d <= 3 and di != dj:
                want_guaranteed[(min(di, dj), max(di, dj))] = d
    # completeness below the pigeonhole bound
    for pair, d in want_guaranteed.items():
        assert got.get(pair) == d, (pair, d, got)
    # soundness: everything emitted is a true ≤3 pair
    for (a, b), d in got.items():
        full = dict(sigs)
        assert bin(full[a] ^ full[b]).count("1") == d <= 3


# --------------------------------------------------------------------------
# Round-5 operators: batch-vs-corpus incremental dedup and Lloyd
# k-means. Small word-pool texts make exact cross-side duplicates
# frequent, exercising the status precedence.
_WORDS = ["alpha", "beta", "gamma", "delta"]
doc_st = st.lists(
    st.sampled_from(_WORDS), min_size=8, max_size=16
).map(" ".join)
corpus_batch_st = st.tuples(
    st.lists(doc_st, min_size=1, max_size=6, unique=False),
    st.lists(doc_st, min_size=1, max_size=6, unique=False),
)


@given(cb=corpus_batch_st)
@settings(**_SETTINGS)
def test_incremental_dedup_status_laws(spark, cb):
    """One verdict per batch doc; statuses from the 3-set; match_id
    null iff new; a batch text present verbatim in the corpus is
    ALWAYS exact_dup with the smallest matching corpus id."""
    from fabric_claims_spark.extensions.dedup import incremental_dedup

    corpus_rows = [(i, t) for i, t in enumerate(cb[0])]
    batch_rows = [(100 + i, t) for i, t in enumerate(cb[1])]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in incremental_dedup(
            corpus, batch, "doc_id", "text", threshold=0.9
        ).collect()
    }
    assert set(out) == {i for i, _ in batch_rows}
    by_text: dict[str, int] = {}
    for i, t in corpus_rows:
        by_text.setdefault(t, i)
    for i, t in batch_rows:
        status, match = out[i]
        assert status in ("exact_dup", "near_dup", "new")
        assert (match is None) == (status == "new")
        if t in by_text:
            assert status == "exact_dup" and match == by_text[t]


vec_st = st.lists(
    st.lists(
        st.floats(min_value=-4, max_value=4, allow_nan=False, width=32),
        min_size=3,
        max_size=3,
    ),
    min_size=2,
    max_size=12,
)


@given(vecs=vec_st)
@settings(**_SETTINGS)
def test_kmeans_assigns_true_nearest_centroid(spark, vecs):
    """Every vector lands on the genuinely nearest of the trained
    centroids (ties → smaller cid), with the correct squared
    distance — checked against a driver-side recomputation from
    kmeans_centroids' returned state."""
    from fabric_claims_spark.extensions.similarity import (
        kmeans_assignments,
        kmeans_centroids,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    k = min(3, len(vecs))
    cents = kmeans_centroids(df, k=k, iters=2)
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assignments(df, k=k, iters=2).collect()
    }
    assert set(got) == set(range(len(vecs)))
    for i, v in enumerate(vecs):
        v = [float(x) for x in v]
        best = min(
            (
                (
                    sum((a - b) * (a - b) for a, b in zip(v, cv)),
                    cid,
                )
                for cid, cv in cents
            )
        )
        cluster, dist = got[i]
        assert cluster == best[1]
        assert abs(dist - best[0]) < 1e-5


# -- boundary-event interval concurrency vs brute force -------------------

interval_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),  # open day
        st.integers(min_value=0, max_value=15),  # duration
    ),
    min_size=1,
    max_size=20,
)


@given(intervals=interval_st)
@settings(**_SETTINGS)
def test_boundary_sweep_equals_bruteforce_concurrency(spark, intervals):
    """The ±1 boundary-event cumulative sum (the
    orders_backlog_monthly_peak shape) must equal the brute-force
    per-day containment count for arbitrary interval sets —
    including fully-nested, identical, and touching intervals."""
    from pyspark.sql import Window

    spans = spark.createDataFrame(
        [(o, o + d) for o, d in intervals], "od int, cd int"
    )
    ev = spans.selectExpr("od AS day", "1 AS n").unionByName(
        spans.selectExpr("cd + 1 AS day", "-1 AS n")
    )
    daily = ev.groupBy("day").agg(F.sum("n").alias("net"))
    run = daily.withColumn(
        "open_n",
        F.sum("net").over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    got = {r["day"]: r["open_n"] for r in run.collect()}
    # brute force on the driver (inputs are tiny by construction)
    for day in got:
        want = sum(1 for o, d in intervals if o <= day <= o + d)
        assert got[day] == want, (day, got[day], want)

    # monthly peaks with carry-in (month = day // 10 here): the spine
    # + forward-fill must equal a brute-force sweep over EVERY day in
    # range, including months with no boundary events (the
    # carried-over-peak bug a sampled-days-only group-by had)
    bym = run.groupBy((F.col("day") / 10).cast("int").alias("m")).agg(
        F.max("open_n").alias("mmax"),
        F.expr("max_by(open_n, day)").alias("mlast"),
        F.min("day").alias("mfirst"),
    )
    spine = bym.agg(F.min("m").alias("lo"), F.max("m").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("m")
    )
    from pyspark.sql import Window as W

    filled = spine.join(bym, "m", "left").withColumn(
        "carry",
        F.coalesce(
            F.last("mlast", ignorenulls=True).over(
                W.orderBy("m").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    peaks = {
        r["m"]: max(
            r["mmax"] or 0,
            r["carry"]
            if (r["mfirst"] is None or r["mfirst"] > 10 * r["m"])
            else 0,
        )
        for r in filled.collect()
    }
    lo_day = min(o for o, _ in intervals)
    hi_day = max(o + d for o, d in intervals) + 1
    for m in peaks:
        days = [d for d in range(lo_day, hi_day + 1) if d // 10 == m]
        want = max(
            (
                sum(1 for o, du in intervals if o <= day <= o + du)
                for day in days
            ),
            default=0,
        )
        assert peaks[m] == want, (m, peaks[m], want)


# -- relational division by counting vs double-NOT-EXISTS -----------------

pairs_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # entity
        st.integers(min_value=0, max_value=3),  # attribute
    ),
    min_size=1,
    max_size=30,
)


@given(pairs=pairs_st)
@settings(**_SETTINGS)
def test_division_by_counting_equals_double_not_exists(spark, pairs):
    """customers_all_priorities' division-by-counting must agree with
    the set-difference division formulation (entities with no missing
    (ent, attr) requirement) on arbitrary entity/attribute multisets.
    The classic double-NOT-EXISTS spelling needs a correlation two
    subquery levels deep, which Spark's analyzer rejects — itself a
    reason the engine ships the counting form."""
    df = spark.createDataFrame(pairs, "ent int, attr int")
    dom = df.agg(F.count_distinct("attr").alias("n")).first()["n"]
    by_count = {
        r["ent"]
        for r in df.groupBy("ent")
        .agg(F.count_distinct("attr").alias("s"))
        .where(F.col("s") == dom)
        .collect()
    }
    ents = df.select("ent").distinct()
    attrs = df.select("attr").distinct()
    missing = ents.crossJoin(attrs).join(
        df.select("ent", "attr").distinct(), ["ent", "attr"], "left_anti"
    )
    textbook = {
        r["ent"]
        for r in ents.join(
            missing.select("ent").distinct(), "ent", "left_anti"
        ).collect()
    }
    assert by_count == textbook


def test_allocation_bps_sums_exactly_to_10000(spark):
    """The Hamilton-allocation invariant: basis points sum to exactly
    10000 at every scale, and every share is within 1 bp of the
    unrounded proportional share (largest-remainder optimality)."""
    from fabric_claims_spark.queries import load_all_queries

    rows = load_all_queries()["priority_revenue_allocation_bps"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sum(r["bps"] for r in rows) == 10000
    total = sum(r["revenue_units"] for r in rows)
    for r in rows:
        exact = 10000 * r["revenue_units"] / total
        assert abs(r["bps"] - exact) < 1.0


def test_top3_other_preserves_region_totals(spark):
    """Folding the tail into Other must not lose revenue: per region,
    SUM over the top-3+Other slots equals the plain region total."""
    from pyspark.sql import functions as F

    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.queries._util import money
    from fabric_claims_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    out = load_all_queries()["region_segment_top3_other"].fn(spark, sf)
    got = {
        r["region"]: round(r["s"], 2)
        for r in out.groupBy("region")
        .agg(F.sum("revenue").alias("s"))
        .collect()
    }
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    rg = load_table(spark, sf, "region")
    want = {
        r["r_name"]: round(float(r["s"]), 2)
        for r in o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(rg, n["n_regionkey"] == rg["r_regionkey"])
        .groupBy("r_name")
        .agg(F.sum(money("o_totalprice")).alias("s"))
        .collect()
    }
    assert got == want


asof_st = st.tuples(
    # left: (key, ts) probes
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1, max_size=12,
    ),
    # right: (key, ts, value) — ts unique per key by construction below
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50),
                  st.integers(-100, 100)),
        min_size=1, max_size=12,
    ),
)


@given(data=asof_st)
@settings(**_SETTINGS)
def test_asof_forward_matches_pandas_merge_asof(spark, data):
    """asof_join_forward agrees with pandas merge_asof
    (direction='forward', allow_exact_matches=True) — an independent
    reference implementation — on arbitrary keyed integer series.
    The right side is deduped per (key, ts) to keep the tie contract
    defined in both engines."""
    import pandas as pd

    from fabric_claims_spark.operators.joins import asof_join_forward

    left_rows, right_rows = data
    right_dedup = {}
    for k, ts, v in right_rows:
        right_dedup.setdefault((k, ts), v)
    right_rows = [(k, ts, v) for (k, ts), v in right_dedup.items()]

    left = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left_rows)],
        "rid long, k long, ts long",
    )
    right = spark.createDataFrame(right_rows, "k long, ts long, val long")
    got = {
        r["rid"]: r["asof_val"]
        for r in asof_join_forward(
            left, right, key="k", ts="ts", right_value_cols=["val"]
        ).collect()
    }

    lp = pd.DataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left_rows)],
        columns=["rid", "k", "ts"],
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        right_rows, columns=["k", "ts", "val"]
    ).sort_values("ts", kind="stable")
    want_df = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="forward",
        allow_exact_matches=True,
    )
    want = {
        int(r.rid): (None if pd.isna(r.val) else int(r.val))
        for r in want_df.itertuples()
    }
    assert got == want


def test_cms_never_underestimates(spark):
    """The Count-Min invariant: estimates are >= exact counts for
    every key (collisions only add), and at least one key genuinely
    collides (sf0.01: 150 users into w=64 buckets — pigeonhole
    guarantees the error is real, not vacuous; sf0.001's 15 users
    may all land clean, so the non-vacuity leg needs this scale)."""
    from fabric_claims_spark.queries import load_all_queries

    rows = load_all_queries()["events_cms_user_counts"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    assert all(r["cms_estimate"] >= r["exact_count"] for r in rows)
    assert any(r["cms_estimate"] > r["exact_count"] for r in rows)


# -- star contraction == propagation on arbitrary graphs --------------------
edge_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=1,
    max_size=30,
)


@given(edges=edge_st)
@settings(**_SETTINGS)
def test_star_contraction_equals_propagation_property(spark, edges):
    """For ANY undirected edge list (self-loops, duplicates, multiple
    components, chains, cliques — hypothesis picks), the Kiveris
    star contraction must produce exactly the (node, min-reachable-id)
    labels min-label propagation produces. The 15-node id space
    guarantees collisions, self-loops, and mixed component shapes
    within 30 edges."""
    from fabric_claims_spark.extensions.graph import connected_components

    e = spark.createDataFrame(
        [(f"n{a:02d}", f"n{b:02d}") for a, b in edges],
        "src string, dst string",
    )
    # self-loops stay in: both algorithms must label self-loop-only
    # nodes as their own singleton component (node, node)
    prop = {
        (r["node"], r["cluster"])
        for r in connected_components(e, "src", "dst", max_iter=40).collect()
    }
    star = {
        (r["node"], r["cluster"])
        for r in connected_components(
            e, "src", "dst", max_iter=40, algorithm="star"
        ).collect()
    }
    assert star == prop


# -- cascade stage-order equivalence ----------------------------------------
def _lsh_pairs(docs):
    return minhash_near_dups(
        docs, "doc_id", "text", threshold=0.5, num_hashes=64, bands=16,
        hasher="md5",
    ).select("doc_a", "doc_b")


def cascade_survivors(docs, lsh_over_raw: bool):
    """Reference implementation of both dedup-cascade orderings
    (SCALING.md round 7), returning the near-stage survivor ids — the
    part the reorder affects."""
    exact_surv = docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id")
    )
    if lsh_over_raw:
        # signatures over the raw corpus, pairs post-filtered to exact
        # survivors on both endpoints
        pairs = _lsh_pairs(docs)
        a = exact_surv.select(F.col("doc_id").alias("doc_a"))
        b = exact_surv.select(F.col("doc_id").alias("doc_b"))
        dropped = (
            pairs.join(a, "doc_a").join(b, "doc_b")
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
    else:
        # signatures over the exact survivors only
        surv_docs = docs.join(
            exact_surv.select("doc_id"), "doc_id", "semi"
        )
        dropped = (
            _lsh_pairs(surv_docs)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
    return exact_surv.join(dropped, "doc_id", "left_anti").select("doc_id")


doc_st = st.lists(
    # tiny word alphabet + short docs → exact copies AND near-dups
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]),
             min_size=3, max_size=6),
    min_size=2,
    max_size=12,
)


@given(docs=doc_st)
@settings(**_SETTINGS)
def test_cascade_reorder_equivalence_property(spark, docs):
    """LSH-over-exact-survivors must keep the same near-dup survivor
    set as LSH-over-raw + both-endpoint post-filter, for ANY corpus
    (the round-7 reorder's equivalence claim, generatively): exact
    copies carry identical text, hence identical signatures, so
    running the signature stage on survivors only drops pairs whose
    endpoint was already gone with its exact copy."""
    d = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    old = {r["doc_id"] for r in cascade_survivors(d, lsh_over_raw=True).collect()}
    new = {r["doc_id"] for r in cascade_survivors(d, lsh_over_raw=False).collect()}
    assert new == old


def test_kaplan_meier_laws(spark):
    """KM invariants on the fixture curve (sf0.001 exercises the
    factor-0 tail, sf0.01 exercises horizon censoring): the at-risk
    pool telescopes (n_{t+1} = n_t - d_t - c_t), survival is monotone
    non-increasing from 1, and every value equals the running product
    of (1 - d/n) through the micro-nat pipeline (recomputed here with
    the same rounding discipline)."""
    import math

    from fabric_claims_spark.queries import load_all_queries

    reg = load_all_queries()
    for sf, expect_censored in (
        ("/root/testdata/sf0.001", False),
        ("/root/testdata/sf0.01", True),
    ):
        rows = reg["events_user_survival_km"].fn(spark, sf).collect()
        assert rows, sf
        prev_s = 1.0
        cum_micro = 0
        hit_zero = False
        for i, r in enumerate(rows):
            n, d, c = r["at_risk"], r["converted"], r["censored"]
            assert d + c <= n
            if i + 1 < len(rows):
                assert rows[i + 1]["at_risk"] == n - d - c
            if d == n:
                hit_zero = True
            if not hit_zero and 0 < d:
                cum_micro += int(round(round(math.log(1.0 - d / n), 6) * 1e6))
            want = 0.0 if hit_zero else round(math.exp(cum_micro / 1e6), 6)
            assert abs(r["km_survival"] - want) < 1e-12, (sf, r)
            assert r["km_survival"] <= prev_s + 1e-12
            prev_s = r["km_survival"]
        if expect_censored:
            assert sum(r["censored"] for r in rows) > 0
        else:
            assert rows[-1]["km_survival"] == 0.0  # factor-0 tail


def test_logrank_detects_separated_arms(spark, tmp_path):
    """Power check for the log-rank query: on a synthetic corpus
    where even-id users convert on day 0 and odd-id users only on
    day 5 (the horizon edge), the statistic must flag significance;
    the fixture corpora's parity split is a true null (pinned
    non-significant by the oracle gate). The query reads whatever
    sf_dir it is given, so the synthetic corpus is just another
    events.parquet."""
    import datetime as dt

    from fabric_claims_spark.queries import load_all_queries

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(40):
        rows.append((eid, base, uid, "signup", 1.0, None)); eid += 1
        delay = 0 if uid % 2 == 0 else 5
        rows.append(
            (eid, base + dt.timedelta(days=delay), uid, "purchase", 1.0, None)
        ); eid += 1
    # a late sentinel keeps everyone's follow-up at the full horizon
    rows.append((eid, base + dt.timedelta(days=12), 0, "view", 1.0, None))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = (
        load_all_queries()["events_conversion_logrank"]
        .fn(spark, str(tmp_path))
        .first()
    )
    assert out["users_a"] == out["users_b"] == 20
    assert out["conv_a"] == out["conv_b"] == 20  # both arms convert...
    assert out["significant_95"]  # ...but at maximally separated times
    assert out["chi2"] > 3.841459


def test_chained_global_ranks_equal_exact_row_numbers(spark):
    """Three chained ``with_global_rank`` passes over a shuffled
    aggregate (the ``events_user_rfm_segments`` shape) must give every
    row its exact global row number under each key. A range exchange
    samples its bounds anew on every evaluation, from rows whose order
    a shuffle does not fix; when the bucket census and the ranked rows
    were two evaluations, offsets drifted against the rows."""
    from pyspark.sql import Window

    from fabric_claims_spark.operators.ranking import with_global_rank

    n = 6000
    base = (
        spark.range(0, n, numPartitions=4)
        .select(
            (F.col("id") % (n // 3)).alias("u"),
            (F.col("id") * 7919 % 1000).alias("v"),
        )
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).alias("f"),
            F.sum("v").alias("m"),
            F.max("v").alias("r"),
        )
    )
    ranked, exact = base, base
    for metric in ("r", "f", "m"):
        ranked, _ = with_global_rank(ranked, [metric, "u"], num_partitions=4)
        ranked = ranked.withColumnRenamed("_rank", f"rk_{metric}")
        exact = exact.withColumn(
            f"rk_{metric}",
            F.row_number().over(Window.orderBy(metric, "u")).cast("long"),
        )
    cols = ["u", "rk_r", "rk_f", "rk_m"]
    assert sorted(ranked.select(cols).collect()) == sorted(
        exact.select(cols).collect()
    )
