"""Extension operator tests: MinHash-LSH, SimHash, similarity search,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from fabric_claims_spark.extensions.dedup import (
    exact_dedup,
    hamming64,
    minhash_near_dups,
    minhash_signatures,
    simhash64,
)
from fabric_claims_spark.extensions.multimodal import (
    decode_image_metadata,
    frame_sample_plan,
    wrap_as_media,
)
from fabric_claims_spark.extensions.similarity import (
    as_double_array,
    cosine_topk,
    ivf_assign,
    ivf_search,
)

BASE = (
    "spark shuffles data between stages using hash partitioning and "
    "adaptive query execution tunes partition counts at runtime for "
    "joins aggregations and window functions across the cluster"
)
NEAR = BASE.replace("cluster", "whole cluster")  # tiny edit → near-dup
OTHER1 = (
    "completely different content about medieval castles moats "
    "drawbridges and the agrarian economy of feudal europe in the "
    "twelfth century with knights and monasteries"
)
OTHER2 = (
    "quantum error correction stabilizer codes and surface code "
    "thresholds under realistic noise models for superconducting "
    "qubit architectures"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, OTHER1), (3, OTHER2), (4, BASE)],
        "doc_id long, text string",
    )


def test_exact_dedup_finds_identical(docs):
    res = exact_dedup(docs, "doc_id", "text").collect()
    copies = {r["canonical_id"]: r["copies"] for r in res}
    assert copies[0] == 2  # doc 4 is an exact copy of doc 0
    assert len(res) == 4


def test_minhash_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_near_dups(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # near-dup pair found
    assert (0, 4) in pairs and pairs[(0, 4)] == 1.0  # exact dup → 1.0
    assert (0, 2) not in pairs and (2, 3) not in pairs  # unrelated


def test_minhash_signature_shape(docs):
    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=32).collect()
    assert all(len(r["sig"]) == 32 for r in sig)


def test_minhash_word_shingles(docs):
    """Word-level shingling finds the same planted near-dups."""
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dups(
            docs, "doc_id", "text", threshold=0.5, shingle_unit="word", k=3
        ).collect()
    }
    assert (0, 4) in pairs  # exact copy
    assert (0, 1) in pairs  # near-dup
    assert (0, 2) not in pairs


def test_simhash_hamming(docs, spark):
    sh = simhash64(docs, "doc_id", "text")
    a = sh.alias("a")
    b = sh.alias("b")
    dist = (
        a.join(b, F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("da"),
            F.col("b.doc").alias("db"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("ham"),
        )
        .collect()
    )
    d = {(r["da"], r["db"]): r["ham"] for r in dist}
    assert d[(0, 4)] == 0  # identical docs → identical simhash
    assert d[(0, 1)] < d[(0, 2)]  # near-dup closer than unrelated
    assert d[(0, 1)] <= 8


def test_winnow_fingerprints(docs, spark):
    from fabric_claims_spark.extensions.text import (
        winnow_fingerprint_sets,
        winnow_overlap_pairs,
    )

    fps = winnow_fingerprint_sets(docs, "doc_id", "text").collect()
    by_id = {r["doc"]: set(r["fps"]) for r in fps}
    assert by_id[0] == by_id[4]  # identical docs → identical prints
    # near-dup shares most prints; unrelated shares few
    j01 = len(by_id[0] & by_id[1]) / len(by_id[0] | by_id[1])
    j02 = len(by_id[0] & by_id[2]) / len(by_id[0] | by_id[2])
    assert j01 > 0.6 > j02

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_overlap_pairs(docs, "doc_id", "text", min_shared=8).collect()
    }
    assert (0, 4) in pairs and (0, 1) in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    # 3 well-separated clusters around axis directions
    rows = []
    for cid, base in [(0, (10.0, 0.0, 0.0)), (1, (0.0, 10.0, 0.0)), (2, (0.0, 0.0, 10.0))]:
        for j in range(5):
            vec = [base[0] + 0.1 * j, base[1] + 0.05 * j, base[2] + 0.02 * j]
            rows.append((cid * 5 + j, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def ev(vectors):
    return vectors.select("vec_id", as_double_array("embedding").alias("ev"))


@pytest.fixture(scope="module")
def centroids(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "centroid_id long, cv array<double>",
    )


def test_ivf_assign_recovers_clusters(ev, centroids):
    got = {
        r["vec_id"]: r["assigned_centroid"]
        for r in ivf_assign(ev, centroids).collect()
    }
    assert len(got) == 15
    assert all(got[v] == v // 5 for v in got)


def test_ivf_search_matches_bruteforce_in_bucket(ev, centroids, spark):
    query = spark.createDataFrame([([10.0, 0.5, 0.0],)], "qv array<double>")
    bf = cosine_topk(ev, query, 3).collect()
    ivf = ivf_search(ev, centroids, query, k=3).collect()
    assert [r["vec_id"] for r in bf] == [r["vec_id"] for r in ivf]
    assert all(r["vec_id"] < 5 for r in bf)  # all from cluster 0


def test_ivf_search_nprobe_recovers_cross_bucket_neighbors(ev, centroids, spark):
    """A query between two clusters: nprobe=1 sees only its own
    bucket; nprobe=2 must recover the true top-k (recall vs brute
    force) by probing the runner-up centroid too."""
    # leans to cluster 0; with k=8 > bucket size the true top-k must
    # take the 3 best of cluster 1 as well
    query = spark.createDataFrame([([10.0, 9.0, 0.0],)], "qv array<double>")
    bf = {r["vec_id"] for r in cosine_topk(ev, query, 8).collect()}
    one = {
        r["vec_id"]
        for r in ivf_search(ev, centroids, query, k=8, nprobe=1).collect()
    }
    two = {
        r["vec_id"]
        for r in ivf_search(ev, centroids, query, k=8, nprobe=2).collect()
    }
    assert bf & {5, 6, 7, 8, 9}  # brute force really spans two clusters
    assert len(one & bf) < len(bf)  # single probe misses the other bucket
    assert len(two & bf) / len(bf) >= 0.99  # recall@8 with nprobe=2


def test_hyperplane_neardup_finds_planted_pair(spark):
    from fabric_claims_spark.extensions.similarity import (
        hyperplane_neardup_pairs,
        hyperplanes,
    )

    rng_rows = []
    # two near-identical vectors + unrelated noise vectors
    base = [1.0, 2.0, -1.0, 0.5] * 16
    near = [x * 1.01 for x in base]
    rng_rows.append((0, [float(x) for x in base]))
    rng_rows.append((1, [float(x) for x in near]))
    for i in range(2, 12):
        rng_rows.append(
            (i, [float(((i * 37 + j * 17) % 19) - 9) for j in range(64)])
        )
    df = spark.createDataFrame(rng_rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine_sim"]
        for r in hyperplane_neardup_pairs(df, 0.9, hyperplanes(64)).collect()
    }
    # a scaled copy has cosine 1.0 and identical hyperplane signs —
    # LSH blocking cannot separate it
    assert (0, 1) in pairs
    assert pairs[(0, 1)] >= 0.999


def test_multimodal_decode_stub_deterministic(docs):
    media = wrap_as_media(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
        "image",
    )
    meta1 = {r["media_id"]: r for r in decode_image_metadata(media).collect()}
    meta2 = {r["media_id"]: r for r in decode_image_metadata(media).collect()}
    assert meta1.keys() == meta2.keys()
    for k in meta1:
        assert (meta1[k]["width"], meta1[k]["height"]) == (
            meta2[k]["width"],
            meta2[k]["height"],
        )
        assert meta1[k]["n_bytes"] > 0
        assert len(meta1[k]["sha256"]) == 64
    # identical payloads → identical metadata (docs 0 and 4)
    assert meta1[0]["sha256"] == meta1[4]["sha256"]


def test_frame_sample_plan(docs):
    media = wrap_as_media(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
        "video",
    )
    frames = frame_sample_plan(media, every_n=30)
    assert frames.count() >= media.count()  # ≥1 frame per asset
    assert frames.where(F.col("frame_idx") % 30 != 0).count() == 0


def test_connected_components_chain_triangle_isolated(spark):
    from fabric_claims_spark.extensions.graph import connected_components

    # chain a-b-c-d (diameter 3: exercises multi-round propagation),
    # triangle x-y-z, isolated pair p-q
    edges = spark.createDataFrame(
        [
            ("b", "a"), ("b", "c"), ("c", "d"),
            ("x", "y"), ("y", "z"), ("x", "z"),
            ("q", "p"),
        ],
        "src string, dst string",
    )
    got = {
        r["node"]: r["cluster"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x", "z": "x",
        "p": "p", "q": "p",
    }


def test_connected_components_converges_on_long_chain(spark):
    from fabric_claims_spark.extensions.graph import connected_components

    n = 12
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)],
        "src string, dst string",
    )
    rows = connected_components(edges, "src", "dst").collect()
    assert len(rows) == n + 1
    assert {r["cluster"] for r in rows} == {"n00"}


def test_connected_components_raises_on_exhaustion(spark):
    from fabric_claims_spark.extensions.graph import (
        ConvergenceError,
        connected_components,
    )

    # diameter-10 chain cannot converge in 2 rounds of min-label
    # propagation — partial labels must never be returned silently
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(10)],
        "src string, dst string",
    )
    with pytest.raises(ConvergenceError, match="did not converge"):
        connected_components(edges, "src", "dst", max_iter=2)


def test_connected_components_warn_mode_returns_partial(spark):
    import warnings

    from fabric_claims_spark.extensions.graph import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(10)],
        "src string, dst string",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = connected_components(
            edges, "src", "dst", max_iter=2, on_exhaustion="warn"
        ).collect()
    assert any("did not converge" in str(w.message) for w in caught)
    assert len(rows) == 11  # partial labels still cover every node


def test_star_contraction_matches_propagation_labels(spark):
    """connected_components(algorithm='star') — the Kiveris et al.
    alternating large-star/small-star contraction — must produce the
    exact (node, cluster) labels propagation does, on the mixed
    chain/triangle/pair graph AND on the real LSH near-dup cluster
    edges at sf0.001 (the graph docs_dup_clusters feeds it)."""
    from fabric_claims_spark.extensions.graph import connected_components
    from fabric_claims_spark.extensions.dedup import minhash_near_dups
    from fabric_claims_spark.queries.lsh import _BANDS, _NUM_HASHES
    from fabric_claims_spark.sources.parquet import load_table

    edges = spark.createDataFrame(
        [
            ("b", "a"), ("b", "c"), ("c", "d"),
            ("x", "y"), ("y", "z"), ("x", "z"),
            ("q", "p"),
        ],
        "src string, dst string",
    )
    star = {
        r["node"]: r["cluster"]
        for r in connected_components(
            edges, "src", "dst", algorithm="star"
        ).collect()
    }
    assert star == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x", "z": "x",
        "p": "p", "q": "p",
    }

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = minhash_near_dups(
        docs, "doc_id", "text",
        threshold=0.5, num_hashes=_NUM_HASHES, bands=_BANDS, hasher="md5",
    ).select("doc_a", "doc_b").localCheckpoint()
    prop = connected_components(pairs, "doc_a", "doc_b")
    cont = connected_components(pairs, "doc_a", "doc_b", algorithm="star")
    prop_rows = {(r["node"], r["cluster"]) for r in prop.collect()}
    star_rows = {(r["node"], r["cluster"]) for r in cont.collect()}
    assert prop_rows == star_rows and len(prop_rows) > 0


def test_star_contraction_converges_where_propagation_exhausts(spark):
    """A diameter-39 chain needs ~39 min-label rounds (propagation
    ConvergenceErrors at max_iter=8) but star contraction is
    O(log n) and must finish inside the same budget."""
    from fabric_claims_spark.extensions.graph import (
        ConvergenceError,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(39)],
        "src string, dst string",
    )
    with pytest.raises(ConvergenceError, match="did not converge"):
        connected_components(edges, "src", "dst", max_iter=8)
    rows = connected_components(
        edges, "src", "dst", max_iter=8, algorithm="star"
    ).collect()
    assert len(rows) == 40
    assert {r["cluster"] for r in rows} == {"n00"}


def test_star_contraction_raises_on_exhaustion(spark):
    from fabric_claims_spark.extensions.graph import (
        ConvergenceError,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(39)],
        "src string, dst string",
    )
    with pytest.raises(ConvergenceError, match="star contraction"):
        connected_components(
            edges, "src", "dst", max_iter=1, algorithm="star"
        )


def test_star_contraction_labels_selfloop_only_nodes(spark):
    """Nodes whose only edges are self-loops are singleton components;
    star's pair set (lo < hi) cannot carry them, so they are unioned
    back as (node, node) — identical to propagation's contract that
    every node appearing in edges gets a label."""
    from fabric_claims_spark.extensions.graph import connected_components

    edges = spark.createDataFrame(
        # s: self-loop ONLY (must appear as its own cluster);
        # b: self-loop AND a real edge (must NOT be duplicated)
        [("a", "b"), ("s", "s"), ("b", "b")],
        "src string, dst string",
    )
    for algo in ("propagation", "star"):
        rows = connected_components(
            edges, "src", "dst", algorithm=algo
        ).collect()
        got = {r["node"]: r["cluster"] for r in rows}
        assert got == {"a": "a", "b": "a", "s": "s"}, algo
        assert len(rows) == 3, algo  # one row per node, no duplicates


def test_star_contraction_warn_mode_one_row_per_node(spark):
    """With on_exhaustion='warn' on a non-converged run, the partial
    pair set is not a star forest — a node can sit under conflicting
    labels. The warn path must collapse to exactly one row per node
    (min partial label), matching propagation's warn contract."""
    import warnings

    from fabric_claims_spark.extensions.graph import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(39)],
        "src string, dst string",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = connected_components(
            edges, "src", "dst",
            max_iter=1, algorithm="star", on_exhaustion="warn",
        ).collect()
    assert any("star contraction" in str(w.message) for w in caught)
    nodes = [r["node"] for r in rows]
    assert len(nodes) == 40
    assert len(set(nodes)) == 40  # one row per node, no conflicts


def test_connected_components_rejects_unknown_algorithm(spark):
    from fabric_claims_spark.extensions.graph import connected_components

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(edges, "src", "dst", algorithm="bogus")


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    from fabric_claims_spark.extensions.graph import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = {
        r["node"]: r["cluster"]
        for r in connected_components(
            edges, "src", "dst", checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_simhash_band_pairs_finds_near_dup(docs, spark):
    from fabric_claims_spark.extensions.dedup import (
        simhash60_md5,
        simhash_band_pairs,
    )

    sigs = simhash60_md5(docs, "doc_id", "text")
    # the one-token edit lands at distance 4 on this fixture — just
    # outside the 4-band ≤3 guarantee — so the defaults must emit the
    # exact pair and drop the unrelated ones; the edit pair is only
    # required once max_hamming covers its distance.
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_band_pairs(sigs).collect()
    }
    assert pairs[(0, 4)] == 0  # exact copies: distance 0
    assert (0, 2) not in pairs and (0, 3) not in pairs  # unrelated
    wide = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_band_pairs(sigs, max_hamming=8).collect()
    }
    assert wide.get((0, 1)) == 4  # tiny edit found at a wider radius


def test_simhash_band_pairs_pigeonhole_guarantee(spark):
    """Any pair at Hamming ≤ bands-1 MUST be emitted (no LSH miss is
    possible below the band count): plant signatures at controlled
    distances and check exhaustively."""
    from fabric_claims_spark.extensions.dedup import simhash_band_pairs

    base = 0x0123456789ABCDE  # 60-bit value
    rows = [
        (0, base),
        (1, base ^ 0b111),          # distance 3 (all flips in band 0)
        (2, base ^ (1 << 59) ^ (1 << 44) ^ (1 << 29)),  # distance 3 spread
        (3, base ^ ((1 << 15) - 1)),  # distance 15: not a near-dup
    ]
    sigs = spark.createDataFrame(rows, "doc long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_band_pairs(sigs, max_hamming=3).collect()
    }
    assert got[(0, 1)] == 3
    assert got[(0, 2)] == 3
    assert (0, 3) not in got


def test_chunk_split_covers_every_token(spark, sf_dir):
    """Chunks tile the document: starts advance by the stride, the
    last chunk reaches the end, and overlap = chunk - stride."""
    from fabric_claims_spark.queries.text_docs import (
        _CHUNK,
        _STRIDE,
        docs_chunk_split,
    )

    ch = docs_chunk_split(spark, sf_dir)
    bad_start = ch.where(
        (F.col("chunk_start") - 1) % _STRIDE != 0
    ).count()
    assert bad_start == 0
    # every non-final chunk is full-size
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    bounds = ch.withColumn("max_idx", F.max("chunk_idx").over(w))
    # every chunk is ≤ the window size and non-final chunks overhang
    # the next start (stride < chunk ⇒ ≥ stride+1 tokens) ...
    assert bounds.where(F.col("chunk_tokens") > _CHUNK).count() == 0
    assert (
        bounds.where(
            (F.col("chunk_idx") < F.col("max_idx"))
            & (F.col("chunk_tokens") < _STRIDE + 1)
        ).count()
        == 0
    )
    # ... and per document the chunks reach the last token exactly
    from fabric_claims_spark.sources.parquet import load_table

    n_toks = (
        load_table(ch.sparkSession, sf_dir, "documents")
        .where(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n")
        )
    )
    cover = ch.groupBy("doc_id").agg(
        F.max(F.col("chunk_start") + F.col("chunk_tokens") - 1).alias("covered")
    )
    assert (
        cover.join(n_toks, "doc_id").where(F.col("covered") != F.col("n")).count()
        == 0
    )


def test_pack_sequences_offsets_consistent(spark, sf_dir):
    """The two-phase prefix sum reproduces the global cumsum: offsets
    stay inside the budget and pack boundaries advance monotonically
    in doc order."""
    from fabric_claims_spark.queries.text_docs import (
        _PACK_BUDGET,
        docs_pack_sequences,
    )

    p = docs_pack_sequences(spark, sf_dir)
    assert p.where(
        (F.col("pack_offset") < 0) | (F.col("pack_offset") >= _PACK_BUDGET)
    ).count() == 0
    rows = p.orderBy("doc_id").collect()
    cum = 0
    for r in rows:
        assert r["pack_id"] == cum // _PACK_BUDGET
        assert r["pack_offset"] == cum % _PACK_BUDGET
        cum += r["tokens"]


# --------------------------------------------------------------------------
# PageRank


def test_pagerank_star_graph_center_dominates(spark):
    from fabric_claims_spark.extensions.graph import pagerank

    # undirected star: center c connected to 4 leaves
    rows = []
    for leaf in ("a", "b", "d", "e"):
        rows += [("c", leaf, 1), (leaf, "c", 1)]
    edges = spark.createDataFrame(rows, "src string, dst string, w int")
    pr = {r["node"]: r["pr"] for r in pagerank(edges, weight="w").collect()}
    assert set(pr) == {"a", "b", "c", "d", "e"}
    assert pr["c"] > max(v for k, v in pr.items() if k != "c")
    # leaves are symmetric → identical ranks
    leaves = [v for k, v in pr.items() if k != "c"]
    assert len(set(leaves)) == 1
    # no dangling nodes → total mass conserved (up to rounding)
    assert abs(sum(pr.values()) - 1.0) < 1e-6


def test_pagerank_hot_key_split_is_bit_identical(spark):
    """hot_degree_cap (the Zipfian stopword-hub skew guard) must
    produce the exact ranks the default single-exchange plan produces:
    the split only changes WHERE contribution rows are joined, and
    per-dst sums fold as exact decimals. Graph: two hubs over a long
    tail plus a disconnected pair, weighted edges."""
    from fabric_claims_spark.extensions.graph import pagerank

    rows = []
    for i in range(40):  # hub h0 touches 40 nodes, h1 touches 25
        rows += [("h0", f"t{i:02d}", 1 + i % 3), (f"t{i:02d}", "h0", 1)]
    for i in range(25):
        rows += [("h1", f"t{i:02d}", 2), (f"t{i:02d}", "h1", 1)]
    rows += [("p", "q", 3), ("q", "p", 3)]
    edges = spark.createDataFrame(rows, "src string, dst string, w int")
    base = {
        r["node"]: r["pr"] for r in pagerank(edges, weight="w").collect()
    }
    split = {
        r["node"]: r["pr"]
        for r in pagerank(edges, weight="w", hot_degree_cap=10).collect()
    }
    assert split == base  # bit-identical, not approximately equal
    assert len(base) == 44


def test_pagerank_uniform_on_cycle(spark):
    from fabric_claims_spark.extensions.graph import pagerank

    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n, 1) for i in range(n)], "src long, dst long, w int"
    )
    pr = {r["node"]: r["pr"] for r in pagerank(edges, weight="w").collect()}
    # a directed cycle is rank-uniform: every node keeps 1/n
    assert all(abs(v - 1.0 / n) < 1e-9 for v in pr.values())


def test_salted_sample_matches_unsalted_semantics(spark, sf_dir):
    """The 64-way salted two-phase top-k must return exactly the rows
    the oracle's unsalted per-language row_number() would."""
    from pyspark.sql import Window

    from fabric_claims_spark.queries.analytics import docs_sample_per_lang
    from fabric_claims_spark.sources.parquet import load_table

    got = {
        (r["lang"], r["sample_rank"], r["doc_id"])
        for r in docs_sample_per_lang(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = Window.partitionBy("lang").orderBy(u, "doc_id")
    want = {
        (r["lang"], r["sample_rank"], r["doc_id"])
        for r in d.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= 10)
        .select("lang", "sample_rank", "doc_id")
        .collect()
    }
    assert got == want


def test_triangles_counts_known_graph(spark):
    from fabric_claims_spark.extensions.graph import triangles

    # K4 on {a,b,c,d} (4 triangles, every node in 3), triangle x-y-z
    # with pendant w, isolated edge p-q; plus a duplicate reversed
    # edge and a self-loop that canonicalization must drop.
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("a", "c"), ("a", "d"),
            ("b", "c"), ("b", "d"), ("c", "d"),
            ("b", "a"),  # reversed duplicate
            ("a", "a"),  # self-loop
            ("x", "y"), ("y", "z"), ("x", "z"), ("w", "x"),
            ("p", "q"),
        ],
        "src string, dst string",
    )
    got = {r["node"]: r["triangles"] for r in triangles(edges).collect()}
    assert got == {
        "a": 3, "b": 3, "c": 3, "d": 3,
        "x": 1, "y": 1, "z": 1, "w": 0,
        "p": 0, "q": 0,
    }


def test_redact_pii_masks_and_counts(spark):
    from pyspark.sql import functions as F

    from fabric_claims_spark.extensions.text import (
        PII_PATTERNS,
        pii_hits,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            ("reach me at jo.doe@example.com or jane@test.org, tel 555-1234",),
            ("no contact info here",),
        ],
        "text string",
    )
    out = df.select(
        redact_pii(F.col("text")).alias("red"),
        pii_hits(F.col("text"), PII_PATTERNS["email"]).alias("emails"),
        pii_hits(F.col("text"), PII_PATTERNS["phone"]).alias("phones"),
    ).collect()
    assert out[0]["red"] == "reach me at [EMAIL] or [EMAIL], tel [PHONE]"
    assert (out[0]["emails"], out[0]["phones"]) == (2, 1)
    assert out[1]["red"] == "no contact info here"
    assert (out[1]["emails"], out[1]["phones"]) == (0, 0)


def test_triangles_matches_bruteforce_on_random_graph(spark):
    """Degree-ordered counting vs an itertools brute force on a
    deterministic pseudo-random 14-node graph (md5-seeded edges, so
    every run sees the same graph)."""
    import hashlib
    from itertools import combinations

    from fabric_claims_spark.extensions.graph import triangles

    nodes = [f"n{i:02d}" for i in range(14)]
    edges = [
        (a, b)
        for a, b in combinations(nodes, 2)
        if int(hashlib.md5(f"{a}|{b}".encode()).hexdigest(), 16) % 10 < 3
    ]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {
        n: sum(1 for x, y in combinations(sorted(adj[n]), 2) if y in adj[x])
        for n in nodes
        if adj[n]
    }
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["triangles"] for r in triangles(df).collect()}
    assert got == want
    assert sum(want.values()) > 0  # the seed actually produced triangles


def test_pagerank_redistribute_dangling_matches_reference(spark):
    """General directed graph with a dangling node: with
    redistribute_dangling=True the ranks must match a straightforward
    power-iteration reference (teleport/N + d*(recv + dangling/N))
    and conserve total mass; the default (False) leaks the dangling
    mass and must NOT conserve it (documented limitation)."""
    from fabric_claims_spark.extensions.graph import pagerank

    out = {1: [2, 3], 2: [3], 3: [1, 4], 4: []}
    edges = spark.createDataFrame(
        [(u, v) for u, vs in out.items() for v in vs], "src long, dst long"
    )
    n, iters, d, t = 4, 6, 0.85, 0.15

    # reference: same update rule, plain floats
    pr = {v: 1.0 / n for v in out}
    for _ in range(iters):
        recv = {v: 0.0 for v in out}
        for u, vs in out.items():
            for v in vs:
                recv[v] += pr[u] / len(vs)
        dm = sum(pr[u] for u, vs in out.items() if not vs)
        pr = {v: t / n + d * (recv[v] + dm / n) for v in out}

    got = {
        r["node"]: r["pr"]
        for r in pagerank(edges, iters=iters, redistribute_dangling=True).collect()
    }
    assert set(got) == set(pr)
    for v in pr:
        assert abs(got[v] - pr[v]) < 1e-6, (v, got[v], pr[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved

    leaked = {
        r["node"]: r["pr"] for r in pagerank(edges, iters=iters).collect()
    }
    assert sum(leaked.values()) < 1.0 - 1e-3  # default leaks as documented


def test_incremental_dedup_statuses(spark):
    """Batch-vs-corpus dedup: exact copy → exact_dup (smallest corpus
    match), high-overlap text → near_dup, unrelated text → new; and
    the operator never reports intra-batch duplicates (out of scope,
    composes with minhash_near_dups on the batch)."""
    from fabric_claims_spark.extensions.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again "
    corpus = spark.createDataFrame(
        [
            (10, base * 4),
            (11, base * 4),  # corpus-internal dup; match must be min id 10
            (12, "completely different corpus content about spark engines "
                 * 4),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, base * 4),                       # exact copy of 10/11
            (101, base * 4 + "with a tiny suffix"),  # near dup of 10/11
            (102, "nothing like anything stored here at all zzz qqq www "
                  * 4),                             # new
            (103, "nothing like anything stored here at all zzz qqq www "
                  * 4),                             # intra-batch dup of 102 — still 'new'
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in incremental_dedup(
            corpus, batch, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got[100] == ("exact_dup", 10)
    assert got[101][0] == "near_dup" and got[101][1] in (10, 11)
    assert got[102] == ("new", None)
    assert got[103] == ("new", None)


def test_kmeans_separates_two_blobs(spark):
    """Two well-separated blobs, k=2: every member of a blob lands in
    the same cluster, blobs land in different clusters, and the
    reported dist is the squared euclidean to the final centroid."""
    from fabric_claims_spark.extensions.similarity import kmeans_assignments

    rows = []
    for i in range(20):
        off = (i % 5) * 0.01
        rows.append((i, [1.0 + off, 1.0, 0.0]))          # blob A
        rows.append((100 + i, [-1.0 - off, -1.0, 0.0]))  # blob B
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assignments(df, k=2, iters=3).collect()
    }
    a_clusters = {got[i][0] for i in range(20)}
    b_clusters = {got[100 + i][0] for i in range(20)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    # converged centroids sit inside each blob: dist far below the
    # inter-blob squared distance (~8)
    assert all(d < 0.1 for _, d in got.values())


def test_semdedup_trained_centroids_beat_seeded(spark, sf_dir):
    """The Lloyd-trained clustering embeddings_semantic_dedup now runs
    on must be a strictly better partition of the embedding space than
    the seeded (vec_id < k) start it replaced: mean squared distance
    to the assigned centroid is non-increasing under Lloyd iterations
    (monotonicity), and on real data strictly improves."""
    from fabric_claims_spark.extensions.similarity import (
        _lloyd_assign,
        as_double_array,
        kmeans_centroids,
    )
    from fabric_claims_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.select("vec_id", as_double_array("embedding").alias("v"))
    seeded = kmeans_centroids(emb, k=8, iters=0)
    trained = kmeans_centroids(emb, k=8, iters=3)

    def sse(cents):
        return _lloyd_assign(ev, cents).agg(F.avg("d")).first()[0]

    assert sse(trained) < sse(seeded)


def test_semdedup_pair_recall_floor(spark, sf_dir):
    """Quality gate behind the embeddings_semdedup_recall eval query
    (VERDICT r6 item 6): determinism hashes don't prove the trained
    clustering actually SEES the duplicate pairs. Recall of
    above-threshold cosine pairs captured within-cluster must clear
    (a) an absolute floor and (b) the random-collocation baseline
    Σ C(n_c,2) / C(n,2) — what a cluster-blind random partition of
    the same sizes would capture. Measured: 0.344 at sf0.01, 0.270
    at sf0.1 (fixed eval cohort), vs baselines ≈ 0.13
    (SCALING.md §round-7)."""
    from fabric_claims_spark.queries import load_all_queries

    reg = load_all_queries()
    row = reg["embeddings_semdedup_recall"].fn(spark, sf_dir).first()
    assert row["true_pairs"] > 0
    recall = row["pair_recall"]
    assert recall >= 0.2, recall

    sizes = [
        r["n"]
        for r in reg["embeddings_kmeans"]
        .fn(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    n = sum(sizes)
    baseline = sum(c * (c - 1) for c in sizes) / (n * (n - 1))
    assert recall > baseline, (recall, baseline)


def test_semdedup_multiprobe_recall_lift(spark, sf_dir):
    """VERDICT r7 item 4: top-2 multi-probe assignment must lift pair
    recall past the single-probe Voronoi-boundary ceiling AND past the
    probe-collocation chance baseline (the fraction of ALL cohort
    pairs that share a probe — what a similarity-blind random pair set
    would score). Measured: 0.745/0.772/0.687 multi-probe vs
    0.325/0.344/0.270 single-probe vs ≈0.46 chance, at sf0.001/0.01/
    0.1 (SCALING.md §round-8)."""
    from fabric_claims_spark.extensions.similarity import (
        _lloyd_assign_probes,
        as_double_array,
        kmeans_centroids,
    )
    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.queries.similarity import (
        _KM_ITERS,
        _KM_K,
        _RECALL_COHORT,
        _SEMDEDUP_PROBES,
    )
    from fabric_claims_spark.sources.parquet import load_table

    reg = load_all_queries()
    sp = reg["embeddings_semdedup_recall"].fn(spark, sf_dir).first()
    mp = reg["embeddings_semdedup_recall_mp"].fn(spark, sf_dir).first()
    # same ground truth (the exact-cosine pair set is probe-agnostic)
    assert mp["true_pairs"] == sp["true_pairs"]
    assert mp["pair_recall"] >= 0.5, mp["pair_recall"]
    assert mp["pair_recall"] > sp["pair_recall"]

    # chance baseline: distinct cohort pairs sharing >=1 probe / C(n,2)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=_KM_K, iters=_KM_ITERS)
    ev = emb.select("vec_id", as_double_array("embedding").alias("v"))
    probe_rows = (
        _lloyd_assign_probes(ev, cents, probes=_SEMDEDUP_PROBES)
        .where(F.col("vec_id") < _RECALL_COHORT)
        .select("vec_id", F.explode("probes").alias("pc"))
    )
    x = probe_rows.select(
        F.col("pc").alias("pc_x"), F.col("vec_id").alias("id_x")
    )
    y = probe_rows.select(
        F.col("pc").alias("pc_y"), F.col("vec_id").alias("id_y")
    )
    visible = (
        x.join(y, (x["pc_x"] == y["pc_y"]) & (x["id_x"] < y["id_y"]))
        .select("id_x", "id_y")
        .distinct()
        .count()
    )
    n = probe_rows.select("vec_id").distinct().count()
    baseline = visible / (n * (n - 1) / 2)
    assert mp["pair_recall"] > baseline, (mp["pair_recall"], baseline)


def test_semdedup_multiprobe_survivors_subset(spark, sf_dir):
    """Structural containment: probe 1 IS the single-probe argmin, so
    every single-probe-visible pair is multi-probe-visible — the
    multi-probe drop set can only grow, survivors_mp ⊆ survivors_sp,
    and each surviving vector keeps its bit-identical primary
    cluster."""
    from fabric_claims_spark.queries import load_all_queries

    reg = load_all_queries()
    base = reg["embeddings_semantic_dedup"].fn(spark, sf_dir)
    mp = reg["embeddings_semantic_dedup_mp"].fn(spark, sf_dir)
    # every mp survivor row (id AND primary cluster) exists in base
    assert mp.join(base, ["vec_id", "cluster"], "left_anti").count() == 0
    # and the boundary pairs make containment strict on this corpus
    assert mp.count() < base.count()


def test_rrf_indexed_matches_scan_top10(spark, sf_dir):
    """The served-retrieval RRF (inverted-index candidate generation
    + forward-index exact scoring, VERDICT r6 item 7) must return the
    exact rows the full-scan twin returns — candidate generation with
    the rarest-terms fallback reaches every doc in the true lexical
    top-100, and the scoring arithmetic is shared, so the fused
    top-10 is identical (also holds at sf0.01/sf0.1: the tri-scale
    oracle hashes match docs_hybrid_rrf_search's)."""
    from fabric_claims_spark.queries import load_all_queries

    reg = load_all_queries()
    scan = [
        tuple(r)
        for r in reg["docs_hybrid_rrf_search"].fn(spark, sf_dir).collect()
    ]
    idx = [
        tuple(r)
        for r in reg["docs_hybrid_rrf_indexed"].fn(spark, sf_dir).collect()
    ]
    assert idx == scan and len(idx) == 10


def test_multimodal_resize_stub_shapes(docs):
    from fabric_claims_spark.extensions.multimodal import resize_images

    media = wrap_as_media(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
        "image",
    )
    out = resize_images(media, width=32, height=16).collect()
    assert len(out) == media.count()
    for r in out:
        assert r["width"] == 32 and r["height"] == 16 and r["resized"]
        assert len(bytes(r["payload"])) == 3 * 32 * 16  # canonical raster size
    # identical payloads → identical resized bytes (docs 0 and 4)
    by_id = {r["media_id"]: bytes(r["payload"]) for r in out}
    assert by_id[0] == by_id[4]


def test_multimodal_features_feed_ann_suite(docs):
    """extract_features output is a real embedding column: unit-norm,
    content-deterministic (identical payloads → identical vectors),
    and consumable by the similarity operators (kmeans) unchanged."""
    from fabric_claims_spark.extensions.multimodal import extract_features
    from fabric_claims_spark.extensions.similarity import kmeans_assignments

    media = wrap_as_media(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
        "image",
    )
    feats = extract_features(media, dim=8)
    rows = {r["media_id"]: list(r["embedding"]) for r in feats.collect()}
    assert all(len(v) == 8 for v in rows.values())
    for v in rows.values():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-5  # unit norm
    assert rows[0] == rows[4]  # identical content → identical features
    asg = kmeans_assignments(
        feats.withColumnRenamed("media_id", "vec_id"), k=2, iters=2
    )
    assert asg.count() == len(rows)


# ---------------------------------------------------------------------------
# Misra–Gries heavy hitters (extensions/sketches.py)


def test_heavy_hitters_exact_on_skewed_fixture(spark):
    from fabric_claims_spark.extensions.sketches import heavy_hitters_2pass

    # 60% 'a', 25% 'b', 10% 'c', 5 singletons — support 0.2 keeps a+b
    rows = (
        [("a",)] * 60 + [("b",)] * 25 + [("c",)] * 10
        + [(x,) for x in "vwxyz"]
    )
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = {
        r["k"]: (r["exact_count"], r["share"])
        for r in heavy_hitters_2pass(df, "k", support=0.2).collect()
    }
    assert got == {"a": (60, 0.6), "b": (25, 0.25)}


def test_misra_gries_recall_guarantee(spark):
    """Every key with global frequency > n/(k+1) must survive pass 1
    regardless of partitioning — the pigeonhole recall property the
    exact second pass relies on."""
    import random

    from fabric_claims_spark.extensions.sketches import (
        misra_gries_candidates,
    )

    rng = random.Random(5)
    # heavy keys hidden in a long tail of near-unique noise
    pool = ["hot1"] * 300 + ["hot2"] * 200 + [
        f"noise{rng.randrange(10_000)}" for _ in range(500)
    ]
    rng.shuffle(pool)
    for parts in (1, 7, 32):
        df = spark.createDataFrame([(x,) for x in pool], "k string")
        cand = {
            r["k"]
            for r in misra_gries_candidates(
                df.repartition(parts), "k", k=9
            ).collect()
        }
        # n/(k+1) = 100: both hot keys clear it
        assert {"hot1", "hot2"} <= cand


def test_heavy_hitters_rejects_bad_support(spark):
    from fabric_claims_spark.extensions.sketches import heavy_hitters_2pass

    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        heavy_hitters_2pass(df, "k", support=0.0)
    with pytest.raises(ValueError):
        heavy_hitters_2pass(df, "k", support=1.5)


# ---------------------------------------------------------------------------
# PQ codebook training (queries/similarity.train_pq_codebook)


def test_trained_pq_codebook_never_increases_distortion(spark):
    """Per-subspace Lloyd training starts FROM the seeded codebook
    (vec_id 1..K subvectors), so by Lloyd monotonicity total
    quantization distortion must not increase — deterministic, no
    tolerance needed. Candidate containment is reported for evidence."""
    from pyspark.sql import functions as F

    from fabric_claims_spark.extensions.similarity import as_double_array
    from fabric_claims_spark.queries.similarity import (
        pq_adc_frame,
        train_pq_codebook,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", "label", as_double_array("embedding").alias("v"))
    )
    M, K, SD = 4, 16, 16

    def distortion(codebook):
        sv = emb.where(F.col("vec_id") > K).select(
            "vec_id",
            F.explode(F.array(*[F.lit(m) for m in range(M)])).alias("m"),
            "v",
        ).select(
            "vec_id", "m", F.slice("v", F.col("m") * SD + 1, SD).alias("sub")
        )
        d2 = F.aggregate(
            F.zip_with("sub", "cw", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        per = (
            sv.join(F.broadcast(codebook), "m")
            .groupBy("vec_id", "m")
            .agg(F.min(d2).alias("best"))
        )
        return per.agg(F.sum("best")).collect()[0][0]

    seeded = (
        emb.where(F.col("vec_id").between(1, K))
        .select(
            F.col("vec_id").alias("j"),
            F.explode(F.array(*[F.lit(m) for m in range(M)])).alias("m"),
            "v",
        )
        .select("j", "m", F.slice("v", F.col("m") * SD + 1, SD).alias("cw"))
    )
    trained = train_pq_codebook(emb, M=M, K=K, SD=SD, iters=2)
    d_seed, d_train = distortion(seeded), distortion(trained)
    assert d_train <= d_seed + 1e-6, (d_train, d_seed)

    # evidence: candidate containment of the exact-dot top-10 in the
    # ADC top-100 under each codebook (not asserted — data-dependent)
    def containment(cb):
        fr = pq_adc_frame(emb, M=M, K=K, SD=SD, codebook=cb)
        top = [r["vec_id"] for r in fr.orderBy(F.col("adc_dot").desc(), "vec_id").limit(100).collect()]
        exact = [r["vec_id"] for r in fr.orderBy(F.col("exact_dot").desc(), "vec_id").limit(10).collect()]
        return len(set(top) & set(exact)) / 10
    print("pq containment seeded:", containment(seeded), "trained:", containment(trained))


def test_bfs_distances_levels_and_unreachable(spark):
    """Frontier BFS: exact hop counts on a path graph, unreachable
    components absent, max_depth honored."""
    from fabric_claims_spark.extensions.graph import bfs_distances

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        "src string, dst string",
    )
    got = {
        r["node"]: r["dist"] for r in bfs_distances(e, "a").collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}
    capped = {
        r["node"]: r["dist"]
        for r in bfs_distances(e, "a", max_depth=2).collect()
    }
    assert capped == {"a": 0, "b": 1, "c": 2}


def test_holt_winters_constant_series_is_exact(spark):
    """A constant series must yield level=c, trend=0, season=0 and
    every fitted/forecast value exactly c (dyadic params keep the
    arithmetic exact in binary64) — catches sign/indexing errors in
    the whole recurrence at once."""
    from fabric_claims_spark.operators.forecast import holt_winters_additive

    rows = [("a", t, 5.0) for t in range(10)]
    df = spark.createDataFrame(rows, "k string, t long, y double")
    out = holt_winters_additive(
        df, "k", "t", "y", alpha=0.5, beta=0.25, gamma=0.25,
        period=2, horizon=4,
    ).collect()
    assert len(out) == 10 + 4
    for r in out:
        assert r["level"] == 5.0 and r["trend"] == 0.0
        assert r["season"] == 0.0
        if r["yhat"] is not None:
            assert r["yhat"] == 5.0
    assert sum(1 for r in out if r["is_forecast"]) == 4
    assert sum(1 for r in out if r["yhat"] is None) == 2  # burn-in = m


def test_holt_winters_matches_hand_computed_steps(spark):
    """Literal hand-derived values for the classic additive recurrence
    (m=2, alpha=beta=gamma=1/2, x=[1,3,3,5] — all state dyadic, so
    comparisons are exact, no tolerance):

      init: level=2, trend=(4-2)/2=1, season=[-1, 1]
      t=2: yhat=2+1-1=2;   level=.5*(3+1)+.5*3=3.5;
           trend=.5*1.5+.5*1=1.25;  s2=.5*(3-3.5)+.5*(-1)=-0.75
      t=3: yhat=3.5+1.25+1=5.75; level=.5*(5-1)+.5*4.75=4.375;
           trend=.5*.875+.5*1.25=1.0625; s3=.5*.625+.5*1=0.8125
      h=1: 4.375+1.0625-0.75=4.6875
      h=2: 4.375+2.125+0.8125=7.3125"""
    from fabric_claims_spark.operators.forecast import holt_winters_additive

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 3.0), ("a", 2, 3.0), ("a", 3, 5.0)],
        "k string, t long, y double",
    )
    got = {
        r["step_index"]: r
        for r in holt_winters_additive(
            df, "k", "t", "y", alpha=0.5, beta=0.5, gamma=0.5,
            period=2, horizon=2,
        ).collect()
    }
    assert got[2]["yhat"] == 2.0
    assert got[2]["level"] == 3.5
    assert got[2]["trend"] == 1.25
    assert got[2]["season"] == -0.75
    assert got[3]["yhat"] == 5.75
    assert got[3]["level"] == 4.375
    assert got[3]["trend"] == 1.0625
    assert got[3]["season"] == 0.8125
    assert got[4]["is_forecast"] and got[4]["yhat"] == 4.6875
    assert got[5]["is_forecast"] and got[5]["yhat"] == 7.3125


def test_holt_winters_short_series_dropped_and_alternating_tracked(spark):
    """Keys with fewer than two full seasons emit nothing (half-born
    state would be noise dressed as signal); an exactly-alternating
    seasonal series is tracked perfectly (yhat == y after burn-in,
    forecasts continue the alternation)."""
    from fabric_claims_spark.operators.forecast import holt_winters_additive

    rows = [("alt", t, 1.0 if t % 2 == 0 else 3.0) for t in range(8)]
    rows += [("short", t, 9.0) for t in range(3)]  # < 2*period
    df = spark.createDataFrame(rows, "k string, t long, y double")
    out = holt_winters_additive(
        df, "k", "t", "y", alpha=0.5, beta=0.25, gamma=0.25,
        period=2, horizon=2,
    ).collect()
    assert {r["k"] for r in out} == {"alt"}
    for r in out:
        if r["yhat"] is not None and not r["is_forecast"]:
            assert r["yhat"] == r["y"]
    fc = sorted(
        (r["step_index"], r["yhat"]) for r in out if r["is_forecast"]
    )
    assert fc == [(8, 1.0), (9, 3.0)]


def test_minhash_recall_gate_on_fixture(spark, sf_dir):
    """The registry gate (docs_minhash_recall): on the driver corpus
    every true >= 0.5-Jaccard pair is ALSO a >= 0.8 pair, and the
    banded pipeline must catch all of them (theory at s >= 0.8:
    1-(1-s^4)^16 >= 0.9998) — any miss is a pipeline bug, not LSH
    variance."""
    from fabric_claims_spark.queries import load_all_queries

    row = load_all_queries()["docs_minhash_recall"].fn(spark, sf_dir).first()
    assert row["true_pairs"] > 0
    assert row["hi_true"] == row["true_pairs"]  # fixture fact
    assert row["recall_band"] == 1.0
    assert row["recall_e2e"] == 1.0
    assert row["recall_hi"] == 1.0


def test_minhash_band_recall_matches_theory_at_boundary(spark):
    """The fixture never exercises the LSH S-curve's boundary region,
    so this synthesizes it: 64 doc pairs at shingle-Jaccard ~0.55
    (shared 300-char core + 119-char unique tails -> |∩|≈296,
    |∪|≈534) and 20 pairs at ~0.9. Ground truth is computed in plain
    Python sets (an engine-independent oracle). Banding theory:
    P(candidate) = 1-(1-s^4)^16 per pair — ≈0.78 at the boundary,
    ≈0.9998 at 0.9. The measured candidate recall (md5 hasher —
    deterministic for fixed texts) must sit near the theoretical mean
    for the boundary cohort and be EXACT for the high cohort."""
    import random

    from fabric_claims_spark.extensions.dedup import (
        band,
        bucket_pairs,
        minhash_band_keys,
        minhash_signatures,
    )

    rnd = random.Random(8)

    def rand_text(n):
        return "".join(
            rnd.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n)
        )

    rows = []
    for p in range(64):  # boundary cohort: ids 0..127
        core = rand_text(300)
        rows.append((2 * p, core + rand_text(119)))
        rows.append((2 * p + 1, core + rand_text(119)))
    for p in range(20):  # high cohort: ids 1000..1039
        core = rand_text(300)
        rows.append((1000 + 2 * p, core + rand_text(15)))
        rows.append((1000 + 2 * p + 1, core + rand_text(15)))

    def shingles(t):
        return {t[i : i + 5] for i in range(len(t) - 4)}

    true_s = {}
    for (ia, ta), (ib, tb) in zip(rows[::2], rows[1::2]):
        sa, sb = shingles(ta), shingles(tb)
        true_s[(ia, ib)] = len(sa & sb) / len(sa | sb)
    # the construction actually produced the intended regimes
    boundary = {k: s for k, s in true_s.items() if k[0] < 128}
    high = {k: s for k, s in true_s.items() if k[0] >= 1000}
    assert all(0.45 <= s <= 0.65 for s in boundary.values())
    assert all(s >= 0.85 for s in high.values())

    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", hasher="md5")
    mins = sigs.select("doc", *[F.col("sig")[i].alias(f"h{i}") for i in range(64)])
    banded = band(mins, "doc", minhash_band_keys(64, 16, "md5"))
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in bucket_pairs(banded, "doc").collect()
    }

    def theory(s):
        return 1.0 - (1.0 - s**4) ** 16

    got_boundary = sum(1 for k in boundary if k in cand) / len(boundary)
    want_boundary = sum(theory(s) for s in boundary.values()) / len(boundary)
    assert abs(got_boundary - want_boundary) <= 0.18, (
        got_boundary,
        want_boundary,
    )
    # at s >= 0.85 a banding miss has probability < 4e-3 per pair;
    # all 20 must be candidates
    assert all(k in cand for k in high)


def test_dsir_weights_rank_target_slice_higher(spark, sf_dir):
    """DSIR sanity: documents drawn from the designated target
    sources must average a higher per-token importance weight than
    the rest — the estimator is literally 'how target-like are this
    doc's hashed-ngram counts', so the target slice scoring at or
    below the rest would mean the llr table is wired backwards.
    (Measured: -0.0032 vs -0.0084 per token at sf0.001.)"""
    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.queries.text_docs import _DSIR_TARGET
    from fabric_claims_spark.sources.parquet import load_table

    w = load_all_queries()["docs_dsir_weights"].fn(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_tok = (F.col("log_weight") / F.col("n_toks")).alias("pt")
    rows = (
        w.join(d, "doc_id")
        .select(F.col("source").isin(*_DSIR_TARGET).alias("t"), per_tok)
        .groupBy("t")
        .agg(F.avg("pt").alias("m"))
        .collect()
    )
    m = {r["t"]: r["m"] for r in rows}
    assert m[True] > m[False], m


def test_dsir_resample_is_importance_biased_topk_plan(spark, sf_dir):
    """Gumbel-top-k resampling: (a) the sample must be importance-
    biased — its mean log-weight exceeds the corpus mean (holds at
    every fixture scale: -0.21 vs -0.40 at sf0.001) — and (b) the
    selection must compile to TakeOrderedAndProject (per-partition
    heaps), never a global Sort over the weight table."""
    from fabric_claims_spark.queries import load_all_queries

    reg = load_all_queries()
    samp = reg["docs_dsir_resample"].fn(spark, sf_dir)
    w = reg["docs_dsir_weights"].fn(spark, sf_dir)
    m_s = samp.agg(F.avg("log_weight")).first()[0]
    m_c = w.agg(F.avg("log_weight")).first()[0]
    assert m_s > m_c, (m_s, m_c)

    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_dsir_pipeline_composition_invariants(spark, sf_dir):
    """The end-to-end selection loop (VERDICT r8 item 5): the final
    mixture must (a) be drawn entirely from the Gumbel-top-K pool —
    the composition adds mixing, never new candidates; (b) respect
    the Hamilton quotas exactly where the pool can fill them and
    return the honest shortfall where it cannot; (c) fill each
    source in descending sample-key order (the resample's importance
    order survives the mixing stage)."""
    from fabric_claims_spark.operators.dsir import dsir_gumbel_key
    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.queries.text_docs import (
        _PIPE_BPS,
        _PIPE_N,
        _PIPE_POOL_K,
    )

    reg = load_all_queries()
    got = reg["docs_dsir_pipeline"].fn(spark, sf_dir).collect()
    w = reg["docs_dsir_weights"].fn(spark, sf_dir)
    keyed = w.select(
        "doc_id",
        dsir_gumbel_key(F.col("log_weight"), F.col("doc_id")).alias("sk"),
    )
    pool = keyed.orderBy(F.col("sk").desc(), "doc_id").limit(_PIPE_POOL_K)
    pool_ids = {r["doc_id"] for r in pool.collect()}
    assert {r["doc_id"] for r in got} <= pool_ids

    allocs = {s: b for s, b in _PIPE_BPS}
    by_src: dict[str, list] = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) <= set(allocs)
    assert sum({s: rs[0]["alloc"] for s, rs in by_src.items()}.values()) <= (
        _PIPE_N * len(by_src)
    )
    from fabric_claims_spark.sources.parquet import load_table

    src_of = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .collect()
    }
    pool_by_src: dict[str, int] = {}
    for did in pool_ids:
        s = src_of[did]
        if s in allocs:
            pool_by_src[s] = pool_by_src.get(s, 0) + 1
    for s, rs in by_src.items():
        alloc = rs[0]["alloc"]
        # quota filled where the pool allows, honest shortfall where not
        assert len(rs) == min(alloc, pool_by_src.get(s, 0)), s
        assert sorted(r["mix_rank"] for r in rs) == list(
            range(1, len(rs) + 1)
        )


def test_simhash_recall_gate_contract(spark, sf_dir):
    """The SimHash gate must read out the operator's real contract:
    near-exact rewrites (cosine >= 0.99 over token-count vectors) are
    mostly caught at hamming <= 3/60, paraphrase distance
    (0.90-0.99) is mostly NOT — that band is MinHash's job. Measured
    0.905 vs 0.222 at sf0.001 (SCALING.md r8)."""
    from fabric_claims_spark.queries import load_all_queries

    row = load_all_queries()["docs_simhash_recall"].fn(spark, sf_dir).first()
    assert row["hi_true"] > 0 and row["mid_true"] > 0
    assert row["recall_hi"] >= 0.5, row["recall_hi"]
    assert row["recall_hi"] > row["recall_mid"]


def test_simhash_exact_copies_always_caught(spark):
    """Identical texts have identical sketches (hamming 0), and the
    pigeonhole banding cannot lose a hamming-0 pair — exact copies
    are a recall GUARANTEE of this operator, not a probability."""
    from fabric_claims_spark.extensions.dedup import (
        simhash60_md5,
        simhash_band_pairs,
    )

    rows = []
    for p in range(20):
        text = f"copy family {p} " + " ".join(
            f"tok{p}_{j}" for j in range(30)
        )
        rows.append((2 * p, text))
        rows.append((2 * p + 1, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = simhash60_md5(df, "doc_id", "text")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_band_pairs(sh).select("doc_a", "doc_b").collect()
    }
    assert all((2 * p, 2 * p + 1) in got for p in range(20))


def test_kmeans_sampled_training_deterministic_and_useful(spark, sf_dir):
    """sample_cap trains on a deterministic md5-hash sample (the
    k-regime fix measured in SCALING.md r8): (a) the same corpus
    yields the SAME centroids on any partitioning — the sample is a
    function of the data, not the scheduler; (b) the sampled-trained
    clustering still beats the seeded start on full-corpus SSE, so
    the cap trades training cost, not the Lloyd improvement."""
    from fabric_claims_spark.extensions.similarity import (
        _lloyd_assign,
        as_double_array,
        kmeans_centroids,
    )
    from fabric_claims_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = kmeans_centroids(emb, k=4, iters=2, sample_cap=200)
    b = kmeans_centroids(emb.repartition(7), k=4, iters=2, sample_cap=200)
    assert a == b

    ev = emb.select("vec_id", as_double_array("embedding").alias("v"))

    def sse(cents):
        return _lloyd_assign(ev, cents).agg(F.avg("d")).first()[0]

    seeded = kmeans_centroids(emb, k=4, iters=0)
    assert sse(a) < sse(seeded)


def test_kmeans_sample_cap_never_underfills_k(spark, sf_dir):
    """Guard rails on sampled training (ADVICE r8 + r9): a cap whose
    hash sample would yield fewer than k rows WIDENS the cut (never
    silently returns < k centroids, never silently abandons sampling
    for full-corpus cost) and warns on every widening so callers can
    see the training cost grew; a corpus genuinely smaller than k
    raises instead of shipping a truncated model."""
    import warnings

    import pytest

    from fabric_claims_spark.extensions.similarity import kmeans_centroids
    from fabric_claims_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # cap < k: the ~cap-row hash sample is deterministically < k rows
    # (measured: cap=4 cuts exactly 4 of the 500 sf0.001 vectors); the
    # widening path must still train, return exactly k centroids, and
    # WARN about the degradation (ADVICE r9: no silent cost growth)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        cents = kmeans_centroids(emb, k=8, iters=1, sample_cap=4)
    assert len(cents) == 8
    assert len({cid for cid, _ in cents}) == 8
    assert any(
        "widening the cut" in str(w.message)
        or "FULL corpus" in str(w.message)
        for w in caught
    )
    # an ample cap must sample cleanly with NO degradation warning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        kmeans_centroids(emb, k=4, iters=0, sample_cap=200)
    assert not [w for w in caught if "kmeans_centroids" in str(w.message)]

    tiny = emb.limit(3)
    with pytest.raises(ValueError, match="cannot seed k=8"):
        kmeans_centroids(tiny, k=8, iters=1)


def test_mixture_sample_allocation_invariants(spark, sf_dir):
    """Hamilton-exact mixture draw: per-source counts equal the
    allocation, the allocations sum to exactly N (no float drift,
    no lost seats), and the weight ORDER is respected (src0's 35%
    gets the most seats, src3's 15% the fewest)."""
    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.queries.analytics import _MIX_N

    got = load_all_queries()["docs_mixture_sample"].fn(spark, sf_dir)
    rows = got.collect()
    assert len(rows) == _MIX_N
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    allocs = {s: rs[0]["alloc"] for s, rs in by_src.items()}
    assert sum(allocs.values()) == _MIX_N
    for s, rs in by_src.items():
        assert len(rs) == allocs[s]
        assert sorted(r["sample_rank"] for r in rs) == list(
            range(1, allocs[s] + 1)
        )
    assert allocs["src0"] > allocs["src1"] > allocs["src2"] > allocs["src3"]


def test_decontaminated_train_is_clean_subset(spark, sf_dir):
    """The decontamination transform: output ⊆ the train split, and
    NO surviving document shares a word 8-gram with any held-out
    document (the defining property, re-verified independently of
    the query's own join)."""
    from fabric_claims_spark.extensions.dedup import md5_long, word_shingles
    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.queries.text_docs import _DECON_GRAM
    from fabric_claims_spark.sources.parquet import load_table

    got = load_all_queries()["docs_decontaminated_train"].fn(spark, sf_dir)
    kept = {r["doc_id"] for r in got.collect()}

    d = load_table(spark, sf_dir, "documents")
    bucket = (md5_long(F.col("doc_id").cast("string")) % 100).cast("long")
    split = d.select("doc_id", "text", bucket.alias("bucket"))
    train = {r["doc_id"] for r in split.where("bucket < 80").collect()}
    assert kept <= train and kept

    grams = split.where(F.length(F.trim("text")) > 0).select(
        "doc_id",
        "bucket",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), _DECON_GRAM))
        ).alias("gram"),
    )
    eval_grams = {
        r["gram"] for r in grams.where("bucket >= 80").collect()
    }
    survivors = grams.where(
        F.col("doc_id").isin(*list(kept)) if kept else F.lit(False)
    ).collect()
    assert all(r["gram"] not in eval_grams for r in survivors)


def test_dedup_rate_by_source_consistent_with_cascade(spark, sf_dir):
    """The per-source rollup must re-aggregate to exactly the
    cascade's global funnel counts (same survivor sets by
    construction — this pins the rollup wiring)."""
    from fabric_claims_spark.queries import load_all_queries

    reg = load_all_queries()
    per_src = reg["docs_dedup_rate_by_source"].fn(spark, sf_dir).collect()
    cascade = {
        r["stage"]: r["docs_remaining"]
        for r in reg["docs_dedup_cascade"].fn(spark, sf_dir).collect()
    }
    assert sum(r["docs"] for r in per_src) == cascade["0_raw"]
    assert sum(r["exact_survivors"] for r in per_src) == cascade["1_exact"]
    assert (
        sum(r["neardup_survivors"] for r in per_src)
        == cascade["2_near_dup"]
    )
    for r in per_src:
        assert 0.0 <= r["kept_rate"] <= 1.0


def test_dsir_source_bps_allocation_and_ordering(spark, sf_dir):
    """DoReMi-flavored mixture weights: bps sum to exactly 10000 (no
    float drift, no lost seats), every source gets a non-negative
    allocation, and the TARGET slice (whose docs score higher by the
    DSIR construction) is allocated at least as much per source on
    average as the non-target rest."""
    from fabric_claims_spark.operators.dsir import DSIR_TARGET
    from fabric_claims_spark.queries import load_all_queries

    rows = (
        load_all_queries()["docs_dsir_source_bps"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert sum(r["bps"] for r in rows) == 10000
    assert all(r["bps"] >= 0 for r in rows)
    tgt = [r["bps"] for r in rows if r["source"] in DSIR_TARGET]
    rest = [r["bps"] for r in rows if r["source"] not in DSIR_TARGET]
    assert tgt and rest
    assert sum(tgt) / len(tgt) >= sum(rest) / len(rest)


def test_hyperplane_recall_gate_contract(spark, sf_dir):
    """The sign-LSH gate must read out the operator's real contract.
    The fixture cohort has no cos>=0.9 pairs, so the LOW band carries
    the fixture evidence: recall there must be small (sign-LSH at
    4x8 bits is a high-similarity filter — theory ~6-15% at
    cos 0.3-0.5) but non-degenerate. The HIGH band the fixture lacks
    is synthesized: near-parallel vector pairs (cos~0.95, per-band
    catch 1-(1-0.899^8)^4 ~ 0.89) must be mostly caught by the same
    production banding."""
    from fabric_claims_spark.extensions.similarity import (
        hyperplane_band_sigs,
    )
    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.queries.similarity import _hp_planes

    row = (
        load_all_queries()["embeddings_hyperplane_recall"]
        .fn(spark, sf_dir)
        .first()
    )
    assert row["lo_true"] > 0
    assert 0.0 < row["recall_lo"] < 0.4, row["recall_lo"]

    # synthesized high-similarity pairs: v and v + small perturbation
    import math
    import random

    rng = random.Random(7)
    rows = []
    dim = 64
    for p in range(40):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nv = math.sqrt(sum(x * x for x in v))
        # unit(v) + N(0, 0.04) per axis: noise norm ≈ 0.04·√64 = 0.32,
        # so cosine ≈ 1/√(1+0.32²) ≈ 0.95
        eps = [x / nv + rng.gauss(0.0, 1.0) * 0.04 for x in v]
        rows.append((2 * p, [x / nv for x in v]))
        rows.append((2 * p + 1, eps))
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    e = vecs.select("vec_id", F.col("embedding").alias("ev"))
    banded = e.select(
        "vec_id",
        F.posexplode(
            F.array(*hyperplane_band_sigs(F.col("ev"), _hp_planes()))
        ).alias("band_idx", "sig"),
    )
    a = banded.select(F.col("vec_id").alias("va"), "band_idx", "sig")
    b = banded.select(F.col("vec_id").alias("vb"), "band_idx", "sig")
    got = {
        (r["va"], r["vb"])
        for r in a.join(b, ["band_idx", "sig"])
        .where(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
        .collect()
    }
    caught = sum((2 * p, 2 * p + 1) in got for p in range(40))
    assert caught >= 24, caught  # >=60% of ~cos 0.95 pairs
