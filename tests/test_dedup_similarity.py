"""Dedup family + similarity search, incl. recall vs exact baseline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from logparser_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_dedup,
)
from logparser_spark.operators.similarity import (
    ann_corpus_neighbors,
    ann_lsh_topk,
    cosine_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """documents + exact copies of 20 docs under shifted ids."""
    dups = docs.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return docs.unionByName(dups).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_finds_injected_copies(spark, docs_with_dups):
    d = exact_dedup(docs_with_dups, "doc_id", "text")
    dups = d.filter("n_copies > 1")
    assert dups.count() == 20
    # keeper is always the original (min id)
    assert dups.filter("keeper_id >= 1000000").count() == 0
    assert d.agg(F.sum("n_copies")).first()[0] == docs_with_dups.count()


def test_minhash_signature_shape(spark, docs):
    sig = minhash_signatures(docs.limit(50), "doc_id", "text", num_hashes=8)
    assert sig.count() == 50 * 8
    assert sig.groupBy("doc_id").count().filter("count <> 8").count() == 0


def test_lsh_finds_exact_dups_and_jaccard_verifies(spark, docs_with_dups):
    cands = lsh_candidate_pairs(
        docs_with_dups, "doc_id", "text", num_hashes=16, rows_per_band=4
    ).cache()
    # identical docs agree on every band → all 20 injected pairs present
    injected = {(i, i + 1_000_000) for i in range(20)}
    got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert injected <= got
    verified = jaccard_pairs(
        docs_with_dups, "doc_id", "text", threshold=0.99, candidates=cands
    )
    vgot = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert injected <= vgot
    # jaccard of an exact dup is exactly 1.0
    assert verified.filter("jaccard > 1.0 OR jaccard < 0").count() == 0


def test_simhash_collides_identical_docs(spark, docs_with_dups):
    pairs = simhash_dedup(docs_with_dups.filter("doc_id < 20 OR doc_id >= 1000000"),
                          "doc_id", "text").cache()
    rows = pairs.collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert {(i, i + 1_000_000) for i in range(20)} <= got
    # exact copies have identical fingerprints
    assert all(r["hamming"] == 0 for r in rows if r["id_b"] - r["id_a"] == 1_000_000)


def test_simhash_not_degenerate(spark, docs_with_dups):
    """r1 regression: unigram simhash emitted ~47 % of all pairs. With
    shingle fingerprints + hamming verification the pair count must be a
    tiny fraction of all-pairs."""
    n = docs_with_dups.count()
    pairs = simhash_dedup(docs_with_dups, "doc_id", "text").count()
    assert pairs < 0.02 * n * (n - 1) / 2


def test_simhash_bucket_guard_drops_hot_buckets(spark, docs_with_dups):
    # a max_bucket_size of 1 kills every bucket with >1 doc → no pairs
    assert (
        simhash_dedup(docs_with_dups, "doc_id", "text", max_bucket_size=1).count() == 0
    )


def test_jaccard_candidates_filter_before_self_join(spark, docs_with_dups):
    """Scale invariant: with candidates given, the shingle self-join must
    sit ABOVE the candidate semi-join in the plan (quadratic work bounded
    by candidate docs, not the corpus)."""
    cands = lsh_candidate_pairs(docs_with_dups, "doc_id", "text")
    j = jaccard_pairs(docs_with_dups, "doc_id", "text", 0.99, candidates=cands)
    plan = j._jdf.queryExecution().optimizedPlan().toString()
    pair_agg = plan.find("Aggregate [id_a")
    assert pair_agg != -1 and "LeftSemi" in plan
    # plan text prints root-first, so "deeper in text" = "executed earlier":
    # the doc-level semi-join must appear BELOW the pair aggregation
    assert plan.rfind("LeftSemi") > pair_agg
    got = {(r["id_a"], r["id_b"]) for r in j.collect()}
    assert {(i, i + 1_000_000) for i in range(20)} <= got


def test_jaccard_shingle_df_cap_drops_boilerplate(spark):
    rows = [(i, "common boilerplate prefix shared by every doc " + w)
            for i, w in enumerate(["alpha beta gamma", "delta epsilon zeta",
                                   "eta theta iota", "kappa lambda mu"])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = jaccard_pairs(df, "doc_id", "text", threshold=0.3)
    capped = jaccard_pairs(df, "doc_id", "text", threshold=0.3, max_shingle_df=2)
    # every pair shares the long boilerplate prefix → high uncapped jaccard
    assert uncapped.count() == 6
    # with shared shingles (df=4) dropped, only doc-unique shingles remain
    # → no intersections at all
    assert capped.count() == 0


def test_cosine_topk_matches_numpy(spark, emb):
    got = cosine_topk(emb, emb.filter("vec_id < 3"), k=4).toPandas()
    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    for q in range(3):
        sims = mat @ mat[q] / (norms * norms[q])
        order = sorted(
            [(s, i) for s, i in zip(sims, ids) if i != q], key=lambda x: (-x[0], x[1])
        )[:4]
        want = [i for _, i in order]
        have = got[got.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        assert have == want


def test_ann_corpus_neighbors_recall_and_no_cartesian(spark, emb):
    """Corpus-vs-corpus ANN: every vector is a query, nothing broadcast by
    construction, no cross join anywhere in the plan; recall vs the exact
    all-pairs baseline on the full 500-vector corpus."""
    approx = ann_corpus_neighbors(emb, n_planes=4, n_tables=8, k=3)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    approx_pdf = approx.toPandas()
    exact = cosine_topk(emb, emb, k=3).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    approx_set = set(map(tuple, approx_pdf[["query_id", "neighbor_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    # measured 0.70 at (4 planes, 8 tables) on the 500-vector fixture;
    # deterministic given the md5 hyperplanes, bound left slack-proof
    assert recall >= 0.5
    # a bucket-mate's rank-1 result is its true nearest same-bucket vector:
    # ranks are dense and start at 1 per query
    r1 = approx_pdf.groupby("query_id")["rank"].min()
    assert (r1 == 1).all()


def test_ann_lsh_recall_against_exact(spark, emb):
    queries = emb.filter("vec_id < 20")
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = ann_lsh_topk(emb, queries, n_planes=4, k=5).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    approx_set = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 planes → 16 buckets over 500 vecs; union-of-true-topk recall is
    # probabilistic but deterministic given the md5-derived planes
    assert recall >= 0.3
    # approximate results are always real cosine scores from the corpus
    assert ((approx["sim"] <= 1.000001) & (approx["sim"] >= -1.000001)).all()


# -- duplicate-cluster resolution --------------------------------------------


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a bigint, id_b bigint")


def test_duplicate_clusters_components_and_canonical_labels(spark):
    from logparser_spark.operators.dedup import duplicate_clusters

    # chain {1,2,3}, pair {10,11}, clique {20,21,22} given in mixed order
    pairs = _pairs(
        spark,
        [(2, 3), (1, 2), (10, 11), (21, 20), (22, 20), (21, 22)],
    )
    got = {
        (r["member_id"], r["cluster_id"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_duplicate_clusters_long_chain_needs_iterations(spark):
    from logparser_spark.operators.dedup import duplicate_clusters

    # a path 0-1-2-...-9: diameter 9 forces several propagation rounds
    pairs = _pairs(spark, [(i, i + 1) for i in range(9)])
    got = duplicate_clusters(pairs)
    assert got.filter(F.col("cluster_id") != 0).count() == 0
    assert got.count() == 10


def test_duplicate_clusters_empty_pairs(spark):
    from logparser_spark.operators.dedup import duplicate_clusters

    assert duplicate_clusters(_pairs(spark, [])).count() == 0


def test_dedup_keep_canonical_resolves_corpus(spark, docs_with_dups):
    from logparser_spark.operators.dedup import (
        dedup_keep_canonical,
        duplicate_clusters,
    )
    from logparser_spark.entry_queries import (
        N_MINHASHES,
        ROWS_PER_BAND,
        SHINGLE_N,
    )

    cands = lsh_candidate_pairs(
        docs_with_dups, "doc_id", "text", N_MINHASHES, ROWS_PER_BAND, SHINGLE_N
    )
    verified = jaccard_pairs(
        docs_with_dups, "doc_id", "text", 0.99, SHINGLE_N, candidates=cands
    )
    clusters = duplicate_clusters(verified)
    kept = dedup_keep_canonical(docs_with_dups, clusters, "doc_id")
    n_docs = docs_with_dups.count()
    n_losers = clusters.filter("member_id <> cluster_id").count()
    assert kept.count() == n_docs - n_losers
    # the keeper of every cluster survives, every loser is gone
    keepers = clusters.filter("member_id = cluster_id").select(
        F.col("member_id").alias("doc_id")
    )
    assert keepers.join(kept, "doc_id", "left_anti").count() == 0
    losers = clusters.filter("member_id <> cluster_id").select(
        F.col("member_id").alias("doc_id")
    )
    assert kept.join(losers, "doc_id", "left_semi").count() == 0


# -- IVF ANN ------------------------------------------------------------------


def test_ivf_recall_against_exact(spark, emb):
    from logparser_spark.operators.similarity import ann_ivf_topk

    queries = emb.filter("vec_id < 20")
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = ann_ivf_topk(emb, queries, n_centroids=8, n_probe=3, k=5).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    approx_set = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    # 3 of 8 cells probed over near-isotropic synthetic embeddings:
    # the floor is the probed-mass fraction, clustering adds on top
    assert recall >= 0.3
    # every query got a full k unless its probed cells were too small
    assert (approx.groupby("query_id")["rank"].max() <= 5).all()


def test_ivf_probe_more_cells_monotone_recall(spark, emb):
    from logparser_spark.operators.similarity import ann_ivf_topk

    queries = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, queries, k=5).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].values))

    def recall(n_probe):
        a = ann_ivf_topk(emb, queries, n_centroids=8, n_probe=n_probe, k=5).toPandas()
        s = set(map(tuple, a[["query_id", "neighbor_id"]].values))
        return len(exact_set & s) / len(exact_set)

    # probing every cell IS the exact search (all candidates scored)
    assert recall(8) == 1.0
    assert recall(4) <= recall(8)


def test_ivf_centroids_refinement_changes_and_drops_empty(spark, emb):
    from logparser_spark.operators.similarity import ivf_centroids

    c0 = ivf_centroids(emb, n_centroids=8, iters=0).toPandas()
    c1 = ivf_centroids(emb, n_centroids=8, iters=1).toPandas()
    assert len(c0) == 8
    assert len(c1) <= 8  # empty cells drop out
    # refined centroids are means, not corpus vectors: components differ
    v0 = dict(zip(c0["centroid_id"], c0["cvec"]))
    v1 = dict(zip(c1["centroid_id"], c1["cvec"]))
    assert any(list(v0[c]) != list(v1[c]) for c in v1)


# -- r5: two-phase (large-star/small-star) connected components ---------------


def test_two_phase_handles_chain_where_label_prop_raises(spark):
    """Adversarial path graph with diameter > max_iters: min-label
    propagation must fail LOUDLY, the star strategy must converge in
    O(log² n) rounds and label the whole chain with its minimum —
    checked against the exact recursive-CTE oracle."""
    import duckdb
    import pytest

    from logparser_spark.operators.dedup import (
        duplicate_clusters,
        duplicate_clusters_sql,
    )

    rows = [(i, i + 1) for i in range(200)]  # path 0-1-…-200, diameter 200
    pairs = _pairs(spark, rows)
    with pytest.raises(RuntimeError, match="max_iters"):
        duplicate_clusters(pairs, max_iters=25).count()
    got = {
        (r["member_id"], r["cluster_id"])
        for r in duplicate_clusters(
            pairs, max_iters=25, strategy="two_phase"
        ).collect()
    }
    vals = ", ".join(f"({a}, {b})" for a, b in rows)
    want = {
        tuple(r)
        for r in duckdb.sql(
            duplicate_clusters_sql(
                f"SELECT * FROM (VALUES {vals}) p(id_a, id_b)", "member_id"
            )
        ).fetchall()
    }
    assert got == want
    assert got == {(i, 0) for i in range(201)}


def test_two_phase_equals_label_prop_on_random_graphs(spark):
    """Property: both strategies resolve identical clusters on mixed
    random graphs (cliques + chains + singleton self-pairs)."""
    import random

    from logparser_spark.operators.dedup import duplicate_clusters

    rng = random.Random(1234)
    for trial in range(4):
        n = rng.randint(2, 60)
        rows = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(1, 80))
        ]
        pairs = _pairs(spark, rows)
        a = {
            (r["member_id"], r["cluster_id"])
            for r in duplicate_clusters(pairs, max_iters=80).collect()
        }
        b = {
            (r["member_id"], r["cluster_id"])
            for r in duplicate_clusters(
                pairs, strategy="two_phase"
            ).collect()
        }
        assert a == b, f"trial {trial}: strategies disagree"


def test_two_phase_empty_and_selfpair_edges(spark):
    from logparser_spark.operators.dedup import duplicate_clusters

    assert (
        duplicate_clusters(_pairs(spark, []), strategy="two_phase").count() == 0
    )
    got = {
        (r["member_id"], r["cluster_id"])
        for r in duplicate_clusters(
            _pairs(spark, [(5, 5), (7, 8)]), strategy="two_phase"
        ).collect()
    }
    assert got == {(5, 5), (7, 7), (8, 7)}


def test_incremental_dedup_admits_only_novel_docs(spark):
    """New batch vs canonical corpus: exact copies of corpus docs are
    rejected, genuinely new docs admitted, in-batch twins resolve to one
    keeper — and the corpus itself is never self-paired (its internal
    near-dups stay untouched)."""
    from logparser_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "pack my box with five dozen liquor jugs right now"),
            # corpus-internal near-dups: must NOT affect admission
            (3, "sphinx of black quartz judge my vow said the king"),
            (4, "sphinx of black quartz judge my vow said the king"),
        ],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog tonight"),  # dup of 1
            (102, "completely novel payload about spark adaptive shuffles"),
            (103, "twin content gamma delta epsilon zeta eta theta iota"),
            (104, "twin content gamma delta epsilon zeta eta theta iota"),
        ],
        "doc_id bigint, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in incremental_dedup(new, corpus, threshold=0.9).collect()
    )
    assert got == [102, 103]


def test_incremental_dedup_transitive_via_batch(spark):
    """A new doc that matches another new doc which matches the corpus
    is rejected too (cluster contains a corpus member)."""
    from logparser_spark.operators.dedup import incremental_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(201, base), (202, base), (203, "unrelated fresh text about nothing shared here at all")],
        "doc_id bigint, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in incremental_dedup(new, corpus, threshold=0.9).collect()
    )
    assert got == [203]
