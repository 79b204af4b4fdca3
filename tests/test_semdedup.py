"""SemDeDup (operators/similarity.semantic_dedup — Abbas et al.,
arXiv:2303.09540): hand-verifiable keeper semantics, the documented
cross-cell blindness trade, both centroid modes, and partitioning
invariance."""

from pyspark.sql import functions as F

from jochre3_ocr_spark.operators.similarity import (
    kmeans_centroids_sampled,
    semantic_dedup,
)


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_semdedup_keeps_min_id_per_group(spark):
    """Two near-identical vectors in one cell -> one semantic group,
    min id kept; the distinct vector survives as a singleton."""
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),   # centroid 0
            (1, [0.0, 1.0, 0.0, 0.0]),   # centroid 1
            (5, [0.9, 0.1, 0.0, 0.0]),   # near 6, cell 0
            (6, [0.9, 0.11, 0.0, 0.0]),  # near 5, cell 0
            (7, [0.0, 0.9, 0.3, 0.0]),   # alone in cell 1
        ],
    )
    # eps between cos(5,6)=0.9999 and cos(0,5)=0.9939 so only the
    # near-identical pair forms a group (vec 0 is also a corpus member)
    out = {r.vec_id: r for r in semantic_dedup(df, eps=0.995, n_cells=2).collect()}
    assert len(out) == 5  # full domain
    assert out[5].keep and not out[6].keep
    assert out[5].cluster_id == 5 and out[6].cluster_id == 5
    assert out[7].keep and out[7].cluster_id == 7
    # the centroids themselves are their own groups here
    assert out[0].keep and out[1].keep


def test_semdedup_transitive_chain_one_keeper(spark):
    """a~b and b~c but not a~c: the transitive closure still forms ONE
    group (the reason CC is required, not pairwise filtering)."""
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0]),
            (3, [0.98, 0.20, 0.0]),
            (4, [0.90, 0.43, 0.0]),   # ~3, less ~0... chain via cos
            (5, [0.80, 0.60, 0.0]),
        ],
    )
    out = semantic_dedup(df, eps=0.97, n_cells=1).collect()
    kept = [r.vec_id for r in out if r.keep]
    clusters = {r.cluster_id for r in out}
    # one chain component + possibly singletons; every cluster has
    # exactly one keeper and keepers are the cluster ids
    assert sorted(kept) == sorted(clusters)
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert sum(1 for m in members if m.keep) == 1
        assert min(m.vec_id for m in members) == cid


def test_semdedup_cross_cell_pairs_invisible(spark):
    """Near-identical vectors assigned to DIFFERENT cells are not
    compared — the paper's disclosed recall trade for |cell|^2 cost."""
    # centroids at 0° and 45°; the near pair sits at 20° and 25° — to
    # each other cos5° ≈ 0.996 > eps, to everything in their own cells
    # cos20° ≈ 0.94 < eps
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0]),             # centroid 0
            (1, [0.7071, 0.7071]),       # centroid 1
            (2, [0.9397, 0.3420]),       # 20° → cell 0
            (3, [0.9063, 0.4226]),       # 25° → cell 1, cos(2,3)=0.996
        ],
    )
    out = {r.vec_id: r for r in semantic_dedup(df, eps=0.99, n_cells=2).collect()}
    assert out[2].cell != out[3].cell
    # cos(2,3) > eps yet both kept: the pair never formed
    assert out[2].keep and out[3].keep


def test_semdedup_kmeans_centroid_mode(spark):
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (5, [0.9, 0.1, 0.0, 0.0]),
            (6, [0.9, 0.11, 0.0, 0.0]),
        ],
    )
    cents = kmeans_centroids_sampled(df, k=2, iters=3, sample_size=4)
    out = {r.vec_id: r for r in semantic_dedup(df, eps=0.995, centroids=cents).collect()}
    assert out[5].keep and not out[6].keep


def test_semdedup_partitioning_invariance(spark):
    rows = [
        (i, [1.0 + 0.001 * i, 0.01 * (i % 7), 0.02 * (i % 3)])
        for i in range(40)
    ]
    df = _vecs(spark, rows)
    a = sorted(tuple(r) for r in semantic_dedup(df, eps=0.999, n_cells=4).collect())
    b = sorted(
        tuple(r)
        for r in semantic_dedup(
            df.repartition(9, "vec_id"), eps=0.999, n_cells=4
        ).collect()
    )
    assert a == b


def test_semdedup_pandas_backend_multi_chunk(spark, monkeypatch):
    """Row-chunked gram loop: a byte budget that forces chunk=1 in
    EVERY cell (the maximal-chunking boundary) must not change pairs
    (the _overlap_map_sweep chunk-boundary lesson — make chunking
    testable and test it)."""
    from collections import Counter

    from jochre3_ocr_spark.operators import similarity as S

    rows = [
        (i, [1.0 + 0.001 * i, 0.01 * (i % 7), 0.02 * (i % 3)])
        for i in range(40)
    ]
    df = _vecs(spark, rows)
    # reference under the default budget: one chunk per cell
    want = sorted(
        tuple(r) for r in semantic_dedup(df, eps=0.999, n_cells=4).collect()
    )
    assert max(Counter(r[2] for r in want).values()) > 1

    monkeypatch.setattr(S, "_GRAM_BUDGET_BYTES", 8)
    got = sorted(
        tuple(r) for r in semantic_dedup(df, eps=0.999, n_cells=4).collect()
    )
    assert got == want
