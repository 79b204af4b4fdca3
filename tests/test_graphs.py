"""Integer-arithmetic PageRank (operators/graphs.py).

Pins the determinism contract (bit-identical ranks under any
partitioning), the exact semantics on a hand-computed graph, the
self-loop/duplicate-edge normalization, and that the synthetic host
graph is genuinely hub-skewed (otherwise the rank test proves
nothing).
"""

import pytest
from pyspark.sql import functions as F

from jochre3_ocr_spark.operators.graphs import (
    pagerank,
    synthesize_link_graph,
    synthesize_page_graph,
)


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id < 150")
        .cache()
    )


def _pagerank_py(edges, iters=3, num=85, den=100, scale=10**9):
    """Independent pure-Python replay of the integer recurrence."""
    e = {(s, d) for s, d in edges if s != d}
    nodes = {s for s, _ in e} | {d for _, d in e}
    deg = {}
    for s, _ in e:
        deg[s] = deg.get(s, 0) + 1
    base = (den - num) * scale // den
    r = {v: scale for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, d in e:
            inc[d] += r[s] // deg[s]
        r = {v: base + num * inc[v] // den for v in nodes}
    return r


class TestPagerank:
    def test_hand_graph_exact(self, spark):
        """4-node graph, ranks checked against an independent Python
        replay of the integer recurrence (and one value by hand)."""
        edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
                 ("d", "c")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.rank for r in pagerank(df, iters=3).collect()}
        assert got == _pagerank_py(edges, iters=3)
        # iteration 1 by hand for 'c': inc = a/2 + b/1 + d/1
        s = 10**9
        inc_c = s // 2 + s + s
        rank_c1 = (15 * s) // 100 + 85 * inc_c // 100
        one = {r.node: r.rank
               for r in pagerank(df, iters=1).collect()}
        assert one["c"] == rank_c1

    def test_self_loops_and_dup_edges_normalized(self, spark):
        """Self-loops are dropped and duplicate edges count once."""
        base = [("a", "b"), ("b", "a")]
        noisy = base + [("a", "a"), ("a", "b"), ("a", "b"), ("b", "b")]
        clean = pagerank(
            spark.createDataFrame(base, "src string, dst string")
        ).collect()
        dirty = pagerank(
            spark.createDataFrame(noisy, "src string, dst string")
        ).collect()
        assert sorted(map(tuple, clean)) == sorted(map(tuple, dirty))

    def test_partitioning_invariance(self, spark, docs):
        """Bit-identical ranks regardless of partitioning — the
        integer-arithmetic promise."""
        g = synthesize_link_graph(docs)
        a = sorted(map(tuple, pagerank(g, iters=3).collect()))
        b = sorted(
            map(tuple, pagerank(g.repartition(13), iters=3,
                                num_partitions=5).collect())
        )
        assert a == b

    def test_dangling_and_source_nodes(self, spark):
        """A node with no out-links still holds rank (base + incoming);
        a node with no in-links decays to base-only."""
        df = spark.createDataFrame(
            [("src_only", "sink")], "src string, dst string"
        )
        got = {r.node: r for r in pagerank(df, iters=2).collect()}
        s, base = 10**9, (15 * 10**9) // 100
        assert got["src_only"].rank == base
        assert got["src_only"].out_deg == 1
        assert got["src_only"].in_deg == 0
        # sink iter1: base + 85%*s; iter2: base + 85%*base (src decayed)
        assert got["sink"].rank == base + 85 * base // 100
        assert got["sink"].out_deg == 0 and got["sink"].in_deg == 1

    def test_synthetic_graph_is_skewed(self, spark, docs):
        """The synthesizer must produce hub-skew: the max in-degree
        host collects several times the median, and ranks spread."""
        g = synthesize_link_graph(docs)
        pr = pagerank(g, iters=3)
        rows = pr.collect()
        in_degs = sorted(r.in_deg for r in rows)
        assert in_degs[-1] >= 3 * max(in_degs[len(in_degs) // 2], 1)
        ranks = [r.rank for r in rows]
        assert max(ranks) > 2 * min(ranks)

    def test_page_graph_scales_and_is_deterministic(self, spark):
        """synthesize_page_graph: node count tracks n_pages (unlike the
        host graph), regeneration is byte-identical, and hubs collect
        far more in-links than the uniform tier."""
        g1 = synthesize_page_graph(spark, 2000, out_deg=4)
        g2 = synthesize_page_graph(spark, 2000, out_deg=4)
        assert g1.count() == 2000 * 4
        assert sorted(map(tuple, g1.collect())) == sorted(
            map(tuple, g2.collect())
        )
        indeg = (
            g1.groupBy("dst").count().orderBy(F.desc("count")).limit(1)
        ).collect()[0]
        # ~half of 8000 links over isqrt(2000)=44 hubs ≈ 90/hub vs ~2
        # for the uniform tier
        assert indeg["count"] > 20
        n_nodes = (
            g1.select(F.col("src").alias("n"))
            .union(g1.select("dst"))
            .distinct()
            .count()
        )
        assert n_nodes > 1500  # scales with n_pages, not bounded at 256

    def test_mass_bound(self, spark, docs):
        """Integer floors only LOSE mass: total rank never exceeds
        n_nodes × scale after any round."""
        g = synthesize_link_graph(docs)
        pr = pagerank(g, iters=3)
        agg = pr.agg(
            F.sum("rank").alias("total"), F.count("*").alias("n")
        ).collect()[0]
        assert agg.total <= agg.n * 10**9


def test_pagerank_driver_fast_path_matches_distributed(spark, monkeypatch):
    """The small-graph driver fast path (round-6, same pattern as the
    CC union-find) must be BIT-identical to the distributed rounds —
    same dedup/self-loop handling, same integer floors — on a seeded
    random graph with hubs, dangling nodes, self-loops and duplicate
    edges, and on a self-loop-only graph (no rows, same schema); and the
    cap gate must fall back to the distributed path."""
    import random

    from jochre3_ocr_spark.operators import graphs as G

    rng = random.Random(11)
    edges = [
        (f"n{rng.randrange(60):02d}", f"n{rng.randrange(60):02d}")
        for _ in range(300)
    ]
    edges += [("n00", "n00"), ("n01", "n01")]          # self-loops
    edges += [("n05", "n07")] * 4                       # duplicates
    edges += [("dangling_src", "sink")]                 # dangling sink
    df = spark.createDataFrame(edges, "src string, dst string")
    loops = spark.createDataFrame([("a", "a"), ("b", "b")], df.schema)

    fast = sorted(tuple(r) for r in G.pagerank(df, iters=3).collect())
    fast_loops = G.pagerank(loops, iters=3)
    monkeypatch.setattr(G, "_PAGERANK_DRIVER_MAX_EDGES", 0)
    dist = sorted(tuple(r) for r in G.pagerank(df, iters=3).collect())
    assert fast == dist
    dist_loops = G.pagerank(loops, iters=3)
    assert fast_loops.collect() == dist_loops.collect() == []
    assert fast_loops.schema.simpleString() == dist_loops.schema.simpleString()
