"""Link-graph operators for web corpora — PageRank over the host
graph as the canonical iterative web-scale computation.

A crawl pipeline ranks hosts/pages to prioritize fetch and to weight
training-data quality (domain authority is a standard corpus-quality
feature next to the text scorers in ``operators/text_metrics.py``).
The reference engine has no graph analog (filesystem-fed OCR,
``Jochre.scala:186-211``); this sits next to ``operators/urls.py``
(host extraction) in the web ingestion stack.

Determinism contract: ranks are computed in INTEGER arithmetic —
ranks are BIGINT "units" (``scale`` units = 1.0), every division is
integer division (Spark ``DIV`` ≡ DuckDB ``//`` on non-negative
values), and integer addition is order-independent — so a fixed
number of iterations produces BIT-IDENTICAL ranks on any engine and
any partitioning.  Floating-point PageRank cannot make that promise
(summation order changes the last bits), which is why the driver
oracle for this family can replay all three iterations in SQL.

100 TB posture: each iteration is the standard Pregel-on-DataFrames
shape — one shuffle join (edges ⋈ ranks on src) + one keyed
aggregation (sum by dst), both map-side combinable; edges and ranks
are pre-partitioned on their join keys ONCE so every round reuses the
same hash partitioning instead of re-shuffling the (static) edge
table.  Hot dst keys (hub hosts) are absorbed by partial aggregation
— a hub's incoming shares combine map-side exactly like any hot agg
key.  Overflow budget: with ``scale=10**9`` the total mass is
``n_nodes × 10^9``; BIGINT holds the 85× intermediate up to ~10^8
nodes — shrink ``scale`` (or rank per shard) beyond that, documented
here rather than discovered in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "synthesize_link_graph",
    "synthesize_page_graph",
    "synthesize_anchor_edges",
    "anchor_text_topk",
    "pagerank",
]


def synthesize_link_graph(
    df: DataFrame, id_col: str = "doc_id", links_per_doc: int = 3
) -> DataFrame:
    """Deterministic (src_host, dst_host) edges from a documents table
    (test/bench input — production feeds real crawl edges, e.g. from
    ``urls.canonicalize_urls`` hosts + hrefs of ``html_extract``).

    Each document links its source host to ``links_per_doc``
    md5-derived destination hosts.  Destination skew is intentional:
    the first hex char is ``least`` of two md5 digits, biasing toward
    '0'-prefixed hosts, so in-degrees are hub-skewed like a real web
    graph (uniform digits would rank every host equally and the test
    would prove nothing).  Both twins synthesize byte-identical edges
    in their own engine.
    """
    sid = F.col(id_col).cast("string")
    src = F.concat(F.lit("h"), F.substring(F.md5(F.concat(F.lit("s:"), sid)), 1, 2))
    edges = []
    for k in range(links_per_doc):
        h = F.md5(F.concat(F.lit(f"d{k}:"), sid))
        d1 = F.substring(h, 1, 1)
        d2 = F.substring(h, 2, 1)
        dst = F.concat(F.lit("h"), F.least(d1, d2), F.substring(h, 3, 1))
        edges.append(F.struct(src.alias("src"), dst.alias("dst")))
    return df.select(
        F.explode(F.array(*edges)).alias("e")
    ).select("e.src", "e.dst")


def synthesize_anchor_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    links_per_doc: int = 3,
) -> DataFrame:
    """Deterministic (src, dst, anchor) link edges: the same host
    topology as :func:`synthesize_link_graph`, each edge carrying an
    anchor text of two adjacent tokens lifted from the linking
    document at an md5-steered position (production reads real
    ``<a>`` text from ``html_extract`` spans).  Docs with fewer than
    two tokens emit no anchored edges."""
    sid = F.col(id_col).cast("string")
    src = F.concat(F.lit("h"), F.substring(F.md5(F.concat(F.lit("s:"), sid)), 1, 2))
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    edges = []
    for k in range(links_per_doc):
        h = F.md5(F.concat(F.lit(f"d{k}:"), sid))
        d1 = F.substring(h, 1, 1)
        d2 = F.substring(h, 2, 1)
        dst = F.concat(F.lit("h"), F.least(d1, d2), F.substring(h, 3, 1))
        idx = F.lit(1) + F.pmod(
            F.ascii(F.substring(h, 4, 1)) * 31 + F.ascii(F.substring(h, 5, 1)),
            F.size(toks) - 1,
        )
        anchor = F.concat_ws(
            " ", F.element_at(toks, idx), F.element_at(toks, idx + 1)
        )
        edges.append(
            F.struct(src.alias("src"), dst.alias("dst"), anchor.alias("anchor"))
        )
    return (
        df.where(F.size(toks) >= 2)
        .select(F.explode(F.array(*edges)).alias("e"))
        .select("e.src", "e.dst", "e.anchor")
    )


def anchor_text_topk(edges: DataFrame, k: int = 3) -> DataFrame:
    """Per-host incoming-anchor summary: the ``k`` most frequent anchor
    texts pointing AT each host, with deterministic ties (count desc,
    anchor asc).  A standard corpus-quality / retrieval signal — what
    the web says a host is about, independent of the host's own text.

    Plan: one partial-aggregated count keyed by (dst, anchor) — hub
    hosts are hot keys absorbed map-side — then a per-host window over
    the already-aggregated (small) count table.  Returns
    (host, anchor, n_links, rnk)."""
    from pyspark.sql import Window

    counts = edges.groupBy(
        F.col("dst").alias("host"), "anchor"
    ).agg(F.count(F.lit(1)).alias("n_links"))
    w = Window.partitionBy("host").orderBy(
        F.desc("n_links"), F.asc("anchor")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("host", "anchor", "n_links", "rnk")
    )


def synthesize_page_graph(
    spark, n_pages: int, out_deg: int = 5, hub_fraction_hex: str = "8"
) -> DataFrame:
    """Deterministic PAGE-level graph that scales to any ``n_pages``
    (the host graph above is bounded at ~256 nodes regardless of doc
    count — fine for oracles, useless for soak-scale runs).

    Two-tier web shape: each of ``n_pages`` pages emits ``out_deg``
    links; a link lands on one of ``isqrt(n_pages)`` hub pages when
    its md5 steering digit is < ``hub_fraction_hex`` (default: half
    the links), else on a uniform page.  Hubs therefore collect
    ``~out_deg·n/(2·sqrt(n))`` in-links — the hot reduce keys a real
    link graph has, absorbed by partial aggregation in
    :func:`pagerank`.  Built from ``spark.range`` + md5, so the same
    (n_pages, out_deg) always yields byte-identical edges.
    """
    n_hubs = max(1, int(n_pages**0.5))
    ids = spark.range(n_pages).select(F.col("id").cast("string").alias("sid"))
    edges = []
    for k in range(out_deg):
        h = F.md5(F.concat(F.lit(f"e{k}:"), F.col("sid")))
        steer = F.substring(h, 16, 1)
        val = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
        dst_id = F.when(
            steer < F.lit(hub_fraction_hex), val % F.lit(n_hubs)
        ).otherwise(val % F.lit(n_pages))
        edges.append(
            F.struct(
                F.concat(F.lit("p"), F.col("sid")).alias("src"),
                F.concat(F.lit("p"), dst_id.cast("string")).alias("dst"),
            )
        )
    return ids.select(F.explode(F.array(*edges)).alias("e")).select(
        "e.src", "e.dst"
    )


#: pagerank driver fast path cap: below this many deduped edges the
#: graph is a fixed-cost problem (≈10 MB of id pairs on the driver);
#: larger graphs run the distributed rounds unchanged.
_PAGERANK_DRIVER_MAX_EDGES = 100_000


def _pagerank_driver(
    edges, iters, damping_num, damping_den, scale
) -> list[tuple]:
    """Exact integer PageRank over a collected (bounded) list of
    (src, dst) edges → (node, rank, out_deg, in_deg) rows —
    bit-identical to the distributed rounds: same dedup/self-loop
    semantics (edges are already deduped), same floors, no float."""
    outdeg: dict = {}
    indeg: dict = {}
    nodes: set = set()
    for s, d in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
        indeg[d] = indeg.get(d, 0) + 1
        nodes.add(s)
        nodes.add(d)
    base = (damping_den - damping_num) * scale // damping_den
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        inc: dict = {}
        for s, d in edges:
            inc[d] = inc.get(d, 0) + rank[s] // outdeg[s]
        rank = {
            n: base + (damping_num * inc.get(n, 0)) // damping_den
            for n in nodes
        }
    return [
        (n, rank[n], outdeg.get(n, 0), indeg.get(n, 0)) for n in nodes
    ]


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**9,
    num_partitions: int | None = None,
) -> DataFrame:
    """Integer-arithmetic PageRank over ``(src, dst)`` edges.

    Semantics (the no-dangling-redistribution variant, standard in
    map-reduce formulations): edges are deduplicated and self-loops
    dropped; every node starts at ``scale`` units; each iteration a
    node with out-degree ``deg`` sends ``rank DIV deg`` units along
    each out-edge, and every node's new rank is
    ``(den-num)·scale DIV den  +  num·(incoming sum) DIV den``.
    Mass lost to dangling nodes and to the integer floors is NOT
    redistributed — the trade for exact cross-engine reproducibility.

    Plan shape: edges are cached and hash-partitioned on ``src`` once;
    each of the ``iters`` rounds is one join + one partial-aggregated
    shuffle on ``dst``.  The rank frame is localCheckpointed per round
    to keep the lineage flat (the connected-components lesson,
    ``dedup.py``).  Returns ``(node, rank, out_deg, in_deg)``.
    """
    from jochre3_ocr_spark.plans.pipeline import _driver_fast_path

    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    if num_partitions:
        e = e.repartition(num_partitions, "src")
    e = e.localCheckpoint(eager=False)
    # small-graph fast path (the CC driver-union-find pattern): the
    # semantics above are pure non-negative integer ops (DIV == Python
    # // for non-negatives), so driver ranks are bit-identical
    t = e.schema["src"].dataType.simpleString()
    fast = _driver_fast_path(
        e,
        _PAGERANK_DRIVER_MAX_EDGES,
        lambda rows: _pagerank_driver(
            rows, iters, damping_num, damping_den, scale
        ),
        f"node {t}, rank bigint, out_deg int, in_deg int",
    )
    if fast is not None:
        return fast
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    base = (damping_den - damping_num) * scale // damping_den
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank DIV out_deg").alias("share"),
            )
        )
        incoming = contrib.groupBy("node").agg(F.sum("share").alias("inc"))
        ranks = nodes.join(incoming, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"({damping_num} * coalesce(inc, 0L)) "
                    f"DIV {damping_den}"
                )
            ).alias("rank"),
        )
        ranks = ranks.localCheckpoint(eager=False)
    return (
        ranks.join(deg.withColumnRenamed("src", "node"), "node", "left")
        .join(indeg, "node", "left")
        .select(
            "node",
            "rank",
            F.coalesce("out_deg", F.lit(0)).cast("int").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("int").alias("in_deg"),
        )
    )
