"""Similarity search over an embedding column (array<float>) —
first-class library API. ``__spark_entry__.queries()`` runs these
operators and checks them against independent DuckDB ``oracle_sql()``
twins.

* brute-force cosine top-k — the exact baseline: posexplode both sides,
  join on position, aggregate dot/norms (all JVM; at scale, the
  candidate side is the big table and the query side broadcasts)
* IVF top-k — the scale path: coarse-quantize every vector to its
  nearest centroid, probe only the query's cell (here centroids =
  the first K vectors; production swaps in k-means centroids)
* cosine near-duplicate pairs within a blocking key
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _exploded(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("pos", "val")
    ).select(out_id, "pos", F.col("val").cast("double").alias("v"))


def _cosines(q: DataFrame, c: DataFrame, qid: str, cid: str) -> DataFrame:
    return (
        q.join(c, "pos")
        .groupBy(qid, cid)
        .agg(
            (
                F.sum(q["v"] * c["v"])
                / (F.sqrt(F.sum(q["v"] * q["v"])) * F.sqrt(F.sum(c["v"] * c["v"])))
            ).alias("cos")
        )
    )


def cosine_topk(
    df: DataFrame,
    query_filter: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for the rows matching ``query_filter``.
    Returns (qid, cid, rank)."""
    from pyspark.sql.window import Window

    q = _exploded(df.filter(query_filter), id_col, vec_col, "qid").alias("q")
    c = _exploded(df, id_col, vec_col, "cid").alias("c")
    cos = _cosines(q, c, "qid", "cid").filter("qid <> cid")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank")
    )


def ivf_topk(
    df: DataFrame,
    query_filter: str,
    k: int = 3,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: assign every vector to its nearest of the first
    ``n_cells`` vectors (deterministic centroids), search only within the
    query's cell. Returns (qid, cid, rank)."""
    from pyspark.sql.window import Window

    e = _exploded(df, id_col, vec_col, "vid").alias("e")
    cent = _exploded(df.filter(f"{id_col} < {n_cells}"), id_col, vec_col, "cell").alias("cent")
    cell_cos = _cosines(e, cent, "vid", "cell")
    w0 = Window.partitionBy("vid").orderBy(F.desc("cos"), F.asc("cell"))
    assign = (
        cell_cos.withColumn("rn", F.row_number().over(w0))
        .filter("rn = 1")
        .select("vid", "cell")
    )

    # Prune BEFORE scoring: attach the cell to each exploded side and make
    # the cosine join key (pos, cell), so only same-cell pairs are ever
    # aggregated — the probe cost is |cell| not |corpus| per query.
    aq = assign.alias("aq")
    ac = assign.alias("ac")
    q = (
        _exploded(df.filter(query_filter), id_col, vec_col, "qid")
        .join(aq, F.col("qid") == F.col("aq.vid"))
        .select("qid", "pos", "v", F.col("aq.cell").alias("cell"))
        .alias("q")
    )
    c = (
        _exploded(df, id_col, vec_col, "cid")
        .join(ac, F.col("cid") == F.col("ac.vid"))
        .select("cid", "pos", F.col("v").alias("cv"), F.col("ac.cell").alias("ccell"))
        .alias("c")
    )
    same_cell = (
        q.join(
            c,
            (F.col("q.pos") == F.col("c.pos"))
            & (F.col("q.cell") == F.col("c.ccell")),
        )
        .groupBy("qid", "cid")
        .agg(
            (
                F.sum(F.col("q.v") * F.col("c.cv"))
                / (
                    F.sqrt(F.sum(F.col("q.v") * F.col("q.v")))
                    * F.sqrt(F.sum(F.col("c.cv") * F.col("c.cv")))
                )
            ).alias("cos")
        )
        .filter("qid <> cid")
        .select("qid", "cid", "cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        same_cell.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs within a blocking key. Returns
    (v1, v2, cosine rounded)."""
    e = df.select(
        F.col(id_col).alias("vid"),
        F.col(block_col).alias("blk"),
        F.posexplode(vec_col).alias("pos", "val"),
    ).select("vid", "blk", "pos", F.col("val").cast("double").alias("v"))
    a = e.alias("a")
    b = e.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .groupBy(F.col("a.vid").alias("v1"), F.col("b.vid").alias("v2"))
        .agg(
            (
                F.sum(F.col("a.v") * F.col("b.v"))
                / (
                    F.sqrt(F.sum(F.col("a.v") * F.col("a.v")))
                    * F.sqrt(F.sum(F.col("b.v") * F.col("b.v")))
                )
            ).alias("cos")
        )
    )
    return pair.filter(F.col("cos") > threshold).select(
        "v1", "v2", F.round("cos", 4).alias("cosine")
    )


def _unit_vec(vec_col: str):
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.transform(v, lambda x: x / norm)


def kmeans_centroids_sampled(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Sample-trained spherical k-means — the practical 100 TB quantizer:
    train on a deterministic sample (lowest ``sample_size`` ids, one
    collect), Lloyd's in numpy on the driver, then the caller assigns the
    FULL corpus distributed (assign_cells). Deterministic farthest-first
    init, one Spark job."""
    return [
        list(map(float, row))
        for row in _lloyd(
            _sample_matrix(df, sample_size, id_col, vec_col), k, iters
        )
    ]


def _sample_matrix(df, sample_size: int, id_col: str, vec_col: str):
    """Unit-normalized numpy matrix of the deterministic training
    sample (lowest ``sample_size`` ids) — ONE collect, shared by every
    sampled trainer in a composed call (IVF-PQ trains the coarse
    quantizer and all PQ subspaces from the same sample)."""
    import numpy as np

    rows = (
        df.orderBy(id_col)
        .limit(sample_size)
        .select(_unit_vec(vec_col).alias("v"))
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=np.float64)


# above this many k·d floats, embedding centroids as expression-tree
# literals bloats codegen (VERDICT r2 advisory 3) — switch to a Spark
# broadcast variable + vectorized numpy argmin inside mapInPandas
LITERAL_CENTROID_LIMIT = 16384


def _assign_cells_pandas(
    df: DataFrame,
    centroids: list,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """Large-quantizer assignment path: the centroid matrix travels as a
    Spark broadcast VARIABLE (torrent, off the expression tree) and each
    Arrow batch does one BLAS matmul argmin — same (vid, cell) output
    and first-lowest-index tie-break as the literal path. Codegen stays
    O(1) in k·d. Distances use the |x|²−2x·c+|c|² expansion (one
    n×k matmul instead of an n×k×d intermediate); exact ties on
    synthetic data may round differently from the sequential-sum SQL
    path — both resolve to the lowest cell index, including an EXACT
    distance tie straddling the n_probe boundary (tie rows are detected
    and re-ranked with a full (d, cell) lexsort)."""
    import numpy as np

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )
    n_probe = max(1, n_probe)
    base = df.select(
        F.col(id_col).alias("vid"), _unit_vec(vec_col).alias("v")
    )
    vid_type = base.schema["vid"].dataType.simpleString()

    def run(batches):
        import pandas as pd

        c = bc.value
        c2 = (c * c).sum(axis=1)
        for b in batches:
            if not len(b):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in b["v"]])
            d2 = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ c.T) + c2[None, :]
            if n_probe == 1:
                yield pd.DataFrame(
                    {"vid": b["vid"], "cell": d2.argmin(axis=1).astype("int32")}
                )
            else:
                # O(k) argpartition, then a stable sort of just the
                # n_probe survivors — this path exists precisely for
                # large k, where a full O(k log k) row sort wastes the
                # batch loop; (d, cell) sort keeps the lowest-index
                # tie-break among survivors
                p = min(n_probe, d2.shape[1])
                part = np.argpartition(d2, p - 1, axis=1)[:, :p]
                pd2 = np.take_along_axis(d2, part, axis=1)
                inner = np.lexsort((part, pd2), axis=1)
                order = np.take_along_axis(part, inner, axis=1)
                # argpartition picks arbitrarily on an EXACT tie at the
                # boundary; detect those rows (more than p distances ≤
                # the kept max) and re-rank them with a full (d, cell)
                # lexsort — deterministic lowest-index, identical to the
                # SQL path's ORDER BY d, cell. One cheap O(k) pass; the
                # full sort runs only on tie rows (rare for real
                # embeddings)
                kth = pd2.max(axis=1)
                ties = (d2 <= kth[:, None]).sum(axis=1) > p
                if ties.any():
                    sub = d2[ties]
                    idx = np.broadcast_to(
                        np.arange(sub.shape[1]), sub.shape
                    )
                    order[ties] = np.lexsort((idx, sub), axis=1)[:, :p]
                yield pd.DataFrame(
                    {
                        "vid": b["vid"].to_numpy().repeat(order.shape[1]),
                        "cell": order.ravel().astype("int32"),
                    }
                )

    return base.mapInPandas(run, schema=f"vid {vid_type}, cell int")


def _cent_lit(centroids: list):
    """The centroid matrix as a plan-literal array<array<double>>."""
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )


def _cells_sorted_expr(vcol: str):
    """array<struct(d, cell)> of squared distances against the
    ``_cents`` literal column, sorted lexicographically (d asc, cell
    asc) — THE cell-ranking expression. ONE shared definition: the
    fused pq_encode passthrough and assign_cells must rank cells with
    the bit-identical expression or the IVF-PQ fused path could drift
    from the joined construction on a one-sided edit."""
    return F.array_sort(
        F.expr(
            f"transform(_cents, (c, i) -> struct("
            f"aggregate(zip_with({vcol}, c,"
            f" (a, b) -> (a - b) * (a - b)), 0.0D,"
            f" (acc, x) -> acc + x) AS d, i AS cell))"
        )
    )


def assign_cells(
    df: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """(vid, cell): nearest-centroid assignment against a broadcast
    literal — one narrow JVM pass, no shuffle. ``n_probe > 1`` emits one
    row per (vid, cell) for the n_probe nearest cells (multi-probe:
    queries search several cells; candidates are indexed under one).
    Quantizers above ``LITERAL_CENTROID_LIMIT`` k·d floats route through
    the broadcast-variable + pandas-argmin path instead of expression
    literals (codegen stays bounded)."""
    if centroids and len(centroids) * len(centroids[0]) > LITERAL_CENTROID_LIMIT:
        return _assign_cells_pandas(df, centroids, id_col, vec_col, n_probe)
    # nearest-n_probe as a pure array expression: struct(d, cell) sorts
    # lexicographically, so array_sort + slice IS the window's
    # orderBy(d asc, cell asc) rank filter — same rows, ZERO Exchange
    # (the row_number window shuffled every vector by vid; best-of-few
    # per bounded key as an array expr is the round-5 robots lesson,
    # and it keeps this op legal inside Structured Streaming)
    return (
        df.select(
            F.col(id_col).alias("vid"),
            _unit_vec(vec_col).alias("v"),
        )
        .withColumn("_cents", _cent_lit(centroids))
        .select(
            "vid",
            F.explode(
                F.slice(_cells_sorted_expr("v"), 1, max(1, n_probe))
            ).alias("s"),
        )
        .select("vid", F.col("s.cell").alias("cell"))
    )


def ivf_kmeans_topk(
    df: DataFrame,
    query_filter: str,
    k: int = 3,
    n_cells: int = 8,
    kmeans_iters: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
) -> DataFrame:
    """IVF top-k over k-means cells (the production coarse quantizer;
    ivf_topk's first-K-vectors centroids are the degenerate fallback).
    Same pruned plan: the scoring join carries (pos, cell). Queries
    multi-probe their ``n_probe`` nearest cells (recall knob: probe cost
    scales linearly, still |n_probe·cell| ≪ |corpus|). The quantizer
    trains on a deterministic sample of ``sample_size`` vectors (one
    Spark job)."""
    from pyspark.sql.window import Window

    centroids = kmeans_centroids_sampled(
        df, n_cells, kmeans_iters, sample_size, id_col, vec_col
    )
    assign = assign_cells(df, centroids, id_col, vec_col)
    q_assign = assign_cells(df, centroids, id_col, vec_col, n_probe=n_probe)

    aq = q_assign.alias("aq")
    ac = assign.alias("ac")
    q = (
        _exploded(df.filter(query_filter), id_col, vec_col, "qid")
        .join(aq, F.col("qid") == F.col("aq.vid"))
        .select("qid", "pos", "v", F.col("aq.cell").alias("cell"))
        .alias("q")
    )
    c = (
        _exploded(df, id_col, vec_col, "cid")
        .join(ac, F.col("cid") == F.col("ac.vid"))
        .select("cid", "pos", F.col("v").alias("cv"), F.col("ac.cell").alias("ccell"))
        .alias("c")
    )
    same_cell = (
        q.join(
            c,
            (F.col("q.pos") == F.col("c.pos"))
            & (F.col("q.cell") == F.col("c.ccell")),
        )
        .groupBy("qid", "cid")
        .agg(
            (
                F.sum(F.col("q.v") * F.col("c.cv"))
                / (
                    F.sqrt(F.sum(F.col("q.v") * F.col("q.v")))
                    * F.sqrt(F.sum(F.col("c.cv") * F.col("c.cv")))
                )
            ).alias("cos")
        )
        .filter("qid <> cid")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        same_cell.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank")
    )


def lsh_planes(
    spark,
    n_tables: int = 4,
    n_bits: int = 8,
    dim: int = 64,
    salt: str = "lsh",
) -> DataFrame:
    """Random-hyperplane table (j, pos, w) derived portably from md5.

    Weight = two md5 hex digits of ``salt:j:pos`` mapped to the odd
    integers [-255, 255] — symmetric around zero (so each plane is an
    unbiased sign hash) and EXACTLY reproducible in any engine with md5
    and substr, which is what lets the DuckDB oracle rebuild the same
    planes without shipping 2 048 float literals.  Integral weights also
    keep the only float in the pipeline the dot product itself.
    """
    hexpos = "instr('0123456789abcdef', substr(__h, %d, 1)) - 1"
    return (
        spark.range(n_tables * n_bits)
        .select(
            F.col("id").cast("int").alias("j"),
            F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("pos"),
        )
        .withColumn(
            "__h",
            F.md5(
                F.concat_ws(":", F.lit(salt), F.col("j").cast("string"),
                            F.col("pos").cast("string"))
            ),
        )
        .selectExpr(
            "j",
            "pos",
            f"CAST((({hexpos % 1}) * 16 + ({hexpos % 2})) * 2 - 255 AS DOUBLE) AS w",
        )
    )


def lsh_topk(
    df: DataFrame,
    query_filter: str,
    k: int = 3,
    n_tables: int = 4,
    n_bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "lsh",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH — the
    second scale path beside IVF (Charikar 2002 sign-LSH; Indyk-Motwani
    multi-table amplification).  Returns (qid, cid, rank).

    Plan shape: the plane table (n_tables*n_bits*dim rows) broadcasts;
    signatures are two hash aggregates keyed by vector id (one Exchange,
    reused); the candidate join is an equi-join on (table, bucket) —
    never all-pairs — and only the deduped candidate set is scored
    exactly.  At 100 TB the bucket join shuffles |corpus| signature rows
    (n_tables per vector), not vectors x vectors; hot buckets bound the
    candidate set the same way dedup's LSH caps do and would take the
    same cap if query sets were large.
    """
    from pyspark.sql.window import Window

    planes = F.broadcast(lsh_planes(df.sparkSession, n_tables, n_bits, dim, salt))
    e = _exploded(df, id_col, vec_col, "vid")
    dots = (
        e.join(planes, "pos")
        .groupBy("vid", "j")
        .agg(F.sum(F.col("v") * F.col("w")).alias("dot"))
    )
    sig = (
        dots.groupBy(
            "vid", F.floor(F.col("j") / F.lit(n_bits)).cast("int").alias("t")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("dot") >= 0,
                    F.pow(F.lit(2.0), (F.col("j") % F.lit(n_bits))).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("bucket")
        )
    )
    # The signature table feeds BOTH the query side and the candidate side;
    # without a cut Spark recomputes the two-aggregate pipeline (and its
    # exchanges) once per branch — a full extra pass over the corpus at
    # scale. Lazy localCheckpoint materializes it exactly once (same
    # pattern as dedup's connected-components rounds).
    sig = sig.localCheckpoint(eager=False)
    qsig = sig.join(
        df.filter(query_filter).select(F.col(id_col).alias("vid")), "vid"
    ).select(F.col("vid").alias("qid"), "t", "bucket")
    cand = (
        qsig.join(sig.select(F.col("vid").alias("cid"), "t", "bucket"),
                  ["t", "bucket"])
        .filter("qid <> cid")
        .select("qid", "cid")
        .distinct()
    )
    q = _exploded(df.filter(query_filter), id_col, vec_col, "qid")
    c = _exploded(df, id_col, vec_col, "cid")
    pair = (
        cand.join(q, "qid")
        .join(c, ["cid", "pos"])
        .groupBy("qid", "cid")
        .agg(
            (
                F.sum(q["v"] * c["v"])
                / (F.sqrt(F.sum(q["v"] * q["v"])) * F.sqrt(F.sum(c["v"] * c["v"])))
            ).alias("cos")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        pair.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank")
    )


# ------------------------------------------------------------------ PQ
def _lloyd(xs, k: int, iters: int):
    """Deterministic Lloyd's over a numpy array (farthest-first init,
    argmin/argmax first-index ties) — the shared driver-side trainer of
    kmeans_centroids_sampled, reused per PQ subspace.

    Once every remaining point is distance-0 from a chosen centroid,
    all further farthest-first picks are copies of ``xs[0]`` — pad them
    in one shot instead of looping (the exact PQ regime sets
    k ≥ n, and a 4096-iteration python loop of tiny numpy calls was
    the dominant cost of the sf0.1 ann_pq query); the returned SET of
    centroids (hence every assignment/reconstruction) is unchanged."""
    import numpy as np

    if k >= len(xs):
        pad = np.repeat(xs[:1], k - len(xs), axis=0)
        return np.concatenate([xs, pad]) if k > len(xs) else xs.copy()
    cents = [xs[0]]
    d2 = ((xs - cents[0]) ** 2).sum(axis=1)
    while len(cents) < k:
        mx = int(np.argmax(d2))
        if d2[mx] == 0.0:
            cents.extend([xs[0]] * (k - len(cents)))
            break
        cents.append(xs[mx])
        d2 = np.minimum(d2, ((xs - cents[-1]) ** 2).sum(axis=1))
    c = np.stack(cents)
    for _ in range(iters):
        dists = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = dists.argmin(axis=1)
        new_c = c.copy()
        for j in range(k):
            members = xs[assign == j]
            if len(members):
                new_c[j] = members.mean(axis=0)
        if np.array_equal(new_c, c):
            break
        c = new_c
    return c


def pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample=None,
) -> list:
    """Product-quantization codebooks (Jégou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    unit-normalized vector into ``m`` subspaces and train an
    independent ``ksub``-codeword k-means in each — ONE deterministic
    sample collect (lowest ids), all training driver-side numpy.
    Returns ``list[m]`` of ``ksub × (dim/m)`` codeword lists.
    ``sample`` short-circuits the collect with a precomputed
    ``_sample_matrix`` (IVF-PQ shares one sample across trainers).

    With ``ksub`` ≥ the number of distinct subvectors the quantizer is
    EXACT (every subvector is its own codeword) — the regime the
    oracle uses to prove the encode→ADC machinery equals brute force;
    production runs ksub ≪ n for the memory win."""
    x = (
        _sample_matrix(df, sample_size, id_col, vec_col)
        if sample is None
        else sample
    )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [
            list(map(float, row))
            for row in _lloyd(x[:, s * dsub:(s + 1) * dsub], ksub, iters)
        ]
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_centroids: list | None = None,
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-codeword ids — the 100 TB
    representation: ``m`` small ints (+ one reconstruction norm) per
    vector instead of ``dim`` floats (32× at dim=64/m=8/float32).  One
    mapInPandas pass; codebooks travel as a Spark broadcast, never as
    plan literals.  Returns (vid, codes array<int>, cnorm double) where
    ``cnorm`` = ‖reconstruction‖ (the ADC cosine denominator).

    ``cell_centroids`` (IVF-PQ fusion): the coarse-quantizer cell is
    computed as the SAME JVM array expression assign_cells uses
    (:func:`_cells_sorted_expr` — no numpy distance ties) in the source
    projection and rides THROUGH the Python stage as a passthrough
    column — the output gains ``cell int`` and the corpus-sized
    codes ⋈ assignment join (two Exchanges + sorts of the whole code
    table at scale) disappears.  Centroids must fit the expression
    literal limit (callers above ``LITERAL_CENTROID_LIMIT`` keep the
    join form)."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    books = np.array(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    bc = spark.sparkContext.broadcast(books)
    m, _, dsub = books.shape
    with_cell = cell_centroids is not None

    def run(batches):
        b = bc.value
        norms2 = (b ** 2).sum(axis=2)  # (m, ksub)
        for pdf in batches:
            vids = pdf["vid"].to_numpy()
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            n = np.sqrt((x ** 2).sum(axis=1, keepdims=True))
            x = x / np.where(n == 0.0, 1.0, n)
            codes = np.empty((len(x), m), dtype=np.int32)
            rec2 = np.zeros(len(x))
            for s in range(m):
                xs = x[:, s * dsub:(s + 1) * dsub]
                # ‖xs−c‖² = ‖xs‖² − 2·xs·c + ‖c‖²; argmin drops ‖xs‖²
                d = norms2[s][None, :] - 2.0 * (xs @ b[s].T)
                codes[:, s] = d.argmin(axis=1)
                rec2 += norms2[s][codes[:, s]]
            out = {
                "vid": vids,
                "codes": list(codes),
                "cnorm": np.sqrt(rec2),
            }
            if with_cell:
                out["cell"] = pdf["cell"].to_numpy()
            yield pd.DataFrame(out)

    # raw vectors cross to Python; the numpy side normalizes (a JVM
    # _unit_vec here would be a second full normalization pass per row)
    from jochre3_ocr_spark.plans.pipeline import _spread_small_input

    # the encode argmin is m·ksub distances per vector — row-cost-bound,
    # so a compact scan (few splits) serializes it; spread first (no-op
    # when the input already has ≥ slots partitions). The cell
    # projection is added ABOVE the spread (it is itself row-cost-bound
    # — k·dim distance lambdas per row; projected below the exchange it
    # would run on the scan's splits, the eval_text_metrics placement
    # lesson)
    src = _spread_small_input(
        df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    )
    schema = "vid long, codes array<int>, cnorm double"
    if with_cell:
        src = (
            src.withColumn("_uv", _unit_vec("v"))
            .withColumn("_cents", _cent_lit(cell_centroids))
            .withColumn(
                "cell",
                F.element_at(_cells_sorted_expr("_uv"), 1)["cell"],
            )
            .drop("_uv", "_cents")
        )
        schema += ", cell int"
    return src.mapInPandas(run, schema=schema)


def pq_adc_topk(
    df: DataFrame,
    query_filter: str,
    k: int = 3,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """PQ asymmetric-distance top-k: queries stay exact vectors, the
    corpus is scanned as codes, and each (query, candidate) score is
    ``m`` lookup-table adds instead of ``dim`` multiplies.

    Plan shape: the corpus crosses the plan ONCE as (vid, m codes,
    cnorm) — the raw embedding column is dropped after the encode pass,
    so the scan that dominates at 100 TB moves 32× fewer bytes; the
    per-query lookup tables (m·ksub doubles each) live on the tiny
    filtered side and BROADCAST to the scorer; scoring is a pure JVM
    ``aggregate`` over the code array.  Returns (qid, cid, rank).

    ``n_cells`` adds the IVF coarse stage on top (faiss's IVFADC):
    candidates are indexed under their nearest of ``n_cells`` sampled
    k-means centroids, queries multi-probe ``n_probe`` cells, and the
    broadcast scoring join keys on the cell — only |n_probe·cell| of
    the code table is ever scored per query.  ``n_probe = n_cells``
    (exhaustive) with lossless codebooks degenerates to brute force —
    the oracle regime."""
    from pyspark.sql.window import Window

    # ONE deterministic sample collect feeds every trainer (PQ
    # subspaces AND, below, the IVF coarse quantizer)
    sample = _sample_matrix(df, sample_size, id_col, vec_col)
    books = pq_codebooks(
        df, m, ksub, iters, sample_size, id_col, vec_col, sample=sample
    )

    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    b = np.array(books, dtype=np.float64)  # (m, ksub, dsub)
    bc = spark.sparkContext.broadcast(b)
    dsub = b.shape[2]

    def luts(batches):
        bb = bc.value
        for pdf in batches:
            out = []
            for vid, v in zip(pdf["vid"], pdf["v"]):
                x = np.asarray(v, dtype=np.float64)
                n = np.sqrt((x ** 2).sum())
                x = x / (n if n else 1.0)
                lut = np.concatenate(
                    [
                        bb[s] @ x[s * dsub:(s + 1) * dsub]
                        for s in range(m)
                    ]
                )
                out.append((vid, list(map(float, lut))))
            yield pd.DataFrame(out, columns=["qid", "lut"])

    q_luts = (
        df.filter(query_filter)
        .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .mapInPandas(luts, schema="qid long, lut array<double>")
    )
    adc = (
        F.expr(
            f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE),"
            f" (acc, s) -> acc + element_at(lut,"
            f" s * {ksub} + element_at(codes, s + 1) + 1))"
        )
        / F.col("cnorm")
    ).alias("cos")
    if n_cells:
        coarse = [
            list(map(float, row)) for row in _lloyd(sample, n_cells, iters)
        ]
        if len(coarse) * len(coarse[0]) <= LITERAL_CENTROID_LIMIT:
            # fused encode+assign: the cell rides through the encode
            # stage as a JVM-computed passthrough column — no
            # corpus-sized vid join (see pq_encode)
            cand = pq_encode(
                df, books, id_col, vec_col, cell_centroids=coarse
            )
        else:
            cand = pq_encode(df, books, id_col, vec_col).join(
                assign_cells(df, coarse, id_col, vec_col), "vid"
            )
        q_cells = assign_cells(
            df.filter(query_filter), coarse, id_col, vec_col,
            n_probe=n_probe,
        ).select(F.col("vid").alias("qid"), "cell")
        probe = q_luts.join(q_cells, "qid")
        scored = (
            cand.join(F.broadcast(probe), "cell")
            .filter("qid <> vid")
            .select("qid", F.col("vid").alias("cid"), adc)
        )
    else:
        scored = (
            pq_encode(df, books, id_col, vec_col)
            .crossJoin(F.broadcast(q_luts))
            .filter("qid <> vid")
            .select("qid", F.col("vid").alias("cid"), adc)
        )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "rank")
    )


# ------------------------------------------------------------ SemDeDup
# per-task byte budget for one gram-chunk buffer: the chunk ROW count
# derives from it (chunk = budget / (8 bytes × |cell|)), so the live
# allocation stays bounded no matter how large or skewed a cell gets —
# a fixed row count would grow 8·rows·|cell| without bound (review r5)
_GRAM_BUDGET_BYTES = 256 * 2**20


def _cell_pairs_pandas(base: DataFrame, assign: DataFrame, eps: float):
    """(v1, v2) above-eps cosine pairs within each cell — the pair
    stage of :func:`semantic_dedup`: one
    applyInPandas per cell, gram matrix in numpy, row-chunked under a
    byte budget so only ``_GRAM_BUDGET_BYTES`` of gram buffer live at
    once; only qualifying pairs are ever emitted."""
    import numpy as np
    import pandas as pd

    # captured into the closure HERE (a module-global lookup would
    # re-import the default on the python worker, silently ignoring a
    # test's monkeypatch — the budget must be forceable)
    budget = _GRAM_BUDGET_BYTES

    def gram(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        ids = pdf["vid"].to_numpy()
        x = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["emb"]]
        )
        n = np.sqrt((x ** 2).sum(axis=1, keepdims=True))
        x = x / np.where(n == 0.0, 1.0, n)
        chunk = max(1, budget // (8 * max(1, len(x))))
        out1, out2 = [], []
        for lo in range(0, len(x), chunk):
            hi = min(lo + chunk, len(x))
            g = x[lo:hi] @ x.T  # (chunk, n)
            rows, cols = np.nonzero(g > eps)
            keep = ids[lo + rows] < ids[cols]  # i<j, drops self
            out1.append(ids[lo + rows][keep])
            out2.append(ids[cols][keep])
        return pd.DataFrame(
            {"v1": np.concatenate(out1), "v2": np.concatenate(out2)}
        )

    return (
        base.join(assign, "vid")
        .groupBy("cell")
        .applyInPandas(gram, schema="v1 long, v2 long")
    )


def semantic_dedup(
    df: DataFrame,
    eps: float = 0.7,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list | None = None,
) -> DataFrame:
    """Semantic deduplication (Abbas et al., "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication",
    arXiv:2303.09540): cluster embeddings, compare pairs ONLY within a
    cluster (the paper's trick that turns all-pairs cosine into
    |cell|²-bounded work), connect pairs above ``eps`` into semantic
    groups, keep one representative per group.

    Returns the FULL domain: (vec_id, cell, cluster_id, keep) — keep is
    True for the lowest vec_id of each semantic group and for
    singletons (the deterministic keeper rule shared with
    ``dedup.duplicate_clusters``).

    ``centroids=None`` assigns to the first ``n_cells`` vectors by id
    (deterministic AND SQL-replayable — the configuration the DuckDB
    oracle replays end-to-end, assignment through transitive closure);
    production passes ``kmeans_centroids_sampled`` output.

    100 TB shape: assignment is one bounded-side join (first-K) or
    broadcast argmin (k-means list); pairs form ONLY within a cell;
    components come from :func:`dedup.connected_components`
    (diameter-independent, refuses to lie); the keeper rule is one agg
    over (node, cluster).

    Within-cell pairs come from one applyInPandas per cell that
    computes the gram matrix in numpy with a row-chunked loop
    (|chunk|·|cell| floats live at once) and emits ONLY the above-eps
    pairs; an exploded SQL equi-join would shuffle |cell|²·dim rows and
    does not finish 1M docs (BENCH.md round-5 semantic soak). The
    DuckDB oracle replays that join, so the dedup_semantic row checks
    the gram backend against it. The two agree up to float summation
    order: a pair whose cosine lands within ~1 ulp of ``eps`` could in
    principle cross the threshold in one only — pick ``eps`` with
    margin to the data, as any float-threshold operator requires."""
    from pyspark.sql.window import Window

    from jochre3_ocr_spark.operators.dedup import connected_components

    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("emb"))
    if centroids is None:
        e = _exploded(base, "vid", "emb", "vid").alias("e")
        # id-VALUE filter, not orderBy().limit(): the oracle's cent CTE
        # is `WHERE vec_id < n_cells`, and the two constructions only
        # coincide while ids are 0-contiguous (ivf_topk's convention)
        cent = _exploded(
            base.filter(F.col("vid") < n_cells), "vid", "emb", "cell"
        ).alias("cent")
        w0 = Window.partitionBy("vid").orderBy(F.desc("cos"), F.asc("cell"))
        assign = (
            _cosines(e, cent, "vid", "cell")
            .withColumn("rn", F.row_number().over(w0))
            .filter("rn = 1")
            .select("vid", "cell")
        )
    else:
        assign = assign_cells(base, centroids, "vid", "emb").select(
            "vid", "cell"
        )

    pairs = _cell_pairs_pandas(base, assign, eps)
    comp = connected_components(pairs, left="v1", right="v2").select(
        F.col("doc_id").alias("vid"), "cluster_id"
    )
    return (
        assign.join(comp, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            F.coalesce("cluster_id", F.col("vid")).alias("cluster_id"),
            (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("vid"))
            ).alias("keep"),
        )
    )


def synthesize_embeddings(
    spark,
    n: int,
    dim: int = 16,
    n_groups: int = 10,
    member_every: int = 100,
    noise: float = 0.005,
) -> DataFrame:
    """Deterministic synthetic embedding corpus for macro drives: every
    ``member_every``-th id belongs to one of ``n_groups`` TIGHT
    semantic-duplicate families (base direction + ``noise``-scaled
    jitter, within-family cosine ≥ 0.9999), everything else gets an
    independent pseudo-random direction (16-dim uniform cosines
    concentrate near 0, so cross-pair cosines above ~0.95 are rare).
    Components derive from an xorshift-mixed hash of (id, pos) — fully
    vectorized, partition-independent, resume-stable (the linear-hash
    alignment lesson, ``corpus.adversarial_corpus``)."""
    import numpy as np
    import pandas as pd

    n_g, m_e, nz, d = n_groups, member_every, noise, dim

    def _mix(a: "np.ndarray") -> "np.ndarray":
        x = a.astype(np.uint64)
        x ^= x >> np.uint64(33)
        x *= np.uint64(0xFF51AFD7ED558CCD)
        x ^= x >> np.uint64(33)
        x *= np.uint64(0xC4CEB9FE1A85EC53)
        x ^= x >> np.uint64(33)
        return x

    def _unit_rows(keys: "np.ndarray") -> "np.ndarray":
        # (len(keys), d) uniform [-1, 1] rows from mixed (key, pos)
        grid = keys[:, None] * np.uint64(d) + np.arange(d, dtype=np.uint64)
        u = _mix(grid.astype(np.uint64)).astype(np.float64) / 2.0**64
        return u * 2.0 - 1.0

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            base = _unit_rows(_mix(ids.astype(np.uint64)))
            member = ids % m_e == 0
            g = (ids // m_e) % n_g
            gbase = _unit_rows(
                _mix(np.uint64(0xBEEF) + g.astype(np.uint64))
            )
            jitter = _unit_rows(
                _mix(np.uint64(0xFACE) + ids.astype(np.uint64))
            )
            vecs = np.where(
                member[:, None], gbase + nz * jitter, base
            )
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [row.astype(np.float32) for row in vecs],
                    "label": np.where(member, g, -1).astype(np.int32),
                }
            )

    return spark.range(n).mapInPandas(
        gen, schema="vec_id long, embedding array<float>, label int"
    )
