"""Deduplication operators over a text-document DataFrame — first-class
library API. ``__spark_entry__.queries()`` runs these operators and
checks them against independent DuckDB ``oracle_sql()`` twins.

All operators are pure DataFrame compositions (JVM/codegen end to end —
no Python in the hot path):

* exact / prefix-hash dedup — hash-groupBy, min-keeper
* word-shingle n-gram Jaccard — explode → self-join on shingle →
  count ratio (candidate generation via equality on shingles keeps the
  join selective at scale; AQE handles skewed shingles)
* MinHash signatures — k seeded min-hashes over shingles, banded for
  LSH candidate pairs
* SimHash — per-bit majority over token hashes

Determinism: every hash is md5-based (stable across engines/versions);
no RNG.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

#: smallest signed 64-bit value as SQL text — the two's-complement term of
#: 64-bit simhash signatures (bit 63 contributes -2^63, not +2^63, so the
#: signature always fits a BIGINT in both Spark and DuckDB; Spark cannot
#: parse a bare -9223372036854775808 literal).
_LONG_MIN_SQL = "(CAST(-9223372036854775807 AS BIGINT) - 1)"


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from jochre3_ocr_spark.plans.pipeline import _spread_small_input

    # shingle/hash fan-out cost is per row, but a compact parquet input
    # yields 1-2 scan splits — spread before the explode (no-op when the
    # input already supplies >= slots partitions)
    return _spread_small_input(
        df.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("t"),
        )
    )


def _shingles(toks: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-grams per doc."""
    return toks.filter(F.size("t") >= n).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - n),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(F.col("t"), (i + k + 1)) for k in range(n)]
                    ),
                )
            )
        ).alias("shingle"),
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    prefix: int | None = None,
) -> DataFrame:
    """Groups of identical texts (or identical ``prefix`` chars): one
    keeper (min id) per group. Returns (text_hash, n_docs, keeper)."""
    key = F.col(text_col) if prefix is None else F.substring(text_col, 1, prefix)
    return (
        df.select(
            F.md5(key).alias("text_hash"),
            F.col(id_col).cast("string").alias("doc_id"),
        )
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter("n_docs >= 2")
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least ``min_hits`` distinct word ``n``-grams with any document in the
    ``benchmark`` (eval-set) table. Returns one row per contaminated
    (doc_id, bench_id) pair: (doc_id, bench_id, n_hits) — the standard
    pre-training hygiene pass (the 13-gram-overlap family of filters;
    GPT-3/PaLM-style decontamination is this op with n=8..13).

    Scale shape: the benchmark side is SMALL (an eval suite, thousands
    of docs) — its exploded shingle set broadcasts, so the corpus side
    is one narrow scan + broadcast-hash semi-join + partial-aggregated
    count; no corpus-side self-join and no shuffle of corpus text.
    Shingles are distinct per doc on BOTH sides, so n_hits counts
    distinct shared n-grams exactly.
    """
    doc_sh = _shingles(_tokens(df, id_col, text_col), n)
    bench_sh = _shingles(
        _tokens(benchmark, bench_id_col, bench_text_col), n
    ).withColumnRenamed("doc_id", "bench_id")
    return (
        doc_sh.join(
            F.broadcast(bench_sh), "shingle"
        )
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def decontaminate_jaccard(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Whole-document fuzzy decontamination by exact n-gram Jaccard
    against the benchmark: for every corpus document, the best-matching
    benchmark document and a keep verdict (keep iff best Jaccard <
    ``threshold``).  The graded companion to :func:`decontaminate`
    (any-hit flagging) and ``substring.contamination_stats`` (window
    fraction): PaLM/Llama-style overlap thresholds live here.

    Returns (doc_id, best_bench_id, common, jaccard, keep) over the FULL
    corpus domain; uncontaminated docs have null best_bench_id, jaccard
    0.0, keep true.  Ties on jaccard break to the smaller bench id.

    Scale shape: no MinHash needed — the benchmark side is an eval
    suite, so its distinct-shingle table broadcasts and candidate
    generation is already exact and linear in corpus shingles (MinHash
    banding earns its recall loss only when BOTH sides are corpus-sized,
    which is the self-dedup path above).  Jaccard is a rational of
    exact distinct-shingle counts — no estimate, no float tie risk.
    """
    doc_sh = _shingles(_tokens(df, id_col, text_col), n)
    bench_sh = _shingles(
        _tokens(benchmark, bench_id_col, bench_text_col), n
    ).withColumnRenamed("doc_id", "bench_id")
    doc_n = doc_sh.groupBy("doc_id").agg(F.count("*").alias("na"))
    bench_n = bench_sh.groupBy("bench_id").agg(F.count("*").alias("nb"))
    pairs = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("common"))
        .join(doc_n, "doc_id")
        .join(F.broadcast(bench_n), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            "common",
            F.round(
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard"), F.asc("bench_id")
    )
    best = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        df.select(F.col(id_col).cast("string").alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("bench_id").alias("best_bench_id"),
            F.coalesce("common", F.lit(0)).alias("common"),
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
            (F.coalesce("jaccard", F.lit(0.0)) < threshold).alias("keep"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_common: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs by word-n-gram Jaccard.
    Returns (doc1, doc2, common, jaccard).

    ``max_df``: drop shingles appearing in more than this many documents
    BEFORE the self-join — at 100 TB a stop-phrase shingle is a quadratic
    hot key (df² join rows); capping bounds any key's join fan-out at
    max_df² while denominators |A|,|B| stay exact (standard candidate-
    generation cap; the jaccard of pairs sharing ONLY stop-phrases is
    underestimated, which is the point)."""
    sh = _shingles(_tokens(df, id_col, text_col), n)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        # one side suffices: the self-join is on shingle equality, so a
        # filtered side `a` admits the same pairs as filtering both, with
        # one `rare` aggregation in the plan instead of two
        a = sh.join(rare, "shingle", "left_semi")
    a = a.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        pairs.join(ca, F.col("doc1") == F.col("ca.doc_id"))
        .join(cb, F.col("doc2") == F.col("cb.doc_id"))
        .select(
            "doc1",
            "doc2",
            "common",
            F.round(
                F.col("common") / (F.col("ca.n") + F.col("cb.n") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
    )


def _seed_min_exprs(num_hashes: int) -> list:
    """The per-seed MinHash aggregate expressions of the wide
    single-aggregation form: ``min(md5('<s>:' || shingle)) AS mh<s>``
    for each seed.  ONE shared definition (as :func:`_bit_condition` is
    for SimHash): the ``f"{s}:"`` prefix and the md5-min construction
    are the bit-parity contract with the DuckDB oracles
    (``md5(CAST(s AS VARCHAR) || ':' || shingle)``), so signatures and
    bands must never drift apart on a one-sided edit."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"mh{s}")
        for s in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Per-doc MinHash signature: for each seed s, the lexicographic min
    of md5(s:shingle); the signature is md5 of the ordered min-hashes.
    Returns (doc_id, signature).

    A doc with fewer than ``n`` tokens has no shingle and gets NO row —
    NULL, empty and blank text included.

    Wide single-aggregation form: ONE groupBy(doc_id) with num_hashes
    min buffers instead of groupBy(doc_id, s) + groupBy(doc_id) — the
    map-side partial agg collapses to one row per doc BEFORE the
    shuffle, and a whole Exchange disappears (guide §2.3/§2.4). The
    per-seed md5s are the identical strings the exploded construction
    hashed, and the concat order is seed order — the signature is
    bit-identical (pinned by the ``dedup_minhash_signature`` oracle row,
    whose DuckDB twin keeps the exploded form)."""
    sh = _shingles(_tokens(df, id_col, text_col), n)
    return (
        sh.groupBy("doc_id")
        .agg(*_seed_min_exprs(num_hashes))
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(",", *[F.col(f"mh{s}") for s in range(num_hashes)])
            ).alias("signature"),
        )
    )


def _capped_bucket_pairs(
    bframe: DataFrame,
    bucket_cols: list[str],
    max_bucket: int | None,
    carry: tuple[str, str, str] | None = None,
    tail_link_all_heads: bool = False,
) -> DataFrame:
    """Within-bucket candidate pairs with a hot-bucket guard.

    ``bframe`` has one row per (doc_id, bucket); a bucket is identified by
    ``bucket_cols``. With ``max_bucket=None`` this is the classic
    all-pairs-per-bucket self-join — b² pairs for a bucket of b docs, a
    quadratic blowup through ONE shuffle key when a giant duplicate group
    (boilerplate, templated pages) lands in one bucket. With a cap, docs
    are ranked by doc_id inside the bucket: the first ``max_bucket`` docs
    still produce all pairs, and every doc past the cap produces STAR-LINK
    pairs to the bucket head instead of to every member.

    ``tail_link_all_heads=False`` (MinHash LSH): one link per tail doc to
    the bucket MINIMUM — max_bucket²/2 + (b − max_bucket) pairs. Because
    LSH pairs feed connected components with no further verification,
    within-bucket connectivity — and therefore downstream clustering — is
    preserved EXACTLY under this cap.

    ``tail_link_all_heads=True`` (verified pipelines, e.g. SimHash
    Hamming): each tail doc links to ALL ``max_bucket`` head docs —
    ≤ max_bucket·b pairs, still linear in b. A post-join verify (hamming
    ≤ k) may reject star-links, so the single-anchor form could orphan a
    tail doc whose distance to the one anchor exceeds the threshold even
    though it is close to another member; linking every head gives each
    tail doc max_bucket independent chances to survive verification.
    Residual recall loss only for a tail doc far from ALL heads —
    disclosed in the callers' docstrings (``lsh_bucket_stats`` reports
    what a cap touches).

    ``carry``: optional (source_col, a_alias, b_alias) — a per-doc column
    carried onto both sides of the output, e.g. the simhash signature for
    the Hamming verify.
    """
    eq = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
    lt = F.col("a.doc_id") < F.col("b.doc_id")
    carry_src, a_out, b_out = carry if carry else (None, None, None)

    def _pairs(a, b, extra):
        cond = eq[0]
        for e in eq[1:]:
            cond = cond & e
        cond = cond & extra
        cols = [
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        ]
        if carry_src:
            cols += [
                F.col(f"a.{carry_src}").alias(a_out),
                F.col(f"b.{carry_src}").alias(b_out),
            ]
        return a.join(b, cond).select(cols)

    if max_bucket is None:
        return _pairs(bframe.alias("a"), bframe.alias("b"), lt).distinct()

    # Capped form, single-pass (round 6): the old heads-self-join +
    # anchors⋈tails shape evaluated the WHOLE band subtree four times
    # (both self-join sides, anchors, tails — four scan→shingle→agg
    # chains in the physical plan). Because the cap bounds the head
    # set, the per-bucket head list is a ≤ max_bucket array — small
    # enough to attach to every bucket row via a full-frame window
    # aggregate (same partitioning as the rank window: ONE Exchange,
    # one Window sort) and fan the pairs out as a pure array
    # expression. One evaluation of the bands, zero joins; pair set
    # identical:
    #   head row rk=i → (self, heads[i+1:]) — the old i<j self-join;
    #   tail row → all heads (verified pipelines) or heads[1] (the
    #   star-link anchor). Heads sort ascending by doc_id (unique per
    #   bucket), so doc1 < doc2 exactly as the lt-join produced.
    w = Window.partitionBy(*bucket_cols).orderBy("doc_id")
    wf = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    entry = (
        F.struct(
            F.col("doc_id").alias("d"), F.col(carry_src).alias("c")
        )
        if carry_src
        else F.struct(F.col("doc_id").alias("d"))
    )
    ranked = bframe.withColumn("rk", F.row_number().over(w)).withColumn(
        "_e", entry
    )
    staged = ranked.withColumn(
        "heads",
        F.sort_array(
            F.collect_list(
                F.when(F.col("rk") <= max_bucket, F.col("_e"))
            ).over(wf)
        ),
    )

    def _pair(a_entry, b_entry):
        cols = [
            a_entry["d"].alias("doc1"),
            b_entry["d"].alias("doc2"),
        ]
        if carry_src:
            cols += [
                a_entry["c"].alias(a_out),
                b_entry["c"].alias(b_out),
            ]
        return F.struct(*cols)

    head_arr = F.transform(
        F.slice(F.col("heads"), F.col("rk") + 1, F.lit(max_bucket)),
        lambda h: _pair(F.col("_e"), h),
    )
    if tail_link_all_heads:
        tail_arr = F.transform(
            F.col("heads"), lambda h: _pair(h, F.col("_e"))
        )
    else:
        tail_arr = F.array(
            _pair(F.element_at(F.col("heads"), 1), F.col("_e"))
        )
    out_cols = ["p.doc1", "p.doc2"] + (
        [f"p.{a_out}", f"p.{b_out}"] if carry_src else []
    )
    return (
        staged.select(
            F.explode(
                F.when(F.col("rk") <= max_bucket, head_arr).otherwise(
                    tail_arr
                )
            ).alias("p")
        )
        .select(*out_cols)
        .distinct()
    )


def _minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """(doc_id, band, band_hash) — the banded MinHash signature.

    Wide single-aggregation form: ONE groupBy(doc_id) computes every
    per-seed min (map-side partial agg collapses to one row per doc
    before the shuffle), and the band rows are derived afterwards by a
    zero-shuffle posexplode — two Exchanges fewer than the exploded
    groupBy(doc_id, s) → groupBy(doc_id, band) chain (guide §2.3/§2.4;
    measured 1.8→1.2 s on the capped-candidates DAG at sf0.1, outputs
    collect-equal). Seeds within a band are consecutive, so concat in
    seed-index order reproduces the sorted-by-s array_join exactly; a
    trailing band with fewer than ``band_size`` seeds (num_hashes not
    divisible) concatenates only the seeds that exist, as before."""
    sh = _shingles(_tokens(df, id_col, text_col), n)
    mins = _seed_min_exprs(num_hashes)
    n_bands = -(-num_hashes // band_size)
    band_exprs = [
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh{s}")
                    for s in range(
                        k * band_size, min((k + 1) * band_size, num_hashes)
                    )
                ],
            )
        )
        for k in range(n_bands)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.posexplode(F.array(*band_exprs)).alias("band", "band_hash"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """LSH banding: docs sharing any band of the MinHash signature become
    candidate pairs. Returns (doc1, doc2) distinct.

    ``max_bucket`` is the hot-bucket guard (default 64): buckets larger
    than the cap emit all pairs among their first ``max_bucket`` docs plus
    one star-link pair per remaining doc — bounded fan-out instead of the
    b² blowup a giant duplicate group would otherwise push through a
    single band_hash shuffle key (see :func:`_capped_bucket_pairs`;
    connected components downstream are unaffected by the cap). Pass
    ``max_bucket=None`` for the uncapped all-pairs semantics."""
    bands = _minhash_bands(df, id_col, text_col, n, num_hashes, band_size)
    return _capped_bucket_pairs(bands, ["band", "band_hash"], max_bucket)


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Observability for the hot-bucket guard: one row per band bucket
    LARGER than ``max_bucket`` with the pair counts the cap avoids —
    (band, band_hash, bucket_size, pairs_uncapped, pairs_capped). Drive
    this next to :func:`minhash_lsh_candidates` to log what a cap drops
    (a pipeline should alert when bucket_size ≫ max_bucket: that is a
    giant near-duplicate group, which is itself a data-quality signal).

    With ``max_bucket=None`` (uncapped pipeline) the report covers every
    multi-doc bucket and ``pairs_capped == pairs_uncapped`` — nothing is
    dropped, the row is pure bucket-size telemetry."""
    bands = _minhash_bands(df, id_col, text_col, n, num_hashes, band_size)
    return _bucket_stats(bands, ["band", "band_hash"], max_bucket, 1)


def _bucket_stats(
    bands: DataFrame, keys: list[str], max_bucket: int | None, tail_links
) -> DataFrame:
    """The body of both bucket-stats reports: one row per bucket over
    the cap (every multi-doc bucket when uncapped) with its all-pairs
    count and the pairs the cap keeps — cap·(cap−1)/2 head pairs plus
    ``tail_links`` links per tail doc."""
    sizes = bands.groupBy(*keys).agg(F.count("*").alias("bucket_size"))
    uncapped = (
        F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
    ).cast("long")
    if max_bucket is None:
        return (
            sizes.filter(F.col("bucket_size") > 1)
            .withColumn("pairs_uncapped", uncapped)
            .withColumn("pairs_capped", F.col("pairs_uncapped"))
        )
    cap = F.lit(max_bucket)
    capped = cap * (cap - 1) / 2 + (F.col("bucket_size") - cap) * tail_links
    return (
        sizes.filter(F.col("bucket_size") > cap)
        .withColumn("pairs_uncapped", uncapped)
        .withColumn("pairs_capped", capped.cast("long"))
    )


def _bit_condition(b: int) -> str:
    """SQL text of the per-token vote condition for bit ``b``: the md5
    hex digit at position b (mod 32) — its HIGH bit (digit ≥ 8) for
    b < 32 and its SECOND bit (digit & 4) for b ≥ 32, giving 64
    independent-enough bits from ONE md5 per token. The one place the
    bit rule lives; the DuckDB oracle twins spell the same substr/IN
    construction independently.

    SQL text, not Column trees: the simhash plans hold 64 of these
    votes plus the packing sums, and every Column op is a py4j round
    trip — building ``simhash`` took 1.07 s on the driver as Columns
    and 0.22 s as text (median, 4 CPUs)."""
    digits = "89abcdef" if b < 32 else "4567cdef"
    quoted = ",".join(f"'{d}'" for d in digits)
    return f"substr(md5(token), {b % 32 + 1}, 1) IN ({quoted})"


def _simhash_votes(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """(doc_id, v0..v{bits-1}): per-bit vote SUMS over distinct tokens,
    as ``bits`` aggregate expressions over ONE row per token — not a
    token×bits explode. The naive per-(token, bit) form recomputes md5
    ``bits`` times per token and pushes bits× the rows through the
    shuffle; measured at sf0.1 the 64-bit explode cost 7.4 s vs ~2 s for
    this wide-aggregate form (BENCH.md round 4). Bit b of the signature
    is set iff v{b} >= 0."""
    assert bits <= 64, "simhash signatures are at most 64 bits (BIGINT)"
    toks = _tokens(df, id_col, text_col).select(
        "doc_id", F.explode(F.array_distinct("t")).alias("token")
    )
    aggs = [
        F.expr(f"sum(CASE WHEN {_bit_condition(b)} THEN 1 ELSE -1 END) AS v{b}")
        for b in range(bits)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def _pack_votes(vote_cols: list[str]):
    """Signed-BIGINT packing of per-bit vote columns, as one SQL
    expression: the j-th column contributes 2^j (exact integer literal)
    when its vote is >= 0; j = 63 contributes -2^63 (two's complement),
    since 1 << 63 overflows a BIGINT literal, so 64 bits fit one
    BIGINT."""
    terms = [
        f"CASE WHEN {c} >= 0 THEN {_LONG_MIN_SQL if j == 63 else 1 << j} ELSE 0 END"
        for j, c in enumerate(vote_cols)
    ]
    return F.expr(f"CAST({' + '.join(terms)} AS BIGINT)")


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """Per-doc SimHash over distinct tokens (Charikar / Manku et al.,
    WWW'07 — public algorithm). Default is the production 64-bit
    fingerprint; bit b is set when the majority of token-hash bits at
    position b are set. Returns (doc_id, simhash) with the signature as
    a signed BIGINT (two's complement for bit 63).

    A doc with NULL, empty or blank text has no token and gets NO row.

    Plan shape: one distinct-token explode, ONE md5 per token, ``bits``
    conditional-sum aggregates in a single groupBy(doc_id) — no
    token×bits row explosion (see :func:`_simhash_votes`)."""
    votes = _simhash_votes(df, id_col, text_col, bits)
    return votes.select(
        "doc_id", _pack_votes([f"v{b}" for b in range(bits)]).alias("simhash")
    )


def _simhash_bands(
    df: DataFrame, id_col: str, text_col: str, bits: int, n_bands: int
) -> DataFrame:
    """(doc_id, simhash, band, band_val) — the banded SimHash signature.
    Band values and the full signature come from the SAME vote frame (no
    second pass): band k packs bits k·band_bits .. (k+1)·band_bits-1,
    extracted by re-aggregating per-bit votes, never by shifting the
    signed signature (shiftright sign-extends)."""
    assert bits % n_bands == 0, "bits must divide evenly into n_bands"
    band_bits = bits // n_bands
    votes = _simhash_votes(df, id_col, text_col, bits)

    with_sig = votes.select(
        "doc_id",
        _pack_votes([f"v{b}" for b in range(bits)]).alias("simhash"),
        *[
            _pack_votes(
                [f"v{k * band_bits + j}" for j in range(band_bits)]
            ).alias(f"bv{k}")
            for k in range(n_bands)
        ],
    )
    return with_sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"), F.col(f"bv{k}").alias("band_val")
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.band_val")


def simhash_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    n_bands: int = 4,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Observability for the SimHash hot-bucket guard — the simhash twin
    of :func:`lsh_bucket_stats`: one row per (band, band_val) bucket
    larger than ``max_bucket`` with (bucket_size, pairs_uncapped,
    pairs_capped). Unlike the MinHash cap, the simhash cap is NOT
    output-invariant (a tail doc within max_hamming of a non-head member
    but far from all heads loses its pair — recall curve in SCALE.md
    §9), so a pipeline capping simhash buckets should drive this next to
    :func:`simhash_neardup_pairs` — or pass ``warn_hot_buckets=True`` to
    :func:`dedup_corpus` — to make the recall-affecting case observable.

    ``pairs_capped`` reflects the verified-pipeline cap form
    (tail_link_all_heads): cap·(cap−1)/2 head pairs plus cap links per
    tail doc."""
    bands = _simhash_bands(df, id_col, text_col, bits, n_bands)
    return _bucket_stats(bands, ["band", "band_val"], max_bucket, max_bucket)


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 2,
    bits: int = 64,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = 64,
) -> DataFrame:
    """SimHash near-duplicate pairs: band the signature (pigeonhole —
    hamming ≤ max_hamming over n_bands > max_hamming bands guarantees at
    least one identical band), bucket-join on (band, band_value), verify
    with bit_count(s1 XOR s2). Returns (doc1, doc2, hamming).

    Defaults are the production shape (Manku et al.): a 64-bit
    fingerprint in 4×16-bit bands — 65 536 buckets per band, so the
    candidate volume on non-duplicate data is ~N²/65 536 per band instead
    of the N²/16 a 4-bit banding gives. Band values are computed directly
    from the per-bit votes (never by shifting the signed signature), so
    any bits/n_bands split with bits % n_bands == 0 works up to 64 bits.

    ``max_bucket`` (default 64) is the same hot-bucket guard as
    :func:`minhash_lsh_candidates`, in the verified-pipeline form: tail
    docs link to ALL ``max_bucket`` heads (≤ max_bucket·b pairs, linear
    in b) because every pair is still Hamming-verified — a tail doc
    survives if it is within ``max_hamming`` of ANY head. Residual
    recall loss only for a tail doc far from all heads; compose with
    exact pre-collapse (:func:`dedup_corpus`) so identical docs never
    inflate a bucket past the cap in the first place."""
    assert n_bands > max_hamming, "pigeonhole needs n_bands > max_hamming"
    bands = _simhash_bands(df, id_col, text_col, bits, n_bands)
    cand = _capped_bucket_pairs(
        bands,
        ["band", "band_val"],
        max_bucket,
        carry=("simhash", "s1", "s2"),
        tail_link_all_heads=True,
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
    )


class ConnectedComponentsDidNotConverge(RuntimeError):
    """Raised when component resolution hits ``max_iters`` with the edge
    set / labels still changing — returning partial labels would silently
    mis-cluster, so the operator fails loudly instead."""


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SOCC'14 — public algorithm).

    ``edges`` is canonically oriented (u > v, no self-loops). Returns the
    new canonical edge set. Each sub-step is one groupBy(min) + one join
    keyed on the node — shuffle ∝ |edges|, no driver-side state.
    """
    # large-star: every strictly-larger neighbour of u re-points at the
    # minimum of u's closed neighbourhood
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    large = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # small-star: u and all its ≤-neighbours re-point at the minimum
    smins = large.groupBy("u").agg(F.min("v").alias("m"))
    small = (
        large.join(smins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(smins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return small


def connected_components(
    pairs: DataFrame,
    left: str = "doc1",
    right: str = "doc2",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve candidate pairs into duplicate CLUSTERS: connected
    components. Returns (doc_id, cluster_id) for every node appearing in
    ``pairs``, where cluster_id = the smallest doc_id in the component.
    Singleton docs (no candidate pair) do not appear — see
    ``duplicate_clusters(include_singletons=True)`` for the full domain.
    A pair with a NULL endpoint links nothing and is dropped.

    The step after candidate generation in a dedup pipeline: LSH/simhash
    emit pairs, but keeping one doc per GROUP needs the transitive
    closure (a~b, b~c ⇒ keep one of {a,b,c}).

    Two routes, identical labels (min doc_id per component):

    * at most :data:`_CC_DRIVER_MAX_PAIRS` pairs — one bounded driver
      union-find (:func:`_cc_driver`);
    * more — the alternating large-star / small-star algorithm (Kiveris
      et al., SOCC'14): O(log² n) rounds worst-case, in practice ≤ ~5,
      INDEPENDENT of component diameter, so adversarial templated
      near-dup chains converge too. It probes convergence every round
      (one small agg piggybacked on the checkpointed result) and raises
      :class:`ConnectedComponentsDidNotConverge` if ``max_iters`` rounds
      pass while still changing — wrong labels are never silently
      returned. Lineage is truncated per round (localCheckpoint) so the
      plan does not grow with iterations.
    """
    from jochre3_ocr_spark.plans.pipeline import _driver_fast_path

    # materialize the pair source ONCE before symmetrizing: the union
    # reads it twice, and an un-checkpointed candidate generator (LSH)
    # would re-run per branch
    pairs = (
        pairs.select(F.col(left).alias("a"), F.col(right).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .localCheckpoint(eager=True)
    )
    t = pairs.schema["a"].dataType.simpleString()
    fast = _driver_fast_path(
        pairs, _CC_DRIVER_MAX_PAIRS, _cc_driver, f"doc_id {t}, cluster_id {t}"
    )
    return fast if fast is not None else _cc_star(pairs, max_iters)


#: driver union-find cap: below this many candidate pairs the graph is
#: a fixed-cost problem, not a scale problem. 100k pairs ≈ 10 MB of
#: string ids on the driver.
_CC_DRIVER_MAX_PAIRS = 100_000


def _cc_driver(rows) -> list[tuple]:
    """Union-find over a collected (bounded) pair list → (doc_id,
    cluster_id) rows. Python string comparison is code-point order ==
    Spark's UTF8 binary order (UTF-8 preserves code-point ordering), so
    min-per-component labels are identical to the star route's."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    return [(n, comp_min[find(n)]) for n in parent]


def _cc_star(pairs: DataFrame, max_iters: int) -> DataFrame:
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .union(pairs.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        pairs.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # fixed point ⇔ identical edge sets; count + order-free xor-of-
    # xxhash64 checksum in ONE agg per round (collision ~2^-64 —
    # acceptable for a convergence probe; bit_xor cannot overflow,
    # unlike sum under Spark 4's default ANSI mode)
    def _probe(e: DataFrame):
        return tuple(
            e.agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("h"),
            ).collect()[0]
        )

    prev = _probe(edges)
    converged = False
    for _ in range(max_iters):
        # LAZY checkpoint: the probe's agg is the action that materializes
        # it, so each round costs ONE job (round-3 profiling: the eager
        # checkpoint + separate probe paid ~2 fixed-cost jobs/round)
        new_edges = _star_round(edges).localCheckpoint(eager=False)
        cur = _probe(new_edges)
        edges = new_edges
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise ConnectedComponentsDidNotConverge(
            f"large-star/small-star did not reach a fixed point in "
            f"{max_iters} rounds — raise max_iters (O(log^2 n) bound)"
        )
    # at the fixed point every edge is (node → component minimum); nodes
    # absent from the edge list are their own component minimum
    return nodes.join(
        edges, nodes.node == edges.u, "left"
    ).select(
        F.col("node").alias("doc_id"),
        F.coalesce("v", "node").alias("cluster_id"),
    )


def _collapse_reps(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
) -> tuple[DataFrame, DataFrame]:
    """(members, reps) for :func:`_cluster_verdicts`. ``reps`` is
    (doc_id, text), the frame candidate generation and
    :func:`hot_bucket_summary` band. ``members`` is (doc_id, rep,
    linked), one row per corpus doc: the doc takes ``rep``'s component label when ``linked``,
    and is its own singleton otherwise.

    Each distinct text collapses to ONE representative, its minimum
    doc_id: a giant group of IDENTICAL docs (boilerplate, empty pages)
    is the dominant cause of hot LSH/simhash buckets, since every member
    lands in every one of the others' buckets. Members are labelled by
    key and never enter connected components; because each rep is its
    group's minimum, ``coalesce(cc_label, rep)`` is exactly the naive
    construction's component minimum. A member is linked only when the
    text yields at least ``min_tokens`` tokens (the n-shingle threshold
    for MinHash, 1 for SimHash), mirroring the generators, which never
    pair docs that produce no signature, identical or not.

    Shuffle shape (guide §2.3): ONE ``groupBy(th)``, th = md5(text),
    computes the rep AND carries its text via ``min_by(text, doc_id)``
    (one text per group, ids unique), so the map-side partial agg ships
    one (th, rep, text) row per group and task. The members side is a
    text-free LEFT join on ``th``: md5(NULL) is NULL, and an inner join
    would drop NULL-text docs instead of keeping them as singletons."""
    keyed = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
        F.md5(F.col(text_col)).alias("th"),
        F.size(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("ntok"),
    )
    reps = keyed.groupBy("th").agg(
        F.min("doc_id").alias("rep"),
        F.min_by("text", "doc_id").alias("text"),
    )
    members = (
        keyed.select("th", "doc_id", "ntok")
        .join(reps.select("th", "rep"), "th", "left")
        .select(
            "doc_id",
            "rep",
            (
                (F.col("doc_id") == F.col("rep"))
                | (F.col("ntok") >= min_tokens)
            ).alias("linked"),
        )
    )
    return members, reps.select(F.col("rep").alias("doc_id"), "text")


def _cluster_verdicts(members: DataFrame, pairs: DataFrame) -> DataFrame:
    """Representative-level candidate pairs → components → one
    (doc_id, cluster_id, cluster_size, is_canonical) row per member.

    One left join of the members onto the component labels: a linked
    member takes ``coalesce(cc_label, rep)``, anything else (short or
    NULL text) is its own cluster. ``cluster_size`` counts members per
    cluster, so singletons come out with size 1."""
    cc = connected_components(pairs).select(
        F.col("doc_id").alias("rep"), F.col("cluster_id").alias("cc_label")
    )
    cluster_id = (
        F.when(F.col("linked"), F.coalesce("cc_label", "rep"))
        .otherwise(F.col("doc_id"))
        .alias("cluster_id")
    )
    return (
        members.join(cc, "rep", "left")
        .select("doc_id", cluster_id)
        .withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    include_singletons: bool = False,
    max_bucket: int | None = 64,
) -> DataFrame:
    """End-to-end near-duplicate clustering: MinHash LSH candidate pairs
    → connected components → (doc_id, cluster_id, cluster_size,
    is_canonical). ``is_canonical`` marks the doc to KEEP (smallest
    doc_id per cluster) — the pipeline's "drop duplicates, keep one
    representative" verdict table. This is :func:`dedup_corpus` with
    ``method="minhash"`` and without its ``keep`` column.

    Scale posture (both invariant on the OUTPUT clusters): identical
    texts collapse to one representative before signature generation;
    exact members are labelled by key from their representative's
    component and never enter connected components
    (:func:`_collapse_reps`) — a 10⁶-doc boilerplate group costs 1
    signature and one join row per member instead of 10¹² band-join
    pairs. ``max_bucket`` caps any residual hot band bucket
    (:func:`_capped_bucket_pairs`). Every output row is identical to the
    naive uncapped all-docs construction.

    DOMAIN: by default rows cover only docs in a cluster of two or more
    (``cluster_size > 1``) — unique docs get NO row, so a consumer
    filtering ``is_canonical`` directly would drop them. Either left-join
    this table back to the corpus and ``coalesce(is_canonical, true)``
    (the ``corpus_filter_verdicts`` pattern), or pass
    ``include_singletons=True`` to keep every doc, unique ones as their
    own cluster (cluster_size=1, is_canonical=true)."""
    out = dedup_corpus(
        df, id_col, text_col, "minhash", n, num_hashes, band_size,
        max_bucket=max_bucket,
    ).drop("keep")
    return out if include_singletons else out.filter(F.col("cluster_size") > 1)


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "minhash",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_hamming: int = 2,
    bits: int = 64,
    n_bands: int = 4,
    max_bucket: int | None = 64,
    warn_hot_buckets: bool = False,
) -> DataFrame:
    """The composed, scale-safe corpus dedup pipeline — what a user
    should run instead of assembling the parts: exact-duplicate
    pre-collapse → capped candidate generation on representatives
    (``method="minhash"`` LSH banding or ``method="simhash"`` banded
    Hamming) → connected components over the representative pairs only
    → one verdict row per corpus document, exact members labelled by key
    from their representative (:func:`_collapse_reps`).

    ``warn_hot_buckets=True`` additionally runs
    :func:`hot_bucket_summary` over the same representatives the
    candidate generator sees and emits a ``warnings.warn`` when any
    bucket exceeds ``max_bucket`` — this costs one extra Spark job, so
    it is opt-in for the library call. The operational entry point
    (``job.py --corpus-op dedup-verdicts``) always prints the same
    summary as a stderr JSON line instead: for simhash the cap is NOT
    output-invariant (bounded recall loss, SCALE.md §9), and a
    silently-capped hot bucket is exactly the condition an operator
    needs to see.

    Returns (doc_id, cluster_id, cluster_size, is_canonical, keep) over
    the FULL corpus domain (singletons included), where ``keep`` is the
    drop-duplicates verdict: true exactly for the canonical (minimum
    doc_id) member of each cluster and every unique doc."""
    if method == "minhash":
        candidate_fn = lambda reps: minhash_lsh_candidates(  # noqa: E731
            reps, "doc_id", "text", n, num_hashes, band_size, max_bucket
        )
    elif method == "simhash":
        candidate_fn = lambda reps: simhash_neardup_pairs(  # noqa: E731
            reps, max_hamming, bits, n_bands, "doc_id", "text", max_bucket
        )
    else:
        raise ValueError(f"unknown method: {method!r}")
    members, reps = _collapse_reps(
        df, id_col, text_col, n if method == "minhash" else 1
    )
    if warn_hot_buckets and max_bucket is not None:
        hot = hot_bucket_summary(df, id_col, text_col, method, n,
                                 num_hashes, band_size, bits, n_bands,
                                 max_bucket)
        if hot["n_hot"]:
            invariance = (
                "cluster-invariant (star-links preserve connectivity)"
                if method == "minhash"
                else "NOT output-invariant: a tail doc far from all "
                f"{max_bucket} heads loses its pair (SCALE.md §9 recall "
                "curve)"
            )
            warnings.warn(
                f"dedup_corpus[{method}]: {hot['n_hot']} band bucket(s) "
                f"exceed max_bucket={max_bucket} after exact pre-collapse "
                f"(largest {hot['max_bucket_size']} docs, "
                f"{hot['pairs_uncapped'] - hot['pairs_capped']} candidate "
                f"pairs avoided by the cap). The cap here is {invariance}. "
                "A bucket ≫ cap is a giant near-duplicate group — a "
                "data-quality signal worth inspecting via "
                f"{'lsh' if method == 'minhash' else 'simhash'}"
                "_bucket_stats.",
                stacklevel=2,
            )
    out = _cluster_verdicts(members, candidate_fn(reps))
    return out.withColumn("keep", F.col("is_canonical"))


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """The persistable dedup STATE: banded MinHash signatures
    (doc_id, band, band_hash), ``num_hashes/band_size`` rows per doc.
    Write this once for the standing corpus; every future shard dedups
    against it via :func:`incremental_dedup_verdicts` without ever
    re-reading corpus text — the 100 TB pattern where re-signaturing
    the full corpus per crawl drop is the thing you must never do."""
    return _minhash_bands(df, id_col, text_col, n, num_hashes, band_size)


def incremental_dedup_verdicts(
    new_docs: DataFrame,
    band_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Dedup a NEW shard against an EXISTING corpus's band table plus
    itself, touching corpus text zero times.

    Semantics (replayed exactly by the driver's uncapped SQL oracle —
    the cap preserves within-shard connectivity, so its green row is
    the invariance proof again):

    * within-shard LSH pairs → connected components; every shard doc
      belongs to a component (singletons are their own);
    * a component is *corpus-contaminated* if ANY member shares a band
      with an existing doc; then every member is dropped with
      ``duplicate_of`` = the smallest colliding corpus doc_id across
      the component (the standing canonical wins — new near-dups of
      it must not elect a second canonical among themselves);
    * a clean component keeps exactly its minimum doc_id; the rest
      point at that representative.

    Returns (doc_id, cluster_id, keep, duplicate_of) over the full
    shard domain.  Scale shape: the shard side of the corpus-probe
    join is always broadcast — the 10¹²-row band table is never
    shuffled, each of its partitions streams against the in-memory
    shard bands; within-shard candidate generation is the usual
    capped-bucket construction.  Append the kept docs' band rows to the
    state table afterwards (:func:`minhash_band_table` over the kept
    subset).
    """
    bands_new = _minhash_bands(
        new_docs, id_col, text_col, n, num_hashes, band_size
    ).localCheckpoint(eager=False)
    hits = (
        F.broadcast(bands_new).alias("s")
        .join(
            band_table.alias("c"),
            (F.col("s.band") == F.col("c.band"))
            & (F.col("s.band_hash") == F.col("c.band_hash")),
        )
        .groupBy(F.col("s.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("corpus_dup"))
    )
    pairs = _capped_bucket_pairs(
        bands_new, ["band", "band_hash"], max_bucket
    )
    comp = connected_components(pairs)
    full = (
        new_docs.select(F.col(id_col).cast("string").alias("doc_id"))
        .join(comp.withColumnRenamed("doc_id", "d"),
              F.col("doc_id") == F.col("d"), "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .join(hits, "doc_id", "left")
    )
    cluster_hit = full.groupBy("cluster_id").agg(
        F.min("corpus_dup").alias("cluster_corpus_dup")
    )
    return full.join(cluster_hit, "cluster_id").select(
        "doc_id",
        "cluster_id",
        F.when(F.col("cluster_corpus_dup").isNotNull(), F.lit(False))
        .otherwise(F.col("doc_id") == F.col("cluster_id"))
        .alias("keep"),
        F.when(
            F.col("cluster_corpus_dup").isNotNull(),
            F.col("cluster_corpus_dup"),
        )
        .when(F.col("doc_id") != F.col("cluster_id"), F.col("cluster_id"))
        .alias("duplicate_of"),
    )


def hot_bucket_summary(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "minhash",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    bits: int = 64,
    n_bands: int = 4,
    max_bucket: int = 64,
):
    """One Row (n_hot, max_bucket_size, pairs_uncapped, pairs_capped):
    the bucket-stats report of ``method`` over the buckets above
    ``max_bucket``, folded in one Spark job. It bands the exact-collapsed
    representatives, as :func:`dedup_corpus` does, so a hot bucket is a
    residual near-duplicate group, not an exact group the collapse
    absorbed."""
    _, reps = _collapse_reps(
        df, id_col, text_col, n if method == "minhash" else 1
    )
    if method == "minhash":
        stats = lsh_bucket_stats(
            reps, "doc_id", "text", n, num_hashes, band_size, max_bucket
        )
    else:
        stats = simhash_bucket_stats(
            reps, "doc_id", "text", bits, n_bands, max_bucket
        )
    return stats.agg(
        F.count("*").alias("n_hot"),
        F.max("bucket_size").alias("max_bucket_size"),
        F.sum("pairs_uncapped").alias("pairs_uncapped"),
        F.sum("pairs_capped").alias("pairs_capped"),
    ).collect()[0]


def leakage_safe_splits(
    clusters: DataFrame,
    fractions: dict[str, float] | None = None,
    salt: str = "split",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/val/test assignment at DEDUP-CLUSTER granularity: every
    member of a near-duplicate cluster lands in the SAME split, so a
    test document can never have a near-duplicate in train — the
    leakage mode document-level hashing silently permits (a cluster's
    members hash independently and straddle the split boundary).

    ``clusters`` is (id_col, cluster_id, ...) — the full-domain output
    of :func:`duplicate_clusters` (``include_singletons=True``) or
    ``similarity.semantic_dedup``.  The split comes from the first 6
    hex chars of md5(salt ":" cluster_id) against cumulative hex
    thresholds — ``text_metrics.deterministic_sample``'s construction
    one level up at cluster granularity: pure string comparison,
    identical in any engine with md5, partition-independent,
    resume-stable.  Split names are processed in sorted order so the
    band layout is deterministic.

    100 TB shape: one narrow codegen projection over the clusters
    table — zero joins, zero shuffle, zero Python.
    Returns the input columns plus ``split``."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions sum to {total}, expected 1.0")
    key = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.lit(salt), F.col("cluster_id").cast("string")
            )
        ),
        1,
        6,
    )
    expr = None
    acc = 0.0
    names = sorted(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = key < F.lit(format(round(acc * 16**6), "06x"))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return clusters.withColumn("split", split)
