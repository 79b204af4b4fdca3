"""Text-analysis operators over a document DataFrame — first-class
library API. ``__spark_entry__.queries()`` runs these operators and
checks them against independent DuckDB ``oracle_sql()`` twins. All pure
column expressions.

* quality scoring — token counts, average token length, stopword and
  distinct-token ratios (the boilerplate/quality features a training
  pipeline filters on)
* language-ID heuristic — function-word occurrence argmax
* document fingerprinting — exact hash + order-insensitive bag hash
* token statistics per source
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
}


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.withColumn(
        "_t", F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    ).withColumn("_doc_id", F.col(id_col).cast("string"))


def quality_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    lang_col: str = "lang", extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, lang, n_tokens, avg_token_len, stopword_ratio,
    distinct_ratio) — the quality-scoring feature row. ``lang`` is
    optional in the input (documented CLI contract: doc_id, text
    [, lang, source]); absent → null column. ``extra_cols`` pass
    through untouched (lets streaming compose this projection with an
    upstream stage without a stream self-join)."""
    if lang_col not in df.columns:
        df = df.withColumn(lang_col, F.lit(None).cast("string"))
    toks = _tokens(df, id_col, text_col)
    stop = F.size(
        F.filter(F.col("_t"), lambda x: (x == "the") | (x == "a"))
    )
    return toks.select(
        F.col("_doc_id").alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.size("_t").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(text_col, " ", "")) / F.size("_t"), 4
        ).alias("avg_token_len"),
        F.round(stop / F.size("_t"), 4).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct("_t")) / F.size("_t"), 4).alias(
            "distinct_ratio"
        ),
        *[F.col(c) for c in extra_cols],
    )


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Stopword-count argmax per doc (deterministic tie-break by the
    fixed language order en/de/fr/es)."""
    toks = _tokens(df, id_col, text_col)

    def _matcher(words):
        # single-arg lambda (pyspark passes (element, index) to 2-arg ones)
        return lambda x: (x == words[0]) | (x == words[1]) | (x == words[2])

    counts = {
        lang: F.size(F.filter(F.col("_t"), _matcher(words))).alias(f"c_{lang}")
        for lang, words in STOPWORDS.items()
    }
    with_counts = toks.select(
        F.col("_doc_id").alias("doc_id"),
        F.col(lang_col).alias("true_lang"),
        *counts.values(),
    )
    best = F.greatest(*[F.col(f"c_{lang}") for lang in STOPWORDS])
    predicted = F.when(F.col("c_en") == best, "en")
    for lang in ("de", "fr"):
        predicted = predicted.when(F.col(f"c_{lang}") == best, lang)
    predicted = predicted.otherwise("es")
    return with_counts.select(
        "doc_id", "true_lang", predicted.alias("predicted_lang"),
        "c_en", "c_de", "c_fr", "c_es",
    )


def fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, exact_fp, bag_fp): md5 of the raw text and of the sorted
    distinct token bag (robust to reordering)."""
    toks = _tokens(df, id_col, text_col)
    return toks.select(
        F.col("_doc_id").alias("doc_id"),
        F.md5(text_col).alias("exact_fp"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct("_t")), " ")
        ).alias("bag_fp"),
    )


def token_stats(
    df: DataFrame, group_col: str = "source", chars_col: str = "n_chars"
) -> DataFrame:
    return df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(chars_col).alias("total_chars"),
        F.round(F.avg(chars_col), 3).alias("avg_chars"),
    )


# GPT-2-style pretokenizer, lookahead-free so Java (Spark) and RE2
# (DuckDB) agree: contractions | space?+letters | space?+digits |
# space?+other | whitespace runs
BPE_ISH_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def deterministic_sample(
    df: DataFrame,
    fraction: float | None = None,
    fractions: dict[str, float] | None = None,
    by: str = "source",
    salt: str = "s1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reproducible corpus (sub)sampling for data mixing: keep a doc iff
    the first 6 hex chars of md5(doc_id ":" salt) sort below the
    fraction's hex threshold. Pure string comparison — identical in any
    engine with md5 (the DuckDB twin is the same expression), immune to
    partitioning/order, and resumable: the same (id, salt) always makes
    the same keep/drop decision, so incremental reprocessing never
    flips membership (unlike rand()- or partition-based sampling).

    ``fraction`` samples uniformly; ``fractions`` maps values of the
    ``by`` column to per-stratum rates (the training-mixture knob, e.g.
    {"web": 0.1, "books": 1.0}) — strata absent from the dict drop to
    rate 0. Resolution 16⁻⁶ ≈ 6e-8. One narrow scan, no shuffle."""
    if (fraction is None) == (fractions is None):
        raise ValueError("pass exactly one of fraction / fractions")

    def thresh(f: float) -> str:
        n = max(0, round(f * 16**6))
        if n >= 16**6:
            # 'g' sorts above every hex string — fraction 1.0 keeps all
            # (a 7-char numeric threshold would break the 6-char
            # lexicographic comparison)
            return "g"
        return format(n, "06x")

    key = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))),
        1,
        6,
    )
    if fraction is not None:
        cond = key < F.lit(thresh(fraction))
    else:
        cond = F.lit(False)
        for value, f in sorted(fractions.items()):
            cond = F.when(
                F.col(by) == value, key < F.lit(thresh(f))
            ).otherwise(cond)
    return df.filter(cond)


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 128,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking with overlap — the
    context-window splitter a training pipeline runs before
    tokenization/packing. One row per chunk:
    (doc_id, chunk_index, begin_token, n_chunk_tokens, chunk_text).

    Chunk i covers tokens [i·stride, i·stride + max_tokens) with
    stride = max_tokens − overlap; the final chunk truncates at the
    document end; a doc of ≤ max_tokens tokens yields exactly one
    chunk and an empty doc yields none. Chunk count uses pure integer
    arithmetic (1 + (n − overlap − 1) div stride for n > max_tokens) so
    the SQL twin is bit-exact.

    Scale shape: pure higher-order column expressions (sequence →
    explode → slice/array_join) — whole-stage codegen, zero shuffle,
    fan-out proportional to output chunks only.
    """
    stride = max_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than max_tokens")
    toks = (
        _tokens(df, id_col, text_col)
        .filter(F.size("_t") > 0)
        .withColumn("_n", F.size("_t"))
        .withColumn(
            "_nc",
            F.when(F.col("_n") <= max_tokens, F.lit(1)).otherwise(
                F.expr(
                    f"CAST(1 + ((_n - {max_tokens} + {stride - 1}) "
                    f"div {stride}) AS INT)"
                )
            ),
        )
    )
    ex = toks.select(
        "_doc_id",
        "_t",
        F.explode(
            F.sequence(F.lit(0), F.col("_nc") - F.lit(1))
        ).alias("chunk_index"),
    )
    sl = F.slice("_t", F.col("chunk_index") * stride + 1, max_tokens)
    return ex.select(
        F.col("_doc_id").alias("doc_id"),
        F.col("chunk_index").cast("int").alias("chunk_index"),
        (F.col("chunk_index") * stride).cast("int").alias("begin_token"),
        F.size(sl).alias("n_chunk_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


def interleaved_chunk_documents(
    df: DataFrame,
    max_tokens: int = 64,
    overlap: int = 8,
    media_every: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multimodal training-sample construction over INTERLEAVED
    text+media documents (the input_hint's payload shape): words are
    chunked exactly like :func:`chunk_documents`, and each media item —
    one sits before every ``media_every``-th word — travels with every
    chunk whose window covers its anchor word, so a sample never loses
    the image its surrounding text refers to (and overlapping windows
    legitimately duplicate boundary media, as multimodal packers do).

    Output: (doc_id, chunk_index, begin_token, n_chunk_tokens,
    n_media, media_refs, chunk_text) — media_refs is the
    comma-joined ``{doc_id}:m{anchor}`` list in anchor order.

    Scale shape: identical to chunk_documents — pure codegen
    sequence/explode/slice/filter, zero shuffle."""
    stride = max_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than max_tokens")
    toks = (
        _tokens(df, id_col, text_col)
        .filter(F.size("_t") > 0)
        .withColumn("_n", F.size("_t"))
        .withColumn(
            "_nc",
            F.when(F.col("_n") <= max_tokens, F.lit(1)).otherwise(
                F.expr(
                    f"CAST(1 + ((_n - {max_tokens} + {stride - 1}) "
                    f"div {stride}) AS INT)"
                )
            ),
        )
        .withColumn(
            "_media",
            F.when(
                F.col("_n") > media_every,
                F.sequence(
                    F.lit(media_every),
                    F.col("_n") - 1,
                    F.lit(media_every),
                ),
            ).otherwise(F.expr("array()")),
        )
    )
    ex = toks.select(
        "_doc_id",
        "_t",
        "_media",
        F.explode(
            F.sequence(F.lit(0), F.col("_nc") - F.lit(1))
        ).alias("chunk_index"),
    )
    b = F.col("chunk_index") * stride
    sl = F.slice("_t", b + 1, max_tokens)
    in_win = F.filter(
        F.col("_media"),
        lambda p: (p >= b) & (p < b + F.size(sl)),
    )
    refs = F.transform(
        in_win,
        lambda p: F.concat(F.col("_doc_id"), F.lit(":m"), p.cast("string")),
    )
    return ex.select(
        F.col("_doc_id").alias("doc_id"),
        F.col("chunk_index").cast("int").alias("chunk_index"),
        b.cast("int").alias("begin_token"),
        F.size(sl).alias("n_chunk_tokens"),
        F.size(in_win).alias("n_media"),
        F.array_join(refs, ",").alias("media_refs"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


def bpe_token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens): whitespace tokens vs BPE-ish
    pretokens — the cheap token-budget estimate for training-data
    curation, all JVM-side (regexp_extract_all, no UDF)."""
    return df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.size(
            F.filter(F.split(text_col, " "), lambda x: x != F.lit(""))
        ).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(text_col, F.lit(BPE_ISH_PATTERN), 0)
        ).alias("n_bpe_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (sklearn's formula: tf × (ln((1+N)/(1+df)) + 1)) — the classic
    keyword/topic signal for corpus curation and routing.

    Returns (doc_id, term, tf, score, rnk) with score rounded to 6 and
    rnk 1..k; ordering is (rounded score desc, term asc) so ranks are
    deterministic under ties and across engines.

    100 TB posture: term frequencies are one map-side-combinable agg
    keyed (doc, term); document frequencies REUSE that table (a second
    agg on term alone); the idf table is vocabulary-bounded and
    broadcasts; the only per-corpus-row shuffle is the top-k window
    keyed by doc id.  N travels as a broadcast 1-row DataFrame.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((1 + F.col("__n")) / (1 + F.col("__df"))) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "score", "rnk")
    )


def bpe_merge_candidates(
    df: DataFrame,
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k adjacent character pairs corpus-wide — the candidate list
    for ONE merge round of BPE tokenizer training (Sennrich et al.
    2016), the aggregation a tokenizer-training pipeline runs repeatedly.

    Returns (pair, cnt, rnk), rnk 1..k ordered by (count desc, pair
    asc) so ties are deterministic.

    100 TB posture: pair extraction explodes tokens then 2-char slices
    (both linear in corpus chars); the count is one map-side-combinable
    agg keyed by pair, and the final top-k sorts the AGGREGATED pair
    table — alphabet²-bounded, independent of corpus size — never
    corpus rows.
    """
    pairs = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("__w"))
        .where(F.length("__w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("__w") - 1),
                    lambda i: F.substring(F.col("__w"), i, F.lit(2)),
                )
            ).alias("pair")
        )
    )
    from pyspark.sql import Window

    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (100, 1000),
) -> DataFrame:
    """One-row corpus summary: what fraction of all token occurrences
    the top-k vocabulary covers, for each k — the
    closed-vocabulary-budget question tokenizer and filter design asks.

    Returns (total_tokens, vocab_size, covered_<k>, coverage_<k>...),
    coverage rounded to 6.  Ranking ties break (count desc, term asc).

    100 TB posture: one map-side-combinable term-count agg; the ranking
    window and final fold run over the AGGREGATED vocabulary table —
    bounded by |V|, independent of corpus size (same discipline as
    ``bpe_merge_candidates``).
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = counts.withColumn("rn", F.row_number().over(w))
    aggs = [
        F.sum("cnt").alias("total_tokens"),
        F.count(F.lit(1)).cast("int").alias("vocab_size"),
    ]
    for k in ks:
        covered = F.sum(F.when(F.col("rn") <= k, F.col("cnt")).otherwise(0))
        aggs.append(covered.alias(f"covered_{k}"))
    out = ranked.agg(*aggs)
    for k in ks:
        out = out.withColumn(
            f"coverage_{k}",
            F.round(F.col(f"covered_{k}") / F.col("total_tokens"), 6),
        )
    return out


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    by: str = "source",
) -> DataFrame:
    """Per-stratum sampling fractions that realise a target mixture with
    maximum data retention: the binding stratum (smallest n/weight)
    samples at 1.0 and every other fraction scales down from it — the
    planning step whose output feeds ``deterministic_sample(fractions=)``.

    Returns (by, n_docs, target_weight, fraction, expected_docs);
    strata absent from ``weights`` get weight/fraction 0.  Fractions
    round to 6; expected_docs = floor(n_docs × fraction).

    100 TB posture: one count agg + a broadcast weights table + a 1-row
    broadcast min — no collect, no corpus re-scan; the actual sampling
    stays in ``deterministic_sample`` (hash-threshold, shuffle-free).
    """
    from jochre3_ocr_spark.plans.pipeline import _driver_frame

    counts = df.groupBy(by).agg(F.count(F.lit(1)).alias("n_docs"))
    wdf = _driver_frame(
        df.sparkSession,
        [(k, float(v)) for k, v in sorted(weights.items())],
        f"{by} string, target_weight double",
    )
    joined = counts.join(wdf, by, "left").withColumn(
        "target_weight", F.coalesce("target_weight", F.lit(0.0))
    )
    scale = joined.where(F.col("target_weight") > 0).agg(
        F.min(F.col("n_docs") / F.col("target_weight")).alias("__c")
    )
    out = joined.crossJoin(F.broadcast(scale))
    frac = F.when(
        F.col("target_weight") > 0,
        F.round(
            F.col("__c") * F.col("target_weight") / F.col("n_docs"), 6
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        by,
        "n_docs",
        "target_weight",
        frac.alias("fraction"),
        F.floor(F.col("n_docs") * frac).alias("expected_docs"),
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int | None = None,
) -> DataFrame:
    """Positional inverted index — the retrieval-side primitive next to
    the ANN family: one row per term with its document frequency and a
    serialized posting list ``"doc:pos1|pos2,doc:..."`` (docs in
    lexicographic string-id order, positions ascending — a canonical
    string, so cross-engine equality is exact without nested-type
    comparison).

    ``max_postings`` caps the serialized list at the first N documents
    (smallest ids) while ``df_count`` stays exact — the standard
    stop-word guard: a term in every document otherwise serializes a
    corpus-sized row.

    100 TB posture: position lists build per (term, doc) — partial agg
    on a key that includes the doc, so hot terms spread; the cap is
    applied BEFORE the per-term fold (row_number filter), so a
    stop-word term's collect_list buffer holds at most ``max_postings``
    structs — never the corpus — and ``df_count`` comes from a separate
    exact count agg.  Skew ceiling: one reduce key per term at the
    final fold, the accepted shape for index builds (segment/shard the
    corpus upstream for stop-word-density data).
    """
    from pyspark.sql import Window

    pos = df.select(
        F.col(id_col).cast("string").alias("__doc"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("__pos", "term"),
    )
    per_doc = pos.groupBy("term", "__doc").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("__pos")),
                lambda p: p.cast("string"),
            ),
            "|",
        ).alias("__plist")
    )
    dfreq = per_doc.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
    kept = per_doc
    if max_postings is not None:
        w = Window.partitionBy("term").orderBy("__doc")
        kept = (
            per_doc.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max_postings)
            .drop("__rn")
        )
    folded = kept.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__doc"), F.col("__plist")))
                ),
                lambda s: F.concat(s["__doc"], F.lit(":"), s["__plist"]),
            ),
            ",",
        ).alias("postings")
    )
    return dfreq.join(folded, "term").select("term", "df_count", "postings")
