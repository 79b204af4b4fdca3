"""Iterative BPE tokenizer training (Sennrich et al. 2016, *Neural
Machine Translation of Rare Words with Subword Units*) as a distributed
driver loop: each merge round is one corpus pass — count adjacent
segment pairs, pick the most frequent, fuse it everywhere — exactly the
algorithm a tokenizer-training pipeline runs over the whole corpus
before model training.  ``text_metrics.bpe_merge_candidates`` is the
single-round aggregation; this module iterates it and APPLIES the
merges so the next round counts over the updated segmentation.

The reference engine has no tokenizer-training analog (per-document
OCR, ``Jochre.scala:186-211``).

Representation: each word travels as one string of space-separated
segments wrapped in sentinel spaces (``"ab"`` → ``" a b "``), so a
merge is a LITERAL string replace of ``" l r "`` with ``" lr "`` —
left-to-right non-overlapping, the standard greedy BPE application
order, with semantics identical across Java, DuckDB, and Python (the
oracle twin rebuilds all rounds in SQL with the same ``replace``).
The sentinel spaces make cross-segment false matches impossible
(``["al", "l"]`` is ``" al l "``, which never contains ``" l l "``).

100 TB posture: each round is one map-side-combinable pair-count
aggregate (keyed by the pair, vocabulary²-bounded output) plus one
narrow ``replace`` projection; the evolving segmentation is lazily
``localCheckpoint``-ed each round so round N costs ONE corpus pass,
not N replays of the replace chain (the same probe-materializes trick
as connected components).  The only driver action per round collects
ONE row (the argmax pair) — bounded, like the CC convergence probes.
Production tokenizers batch many merges per pass; one-merge-per-pass
keeps parity with the textbook algorithm and the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["train_bpe", "apply_bpe", "segment_words"]


def segment_words(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Add ``__words``: array of sentinel-wrapped char-segmented word
    strings (``"ab cd"`` → ``[" a b ", " c d "]``)."""
    return df.withColumn(
        "__words",
        F.transform(
            F.split(F.col(text_col), " "),
            lambda w: F.concat(
                F.lit(" "), F.array_join(F.split(w, ""), " "), F.lit(" ")
            ),
        ),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, cnt) over adjacent segments of the WEIGHTED vocab:
    ``vocab`` is (``__w`` segmented word string, ``__n`` corpus
    occurrences); cnt = sum of weights = exactly the count over every
    word instance."""
    toks = vocab.select(
        F.split(F.trim("__w"), " ").alias("__t"), "__n"
    ).where(F.size("__t") >= 2)
    return (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 1),
                    lambda i: F.struct(
                        F.element_at("__t", i).alias("left"),
                        F.element_at("__t", i + 1).alias("right"),
                    ),
                )
            ).alias("__p"),
            "__n",
        )
        .groupBy("__p.left", "__p.right")
        .agg(F.sum("__n").alias("cnt"))
    )


#: one learned merge per row
_MERGES_DDL = "rnk int, left string, right string, merged string, cnt bigint"

#: vocabulary size (distinct segmented words) up to which BPE training
#: runs on the driver — one take(cap+1) job instead of 2-3 Spark jobs
#: per merge round. The same bounded-collect class as the CC/PageRank
#: fast paths: ≤100k short strings ≈ a few MB. Tests set this to 0 to
#: force the distributed rounds.
_BPE_DRIVER_VOCAB_CAP = 100_000


def _train_bpe_driver(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The per-round count → argmax → replace loop on the driver —
    bit-identical to the distributed rounds: pair counts are exact
    integer sums; the argmax tie-break (cnt desc, left asc, right asc)
    compares Python strings, whose code-point order IS Spark's UTF8
    binary order; and Python ``str.replace`` has the identical
    left-to-right non-overlapping literal semantics as Spark/DuckDB
    ``replace`` (the round-5 BPE-oracle bridge identity)."""
    from collections import defaultdict

    merges: list[tuple[int, str, str, str, int]] = []
    rows = list(vocab)
    for rnk in range(1, n_merges + 1):
        cnt: dict = defaultdict(int)
        for w, n in rows:
            t = w.strip(" ").split(" ")
            if len(t) < 2:
                continue
            for i in range(len(t) - 1):
                cnt[(t[i], t[i + 1])] += n
        if not cnt:
            break
        (left, right), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rnk, left, right, left + right, int(c)))
        pat, repl = f" {left} {right} ", f" {left}{right} "
        rows = [(w.replace(pat, repl), n) for w, n in rows]
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus.

    Returns a DataFrame (rnk, left, right, merged, cnt): the merge
    learned in round ``rnk`` (1-based) and its pair count at selection
    time, ordered by rnk.  Ties break on (cnt desc, left asc, right
    asc).  Stops early if no pair remains (every word fully merged).
    """
    from jochre3_ocr_spark.plans.pipeline import _driver_fast_path, _driver_frame

    # Train over the DISTINCT-WORD frequency table, not every word
    # instance (the textbook word-dict optimization): pair counts are
    # occurrence-weighted sums, bit-identical to counting instances,
    # while each round's explode/replace runs over |vocab| rows instead
    # of the corpus word count. Distinct words stay distinct under
    # merges (the char sequence is invariant), so no re-grouping is
    # needed between rounds.
    vocab = (
        segment_words(df, text_col)
        .select(F.explode("__words").alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # size-gated driver fast path: the per-round count/argmax/replace
    # runs in Python, merge-for-merge identical (_train_bpe_driver).
    # Above the cap the distributed rounds below run exactly as before.
    fast = _driver_fast_path(
        vocab,
        _BPE_DRIVER_VOCAB_CAP,
        lambda rows: _train_bpe_driver(rows, n_merges),
        _MERGES_DDL,
    )
    if fast is not None:
        return fast
    merges: list[tuple[int, str, str, str, int]] = []
    for rnk in range(1, n_merges + 1):
        # lazy checkpoint: the argmax job below materializes it, so each
        # round reads the PREVIOUS round's result instead of replaying
        # the whole replace chain from the source
        vocab = vocab.localCheckpoint(eager=False)
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0].left, top[0].right, top[0].cnt
        merges.append((rnk, left, right, left + right, int(cnt)))
        pat = F.lit(f" {left} {right} ")
        repl = F.lit(f" {left}{right} ")
        vocab = vocab.select(
            F.replace("__w", pat, repl).alias("__w"), "__n"
        )
    return _driver_frame(df.sparkSession, merges, _MERGES_DDL)


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Segment every document with an already-learned merge list (pairs
    in rank order).  Adds ``bpe_tokens`` (array of segments per word,
    flattened doc-wide) and ``n_bpe_tokens`` — one narrow projection,
    zero shuffle, zero Python."""
    out = segment_words(df, text_col)
    col = F.col("__words")
    for left, right in merges:
        pat, repl = F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        col = F.transform(col, lambda s: F.replace(s, pat, repl))
    toks = F.flatten(
        F.transform(col, lambda s: F.split(F.trim(s), " "))
    )
    return (
        out.withColumn("bpe_tokens", toks)
        .withColumn("n_bpe_tokens", F.size("bpe_tokens"))
        .drop("__words")
    )
