"""Iterative BPE training: textbook merge sequences, greedy-apply
semantics, partitioning invariance."""

from jochre3_ocr_spark.operators.bpe import apply_bpe, train_bpe


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_textbook_merge_sequence(spark):
    # low x3, lower x1: l-o and o-w tie at 4 -> left asc picks (l,o);
    # then (lo,w) at 4; then the cnt-1 tie picks (e,r) over (low,e)
    merges = train_bpe(_docs(spark, ["low lower", "low low"]), n_merges=3)
    rows = [tuple(r) for r in merges.orderBy("rnk").collect()]
    assert rows == [
        (1, "l", "o", "lo", 4),
        (2, "lo", "w", "low", 4),
        (3, "e", "r", "er", 1),
    ]


def test_greedy_nonoverlapping_application(spark):
    # "aaa" with merge (a,a): greedy left-to-right -> ["aa", "a"]
    out = apply_bpe(_docs(spark, ["aaa"]), [("a", "a")]).collect()[0]
    assert out.bpe_tokens == ["aa", "a"]


def test_merge_never_crosses_word_boundary(spark):
    # "ab ba" with merge (b,a): the b|a split across the space must NOT
    # merge; only the in-word pair in "ba" does
    out = apply_bpe(_docs(spark, ["ab ba"]), [("b", "a")]).collect()[0]
    assert out.bpe_tokens == ["a", "b", "ba"]


def test_early_stop_when_fully_merged(spark):
    # single 2-char word: round 1 merges it, round 2 has no pairs
    merges = train_bpe(_docs(spark, ["ab"]), n_merges=5)
    assert merges.count() == 1


def test_train_partitioning_invariant(spark):
    texts = [f"pre{i % 3}fix suf{i % 2}fix common" for i in range(12)]
    a = [tuple(r) for r in train_bpe(_docs(spark, texts), n_merges=4)
         .orderBy("rnk").collect()]
    b = [tuple(r) for r in
         train_bpe(_docs(spark, texts).repartition(5), n_merges=4)
         .orderBy("rnk").collect()]
    assert a == b


def test_apply_matches_training_segmentation(spark):
    # applying the learned merges reproduces the final training state
    docs = _docs(spark, ["low lower", "low low"])
    merges = [
        (r.left, r.right)
        for r in train_bpe(docs, n_merges=2).orderBy("rnk").collect()
    ]
    out = {r.doc_id: r for r in apply_bpe(docs, merges).collect()}
    assert out[0].bpe_tokens == ["low", "low", "e", "r"]
    assert out[1].bpe_tokens == ["low", "low"]
    assert out[0].n_bpe_tokens == 4


def test_driver_fast_path_matches_distributed(spark, monkeypatch):
    """The size-gated driver trainer must be merge-for-merge identical
    to the distributed rounds — including tie-breaks (cnt desc, left
    asc, right asc) and the early stop."""
    from jochre3_ocr_spark.operators import bpe as B

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # tie-heavy micro corpus: 'ab' and 'cd' pairs tie on count, the
    # lexicographic tie-break must pick ('a','b'); plus a word that
    # fully merges (early-stop coverage at large n_merges)
    tiny = spark.createDataFrame(
        [("1", "ab cd"), ("2", "cd ab"), ("3", "xy")],
        "doc_id string, text string",
    )
    # degenerate: no word at all (NULL text) and only empty words
    blank = [
        spark.createDataFrame(rows, "doc_id string, text string")
        for rows in ([("1", None), ("2", None)], [("1", ""), ("2", "")])
    ]
    cases = [(docs, 3, True), (tiny, 4, True), (tiny, 16, True)]
    cases += [(frame, 3, False) for frame in blank]
    for frame, n, learns in cases:
        fast_df = B.train_bpe(frame, n_merges=n)
        fast = [tuple(r) for r in fast_df.orderBy("rnk").collect()]
        monkeypatch.setattr(B, "_BPE_DRIVER_VOCAB_CAP", 0)
        slow_df = B.train_bpe(frame, n_merges=n)
        slow = [tuple(r) for r in slow_df.orderBy("rnk").collect()]
        monkeypatch.setattr(B, "_BPE_DRIVER_VOCAB_CAP", 100_000)
        assert fast == slow
        assert fast_df.schema.simpleString() == slow_df.schema.simpleString()
        assert (len(fast) > 0) == learns
