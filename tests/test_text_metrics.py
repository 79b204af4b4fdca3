"""Text-metrics operators: chunking window arithmetic pinned against
a python reference (the SQL twin is oracle-checked by the driver
gate via corpus_chunking)."""


def test_chunk_documents_edge_cases(spark):
    """Sliding-window chunking vs a python reference on the window
    boundary cases: empty, 1, exactly max, max+1, multi-stride."""
    from jochre3_ocr_spark.operators.text_metrics import chunk_documents

    max_tokens, overlap = 8, 2
    stride = max_tokens - overlap
    cases = {
        "empty": 0, "one": 1, "exact": 8, "plus1": 9,
        "two_full": 14, "boundary": 15, "long": 40,
    }
    rows = [
        (name, " ".join(f"w{i}" for i in range(n)))
        for name, n in cases.items()
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r.doc_id, r.chunk_index): (
            r.begin_token, r.n_chunk_tokens, r.chunk_text
        )
        for r in chunk_documents(df, max_tokens, overlap).collect()
    }

    expected = {}
    for name, n in cases.items():
        toks = [f"w{i}" for i in range(n)]
        if n == 0:
            continue
        nc = 1 if n <= max_tokens else 1 + (n - max_tokens + stride - 1) // stride
        for ci in range(nc):
            b = ci * stride
            sl = toks[b : b + max_tokens]
            expected[(name, ci)] = (b, len(sl), " ".join(sl))
    assert got == expected
    # overlap property: consecutive chunks share exactly `overlap`
    # tokens wherever the next chunk is full-length
    long_chunks = [v for k, v in sorted(got.items()) if k[0] == "long"]
    for a, b in zip(long_chunks, long_chunks[1:]):
        assert a[2].split(" ")[stride:] == b[2].split(" ")[: overlap]


def test_pack_sequences_greedy_invariants(spark):
    """Packing invariants on a deterministic corpus: (a) every pack
    except possibly the last per shard holds ≤ capacity tokens unless a
    single oversized doc owns it; (b) pack_pos is dense in walk order;
    (c) greedy = a pack closes only because the next doc would not fit."""
    from jochre3_ocr_spark.operators.packing import pack_sequences

    rows = [
        (str(i), " ".join("w" for _ in range(n)))
        for i, n in enumerate([10, 50, 100, 200, 300, 5, 5, 5, 120, 130,
                               60, 0, 9, 250, 17, 256])
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    cap = 256
    out = pack_sequences(df, capacity=cap, n_shards=4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert sum(len(v) for v in by_shard.values()) == len(rows)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r.pack_id, r.pack_pos))
        packs = {}
        for r in rs:
            packs.setdefault(r.pack_id, []).append(r)
        assert sorted(packs) == list(range(len(packs)))  # dense ids
        for pid, members in packs.items():
            assert [m.pack_pos for m in members] == list(range(len(members)))
            total = sum(m.n_tokens for m in members)
            assert total <= cap or len(members) == 1  # oversized solo
            # greedy: the first doc of the NEXT pack would overflow
            if pid + 1 in packs and total > 0:
                nxt = packs[pid + 1][0].n_tokens
                assert total + nxt > cap


def test_pack_sequences_independent_of_partitioning(spark):
    """Determinism invariant: output equal under any input partitioning
    (the shard fold sorts by numeric doc_id internally)."""
    from jochre3_ocr_spark.operators.packing import pack_sequences

    rows = [(str(i), " ".join("w" for _ in range(17 + (i * 37) % 90)))
            for i in range(60)]
    df1 = spark.createDataFrame(rows, "doc_id string, text string")
    df2 = df1.repartition(7)
    a = {tuple(r) for r in pack_sequences(df1).collect()}
    b = {tuple(r) for r in pack_sequences(df2).collect()}
    assert a == b


def test_deterministic_sample_properties(spark):
    """Hash-threshold sampling: partitioning-independent membership,
    rate within binomial tolerance, exact edges at 0.0 / 1.0, and
    stratified rates applied per group."""
    from jochre3_ocr_spark.operators.text_metrics import deterministic_sample

    rows = [(str(i), "t", "src%d" % (i % 2)) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")

    kept = deterministic_sample(df, fraction=0.3).select("doc_id")
    n = kept.count()
    assert abs(n - 1200) < 120  # ±4σ of Binomial(4000, 0.3)
    # same membership under different partitioning
    kept2 = deterministic_sample(df.repartition(13), fraction=0.3)
    assert {r.doc_id for r in kept2.select("doc_id").collect()} == {
        r.doc_id for r in kept.collect()
    }
    assert deterministic_sample(df, fraction=1.0).count() == 4000
    assert deterministic_sample(df, fraction=0.0).count() == 0
    # stratified: src0 full, src1 none
    strat = deterministic_sample(df, fractions={"src0": 1.0})
    assert strat.count() == 2000
    assert strat.filter("source = 'src1'").count() == 0
    # a different salt re-draws the sample
    other = deterministic_sample(df, fraction=0.3, salt="s2")
    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in other.select("doc_id").collect()}
    assert a != b


def test_interleaved_chunks_media_attachment(spark):
    """Interleaved multimodal chunking: media anchored before every
    k-th word travels with every chunk whose window covers the anchor;
    boundary media duplicate into overlapping windows; chunks with no
    media get an empty (not null) ref string."""
    from jochre3_ocr_spark.operators.text_metrics import (
        interleaved_chunk_documents,
    )

    # 20 words, windows of 8 with overlap 2 (stride 6), media every 5:
    # anchors at 5, 10, 15
    df = spark.createDataFrame(
        [("d", " ".join(f"w{i}" for i in range(20)))],
        "doc_id string, text string",
    )
    rows = {
        r.chunk_index: r
        for r in interleaved_chunk_documents(
            df, max_tokens=8, overlap=2, media_every=5
        ).collect()
    }
    # chunks: [0,8) [6,14) [12,20)
    assert sorted(rows) == [0, 1, 2]
    assert rows[0].media_refs == "d:m5"          # anchor 5 in [0,8)
    assert rows[1].media_refs == "d:m10"         # anchors 6..13 → 10
    assert rows[2].media_refs == "d:m15"         # anchor 15 in [12,20)
    assert all(rows[i].n_media == 1 for i in rows)
    # boundary duplication: media at a shared position lands in BOTH
    rows2 = {
        r.chunk_index: r
        for r in interleaved_chunk_documents(
            df, max_tokens=8, overlap=2, media_every=7
        ).collect()
    }
    # anchors 7, 14: 7 ∈ [0,8) AND [6,14); 14 ∈ [12,20)
    assert rows2[0].media_refs == "d:m7"
    assert rows2[1].media_refs == "d:m7"
    assert rows2[2].media_refs == "d:m14"
    # short doc: no media, empty string refs
    short = spark.createDataFrame(
        [("s", "a b c")], "doc_id string, text string"
    )
    r = interleaved_chunk_documents(short, 8, 2, 5).collect()[0]
    assert r.n_media == 0 and r.media_refs == ""


def test_eval_bow_cosine_is_textbook_cosine(spark):
    """eval_text_metrics pairs each doc with its successor as pred/gold:
    identical texts give bow_cosine 1.0, disjoint texts 0.0, and counts
    enter as a plain cosine (pred a b c vs gold a a b → 3/√15), in the
    Spark query and in its DuckDB twin alike."""
    import duckdb

    import __spark_entry__ as E

    texts = ["a b c", "a b c", "a a b", "x y"]
    want = {0: 1.0, 1: round(3 / 15 ** 0.5, 4), 2: 0.0}
    view = "eval_cosine_docs"
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).createOrReplaceTempView(view)
    got = spark.sql(E._Q_EVAL_SPARK.replace("documents", view)).collect()
    assert {r.doc_id: r.bow_cosine for r in got} == want

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    got = con.execute(E._Q_EVAL_DUCK).fetchall()
    assert {r[0]: r[3] for r in got} == want
