"""Physical-plan assertions: the extraction plan must stay narrow, scans
must prune and push down, small sides must broadcast — the SURVEY.md §4
guarantees, checked on the actual executed plans."""

import pytest

from jochre3_ocr_spark.plans import pipeline
from jochre3_ocr_spark.schema import DOCS_SCHEMA
from jochre3_ocr_spark.sources.corpus import generate_docs, lexicon_words


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "docs.parquet")
    rows = [
        (
            d["doc_id"],
            [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for k, t, m, o in d["spans"]
            ],
        )
        for d in generate_docs(30)
    ]
    spark.createDataFrame(rows, schema=DOCS_SCHEMA).write.parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_plan_has_no_exchange(spark, docs_path):
    """The narrow path must be shuffle-free end to end."""
    docs = spark.read.parquet(docs_path)
    out = pipeline.extract(docs, lexicon_words())
    assert "Exchange" not in _plan(out)


def test_extract_scan_prunes_columns(spark, docs_path, tmp_path):
    """The parquet scan must read only doc_id + spans (ReadSchema) even
    when the table carries extra columns."""
    from pyspark.sql import functions as F

    wide = str(tmp_path / "wide.parquet")
    spark.read.parquet(docs_path).withColumn(
        "huge_extra", F.lit("x" * 100)
    ).write.parquet(wide)
    out = pipeline.extract(spark.read.parquet(wide), lexicon_words())
    plan = _plan(out)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "huge_extra" not in scan_line
    assert "spans" in scan_line


def test_filter_pushdown_reaches_scan(spark, docs_path):
    docs = spark.read.parquet(docs_path).filter("doc_id = 'doc00000003'")
    plan = _plan(docs)
    assert "PushedFilters" in plan and "doc00000003" in plan


def test_ivf_topk_plan_prunes_before_scoring(spark):
    """The IVF cosine aggregation must join on (pos, cell) — only
    same-cell pairs are scored (ADVICE r1: the pre-fix plan aggregated
    all Q×N pairs and filtered afterwards)."""
    from jochre3_ocr_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = ivf_topk(emb, "vec_id < 5", k=3, n_cells=4)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the SCORING join must carry the cell equi-key alongside pos
    # (assignment-pass joins are legitimately pos-only: every vector is
    # scored against the 4 centroids once)
    scoring = [
        l
        for l in plan.splitlines()
        if "Join" in l and "pos" in l and "ccell" in l
    ]
    assert scoring, f"no (pos, cell)-keyed scoring join in plan:\n{plan}"


def test_bpe_token_counts_stays_jvm_side(spark):
    """No Python UDF in the token-count plan — regexp_extract_all is
    whole-stage-codegen-able."""
    from jochre3_ocr_spark.operators.text_metrics import bpe_token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bpe_token_counts(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(" in plan  # whole-stage-codegen span over the scan


def test_yiddish_corpus_branches_before_python_builder(spark):
    """extract_yiddish_corpus pre-branches normal/giant on the
    closed-form span count in whole-stage codegen, BELOW any Python
    stage — Python must run once per row, not once per branch.

    Round-6 shape: the normal branch fuses builder+kernel into ONE
    MapInPandas above its JVM-side n_est filter (visible in the plan);
    the giant branch's builder output is MATERIALIZED once (the salted
    split's derived-input localCheckpoint), so its n_est filter runs at
    checkpoint time and the final plan consumes a checkpointed RDD scan
    — the giant builder can no longer re-run per sub-branch at all."""
    import __spark_entry__ as em

    df = em.queries()["extract_yiddish_corpus"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # normal FUSED stage + the giant side's (inner-normal kernel,
    # chunk splitter, chunk kernel) = at most 4 MapInPandas; a
    # regression of the normal branch back to the staged builder→JSON→
    # kernel shape adds a 5th and must fail here
    assert 2 <= plan.count("MapInPandas") <= 4, plan
    filters = [
        ln for ln in plan.splitlines()
        if "Filter" in ln and "size(filter(split" in ln
    ]
    assert len(filters) >= 1, (
        f"JVM-side n_est pre-branch filter missing:\n{plan}"
    )
    # the giant side consumes the materialized builder output, not a
    # re-run of the translate+builder subtree
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_q5_broadcasts_small_dimensions(spark):
    """q5's region/nation/supplier dims are broadcast (no shuffle on the
    small side) — 'broadcast small dims' at any scale; lineitem, the fact
    side, must not be broadcast."""
    import __spark_entry__ as em

    df = em.queries()["q5_local_supplier_volume"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the fact table is never the build side of a broadcast
    for line in plan.splitlines():
        if "BroadcastExchange" in line:
            assert "lineitem" not in line


def test_salt_shuffle_pins_partition_count(spark, docs_path):
    """The giant-chunk salt must carry a USER-SPECIFIED partition count
    (REPARTITION_BY_NUM): chunk rows are ~100 KB but ~40 ms of kernel
    each, so AQE's byte-based coalescing would fold the whole salt
    shuffle into one partition and serialize the giant branch (measured
    at sf0.1: 90 chunks → 1 task, round 3)."""
    import re

    docs = spark.read.parquet(docs_path)
    out = pipeline.extract_with_salting(docs, lexicon_words())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # numbered form = user-specified count (AQE keeps it); the
    # count-less RepartitionByExpression is the coalescible one
    m = re.search(r"RepartitionByExpression \[doc_id#\d+, chunk_id#\d+\], (\d+)", plan)
    assert m, plan[:2000]
    assert int(m.group(1)) >= spark.sparkContext.defaultParallelism


def test_word_frequency_vocab_stays_distributed(spark):
    """VERDICT r2 item 2: the corpus-derived vocabulary must never be
    collected to the driver — membership is a distributed join of the
    vocabulary against its own ≥5-char projection. Pins (a) no .collect
    in the query source, (b) a real join node in the physical plan."""
    import inspect

    import __spark_entry__ as em

    src = inspect.getsource(em._word_frequency_corpus)
    assert ".collect()" not in src
    df = em._word_frequency_corpus(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Join" in plan or "BroadcastHashJoin" in plan


def test_extractor_plan_zero_shuffle_with_page_index(spark):
    """Corpus annotators stay Exchange-free (scan → mapInPandas) when the
    caller supplies page_index — the scale path; the doc_id-rank default
    is the documented small-corpus convenience (one narrow global sort)."""
    from pyspark.sql import functions as F

    from jochre3_ocr_spark.sources.extractors import (
        extract_crops,
        word_to_glyph_annotations,
        yolo_annotations,
    )

    df = spark.createDataFrame(
        [("d0", None, "<alto/>", 0)],
        "doc_id string, image binary, alto_xml string, page_index int",
    )
    assert "Exchange" not in _plan(extract_crops(df, unit="word"))
    assert "Exchange" not in _plan(yolo_annotations(df, ["Word"]))
    assert "Exchange" not in _plan(word_to_glyph_annotations(df))
    # without page_index the split derivation costs a global sort
    assert "Exchange" in _plan(yolo_annotations(df.drop("page_index"), ["Word"]))


def _text_docs(spark, n=20):
    return spark.createDataFrame(
        [(i, " ".join(f"t{(i * 7 + j) % 13}" for j in range(12)))
         for i in range(n)],
        "doc_id bigint, text string",
    )


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark window set must broadcast — corpus text never
    shuffles through the contamination ops."""
    from jochre3_ocr_spark.operators.substring import contamination_stats

    docs = _text_docs(spark)
    bench = _text_docs(spark, 3)
    plan = _plan(contamination_stats(docs, bench, k=8))
    assert "BroadcastHashJoin" in plan
    # the semi-join against the benchmark hashes must not be a shuffle
    # join (SortMergeJoin on whash would shuffle every corpus window)
    assert "SortMergeJoin [whash" not in plan


def test_lm_scoring_broadcasts_model_tables(spark):
    """Bigram counts / history / vocab are vocabulary-bounded — all
    three must reach the scoring join as broadcasts."""
    from jochre3_ocr_spark.operators.lm import bigram_lm_scores

    plan = _plan(bigram_lm_scores(_text_docs(spark), _text_docs(spark, 5)))
    # counts join + history join + the 1-row vocab cross join
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan


def test_decontaminate_jaccard_broadcasts_bench_side(spark):
    from jochre3_ocr_spark.operators.dedup import decontaminate_jaccard

    plan = _plan(decontaminate_jaccard(_text_docs(spark), _text_docs(spark, 3), n=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin [shingle" not in plan


def test_tfidf_broadcasts_idf_table(spark):
    from jochre3_ocr_spark.operators.text_metrics import tfidf_top_terms

    plan = _plan(tfidf_top_terms(_text_docs(spark), k=2))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row N


def test_bloom_probe_broadcasts_bits(spark):
    """The Bloom bits table is capped at k×16^w rows — the probe join
    must broadcast it; a shuffle join on (seed, slot) would move every
    corpus shingle×seed row."""
    from jochre3_ocr_spark.operators.sketches import (
        bloom_bits,
        bloom_decontaminate,
    )

    bits = bloom_bits(_text_docs(spark, 3), n=4)
    plan = _plan(bloom_decontaminate(_text_docs(spark), bits, n=4))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin [seed" not in plan


def test_cms_probe_broadcasts_sketch(spark):
    """The CMS cell table is capped at depth×16^w rows — point queries
    broadcast it against the candidate side."""
    from jochre3_ocr_spark.operators.sketches import cms_estimate, cms_sketch

    docs = _text_docs(spark)
    sk = cms_sketch(docs, depth=4, width_hex=2)
    cand = spark.createDataFrame([("t1",), ("t2",)], "token string")
    plan = _plan(cms_estimate(sk, cand, depth=4, width_hex=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin [seed" not in plan


def test_dsir_broadcasts_model_tables(spark):
    """Both 16^w-bounded bucket models (target + raw) and the two 1-row
    totals must reach the scoring join as broadcasts — the corpus side
    shuffles only its per-doc partial sums."""
    from jochre3_ocr_spark.operators.importance import dsir_log_weights

    docs = _text_docs(spark)
    plan = _plan(dsir_log_weights(docs, _text_docs(spark, 5)))
    assert plan.count("BroadcastHashJoin") >= 2  # p-model + q-model joins
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross joins
    assert "SortMergeJoin [bucket" not in plan


def test_incremental_dedup_broadcasts_shard_bands(spark):
    """The corpus-probe join must broadcast the SHARD's bands: the
    standing band table (10¹² rows at scale) streams in place and is
    never shuffled for the probe."""
    from jochre3_ocr_spark.operators.dedup import (
        incremental_dedup_verdicts,
        minhash_band_table,
    )

    bt = minhash_band_table(_text_docs(spark, 10))
    plan = _plan(incremental_dedup_verdicts(_text_docs(spark, 6), bt))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin [band" not in plan


def test_domain_quality_broadcasts_ranks(spark):
    """The bounded host-rank table joins the docs side as a broadcast —
    at 100 TB the documents never shuffle for the authority join."""
    import __spark_entry__ as em

    df = em.queries()["web_domain_quality"](
        spark, "/root/testdata/sf0.001"
    )
    assert "BroadcastHashJoin" in _plan(df)
    assert "SortMergeJoin [host" not in _plan(df)


def test_apply_bpe_is_narrow(spark):
    """Encoding with a learned merge list is one shuffle-free codegen
    projection — no Exchange, no Python."""
    from jochre3_ocr_spark.operators.bpe import apply_bpe

    plan = _plan(apply_bpe(_text_docs(spark), [("t", "1"), ("t1", "2")]))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_canonicalization_is_narrow(spark):
    """Synthesis + canonicalization must be one shuffle-free codegen
    projection — no Exchange, no Python."""
    from jochre3_ocr_spark.operators.urls import (
        canonicalize_urls,
        synthesize_urls,
    )

    docs = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    plan = _plan(canonicalize_urls(synthesize_urls(docs)))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_robots_verdicts_broadcasts_rules(spark):
    """The robots rule table is bounded by the host space — the policy
    join must broadcast it; the url side never shuffles for the match
    (the only shuffle is the per-doc best-rule window over the handful
    of matched rows)."""
    from jochre3_ocr_spark.operators.urls import (
        robots_verdicts,
        synthesize_robots_rules,
        synthesize_urls,
    )

    docs = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    u = synthesize_urls(docs)
    plan = _plan(robots_verdicts(u, synthesize_robots_rules(u)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin [host" not in plan
    # ZERO url-side shuffle: the winner is an array expression over the
    # broadcast per-host rule list — a doc_id-keyed window here would be
    # per-row math in a shuffle costume (review round 5); the only hash
    # Exchange left is the rule synthesizer's bounded host-distinct
    assert "Exchange hashpartitioning(doc_id" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_frontier_broadcasts_rules_and_ranks(spark):
    """Both small sides of the frontier composition — robots rules
    (host-bounded) and host ranks (node-space-bounded) — must
    broadcast; the only corpus-scale shuffle is the canonical-url
    groupBy."""
    from jochre3_ocr_spark.operators.urls import (
        frontier_priorities,
        synthesize_robots_rules,
        synthesize_urls,
    )

    docs = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    u = synthesize_urls(docs)
    ranks = spark.createDataFrame(
        [("site-aa.example.com", 10)], "host string, host_rank long"
    )
    plan = _plan(frontier_priorities(u, synthesize_robots_rules(u), ranks))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin [host" not in plan
    # ONE corpus-scale Exchange: the canonical groupBy keys on
    # canonical_url alone so the best-rule window reuses its
    # partitioning (the only other hash Exchange is the rule
    # synthesizer's bounded host-distinct); no page-scale join-back
    assert plan.count("Exchange hashpartitioning(canonical_url") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_pq_adc_broadcasts_query_luts(spark):
    """The PQ scorer's only join is the corpus-codes × query-LUT cross
    join with the tiny LUT side broadcast; the raw embedding column
    must not reach the scorer (the corpus crosses as m ints + a norm)."""
    from jochre3_ocr_spark.operators.similarity import pq_adc_topk

    import hashlib

    rows = []
    for vid in range(24):
        v = [0.05] * 16
        for p in range(16):
            h = hashlib.md5(f"{vid}:{p}".encode()).hexdigest()
            v[p] += int(h[:4], 16) / 65535.0
        rows.append((vid, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = _plan(pq_adc_topk(df, "vec_id < 3", k=2, m=4, ksub=4,
                             sample_size=24))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nb_predict_broadcasts_model_tables(spark):
    """The NB model tables are (vocab x labels)-bounded — prediction
    must broadcast them (token-label counts, label totals, vocab); a
    shuffle join on w would move every corpus token row."""
    from jochre3_ocr_spark.operators.classifier import nb_classify

    docs = spark.createDataFrame(
        [(i, "a b c", "x" if i % 2 else "y") for i in range(20)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(nb_classify(docs, docs))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin [w" not in plan


def _leaves(df) -> list[tuple[str, list[str]]]:
    """(node name, output column names) of every leaf of the analyzed
    plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    out = []
    while leaves.hasNext():
        node = leaves.next()
        cols = node.output().iterator()
        names = []
        while cols.hasNext():
            names.append(cols.next().name())
        out.append((node.nodeName(), names))
    return out


def test_driver_built_frames_are_arrow_local_relations(spark):
    """Rows solved on the driver reach the JVM as Arrow batches: the
    driver-built leaf is a LocalRelation (with real size statistics),
    not the LogicalRDD of a pickled Python row list — the whole
    broadcast-hinted result for pagerank and train_bpe, the weights
    table for mixture_plan."""
    from jochre3_ocr_spark.operators.bpe import train_bpe
    from jochre3_ocr_spark.operators.graphs import pagerank
    from jochre3_ocr_spark.operators.text_metrics import mixture_plan

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    ranks, merges = pagerank(edges), train_bpe(_text_docs(spark))
    assert _leaves(ranks) == [
        ("LocalRelation", ["node", "rank", "out_deg", "in_deg"])
    ]
    assert _leaves(merges) == [
        ("LocalRelation", ["rnk", "left", "right", "merged", "cnt"])
    ]
    for df in (ranks, merges):  # broadcast-hinted for any consumer join
        root = df._jdf.queryExecution().analyzed()
        assert root.nodeName() == "ResolvedHint"
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id bigint, source string"
    )
    assert ("LocalRelation", ["source", "target_weight"]) in _leaves(
        mixture_plan(docs, {"a": 0.5, "b": 0.5})
    )
