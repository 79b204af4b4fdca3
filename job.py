#!/usr/bin/env python3
"""spark-submit entry point for the extraction pipeline.

Packaging (BASELINE.md):

    zip -r engine.zip jochre3_ocr_spark
    spark-submit --py-files engine.zip job.py \
        --input  /path/to/docs_parquet_or_iceberg \
        --output /path/to/spans_out \
        [--lexicon /path/to/lexicon.txt] [--generate N]

Resumable: re-running with the same --output anti-joins already-written
doc_ids and processes only the remainder (plans/pipeline.run_job).
``--generate N`` first materializes the deterministic synthetic corpus
to --input (for smoke runs without external data).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _write_and_report(
    spark, out, output_path: str, key: str, mode: str,
    t0: float | None = None,
) -> int:
    """Shared epilogue for the annotate / corpus-op modes: overwrite-
    write the result, report one JSON line (its row count observed
    during the write), stop the session.

    Callers whose operator does real work at CONSTRUCTION time must
    pass ``t0`` from before the operator call: under AQE, a
    ``localCheckpoint(eager=False)`` executes every upstream shuffle
    stage when the plan is built (AdaptiveSparkPlanExec.execute()
    finalizes all query stages), so for iterative operators
    (pagerank, bpe-train, CC-based dedup) the rounds run BEFORE the
    write action — a timer started here would miss ~90% of the job
    (measured: 54 of 72 s at 1M-node pagerank/local[2])."""
    from jochre3_ocr_spark.plans.pipeline import write_parquet_counted

    if t0 is None:
        t0 = time.time()
    n = write_parquet_counted(out, output_path, mode="overwrite")
    print(json.dumps({
        key: mode,
        "rows": n,
        "sec": round(time.time() - t0, 2),
        "output": output_path,
    }))
    spark.stop()
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--lexicon", default=None, help="text file, one word per line")
    p.add_argument("--generate", type=int, default=0,
                   help="generate N synthetic docs into --input first")
    # reference CLI knobs (core/JochreCLI.scala / reference.conf)
    p.add_argument("--beam-width", type=int, default=5)
    p.add_argument("--unknown-word-factor", type=float, default=0.5)
    p.add_argument("--remove-glyphs", action="store_true")
    p.add_argument("--language", default="yi")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument(
        "--metrics",
        default="auto",
        help="per-partition lineage/metrics checkpoint parquet path "
        "(north_rule); 'auto' = <output>_metrics, 'none' disables",
    )
    p.add_argument(
        "--annotate",
        default=None,
        choices=[
            "glyph", "word", "line", "yolo", "word-to-glyph",
            "rotation", "alto-text", "transform",
        ],
        help="corpus-annotator mode (reference corpus extractor CLIs, "
        "core/corpus/*.scala): read an annotated-corpus parquet "
        "(doc_id, image, alto_xml[, page_index]) at --input and write "
        "the annotation rows to --output",
    )
    p.add_argument(
        "--validation-one-every",
        type=int,
        default=None,
        help="every-Nth unit/page goes to the val split",
    )
    p.add_argument(
        "--yolo-objects",
        default="Word",
        help="comma list of YOLO object types for --annotate yolo",
    )
    p.add_argument(
        "--formats",
        default="spans",
        help="comma list of output formats: spans,text,processed,alto4 "
        "(OutputFormat.scala parity; extra formats write to "
        "<output>_<format>)",
    )
    p.add_argument(
        "--corpus-op",
        default=None,
        choices=[
            "chunk", "pack", "dedup-verdicts", "decontaminate",
            "quality", "exact-dedup", "sample", "html-extract",
            "substring-spans", "substring-strip",
            "decontaminate-spans", "contamination-stats",
            "repetition", "lm-score", "tfidf", "decontaminate-jaccard",
            "redact-pii", "bpe-merges", "bpe-train",
            "vocab-coverage", "mixture-plan", "inverted-index",
            "cms-tokens", "bloom-decontaminate",
            "bloom-decontaminate-packed", "dsir",
            "url-canonical", "host-stats", "robots-verdicts", "frontier",
            "pagerank", "semantic-dedup", "nb-classify", "snapshot-delta",
        ],
        help="training-data corpus operation over a (doc_id, text[, "
        "lang, source]) parquet at --input: chunk = sliding token "
        "windows; pack = greedy sequence packing; dedup-verdicts = "
        "the composed scale-safe dedup pipeline (exact pre-collapse + "
        "capped MinHash-LSH + components, full domain); decontaminate "
        "= n-gram overlap vs --benchmark; quality = scoring features; "
        "exact-dedup = identical-text groups; sample = deterministic "
        "--fraction subsample; html-extract = main-content spans from "
        "an (doc_id, html) table (or synthesized pages over a docs "
        "table); substring-spans/-strip = corpus-repeated token-window "
        "spans (Lee et al. exact-substring dedup), reported / removed; "
        "decontaminate-spans = strip ONLY benchmark-leaked windows "
        "(keep the doc); contamination-stats = per-doc leaked-window "
        "fraction + keep verdict; repetition = Gopher repetition-filter "
        "features; lm-score = bigram-LM quality scores (train on "
        "--train-input or a deterministic 30%% sample); tfidf = top-k "
        "TF-IDF terms per doc; decontaminate-jaccard = graded whole-doc "
        "decontamination (best benchmark match by exact --ngram Jaccard, "
        "keep iff < --max-contamination); redact-pii = typed placeholder "
        "scrubbing (email/ipv4/phone) with per-type counts; bpe-merges = "
        "top --topk adjacent char pairs (one BPE merge round); bpe-train "
        "= ITERATIVE BPE training, --n-merges rounds (one corpus pass "
        "each), emits the learned merge table; vocab-coverage = top-k "
        "vocabulary coverage summary; mixture-plan = per-source sampling "
        "fractions realising --weights (JSON) with max retention; "
        "inverted-index = positional index, postings capped at "
        "--max-postings docs per term; pagerank = integer-arithmetic "
        "PageRank over an (src, dst) edge parquet (or the docs host "
        "graph), --pr-iters rounds",
    )
    p.add_argument("--pr-iters", type=int, default=3,
                   help="PageRank iterations (--corpus-op pagerank)")
    p.add_argument("--eps", type=float, default=0.3,
                   help="cosine threshold (--corpus-op semantic-dedup)")
    p.add_argument("--table-op", default=None,
                   choices=["upsert", "compact"],
                   help="bucket-partitioned table maintenance at "
                   "--output: upsert = MERGE the key-unique updates at "
                   "--input (copy-on-write; only touched bucket dirs "
                   "are rewritten); compact = rewrite fragmented "
                   "bucket dirs only (--input ignored)")
    p.add_argument("--n-buckets", type=int, default=64,
                   help="bucket count of the --table-op upsert table")
    p.add_argument("--max-postings", type=int, default=64,
                   help="posting-list doc cap (--corpus-op "
                   "inverted-index); df_count stays exact")
    p.add_argument("--weights", default=None,
                   help='JSON source->weight map, e.g. \'{"src0": 0.5, '
                   '"src1": 0.5}\' (--corpus-op mixture-plan)')
    p.add_argument("--n-merges", type=int, default=10,
                   help="merge rounds (--corpus-op bpe-train)")
    p.add_argument("--train-input", default=None,
                   help="LM training-split parquet (--corpus-op "
                   "lm-score); default: deterministic 30%% sample of "
                   "--input")
    p.add_argument("--lm-shuffle-join", action="store_true",
                   help="lm-score: shuffle-join the model tables "
                   "instead of broadcasting (for adversarially flat "
                   "token distributions where the observed-bigram "
                   "table grows with the corpus)")
    p.add_argument("--topk", type=int, default=3,
                   help="result size k: terms per doc (--corpus-op "
                   "tfidf), merge pairs (--corpus-op bpe-merges), "
                   "heavy hitters (cms-tokens), or docs kept (dsir)")
    p.add_argument("--bloom-width", type=int, default=6,
                   help="bloom slot width in hex chars: 16^w slots "
                   "per hash (--corpus-op bloom-decontaminate-packed)")
    p.add_argument("--bloom-k", type=int, default=3,
                   help="bloom hash count "
                   "(--corpus-op bloom-decontaminate-packed)")
    p.add_argument("--target-lang", default="en",
                   help="DSIR target split when --train-input is not "
                   "given: docs with this lang column value "
                   "(--corpus-op dsir)")
    p.add_argument("--max-contamination", type=float, default=0.05,
                   help="keep threshold (--corpus-op contamination-"
                   "stats / decontaminate-jaccard; for the latter a "
                   "whole-doc Jaccard bar like 0.8 is typical)")
    p.add_argument("--window", type=int, default=8,
                   help="token-window width k (--corpus-op substring-*)")
    p.add_argument("--min-count", type=int, default=2,
                   help="corpus-wide repeat threshold (--corpus-op "
                   "substring-*)")
    p.add_argument("--benchmark", default=None,
                   help="eval-set parquet for --corpus-op decontaminate")
    p.add_argument("--max-tokens", type=int, default=128,
                   help="chunk window (--corpus-op chunk)")
    p.add_argument("--overlap", type=int, default=16,
                   help="chunk overlap (--corpus-op chunk)")
    p.add_argument("--capacity", type=int, default=256,
                   help="pack token capacity (--corpus-op pack)")
    p.add_argument("--n-shards", type=int, default=None,
                   help="pack shard count = parallelism (--corpus-op "
                   "pack); default = 2x defaultParallelism, floor 8")
    p.add_argument("--ngram", type=int, default=8,
                   help="n-gram size (--corpus-op decontaminate)")
    p.add_argument("--fraction", type=float, default=0.1,
                   help="keep rate (--corpus-op sample)")
    p.add_argument("--salt", default="s1",
                   help="sampling salt (--corpus-op sample)")
    p.add_argument("--dedup-method", default="minhash",
                   choices=["minhash", "simhash"],
                   help="dedup-verdicts candidate generator")
    p.add_argument("--max-bucket", type=int, default=64,
                   help="dedup-verdicts hot-bucket cap; 0 = uncapped "
                   "(the b² blowup — only for small corpora / A-B runs)")
    p.add_argument(
        "--predict-http",
        default=None,
        metavar="URL",
        help="run batched layout prediction over a page-image parquet "
        "(doc_id, image npy bytes) at --input through the HTTP model "
        "client (operators/predictor.HttpLayoutModel — real sockets, "
        "retry ×5 exponential backoff, 30 s per-attempt deadline, "
        "per-page quarantine); boxes to --output. Serve a loopback "
        "model with python -m jochre3_ocr_spark.operators.model_server. "
        "One-shot overwrite semantics; for resumable continuous ingest "
        "use streaming.stream_predict_layout (the checkpoint file log "
        "resumes correctly even for zero-box pages)",
    )
    p.add_argument("--generate-pages", type=int, default=0,
                   help="synthesize N deterministic page images into "
                   "--input first (--predict-http smoke runs)")
    args = p.parse_args(argv)

    from jochre3_ocr_spark.plans.pipeline import get_spark, run_job
    from jochre3_ocr_spark.schema import PipelineConfig
    from jochre3_ocr_spark.sources import corpus

    spark = get_spark(
        "jochre3-ocr-extract",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    # under spark-submit the in-code driver-memory config cannot apply
    # (the JVM pre-exists); a 1g default heap OOMs large corpora at
    # local[32] — tell the operator instead of failing mid-job
    max_heap = int(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    n_threads = spark.sparkContext.defaultParallelism
    if max_heap < n_threads * 192 * 1024 * 1024:
        print(
            f"WARNING: driver heap {max_heap >> 20} MiB is small for "
            f"{n_threads} local executor threads — pass --driver-memory 8g "
            f"to spark-submit (in-code config cannot resize a running JVM)",
            file=sys.stderr,
        )
    if args.generate:
        corpus.docs_df(spark, args.generate).write.mode("overwrite").parquet(
            args.input
        )

    if args.predict_http:
        from pyspark.sql import functions as F

        from jochre3_ocr_spark.operators.model_server import (
            synthesize_page_table,
        )
        from jochre3_ocr_spark.operators.predictor import (
            HttpLayoutModel,
            RetryingBatchPredictor,
            predict_layout_boxes,
        )

        # MB-scale binary page images break BOTH batch-size defaults
        # (BENCH.md round-3 OOM site, now measured on the read side too):
        # the vectorized parquet reader's 4096-row column batch wants
        # rows × image-bytes CONTIGUOUS heap (~209 MB for 640² pages —
        # 13 executor threads OOMed a 20k-page drive), and each Arrow
        # batch crossing to Python pins records × image-bytes of direct
        # memory per task. Both confs are runtime-settable, so scope
        # them to this image-table job instead of penalizing narrow
        # analytic scans in get_spark.
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "32")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "32")
        if args.generate_pages:
            synthesize_page_table(spark, args.generate_pages).write.mode(
                "overwrite"
            ).parquet(args.input)
        url = args.predict_http

        def make_predictor():
            # built ON THE WORKER (predict_layout_boxes contract): one
            # HTTP client per task, like the reference's per-executor
            # zio.http client (YoloPredictor.scala:58)
            return RetryingBatchPredictor(HttpLayoutModel(url))

        pages = spark.read.parquet(args.input)
        t0 = time.time()
        boxes = predict_layout_boxes(pages, make_predictor)
        boxes.write.mode("overwrite").parquet(args.output)
        # "sec" covers the prediction+write job only; the verification
        # reads below are untimed. pages comes from the input's parquet
        # footers (row-count only, no data scan) — the output can't
        # stand in for it because a zero-box ok page emits no row.
        sec = round(time.time() - t0, 2)
        got = spark.read.parquet(args.output)
        stats = got.agg(
            F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
            F.sum((F.col("status") == "error").cast("long")).alias("err"),
        ).collect()[0]
        print(json.dumps({
            "predict_http": url,
            "pages": pages.count(),
            "box_rows": int(stats["ok"] or 0),
            "error_rows": int(stats["err"] or 0),
            "sec": sec,
            "output": args.output,
        }))
        spark.stop()
        return 0

    if args.annotate:
        from jochre3_ocr_spark.sources import extractors as X

        src = spark.read.parquet(args.input)
        voe = args.validation_one_every
        if args.annotate in ("glyph", "word", "line"):
            out = X.extract_crops(src, unit=args.annotate,
                                  validation_one_every=voe)
        elif args.annotate == "yolo":
            objs = [o.strip() for o in args.yolo_objects.split(",") if o.strip()]
            out = X.yolo_annotations(src, objs, validation_one_every=voe)
        elif args.annotate == "word-to-glyph":
            out = X.word_to_glyph_annotations(src, validation_one_every=voe)
        elif args.annotate == "rotation":
            out = X.rotation_annotations(src, validation_one_every=voe)
        elif args.annotate == "alto-text":
            out = X.alto_to_text(src)
        else:
            out = X.transform_corpus(src)
        return _write_and_report(spark, out, args.output, "annotate", args.annotate)

    if args.table_op:
        import json as _json
        import time as _time

        from jochre3_ocr_spark.sources import upsert as U

        t0 = _time.time()
        if args.table_op == "upsert":
            stats = U.merge_upsert(
                spark,
                args.output,
                spark.read.parquet(args.input),
                n_buckets=args.n_buckets,
            )
        else:
            stats = U.compact_partitions(spark, args.output)
        stats["table_op"] = args.table_op
        stats["table"] = args.output
        stats["sec"] = round(_time.time() - t0, 2)
        print(_json.dumps(stats), flush=True)
        return 0

    if args.corpus_op:
        docs = spark.read.parquet(args.input)
        # timer must start BEFORE the operator builds its plan: the
        # iterative ops (pagerank, bpe-train, dedup CC) execute their
        # rounds at construction time under AQE (see _write_and_report)
        t_op = time.time()
        if args.corpus_op == "chunk":
            from jochre3_ocr_spark.operators.text_metrics import chunk_documents

            out = chunk_documents(docs, args.max_tokens, args.overlap)
        elif args.corpus_op == "pack":
            from jochre3_ocr_spark.operators.packing import pack_sequences

            n_shards = args.n_shards or max(
                spark.sparkContext.defaultParallelism * 2, 8
            )
            out = pack_sequences(
                docs, capacity=args.capacity, n_shards=n_shards
            )
        elif args.corpus_op == "dedup-verdicts":
            from jochre3_ocr_spark.operators.dedup import (
                dedup_corpus,
                hot_bucket_summary,
            )

            cap = args.max_bucket or None
            if cap is not None:
                # the operational path always reports cap activity as one
                # machine-readable stderr line (ADVICE r4 — the simhash
                # cap is not output-invariant, so a silently-hot bucket
                # must be visible); one stats pass over the pre-collapsed
                # representatives the pipeline bands
                hot = hot_bucket_summary(
                    docs, method=args.dedup_method, max_bucket=cap
                )
                if hot["n_hot"]:
                    print(json.dumps({
                        "dedup_hot_buckets": True,
                        "max_bucket_size": int(hot["max_bucket_size"]),
                        "pairs_uncapped": int(hot["pairs_uncapped"]),
                        "pairs_after_cap": int(hot["pairs_capped"]),
                    }), file=sys.stderr)
            out = dedup_corpus(docs, method=args.dedup_method, max_bucket=cap)
        elif args.corpus_op == "html-extract":
            from jochre3_ocr_spark.operators.html_extract import (
                html_extract,
                synthesize_html_corpus,
            )

            # (doc_id, html) input runs the extractor directly; a plain
            # docs table (no html column) drives it through the
            # deterministic synthetic-page builder
            if "html" not in docs.columns:
                docs = synthesize_html_corpus(docs)
            out = html_extract(docs)
        elif args.corpus_op == "decontaminate":
            if not args.benchmark:
                p.error("--corpus-op decontaminate requires --benchmark")
            from jochre3_ocr_spark.operators.dedup import decontaminate

            bench = spark.read.parquet(args.benchmark)
            out = decontaminate(docs, bench, n=args.ngram)
        elif args.corpus_op in ("substring-spans", "substring-strip"):
            from jochre3_ocr_spark.operators.substring import (
                duplicated_window_spans,
                strip_duplicated_spans,
            )

            fn = (
                duplicated_window_spans
                if args.corpus_op == "substring-spans"
                else strip_duplicated_spans
            )
            out = fn(docs, k=args.window, min_count=args.min_count)
        elif args.corpus_op == "decontaminate-jaccard":
            if not args.benchmark:
                p.error("--corpus-op decontaminate-jaccard requires --benchmark")
            from jochre3_ocr_spark.operators.dedup import decontaminate_jaccard

            bench = spark.read.parquet(args.benchmark)
            out = decontaminate_jaccard(
                docs, bench, n=args.ngram,
                threshold=args.max_contamination,
            )
        elif args.corpus_op in ("decontaminate-spans", "contamination-stats"):
            if not args.benchmark:
                p.error(f"--corpus-op {args.corpus_op} requires --benchmark")
            from jochre3_ocr_spark.operators.substring import (
                contamination_stats,
                decontaminate_spans,
            )

            bench = spark.read.parquet(args.benchmark)
            if args.corpus_op == "decontaminate-spans":
                out = decontaminate_spans(docs, bench, k=args.window)
            else:
                out = contamination_stats(
                    docs, bench, k=args.window,
                    max_fraction=args.max_contamination,
                )
        elif args.corpus_op == "redact-pii":
            from jochre3_ocr_spark.operators.redaction import redact_pii

            out = redact_pii(docs)
        elif args.corpus_op == "inverted-index":
            from jochre3_ocr_spark.operators.text_metrics import (
                inverted_index,
            )

            out = inverted_index(docs, max_postings=args.max_postings)
        elif args.corpus_op == "vocab-coverage":
            from jochre3_ocr_spark.operators.text_metrics import (
                vocab_coverage,
            )

            out = vocab_coverage(docs)
        elif args.corpus_op == "mixture-plan":
            if not args.weights:
                p.error("--corpus-op mixture-plan requires --weights")
            import json as _json

            from jochre3_ocr_spark.operators.text_metrics import mixture_plan

            out = mixture_plan(docs, _json.loads(args.weights))
        elif args.corpus_op == "bpe-train":
            from jochre3_ocr_spark.operators.bpe import train_bpe

            out = train_bpe(docs, n_merges=args.n_merges)
        elif args.corpus_op == "bpe-merges":
            from jochre3_ocr_spark.operators.text_metrics import (
                bpe_merge_candidates,
            )

            out = bpe_merge_candidates(docs, k=args.topk)
        elif args.corpus_op == "repetition":
            from jochre3_ocr_spark.operators.repetition import (
                repetition_features,
            )

            out = repetition_features(docs)
        elif args.corpus_op == "lm-score":
            from jochre3_ocr_spark.operators.lm import bigram_lm_scores
            from jochre3_ocr_spark.operators.text_metrics import (
                deterministic_sample,
            )

            train = (
                spark.read.parquet(args.train_input)
                if args.train_input
                else deterministic_sample(docs, fraction=0.3, salt=args.salt)
            )
            out = bigram_lm_scores(
                docs, train, broadcast_model=not args.lm_shuffle_join
            )
        elif args.corpus_op == "tfidf":
            from jochre3_ocr_spark.operators.text_metrics import (
                tfidf_top_terms,
            )

            out = tfidf_top_terms(docs, k=args.topk)
        elif args.corpus_op == "sample":
            from jochre3_ocr_spark.operators.text_metrics import (
                deterministic_sample,
            )

            out = deterministic_sample(
                docs, fraction=args.fraction, salt=args.salt
            )
        elif args.corpus_op == "quality":
            from jochre3_ocr_spark.operators.text_metrics import quality_features

            out = quality_features(docs)
        elif args.corpus_op == "cms-tokens":
            from pyspark.sql import functions as F

            from jochre3_ocr_spark.operators.sketches import (
                cms_estimate,
                cms_sketch,
            )

            sk = cms_sketch(docs)
            exact = (
                docs.select(
                    F.explode(
                        F.filter(F.split("text", " "), lambda x: x != "")
                    ).alias("token")
                )
                .groupBy("token")
                .agg(F.count(F.lit(1)).alias("exact_cnt"))
                .orderBy(F.desc("exact_cnt"), "token")
                .limit(args.topk)
            )
            out = exact.join(cms_estimate(sk, exact.select("token")), "token")
        elif args.corpus_op == "bloom-decontaminate":
            if not args.benchmark:
                p.error("--corpus-op bloom-decontaminate requires --benchmark")
            from jochre3_ocr_spark.operators.sketches import (
                bloom_bits,
                bloom_decontaminate,
            )

            bench = spark.read.parquet(args.benchmark)
            out = bloom_decontaminate(
                docs, bloom_bits(bench, n=args.ngram), n=args.ngram
            )
        elif args.corpus_op == "bloom-decontaminate-packed":
            if not args.benchmark:
                p.error(
                    "--corpus-op bloom-decontaminate-packed requires "
                    "--benchmark"
                )
            from jochre3_ocr_spark.operators.sketches import (
                bloom_bitmap,
                bloom_decontaminate_packed,
            )

            bench = spark.read.parquet(args.benchmark)
            kw = dict(
                n=args.ngram, k=args.bloom_k, width_hex=args.bloom_width
            )
            bm = bloom_bitmap(bench, **kw)
            print(
                json.dumps(
                    {"bloom_bitmap_mb": round(len(bm) / 1e6, 1),
                     "bloom_fill": round(
                         int.from_bytes(bm, "little").bit_count()
                         / (args.bloom_k * 16 ** args.bloom_width), 4)}
                ),
                flush=True,
            )
            out = bloom_decontaminate_packed(docs, bm, **kw)
        elif args.corpus_op == "dsir":
            from jochre3_ocr_spark.operators.importance import (
                dsir_log_weights,
                dsir_select,
            )

            target = (
                spark.read.parquet(args.train_input)
                if args.train_input
                else docs.filter(docs.lang == args.target_lang)
            )
            out = dsir_select(
                dsir_log_weights(docs, target), keep=args.topk
            )
        elif args.corpus_op == "url-canonical":
            from jochre3_ocr_spark.operators.urls import (
                canonicalize_urls,
                synthesize_urls,
            )

            u = docs if "url" in docs.columns else synthesize_urls(docs)
            out = canonicalize_urls(u)
        elif args.corpus_op == "host-stats":
            from jochre3_ocr_spark.operators.urls import (
                host_stats,
                synthesize_urls,
            )

            u = docs if "url" in docs.columns else synthesize_urls(docs)
            out = host_stats(u)
        elif args.corpus_op == "robots-verdicts":
            from jochre3_ocr_spark.operators.urls import (
                robots_verdicts,
                synthesize_robots_rules,
                synthesize_urls,
            )

            # a (host, rule_type, path_prefix) table at --train-input
            # supplies real parsed robots rules; otherwise synthesize
            u = docs if "url" in docs.columns else synthesize_urls(docs)
            rules = (
                spark.read.parquet(args.train_input)
                if args.train_input
                else synthesize_robots_rules(u)
            )
            out = robots_verdicts(u, rules)
        elif args.corpus_op == "frontier":
            from jochre3_ocr_spark.operators.graphs import (
                pagerank,
                synthesize_link_graph,
            )
            from jochre3_ocr_spark.operators.urls import (
                bridge_node_ranks,
                frontier_priorities,
                synthesize_robots_rules,
                synthesize_urls,
            )

            u = docs if "url" in docs.columns else synthesize_urls(docs)
            rules = (
                spark.read.parquet(args.train_input)
                if args.train_input
                else synthesize_robots_rules(u)
            )
            # a (host, host_rank) table at --benchmark supplies real
            # authority scores; otherwise rank the synthetic host graph
            if args.benchmark:
                ranks = spark.read.parquet(args.benchmark)
            else:
                ranks = bridge_node_ranks(
                    pagerank(synthesize_link_graph(docs),
                             iters=args.pr_iters)
                )
            out = frontier_priorities(u, rules, ranks)
        elif args.corpus_op == "snapshot-delta":
            from jochre3_ocr_spark.operators.urls import snapshot_delta

            if not args.train_input:
                raise SystemExit(
                    "--corpus-op snapshot-delta needs the NEW snapshot at "
                    "--train-input (docs at --input are the OLD one)"
                )
            out = snapshot_delta(
                docs, spark.read.parquet(args.train_input)
            )
        elif args.corpus_op == "nb-classify":
            from jochre3_ocr_spark.operators.classifier import nb_classify

            train = (
                spark.read.parquet(args.train_input)
                if args.train_input
                else docs.where("doc_id % 2 = 0")
            )
            out = nb_classify(docs, train, label_col="lang")
        elif args.corpus_op == "semantic-dedup":
            from jochre3_ocr_spark.operators.similarity import (
                kmeans_centroids_sampled,
                semantic_dedup,
            )

            if not {"vec_id", "embedding"} <= set(docs.columns):
                raise SystemExit(
                    "--corpus-op semantic-dedup needs an embeddings table "
                    "(vec_id, embedding array<float>)"
                )
            # production mode: sample-trained k-means centroids
            cents = kmeans_centroids_sampled(docs, k=args.n_buckets or 8)
            out = semantic_dedup(docs, eps=args.eps, centroids=cents)
        elif args.corpus_op == "pagerank":
            from jochre3_ocr_spark.operators.graphs import (
                pagerank,
                synthesize_link_graph,
            )

            # an (src, dst) edge table runs directly; a docs table is
            # lifted to its host link graph first
            e = (
                docs
                if {"src", "dst"} <= set(docs.columns)
                else synthesize_link_graph(docs)
            )
            out = pagerank(
                e,
                iters=args.pr_iters,
                num_partitions=args.shuffle_partitions,
            )
        else:
            from jochre3_ocr_spark.operators.dedup import exact_dedup

            out = exact_dedup(docs)
        return _write_and_report(
            spark, out, args.output, "corpus_op", args.corpus_op, t0=t_op
        )

    if args.lexicon:
        with open(args.lexicon, encoding="utf-8") as f:
            words = [w.strip() for w in f if w.strip()]
    else:
        words = corpus.lexicon_words()

    config = PipelineConfig(
        beam_width=args.beam_width,
        unknown_word_factor=args.unknown_word_factor,
        remove_glyphs=args.remove_glyphs,
        language=args.language,
    )
    metrics_path = (
        None
        if args.metrics == "none"
        else (args.output + "_metrics" if args.metrics == "auto" else args.metrics)
    )
    t0 = time.time()
    n = run_job(
        spark,
        args.input,
        args.output,
        words,
        config=config,
        metrics_path=metrics_path,
    )
    formats = [f.strip() for f in args.formats.split(",") if f.strip()]
    extra = [f for f in formats if f != "spans"]
    if extra:
        from jochre3_ocr_spark.plans.pipeline import finalize
        from jochre3_ocr_spark.sources.sinks import write_alto, write_text

        out = spark.read.parquet(args.output)
        fin = finalize(out) if "spans_json" in out.columns else out
        if "text" in extra:
            write_text(fin, args.output + "_text", column="text")
        if "processed" in extra:
            write_text(fin, args.output + "_processed", column="processed_text")
        if "alto4" in extra:
            write_alto(fin, args.output + "_alto4")
    elapsed = time.time() - t0
    summary = {
        "docs_complete": n,
        "sec": round(elapsed, 2),
        "output": args.output,
    }
    if metrics_path:
        summary["metrics"] = metrics_path
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
