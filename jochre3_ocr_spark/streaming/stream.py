"""Structured Streaming facade over the batch extraction pipeline.

The reference is batch-per-document (SURVEY.md §2.11 — its only streams
are a PDF page iterator and HTTP bodies), so the streaming surface here
is incremental ingestion of new docs-parquet files: readStream →
the same narrow extraction kernel → writeStream with
``Trigger.AvailableNow`` (process everything currently available, then
stop) and exactly-once file-sink semantics via the checkpoint — the
Spark-idiomatic resume (complements the anti-join resume of
plans/pipeline.run_job).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from jochre3_ocr_spark.plans.pipeline import PipelineConfig, extract
from jochre3_ocr_spark.schema import DOCS_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lexicon_words: list[str],
    config: PipelineConfig | None = None,
    await_termination: bool = True,
):
    """Incrementally extract any docs-parquet files not yet processed.

    Returns the StreamingQuery (already terminated when
    ``await_termination``). Re-running picks up only NEW files — the
    checkpoint's file log is the source of truth.
    """
    # The docs dir may carry EITHER spans encoding: the array<struct>
    # DOCS_SCHEMA shape (docs_to_arrow / write_docs_parquet) or the
    # pre-encoded (doc_id, spans_json, n_in_spans) shape docs_df emits
    # since round 6 — or BOTH, mid-migration. readStream needs an
    # explicit schema, so infer the UNION schema from the files already
    # present (mergeSchema batch probe); a fixed DOCS_SCHEMA over
    # JSON-shaped files would read every span column as NULL and crash
    # the kernel. Only a genuinely missing/empty dir falls back to
    # DOCS_SCHEMA (the historical contract); real read errors propagate
    # (the broad-except-hides-the-cause lesson, CLAUDE.md session-5).
    from pyspark.errors import AnalysisException

    from jochre3_ocr_spark.plans.pipeline import _is_missing_read

    try:
        schema = (
            spark.read.option("mergeSchema", "true")
            .parquet(input_dir)
            .schema
        )
        if "spans" not in schema.names and "spans_json" not in schema.names:
            schema = DOCS_SCHEMA
    except AnalysisException as e:
        if not _is_missing_read(e, input_dir):
            raise
        schema = DOCS_SCHEMA  # first run, nothing written yet
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    if "spans" in docs.columns and "spans_json" in docs.columns:
        # mixed-shape dir: per FILE only one encoding is populated —
        # coalesce row-wise so extract's JSON fast path sees valid JSON for
        # every row regardless of which producer wrote its file
        docs = docs.select(
            "doc_id",
            F.coalesce("spans_json", F.to_json("spans")).alias(
                "spans_json"
            ),
            F.coalesce(
                F.col("n_in_spans").cast("int"), F.size("spans")
            ).alias("n_in_spans"),
        )
    # the batch kernel stage as is: its small-input spread passes a
    # streaming frame through untouched
    raw = extract(docs, lexicon_words, config)

    query = (
        raw.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_predict_layout(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    make_predictor=None,
    prediction_type_name: str = "blocks",
    max_files_per_trigger: int = 16,
    await_termination: bool = True,
):
    """Continuous-ingest DLA inference: readStream over a page-image
    parquet directory → the batched predictor slot
    (operators/predictor.predict_layout_boxes — same retry/backoff,
    resize/rescale, quarantine semantics as batch) → writeStream with
    ``Trigger.AvailableNow`` and exactly-once file-sink semantics.

    The production shape for a scanner feed: new page files land in the
    ingest directory, each micro-batch runs ONE batched forward per
    Arrow batch, and re-running picks up only unprocessed files from
    the checkpoint's file log — which also makes this the RESUMABLE
    form of page prediction (a zero-box ok page emits no output row, so
    a batch-side resume anti-join cannot tell it from an unprocessed
    page; the file log can). Keep ``maxFilesPerTrigger`` small for
    MB-scale page images, and size BOTH
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` and
    ``spark.sql.parquet.columnarReaderBatchSize`` to ~16-32 on the
    session — micro-batch memory is rows × image-bytes on each side of
    the Arrow boundary, and the vectorized reader's 4096-row default
    allocates that contiguously on heap (BENCH.md rounds 3 and 5 OOM
    sites)."""
    from jochre3_ocr_spark.operators.predictor import (
        NumpyLayoutModel,
        RetryingBatchPredictor,
        predict_layout_boxes,
    )

    if make_predictor is None:
        def make_predictor():
            return RetryingBatchPredictor(NumpyLayoutModel())

    pages = (
        spark.readStream.schema("doc_id string, image binary")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    boxes = predict_layout_boxes(
        pages, make_predictor, prediction_type_name
    )
    query = (
        boxes.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def stream_events_hourly(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    await_termination: bool = True,
):
    """Watermarked tumbling-window aggregation over an events stream:
    late rows beyond the watermark are dropped, and a window emits
    exactly once when the watermark passes its end (append mode) — the
    streaming twin of the batch q_events_hourly query.

    At scale this is the canonical infinite-ingest shape: state is
    bounded by (watermark horizon × active windows), not history.
    """
    from pyspark.sql import functions as F

    events = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    query = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_sessions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_sec: int = 1800,
    await_termination: bool = True,
):
    """Custom stateful streaming operator: per-user sessionization with
    ``applyInPandasWithState`` — sessions close when the EVENT-TIME gap
    to the next event exceeds ``gap_sec`` (the streaming twin of the
    batch q_events_sessions query).

    State per user: (session_start, last_ts, n_events, total_value).
    A micro-batch folds its events in ts order; crossing a gap emits the
    closed session and restarts state. Event-time timeout closes the
    final dangling session when the watermark passes last_ts + gap.
    State is bounded by active users, not history — the 100 TB shape.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, total_value double"
    )
    state_schema = (
        "session_start long, last_ts long, n_events long, total_value double"
    )

    def fold(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            ss, lt, n, tv = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": pd.Timestamp(ss, unit="us"),
                        "session_end": pd.Timestamp(lt, unit="us"),
                        "n_events": n,
                        "total_value": round(tv, 2),
                    }
                ]
            )
            return

        rows = pd.concat(list(pdf_iter)).sort_values("ts")
        closed = []
        if state.exists:
            ss, lt, n, tv = state.get
        else:
            ss = lt = None
            n, tv = 0, 0.0
        gap_us = gap_sec * 1_000_000
        for ts, value in zip(rows["ts"], rows["value"]):
            t_us = int(ts.value // 1000)  # ns → µs
            if lt is not None and t_us - lt > gap_us:
                closed.append((ss, lt, n, tv))
                ss, n, tv = t_us, 0, 0.0
            if ss is None:
                ss = t_us
            lt = t_us
            n += 1
            tv += float(value)
        state.update((ss, lt, n, tv))
        # close the dangling session once the watermark passes last+gap
        state.setTimeoutTimestamp(lt // 1000 + gap_sec * 1000)
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": pd.Timestamp(s, unit="us"),
                        "session_end": pd.Timestamp(e, unit="us"),
                        "n_events": cn,
                        "total_value": round(cv, 2),
                    }
                    for s, e, cn, cv in closed
                ]
            )

    events = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
        .withWatermark("ts", f"{gap_sec} seconds")
        .select("user_id", "ts", "value")
    )
    sessions = events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    query = (
        sessions.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


_DOCS_TEXT_DDL = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def stream_score_documents(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
):
    """Incremental corpus scoring: redact PII, then quality-score the
    CLEAN text — the stateless filter-stack prefix as a stream.  Every
    stage is a pure projection (no aggregation, no watermark needed),
    so the streaming plan is identical to the batch twin's per-row
    semantics; exactly-once delivery comes from the file-sink
    checkpoint, and re-running picks up only NEW files.
    """
    from jochre3_ocr_spark.operators.redaction import redact_pii
    from jochre3_ocr_spark.operators.text_metrics import quality_features

    docs = (
        spark.readStream.schema(_DOCS_TEXT_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    red = redact_pii(docs)
    # one projection end to end — no stream self-join; n_redactions
    # rides through quality_features' passthrough
    scored = quality_features(
        red.withColumnRenamed("clean_text", "text"),
        text_col="text",
        extra_cols=("n_redactions",),
    )
    query = (
        scored.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    benchmark=None,
    await_termination: bool = True,
):
    """Streaming exact deduplication (+ optional exact decontamination):
    keep the MIN-doc_id document per text hash across micro-batches AND
    across AvailableNow re-runs — a custom ``applyInPandasWithState``
    operator keyed by the hash, whose state lives in the checkpoint's
    state store so a duplicate arriving in a later run of the same
    checkpoint is still suppressed (the cross-run twin of
    ``dedup.exact_dedup``, which also keeps min doc_id — and unlike
    ``dropDuplicates``, the within-batch keeper is DETERMINISTIC, per
    the repo's partitioning-independence invariant).  ``benchmark`` (a
    static DataFrame with a ``text`` column) drops any incoming doc
    whose exact text appears in it via a stream-static broadcast
    anti-join; both operations are append-mode safe, and the sink
    schema is the INPUT doc schema (the hash never leaks).

    Scale note: state is one flag per distinct text hash, unbounded
    over the stream's lifetime; a production deployment ages it out
    with an event-time timeout once the feed carries an ingest-time
    column.  The benchmark side is an eval suite — its hash set
    broadcasts into every micro-batch.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    docs = (
        spark.readStream.schema(_DOCS_TEXT_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
        .withColumn("text_hash", F.md5("text"))
    )
    if benchmark is not None:
        bench_h = benchmark.select(
            F.md5("text").alias("text_hash")
        ).distinct()
        docs = docs.join(F.broadcast(bench_h), "text_hash", "left_anti")

    doc_cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def keep_first(key, pdf_iter, state):
        if state.exists:
            for _ in pdf_iter:  # drain; hash already emitted
                pass
            return
        best = None
        for pdf in pdf_iter:
            cand = pdf.loc[pdf["doc_id"].idxmin()]
            if best is None or cand["doc_id"] < best["doc_id"]:
                best = cand
        if best is not None:
            state.update((1,))
            yield pd.DataFrame([best[doc_cols]])

    deduped = docs.groupBy("text_hash").applyInPandasWithState(
        keep_first,
        outputStructType=_DOCS_TEXT_DDL,
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    query = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_web_ingest(
    spark: SparkSession,
    input_dir: str,
    rules_df,
    output_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
):
    """Incremental crawl-policy ingest: canonicalize newly-landed urls
    and apply robots verdicts as ONE stateless streaming projection —
    the crawl's front door as a stream.

    Works unchanged on a stream precisely because the best-rule match
    is an array expression over the broadcast per-host rule list (a
    per-url window would be an unsupported/stateful streaming op —
    the batch-side shuffle-costume fix bought streaming support for
    free).  ``rules_df`` is a STATIC (host, rule_type, path_prefix)
    table; the join is the standard stream-static broadcast.
    Exactly-once from the file-sink checkpoint; re-running picks up
    only NEW url files."""
    from jochre3_ocr_spark.operators.urls import robots_verdicts

    urls = (
        spark.readStream.schema("doc_id string, url string")
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    verdicts = robots_verdicts(urls, rules_df)
    query = (
        verdicts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query
