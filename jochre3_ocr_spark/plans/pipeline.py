"""The end-to-end Spark extraction pipeline.

Physical plan shape (SURVEY.md §4):

    Scan docs (parquet/Iceberg; column-pruned to doc_id, spans)
      → [resume anti-join on checkpointed doc_ids]
      → split: normal docs (narrow mapInPandas, ZERO shuffle)
             | giant docs  (split at block boundaries → salted chunks →
                            kernel → groupBy(doc_id) reassemble — the only
                            shuffle, and only over the skewed 1%)
      → union → write parquet/Iceberg + checkpoint table

Design notes for 100 TB / 1000 executors:
* the normal path is embarrassingly parallel: one Arrow batch in, one
  out, whole job pipelined with no exchange;
* span arrays cross the JVM↔Python boundary as JSON strings
  (``to_json`` / ``from_json``, both JVM whole-stage codegen). In the
  kernel stage's loop the span-JSON encode is 11 % and the decode
  6.5 %; pyarrow encodes 3–4× and decodes column-wise 2–3× faster, so
  at most ~15 % of the loop is at stake (CLAUDE.md, ROADMAP);
* the giant-doc path implements the north_rule's salted repartition —
  a 200-page document becomes ~N chunk rows spread across executors;
  correctness of reassembly relies on block independence (content joins
  are per top-level block: Page.scala:156-166);
* every entry point (extract, both salting branches, extract_text_df,
  ocr_documents) runs the kernel through ONE stage, ``_kernel_stage``,
  which owns the worker lexicon, the per-doc quarantine, the span-JSON
  encode and the output batch;
* the lexicon ships once per executor via SparkContext.broadcast;
* resume is an anti-join against completed doc_ids derived from
  committed output — idempotent because task files commit atomically.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from functools import partial
from json.encoder import encode_basestring
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType
from pyspark.errors import AnalysisException

from jochre3_ocr_spark.schema import PipelineConfig

# spans-per-chunk when splitting giant docs; docs above the giant
# threshold get split at top-level block boundaries
CHUNK_TARGET_SPANS = 2_000
GIANT_THRESHOLD_SPANS = 8_000
#: resume: broadcast the TODO id set (payload-free semi-join) up to this
#: many ids (~50 B each hashed ≈ 250 MB at the cap); beyond it, fall back
#: to the payload anti-join — at that point most of the corpus is
#: unprocessed and the shuffle is proportionate to the remaining work
RESUME_BROADCAST_MAX_IDS = 5_000_000

_SPAN_ARRAY_DDL = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

#: the one declaration of an extraction output row; the kernel stage's
#: batches and :func:`finalize` take their columns from it
_RAW_OUT_DDL = (
    "doc_id string, spans_json string, text string, processed_text string, "
    "alternatives_json string, n_spans int, n_words int, "
    "mean_confidence double, language string, "
    "status string, error string"
)
_OUT_FIELDS = [field.split(" ", 1)[0] for field in _RAW_OUT_DDL.split(", ")]

_CHUNK_DDL = "doc_id string, chunk_id int, spans_json string"


def get_spark(
    app_name: str = "jochre3-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    import os

    builder = (
        SparkSession.builder.appName(app_name)
        # local[N] runs all executor threads in the driver JVM: the 1g
        # default heap OOMs ≥100k docs under 32 threads of string churn.
        # NOTE: this in-code setting only applies when PYTHON launches the
        # JVM (pytest / `python bench.py`). Under spark-submit the JVM
        # pre-exists — pass `--driver-memory 8g` or export
        # SPARK_DRIVER_MEMORY=8g (both honored by spark-submit itself).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.parquet.filterPushdown", "true")
        # python-kernel-heavy workload: cost per ROW dwarfs cost per byte,
        # and span columns compress ~30×, so split scans much finer than
        # the 128m default to keep every core busy (tune per cluster)
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "262144")
        # every parquet table the engine commits: span JSON repeats its
        # four keys in every span, and zstd halves the committed bytes
        # against the snappy default (6.7 → 3.4 KB per extract_job doc)
        # at the same write time. A committed corpus is written once and
        # read by resume, lineage, metrics and finalize, so the level is
        # 9, not parquet's 3. extract_job output, B/doc, same rows
        # rewritten on 4 CPUs: level 3 3 296, 6 2 943, 9 2 821, 10 2 783;
        # reading spans_json takes the same time at every level, and
        # writing the 28 MB output 0.21 → 0.34 s. Writer memory at 9
        # (SCALE.md §8): extract_giants peak RSS within 0.1 GiB of level
        # 3, and a killed 20k-doc job resumes exactly. Dictionary pages
        # stay on (off: extract output no smaller, dedup input +8 %).
        # Iceberg tables keep the codec of their own table properties.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "9")
        # task-granular atomic commits (v2): a killed job leaves only
        # fully-committed task files, which the resume anti-join then
        # skips — v1's job-level commit can resurrect a dead attempt's
        # staging files as duplicates (found by the kill-resume test)
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        # parquet writers buffer a full row group PER TASK before flushing;
        # at 32 local threads the 128 MB default can pin ~4 GB of heap on
        # wide span rows (measured: 100k-doc job OOMs an 8 GB driver).
        # 32 MB keeps scan parallelism fine at these file sizes.
        .config("spark.hadoop.parquet.block.size", str(32 * 1024 * 1024))
        # ...but the writer only CHECKS the block size every
        # min(100, adaptive) records (InternalParquetRecordWriter
        # .checkBlockSizeReached, floor = parquet.page.size.row.check.min)
        # — with multi-MB giant-doc rows the buffer overshoots 32 MB by
        # 100×+ before the first check. Measured at 1M docs / local[32]:
        # 228 MB direct-buffer reservations in the (then snappy) output
        # compressor × 32 writer tasks exhausted a 12 GB
        # MaxDirectMemorySize and killed the job (TASK_WRITE_FAILED).
        # Checking every row bounds writer memory to ~block.size per
        # task, under zstd as under snappy (extract_giants peak RSS
        # 4.85 vs 4.86 GiB); the check is O(columns) and unmeasurable
        # against the per-row kernel cost.
        .config("spark.hadoop.parquet.page.size.row.check.min", "1")
        .config("spark.hadoop.parquet.page.size.row.check.max", "32")
        # the vectorized reader materializes 4096 rows per batch by
        # default; span rows average ~200 struct elements (giants 40k+),
        # so a batch can hit tens of MB PER TASK — the measured OOM site
        # at 100k docs (FileScanRDD.hasNext). 512 bounds scan memory 8×
        # with no measurable throughput cost on this row shape.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
    )
    if master:
        builder = builder.master(master)
    return builder.getOrCreate()


def _spans_json_to_tuples(spans_json: str) -> list[tuple]:
    return [
        (s.get("kind"), s.get("text"), s.get("media_ref"), s.get("offset"))
        for s in json.loads(spans_json)
    ]


def _tuples_to_json(spans) -> str:
    """Byte-identical to ``json.dumps([{...}, ...], ensure_ascii=False)``
    over the span dicts: same separators, and the same C string escaper
    (``encode_basestring``) that json.dumps itself calls, without the
    intermediate dict objects. The span JSON is the engine's hot
    JVM↔Python transport.

    Giant-doc reassembly (``_splice_spans_json``) shifts offsets by
    matching the ``, "offset": N}`` this writes last in every span:
    change the two together."""
    enc = encode_basestring
    return "[" + ", ".join([
        '{"kind": %s, "text": %s, "media_ref": %s, "offset": %s}'
        % (
            "null" if k is None else enc(k),
            "null" if t is None else enc(t),
            "null" if m is None else enc(m),
            "null" if o is None else o,
        )
        for k, t, m, o in spans
    ]) + "]"


# per-worker-process lexicon cache: tasks reuse the Lexicon (and its warm
# to_yivo/frequency lru_caches) across the worker's lifetime
_WORKER_LEXICONS: dict[int, object] = {}


def _lexicon_cache_key(lexicon_bc):
    # The Broadcast wrapper is re-deserialized per task, so id() is unstable
    # across tasks AND can be reused by a different broadcast (CPython address
    # reuse). The broadcast FILE PATH is stable per broadcast on both driver
    # and workers and unique across broadcasts — key on it (then _bid for
    # JVM-side wrappers). The content-fingerprint fallback never touches
    # .value on a cache hit only when path/bid exist, so keep it last.
    path = getattr(lexicon_bc, "_path", None)
    if path is not None:
        return ("path", path)
    bid = getattr(lexicon_bc, "_bid", None)
    if bid is not None:
        return ("bid", bid)
    entries = lexicon_bc.value
    h = hashlib.md5()
    h.update(str(len(entries)).encode())
    for w in sorted(entries)[:1000]:
        h.update(w.encode("utf-8", "surrogatepass"))
        h.update(b"\x00")
    return ("fp", h.hexdigest())


def _get_worker_lexicon(lexicon_bc):
    key = _lexicon_cache_key(lexicon_bc)
    lex = _WORKER_LEXICONS.get(key)
    if lex is None:
        from jochre3_ocr_spark.functions.lexicon import Lexicon

        lex = Lexicon(frozenset(lexicon_bc.value))
        _WORKER_LEXICONS.clear()  # one lexicon per job is the norm
        _WORKER_LEXICONS[key] = lex
    return lex


def finalize(raw: DataFrame) -> DataFrame:
    """Restore the array<struct> spans column of an extraction output
    from its ``spans_json`` (JVM-side ``from_json``)."""
    return raw.select(*[
        F.from_json(c, _SPAN_ARRAY_DDL).alias("spans") if c == "spans_json" else c
        for c in _OUT_FIELDS
    ])


def _kernel_stage(df: DataFrame, lexicon_bc, row_fn) -> DataFrame:
    """The one mapInPandas stage that runs the kernel, shared by every
    extraction entry point. ``df`` holds ``doc_id``, optionally
    ``chunk_id``, and the payload as its LAST column; ``row_fn(doc_id,
    payload, lexicon)`` returns one kernel output dict with its spans as
    tuples. The stage owns the rest: the worker's lexicon (shipped by
    ``lexicon_bc``), one per-doc quarantine around the whole of
    ``row_fn`` and the ``spans_json`` encode — decode, page building and
    encode included, so a NULL or malformed input, or a span field of
    the wrong JSON type, becomes an error row, never a failed task
    (SURVEY.md §3.4) — and the output batch. A ``chunk_id`` column rides
    onto every row, error rows included."""
    payload = df.columns[-1]
    carry = "chunk_id" in df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from jochre3_ocr_spark.operators.kernel import error_row

        lexicon = _get_worker_lexicon(lexicon_bc)
        for batch in batches:
            rows = []
            for doc_id, value in zip(batch["doc_id"], batch[payload]):
                try:
                    out = row_fn(doc_id, value, lexicon)
                    out["spans_json"] = _tuples_to_json(out.pop("spans"))
                except Exception as exc:  # noqa: BLE001 — quarantine anything
                    out = error_row(doc_id, exc)
                    out["spans_json"] = _tuples_to_json(out.pop("spans"))
                rows.append(out)
            out_batch = pd.DataFrame(rows, columns=_OUT_FIELDS)
            if carry:
                out_batch.insert(0, "chunk_id", batch["chunk_id"].to_numpy())
            yield out_batch

    schema = "chunk_id int, " + _RAW_OUT_DDL if carry else _RAW_OUT_DDL
    return df.mapInPandas(run, schema=schema)


def _spans_row(config: PipelineConfig, doc_id, spans_json, lexicon) -> dict:
    """The kernel over one doc's span JSON."""
    from jochre3_ocr_spark.operators.kernel import process_document

    return process_document(
        doc_id, _spans_json_to_tuples(spans_json), lexicon, config
    )


def _prune_to_json(docs: DataFrame) -> DataFrame:
    # fast path: a producer that already encodes spans as JSON (plus an
    # optional span count) skips the arrow-struct → JVM to_json round
    # trip — measured ~25% off the salted Yiddish query at sf0.1
    if "spans_json" in docs.columns:
        n = (
            F.col("n_in_spans")
            if "n_in_spans" in docs.columns
            else F.size(F.from_json("spans_json", _SPAN_ARRAY_DDL))
        )
        return docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "spans_json",
            n.cast("int").alias("n_in_spans"),
        )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.to_json("spans").alias("spans_json"),
        F.size("spans").alias("n_in_spans"),
    )


def extract(
    docs: DataFrame,
    lexicon_words: list[str],
    config: PipelineConfig | None = None,
) -> DataFrame:
    """Narrow extraction over a docs DataFrame — no shuffle.

    Column-prunes to (doc_id, spans) so parquet/Iceberg scans read only
    what the kernel needs. The output spans stay a JSON string column
    (``spans_json``) — ~2× cheaper end-to-end at high span density than
    array<struct>; :func:`finalize` restores the struct column.
    """
    config = config or PipelineConfig()
    lexicon_bc = docs.sparkSession.sparkContext.broadcast(list(lexicon_words))
    pruned = _spread_small_input(_prune_to_json(docs).drop("n_in_spans"))
    return _kernel_stage(pruned, lexicon_bc, partial(_spans_row, config))


# ------------------------------------------------------- giant-doc salting
def _split_spans(spans_json: str) -> list[str]:
    """Cut one giant doc's span JSON into chunk JSONs at top-level
    block/media boundaries (blocks are independent for every downstream
    semantic — Page.scala:156-166). An empty doc is one empty chunk."""
    chunks: list[list] = [[]]
    for s in json.loads(spans_json):
        if (
            s.get("kind") in ("block", "media")
            and len(chunks[-1]) >= CHUNK_TARGET_SPANS
        ):
            chunks.append([])
        chunks[-1].append(s)
    return [json.dumps(chunk, ensure_ascii=False) for chunk in chunks]


def _split_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One row per chunk of each giant doc. A doc whose span JSON does not
    split (NULL, malformed) passes through as its own single chunk, so the
    chunk kernel's quarantine turns it into an error row."""
    for batch in batches:
        rows = []
        for doc_id, spans_json in zip(batch["doc_id"], batch["spans_json"]):
            try:
                chunks = _split_spans(spans_json)
            except Exception:  # noqa: BLE001 — quarantined by the chunk kernel
                chunks = [spans_json]
            rows.extend(
                {"doc_id": doc_id, "chunk_id": i, "spans_json": chunk}
                for i, chunk in enumerate(chunks)
            )
        yield pd.DataFrame(rows, columns=["doc_id", "chunk_id", "spans_json"])


def _majority_language(pdf: pd.DataFrame):
    counts: dict = {}
    for lang, n in zip(pdf["language"], pdf["n_words"]):
        if lang is not None and not (isinstance(lang, float) and pd.isna(lang)):
            counts[lang] = counts.get(lang, 0) + int(n)
    if not counts:
        return None
    return sorted(counts.items(), key=lambda kv: -kv[1])[0][0]


#: the last key of every span ``_tuples_to_json`` writes. A ``"`` inside
#: a JSON string is always escaped, so this never matches inside one.
_SPAN_OFFSET = re.compile(r', "offset": (\d+)\}')


def _splice_spans_json(chunk_jsons, chunk_n_spans) -> str:
    """One doc's span JSON from its chunks' (in chunk order), without
    decoding a span: the arrays are concatenated, and each chunk's
    offsets (its own 0..n-1) are shifted by the span count before it."""
    bodies = []
    base = 0
    for chunk_json, n in zip(chunk_jsons, chunk_n_spans):
        if n:
            body = chunk_json[1:-1]
            if base:
                body = _SPAN_OFFSET.sub(
                    lambda m: f', "offset": {int(m[1]) + base}}}', body
                )
            bodies.append(body)
            base += int(n)
    return "[" + ", ".join(bodies) + "]"


def _reassemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge chunk outputs back into one document row (applyInPandas).

    Text joins mirror Page.content / Page.processedContent: "\\n\\n" and
    "\\n" over text-bearing chunks. A doc whose every chunk failed gets
    the narrow path's quarantine row."""
    pdf = pdf.sort_values("chunk_id")
    errors = [e for e in pdf["error"] if e]
    if not (pdf["status"] == "ok").any():
        from jochre3_ocr_spark.operators.kernel import error_row

        out = error_row(key[0], "; ".join(errors))
        out["spans_json"] = _tuples_to_json(out.pop("spans"))
        return pd.DataFrame([out], columns=_OUT_FIELDS)
    texts = [t for t in pdf["text"] if t]
    processed = [t for t in pdf["processed_text"] if t]
    alts: dict = {}
    for a in pdf["alternatives_json"]:
        if a:
            alts.update(json.loads(a))
    return pd.DataFrame(
        [
            {
                "doc_id": key[0],
                "spans_json": _splice_spans_json(
                    pdf["spans_json"], pdf["n_spans"]
                ),
                "text": "\n\n".join(texts),
                "processed_text": "\n".join(processed),
                "alternatives_json": json.dumps(alts, ensure_ascii=False),
                "n_spans": int(pdf["n_spans"].sum()),
                "n_words": int(pdf["n_words"].sum()),
                # exact word-count-weighted mean over chunks (the page
                # mean is over ALL words, Jochre.scala:365-380)
                "mean_confidence": (
                    float(
                        (pdf["mean_confidence"] * pdf["n_words"]).sum()
                        / pdf["n_words"].sum()
                    )
                    if pdf["n_words"].sum() > 0
                    else 0.0
                ),
                # giant-doc path votes by word count (chunk outputs don't
                # carry per-block language counts; documented deviation
                # from the block-count page vote on the salted path only)
                "language": _majority_language(pdf),
                "status": "error" if errors else "ok",
                "error": "; ".join(errors) or None,
            }
        ]
    )


def extract_with_salting(
    docs: DataFrame,
    lexicon_words: list[str],
    config: PipelineConfig | None = None,
    giant_threshold: int = GIANT_THRESHOLD_SPANS,
) -> DataFrame:
    """Skew-aware extraction: normal docs stay on the narrow zero-shuffle
    path; giant docs are split into block-aligned chunks, spread across
    the cluster (the salt — north_rule), processed, and reassembled.

    The input is scanned twice (once per branch), which is cheap:
    predicate pushdown keeps the giant branch's scan+to_json to the
    skewed ~1%, and column pruning reads only (doc_id, spans). A
    single-scan variant with a persisted intermediate measured ~40%
    slower at sf0.1 — caching the full first-pass output costs more
    than re-scanning compressed parquet."""
    config = config or PipelineConfig()
    spark = docs.sparkSession
    lexicon_bc = spark.sparkContext.broadcast(list(lexicon_words))
    pruned = _prune_to_json(docs)
    # The two-branch split re-executes the input subtree once per
    # branch. For a narrow plan (a scan under projections and filters)
    # that is the RIGHT trade (column-pruned compressed rescan beats
    # materializing — measured ~40% faster at sf0.1, round 5); for a
    # DERIVED input (Python corpus generator, a bridge with joins, any
    # node outside the narrow whitelist) the re-execution repeats real
    # work, so materialize it once instead (lazy local checkpoint: the
    # first branch's action computes it, the second reads it back).
    if (
        not pruned.isStreaming  # localCheckpoint is batch-only
        and _first_wide_node(pruned) is not None
    ):
        pruned = pruned.localCheckpoint(eager=False)

    # a NULL count (NULL or malformed span JSON under ANSI) takes the
    # narrow branch, whose quarantine turns the doc into an error row;
    # `n <= t` and `n > t` alone would both drop it
    normal = pruned.filter(
        F.col("n_in_spans").isNull()
        | (F.col("n_in_spans") <= giant_threshold)
    ).drop("n_in_spans")
    giant = pruned.filter(F.col("n_in_spans") > giant_threshold).drop(
        "n_in_spans"
    )

    row = partial(_spans_row, config)
    raw_normal = _kernel_stage(_spread_small_input(normal), lexicon_bc, row)

    chunks = giant.mapInPandas(_split_chunks, schema=_CHUNK_DDL)
    # spread chunks of the same giant doc across executors (the salt).
    # Chunk rows are ~100 KB of span JSON but cost ~40 ms of kernel
    # each; without an explicit count the salt shuffle folds into ONE
    # partition (measured at sf0.1: 90 chunks → 1 task → 3.4 s of
    # kernel on one core).
    chunks = chunks.repartition(
        _spread_count(spark), F.col("doc_id"), F.col("chunk_id")
    )
    chunk_out = _kernel_stage(chunks, lexicon_bc, row)
    raw_giant = chunk_out.groupBy("doc_id").applyInPandas(
        _reassemble, schema=_RAW_OUT_DDL
    )
    return raw_normal.unionByName(raw_giant)


# ----------------------------------------------- plain-text ingestion path
WORDS_PER_LINE = 12


def text_to_spans(text: str, words_per_line: int = WORDS_PER_LINE) -> list[tuple]:
    """Tokenize plain text into the docs span encoding: one block, lines of
    ``words_per_line`` words (the ALTO XML scan analog for text sources —
    SURVEY.md §2.1)."""
    tokens = [t for t in (text or "").split(" ") if t]
    spans: list[tuple] = [("block", None, None, 0)]

    def emit(kind, text=None):
        spans.append((kind, text, None, len(spans)))

    for i in range(0, len(tokens), words_per_line):
        emit("line")
        for j, tok in enumerate(tokens[i : i + words_per_line]):
            if j > 0:
                emit("space", " ")
            emit("word", tok)
    return spans


def extract_text_df(
    docs: DataFrame,
    lexicon_words: list[str],
    config: PipelineConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Run the extraction engine over a plain-text document table
    (e.g. the driver's ``documents`` parquet): tokenize → spans → kernel.
    Narrow (zero-shuffle) like :func:`extract`."""
    config = config or PipelineConfig()
    lexicon_bc = docs.sparkSession.sparkContext.broadcast(list(lexicon_words))

    def row(doc_id, text, lexicon):
        from jochre3_ocr_spark.operators.kernel import process_document

        return process_document(doc_id, text_to_spans(text), lexicon, config)

    return _kernel_stage(_text_frame(docs, id_col, text_col), lexicon_bc, row)


def _text_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, text) of a plain-text document table, spread over the
    cluster's slots."""
    return _spread_small_input(
        docs.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    )


#: logical nodes that neither shuffle nor run Python: a plan made of
#: these alone re-executes as a plain scan, and ``df.rdd`` on it
#: schedules nothing. A whitelist on purpose — an unknown node can hide
#: upstream stages (a persisted aggregate's plan is one leaf,
#: ``InMemoryRelation``, and ``df.rdd`` on it runs a job).
_NARROW_NODES = frozenset(
    ("Project", "Filter", "LogicalRelation", "LogicalRDD", "LocalRelation", "Range")
)


def _first_wide_node(df: DataFrame):
    """The topmost node of ``df``'s optimized logical plan that is not in
    ``_NARROW_NODES`` (a py4j handle), or None when the walk down from
    the root reaches a narrow leaf. Narrow nodes have at most one child,
    so the walk follows one path; it reads node classes, never the
    rendered plan, so attribute names cannot look like nodes."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in _NARROW_NODES:
        children = node.children()
        if children.isEmpty():
            return None
        node = children.head()
    return node


def _spread_count(spark: SparkSession) -> int:
    """The partition count of a shuffle that feeds a row-cost-bound
    stage. AQE's byte-based coalescing folds a byte-small frame into
    one partition however costly its rows; an explicit count
    (``repartition(n, ...)``, ``REPARTITION(n)``) is exempt. Derived
    from the session — cores locally, shuffle.partitions on a sized
    cluster — never a constant."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Kernel cost is per ROW, but scan parallelism is per FILE SPLIT —
    and a parquet file is splittable only at row-group boundaries, so a
    small/compact input (one row group) pins the whole fused
    scan→kernel stage to 1-2 cores. When the input would yield fewer
    partitions than the cluster has slots, pay one metadata-sized
    round-robin shuffle to unlock every core. At production scale the
    input has ≫ cores splits and this is a no-op (no Exchange added —
    the narrow-plan guarantee holds exactly when it matters).

    Probe discipline (round 6): ``df.rdd.getNumPartitions()`` is only
    safe on a narrow plan (:func:`_first_wide_node` is None) — under
    AQE, constructing the RDD of a frame with an upstream shuffle
    EXECUTES that shuffle's map stages at query-CONSTRUCTION time
    (measured: one full job per probe). Otherwise the topmost wide node
    decides, from the plan alone:

    * a keyed ``RepartitionByExpression`` (with or without a count) is
      the caller's layout → no-op; a round-robin on top would destroy
      its co-partitioning;
    * a coalesce (``Repartition``, no shuffle) only pins → spread;
    * a shuffle ``Repartition(n >= slots)`` is already spread → no-op;
    * anything else: Catalyst's free ``sizeInBytes`` estimate — AQE's
      byte-based coalescing can pin a frame below ``slots`` partitions
      ONLY when it is byte-small, so a frame estimated ≫
      slots × advisory-partition-size keeps its natural width and
      needs no spread, while a small estimate gets the explicit
      repartition (user counts are AQE-exempt; the shuffle is
      metadata-sized by the same estimate).

    Streaming frames pass through untouched: ``df.rdd`` is illegal on
    a streaming DataFrame, and the spread is a batch-scan concern
    (round-6 self-review — operators like pq_encode/_windows that
    spread their input stay composable under readStream)."""
    if df.isStreaming:
        return df
    slots = df.sparkSession.sparkContext.defaultParallelism
    node = _first_wide_node(df)
    if node is None:
        if df.rdd.getNumPartitions() < slots:
            return df.repartition(slots)
        return df
    name = node.nodeName()
    if name == "RepartitionByExpression":
        return df
    if name == "Repartition":
        if not node.shuffle():
            return df.repartition(slots)
        if node.numPartitions() >= slots:
            return df
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts scala.math.BigInt to a Python int when it
        # fits; larger values come back as a JavaObject
        size = raw if isinstance(raw, int) else int(raw.toString())
    except Exception:  # noqa: BLE001 — stats estimate only
        return df  # can't see: leave the frame alone (perf-neutral)
    # 64 MB is AQE's default advisory partition size; anything
    # estimated past slots× that keeps >= slots partitions on its own
    if size > slots * (64 << 20):
        return df
    return df.repartition(slots)


def _driver_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-side rows → a broadcast-hinted DataFrame of schema ``ddl``.
    Through pandas the rows cross to the JVM as Arrow and plan as a
    ``LocalRelation`` with size statistics; a row list would become a
    pickled Python RDD that starts a Python worker per core (~60 MB RSS
    each). Driver-sized, so broadcast even above the auto threshold."""
    schema = StructType.fromDDL(ddl)
    pdf = pd.DataFrame(rows, columns=schema.names)
    return F.broadcast(spark.createDataFrame(pdf, schema))


def _driver_fast_path(df: DataFrame, cap: int, solve, ddl: str):
    """Every distributed round of an iterative operator costs ~0.5 s of
    fixed job overhead, so up to ``cap`` rows resolve faster as ONE
    ``take(cap + 1)`` — which both answers "is it small?" and holds the
    rows — plus a pure-Python ``solve(rows) -> rows``. Returns their
    :func:`_driver_frame`, or None (no job for a cap of 0) when the
    caller must run its distributed rounds."""
    if cap < 1:
        return None
    rows = df.take(cap + 1)
    if len(rows) > cap:
        return None
    return _driver_frame(df.sparkSession, solve(rows), ddl)


# ------------------------------------------------------- vision-path OCR
def ocr_documents(
    docs: DataFrame,
    lexicon_words: list[str],
    config: PipelineConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_line: int = 4,
    lines_per_block: int = 3,
    blocks_per_page: int = 4,
) -> DataFrame:
    """Vision-path OCR over a plain-text document table: each document's
    words are laid out as deterministic RTL page geometry (layout oracle
    with injected prediction imperfections), then run through the full
    segment → classify → guess → transform chain. Narrow — zero shuffle.

    Because the layout is an exact function of the input words, the
    recovered processed text equals the input words re-chunked into
    blocks of ``words_per_line * lines_per_block`` — an independently
    SQL-derivable oracle for the whole vision path."""
    config = config or PipelineConfig()
    lexicon_bc = docs.sparkSession.sparkContext.broadcast(list(lexicon_words))

    def row(doc_id, text, lexicon):
        import zlib

        from jochre3_ocr_spark.operators.ocr import ocr_document
        from jochre3_ocr_spark.sources.layout_oracle import (
            build_pages_from_words,
            glyph_content_lookup,
        )

        words = [w for w in (text or "").split(" ") if w]
        seed_ix = (
            int(doc_id)
            if doc_id.isdigit()
            else zlib.crc32(doc_id.encode())
        )
        pages = build_pages_from_words(
            seed_ix,
            words,
            words_per_line=words_per_line,
            lines_per_block=lines_per_block,
            blocks_per_page=blocks_per_page,
        )
        layouts = [p[0] for p in pages]
        lookups = [glyph_content_lookup(p[1]) for p in pages]
        return ocr_document(doc_id, layouts, lookups, lexicon, config)

    return _kernel_stage(_text_frame(docs, id_col, text_col), lexicon_bc, row)


# ------------------------------------------- lineage / partition metrics
def _is_missing_read(e: Exception, path: str | None = None) -> bool:
    """True when an AnalysisException means "nothing written here yet".

    Prefers the structured error class (Spark ≥3.4 ``getCondition`` /
    3.3 ``getErrorClass``) over message text — vendor builds word the
    message differently and a missed match fails a legitimate first
    run (ADVICE r4); falls back to the message, then to a literal
    local-path existence probe."""
    cond = None
    for getter in ("getCondition", "getErrorClass"):
        fn_ = getattr(e, getter, None)
        if callable(fn_):
            try:
                cond = fn_()
            except Exception:  # noqa: BLE001 — probe only
                cond = None
            if cond:
                break
    probe = f"{cond or ''} {e}"
    return (
        "PATH_NOT_FOUND" in probe
        or "UNABLE_TO_INFER_SCHEMA" in probe
        or (
            path is not None
            and path.startswith("/")
            and not os.path.exists(path)
        )
    )


def doc_lineage(spark: SparkSession, output_path: str) -> DataFrame:
    """Per-document lineage: which committed task file holds each doc
    (north_rule: per-partition checkpointed lineage). Task files are the
    durable unit of work under FileOutputCommitter v2 — one row per
    (doc_id, committed file)."""
    return spark.read.parquet(output_path).select(
        "doc_id",
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
        "status",
    )


def _read_written(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when nothing is written
    there yet: no path at all, or a directory without data files (a first
    run killed before its first task commit).

    Existence is decided BEFORE reading, so a first run never raises and
    converts an AnalysisException: once a ``pyspark.sql.Observation`` has
    run in the session, Spark's ObservationManager logs an ERROR stack
    trace for every failed analysis. A read failure on an existing table
    (corrupt parquet, permissions, IO) propagates."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(hpath):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if _is_missing_read(e, path):
            return None
        raise


def write_parquet_counted(df: DataFrame, path: str, mode: str = "append") -> int:
    """Write ``df`` as parquet and return the number of rows written.

    The count is observed during the write itself (a
    ``pyspark.sql.Observation``, read only after the write has returned),
    so no second job re-reads the output just to report on it."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(mode).parquet(path)
    return obs.get["rows"]


def write_partition_metrics(
    spark: SparkSession, output_path: str, metrics_path: str
) -> int:
    """Append per-partition (per committed task file) metrics rows for
    files not yet checkpointed: doc/ok/error counts, span and word
    totals (north_rule: per-partition lineage + metrics enabling
    resume). Incremental: re-running after a resume adds rows only for
    the newly committed files, so totals never double-count. Returns
    the number of NEW files checkpointed this run (one metrics row each).

    Derived from the committed output itself (one cheap column-pruned
    scan), so the metrics are exactly consistent with what a reader of
    the output sees — not with what an in-flight task hoped to write."""
    out = spark.read.parquet(output_path).select(
        "doc_id",
        "n_spans",
        "n_words",
        "status",
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
    )
    # Only a genuinely ABSENT metrics table means "first run, checkpoint
    # everything". A read failure on an EXISTING table (corrupt/partial
    # parquet, permission error, transient IO) must propagate: swallowing
    # it would re-append rows for ALL committed files and silently
    # double-count totals on resume (ADVICE r2, medium).
    metrics = _read_written(spark, metrics_path)
    if metrics is not None:
        seen = metrics.select("file").distinct()
        out = out.join(F.broadcast(seen), "file", "left_anti")
    new = (
        out.groupBy("file")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_error"),
            F.sum("n_spans").alias("total_spans"),
            F.sum("n_words").alias("total_words"),
        )
        .withColumn("committed_at", F.current_timestamp())
    )
    return write_parquet_counted(new, metrics_path)


# ----------------------------------------------------------------- resume
def run_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lexicon_words: list[str],
    config: PipelineConfig | None = None,
    metrics_path: str | None = None,
) -> int:
    """Resumable batch run: anti-join completed doc_ids, process the rest,
    append. Returns the number of completed docs: the distinct doc_ids
    committed before this run plus the rows this run wrote (observed
    during the write, not re-read). That is exact under FIXTURES.md's
    unique-``doc_id`` input contract; an input repeating a doc_id counts
    each written row."""
    # clear stale staging from a killed attempt: with a fresh job about to
    # write, any leftover _temporary content belongs to a dead run and
    # would otherwise be swept into this job's commit (duplicate rows)
    import shutil

    stale = os.path.join(output_path, "_temporary") if output_path.startswith("/") else None
    if stale and os.path.isdir(stale):
        shutil.rmtree(stale, ignore_errors=True)

    # "table:NAME" reads a catalog table (Iceberg / bucketed-parquet,
    # sources/catalog.py); anything else is a parquet path
    if input_path.startswith("table:"):
        docs = spark.table(input_path[len("table:"):])
    else:
        docs = spark.read.parquet(input_path)
    # Only "no output yet" means a first run. Everything after it runs
    # eager Spark jobs (counts, shuffles) whose RUNTIME failures must
    # PROPAGATE, as must an existing output without a doc_id column: a
    # broad except here would turn e.g. an ENOSPC during the id count
    # into todo = docs — a silent full reprocess APPENDING millions of
    # duplicate rows on top of the committed output.
    committed = _read_written(spark, output_path)
    done = None if committed is None else committed.select("doc_id").distinct()
    todo_ids = None
    n_done = 0
    if done is None:
        todo = docs
    else:
        # Resume anti-join, PAYLOAD-FREE: the naive
        # docs.join(done, anti) sort-merge-shuffles the full document
        # payload once `done` outgrows Spark's broadcast threshold — at
        # the 10M-doc soak (8.2M committed) that shuffle spilled tens of
        # GB of text to local disk and died ENOSPC (BENCH.md round 4).
        # Whichever id set is small gets broadcast so the payload never
        # shuffles: late resume → broadcast the TODO ids (semi-join);
        # early resume → broadcast the DONE ids (anti-join). Both counts
        # run on ids-only column-pruned scans; the counted frame is
        # persisted so the broadcast reuses it instead of re-scanning
        # the (large) output ids and re-running the anti-join. Only when
        # BOTH sides exceed the cap (mid-backfill of a corpus ≫ 10M on
        # one box) does the payload anti-join remain — on a real
        # cluster that regime is served by doc_id-bucketed tables
        # instead (co-located join, zero shuffle; sources/catalog.py,
        # SCALE.md §5).
        done = done.persist()
        n_done = done.count()
        if n_done <= RESUME_BROADCAST_MAX_IDS:
            todo = docs.join(F.broadcast(done), "doc_id", "left_anti")
        else:
            todo_ids = docs.select("doc_id").join(
                done, "doc_id", "left_anti"
            ).persist()
            n_todo = todo_ids.count()
            if n_todo == 0:
                todo = docs.limit(0)
            elif n_todo <= RESUME_BROADCAST_MAX_IDS:
                todo = docs.join(
                    F.broadcast(todo_ids), "doc_id", "left_semi"
                )
            else:
                todo = docs.join(done, "doc_id", "left_anti")
    result = extract_with_salting(todo, lexicon_words, config)
    try:
        n_written = write_parquet_counted(result, output_path)
    finally:
        if done is not None:
            done.unpersist()
        if todo_ids is not None:
            todo_ids.unpersist()
    if metrics_path:
        write_partition_metrics(spark, output_path, metrics_path)
    return n_done + n_written
