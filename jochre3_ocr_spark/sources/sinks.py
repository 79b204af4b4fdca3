"""Auxiliary scans and sinks (SURVEY.md §2.1).

* directory scan — the reference lists image files by extension with an
  optional limit (core/Jochre.scala:109-119); here that is Spark's
  binaryFile source with a path glob (pushdown-friendly, streams file
  content lazily);
* eval TSV sink — per-file metric rows plus a final mean row
  (core/evaluation/EvaluatorBase.scala:8-35);
* text sinks — raw / processed text columns to files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

IMAGE_GLOB = "*.{png,jpg,jpeg,tif,pdf}"


def read_binary_dir(
    spark: SparkSession,
    input_dir: str,
    glob: str = IMAGE_GLOB,
    max_files: int | None = None,
) -> DataFrame:
    """Directory scan → (path, modificationTime, length, content binary).
    ``max_files`` mirrors the reference's maxImages limit."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(input_dir)
    )
    return df.limit(max_files) if max_files else df


def write_eval_tsv(metrics: DataFrame, path: str) -> None:
    """EvaluatorBase.writeResults: one TSV row per file, then a mean row
    over every numeric metric column. The metrics table is small (one
    row per evaluated file), so the mean row is computed with a single
    agg and unioned before the write."""
    numeric = [
        f.name
        for f in metrics.schema.fields
        if f.dataType.typeName() in ("double", "float", "integer", "long")
    ]
    first = metrics.columns[0]
    mean_row = metrics.agg(
        *[F.round(F.avg(c), 4).alias(c) for c in numeric]
    ).withColumn(first, F.lit("mean"))
    aligned = mean_row.select(
        *[
            F.col(c) if c in numeric or c == first else F.lit(None).alias(c)
            for c in metrics.columns
        ]
    )
    out = (
        metrics.select(
            *[
                F.col(c).cast("string") if c == first else F.col(c)
                for c in metrics.columns
            ]
        )
        .withColumn("_ord", F.lit(0))
        .unionByName(aligned.select(metrics.columns).withColumn("_ord", F.lit(1)))
        .sort("_ord", first)  # mean row last, like EvaluatorBase
        .drop("_ord")
    )
    out.coalesce(1).write.mode("overwrite").option("sep", "\t").option(
        "header", "true"
    ).csv(path)


def write_text(df: DataFrame, path: str, column: str = "processed_text") -> None:
    """Text sink (OutputFormat.Text / ProcessedText): one file tree of
    doc_id-tagged text."""
    df.select(
        F.concat_ws("\t", F.col("doc_id"), F.regexp_replace(column, "\n", "\\\\n"))
        .alias("value")
    ).write.mode("overwrite").text(path)


def fetch_images(urls_df: DataFrame, fetcher=None) -> DataFrame:
    """URL image fetch (ImageUtils.getImageFromUrl, core/utils/
    ImageUtils.scala:150-159): rows (doc_id, url) → (doc_id, url,
    content binary, status). Failures quarantine per row like the
    reference's Try. ``fetcher(url) -> bytes`` is injectable (tests use
    a fake; default is stdlib urllib). At scale this is the classic
    IO-bound mapInPandas stage: parallelism = partitions, no shuffle."""
    import pandas as pd

    def default_fetcher(url: str) -> bytes:
        from urllib.request import urlopen

        with urlopen(url, timeout=30) as r:  # noqa: S310
            return r.read()

    fetch = fetcher or default_fetcher

    def run(batches):
        for b in batches:
            rows = []
            for doc_id, url in zip(b["doc_id"], b["url"]):
                try:
                    content = fetch(url)
                    rows.append(
                        {"doc_id": doc_id, "url": url,
                         "content": content, "status": "ok"}
                    )
                except Exception as exc:  # noqa: BLE001 — quarantine
                    rows.append(
                        {"doc_id": doc_id, "url": url, "content": None,
                         "status": f"error: {type(exc).__name__}: {exc}"}
                    )
            yield pd.DataFrame(rows)

    return urls_df.mapInPandas(
        run, schema="doc_id string, url string, content binary, status string"
    )


def write_alto(out_df: DataFrame, path: str) -> None:
    """ALTO-4 sink over the pipeline's finalized output (doc_id, spans,
    mean_confidence, language): rebuild the span tree per doc and emit
    ALTO XML (OutputFormat.Alto4); one parquet row per document
    (doc_id, alto_xml) — XML embeds newlines, so parquet not text."""
    import pandas as pd

    def run(batches):
        from jochre3_ocr_spark.operators.spantree import parse_spans
        from jochre3_ocr_spark.sources.alto_xml import emit_alto

        for b in batches:
            rows = []
            for doc_id, spans, conf, lang in zip(
                b["doc_id"], b["spans"], b["mean_confidence"], b["language"]
            ):
                tuples = [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in spans
                ]
                doc = parse_spans(doc_id, tuples)
                doc.confidence = float(conf) if conf is not None else 0.0
                doc.language = lang
                rows.append({"doc_id": doc_id, "alto_xml": emit_alto(doc)})
            yield pd.DataFrame(rows, columns=["doc_id", "alto_xml"])

    out_df.select("doc_id", "spans", "mean_confidence", "language").mapInPandas(
        run, schema="doc_id string, alto_xml string"
    ).write.mode("overwrite").parquet(path)


def make_alto_zip_bytes(doc_id: str, alto_xml: str) -> bytes:
    """The canonical `<doc>_alto4.zip` bytes (AnalysisLogic.scala:
    232-245): one `<doc>_alto4.xml` member, ZIP_DEFLATED, fixed 1980
    timestamp so the bytes are deterministic at any wall clock. The ONE
    definition of the convention — used by the distributed sink below
    and by the serving download (serve.py), which must stay
    byte-identical."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        info = zipfile.ZipInfo(
            f"{doc_id}_alto4.xml", date_time=(1980, 1, 1, 0, 0, 0)
        )
        zf.writestr(info, alto_xml)
    return buf.getvalue()


def alto_zip_bytes(out_df: DataFrame) -> DataFrame:
    """Zip sink (AnalysisLogic.scala:232-245: the API's downloadable
    `<doc>_alto4.zip` containing `<doc>_alto4.xml`): one zip per
    document as a binary column, built inside the Arrow batch — the
    serving-download analog as a distributed column rather than a
    driver-side endpoint. Write with `.write.parquet` or feed a
    foreachPartition uploader."""
    import pandas as pd

    def run(batches):
        from jochre3_ocr_spark.operators.spantree import parse_spans
        from jochre3_ocr_spark.sources.alto_xml import emit_alto

        for b in batches:
            rows = []
            for doc_id, spans, conf, lang in zip(
                b["doc_id"], b["spans"], b["mean_confidence"], b["language"]
            ):
                tuples = [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in spans
                ]
                doc = parse_spans(doc_id, tuples)
                doc.confidence = float(conf) if conf is not None else 0.0
                doc.language = lang
                rows.append(
                    {
                        "doc_id": doc_id,
                        "alto_zip": make_alto_zip_bytes(
                            doc_id, emit_alto(doc)
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "alto_zip"])

    return out_df.select(
        "doc_id", "spans", "mean_confidence", "language"
    ).mapInPandas(run, schema="doc_id string, alto_zip binary")
