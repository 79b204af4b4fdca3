"""Spark pipeline integration: distributed result == pure-Python oracle,
at any parallelism; salting preserves results; resume is idempotent."""

import glob
import json
import os
import warnings

import pytest

from jochre3_ocr_spark.functions.lexicon import Lexicon
from jochre3_ocr_spark.operators.kernel import process_document
from jochre3_ocr_spark.plans import pipeline
from jochre3_ocr_spark.schema import DOCS_SCHEMA
from jochre3_ocr_spark.sources.corpus import (
    generate_docs,
    lexicon_words,
)

N_DOCS = 40


def _docs_frame(spark, n):
    rows = [
        (
            d["doc_id"],
            [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for k, t, m, o in d["spans"]
            ],
        )
        for d in generate_docs(n)
    ]
    return spark.createDataFrame(rows, schema=DOCS_SCHEMA)


@pytest.fixture(scope="module")
def docs_df(spark):
    return _docs_frame(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def oracle():
    lex = Lexicon.from_words(lexicon_words())
    return {
        d["doc_id"]: process_document(d["doc_id"], d["spans"], lex)
        for d in generate_docs(N_DOCS)
    }


def rows_to_dict(rows):
    import json as _json

    def spans_of(r):
        if "spans" in r.__fields__:
            return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        return [tuple(s[k] for k in ("kind", "text", "media_ref", "offset"))
                for s in _json.loads(r["spans_json"])]

    return {
        r["doc_id"]: {
            "spans": spans_of(r),
            "text": r["text"],
            "processed_text": r["processed_text"],
            "status": r["status"],
        }
        for r in rows
    }


def assert_matches_oracle(rows, oracle):
    got = rows_to_dict(rows)
    assert set(got) == set(oracle)
    for doc_id, exp in oracle.items():
        g = got[doc_id]
        assert g["status"] == "ok", g
        assert g["spans"] == exp["spans"], f"span mismatch for {doc_id}"
        assert g["text"] == exp["text"]
        assert g["processed_text"] == exp["processed_text"]


def test_extract_matches_oracle(docs_df, oracle):
    out = pipeline.finalize(pipeline.extract(docs_df, lexicon_words()))
    assert_matches_oracle(out.collect(), oracle)


def test_extract_parallelism_invariant(docs_df, oracle):
    """Same results regardless of partitioning (determinism under
    parallelism — SURVEY.md §7.4)."""
    out = pipeline.finalize(
        pipeline.extract(docs_df.repartition(7), lexicon_words())
    )
    assert_matches_oracle(out.collect(), oracle)


def test_extract_with_salting_matches_oracle(docs_df, oracle):
    """Force even small docs through the chunk/split/reassemble path.
    Building the plan emits no warning (an applyInPandas function with
    partial type hints makes pyspark warn on every call)."""
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = pipeline.finalize(
            pipeline.extract_with_salting(
                docs_df, lexicon_words(), giant_threshold=60
            )
        )
    assert_matches_oracle(out.collect(), oracle)


_BAD_MEDIA_REF = '[{"kind": "media", "text": null, "media_ref": 123, "offset": 0}]'

#: hostile span JSON: (doc_id, spans_json, n_in_spans)
_HOSTILE = [
    ("bad_null", None, None),
    ("bad_malformed", '[{"kind": "word", "text": ', 5),
    ("bad_malformed_giant", "not json at all", 100_000),
    # valid JSON whose media_ref is a number: the kernel passes it, and
    # the span-JSON encode of its output raises
    ("bad_media_ref", _BAD_MEDIA_REF, 1),
    ("bad_media_ref_giant", _BAD_MEDIA_REF, 100_000),
]


def _hostile_runs(spark, tmp_path, df):
    inp = str(tmp_path / "hostile_in.parquet")
    outp = str(tmp_path / "hostile_out.parquet")
    words = lexicon_words()
    df.write.parquet(inp)
    pipeline.run_job(spark, inp, outp, words)
    return {
        "extract": pipeline.extract(df, words).collect(),
        "salting": pipeline.extract_with_salting(df, words).collect(),
        "salting_60": pipeline.extract_with_salting(
            df, words, giant_threshold=60
        ).collect(),
        "run_job": spark.read.parquet(outp).collect(),
    }


@pytest.mark.parametrize("with_count", [True, False])
def test_hostile_span_json_yields_one_row_per_doc(spark, oracle, tmp_path, with_count):
    """A NULL or malformed ``spans_json``, or a span field of the wrong
    JSON type, is exactly one per-doc error row on every extraction
    path: the decode and the encode run inside the per-doc quarantine
    (else one bad doc fails the job), a NULL span count takes
    the narrow branch (else it passes neither branch filter and the doc
    vanishes), and a malformed doc whose count sends it down the salted
    path passes the chunk split as one chunk."""
    good = [
        (d["doc_id"], pipeline._tuples_to_json(d["spans"]), len(d["spans"]))
        for d in generate_docs(6)
    ]
    df = spark.createDataFrame(
        good + _HOSTILE, "doc_id string, spans_json string, n_in_spans int"
    )
    if not with_count:
        df = df.drop("n_in_spans")
    bad_ids = {doc_id for doc_id, _, _ in _HOSTILE}
    bad_rows = {}
    for path, rows in _hostile_runs(spark, tmp_path, df).items():
        ids = [r["doc_id"] for r in rows]
        assert sorted(ids) == sorted({i for i, _, _ in good} | bad_ids), path
        bad = [r for r in rows if r["doc_id"] in bad_ids]
        assert all(r["status"] == "error" and r["error"] for r in bad), (path, bad)
        bad_rows[path] = {r["doc_id"]: r.asDict() for r in bad}
        assert_matches_oracle(
            [r for r in rows if r["doc_id"] not in bad_ids],
            {i: oracle[i] for i, _, _ in good},
        )
    # the quarantine row is the same whichever branch the doc took (the
    # giant-count doc goes through split, chunk kernel and reassemble)
    fields = set.intersection(
        *(set(next(iter(b.values()))) for b in bad_rows.values())
    )
    assert {"text", "processed_text", "alternatives_json", "error"} <= fields
    expected = {
        i: {f: v for f, v in row.items() if f in fields}
        for i, row in bad_rows["extract"].items()
    }
    assert all(expected[i]["text"] is None for i in expected), expected
    for path, bad in bad_rows.items():
        got = {i: {f: v for f, v in row.items() if f in fields} for i, row in bad.items()}
        assert got == expected, path


def test_ocr_documents_null_id_and_text_yield_one_row_per_doc(spark):
    """The vision path over a NULL ``doc_id`` and a NULL ``text``: one
    row per input doc. Page building runs inside the per-doc quarantine,
    so the NULL id is an error row (not a failed job), and every other
    doc's row is the one it gets without the NULL-id doc beside it."""
    words = lexicon_words()
    schema = "doc_id string, text string"
    good = [
        ("7", " ".join(words[:9])),
        ("doc-a", " ".join(words[9:23])),
        ("null-text", None),
    ]
    ref = {
        r["doc_id"]: r.asDict()
        for r in pipeline.ocr_documents(
            spark.createDataFrame(good, schema), words
        ).collect()
    }
    assert set(ref) == {d for d, _ in good}
    assert all(r["status"] == "ok" for r in ref.values()), ref

    rows = pipeline.ocr_documents(
        spark.createDataFrame(good + [(None, " ".join(words[:5]))], schema),
        words,
    ).collect()
    assert len(rows) == len(good) + 1
    null_id = [r for r in rows if r["doc_id"] is None]
    assert len(null_id) == 1
    assert null_id[0]["status"] == "error"
    assert null_id[0]["error"].startswith("AttributeError"), null_id[0]["error"]
    assert {r["doc_id"]: r.asDict() for r in rows if r["doc_id"] is not None} == ref


#: word texts and media refs that stress the span JSON: quotes,
#: backslashes, control characters and the reassembly splice's own
#: pattern (the kernel may rewrite word texts; media refs pass through)
_HOSTILE_TEXTS = ['"', "\\", "a\nb", "x\x01y", ', "offset": 3}', 'q"}', "שיל"]
#: lines per block: 15 spans each, so one block is just above
#: CHUNK_TARGET_SPANS and every block of a doc becomes its own chunk
_LINES_PER_BLOCK = 1 + pipeline.CHUNK_TARGET_SPANS // 15


def _block(i: int, n_lines: int = _LINES_PER_BLOCK, bad: bool = False) -> list[dict]:
    """One media block plus one text block of hostile words; ``bad`` adds
    a word whose text is a number, on which the kernel raises."""
    spans = [
        {"kind": "media", "media_ref": f'img{i}", "offset": 7}}\\'},
        {"kind": "block"},
    ]
    for _ in range(n_lines):
        spans.append({"kind": "line"})
        for t in _HOSTILE_TEXTS:
            spans += [{"kind": "word", "text": t}, {"kind": "space", "text": " "}]
    if bad:
        spans.append({"kind": "word", "text": 5})
    return spans


def _span_doc(doc_id: str, blocks: list[list[dict]]) -> tuple:
    """(doc_id, spans_json, n_in_spans) of the concatenated blocks."""
    spans = [
        {"kind": s["kind"], "text": s.get("text"), "media_ref": s.get("media_ref"), "offset": i}
        for i, s in enumerate(s for b in blocks for s in b)
    ]
    return doc_id, json.dumps(spans, ensure_ascii=False), len(spans)


def _assert_same_json(got: str, want: str, doc_id: str) -> None:
    """Byte equality of two span JSON strings, reporting the first
    difference (pytest's diff of 300 kB strings takes minutes)."""
    if got != want:
        at = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
        raise AssertionError(f"{doc_id}: differs at {at}: {got[at - 40:at + 40]!r} vs {want[at - 40:at + 40]!r}")


def test_salted_reassembly_is_byte_identical_to_narrow(spark):
    """Giant-doc reassembly splices the chunks' span JSON without decoding
    it: the doc's spans_json and n_spans are byte-equal to the narrow
    path's, over hostile texts, and a failed chunk adds no spans (the
    doc's spans are those of its other chunks, renumbered)."""
    docs = [
        _span_doc("hostile_3_chunks", [_block(0), _block(1), _block(2)]),
        _span_doc("hostile_1_chunk", [_block(0, n_lines=5)]),
        _span_doc("failed_last_chunk", [_block(0), _block(1), _block(2, bad=True)]),
        _span_doc("failed_first_chunk", [_block(0, bad=True), _block(1)]),
        # the narrow-path twins of the failed docs' surviving chunks
        _span_doc("ref_failed_last_chunk", [_block(0), _block(1)]),
        _span_doc("ref_failed_first_chunk", [_block(1)]),
    ]
    df = spark.createDataFrame(docs, "doc_id string, spans_json string, n_in_spans int")
    words = lexicon_words()
    cols = ["doc_id", "spans_json", "n_spans", "status", "error"]
    narrow = {r["doc_id"]: r for r in pipeline.extract(df, words).select(cols).collect()}
    salted = {
        r["doc_id"]: r
        for r in pipeline.extract_with_salting(df, words, giant_threshold=60)
        .select(cols)
        .collect()
    }
    assert len(pipeline._split_spans(docs[0][1])) == 3
    assert set(salted) == set(narrow) == {d for d, _, _ in docs}
    for doc_id in ("hostile_3_chunks", "hostile_1_chunk"):
        assert narrow[doc_id]["status"] == salted[doc_id]["status"] == "ok"
        _assert_same_json(salted[doc_id]["spans_json"], narrow[doc_id]["spans_json"], doc_id)
        assert salted[doc_id]["n_spans"] == narrow[doc_id]["n_spans"]
    # the splice pattern appears inside strings and is left alone there
    assert ', \\"offset\\": 7}' in narrow["hostile_3_chunks"]["spans_json"]
    for doc_id in ("failed_last_chunk", "failed_first_chunk"):
        got, ref = salted[doc_id], narrow["ref_" + doc_id]
        assert got["status"] == "error" and "TypeError" in got["error"], got
        assert ref["status"] == "ok"
        _assert_same_json(got["spans_json"], ref["spans_json"], doc_id)
        assert got["n_spans"] == ref["n_spans"]


def test_resume_is_idempotent(spark, docs_df, oracle, tmp_path):
    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "out.parquet")
    docs_df.write.parquet(inp)

    # first run: process only half the docs (simulate an interrupted run)
    half = spark.read.parquet(inp).limit(N_DOCS // 2)
    pipeline.extract(half, lexicon_words()).write.mode("append").parquet(outp)

    # resume: should process only the remainder
    n = pipeline.run_job(spark, inp, outp, lexicon_words())
    assert n == N_DOCS
    final = spark.read.parquet(outp)
    assert final.count() == N_DOCS  # no duplicates
    assert_matches_oracle(final.collect(), oracle)


def test_run_job_returns_completed_docs(spark, docs_df, tmp_path):
    """run_job returns the docs committed before it plus the rows it
    wrote: on a first run, on a resume, and on a resume with nothing
    left to do."""
    half_inp = str(tmp_path / "half.parquet")
    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "out.parquet")
    docs_df.write.parquet(inp)
    spark.read.parquet(inp).orderBy("doc_id").limit(N_DOCS // 2).write.parquet(half_inp)
    words = lexicon_words()
    assert pipeline.run_job(spark, half_inp, outp, words) == N_DOCS // 2
    assert pipeline.run_job(spark, inp, outp, words) == N_DOCS
    assert pipeline.run_job(spark, inp, outp, words) == N_DOCS
    assert spark.read.parquet(outp).count() == N_DOCS


def test_run_job_writes_zstd_and_resumes_over_snappy(spark, tmp_path):
    """get_spark commits every parquet table as zstd at level 9. An
    output started under snappy resumes into the same table: the new
    data files and the metrics table are ZSTD, the old files stay
    SNAPPY, and the read-back has one row per input doc. The new files
    are at least 10 % smaller than the same rows written at parquet's
    default zstd level 3 (with enough docs per file that the footers,
    which no level shrinks, do not dominate)."""
    import pyarrow.parquet as pq

    def codecs(path):
        md = pq.ParquetFile(path).metadata
        assert md.num_row_groups > 0, path
        return {
            md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        }

    half_inp = str(tmp_path / "half.parquet")
    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "out.parquet")
    mp = str(tmp_path / "metrics.parquet")
    n_docs = 8 * N_DOCS
    _docs_frame(spark, n_docs).write.parquet(inp)
    spark.read.parquet(inp).orderBy("doc_id").limit(n_docs // 2).write.parquet(half_inp)
    words = lexicon_words()
    key = "spark.sql.parquet.compression.codec"
    session_codec = spark.conf.get(key)
    spark.conf.set(key, "snappy")
    try:
        pipeline.run_job(spark, half_inp, outp, words)
    finally:
        # the session is shared; unset would fall back to snappy
        spark.conf.set(key, session_codec)
    old = set(glob.glob(os.path.join(outp, "part-*.parquet")))
    assert old
    pipeline.run_job(spark, inp, outp, words, metrics_path=mp)
    new = set(glob.glob(os.path.join(outp, "part-*.parquet"))) - old
    assert new
    assert all(codecs(f) == {"SNAPPY"} for f in old)
    assert all(codecs(f) == {"ZSTD"} for f in new)
    metrics = glob.glob(os.path.join(mp, "part-*.parquet"))
    assert metrics and all(codecs(f) == {"ZSTD"} for f in metrics)
    out = spark.read.parquet(outp)
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
    # each new file rewritten alone, so both sides hold the same rows
    # per file and only the level differs
    level3 = 0
    for i, f in enumerate(sorted(new)):
        dest = str(tmp_path / f"level3_{i}.parquet")
        spark.read.parquet(f).coalesce(1).write.option(
            "parquet.compression.codec.zstd.level", "3"
        ).parquet(dest)
        level3 += sum(
            os.path.getsize(g)
            for g in glob.glob(os.path.join(dest, "part-*.parquet"))
        )
    level9 = sum(os.path.getsize(f) for f in new)
    assert level9 <= 0.9 * level3, (level9, level3)


def test_run_job_launches_no_job_after_its_write(spark, docs_df, tmp_path, monkeypatch):
    """The completed-doc count comes from the write itself: no Spark job
    runs after the output write returns (the count used to re-read and
    distinct-count the whole output), on a first run or a resume."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    group = "run_job_no_job_after_write"
    tracker = sc.statusTracker()

    def last_job() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
        return max(tracker.getJobIdsForGroup(group) or [-1])

    after_write = []
    write_parquet = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        write_parquet(self, *args, **kwargs)
        after_write.append(last_job())

    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "out.parquet")
    docs_df.write.parquet(inp)
    half = spark.read.parquet(inp).limit(N_DOCS // 2)
    pipeline.extract(half, lexicon_words()).write.parquet(outp)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    sc.setJobGroup(group, "run_job test")
    try:
        for out in (str(tmp_path / "first_run.parquet"), outp):
            pipeline.run_job(spark, inp, out, lexicon_words())
            assert after_write and after_write[-1] >= 0
            assert last_job() == after_write[-1], "a job ran after the write"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_partition_metrics_and_lineage(spark, docs_df, tmp_path):
    """north_rule: per-partition checkpointed lineage + metrics. Metrics
    rows are per committed task file, incremental across resumes (no
    double-count), and exactly consistent with the committed output."""
    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "out.parquet")
    mp = str(tmp_path / "metrics.parquet")
    docs_df.write.parquet(inp)

    # interrupted first run: half the docs, metrics checkpointed
    half = spark.read.parquet(inp).limit(N_DOCS // 2)
    pipeline.extract(half, lexicon_words()).write.mode("append").parquet(outp)
    pipeline.write_partition_metrics(spark, outp, mp)
    m1 = spark.read.parquet(mp)
    files1 = {r["file"] for r in m1.collect()}
    assert m1.agg({"n_docs": "sum"}).collect()[0][0] == N_DOCS // 2

    # resume with metrics: only NEW files get appended
    n = pipeline.run_job(spark, inp, outp, lexicon_words(), metrics_path=mp)
    assert n == N_DOCS
    m2 = spark.read.parquet(mp)
    assert m2.select("file").distinct().count() == m2.count()  # one row/file
    assert files1 < {r["file"] for r in m2.collect()}
    # totals exactly consistent with the committed output
    out = spark.read.parquet(outp)
    assert m2.agg({"n_docs": "sum"}).collect()[0][0] == out.count()
    assert (
        m2.agg({"total_spans": "sum"}).collect()[0][0]
        == out.agg({"n_spans": "sum"}).collect()[0][0]
    )
    assert m2.agg({"n_error": "sum"}).collect()[0][0] == 0

    # lineage: every doc maps to exactly one committed file, and the
    # file set agrees with the metrics checkpoint
    lin = pipeline.doc_lineage(spark, outp)
    assert lin.count() == N_DOCS
    assert lin.select("doc_id").distinct().count() == N_DOCS
    assert {r["file"] for r in lin.select("file").distinct().collect()} == {
        r["file"] for r in m2.collect()
    }


def test_partition_metrics_returns_new_files(spark, docs_df, tmp_path):
    """write_partition_metrics returns the number of files it checkpointed
    in this call: all committed files the first time, none on a re-run."""
    outp = str(tmp_path / "out.parquet")
    mp = str(tmp_path / "metrics.parquet")
    pipeline.extract(docs_df.repartition(3), lexicon_words()).write.parquet(outp)
    n_files = len(glob.glob(os.path.join(outp, "part-*.parquet")))
    assert n_files > 1
    assert pipeline.write_partition_metrics(spark, outp, mp) == n_files
    assert pipeline.write_partition_metrics(spark, outp, mp) == 0
    assert spark.read.parquet(mp).count() == n_files


def test_partition_metrics_corrupt_table_raises(spark, docs_df, tmp_path):
    """ADVICE r2 (medium): a read failure on an EXISTING metrics table
    must propagate — treating it as 'no metrics yet' would re-append all
    files and double-count totals on resume."""
    import pytest as _pytest

    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "out.parquet")
    mp = str(tmp_path / "metrics.parquet")
    docs_df.write.parquet(inp)
    pipeline.extract(
        spark.read.parquet(inp), lexicon_words()
    ).write.mode("append").parquet(outp)
    pipeline.write_partition_metrics(spark, outp, mp)
    total1 = spark.read.parquet(mp).agg({"n_docs": "sum"}).collect()[0][0]

    # corrupt every parquet part file in the metrics table
    import glob as _glob

    parts = _glob.glob(mp + "/part-*.parquet")
    assert parts
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"not a parquet file")
    with _pytest.raises(Exception):
        pipeline.write_partition_metrics(spark, outp, mp)
    # and nothing was appended by the failed attempt
    ok = [p for p in _glob.glob(mp + "/part-*.parquet")]
    assert set(ok) == set(parts)

    # sanity: the happy path stays incremental (0 new files on re-run)
    import shutil as _shutil

    _shutil.rmtree(mp)
    pipeline.write_partition_metrics(spark, outp, mp)
    pipeline.write_partition_metrics(spark, outp, mp)
    assert (
        spark.read.parquet(mp).agg({"n_docs": "sum"}).collect()[0][0]
        == total1
    )


def test_error_quarantine(spark):
    """A malformed doc must produce an error row, not fail the job."""
    rows = [("bad", [{"kind": "word", "text": None, "media_ref": None, "offset": 0}])]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    out = pipeline.extract(df, ["דער"]).collect()
    assert len(out) == 1
    assert out[0]["status"] in ("ok", "error")  # never raises


def test_extract_with_beam_confusions_matches_oracle(spark, docs_df):
    """Distributed beam search with the confusion classifier must equal
    the pure-Python oracle doc for doc (the non-trivial beam path)."""
    from jochre3_ocr_spark.operators.guesser import confusable_topk
    from jochre3_ocr_spark.schema import PipelineConfig

    cfg = PipelineConfig(glyph_confusions=True)
    lex = Lexicon.from_words(lexicon_words())
    expected = {
        d["doc_id"]: process_document(
            d["doc_id"], d["spans"], lex, cfg, confusable_topk
        )
        for d in generate_docs(N_DOCS)
    }
    out = pipeline.finalize(
        pipeline.extract(docs_df, lexicon_words(), config=cfg)
    )
    assert_matches_oracle(out.collect(), expected)


def test_run_job_clears_stale_staging(spark, docs_df, tmp_path):
    """A killed attempt leaves `_temporary` staging under the output dir;
    v1 job commits would resurrect those files as duplicate rows (found
    by the kill-resume drive). run_job must clear stale staging and the
    v2 committer keeps task commits atomic."""
    import os

    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "out.parquet")
    docs_df.write.parquet(inp)
    # simulate a dead attempt's staging with a bogus task file
    stale = os.path.join(outp, "_temporary", "0", "task_000", "part-zombie.parquet")
    os.makedirs(os.path.dirname(stale))
    with open(stale, "wb") as f:
        f.write(b"zombie")
    n = pipeline.run_job(spark, inp, outp, lexicon_words())
    assert n == N_DOCS
    final = spark.read.parquet(outp)
    assert final.count() == N_DOCS  # the zombie never surfaced
    assert not os.path.exists(os.path.join(outp, "_temporary", "0", "task_000"))


def test_output_has_page_confidence_and_language(spark, docs_df):
    """Per-page mean word confidence (Jochre.scala:365-386) and the
    voted page language ride the output schema."""
    out = pipeline.finalize(pipeline.extract(docs_df.limit(8), lexicon_words()))
    rows = out.collect()
    assert all(0.0 <= r.mean_confidence <= 1.0 for r in rows)
    ok = [r for r in rows if r.status == "ok" and r.n_words > 0]
    assert ok and all(r.mean_confidence > 0.0 for r in ok)
    assert "language" in out.columns


def test_run_job_raises_on_incompatible_output_not_reprocess(spark, tmp_path):
    """Second-review finding: a failure while computing the resume
    TODO set must PROPAGATE — swallowing it (the old broad except)
    silently reprocessed everything and appended duplicates. An output
    dir whose schema lacks doc_id is such a failure: analysis raises,
    run_job must not treat it as 'no output yet'."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from jochre3_ocr_spark.plans.pipeline import run_job
    from jochre3_ocr_spark.sources.corpus import docs_df, lexicon_words

    inp = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "out.parquet")
    docs_df(spark, 5).write.parquet(inp)
    spark.createDataFrame([(1, "x")], "a int, b string").write.parquet(out)
    with _pytest.raises(AnalysisException):
        run_job(spark, inp, out, lexicon_words(), metrics_path=None)


def test_spread_small_input_probe_discipline(spark, tmp_path):
    """_spread_small_input must (a) spread a compact scan, (b) be a
    no-op on a subtree an upstream caller already spread, and (c)
    decide for derived (wide-topped) frames WITHOUT scheduling a job —
    under AQE, df.rdd on a frame with an upstream shuffle executes the
    shuffle's map stages at construction time (one full job per probe,
    corpus-sized at scale). No decision below may launch a job."""
    from pyspark.sql import functions as F

    from jochre3_ocr_spark.plans.pipeline import (
        _first_wide_node,
        _spread_small_input,
    )

    slots = spark.sparkContext.defaultParallelism
    tracker = spark.sparkContext.statusTracker()

    def spread(df):
        before = len(tracker.getJobIdsForGroup(None) or [])
        out = _spread_small_input(df)
        after = len(tracker.getJobIdsForGroup(None) or [])
        assert after == before, "spread decision scheduled a Spark job"
        return out

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    top_spread = f"Repartition {slots}, true"
    small = spark.range(0, 100, 1, 1).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("text"),
    )

    # (a) narrow/compact: explicit repartition(slots) added
    spread_small = spread(small)
    assert plan(spread_small).startswith(top_spread)

    # (b) already spread upstream, only narrow ops above: unchanged
    again = spread_small.filter("doc_id != '-1'")
    assert spread(again) is again

    # (c) aggregate-topped: a byte-small aggregate still gets the
    # explicit spread
    agg = small.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    assert plan(spread(agg)).startswith(top_spread)

    # (d) a coalesce ABOVE a qualifying repartition pins the frame —
    # the already-spread skip must not fire
    pinned = spread_small.filter("doc_id != '-1'").coalesce(1)
    assert plan(spread(pinned)).startswith(top_spread), (
        "coalesce-pinned frame was not re-spread"
    )

    # (e) rebalance-topped frames must not reach the rdd probe (it
    # would execute the rebalance's map stages as a job)
    spread(small.hint("rebalance"))

    # (f) a keyed repartition(n >= slots) is already spread — no
    # round-robin may be stacked on top (it would destroy the caller's
    # co-partitioning)
    keyed = small.repartition(slots, F.col("doc_id")).filter("doc_id != '-1'")
    assert spread(keyed) is keyed

    # (g) ... and so is a keyed repartition without a count
    keyed_nocount = small.repartition(F.col("doc_id"))
    assert spread(keyed_nocount) is keyed_nocount

    # (h) the TOPMOST repartition decides: a small count over a large
    # one (not adjacent, so Catalyst keeps both) pins the frame
    narrowed = (
        small.repartition(64, F.col("doc_id"))
        .withColumn("x", F.lit(1))
        .repartition(2)
    )
    assert plan(spread(narrowed)).startswith(top_spread)

    # (i) a coalesce pins a byte-LARGE frame too (its size estimate
    # alone would leave it at one partition)
    big = (
        spark.range(10**5)
        .crossJoin(spark.range(10**5).withColumnRenamed("id", "j"))
        .coalesce(1)
    )
    assert plan(spread(big)).startswith(top_spread)

    # (j) node classes decide, not plan text: a scan already split
    # slots-wide whose column names and filter literal read like wide
    # nodes is narrow, and is left alone
    path = str(tmp_path / "marker_names.parquet")
    small.select("doc_id", F.lit(1).alias("Sort"), F.lit(2).alias("Join")
                 ).repartition(2 * slots).write.parquet(path)
    scan = spark.read.parquet(path).filter("doc_id != 'Aggregate'")
    assert scan.rdd.getNumPartitions() >= slots
    assert spread(scan) is scan

    # (k) a persisted aggregate's plan is one InMemoryRelation leaf;
    # df.rdd on it runs the aggregate, so it must not count as narrow
    cached = small.groupBy("text").agg(F.max("doc_id").alias("doc_id")).persist()
    try:
        derived = cached.select("doc_id", "text")
        assert _first_wide_node(derived).nodeName() == "InMemoryRelation"
        spread(derived)
    finally:
        cached.unpersist()


def test_salting_checkpoints_only_narrow_inputs(spark, docs_df, tmp_path):
    """extract_with_salting rescans a narrow input once per branch and
    checkpoints (a LogicalRDD in the plan) anything else. Node classes
    decide: a filter literal that reads like a node name stays a
    rescan, and a rebalance hint is not narrow."""
    path = str(tmp_path / "docs.parquet")
    docs_df.write.parquet(path)
    docs = spark.read.parquet(path)

    def checkpointed(df):
        out = pipeline.extract_with_salting(df, lexicon_words())
        return "LogicalRDD" in (
            out._jdf.queryExecution().optimizedPlan().toString()
        )

    assert not checkpointed(docs.filter("doc_id != 'Join'"))
    assert checkpointed(docs.hint("rebalance"))
