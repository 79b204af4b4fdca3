"""Directory scan + eval TSV + text sinks."""

import glob
import os

from jochre3_ocr_spark.sources.sinks import read_binary_dir, write_eval_tsv, write_text


def test_read_binary_dir(spark, tmp_path):
    (tmp_path / "a.png").write_bytes(b"png-bytes")
    (tmp_path / "b.jpg").write_bytes(b"jpg-bytes")
    (tmp_path / "ignore.txt").write_text("nope")
    df = read_binary_dir(spark, str(tmp_path))
    rows = df.collect()
    assert {os.path.basename(r["path"]) for r in rows} == {"a.png", "b.jpg"}
    assert read_binary_dir(spark, str(tmp_path), max_files=1).count() == 1


def test_write_eval_tsv(spark, tmp_path):
    metrics = spark.createDataFrame(
        [("f1", 0.1, 100), ("f2", 0.3, 200)],
        "file string, cer double, char_count long",
    )
    out = str(tmp_path / "eval")
    write_eval_tsv(metrics, out)
    content = open(glob.glob(f"{out}/part-*.csv")[0]).read()
    lines = content.strip().split("\n")
    assert lines[0] == "file\tcer\tchar_count"
    assert len(lines) == 4  # header + 2 rows + mean
    assert lines[-1].startswith("mean\t0.2\t150")  # mean row last


def test_write_text(spark, tmp_path):
    df = spark.createDataFrame(
        [("d1", "hello\nworld")], "doc_id string, processed_text string"
    )
    out = str(tmp_path / "text")
    write_text(df, out)
    content = "".join(
        open(f).read() for f in sorted(glob.glob(f"{out}/part-*.txt"))
    )
    assert content.strip() == "d1\thello\\nworld"


def test_api_facade():
    """The REST-endpoint analogs (jochre3_ocr_spark/api.py)."""
    import unicodedata

    from jochre3_ocr_spark import api
    from jochre3_ocr_spark.functions.lexicon import Lexicon

    lex = Lexicon.from_words(["דער", "געװאָרן"])
    spans = [
        ("block", None, None, 0),
        ("line", None, None, 1),
        ("word", "דער", None, 2),
    ]
    out = api.analyze_spans("d", spans, lex, formats=("Alto4", "Text", "ProcessedText"))
    nfd = lambda s: unicodedata.normalize("NFD", s)
    assert out["Text"] == nfd("דער")
    assert out["ProcessedText"] == nfd("דער")
    assert out["Alto4"].startswith("<?xml")
    assert api.word_in_lexicon("דער", lex) == 1
    assert api.word_in_lexicon("דץר", lex) == -1
    assert api.standardize_words(["דער"], lex) == [nfd("דער")]
    assert api.dehyphenate_text(nfd("גע־\nװאָרן דער"), lex) == nfd("געװאָרן דער\n")


def test_alto_header_meta_roundtrip():
    """Processing / Styles / Tags header sections (Alto.scala:15-29,
    ProcessingStep.scala:20-43, TextStyle.scala:5-17) round-trip."""
    from jochre3_ocr_spark.operators.spantree import parse_spans
    from jochre3_ocr_spark.sources.alto_xml import (
        AltoMeta,
        AltoTag,
        TextStyle,
        emit_alto,
        jochre_processing_step,
        parse_alto_meta,
    )

    doc = parse_spans(
        "d", [("block", None, None, 0), ("line", None, None, 1), ("word", "אבג", None, 2)]
    )
    meta = AltoMeta(
        processing_steps=[jochre_processing_step("2024-01-01T00:00:00Z")],
        text_styles=[TextStyle(id="TS1", font_family="Serif", font_size=12.0)],
        tags=[
            AltoTag("LayoutTag", "LT1", "column"),
            AltoTag("StructureTag", "ST1", "chapter"),
        ],
    )
    xml = emit_alto(doc, 100, 100, meta=meta)
    got = parse_alto_meta(xml)
    assert len(got.processing_steps) == 1
    step = got.processing_steps[0]
    assert step.id == "JOCHRE1"
    assert step.software_name == "Jochre"
    assert step.step_descriptions == ("contentGeneration",)
    assert step.processing_time == "2024-01-01T00:00:00Z"
    assert got.text_styles == meta.text_styles
    assert got.tags == meta.tags


def test_alto_page_pc_lang_roundtrip():
    """Page PC (mean word confidence, Jochre.scala:365-386) and LANG
    round-trip through emit/parse (Page.scala:147,265-267)."""
    from jochre3_ocr_spark.operators.spantree import parse_spans
    from jochre3_ocr_spark.sources.alto_xml import emit_alto, parse_alto

    doc = parse_spans(
        "d", [("block", None, None, 0), ("line", None, None, 1), ("word", "אבג", None, 2)]
    )
    doc.language = "yi"
    doc.confidence = 0.876
    xml = emit_alto(doc, 10, 10)
    assert 'PC="0.88"' in xml and 'LANG="yi"' in xml
    back = parse_alto(xml)
    assert back.language == "yi"
    assert back.confidence == 0.88


def test_fetch_images_with_injected_fetcher(spark):
    """URL fetch slot (ImageUtils.scala:150-159): per-row quarantine,
    binary content lands decodable."""
    import numpy as np

    from jochre3_ocr_spark.sources.png_codec import decode_png, encode_png
    from jochre3_ocr_spark.sources.sinks import fetch_images

    img = (np.arange(12 * 10).reshape(12, 10) % 256).astype(np.uint8)
    payload = encode_png(img)

    def fake(url):
        if url.endswith("good.png"):
            return payload
        raise OSError("connection refused")

    urls = spark.createDataFrame(
        [("a", "http://x/good.png"), ("b", "http://x/bad.png")],
        "doc_id string, url string",
    )
    out = {r.doc_id: r for r in fetch_images(urls, fetcher=fake).collect()}
    assert out["a"].status == "ok"
    assert np.array_equal(decode_png(bytes(out["a"].content)), img)
    assert out["b"].content is None and out["b"].status.startswith("error:")


def test_zip_lexicon_roundtrip(tmp_path):
    from jochre3_ocr_spark.functions.lexicon import (
        load_lexicon,
        serialize_lexicon,
    )

    z = str(tmp_path / "lex.zip")
    serialize_lexicon(["אבג", "דהו"], z)
    lex = load_lexicon(z)
    assert lex.get_frequency("אבג") == 1
    assert lex.get_frequency("זזז") <= 0


def test_write_alto_sink(spark, tmp_path):
    from jochre3_ocr_spark.plans.pipeline import extract, finalize
    from jochre3_ocr_spark.schema import DOCS_SCHEMA
    from jochre3_ocr_spark.sources.corpus import generate_docs, lexicon_words
    from jochre3_ocr_spark.sources.sinks import write_alto

    rows = [
        (
            d["doc_id"],
            [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for k, t, m, o in d["spans"]
            ],
        )
        for d in generate_docs(5)
    ]
    docs = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    fin = finalize(extract(docs, lexicon_words()))
    outp = str(tmp_path / "alto_out")
    write_alto(fin, outp)
    back = spark.read.parquet(outp)
    assert back.count() == 5
    xml = back.orderBy("doc_id").first().alto_xml
    assert xml.startswith("<?xml") and "PC=" in xml and "TextBlock" in xml
    # and the XML parses back into the same doc_id
    from jochre3_ocr_spark.sources.alto_xml import parse_alto

    doc = parse_alto(xml)
    assert doc.doc_id == back.orderBy("doc_id").first().doc_id


def test_alto_zip_sink_roundtrip(spark, tmp_path):
    """Zip sink (AnalysisLogic.scala:232-245): per-doc <doc>_alto4.zip
    holding <doc>_alto4.xml; bytes are deterministic and the XML parses
    back to the same document content."""
    import io
    import zipfile

    from jochre3_ocr_spark.plans.pipeline import extract, finalize
    from jochre3_ocr_spark.schema import DOCS_SCHEMA
    from jochre3_ocr_spark.sources.alto_xml import parse_alto
    from jochre3_ocr_spark.sources.corpus import generate_docs, lexicon_words
    from jochre3_ocr_spark.sources.sinks import alto_zip_bytes

    rows = [
        (
            d["doc_id"],
            [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for k, t, m, o in d["spans"]
            ],
        )
        for d in generate_docs(4)
    ]
    docs = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    fin = finalize(extract(docs, lexicon_words()))
    zipped = {r["doc_id"]: bytes(r["alto_zip"]) for r in alto_zip_bytes(fin).collect()}
    texts = {r["doc_id"]: r["text"] for r in fin.collect()}
    assert set(zipped) == set(texts)
    for doc_id, blob in zipped.items():
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            assert zf.namelist() == [f"{doc_id}_alto4.zip".replace(".zip", ".xml")]
            xml = zf.read(f"{doc_id}_alto4.xml").decode("utf-8")
        doc = parse_alto(xml)
        assert doc.doc_id == doc_id
        assert doc.content == texts[doc_id]
    # determinism: a second run produces byte-identical zips
    again = {r["doc_id"]: bytes(r["alto_zip"]) for r in alto_zip_bytes(fin).collect()}
    assert again == zipped
