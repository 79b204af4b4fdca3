"""The per-document extraction kernel — the full reference pipeline for
one document, shared by the Spark mapInPandas stage and the golden
oracle used in tests.

Stage order mirrors Jochre.processMatInternal (core/Jochre.scala:303-420)
for the text path (segmentation is a separate, geometry-driven stage —
see operators/segmentation.py):

1. text guess: beam search + lexicon rescoring + cross-line hyphenation
   (core/text/FullSegmentationGuesser.scala:375-396)
2. ALTO transform: simplify → hyphen split → punctuation split →
   number reverse → [glyph removal] → spelling alternatives
   (core/alto/AltoTransformer.scala:40-57;
   yiddish/.../YiddishAltoTransformer.scala:97-103)
3. output assembly: content / processedContent
   (core/model/Alto.scala:12-13, TextBlock.scala:94-124)
"""

from __future__ import annotations

import json

from jochre3_ocr_spark.functions.lexicon import Lexicon
from jochre3_ocr_spark.operators import alto_rules
from jochre3_ocr_spark.operators.guesser import guess_document, identity_topk
from jochre3_ocr_spark.operators.spantree import (
    flatten,
    iter_words,
    parse_spans,
)
from jochre3_ocr_spark.schema import PipelineConfig


def process_tree(
    doc,
    lexicon: Lexicon,
    config: PipelineConfig | None = None,
    topk_fn=identity_topk,
) -> dict:
    """Run guess + ALTO transform + output assembly on a parsed Document
    tree (shared by the spans path and the OCR/vision path)."""
    config = config or PipelineConfig()
    if config.glyph_confusions and topk_fn is identity_topk:
        from jochre3_ocr_spark.operators.guesser import confusable_topk

        topk_fn = confusable_topk
    guess_document(doc, lexicon, config, topk_fn)

    alto_rules.simplify_contents(doc)
    if config.add_hyphen_element:
        alto_rules.add_hyphen_rule(doc)
    alto_rules.punctuation_split_rule(doc)
    alto_rules.reverse_number_rule(doc)
    if config.remove_glyphs:
        alto_rules.glyph_remover(doc)
    alto_rules.add_alternatives_rule(doc, lexicon)

    out_spans = flatten(doc, remove_glyphs=config.remove_glyphs)
    words = list(iter_words(doc))
    alternatives = {
        w.content: [list(a) for a in w.alternatives]
        for w in words
        if w.alternatives
    }
    # per-page mean word confidence (Jochre.scala:365-386: allWords'
    # confidences averaged, 0.0 when empty — the Page PC attribute)
    confs = [w.confidence for w in words]
    mean_conf = sum(confs) / len(confs) if confs else 0.0
    doc.confidence = mean_conf
    return {
        "doc_id": doc.doc_id,
        "spans": out_spans,
        "text": doc.content,
        "processed_text": doc.processed_content,
        "alternatives_json": json.dumps(alternatives, ensure_ascii=False),
        "n_spans": len(out_spans),
        "n_words": len(words),
        "mean_confidence": float(mean_conf),
        "language": doc.language,
        "status": "ok",
        "error": None,
    }


def process_document(
    doc_id: str,
    spans,
    lexicon: Lexicon,
    config: PipelineConfig | None = None,
    topk_fn=identity_topk,
) -> dict:
    """Run the full text pipeline on one document's flat span list.

    Returns one output row as a dict: the columns of
    ``plans/pipeline._RAW_OUT_DDL``, with the rewritten ``spans`` (tuples)
    in place of their JSON encoding ``spans_json``.
    """
    doc = parse_spans(doc_id, spans)
    return process_tree(doc, lexicon, config, topk_fn)


def error_row(doc_id: str, exc: Exception | str) -> dict:
    """The quarantine row of a document whose processing raised ``exc``
    (or failed with the message ``exc``)."""
    return {
        "doc_id": doc_id,
        "spans": [],
        "text": None,
        "processed_text": None,
        "alternatives_json": None,
        "n_spans": 0,
        "n_words": 0,
        "mean_confidence": 0.0,
        "language": None,
        "status": "error",
        "error": exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}",
    }


def process_document_safe(doc_id: str, spans, lexicon, config=None, topk_fn=identity_topk) -> dict:
    """Error-quarantining wrapper: one bad document must never fail the
    job (SURVEY.md §3.4 — per-doc error column instead of task failure).
    For in-process callers; the Spark stage (``plans/pipeline
    ._kernel_stage``) puts the same quarantine around its whole row."""
    try:
        return process_document(doc_id, spans, lexicon, config, topk_fn)
    except Exception as exc:  # noqa: BLE001 — quarantine anything
        return error_row(doc_id, exc)
