"""Schemas and configuration for the docs/spans data model.

Data model (BASELINE.json ``input_hint``): one row per document,
``spans`` is the flattened ALTO tree in document order. Mirrors the
reference hierarchy Alto→Page→Block→TextLine→Word/Space/Hyphen→Glyph
(reference: core/model/Alto.scala:5-10, core/model/package.scala:28-79)
flattened losslessly with a ``kind`` discriminator + ``offset`` order.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# Kind vocabulary (FIXTURES.md §1): derived from the reference ALTO model.
#   block  — TextBlock boundary        (core/model/TextBlock.scala:11-21)
#   para   — ComposedBlock child start (core/model/ComposedBlock.scala)
#   line   — TextLine                  (core/model/TextLine.scala:10-19)
#   word   — Word                      (core/model/Word.scala:11-24)
#   space  — Space (content " ")       (core/model/Space.scala)
#   hyphen — end-of-line Hyphen        (core/model/Hyphen.scala)
#   glyph  — Glyph                     (core/model/Glyph.scala)
#   media  — Illustration              (core/model/Illustration.scala)
KINDS = ("block", "para", "line", "word", "space", "hyphen", "glyph", "media")

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)

# Pipeline output: rewritten spans + assembled text formats + per-doc metrics.
# `text` / `processed_text` mirror OutputFormat.Text / OutputFormat.ProcessedText
# (core/output/OutputFormat.scala; core/model/Alto.scala:12-13).
SPANS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("processed_text", T.StringType(), True),
        T.StructField("alternatives_json", T.StringType(), True),
        T.StructField("n_spans", T.IntegerType(), True),
        T.StructField("n_words", T.IntegerType(), True),
        # per-page mean word confidence (Jochre.scala:365-386 → Page PC)
        T.StructField("mean_confidence", T.DoubleType(), True),
        # page-level language after votes (FullSegmentationGuesser:336-360)
        T.StructField("language", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# Checkpoint/metrics row written per task partition — enables anti-join resume
# (our addition per BASELINE.json north_rule; reference has no resume).
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_spans", T.IntegerType(), True),
    ]
)

# Layout-oracle boxes (FIXTURES.md §4): a deterministic stand-in for the YOLO
# DLA server (core/segmentation/YoloPredictor.scala:60-178).
BOX_STRUCT = T.StructType(
    [
        T.StructField("label", T.StringType(), False),
        T.StructField("left", T.IntegerType(), False),
        T.StructField("top", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("conf", T.DoubleType(), False),
    ]
)


@dataclass(frozen=True)
class PipelineConfig:
    """Typed analog of the reference's HOCON config (reference.conf).

    Defaults match the reference defaults where one exists.
    """

    # text guesser (core/text/FullSegmentationGuesser.scala; reference.conf:75-77)
    beam_width: int = 5
    unknown_word_factor: float = 0.5
    # reference default (yiddish reference.conf:77: hyphen-regex = "־"),
    # full-matched against the LAST GLYPH outcome
    # (FullSegmentationGuesser.scala:475). Callers may opt into a broader
    # pattern (e.g. r"(?s).*[-־]$") explicitly.
    hyphen_regex: str = "־"
    # alto transformer (yiddish reference.conf: add-hyphen-element)
    add_hyphen_element: bool = True
    remove_glyphs: bool = False
    # segmentation (reference.conf:45-69)
    min_confidence: float = 0.05
    overlap_nms_threshold: float = 0.25  # FullYoloSegmenter.scala:1006
    merge_overlap_threshold: float = 0.20  # FullYoloSegmenter.scala:1030ff
    merge_min_confidence: float = 0.5
    block_min_intersection: float = 0.5  # placeRectanglesInTextBlocks default
    word_min_intersection: float = 0.5
    glyph_min_intersection: float = 0.8
    # language / BiDi (core/model/package.scala:48-75)
    language: str = "yi"
    # glyph classifier selection: identity oracle or the deterministic
    # confusion table (exercises beam + rescoring end to end)
    glyph_confusions: bool = False
    # strategy selection (reference.conf picks SegmenterService /
    # TextGuesserService ZLayers; operators/strategies.py):
    # "full" | "block-only" | "non"
    segmenter_type: str = "full"
    # "full-segmentation" | "block" | "unsegmented-page"
    guesser_type: str = "full-segmentation"

    @property
    def left_to_right(self) -> bool:
        from jochre3_ocr_spark.functions.simplify import is_left_to_right

        return is_left_to_right(self.language)
