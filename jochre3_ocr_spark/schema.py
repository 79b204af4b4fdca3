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
