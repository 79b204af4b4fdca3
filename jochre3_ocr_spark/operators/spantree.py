"""Per-document span tree: the in-kernel representation of one document.

The Iceberg/parquet table stores one row per document with
``spans: array<struct<kind,text,media_ref,offset>>`` (BASELINE.json
``input_hint``). Inside a pandas-UDF batch each row is parsed into this
lightweight tree (the analog of the reference's Alto→Page→Block→Line→
Word/Space/Hyphen→Glyph case classes, core/model/*.scala), rewritten by
the rule kernels, and flattened back with recomputed offsets.

Geometry: flat spans carry no boxes, but several reference rules do
width arithmetic (hyphen split, punctuation split). We synthesize a
deterministic RTL layout at parse time (fixed glyph width/height), so
rule geometry is reproducible across oracle and executors and across
partitionings. Boxes are never emitted back into spans.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from jochre3_ocr_spark.functions.simplify import string_to_chars

# deterministic synthetic layout constants
GLYPH_W = 10
LINE_H = 20
GLYPH_H = 16
SPACE_W = 5
PAGE_RIGHT = 10_000


@dataclass(slots=True)
class Rect:
    """core/graphics/Rectangle.scala:8-22 (int box algebra)."""

    left: int
    top: int
    width: int
    height: int

    @property
    def right(self) -> int:
        return self.left + self.width

    @property
    def bottom(self) -> int:
        return self.top + self.height

    @property
    def area(self) -> int:
        return self.width * self.height

    def union(self, other: "Rect") -> "Rect":
        left = min(self.left, other.left)
        top = min(self.top, other.top)
        return Rect(
            left,
            top,
            max(self.right, other.right) - left,
            max(self.bottom, other.bottom) - top,
        )

    def area_of_intersection(self, other: "Rect") -> float:
        w = min(self.right, other.right) - max(self.left, other.left)
        h = min(self.bottom, other.bottom) - max(self.top, other.top)
        return float(w * h) if (w > 0 and h > 0) else 0.0

    def translate(self, dx: int, dy: int) -> "Rect":
        """Rectangle.translate (core/graphics/Rectangle.scala:169-170)."""
        return Rect(self.left + dx, self.top + dy, self.width, self.height)

    def rescale(self, scale: float) -> "Rect":
        """Rectangle.rescale (:161-167) — truncation like the reference."""
        return Rect(
            int(self.left * scale),
            int(self.top * scale),
            int(self.width * scale),
            int(self.height * scale),
        )


@dataclass(slots=True)
class Glyph:
    content: str
    rect: Rect
    confidence: float = 1.0


@dataclass(slots=True)
class Space:
    rect: Rect

    content: str = " "


@dataclass(slots=True)
class Hyphen:
    content: str
    rect: Rect


@dataclass(slots=True)
class Word:
    content: str
    rect: Rect
    glyphs: list[Glyph] = field(default_factory=list)
    alternatives: list[tuple[str, str]] = field(default_factory=list)
    confidence: float = 1.0
    language: str | None = None
    subs_type: str | None = None  # HypPart1 | HypPart2
    subs_content: str | None = None


@dataclass(slots=True)
class TextLine:
    items: list  # Word | Space | Hyphen, in reading order
    language: str | None = None
    rect: "Rect | None" = None  # set by geometry-bearing sources
    # (x1, y1, x2, y2) — TextLine.baseLine (core/model/TextLine.scala:14,85)
    baseline: "tuple | None" = None

    @property
    def words(self) -> list[Word]:
        return [w for w in self.items if isinstance(w, Word)]

    @property
    def hyphen(self) -> Hyphen | None:
        for it in self.items:
            if isinstance(it, Hyphen):
                return it
        return None

    @property
    def content(self) -> str:
        return "".join(it.content for it in self.items)

    def combined_words(self) -> list["Word"]:
        """TextLine.combinedWords (core/model/TextLine.scala:38-57): merge
        adjacent Word/Hyphen items not separated by a Space into single
        words (Word.combineWith: concat content, union bbox, sqrt-product
        confidence — core/model/Word.scala:51-63)."""
        out: list[Word] = []
        new_word = True
        for item in self.items:
            if isinstance(item, Space):
                new_word = True
                continue
            if isinstance(item, Hyphen):
                word = Word(
                    content=item.content,
                    rect=item.rect,
                    glyphs=[Glyph(item.content, item.rect, 0.5)],
                    confidence=0.5,
                )
            else:
                word = item
            if new_word:
                out.append(word)
                new_word = False
            else:
                prev = out[-1]
                out[-1] = Word(
                    content=prev.content + word.content,
                    rect=prev.rect.union(word.rect),
                    glyphs=prev.glyphs + word.glyphs,
                    alternatives=prev.alternatives + word.alternatives,
                    confidence=(prev.confidence * word.confidence) ** 0.5,
                    language=prev.language,
                    subs_type=prev.subs_type,
                    subs_content=prev.subs_content,
                )
        return out


@dataclass(slots=True)
class TextBlock:
    lines: list[TextLine]
    language: str | None = None
    rect: "Rect | None" = None  # set by geometry-bearing sources (ALTO scan)

    @property
    def content(self) -> str:
        # TextBlock.scala:94 — lines joined with physical line breaks
        return "\n".join(line.content for line in self.lines)

    @property
    def processed_content(self) -> str:
        """De-hyphenated fold — TextBlock.scala:96-124 (exact semantics:
        skip-first-word carry; hyphen line joins last word's SUBS_CONTENT)."""
        content = ""
        skip_first_word = False
        for line in self.lines:
            if skip_first_word:
                if line.items:
                    tail = line.items[1:]
                    if tail and isinstance(tail[0], Space):
                        words_to_process = tail[1:]
                    else:
                        words_to_process = tail
                else:
                    words_to_process = []
            else:
                words_to_process = line.items
            if line.hyphen is not None:
                init_words = words_to_process[:-1]
                last_word = init_words[-1] if init_words else None
                if isinstance(last_word, Word) and last_word.subs_content:
                    content += " " + "".join(
                        [it.content for it in init_words[:-1]]
                        + [last_word.subs_content]
                    )
                    skip_first_word = True
                else:
                    content += " " + "".join(it.content for it in words_to_process)
                    skip_first_word = False
            else:
                content += " " + "".join(it.content for it in words_to_process)
                skip_first_word = False
        return content.strip()


@dataclass(slots=True)
class ComposedBlock:
    blocks: list[TextBlock]
    rect: "Rect | None" = None

    @property
    def content(self) -> str:
        # ComposedBlock.scala:68
        return "\n\n".join(b.content for b in self.blocks)

    @property
    def processed_content(self) -> str:
        # ComposedBlock.scala:70
        return "\n".join(b.processed_content for b in self.blocks)


@dataclass(slots=True)
class Media:
    media_ref: str
    rect: "Rect | None" = None  # Illustration geometry when known


@dataclass(slots=True)
class Document:
    doc_id: str
    blocks: list  # TextBlock | ComposedBlock | Media
    language: str | None = None  # page-level vote (Page.withLanguage)
    confidence: float = 0.0  # mean word confidence (Jochre.scala:365-386)
    rotation: float = 0.0  # deskew angle (Page.rotation, Jochre.scala:381)
    width: int = 0  # page pixel dims (Page.scala WIDTH/HEIGHT attrs)
    height: int = 0

    @property
    def content(self) -> str:
        """Page.scala:156-160 — text containers joined by blank lines
        (media blocks contribute nothing)."""
        return "\n\n".join(
            b.content for b in self.blocks if not isinstance(b, Media)
        )

    @property
    def processed_content(self) -> str:
        # Page.scala:162-166
        return "\n".join(
            b.processed_content for b in self.blocks if not isinstance(b, Media)
        )


ZERO_RECT = Rect(0, 0, 0, 0)


def parse_spans(doc_id: str, spans, with_geometry: bool = False) -> Document:
    """Parse the ordered flat span sequence into a Document tree.

    Encoding (FIXTURES.md §1): ``block`` opens a block; following
    ``para`` spans turn it into a ComposedBlock with one child per
    para; ``line`` opens a line; ``word``/``space``/``hyphen`` are line
    items; ``glyph`` spans attach to the preceding word; ``media`` is a
    standalone media block. ``spans`` is an iterable of
    (kind, text, media_ref, offset), assumed sorted by offset.
    """
    blocks: list = []
    cur_block: TextBlock | None = None
    cur_composed: ComposedBlock | None = None
    cur_line: TextLine | None = None
    cur_word: Word | None = None
    pending_glyphs: list[str] = []

    def close_word():
        nonlocal cur_word, pending_glyphs
        cur_word = None
        pending_glyphs = []

    def open_block(composed: bool):
        nonlocal cur_block, cur_composed, cur_line
        close_word()
        cur_line = None
        cur_block = TextBlock(lines=[])
        if composed:
            assert cur_composed is not None
            cur_composed.blocks.append(cur_block)
        else:
            blocks.append(cur_block)

    for kind, text, media_ref, _offset in spans:
        if kind == "block":
            close_word()
            cur_line = None
            cur_composed = None
            cur_block = TextBlock(lines=[])
            blocks.append(cur_block)
        elif kind == "para":
            close_word()
            cur_line = None
            if cur_composed is None:
                # promote the open block to a composed block
                if cur_block is not None and blocks and blocks[-1] is cur_block:
                    blocks.pop()
                cur_composed = ComposedBlock(blocks=[])
                blocks.append(cur_composed)
            open_block(composed=True)
        elif kind == "line":
            close_word()
            if cur_block is None:
                cur_block = TextBlock(lines=[])
                blocks.append(cur_block)
            cur_line = TextLine(items=[])
            cur_block.lines.append(cur_line)
        elif kind == "word":
            if cur_line is None:
                cur_line = TextLine(items=[])
                if cur_block is None:
                    cur_block = TextBlock(lines=[])
                    blocks.append(cur_block)
                cur_block.lines.append(cur_line)
            cur_word = Word(content=text or "", rect=ZERO_RECT)
            pending_glyphs = []
            cur_line.items.append(cur_word)
        elif kind == "glyph":
            if cur_word is not None:
                cur_word.glyphs.append(Glyph(text or "", ZERO_RECT, 1.0))
        elif kind == "space":
            close_word()
            if cur_line is not None:
                cur_line.items.append(Space(ZERO_RECT))
        elif kind == "hyphen":
            close_word()
            if cur_line is not None:
                cur_line.items.append(Hyphen(text or "", ZERO_RECT))
        elif kind == "media":
            close_word()
            cur_line = None
            cur_block = None
            cur_composed = None
            blocks.append(Media(media_ref or text or ""))

    doc = Document(doc_id=doc_id, blocks=blocks)
    if with_geometry:
        _assign_geometry(doc)
    else:
        _fill_glyphs(doc)
    return doc


def _fill_glyphs(doc: Document) -> None:
    """Populate glyphs from characters (StringUtils.stringToChars) when
    the input carried no glyph spans; geometry stays at ZERO_RECT."""
    for line in iter_lines(doc):
        for item in line.items:
            if isinstance(item, Word) and not item.glyphs:
                item.glyphs = [
                    Glyph(ch, ZERO_RECT, 1.0)
                    for ch in string_to_chars(item.content)
                ]


def _assign_geometry(doc: Document) -> None:
    """Assign the deterministic synthetic layout to every line item; fill
    in glyphs from characters when the input carried no glyph spans
    (StringUtils.stringToChars semantics, core/utils/StringUtils.scala:7-20)."""
    line_index = 0
    for block in doc.blocks:
        if isinstance(block, Media):
            continue
        child_blocks = block.blocks if isinstance(block, ComposedBlock) else [block]
        for tb in child_blocks:
            for line in tb.lines:
                top = line_index * LINE_H
                cursor = PAGE_RIGHT
                for item in line.items:
                    if isinstance(item, Space):
                        cursor -= SPACE_W
                        item.rect = Rect(cursor, top, SPACE_W, GLYPH_H)
                        continue
                    if isinstance(item, Hyphen):
                        cursor -= GLYPH_W
                        item.rect = Rect(cursor, top, GLYPH_W, GLYPH_H)
                        continue
                    # Word
                    if not item.glyphs:
                        item.glyphs = [
                            Glyph(ch, Rect(0, 0, 0, 0), 1.0)
                            for ch in string_to_chars(item.content)
                        ]
                    for g in item.glyphs:
                        cursor -= GLYPH_W
                        g.rect = Rect(cursor, top, GLYPH_W, GLYPH_H)
                    if item.glyphs:
                        rect = item.glyphs[0].rect
                        for g in item.glyphs[1:]:
                            rect = rect.union(g.rect)
                        item.rect = rect
                    else:
                        item.rect = Rect(cursor, top, 0, GLYPH_H)
                line_index += 1


def flatten(doc: Document, remove_glyphs: bool = True):
    """Flatten back to ordered (kind, text, media_ref, offset) tuples."""
    out: list[tuple[str, str | None, str | None, int]] = []

    def emit(kind: str, text: str | None = None, media_ref: str | None = None):
        out.append((kind, text, media_ref, len(out)))

    def emit_line(line: TextLine):
        emit("line", None, None)
        for item in line.items:
            if isinstance(item, Word):
                emit("word", item.content, None)
                if not remove_glyphs:
                    for g in item.glyphs:
                        emit("glyph", g.content, None)
            elif isinstance(item, Space):
                emit("space", " ", None)
            elif isinstance(item, Hyphen):
                emit("hyphen", item.content, None)

    for block in doc.blocks:
        if isinstance(block, Media):
            emit("media", None, block.media_ref)
        elif isinstance(block, ComposedBlock):
            emit("block", None, None)
            for child in block.blocks:
                emit("para", None, None)
                for line in child.lines:
                    emit_line(line)
        else:
            emit("block", None, None)
            for line in block.lines:
                emit_line(line)
    return out


def iter_lines(doc: Document):
    for block in doc.blocks:
        if isinstance(block, Media):
            continue
        if isinstance(block, ComposedBlock):
            for child in block.blocks:
                yield from child.lines
        else:
            yield from block.lines


def iter_text_blocks(doc: Document):
    """Yield leaf TextBlocks (the guesser operates per TextBlock —
    FullSegmentationGuesser.scala:435)."""
    for block in doc.blocks:
        if isinstance(block, Media):
            continue
        if isinstance(block, ComposedBlock):
            yield from block.blocks
        else:
            yield block


def iter_words(doc: Document):
    for line in iter_lines(doc):
        yield from line.words


def map_rects(doc: Document, fn) -> None:
    """Apply a Rect→Rect map recursively down the tree (the analog of the
    reference's translate/rescale cascades, Page.scala:121-141 — used to
    undo the print-area crop and the resize scale, Jochre.scala:388)."""
    for block in doc.blocks:
        if isinstance(block, Media):
            if block.rect is not None:
                block.rect = fn(block.rect)
            continue
        if isinstance(block, ComposedBlock):
            if block.rect is not None:
                block.rect = fn(block.rect)
            children = block.blocks
        else:
            children = [block]
        for tb in children:
            if tb.rect is not None:
                tb.rect = fn(tb.rect)
            for line in tb.lines:
                if line.rect is not None:
                    line.rect = fn(line.rect)
                for item in line.items:
                    item.rect = fn(item.rect)
                    if isinstance(item, Word):
                        for g in item.glyphs:
                            g.rect = fn(g.rect)


def translate_doc(doc: Document, dx: int, dy: int) -> None:
    map_rects(doc, lambda r: r.translate(dx, dy))


def rescale_doc(doc: Document, scale: float) -> None:
    map_rects(doc, lambda r: r.rescale(scale))
