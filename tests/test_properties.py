"""Property-based robustness (hypothesis): the kernel and its operators
must be total, deterministic, and order-invariant on arbitrary inputs —
one malformed doc must never take down a 100 TB job."""

import json
import unicodedata

from hypothesis import given, settings, strategies as st

from jochre3_ocr_spark.functions.lexicon import Lexicon
from jochre3_ocr_spark.functions.reading_order import sort_blocks
from jochre3_ocr_spark.functions.simplify import simplify
from jochre3_ocr_spark.functions.geometry import PredictedBox
from jochre3_ocr_spark.operators.kernel import process_document_safe
from jochre3_ocr_spark.operators.segmentation import remove_overlaps
from jochre3_ocr_spark.plans import pipeline

LEX = Lexicon.from_words(["דער", "געװאָרן"])

# Yiddish-ish text: Hebrew letters, nikud, punctuation, digits, latin
_ALPHABET = (
    "אבגדהוזחטיכךלמםנןסעפףצץקרשת"
    "ַָּֿ״׳־"
    "abzXL" + "09.,\"'„“() -"
)
texts = st.text(alphabet=_ALPHABET, min_size=0, max_size=12)

kinds = st.sampled_from(
    ["block", "para", "line", "word", "space", "hyphen", "glyph", "media", "junk"]
)
span = st.tuples(kinds, st.one_of(st.none(), texts), st.none(), st.integers(0, 10))
span_lists = st.lists(span, max_size=40)


@given(span_lists)
@settings(max_examples=200, deadline=None)
def test_kernel_total_on_arbitrary_spans(spans):
    """Any span sequence — malformed kinds, Nones, stray glyphs — yields
    a structured result, never an exception."""
    spans = [(k, t, m, i) for i, (k, t, m, _) in enumerate(spans)]
    out = process_document_safe("d", spans, LEX)
    assert out["status"] in ("ok", "error")
    if out["status"] == "ok":
        # offsets are dense and ordered
        offs = [o for *_, o in out["spans"]]
        assert offs == list(range(len(offs)))


@given(span_lists)
@settings(max_examples=100, deadline=None)
def test_kernel_deterministic(spans):
    spans = [(k, t, m, i) for i, (k, t, m, _) in enumerate(spans)]
    a = process_document_safe("d", spans, LEX)
    b = process_document_safe("d", list(spans), LEX)
    assert a == b


@given(texts)
@settings(max_examples=300, deadline=None)
def test_simplify_stabilizes(s):
    """simplify is NOT strictly idempotent (reference-faithful: the
    non-YIVO-pasekh deletion runs AFTER the tsvey-yudn ligature rule,
    YiddishTextSimpifier.scala:44-58, so e.g. יַ+י → יי on pass 1 → ײ on
    pass 2). It must stabilize by the second application."""
    twice = simplify(simplify(s))
    assert simplify(twice) == twice


def test_simplify_nonidempotent_reference_quirk():
    """Pin the faithful quirk hypothesis found: yud+pasekh+yud."""
    s = "יַי"
    once = simplify(s)
    assert once == "יי"  # pasekh dropped after the ligature pass
    assert simplify(once) == "ײ"  # second pass ligates


@given(texts)
@settings(max_examples=200, deadline=None)
def test_simplify_is_nfd(s):
    assert unicodedata.normalize("NFD", simplify(s)) == simplify(s)


boxes = st.tuples(
    st.integers(0, 500), st.integers(0, 500), st.integers(1, 200), st.integers(1, 200)
)


@given(st.lists(boxes, min_size=0, max_size=12))
@settings(max_examples=200, deadline=None)
def test_sort_blocks_is_permutation(bs):
    out = sort_blocks(bs, left_to_right=False)
    assert sorted(out) == sorted(bs)


@given(st.lists(st.tuples(boxes, st.floats(0.01, 1.0)), max_size=10))
@settings(max_examples=200, deadline=None)
def test_remove_overlaps_subset_and_deterministic(items):
    rects = [PredictedBox("x", b, c) for b, c in items]
    out = remove_overlaps(rects)
    assert all(r in rects for r in out)
    assert remove_overlaps(rects) == out
    assert len(out) <= len(rects)


@given(st.lists(boxes, min_size=2, max_size=8))
@settings(max_examples=100, deadline=None)
def test_dehyphenate_total(bs):
    # reuse the box generator's ints to build odd multiline text
    from jochre3_ocr_spark.functions.dehyphenate import dehyphenate

    text = "\n".join("־".join(str(x) for x in b) for b in bs) + "־"
    out = dehyphenate(text, LEX)
    assert isinstance(out, str)


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_png_roundtrip_property(h, w, seed):
    import numpy as np

    from jochre3_ocr_spark.sources.png_codec import decode_png, encode_png

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


@given(st.integers(min_value=1, max_value=50))
@settings(max_examples=30, deadline=None)
def test_pdf_page_count_property(n):
    from jochre3_ocr_spark.sources.pdf import count_pdf_pages, make_test_pdf

    assert count_pdf_pages(make_test_pdf(n)) == n


# the inert alphabet used by the oracle-anchored driver queries
# (__spark_entry__._YID_ALEPH): 16 Hebrew consonants outside every
# simplify digraph/rewrite class, every to_yivo edit letter, and the
# shtumer-alef / final-form classes. The oracle technique rests on the
# claim that the FULL pipeline is a pure per-char translate on such
# text — pin it property-wise, not just on the driver corpus.
_INERT = "בגדזחטכלמנסצקרשת"
_TO26 = (_INERT * 2)[:26]
_TRANS = str.maketrans("abcdefghijklmnopqrstuvwxyz", _TO26)
_LOWER_WORDS = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12),
    min_size=0,
    max_size=30,
)


@given(_LOWER_WORDS)
@settings(max_examples=150, deadline=None)
def test_inert_alphabet_pipeline_is_pure_translate(words):
    """For translate()-mapped [a-z] text, the full pipeline (beam +
    simplify + every ALTO rule) returns exactly the mapped words:
    n_spans = 1 + 2W + G, processed text = mapped tokens joined, all
    confidences = the unknown-word factor."""
    from jochre3_ocr_spark.plans.pipeline import text_to_spans
    from jochre3_ocr_spark.sources.corpus import lexicon_words

    lex = Lexicon.from_words(lexicon_words())
    text = " ".join(words).translate(_TRANS)
    out = process_document_safe("d", text_to_spans(text), lex)
    W = len(words)
    G = sum(len(w) for w in words)
    assert out["status"] == "ok"
    assert out["n_words"] == W
    assert out["n_spans"] == (1 + 2 * W + G if W else 1)
    assert out["processed_text"] == text
    if W:
        assert out["mean_confidence"] == 0.5


@given(_LOWER_WORDS)
@settings(max_examples=75, deadline=None)
def test_inert_alphabet_beam_confusions_length_invariant(words):
    """With the confusion classifier, content may flip (lexicon
    rescoring) but every count/length column is invariant — the beam
    query's oracle contract."""
    from jochre3_ocr_spark.operators.guesser import confusable_topk
    from jochre3_ocr_spark.plans.pipeline import text_to_spans
    from jochre3_ocr_spark.schema import PipelineConfig
    from jochre3_ocr_spark.sources.corpus import lexicon_words

    lex = Lexicon.from_words(lexicon_words())
    text = " ".join(words).translate(_TRANS)
    out = process_document_safe(
        "d",
        text_to_spans(text),
        lex,
        PipelineConfig(glyph_confusions=True),
        confusable_topk,
    )
    W = len(words)
    G = sum(len(w) for w in words)
    assert out["status"] == "ok"
    assert out["n_words"] == W
    assert out["n_spans"] == (1 + 2 * W + G if W else 1)
    assert len(out["processed_text"]) == (G + W - 1 if W else 0)


@given(
    st.lists(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=0, max_value=2**20),
)
@settings(max_examples=40, deadline=None)
def test_vision_path_recovers_arbitrary_word_layouts(words, seed_ix):
    """build_pages_from_words → full segment/classify/guess/transform
    must recover EXACTLY the input words re-chunked into 12-word blocks
    (4/line × 3 lines), for any [a-z] word list and any imperfection
    seed — the contract behind the ocr_layout_end_to_end oracle."""
    from jochre3_ocr_spark.operators.ocr import ocr_document
    from jochre3_ocr_spark.sources.layout_oracle import (
        build_pages_from_words,
        glyph_content_lookup,
    )

    mapped = [w.translate(_TRANS) for w in words]
    pages = build_pages_from_words(seed_ix, mapped)
    layouts = [p[0] for p in pages]
    lookups = [glyph_content_lookup(p[1]) for p in pages]
    lex = Lexicon.from_words(["דער"])
    out = ocr_document("d", layouts, lookups, lex)
    expected = "\n".join(
        " ".join(mapped[i : i + 12]) for i in range(0, len(mapped), 12)
    )
    assert out["status"] == "ok"
    assert out["processed_text"] == expected
    assert out["n_words"] == len(mapped)


rects = st.tuples(
    st.integers(0, 1900), st.integers(0, 2700),
    st.integers(1, 400), st.integers(1, 400),
)


@given(rects)
@settings(max_examples=200, deadline=None)
def test_glyph_crop_rect_contract(r):
    """GlyphExtractor crop geometry (GlyphExtractor.scala:66-82): the
    crop stays inside the page, is at least as wide as tall before
    clamping (square pad), and covers the glyph∩page region."""
    from jochre3_ocr_spark.operators.spantree import Rect
    from jochre3_ocr_spark.sources.extractors import glyph_crop_rect

    page_w, page_h = 2000, 2800
    g = Rect(*r)
    c = glyph_crop_rect(g, page_w, page_h)
    assert 0 <= c.left and 0 <= c.top
    assert c.right <= page_w and c.bottom <= page_h
    gx1, gy1 = max(g.left, 0), max(g.top, 0)
    gx2, gy2 = min(g.right, page_w), min(g.bottom, page_h)
    if gx2 > gx1 and gy2 > gy1:
        # interior glyphs (margins not clipped) are fully covered
        if g.left > 40 and g.top > 40 and g.right < page_w - 40 and g.bottom < page_h - 40:
            assert c.left <= g.left and c.right >= g.right
            assert c.top <= g.top and c.bottom >= g.bottom


@given(st.lists(st.tuples(st.integers(1, 8), st.integers(1, 8)), min_size=0, max_size=10))
@settings(max_examples=100, deadline=None)
def test_unrotate_roundtrip_identity_at_zero(pairs):
    from jochre3_ocr_spark.operators.spantree import Rect
    from jochre3_ocr_spark.sources.extractors import unrotate_rect

    for w, h in pairs:
        r = Rect(w * 3, h * 5, w, h)
        assert unrotate_rect(r, 100, 100, 0.0) == r


@given(
    st.integers(min_value=0, max_value=2000),
    st.integers(min_value=2, max_value=64),
    st.integers(min_value=0, max_value=32),
)
def test_chunk_arithmetic_covers_all_tokens(n, max_tokens, overlap):
    """The chunk-count formula (text_metrics.chunk_documents and the
    corpus_chunking SQL twin share it) yields windows that cover every
    token exactly, start at stride multiples, and never emit an empty
    or redundant final chunk."""
    if overlap >= max_tokens:
        return
    stride = max_tokens - overlap
    if n == 0:
        return
    nc = 1 if n <= max_tokens else 1 + (n - max_tokens + stride - 1) // stride
    covered = set()
    prev_end = 0
    for ci in range(nc):
        b = ci * stride
        e = min(b + max_tokens, n)
        assert b < n  # never an empty chunk
        covered.update(range(b, e))
        if ci:
            # overlap (or exact contiguity when overlap=0) — no gaps
            assert b <= prev_end
        prev_end = e
    assert covered == set(range(n))  # full coverage
    if nc > 1:
        # minimality: one fewer chunk would leave a tail uncovered
        assert (nc - 2) * stride + max_tokens < n


@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=0, max_size=60),
    st.integers(min_value=16, max_value=300),
)
def test_pack_walk_matches_recursive_oracle(tokens, capacity):
    """The greedy pack fold (packing.pack_sequences) and the recursive-
    CTE oracle walk (corpus_packing's _Q_PACKING_DUCK) are the same
    recurrence: replay both on one shard and compare."""
    # python replica of the fold
    pack_id, pack_pos, cum = 0, 0, 0
    fold = []
    for tok in tokens:
        if cum > 0 and cum + tok > capacity:
            pack_id += 1
            pack_pos, cum = 0, 0
        fold.append((pack_id, pack_pos))
        pack_pos += 1
        cum += tok
    # python replica of the CTE recurrence
    cte = []
    for i, tok in enumerate(tokens):
        if i == 0:
            state = (0, 0, tok)
        else:
            pid, pos, cum_prev = state
            if cum_prev > 0 and cum_prev + tok > capacity:
                state = (pid + 1, 0, tok)
            else:
                state = (pid, pos + 1, cum_prev + tok)
        cte.append((state[0], state[1]))
    assert fold == cte


# span JSON transport: any string, including quotes, backslashes, control
# characters, non-BMP code points and the splice's own ", \"offset\": N}"
_json_texts = st.one_of(
    st.none(),
    st.text(),
    st.sampled_from(['"', "\\", "\n", "\x01", ', "offset": 3}', "\U0001f600"]),
)
_json_spans = st.lists(
    st.tuples(_json_texts, _json_texts, _json_texts, st.one_of(st.none(), st.integers(0, 10**6))),
    max_size=20,
)


def _dumps_spans(spans):
    return json.dumps(
        [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans],
        ensure_ascii=False,
    )


@given(_json_spans)
@settings(max_examples=300, deadline=None)
def test_span_encoder_is_json_dumps(spans):
    assert pipeline._tuples_to_json(spans) == _dumps_spans(spans)


@given(st.lists(st.lists(st.tuples(_json_texts, _json_texts, _json_texts), max_size=8), max_size=5))
@settings(max_examples=300, deadline=None)
def test_chunk_splice_is_decode_renumber_encode(chunks):
    """Splicing chunk outputs (each numbered 0..n-1, as the kernel
    writes them) gives the bytes of decoding every chunk, renumbering
    the offsets across the doc and encoding the whole list again."""
    encoded = [
        pipeline._tuples_to_json([(k, t, m, i) for i, (k, t, m) in enumerate(c)])
        for c in chunks
    ]
    flat = [(k, t, m, i) for i, (k, t, m) in enumerate(s for c in chunks for s in c)]
    got = pipeline._splice_spans_json(encoded, [len(c) for c in chunks])
    assert got == _dumps_spans(flat)
