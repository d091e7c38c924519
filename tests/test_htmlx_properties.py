"""Property tests (hypothesis): the extraction kernel must be total,
deterministic, and span-sound on ARBITRARY byte input — a 100 TB crawl
contains every malformation imaginable and one raised exception kills a
whole task retry cycle."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ai_service_ocr_grading_handler_spark.core.htmlx import extract_doc, normalize_ws

# html-ish soup: tags, brokenness, entities, unicode, nulls
_TOKENS = list("abc <>/=\"'&;!-\n\tÀ中ぁ\x00") + [
    "<p>", "</p>", "<a href='x'>", "</a>", "<div", "<!--", "-->",
    "<script>", "</script>", "<article>", "&amp;", "&#60;", "word ",
    # tokenizer branches: case, quotes, declarations, raw text, voids
    '<A HREF="a>b">', "</NAV>", '<a title="x ', "<![CDATA[", "]]>",
    "<!DOCTYPE html>", "<?xml ?>", "<style>", "</style>", "<br>", "</",
]
_soup = st.lists(st.sampled_from(_TOKENS), max_size=80).map("".join)


@settings(max_examples=300, deadline=None)
@given(_soup)
def test_total_and_deterministic(s):
    b = s.encode("utf-8", errors="replace")
    r1 = extract_doc(b)
    r2 = extract_doc(b)
    assert r1.text == r2.text
    assert r1.spans == r2.spans


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=400))
def test_arbitrary_bytes_never_raise(b):
    r = extract_doc(b)
    assert isinstance(r.text, str)


@settings(max_examples=200, deadline=None)
@given(_soup)
def test_spans_point_into_source(s):
    b = s.encode("utf-8", errors="replace")
    decoded = b.decode("utf-8", errors="replace")
    r = extract_doc(b)
    for (start, end, block_id) in r.spans:
        assert 0 <= start <= end <= len(decoded)
        blk = r.blocks[block_id]
        # the block's normalized text is recoverable from its source span
        src = decoded[start:end]
        assert blk.text  # content blocks are non-empty by construction
        # every word of the block text appears in the raw span (tags aside)
        raw_ws = normalize_ws(src)
        assert raw_ws  # a content span can't map to pure whitespace


@settings(max_examples=200, deadline=None)
@given(st.lists(_soup, min_size=1, max_size=8))
def test_row_independence(docs):
    """Batch composition cannot change per-row output (the pure-function
    contract behind Arrow batch-boundary invariance)."""
    blobs = [d.encode("utf-8", errors="replace") for d in docs]
    solo = [extract_doc(b).text for b in blobs]
    again = [extract_doc(b).text for b in reversed(blobs)][::-1]
    assert solo == again
