"""Differential tests: ``core.htmlx`` against the frozen reference kernel in
``tests/htmlx_oracle.py``. Three things must be equal on every input: the
tokenizer's split list, every ``Block`` field (before and after
classification), and the extracted text and spans. The byte-identity tests
compare only ``.text``, so a change to spans, ``n_tags``, densities or
``kind`` would pass them and fail here."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from ai_service_ocr_grading_handler_spark.core import htmlx
from ai_service_ocr_grading_handler_spark.corpus import (
    fixture_pages,
    pages_rows_from_documents,
    synth_html,
)
from tests import htmlx_oracle as oracle
from tests.test_htmlx_properties import _soup


def _assert_matches_reference(html_bytes: bytes | None) -> None:
    got, want = htmlx.extract_doc(html_bytes), oracle.extract_doc(html_bytes)
    assert got.text == want.text
    assert got.spans == want.spans
    assert got.blocks == want.blocks  # dataclass equality: every field
    if html_bytes is not None:
        html_text = htmlx.decode_html(html_bytes)
        assert htmlx._split_tags(html_text) == oracle.split_tags(html_text)
        assert htmlx.segment_blocks(html_text) == oracle.segment_blocks(html_text)


@settings(max_examples=300, deadline=None)
@given(_soup)
def test_soup_matches_reference(s):
    _assert_matches_reference(s.encode("utf-8", errors="replace"))


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_arbitrary_bytes_match_reference(b):
    _assert_matches_reference(b)


def test_fixture_corpus_matches_reference():
    _assert_matches_reference(None)
    for row in fixture_pages():
        _assert_matches_reference(row["html"])


def test_documents_corpus_matches_reference(sf_smoke):
    rows = duckdb.sql(
        f"select doc_id, text, lang, source from read_parquet('{sf_smoke}/documents.parquet')"
    ).df().to_dict("records")
    pages = list(pages_rows_from_documents(iter(rows)))
    assert pages
    for row in pages:
        _assert_matches_reference(row["html"])


def test_synth_html_corpus_matches_reference():
    # entities, markup-looking text and whitespace runs inside paragraphs
    paras = [
        "Tom & Jerry say 2 < 3 and \"quotes\" survive",
        "tabs\tand\nnewlines  and   runs of spaces",
        "<p>escaped markup</p> &amp; a literal ampersand",
        "café résumé naïve — 中文 ぁ",
        " ".join(f"word{i}" for i in range(60)),
    ]
    for i in range(len(paras) + 1):
        _assert_matches_reference(synth_html(paras[:i], f"oracle-{i}"))
        _assert_matches_reference(synth_html(paras[i:], i))
