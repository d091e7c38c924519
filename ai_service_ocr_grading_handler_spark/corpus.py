"""Deterministic Common-Crawl-style `pages` corpus synthesis.

Produces the authoritative input shape from BASELINE.json `input_hint`:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Two corpora:

1. **documents-derived pages** (`pages_rows_from_documents` /
   `pages_df_from_documents`): wraps each row of the driver's
   ``documents`` parquet into realistic HTML — ground-truth main content
   (split into word-chunk paragraphs) surrounded by boilerplate
   (nav/header/sidebar/ads/footer with high link density). The ground truth
   ``text`` column is a *SQL-expressible* function of ``documents.text``
   (see ``DUCKDB_GOLDEN_TEXT_EXPR``), so the DuckDB oracle can verify the
   full extraction pipeline end-to-end by value hash.

2. **fixture pages** (`fixture_pages`): handcrafted edge documents mapped to
   reference semantics (FIXTURES.md §1): empty document (P7/P8 blank
   handling, /root/reference/engine/core/gen_ai_calling.py:319-320), digit-box
   document (K13 batched number extraction,
   llm_number_prediction.py:83-99), multi-JSON essay (T3, utils.py:190-203),
   math-markup (P11/T8, question_generation_handler.py:391-398), wrapped-quote
   OCR payload (T1/T2, utils.py:168-189).

Everything is a pure function of (doc_id, text, lang, source) — no RNG state
leaks across rows, so the corpus is byte-stable under any partitioning.

Host assignment is intentionally skewed (one hot host takes ~30% of pages)
to exercise host-skewed plans: the per-host queries and AQE skew joins.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import html as _html
import random
from collections.abc import Iterator

WORDS_PER_CHUNK = 10
_BLOCK_SEP = "\n\n"

_EPOCH = _dt.datetime(2024, 1, 1, 0, 0, 0)

_BOILER_VOCAB = (
    "home news sports shop login register trending subscribe contact about "
    "privacy terms careers sitemap advertise deals offers premium newsletter "
    "weather finance travel health archive categories tags popular latest"
).split()


def golden_text(text: str, words_per_chunk: int = WORDS_PER_CHUNK) -> str:
    """Ground-truth extracted text: words regrouped into chunk-paragraphs.

    MUST stay in lockstep with DUCKDB_GOLDEN_TEXT_EXPR (tested)."""
    words = text.split(" ")
    chunks = [
        " ".join(words[i : i + words_per_chunk])
        for i in range(0, len(words), words_per_chunk)
    ]
    return _BLOCK_SEP.join(c for c in chunks if c != "")


# DuckDB equivalent of golden_text(text) — {col} is the source column.
DUCKDB_GOLDEN_TEXT_EXPR = (
    "array_to_string("
    "  list_filter("
    "    list_transform("
    "      range(0, cast(ceil(len(string_split({col}, ' ')) / 10.0) as int)),"
    "      i -> array_to_string(list_slice(string_split({col}, ' '), i*10 + 1, i*10 + 10), ' ')"
    "    ), c -> c <> ''"
    "  ), chr(10) || chr(10))"
)


def host_for(doc_id: int) -> str:
    """Skewed host assignment; SQL-expressible (one hot host ~30%)."""
    h = 0 if doc_id % 10 < 3 else doc_id % 50
    return f"host{h}.example.com"


DUCKDB_HOST_EXPR = (
    "('host' || (case when {id} % 10 < 3 then 0 else {id} % 50 end) || '.example.com')"
)


def url_for(doc_id: int, source: str) -> str:
    return f"https://{host_for(doc_id)}/{source}/{doc_id}"


DUCKDB_URL_EXPR = "('https://' || " + DUCKDB_HOST_EXPR + " || '/' || {src} || '/' || {id})"


def url_col(id_col, src_col):
    """Spark Column twin of url_for/DUCKDB_URL_EXPR — the ONE place the
    skewed host/url formula exists for Spark plans (a hand-copied inline
    version in the registry drifted-by-luck until review flagged it)."""
    import pyspark.sql.functions as F

    d = F.col(id_col) if isinstance(id_col, str) else id_col
    src = F.col(src_col) if isinstance(src_col, str) else src_col
    return F.concat(
        F.lit("https://host"),
        F.when(d % 10 < 3, F.lit(0)).otherwise(d % 50).cast("string"),
        F.lit(".example.com/"),
        src,
        F.lit("/"),
        d.cast("string"),
    )


def warc_ts_for(doc_id: int) -> _dt.datetime:
    return _EPOCH + _dt.timedelta(seconds=int(doc_id) * 37)


def _rng_for(doc_id: int | str) -> random.Random:
    # hash-seeded so ids 1 and 2 don't produce correlated streams
    seed = int.from_bytes(hashlib.md5(f"page-{doc_id}".encode()).digest()[:8], "big")
    return random.Random(seed)


def _boiler_phrase(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_BOILER_VOCAB) for _ in range(n))


def _nav_links(rng: random.Random, n: int) -> str:
    return " ".join(
        f'<a href="/{rng.choice(_BOILER_VOCAB)}">{_boiler_phrase(rng, rng.randint(1, 2))}</a>'
        for _ in range(n)
    )


def synth_html(content_paragraphs: list[str], doc_id: int | str, lang: str = "en") -> bytes:
    """Wrap escaped content paragraphs in deterministic boilerplate HTML."""
    rng = _rng_for(doc_id)
    title = _boiler_phrase(rng, 3)
    parts: list[str] = [
        "<!DOCTYPE html>",
        f'<html lang="{lang}"><head><title>{title}</title>',
        "<style>body{margin:0}.ads{color:red}</style>",
        '<script>var t = "<p>not content</p>"; track();</script>',
        "</head><body>",
        f"<header><h1>{_boiler_phrase(rng, 2)}</h1>",
        f"<nav>{_nav_links(rng, rng.randint(5, 9))}</nav></header>",
        '<div class="sidebar"><ul>',
    ]
    for _ in range(rng.randint(3, 6)):
        parts.append(f'<li><a href="#">{_boiler_phrase(rng, rng.randint(1, 3))}</a></li>')
    parts.append("</ul></div>")
    # a link-dense related-stories div outside any semantic container
    parts.append(
        '<div class="related">'
        + _nav_links(rng, rng.randint(4, 7))
        + f" {_boiler_phrase(rng, 2)}</div>"
    )
    parts.append("<article>")
    parts.append(f"<!-- article {doc_id} -->")
    for p in content_paragraphs:
        parts.append(f"<p>{_html.escape(p)}</p>")
    parts.append("</article>")
    parts.append(f'<div class="ads">{_nav_links(rng, rng.randint(3, 6))}</div>')
    parts.append(
        f"<footer>{_nav_links(rng, 4)}<p>© {_boiler_phrase(rng, 3)}</p></footer>"
    )
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def synth_page_row(doc_id: int, text: str, lang: str, source: str) -> dict:
    """One documents-derived pages row; golden text is chunked main content."""
    gold = golden_text(text)
    paragraphs = gold.split(_BLOCK_SEP) if gold else []
    return {
        "url": url_for(doc_id, source),
        "warc_ts": warc_ts_for(doc_id),
        "html": synth_html(paragraphs, doc_id, lang),
        "text": gold,
        "lang": lang,
    }


def pages_rows_from_documents(doc_rows: Iterator[dict]) -> Iterator[dict]:
    for d in doc_rows:
        yield synth_page_row(int(d["doc_id"]), d["text"], d["lang"], d["source"])


# ---------------------------------------------------------------------------
# handcrafted fixture corpus (edge semantics)
# ---------------------------------------------------------------------------

_ESSAY_JSON_PARAS = [
    '{"FeedbackPointName": "Paragraphs", "levelName": "Effective", "improvement": "keep four paragraphs"}',
    '{"FeedbackPointName": "Indentation", "levelName": "Fair", "improvement": "indent first words"}',
    '{"FeedbackPointName": "Balance", "levelName": "Poor", "improvement": "balance word counts"}',
]


def fixture_pages() -> list[dict]:
    """Edge documents; `text` is the golden extraction per url."""
    rows: list[dict] = []

    def add(name: str, paragraphs: list[str], lang: str = "en") -> None:
        doc_id = f"fixture-{name}"
        gold = _BLOCK_SEP.join(paragraphs)
        rows.append(
            {
                "url": f"https://fixtures.example.com/{name}",
                "warc_ts": _EPOCH,
                "html": synth_html(paragraphs, doc_id, lang),
                "text": gold,
                "lang": lang,
            }
        )

    add("empty", [])  # blank doc -> '' (P7/P8)
    add(
        "digit-box",
        [str(n) for n in (7, 42, 3, 19, 88)],  # K13 numbered answer boxes
    )
    add("multi-json-essay", _ESSAY_JSON_PARAS)  # T3
    add(
        "math-markup",
        [
            "Solve the quadratic `x^2 - 5x + 6 = 0` and show each step clearly to earn full marks.",
            "The roots are x = 2 and x = 3 because the factors are (x-2)(x-3) which expands back.",
        ],
    )  # P11/T8
    add(
        "wrapped-quote-ocr",
        ['ocr: "The mitochondria is the powerhouse of the cell and makes energy."'],
    )  # T1
    add(
        "claude-json",
        ['{"ocr": "Water boils at one hundred degrees Celsius at sea level pressure."}'],
    )  # T2
    add(
        "plain",
        [
            "Photosynthesis converts light energy into chemical energy stored in glucose molecules inside plant cells.",
            "Chlorophyll absorbs mostly red and blue wavelengths while reflecting green light back to our eyes.",
        ],
    )
    add(
        "gu-lang",
        ["આ એક પરીક્ષાનો જવાબ છે અને તેમાં પૂરતા શબ્દો હોવા જોઈએ જેથી વર્ગીકરણ સાચું રહે."],
        lang="gu",
    )
    add(
        "ja-lang",
        ["これは試験の解答であり分類が正しく行われるように十分な長さの本文をここに書いておきます。"],
        lang="ja",
    )
    return rows


# ---------------------------------------------------------------------------
# grading-request side table (FIXTURES.md §2), synthesized deterministically
# from `documents` with formulas expressible in BOTH Spark SQL and DuckDB —
# mirrors the reference reqobj shape (testCase.txt:373,436)
# ---------------------------------------------------------------------------

GRADING_PROMPTS = [
    "default",
    "ocr",
    "claude-ocr",
    "expository-essay-ocr",
    "argumentative-essay-ocr",
    "gemini-number",
    "whole-page-ocr",
    "gpt-grading-only",
]

# 17th slot is '' to exercise the empty-modelName fallback (gen_ai_calling.py:159)
MODEL_ALIAS_CYCLE = [
    "gpt-4-latest", "gpt-3.5-latest", "claude-latest", "claude-small",
    "claude-medium", "gemini-latest", "gemini-small", "gpt-vision",
    "gpt-ocr-vision", "gpt-vision-mcq", "llamma-latest", "shozemi-gpt-latest",
    "claude-vision-ocr", "ensamble-vision", "gemini-vision-number",
    "whole-page-ocr", "",
]

LEVEL_CYCLE = ["Effective", "Good", "Satisfactory", "Normal", "Fair", "Poor"]

# Per-rubric formulas, position i, 0 <= i <= doc_id % 3:
#   rubricId   = 'r' || (doc_id*10 + i)
#   max_i      = 0.5 * (1 + (doc_id + i) % 4)
#   criteria_i = 'criteria-' || ((doc_id + i) % 7)
#   resp_i     = CASE doc_id%5 WHEN 0 THEN max_i WHEN 1 THEN 0.0 ELSE max_i-0.5 END

SPARK_RUBRICS_EXPR = (
    "transform(sequence(0, cast(doc_id % 3 as int)), i -> named_struct("
    " 'rubricId', concat('r', cast(doc_id*10 + i as string)),"
    " 'score', cast(0.5 * (1 + pmod(doc_id + i, 4)) as double),"
    " 'criteria', concat('criteria-', cast(pmod(doc_id + i, 7) as string))))"
)

SPARK_RESPONSES_EXPR = (
    "transform(sequence(0, cast(doc_id % 3 as int)), i -> named_struct("
    " 'rubricText', concat('text-', cast(i as string)),"
    " 'rubricIndex', cast(i + 1 as int),"
    " 'rubricWiseScore', CASE cast(doc_id % 5 as int)"
    "   WHEN 0 THEN cast(0.5 * (1 + pmod(doc_id + i, 4)) as double)"
    "   WHEN 1 THEN cast(0.0 as double)"
    "   ELSE cast(0.5 * (1 + pmod(doc_id + i, 4)) - 0.5 as double) END))"
)

SPARK_LEVELS_EXPR = (
    "transform(sequence(0, cast(doc_id % 4 as int)), i -> "
    f"element_at(array({', '.join(repr(x) for x in LEVEL_CYCLE)}), cast(pmod(doc_id + i, 6) as int) + 1))"
)

SPARK_GRADING_PROMPT_EXPR = (
    f"element_at(array({', '.join(repr(x) for x in GRADING_PROMPTS)}), cast(doc_id % 8 as int) + 1)"
)

SPARK_MODEL_NAME_EXPR = (
    f"element_at(array({', '.join(repr(x) for x in MODEL_ALIAS_CYCLE)}), cast(doc_id % 17 as int) + 1)"
)

# DuckDB scalar equivalents (for exploded per-rubric oracle rows, pos = i):
DUCKDB_RUBRIC_ID = "('r' || (doc_id*10 + i))"
DUCKDB_RUBRIC_MAX = "(0.5 * (1 + (doc_id + i) % 4))"
DUCKDB_RUBRIC_CRITERIA = "('criteria-' || ((doc_id + i) % 7))"
DUCKDB_RESP_SCORE = (
    "(CASE doc_id % 5 WHEN 0 THEN 0.5 * (1 + (doc_id + i) % 4)"
    " WHEN 1 THEN 0.0 ELSE 0.5 * (1 + (doc_id + i) % 4) - 0.5 END)"
)
DUCKDB_GRADING_PROMPT = (
    "(["
    + ", ".join(f"'{x}'" for x in GRADING_PROMPTS)
    + "][(doc_id % 8)::int + 1])"
)
DUCKDB_MODEL_NAME = (
    "([" + ", ".join(f"'{x}'" for x in MODEL_ALIAS_CYCLE) + "][(doc_id % 17)::int + 1])"
)
DUCKDB_LEVEL_AT_I = (
    "(["
    + ", ".join(f"'{x}'" for x in LEVEL_CYCLE)
    + "][((doc_id + i) % 6)::int + 1])"
)


def requests_df(spark, sf_dir: str):
    """documents -> grading-request rows: url-keyed reqobj analog with
    rubric/response/level arrays and routing inputs, all native columns."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.withColumn("rubrics", F.expr(SPARK_RUBRICS_EXPR))
        .withColumn("responses", F.expr(SPARK_RESPONSES_EXPR))
        .withColumn("levels", F.expr(SPARK_LEVELS_EXPR))
        .withColumn("grading_prompt", F.expr(SPARK_GRADING_PROMPT_EXPR))
        .withColumn("model_name_raw", F.expr(SPARK_MODEL_NAME_EXPR))
    )


# ---------------------------------------------------------------------------
# Spark builders (import guarded so the pure-python oracle has no Spark dep)
# ---------------------------------------------------------------------------

PAGES_SCHEMA_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df_from_documents(spark, sf_dir: str):
    """documents.parquet -> pages DataFrame via Arrow-batched mapInPandas."""
    import pandas as pd

    # select BEFORE the kernel: a Python map node is a pruning barrier, so
    # without this the scan reads every documents column (n_chars included)
    # for a kernel that consumes four (caught by the ReadSchema plan lint)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                synth_page_row(int(doc_id), text, lang, source)
                for doc_id, text, lang, source in zip(
                    pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
                )
            ]
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return docs.mapInPandas(gen, schema=PAGES_SCHEMA_DDL)


def fixture_pages_df(spark):
    import pandas as pd

    pdf = pd.DataFrame(fixture_pages())
    return spark.createDataFrame(pdf[["url", "warc_ts", "html", "text", "lang"]])
