"""Pages source/sink: schema enforcement, partition pruning, scan pushdown."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from ai_service_ocr_grading_handler_spark.corpus import pages_df_from_documents
from ai_service_ocr_grading_handler_spark.operators.extract import extract_pages
from ai_service_ocr_grading_handler_spark.sources import pages as src
from tests.test_lineage import _jobs_in_group

SF = "/root/testdata/sf0.001"


def test_roundtrip_and_schema(spark, tmp_path):
    p = str(tmp_path / "pages")
    df = pages_df_from_documents(spark, SF)
    src.write_pages_partitioned(df, p)
    back = src.read_pages(spark, p)
    assert back.columns == src.PAGES_COLUMNS
    assert back.count() == df.count()
    # content identical (partitioning is derived, not destructive)
    a = {r.url: (r.text, r.lang) for r in df.collect()}
    b = {r.url: (r.text, r.lang) for r in back.collect()}
    assert a == b


def test_time_bounds_prune_partitions(spark, tmp_path):
    p = str(tmp_path / "pages")
    # sf0.001 timestamps all land on 2024-01-01 (37s stride); spread them
    # over 5 deterministic days so pruning has partitions to skip
    df = pages_df_from_documents(spark, SF).withColumn(
        "warc_ts",
        F.expr(
            "warc_ts + make_interval(0, 0, 0,"
            " cast(pmod(xxhash64(url), 5) as int), 0, 0, 0)"
        ),
    )
    src.write_pages_partitioned(df, p)

    bounded = src.read_pages(spark, p, since="2024-01-02", until="2024-01-04")
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "warc_day" in plan

    want = df.filter(
        (F.to_date("warc_ts") >= F.lit("2024-01-02"))
        & (F.to_date("warc_ts") < F.lit("2024-01-04"))
    ).count()
    assert bounded.count() == want
    assert 0 < bounded.count() < df.count()


def test_lang_filter_is_pushed_to_scan(spark, tmp_path):
    p = str(tmp_path / "pages")
    src.write_pages_partitioned(pages_df_from_documents(spark, SF), p)
    df = src.read_pages(spark, p, langs=["en"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan
    assert df.count() > 0
    assert df.filter(F.col("lang") != "en").count() == 0


_ARROW_PAGES = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),  # naive: Spark infers timestamp_ntz
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _pages_tables(spark, root, drop: str | None = None) -> dict[str, str]:
    """The sf0.001 pages written by Spark (day-partitioned) and by pyarrow
    (two flat files, as perfbench writes them), minus column `drop`."""
    df = pages_df_from_documents(spark, SF)
    arrow = pa.Table.from_pylist([r.asDict() for r in df.collect()], schema=_ARROW_PAGES)
    if drop is not None:
        df, arrow = df.drop(drop), arrow.drop_columns([drop])
    src.write_pages_partitioned(df, str(root / "spark_pages"))
    (root / "arrow_pages").mkdir(parents=True)
    half = arrow.num_rows // 2
    pq.write_table(arrow.slice(0, half), root / "arrow_pages" / "part-0000.parquet")
    pq.write_table(arrow.slice(half), root / "arrow_pages" / "part-0001.parquet")
    return {"spark": str(root / "spark_pages"), "pyarrow": str(root / "arrow_pages")}


def _extracted(pages):
    """Extracted rows, warc_ts as text, less the per-document timing."""
    ext = extract_pages(pages).drop("extract_us")
    return sorted(map(tuple, ext.withColumn("warc_ts", F.col("warc_ts").cast("string")).collect()))


def test_read_pages_extracts_as_the_inferring_read(spark, tmp_path):
    """Reading with PAGES_SCHEMA instead of an inferred schema changes no
    extracted row, warc_ts included, whichever writer made the table;
    pyarrow's naive timestamps now read as the session-zone timestamp."""
    for writer, path in _pages_tables(spark, tmp_path).items():
        inferred = spark.read.parquet(path).select(*src.PAGES_COLUMNS)
        got = src.read_pages(spark, path)
        assert got.schema["warc_ts"].dataType.typeName() == "timestamp", writer
        if writer == "pyarrow":
            assert inferred.schema["warc_ts"].dataType.typeName() == "timestamp_ntz"
        assert _extracted(got) == _extracted(inferred), writer


def test_read_pages_runs_no_job_and_rejects_a_missing_column(spark, tmp_path):
    tables = _pages_tables(spark, tmp_path)
    # a partition column can carry a pages column: it is in no footer
    tables["by_lang"] = str(tmp_path / "by_lang")
    spark.read.parquet(tables["spark"]).drop("warc_day").write.partitionBy("lang").parquet(
        tables["by_lang"]
    )
    for writer, path in tables.items():
        got, n_jobs = _jobs_in_group(spark, f"read-pages-{writer}", lambda: src.read_pages(spark, path))
        assert n_jobs == 0, writer
        assert got.columns == src.PAGES_COLUMNS, writer
    for writer, path in _pages_tables(spark, tmp_path / "no_lang", drop="lang").items():

        def attempt():
            with pytest.raises(AnalysisException, match=r"columns \['lang'\]"):
                src.read_pages(spark, path)

        _, n_jobs = _jobs_in_group(spark, f"read-pages-no-lang-{writer}", attempt)
        assert n_jobs == 0, writer


# --- WARC ingestion (round 4) --------------------------------------------------


def _warc_record(wtype: str, uri: str | None, date: str, payload: bytes) -> bytes:
    head = [f"WARC/1.0", f"WARC-Type: {wtype}", f"WARC-Date: {date}"]
    if uri:
        head.append(f"WARC-Target-URI: {uri}")
    head.append(f"Content-Length: {len(payload)}")
    return ("\r\n".join(head) + "\r\n\r\n").encode() + payload + b"\r\n\r\n"


def _http(status: int, ctype: str, body: bytes, chunked: bool = False) -> bytes:
    if chunked:
        body = (
            f"{len(body):x}".encode() + b"\r\n" + body + b"\r\n0\r\n\r\n"
        )
        te = "Transfer-Encoding: chunked\r\n"
    else:
        te = ""
    return (
        f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n{te}"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _fixture_warc() -> tuple[bytes, list[tuple[str, bytes]]]:
    """(raw warc bytes, [(expected_url, expected_html)]) — record mix:
    html 200 (kept), chunked html 200 (kept, de-chunked), request
    (dropped), 404 (dropped), non-html 200 (dropped), revisit (dropped)."""
    html1 = b"<html><body><p>" + b"alpha words " * 20 + b"</p></body></html>"
    html2 = b"<html><body><p>" + b"beta words " * 25 + b"</p></body></html>"
    recs = [
        _warc_record(
            "response", "https://a.example/1", "2024-05-06T07:08:09Z",
            _http(200, "text/html; charset=utf-8", html1),
        ),
        _warc_record(
            "request", "https://a.example/1", "2024-05-06T07:08:09Z",
            b"GET /1 HTTP/1.1\r\nHost: a.example\r\n\r\n",
        ),
        _warc_record(
            "response", "https://a.example/404", "2024-05-06T07:08:10Z",
            _http(404, "text/html", b"<html>gone</html>"),
        ),
        _warc_record(
            "response", "https://a.example/img", "2024-05-06T07:08:11Z",
            _http(200, "image/png", b"\x89PNGnotreally"),
        ),
        _warc_record(
            "response", "https://b.example/2", "2024-05-06T08:00:00Z",
            _http(200, "text/html", html2, chunked=True),
        ),
        _warc_record("revisit", "https://a.example/1", "2024-05-06T09:00:00Z", b""),
    ]
    expected = [("https://a.example/1", html1), ("https://b.example/2", html2)]
    return b"".join(recs), expected


def test_warc_record_iteration_raw_and_gzip():
    import gzip

    from ai_service_ocr_grading_handler_spark.sources import warc

    raw, expected = _fixture_warc()
    # three layouts must parse identically: raw, per-record gzip members
    # (Common-Crawl style), and ONE gzip member holding the whole file
    # (`gzip file.warc` style — review finding: the old per-member parse
    # silently dropped every record after the first)
    per_record_gz = b"".join(
        gzip.compress(raw[i:j]) for i, j in _record_bounds(raw)
    )
    whole_file_gz = gzip.compress(raw)
    for blob in (raw, per_record_gz, whole_file_gz):
        kept = [
            (uri, body)
            for wtype, uri, date, status, ctype, body in warc.iter_warc_records(blob)
            if wtype == "response" and status == 200 and ctype and "html" in ctype
        ]
        assert kept == expected
    # WARC-Date values parse through the iterator to naive UTC
    dates = {
        date for _, _, date, _, _, _ in warc.iter_warc_records(raw)
    }
    assert "2024-05-06T07:08:09Z" in dates
    assert warc._parse_warc_date(
        "2024-05-06T07:08:09Z"
    ).isoformat() == "2024-05-06T07:08:09"
    # corrupt gzip stops cleanly (no records, no exception); a truncated
    # FINAL member keeps the records already decoded
    assert list(warc.iter_warc_records(b"\x1f\x8bgarbage")) == []
    truncated = per_record_gz[:-20]
    kept = [u for t, u, *_ in warc.iter_warc_records(truncated) if t == "response"]
    assert kept  # earlier members survived
    # the bomb bound is per RECORD: a record header declaring an absurd
    # Content-Length raises; a large ARCHIVE streams fine (below)
    import pytest as _pt

    bomb = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: "
        + str(warc._MAX_RECORD_BYTES + 1).encode() + b"\r\n\r\n"
    )
    with _pt.raises(ValueError):
        list(warc.iter_warc_records(gzip.compress(bomb)))
    # a negative Content-Length must stop cleanly, never loop (review
    # finding: the old scanner yielded the same record forever)
    neg = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -54\r\n\r\n"
        b"junk"
    )
    assert list(warc.iter_warc_records(neg)) == []


def test_warc_whole_file_gzip_streams_past_member_bound():
    """A whole-file-gzipped archive larger than any single-record bound
    streams record-by-record with bounded memory (review finding: the old
    per-member materialization hard-failed real whole-file .warc.gz)."""
    import gzip

    from ai_service_ocr_grading_handler_spark.sources import warc

    body = b"x" * 200_000
    n = (warc._MAX_RECORD_BYTES // len(body)) + 8  # decompressed >> bound
    one = _warc_record(
        "response", "https://big.example/", "2024-05-06T07:08:09Z",
        _http(200, "text/html", body),
    )
    blob = gzip.compress(one * n)
    count = sum(1 for _ in warc.iter_warc_records(blob))
    assert count == n


def test_warc_mid_archive_corruption_resyncs():
    """One corrupted gzip member skips ONLY that member: the scan resyncs
    to the next member magic instead of silently dropping the rest of the
    archive (review finding)."""
    import gzip

    from ai_service_ocr_grading_handler_spark.sources import warc

    recs = [
        _warc_record(
            "response", f"https://m.example/{i}", "2024-05-06T07:08:09Z",
            _http(200, "text/html", b"<html>" + str(i).encode() * 40 + b"</html>"),
        )
        for i in range(5)
    ]
    members = [gzip.compress(r) for r in recs]
    members[1] = members[1][:12] + b"\xde\xad\xbe\xef" + members[1][16:]  # corrupt member 1
    got = [u for _, u, *_ in warc.iter_warc_records(b"".join(members))]
    # member 0 survives, member 1 is lost, members 2-4 are recovered
    assert got[0] == "https://m.example/0"
    assert set(got) >= {f"https://m.example/{i}" for i in (2, 3, 4)}
    assert "https://m.example/1" not in got


def test_warc_payload_containing_warc_text_is_not_split():
    """A response whose BODY embeds a CRLF WARC example must survive
    intact, and the embedded fragment must NOT mint a phantom record
    (review finding: the old marker-split approach failed both ways)."""
    from ai_service_ocr_grading_handler_spark.sources import warc

    trap = (
        b"<html><body><pre>intro\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://phantom.example/\r\nContent-Length: 5\r\n"
        b"\r\nhello</pre>" + b" real words" * 30 + b"</body></html>"
    )
    raw = _warc_record(
        "response", "https://real.example/x", "2024-05-06T07:00:00Z",
        _http(200, "text/html", trap),
    ) + _warc_record(
        "response", "https://real.example/y", "2024-05-06T07:00:01Z",
        _http(200, "text/html", b"<html><body>after</body></html>"),
    )
    recs = [
        (u, body) for t, u, _, s, c, body in warc.iter_warc_records(raw)
        if t == "response"
    ]
    assert [u for u, _ in recs] == [
        "https://real.example/x", "https://real.example/y",
    ]
    assert recs[0][1] == trap  # body intact, nothing truncated


def test_warc_content_encoding_and_http_charset():
    """gzip Content-Encoding bodies are inflated; brotli records are
    dropped (undecodable here, not emitted as garbage); an HTTP-declared
    legacy charset is transcoded to BOM-prefixed UTF-8 at the ingestion
    edge so downstream decode_html honors it over a lying <meta>."""
    import gzip

    from ai_service_ocr_grading_handler_spark.core.htmlx import decode_html
    from ai_service_ocr_grading_handler_spark.sources import warc

    html = b"<html><body><p>" + b"gzipped words " * 20 + b"</p></body></html>"
    gz_payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + gzip.compress(html)
    )
    sjis_text = "日本語のテキスト" * 5
    sjis_body = (
        '<html><head><meta charset="shift_jis"></head><body><p>'
        + sjis_text + "</p></body></html>"
    ).encode("shift_jis")
    sjis_payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=Shift_JIS"
        b"\r\n\r\n" + sjis_body
    )
    br_payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\n\r\nnot-actually-brotli"
    )
    raw = (
        _warc_record("response", "https://gz.example/", "2024-05-06T07:00:00Z", gz_payload)
        + _warc_record("response", "https://sjis.example/", "2024-05-06T07:00:01Z", sjis_payload)
        + _warc_record("response", "https://br.example/", "2024-05-06T07:00:02Z", br_payload)
    )
    recs = {u: body for t, u, _, s, c, body in warc.iter_warc_records(raw) if t == "response"}
    assert set(recs) == {"https://gz.example/", "https://sjis.example/"}  # br dropped
    assert recs["https://gz.example/"] == html
    # transcoded: BOM-prefixed UTF-8; decode_html yields the Japanese text
    body = recs["https://sjis.example/"]
    assert body[:3] == b"\xef\xbb\xbf"
    assert sjis_text in decode_html(body)


def test_http_charset_wide_labels_need_nul_evidence():
    """`charset=utf-16` on ASCII-compatible bytes is a routine server
    misconfiguration — honoring it blindly bakes mojibake into stored
    bytes; but a GENUINE BOM-less UTF-16 body (NUL-dense) must still be
    transcoded (review findings, both directions). Same for utf-32."""
    from ai_service_ocr_grading_handler_spark.core.htmlx import decode_html
    from ai_service_ocr_grading_handler_spark.sources import warc

    ascii_body = b"<html><body><p>plain ascii page body</p></body></html>"
    for label in ("utf-16", "utf_16", "u16", "utf-32", "u32"):
        out = warc._transcode_declared_charset(
            ascii_body, f"text/html; charset={label}"
        )
        assert out == ascii_body, label  # mislabel: untouched
    wide = "<html><body><p>wide text body página</p></body></html>"
    for enc in ("utf-16-le", "utf-16-be"):
        out = warc._transcode_declared_charset(
            wide.encode(enc), f"text/html; charset={enc}"
        )
        assert out[:3] == b"\xef\xbb\xbf", enc
        assert "wide text body página" in decode_html(out), enc
    # decode_html's meta-tag guard covers utf-32 aliases too
    for label in ("utf-32", "utf32", "u32", "utf_32_le"):
        lying = f'<meta charset="{label}"><p>ascii-compatible body</p>'.encode()
        assert "ascii-compatible body" in decode_html(lying), label


def _record_bounds(raw: bytes) -> list[tuple[int, int]]:
    """Byte ranges of each record in the concatenated fixture."""
    bounds = []
    start = 0
    while start < len(raw):
        nxt = raw.find(b"WARC/1.0", start + 1)
        end = nxt if nxt > 0 else len(raw)
        bounds.append((start, end))
        start = end
    return bounds


def test_warc_to_pages_to_extraction(spark, tmp_path):
    """The full ingestion edge: .warc.gz files -> pages rows -> the
    extraction kernel, end to end in Spark."""
    import gzip

    from ai_service_ocr_grading_handler_spark.operators.extract import extract_pages
    from ai_service_ocr_grading_handler_spark.sources import warc

    raw, expected = _fixture_warc()
    gz = b"".join(gzip.compress(raw[i:j]) for i, j in _record_bounds(raw))
    d = tmp_path / "warc"
    d.mkdir()
    (d / "seg-00001.warc.gz").write_bytes(gz)
    (d / "seg-00002.warc").write_bytes(raw)

    pages = warc.read_warc_pages(spark, str(d))
    rows = {
        (r.url, bytes(r.html), str(r.warc_ts)) for r in pages.collect()
    }
    assert rows == {
        (u, h, "2024-05-06 07:08:09" if "a.example" in u else "2024-05-06 08:00:00")
        for u, h in expected
    }
    # DISTINCT rows collapse because both files hold identical records;
    # the count proves BOTH files contributed (2 kept records x 2 files)
    assert pages.count() == 4

    ext = extract_pages(pages).select("url", "text").collect()
    by_url = {}
    for r in ext:
        by_url.setdefault(r.url, set()).add(r.text)
    assert set(by_url) == {"https://a.example/1", "https://b.example/2"}
    assert by_url["https://a.example/1"] == {("alpha words " * 20).strip()}
    assert by_url["https://b.example/2"] == {("beta words " * 25).strip()}


def test_warc_ingestion_is_resumable(spark, tmp_path):
    """The full north-rule pipeline over archives: WARC files -> pages ->
    salted resumable extraction with lineage. Run 2 sees run 1's archive
    AGAIN plus one new one; the anti-join frontier extracts only the new
    records and the manifests account for exactly that."""
    import gzip

    from ai_service_ocr_grading_handler_spark.plans import lineage
    from ai_service_ocr_grading_handler_spark.sources import warc

    raw, expected = _fixture_warc()
    d = tmp_path / "in"
    d.mkdir()
    (d / "seg-1.warc.gz").write_bytes(gzip.compress(raw))

    out = str(tmp_path / "out")
    m1 = lineage.run_extract(spark, warc.read_warc_pages(spark, str(d)), out, "run1")
    assert m1["rows_written"] == len(expected) == 2

    # a new archive arrives; the old one is still in the directory
    extra = _warc_record(
        "response", "https://c.example/3", "2024-05-07T00:00:00Z",
        _http(200, "text/html", b"<html><body><p>" + b"gamma words " * 22 + b"</p></body></html>"),
    )
    (d / "seg-2.warc.gz").write_bytes(gzip.compress(extra))
    m2 = lineage.run_extract(spark, warc.read_warc_pages(spark, str(d)), out, "run2")
    assert m2["rows_written"] == 1  # ONLY the new record; no re-extraction

    final = spark.read.parquet(f"{out}/extracted")
    urls = sorted(r.url for r in final.select("url").collect())
    assert urls == [
        "https://a.example/1", "https://b.example/2", "https://c.example/3",
    ]
    # run 3 with nothing new is a no-op append
    m3 = lineage.run_extract(spark, warc.read_warc_pages(spark, str(d)), out, "run3")
    assert m3["rows_written"] == 0
    assert spark.read.parquet(f"{out}/extracted").count() == 3


def test_warc_scanner_roundtrip_property():
    """Generative round trip: ANY records (payloads may contain CRLFs,
    record-marker lookalikes, binary junk) synthesized into an archive —
    raw, whole-file gzip, or per-record gzip — scan back exactly."""
    import gzip

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ai_service_ocr_grading_handler_spark.sources import warc

    payload = st.binary(max_size=200) | st.just(
        b"\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nxyz"  # embedded trap
    )
    record = st.tuples(
        st.sampled_from(["response", "request", "metadata", "revisit"]),
        st.integers(0, 1_000_000),
        payload,
    )

    @settings(max_examples=80, deadline=None)
    @given(st.lists(record, min_size=0, max_size=6), st.integers(0, 2))
    def run(recs, layout):
        # exact per-record byte runs (the fixture helper _record_bounds is
        # marker-based and would mis-split payloads embedding "WARC/1.0")
        record_bytes = [
            _warc_record(t, f"https://x.example/{i}", "2024-05-06T07:08:09Z", p)
            for t, i, p in recs
        ]
        raw = b"".join(record_bytes)
        if layout == 1:
            blob = gzip.compress(raw) if raw else raw
        elif layout == 2:
            blob = b"".join(gzip.compress(r) for r in record_bytes)
        else:
            blob = raw
        got = [
            (t, u, body)
            for t, u, _, _, _, body in warc.iter_warc_records(blob)
        ]
        want = [
            (t, f"https://x.example/{i}", p) for t, i, p in recs
        ]
        assert got == want

    run()


def test_warc_scanner_chunk_boundary_invariance():
    """_scan_stream must be invariant to WHERE the chunk boundaries fall:
    tiny chunks split record markers, header terminators and payloads at
    every possible offset; the scan must equal the single-chunk result."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ai_service_ocr_grading_handler_spark.sources import warc

    raw, _ = _fixture_warc()

    def scan(chunks):
        return [
            (h.get("warc-type"), h.get("warc-target-uri"), p)
            for h, p in warc._scan_stream(chunks)
        ]

    want = scan(iter((raw,)))
    assert len(want) == 6  # every record type in the fixture

    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 64))
    def run(chunk_size):
        chunks = (raw[i : i + chunk_size] for i in range(0, len(raw), chunk_size))
        assert scan(chunks) == want

    run()


def _http_no_ctype(status: int, body: bytes, cenc: str | None = None) -> bytes:
    enc = f"Content-Encoding: {cenc}\r\n" if cenc else ""
    return (
        f"HTTP/1.1 {status} X\r\n{enc}Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def test_warc_drop_telemetry(spark, tmp_path):
    """Round-4 verdict item: every rejected record increments a per-reason
    accumulator — at 100 TB the loss rate is a metric, not a log grep.
    One archive plants every drop reason; `last_warc_drop_metrics()` must
    account for each, and the no-Content-Type HTML sniff must keep markup
    while dropping binary (round-4 advice: binary bodies served without a
    Content-Type used to be ingested as html rows)."""
    import gzip

    from ai_service_ocr_grading_handler_spark.sources import warc

    html = b"<html><body><p>" + b"kept words " * 20 + b"</p></body></html>"
    recs = [
        # kept: declared html
        _warc_record("response", "https://k.example/1", "2024-05-06T07:08:09Z",
                     _http(200, "text/html", html)),
        # kept: NO Content-Type but sniffs as markup (leading whitespace + '<')
        _warc_record("response", "https://k.example/2", "2024-05-06T07:08:09Z",
                     _http_no_ctype(200, b"  \r\n" + html)),
        # non_response_record x2
        _warc_record("request", "https://d.example/1", "2024-05-06T07:08:09Z",
                     b"GET / HTTP/1.1\r\n\r\n"),
        _warc_record("revisit", "https://d.example/1", "2024-05-06T07:08:09Z", b""),
        # non_200_status
        _warc_record("response", "https://d.example/404", "2024-05-06T07:08:09Z",
                     _http(404, "text/html", b"<html>gone</html>")),
        # non_html_content_type
        _warc_record("response", "https://d.example/img", "2024-05-06T07:08:09Z",
                     _http(200, "image/png", b"\x89PNGnotreally")),
        # unsniffable_missing_content_type: binary body, no Content-Type
        _warc_record("response", "https://d.example/bin", "2024-05-06T07:08:09Z",
                     _http_no_ctype(200, b"\x89PNG\r\n\x1a\nbinary")),
        # undecodable_content_encoding: brotli (no codec in this runtime)
        _warc_record("response", "https://d.example/br", "2024-05-06T07:08:09Z",
                     _http_no_ctype(200, b"\x00\x11br-bytes", cenc="br")),
    ]
    members = [gzip.compress(r) for r in recs]
    # corrupt_gzip_member: a mangled member mid-archive (resynced past)
    members.insert(3, b"\x1f\x8b\x08garbage-member-bytes")
    d = tmp_path / "warc"
    d.mkdir()
    (d / "seg.warc.gz").write_bytes(b"".join(members))
    # early_stream_stop: a raw archive whose record boundary is junk
    (d / "junk.warc").write_bytes(
        _warc_record("response", "https://j.example/1", "2024-05-06T07:08:09Z",
                     _http(200, "text/html", html))
        + b"JUNK-BETWEEN-RECORDS"
    )

    pages = warc.read_warc_pages(spark, str(d))
    urls = sorted(r.url for r in pages.collect())
    assert urls == [
        "https://j.example/1", "https://k.example/1", "https://k.example/2",
    ]
    m = warc.last_warc_drop_metrics()
    assert m["non_response_record"] == 2
    assert m["non_200_status"] == 1
    assert m["non_html_content_type"] == 1
    assert m["unsniffable_missing_content_type"] == 1
    assert m["undecodable_content_encoding"] == 1
    assert m["corrupt_gzip_member"] == 1
    assert m["early_stream_stop"] == 1
    assert m["invocation"] >= 1


def test_warc_drop_counts_are_exact_data_plane_rows(spark, tmp_path):
    """The accumulator side channel is best-effort under partial
    consumption (measured: a task killed by a satisfied .limit() delivers
    NO accumulator updates at all, whenever .add() ran) — so exact loss
    accounting is a DATA-PLANE query: `warc_drop_counts` emits (reason, n)
    as rows. It must (a) agree exactly with the planted record mix, and
    (b) stay exact while a pages query over the same files is limited."""
    import gzip

    from ai_service_ocr_grading_handler_spark.sources import warc

    html = b"<html><body><p>" + b"kept words " * 20 + b"</p></body></html>"
    d = tmp_path / "warc-many"
    d.mkdir()
    for k in range(8):
        recs = (
            _warc_record("response", f"https://d.example/{k}", "2024-05-06T07:08:09Z",
                         _http(404, "text/html", b"<html>gone</html>"))
            + _warc_record("request", f"https://d.example/{k}", "2024-05-06T07:08:09Z",
                           b"GET / HTTP/1.1\r\n\r\n")
            + _warc_record("response", f"https://k.example/{k}", "2024-05-06T07:08:09Z",
                           _http(200, "image/png", b"\x89PNGnotreally"))
            + _warc_record("response", f"https://k.example/{k}/ok", "2024-05-06T07:08:09Z",
                           _http(200, "text/html", html))
        )
        (d / f"seg{k:02d}.warc.gz").write_bytes(gzip.compress(recs))

    files = spark.read.format("binaryFile").load(str(d))
    got = {r.reason: r.n for r in warc.warc_drop_counts(files).collect()}
    assert got == {
        "non_200_status": 8,
        "non_response_record": 8,
        "non_html_content_type": 8,
    }
    # a limited pages query over the same files cannot perturb the counts
    assert len(warc.warc_pages(files).limit(1).collect()) == 1
    again = {r.reason: r.n for r in warc.warc_drop_counts(files).collect()}
    assert again == got
