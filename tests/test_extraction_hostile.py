"""Hostile-input regression tests for the extraction operator: NULL
spans arrays, NULL span texts, malformed URLs, unicode and non-ASCII
whitespace, date formats and time zones. Found via runtime probing —
NULLs must not propagate into metrics/classification."""

from __future__ import annotations

import pyoracle
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tackle4losscontentextraction_spark.operators import extraction

SCHEMA = (
    "doc_id string, url string, lang string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


_LONG = "Quarterback throws for three hundred yards in the big game again today"


def _doc(doc_id, url, lang, spans):
    return {"doc_id": doc_id, "url": url, "lang": lang, "spans": [
        {"kind": k, "text": t, "media_ref": "", "offset": i}
        for i, (k, t) in enumerate(spans)]}


# rows checked field-for-field against tests/pyoracle.extract_doc
ORACLE_DOCS = [
    # Python's \s and strip() treat U+00A0, U+2003 and \x1c as
    # whitespace; Java's \s and trim() do not
    _doc("nbsp_title", "https://x.com/a", "en", [("headline", "Big\u00a0Title")]),
    _doc("emsp_title", "https://x.com/a", "en", [("headline", "\u2003Big Title\u2003")]),
    _doc("fs_title", "https://x.com/a", "en", [("headline", "Big Title\x1c")]),
    # non-ASCII only inside a tag: ASCII once the tag is stripped
    _doc("tag_fs_title", "https://x.com/a", "en", [("headline", "<é>Big\x1cTitle")]),
    # a 'text' span over the 50-word threshold only when U+00A0 separates words
    _doc("nbsp_words", "https://x.com/a", "en", [("text", "\u00a0".join(["word"] * 60))]),
    # '+' in URL: unquote preserves it, URLDecoder would eat it
    _doc("u_plus", "https://www.espn.com/nfl/a+b%20c", "en", [("text", _LONG)]),
    # malformed escape stays literal, the valid %20 still decodes
    _doc("u_badesc", "https://site0.example.com/x%zz%20y", "en", [("text", _LONG)]),
    # trailing bare '%'
    _doc("u_pct", "https://site1.example.com/y%", "en", [("text", _LONG)]),
    # invalid UTF-8 escape -> U+FFFD
    _doc("u_e9", "https://site2.example.com/z%e9", "en", [("text", _LONG)]),
    # NULL lang is unknown, not wrong_content
    _doc("u_nolang", "https://site3.example.com/nfl/story/id/5", None, [("text", _LONG)]),
]


@pytest.fixture(scope="module")
def hostile(spark):
    df = spark.createDataFrame(
        [
            *[(d["doc_id"], d["url"], d["lang"], [tuple(s.values()) for s in d["spans"]])
              for d in ORACLE_DOCS],
            Row(doc_id="empty", url="https://x.com/a", lang="en", spans=[]),
            Row(doc_id="nullspans", url="https://x.com/a", lang="en", spans=None),
            Row(
                doc_id="nulltext", url="https://x.com/a", lang="en",
                spans=[
                    Row(kind="article_body", text=None, media_ref="", offset=0),
                    Row(kind="headline", text="ok title", media_ref="", offset=1),
                ],
            ),
            Row(
                doc_id="badurl", url="not a url at all %%%", lang="en",
                spans=[Row(kind="main_content", text="x " * 150, media_ref="", offset=0)],
            ),
            Row(
                doc_id="unicode", url="https://x.com/%E2%9C%93", lang="en",
                spans=[Row(kind="headline", text="émoji ✓ é [l](u)", media_ref="", offset=0)],
            ),
        ],
        schema=SCHEMA,
    )
    return {r.doc_id: r for r in extraction.extract(df).collect()}


def test_no_null_metrics(hostile):
    for doc_id, r in hostile.items():
        assert r.error is not None, doc_id
        assert r.spans_in is not None, doc_id
        assert r.spans_kept is not None, doc_id
        assert r.content_type is not None, doc_id


def test_null_spans_is_empty_content(hostile):
    r = hostile["nullspans"]
    assert r.spans_in == 0 and r.spans_kept == 0
    assert r.content_type == "empty_content"
    assert r.error is False


def test_null_text_span_dropped_not_poisoning(hostile):
    r = hostile["nulltext"]
    assert r.title == "ok title"
    assert r.spans_kept == 1


def test_bad_url_normalized_like_reference(hostile):
    assert hostile["badurl"].url_norm.startswith("https://www.not a url")


def test_unicode_roundtrip(hostile):
    r = hostile["unicode"]
    assert r.title == "émoji ✓ é l"
    assert r.url_norm == "https://x.com/✓"


def test_rows_equal_pyoracle(hostile):
    fields = ["url_norm", "title", "author", "publication_date", "content_type",
              "type_confidence", "error", "spans_in", "spans_kept", "content_chars"]
    for doc in ORACLE_DOCS:
        exp, got = pyoracle.extract_doc(doc), hostile[doc["doc_id"]]
        assert [tuple(s) for s in got.extracted] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp["extracted"]
        ], doc["doc_id"]
        for f in fields:
            assert getattr(got, f) == exp[f], f"{doc['doc_id']}.{f}"


def test_non_ascii_whitespace_is_whitespace(hostile):
    for doc_id in ("nbsp_title", "emsp_title", "fs_title", "tag_fs_title"):
        assert hostile[doc_id].title == "Big Title", doc_id
    assert hostile["nbsp_words"].spans_kept == 1


def test_url_decoding_and_null_lang_pinned(hostile):
    assert hostile["u_plus"].url_norm == "https://www.espn.com/nfl/a+b c"
    assert hostile["u_badesc"].url_norm == "https://site0.example.com/x%zz y"
    assert hostile["u_pct"].url_norm == "https://site1.example.com/y%"
    assert hostile["u_e9"].url_norm == "https://site2.example.com/z\ufffd"
    assert hostile["u_nolang"].content_type != "wrong_content"


def _time_doc(spark, date_text):
    return spark.createDataFrame(
        [("d", "https://x.com/a", "en", [("time", date_text, "", 0)])], SCHEMA)


def test_cleaned_date_is_session_local_wall_time(spark):
    """'Aug 26, 2025' means midnight in the session time zone, not
    midnight UTC shown in the session zone."""
    docs = _time_doc(spark, "Aug 26, 2025")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = extraction.extract(docs).select(
            F.date_format("cleaned_date", "yyyy-MM-dd HH:mm:ss").alias("d"),
            F.unix_timestamp("cleaned_date").alias("u"),
        ).first()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got.d == "2025-08-26 00:00:00"
    assert got.u == 1756180800  # 2025-08-26T04:00:00Z (EDT is UTC-4)


def test_date_formats_must_be_known_or_strptime(spark):
    docs = _time_doc(spark, "26.08.2025")
    with pytest.raises(ValueError, match="dd.MM.yyyy"):
        extraction.extract(docs, date_formats=["dd.MM.yyyy"])
    got = extraction.extract(docs, date_formats=["%d.%m.%Y"]).select(
        F.date_format("cleaned_date", "yyyy-MM-dd").alias("d")).first().d
    assert got == "2025-08-26"
