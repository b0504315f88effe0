"""Scalar-function unit tests (FIXTURES.md §5 edge cases; semantics from
reference extractContent.py:101-117, 426-433, 462-463)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tackle4losscontentextraction_spark.functions import confidence as conf_fn
from tackle4losscontentextraction_spark.functions import text as text_fn
from tackle4losscontentextraction_spark.functions import urls as url_fn


def _one(spark, expr, **cols):
    df = spark.createDataFrame([cols])
    return df.select(expr.alias("v")).collect()[0].v


CLEAN_CASES = [
    ("![x](u) hello", "hello"),
    ("see [the docs](http://x) now", "see the docs now"),
    ("<b>x</b>", "x"),
    ("a\\\\b", "a\\b"),
    ('say \\"hi\\"', 'say "hi"'),
    ("a   b\t\nc", "a b c"),
    ("", ""),
    ("![a](b)![c](d)", ""),
    ("[t](u) and ![i](j) <i>em</i>  x", "t and em x"),
]


@pytest.mark.parametrize("raw,expected", CLEAN_CASES)
def test_clean_text(spark, raw, expected):
    assert _one(spark, text_fn.clean_text(F.col("s")), s=raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [("0.9", 0.9), ("x", 0.0), ("1.7", 1.0), ("-0.2", 0.0)],
)
def test_confidence_coercion(spark, raw, expected):
    v = _one(spark, conf_fn.coerce_confidence(F.col("s")), s=raw)
    assert v == pytest.approx(expected)


def test_confidence_nan(spark):
    df = spark.sql("select cast('NaN' as double) as s")
    v = df.select(conf_fn.coerce_confidence(F.col("s")).alias("v")).collect()[0].v
    assert v == 0.0


def test_confidence_null(spark):
    df = spark.sql("select cast(null as string) as s")
    v = df.select(conf_fn.coerce_confidence(F.col("s")).alias("v")).collect()[0].v
    assert v == 0.0


def test_url_normalize(spark):
    # the reference repo's 'original bug': %-encoded URLs must be decoded
    v = _one(spark, url_fn.normalize_url(F.col("u")), u="https%3A//www.espn.com/a%20b")
    assert v == "https://www.espn.com/a b"
    v = _one(spark, url_fn.normalize_url(F.col("u")), u="espn.com/x")
    assert v == "https://www.espn.com/x"


@pytest.mark.parametrize(
    "url,expected",
    [
        ("https://x.com/nfl-news-round-up/7", True),
        ("https://x.com/news_round_up/", True),
        ("https://x.com/NFL-NEWS-ROUND-UP/9", True),
        ("https://x.com/nfl/story/roundupish", False),
        ("https://x.com/newsroundup-extra/1", False),
    ],
)
def test_roundup_regex(spark, url, expected):
    assert _one(spark, url_fn.is_roundup_url(F.col("u")), u=url) == expected


def test_strip_and_truncate(spark):
    v = _one(spark, text_fn.strip_and_truncate(F.col("s"), 5), s="<p>hello world</p>")
    assert v == "hello"


def test_truncate_at_word_boundary(spark):
    # last space in the 10-char cut is at pos 6 < 80% of 10 -> hard cut
    v = _one(spark, text_fn.truncate_at_word_boundary(F.col("s"), 10), s="hello brave world")
    assert v == "hello brav"
    v2 = _one(spark, text_fn.truncate_at_word_boundary(F.col("s"), 10), s="short")
    assert v2 == "short"


def test_unescape_html_entities(spark):
    v = _one(
        spark,
        text_fn.unescape_html_entities(F.col("s")),
        s="Tom &amp; Jerry &lt;3 &quot;cheese&quot;&nbsp;&mdash; yes",
    )
    assert v == 'Tom & Jerry <3 "cheese" — yes'
