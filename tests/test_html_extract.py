"""HTML text extraction: hand-computed visible text and title on
crafted documents.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.functions.html import (
    html_title,
    html_to_text,
)

PAGE = (
    "<html><head><title> The &amp; Title </title>"
    "<style>body { color: red }</style>"
    "<script>var x = '<p>not text</p>';</script></head>"
    "<body><!-- comment --><h1>Head&nbsp;line</h1>"
    '<p>alpha <a href="/x">beta</a> gamma &lt;tag&gt;</p>'
    "<noscript>no js</noscript></body></html>"
)
# visible text, collapsed:
PAGE_TEXT = "The & Title Head line alpha beta gamma <tag>"
# title tag participates in visible text? <title> is a normal tag here —
# its inner text survives tag-stripping, matching the simple heuristic.


def _df(spark, html):
    return spark.createDataFrame([(html,)], "html string")


def test_html_to_text_hand_computed(spark):
    got = _df(spark, PAGE).select(html_to_text(F.col("html")).alias("t"))
    assert got.first()["t"] == PAGE_TEXT


def test_entity_decode_order(spark):
    # &amp;lt; must become the literal text "&lt;", not "<"
    got = _df(spark, "<p>x &amp;lt; y</p>").select(
        html_to_text(F.col("html")).alias("t")
    )
    assert got.first()["t"] == "x &lt; y"


def test_html_title(spark):
    assert (
        _df(spark, PAGE).select(html_title(F.col("html")).alias("t")).first()["t"]
        == "The & Title"
    )
    assert (
        _df(spark, "<p>no title</p>")
        .select(html_title(F.col("html")).alias("t"))
        .first()["t"]
        == ""
    )
