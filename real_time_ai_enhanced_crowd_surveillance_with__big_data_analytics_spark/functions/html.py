"""HTML boilerplate removal as pure Column expressions — the text-
extraction stage in front of the corpus operators (quality, dedup,
tokenization), in the spirit of the published extraction heuristics
(jusText/trafilatura-class: strip non-content blocks, then tags, then
measure link density as the boilerplate signal; the link-density
column itself is ``plans/text.py::html_extract_quality``).

Everything is codegen'd regexp_replace / regexp_extract_all — no
Python in the hot path, so extraction runs at scan speed over a crawl.
Patterns avoid lookarounds (RE2-safe) so the same expressions remain
portable to an ANSI-SQL oracle should an HTML-bearing table appear.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# non-content blocks whose inner text must vanish entirely — one
# pattern per tag (no backreference) so every pattern stays RE2-safe:
# a (script|style|...)…</\1> alternation would need \1, which
# RE2-class engines (and the DuckDB oracle) reject.
_BLOCKS = [
    rf"(?is)<{_t}\b[^>]*>.*?</{_t}\s*>"
    for _t in ("script", "style", "noscript")
]
_COMMENT = r"(?s)<!--.*?-->"
_TAG = r"(?s)<[^>]*>"
_ANCHOR = r"(?is)<a\b[^>]*>(.*?)</a\s*>"

_ENTITIES = [
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),  # last, so "&amp;lt;" decodes to "&lt;" not "<"
]


def _decode_entities(col: Column) -> Column:
    for src, dst in _ENTITIES:
        col = F.replace(col, F.lit(src), F.lit(dst))
    return col


def _strip_noncontent(col: Column) -> Column:
    """Remove comments and script/style/noscript blocks — the parts of
    the markup whose inner text is never visible."""
    col = F.regexp_replace(col, _COMMENT, " ")
    for _pat in _BLOCKS:
        col = F.regexp_replace(col, _pat, " ")
    return col


def _strip_tags(col: Column) -> Column:
    return F.regexp_replace(_strip_noncontent(col), _TAG, " ")


def html_to_text(html: Column) -> Column:
    """Visible text of an HTML document: comments, script/style/
    noscript blocks, then all tags removed; the common entities
    decoded; whitespace collapsed to single spaces and trimmed."""
    txt = _decode_entities(_strip_tags(html))
    return F.trim(F.regexp_replace(txt, r"\s+", " "))


def html_title(html: Column) -> Column:
    """<title> content (trimmed, entity-decoded); empty string when
    absent."""
    raw = F.regexp_extract(html, r"(?is)<title\b[^>]*>(.*?)</title\s*>", 1)
    return F.trim(F.regexp_replace(_decode_entities(raw), r"\s+", " "))

