"""Text-cleaning column expressions.

Everything here is a pure Spark ``Column`` expression (JVM-side,
whole-stage-codegen, usable inside higher-order-function lambdas) — the
fast path. No Python UDFs.

Semantics from reference ``extractContent.py:101-109`` (``clean_text``,
canonical order: markdown images -> markdown links -> HTML tags ->
unescape -> collapse whitespace) and ``:419-424`` (strip+truncate).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import spec


def clean_text(col: Column) -> Column:
    """The canonical clean_text chain (extractContent.py:101-109).

    1. remove markdown images  ``![alt](url)``
    2. unwrap markdown links   ``[text](url)`` -> ``text``
    3. strip HTML tags -> single space
    4. unescape ``\\\\`` -> ``\\`` and ``\\"`` -> ``"``
    5. collapse whitespace, trim
    """
    c = F.regexp_replace(col, spec.RE_MD_IMAGE, "")
    c = F.regexp_replace(c, spec.RE_MD_LINK, "$1")
    c = F.regexp_replace(c, spec.RE_HTML_TAG, " ")
    c = F.replace(c, F.lit("\\\\"), F.lit("\\"))
    c = F.replace(c, F.lit('\\"'), F.lit('"'))
    c = F.trim(F.regexp_replace(c, spec.RE_WS, " "))
    return c


def strip_and_truncate(col: Column, max_len: int) -> Column:
    """Strip tags, collapse whitespace, truncate (extractContent.py:419-424).

    Used before classification: title <= 200 chars, content <= 1000.
    """
    c = F.regexp_replace(col, spec.RE_HTML_TAG, " ")
    c = F.trim(F.regexp_replace(c, spec.RE_WS, " "))
    return F.substring(c, 1, max_len)


# common HTML entities (templates utils.py:31-40 analog); JVM-side
# replace chain — no UDF.
HTML_ENTITIES = [
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "), ("&mdash;", "—"),
    ("&ndash;", "–"), ("&hellip;", "…"),
]


def unescape_html_entities(col: Column) -> Column:
    c = col
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def truncate_at_word_boundary(col: Column, max_len: int) -> Column:
    """Cut to <= max_len at the last space past 80% (templates utils.py:255-277)."""
    cut = F.substring(col, 1, max_len)
    # position of last space in the cut
    rev_idx = F.instr(F.reverse(cut), " ")
    last_space = F.length(cut) - rev_idx + 1
    keep_at_space = (rev_idx > 0) & (last_space >= F.lit(int(max_len * 0.8)))
    return F.when(F.length(col) <= max_len, col).otherwise(
        F.when(keep_at_space, F.substring(cut, 1, last_space - 1)).otherwise(cut)
    )
