"""The core operator: main-content span extraction.

Input  : docs(doc_id string, url string, lang string,
              spans array<struct<kind,text,media_ref,offset:int>>)
Output : one row per doc with
         extracted array<struct<kind,text,media_ref,offset:int>>  (ordered,
             boilerplate stripped, text cleaned, media refs preserved,
             offsets re-indexed 0..n-1),
         title, author, publication_date (strings, '' when absent),
         cleaned_date (timestamp, NULL on parse failure),
         content_type, type_confidence, error (bool),
         spans_in/spans_kept/content_chars (per-doc metrics).

Semantics rebuilt from the reference (no code ported):
 - keep/drop        : LLM strategy config -> deterministic rules
                      (extractContent.py:271-279): boilerplate-kind
                      blacklist, content-kind whitelist, ambiguous 'text'
                      kept iff word_count >= 50 and link_density < 0.5.
 - clean_text       : extractContent.py:101-109 (exact chain).
 - media preserved  : standalone image/video spans kept with media_ref;
                      inline markdown images are stripped from text
                      (ref :104) but their URL is re-emitted as a
                      dedicated image span right after the source span
                      (north rule: media-reference preservation).
 - metadata         : title/author/date = first kept headline/author/time
                      span (the deterministic analog of the LLM field
                      extraction, extractContent.py:325-414).
 - error rows       : 'Extraction error:'/'Failed to extract' prefixed
                      text marks the doc failed (article_processor.py:53);
                      such spans are dropped, the doc is flagged.
 - classification   : rule chain analog of analyze_content_type
                      (cleanContent.py:260-372 + URL regex :307-310 and
                      <200-char shortcut extractContent.py:376-377) with
                      constant confidences, clamped/floored per
                      extractContent.py:426-433,453-454.

Execution: one ``mapInArrow`` pass. Each Arrow batch is processed in a
Python worker: the clean chain runs once over the batch's flattened
span texts in C++ (RE2, ``pyarrow.compute``), and only the per-span
keep/drop walk and the per-doc metadata are Python. Every output field
is computed once per row, so aggregating consumers need no projection
barrier. The pass performs ZERO shuffles and is bounded by scan + CPU;
skew in spans-per-doc is amortized by Parquet row-group splitting, not
by keys. The package must be importable in the executors' Python
workers (``--py-files`` or ``PYTHONPATH``).

Whitespace follows Python's (unicode) ``\\s`` and ``str.strip``, as in
the reference: U+00A0, U+2003 and the ASCII separators \\x1c-\\x1f are
whitespace, which Java's ``\\s`` and ``trim`` would keep.
"""

from __future__ import annotations

import re
import urllib.parse
from collections.abc import Iterator
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from .. import spec

_RE_IMG = re.compile(spec.RE_MD_IMAGE)
_RE_LINK = re.compile(spec.RE_MD_LINK)
_RE_TAG = re.compile(spec.RE_HTML_TAG)
_RE_WS = re.compile(r"\s+")
_RE_IMG_URL = re.compile(spec.RE_MD_IMAGE_URL)
_RE_ROUNDUP = re.compile(spec.ROUNDUP_URL_REGEX)

_CONTENT = frozenset(spec.CONTENT_KINDS)
_BOILER = frozenset(spec.BOILERPLATE_KINDS)
_MEDIA = frozenset(spec.MEDIA_KINDS)

_INPUT_COLS = ["doc_id", "url", "lang", "spans"]

# the kernel emits cleaned_date as a wall-clock timestamp without zone
# (Spark timestamp_ntz); extract() casts it to the session-local
# timestamp after the pass
_PA_OUT = pa.schema([
    ("doc_id", pa.string()), ("url_norm", pa.string()),
    ("lang", pa.string()), ("spans_in", pa.int64()),
    ("extracted", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
    ("error", pa.bool_()),
    ("title", pa.string()), ("author", pa.string()),
    ("publication_date", pa.string()),
    ("cleaned_date", pa.timestamp("us")),
    ("content_chars", pa.int64()), ("headline_cnt", pa.int64()),
    ("team_cnt", pa.int64()), ("news_cnt", pa.int64()),
    ("spans_kept", pa.int64()), ("content_type", pa.string()),
    ("type_confidence", pa.float64()),
])

# RE2 whitespace-run collapse equal to Python's \s+ -> ' ' restricted
# to ASCII: \t-\r covers \t\n\x0b\x0c\r, and \x1c-\x1f are the ASCII
# separators Python's (unicode) \s also matches. A plain `[ws]+`
# pattern would MATCH EVERY SINGLE SPACE (5M no-op rewrites per 10k-doc
# batch — measured 0.48s, the whole RE2 win gone), so the alternation
# only matches runs that actually change: any run containing a control
# whitespace char, or two-plus spaces. Single spaces are left alone,
# which is exactly what the replacement would do. Non-ASCII spans go
# through the Python chain instead (string_is_ascii guard).
_WS_RE2 = "[\t-\r\x1c-\x1f ]*[\t-\r\x1c-\x1f][\t-\r\x1c-\x1f ]*| {2,}"


def _vector_clean(texts: pa.Array) -> pa.Array:
    """The clean chain over a whole batch of span texts in C++ (RE2).

    Pattern-for-pattern the same chain as _clean; the patterns use only
    literal character classes, which mean the same thing in RE2 and
    Python re, so results are identical for ASCII inputs (the ws step
    is ASCII-pinned above). Nulls propagate (callers coalesce to '')."""
    t = pc.replace_substring_regex(texts, pattern=spec.RE_MD_IMAGE, replacement="")
    t = pc.replace_substring_regex(t, pattern=spec.RE_MD_LINK, replacement="\\1")
    t = pc.replace_substring_regex(t, pattern=spec.RE_HTML_TAG, replacement=" ")
    t = pc.replace_substring(t, pattern="\\\\", replacement="\\")
    t = pc.replace_substring(t, pattern='\\"', replacement='"')
    t = pc.replace_substring_regex(t, pattern=_WS_RE2, replacement=" ")
    # after the collapse every whitespace run is a single ' ', so the
    # Python .strip() reduces to trimming spaces
    return pc.utf8_trim(t, characters=" ")


def _clean(t: str) -> str:
    """The clean chain for one (non-ASCII) span text."""
    # guards: each pattern requires its literal anchor; `in` is a C scan,
    # far cheaper than an always-run regex sub over undecorated text.
    if "![" in t:
        t = _RE_IMG.sub("", t)
    if "](" in t:
        t = _RE_LINK.sub(r"\1", t)
    if "<" in t:
        t = _RE_TAG.sub(" ", t)
    if "\\" in t:
        t = t.replace("\\\\", "\\").replace('\\"', '"')
    return _RE_WS.sub(" ", t).strip()


# Spark datetime pattern -> strptime format. String surgery on datetime
# patterns is error-prone, so only these are translated; anything else
# must be given as a %-style strptime format.
_FMT_MAP = {
    "MMM d, yyyy": "%b %d, %Y",
    "MMMM d, yyyy": "%B %d, %Y",
    "yyyy-MM-dd'T'HH:mm:ss": "%Y-%m-%dT%H:%M:%S",
    "yyyy-MM-dd HH:mm:ss": "%Y-%m-%d %H:%M:%S",
    "yyyy-MM-dd": "%Y-%m-%d",
    "MM/dd/yyyy": "%m/%d/%Y",
}


def _strptime_format(fmt: str) -> str:
    if fmt in _FMT_MAP:
        return _FMT_MAP[fmt]
    if "%" in fmt:
        return fmt
    raise ValueError(
        f"unknown date format {fmt!r}: use one of {list(_FMT_MAP)} "
        "or a %-style strptime format")


def _parse_date(pub_date: str, fmts: list[str], cache: dict) -> datetime | None:
    """First format that parses wins; None when none do. Memoized per
    worker: span dates repeat heavily."""
    try:
        return cache[pub_date]
    except KeyError:
        pass
    cleaned_date = None
    for fmt in fmts:
        try:
            cleaned_date = datetime.strptime(pub_date, fmt)
            break
        except ValueError:
            continue
    if len(cache) > 1 << 16:  # bound worker memory on adversarial corpora
        cache.clear()
    cache[pub_date] = cleaned_date
    return cleaned_date


def _process_batch(batch: pa.RecordBatch, n_pass: int, fmts: list[str],
                   date_cache: dict) -> pa.RecordBatch:
    """One Arrow batch: the first n_pass columns pass through unchanged,
    then doc_id, url, lang, spans -> the _PA_OUT fields."""
    n = batch.num_rows
    doc_ids = batch.column(n_pass)
    urls = batch.column(n_pass + 1).to_pylist()
    langs = batch.column(n_pass + 2).to_pylist()
    spans_col = batch.column(n_pass + 3)
    # offsets are absolute positions into the (unsliced) child arrays
    offs = spans_col.offsets.to_pylist()
    spans_null = spans_col.is_null().to_pylist() if spans_col.null_count else None
    child = spans_col.values
    kind_l = child.field("kind").to_pylist()
    text_arr = child.field("text")
    text_l = text_arr.to_pylist()
    media_l = child.field("media_ref").to_pylist()
    # one RE2 pass over every span text; per-span Python only for the
    # (rare) non-ASCII spans where Python's unicode \s differs
    clean_l = _vector_clean(text_arr).to_pylist()
    ascii_l = pc.string_is_ascii(text_arr).to_pylist()

    # output accumulators
    o_url, o_spans_in, o_err = [], [], []
    o_title, o_author, o_pub, o_date = [], [], [], []
    o_cc, o_hc, o_tc_cnt, o_nc, o_kept = [], [], [], [], []
    o_ct, o_conf = [], []
    ext_kind, ext_text, ext_ref, ext_off = [], [], [], []
    ext_offsets = [0]

    wc_thresh = spec.WORD_COUNT_THRESHOLD
    ld_max = spec.LINK_DENSITY_MAX
    err_prefixes = spec.ERROR_PREFIXES

    for i in range(n):
        url_norm = urllib.parse.unquote(urls[i] or "")  # the reference's call
        if not url_norm.startswith("http"):
            url_norm = "https://www." + url_norm
        lang = langs[i]

        error = False
        title = author = pub_date = ""
        content_chars = 0
        headline_cnt = team_cnt = news_cnt = 0
        first_text = None
        n_ext = 0

        lo, hi = (0, 0) if (spans_null and spans_null[i]) else (offs[i], offs[i + 1])
        for j in range(lo, hi):
            kind = kind_l[j] or ""
            raw = text_l[j] or ""
            is_err = raw.startswith(err_prefixes)
            if is_err:
                error = True  # flag considers every span's text
            if kind in _MEDIA:  # media kind wins over the error predicate
                ext_kind.append(kind); ext_text.append("")
                ext_ref.append(media_l[j] or ""); ext_off.append(n_ext)
                n_ext += 1
                continue
            if is_err:
                continue
            cleaned = (clean_l[j] or "") if ascii_l[j] else _clean(raw)
            if kind in _BOILER:
                continue
            if kind in _CONTENT:
                if not cleaned:
                    continue
            elif kind == "text":
                wc = 0 if not cleaned else cleaned.count(" ") + 1
                matched = (len(raw) - len(_RE_LINK.sub("", raw))) if "](" in raw else 0
                if wc < wc_thresh or matched / max(len(raw), 1) >= ld_max:
                    continue
            else:
                continue
            ext_kind.append(kind); ext_text.append(cleaned)
            ext_ref.append(""); ext_off.append(n_ext)
            n_ext += 1
            if first_text is None:
                first_text = cleaned
            content_chars += len(cleaned)
            if kind == "headline":
                headline_cnt += 1
                if title == "":
                    title = cleaned
            elif kind == "team":
                team_cnt += 1
            elif kind == "news":
                news_cnt += 1
            elif kind == "author":
                if author == "":
                    author = cleaned
            elif kind == "time":
                if pub_date == "":
                    pub_date = cleaned
            if "![" in raw:
                m = _RE_IMG_URL.search(raw)
                if m and m.group(1):
                    ext_kind.append("image"); ext_text.append("")
                    ext_ref.append(m.group(1)); ext_off.append(n_ext)
                    n_ext += 1
        ext_offsets.append(len(ext_kind))

        # escalation analog (extractContent.py:394-399): no headline AND
        # content < 500 chars -> the first kept text span supplies the title
        if title == "" and content_chars < spec.ESCALATE_MAX_CONTENT and first_text:
            title = first_text[: spec.TITLE_FALLBACK_CHARS]

        cleaned_date = _parse_date(pub_date, fmts, date_cache) if pub_date else None

        if _RE_ROUNDUP.search(url_norm.lower()):
            ct, tc = spec.CT_ROUNDUP_URL
        elif content_chars < spec.MIN_CONTENT_CHARS:
            ct, tc = spec.CT_EMPTY
        elif lang is not None and lang != "en":
            # NULL lang is unknown, not wrong: it falls through
            ct, tc = spec.CT_WRONG
        elif headline_cnt >= spec.HEADLINE_ROUNDUP_MIN:
            ct, tc = spec.CT_ROUNDUP_SHAPE
        elif team_cnt >= spec.TEAM_TOPIC_MIN and news_cnt >= spec.NEWS_TOPIC_MIN:
            ct, tc = spec.CT_TOPIC
        elif news_cnt >= spec.NEWS_COLL_MIN:
            ct, tc = spec.CT_NEWSCOLL
        else:
            ct, tc = spec.CT_ARTICLE
        # confidence coercion: clamp to [0, 1], floor 0.5 for
        # empty/wrong content (extractContent.py:426-433,453-454)
        tc = min(max(float(tc), 0.0), 1.0)
        if ct in ("empty_content", "wrong_content"):
            tc = max(tc, 0.5)

        o_url.append(url_norm); o_spans_in.append(hi - lo); o_err.append(error)
        o_title.append(title); o_author.append(author); o_pub.append(pub_date)
        o_date.append(cleaned_date); o_cc.append(content_chars)
        o_hc.append(headline_cnt); o_tc_cnt.append(team_cnt); o_nc.append(news_cnt)
        o_kept.append(n_ext); o_ct.append(ct); o_conf.append(tc)

    ext_struct = pa.StructArray.from_arrays(
        [pa.array(ext_kind, pa.string()), pa.array(ext_text, pa.string()),
         pa.array(ext_ref, pa.string()), pa.array(ext_off, pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    extracted = pa.ListArray.from_arrays(pa.array(ext_offsets, pa.int32()), ext_struct)
    arrays = [
        *batch.columns[:n_pass],
        doc_ids, pa.array(o_url, pa.string()),
        pa.array(langs, pa.string()), pa.array(o_spans_in, pa.int64()),
        extracted, pa.array(o_err, pa.bool_()),
        pa.array(o_title, pa.string()), pa.array(o_author, pa.string()),
        pa.array(o_pub, pa.string()), pa.array(o_date, pa.timestamp("us")),
        pa.array(o_cc, pa.int64()), pa.array(o_hc, pa.int64()),
        pa.array(o_tc_cnt, pa.int64()), pa.array(o_nc, pa.int64()),
        pa.array(o_kept, pa.int64()), pa.array(o_ct, pa.string()),
        pa.array(o_conf, pa.float64()),
    ]
    schema = pa.schema([*batch.schema][:n_pass] + [*_PA_OUT])
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def extract(
    docs: DataFrame,
    date_formats: list[str] | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """docs -> extracted (see module docstring). Shuffle-free.

    date_formats: Spark patterns from ``_FMT_MAP`` or %-style strptime
    formats, tried in order (default: every ``_FMT_MAP`` pattern).
    passthrough: extra input columns carried to the output unchanged,
    ahead of the extraction fields (e.g. an ingest timestamp in the
    streaming path)."""
    fmts = [_strptime_format(f) for f in date_formats or _FMT_MAP]
    passthrough = list(passthrough or [])
    n_pass = len(passthrough)
    # mapInArrow is opaque to column pruning: project to exactly the
    # consumed columns, or anything else the caller carries would cross
    # the Python boundary for nothing
    inp = docs.select(*passthrough, *_INPUT_COLS)
    schema = StructType(inp.schema.fields[:n_pass]
                        + from_arrow_schema(_PA_OUT, prefer_timestamp_ntz=True).fields)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        date_cache: dict = {}
        for batch in batches:
            yield _process_batch(batch, n_pass, fmts, date_cache)

    # the parsed date is a wall-clock time: the cast reads it in the
    # session time zone, with Spark's own DST rules
    return inp.mapInArrow(fn, schema=schema).withColumn(
        "cleaned_date", F.col("cleaned_date").cast("timestamp"))


def main_content(extracted: Column) -> Column:
    """'\\n\\n'-joined kept text (section join, extractContent.py:531,538)."""
    return F.array_join(
        F.transform(
            F.filter(extracted, lambda s: ~s["kind"].isin(*spec.MEDIA_KINDS)),
            lambda s: s["text"],
        ),
        "\n\n",
    )
