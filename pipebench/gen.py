"""Seeded input generator owned by the benchmark.

Every input a workload reads is made here from ``--seed`` alone, in
plain Python, and never through the library: a change to the engine
cannot change the bytes the benchmark feeds it, and the fingerprint
each run records proves that parent and change read the same inputs.

Text is drawn from a Zipfian vocabulary (``VOCAB_SIZE`` words, exponent
``ZIPF_S``). The vocabulary is larger than the embed stage's per-worker
token memo (65,536 entries), so the memo churns as it would on real
text; ``sources/synth.py``'s 30-word soup never misses it, and makes
every 3-shingle exceed ``dedup.jaccard_pairs``' ``max_df``.

Pipeline docs are span-shaped (``doc_id, url, lang, spans``) and follow
the spec's span kinds and archetypes: boilerplate, ambiguous ``text``
of either side of the word-count threshold, media spans, markdown and
HTML decorations, error docs, a hot domain and non-English docs. Docs
belong to stories, so articles about one story share most of their
text and the clustering job has real pairs to find.

Dedup docs are ``doc_id, text``: planted clusters of near-duplicate
copies among single docs, with a hot domain's boilerplate footer on a
fixed share of both.
"""

from __future__ import annotations

import hashlib
import html
import itertools
import math
import random
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from tackle4losscontentextraction_spark import spec

VOCAB_SIZE = 150_000
ZIPF_S = 1.0

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"
_SYL = [c + v for c in _CONS for v in _VOWS]  # 85 two-letter syllables

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_LANGS = ["es", "de", "fr", "zh"]
HOT_DOMAIN = "www.espn.com"
N_COLD_DOMAINS = 300


def _word(rank: int) -> str:
    """Unique word per rank: one syllable for the 85 commonest, two for
    the next 85**2, three after (different lengths never collide)."""
    n = len(_SYL)
    if rank < n:
        return _SYL[rank]
    rank -= n
    if rank < n * n:
        return _SYL[rank // n] + _SYL[rank % n]
    rank -= n * n
    return _SYL[rank // (n * n)] + _SYL[(rank // n) % n] + _SYL[rank % n]


VOCAB = [_word(i) for i in range(VOCAB_SIZE)]


def _inverse_cdf(slots: int) -> list[str]:
    """Slot s holds the word whose CDF interval contains (s + 0.5) /
    slots: one uniform draw indexes a word. 2**21 slots resolve every
    rank of the vocabulary (the rarest has p > 1 / 2**21)."""
    cum = list(itertools.accumulate(1.0 / r ** ZIPF_S for r in range(1, VOCAB_SIZE + 1)))
    table, rank = [], 0
    for s in range(slots):
        u = (s + 0.5) / slots * cum[-1]
        while cum[rank] < u:
            rank += 1
        table.append(VOCAB[rank])
    return table


_SLOTS = 1 << 21
_TABLE = _inverse_cdf(_SLOTS)


class Fingerprint:
    """sha256 over every generated record, in generation order."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()

    def add(self, *parts: object) -> None:
        self._h.update("\x1f".join(map(str, parts)).encode())
        self._h.update(b"\x1e")

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def _words(rng: random.Random, n: int) -> list[str]:
    r = rng.random
    return [_TABLE[int(r() * _SLOTS)] for _ in range(n)]


# ---------------------------------------------------------------------------
# pipeline docs (span-shaped)
# ---------------------------------------------------------------------------

_STORY_WORDS = 600       # length of a story's shared text
_SUBST_P = 0.06          # per-word chance an article rewords its story
_LOG_KEEP = math.log(1.0 - _SUBST_P)
_ERROR_P = 0.04          # error docs
_NON_EN_P = 0.12
_HOT_P = 0.35            # hot-domain share (partition skew)
_ROUNDUP_P = 0.04
_ENCODED_P = 0.05
_BAD_DATE_P = 0.1        # 'time' spans no format parses


class DocGen:
    """Doc builder: what ``make`` returns depends only on the seed and
    the order of the calls."""

    def __init__(self, seed: int, n_stories: int) -> None:
        self.rng = random.Random(seed)
        self.stories = [_words(self.rng, _STORY_WORDS) for _ in range(n_stories)]

    def _story_text(self, story: list[str], pos: int, n: int) -> tuple[str, int]:
        rng = self.rng
        out = story[pos:pos + n]
        if len(out) < n:
            out = out + _words(rng, n - len(out))
        # reworded positions: geometric gaps, one draw per substitution
        i = int(math.log(1.0 - rng.random()) / _LOG_KEEP)
        while i < len(out):
            out[i] = _words(rng, 1)[0]
            i += 1 + int(math.log(1.0 - rng.random()) / _LOG_KEEP)
        return " ".join(out), pos + n

    def _decorate(self, text: str, doc_id: str, i: int) -> str:
        r = [self.rng.random() for _ in range(3)]
        if r[0] < 0.2:
            text += " [%s](https://www.example.com/more/%s/%d)" % (
                " ".join(_words(self.rng, 2)), doc_id, i)
        if r[1] < 0.1:
            text = "![pic](https://img.example.com/p/%s_%d.png) %s" % (doc_id, i, text)
        if r[2] < 0.1:
            text += " <b>%s</b>" % " ".join(_words(self.rng, 2))
        return text

    def _date(self) -> str:
        if self.rng.random() < _BAD_DATE_P:
            return "updated %s ago" % _words(self.rng, 1)[0]
        m, d = self.rng.randrange(12), self.rng.randint(1, 28)
        return "%s %d, %d" % (_MONTHS[m], d, 2025)

    def make(self, doc_num: int, story_idx: int) -> dict:
        rng = self.rng
        doc_id = "d%09d" % doc_num
        story = self.stories[story_idx]
        arch = rng.randrange(len(spec.ARCHETYPES))
        tmpl = spec.ARCHETYPES[arch]
        kinds = [tmpl[i % len(tmpl)] for i in range(len(tmpl) + rng.randrange(7))]
        # every non-error doc leads with a headline, so its main content
        # is never empty and it reaches the vector table
        if "headline" not in kinds:
            kinds.insert(0, "headline")
        pos = 0
        spans = []
        for i, kind in enumerate(kinds):
            ref = ""
            if kind in spec.MEDIA_KINDS:
                ext = "jpg" if kind == "image" else "mp4"
                ref = "https://cdn.example.com/%s/%s/%d.%s" % (kind, doc_id, i, ext)
                text = ""
            elif kind == "time":
                text = self._date()
            elif kind in spec.BOILERPLATE_KINDS:
                text = " ".join(_words(rng, rng.randint(3, 14)))
                if rng.random() < 0.5:
                    text = "[%s](https://%s/nav/%d)" % (text, HOT_DOMAIN, i)
            else:
                if kind in ("headline", "author", "team"):
                    n = rng.randint(2, 11)
                elif kind == "text":
                    # either side of WORD_COUNT_THRESHOLD
                    n = (rng.randint(20, 44) if rng.random() < 0.5
                         else rng.randint(55, 129))
                else:
                    n = rng.randint(30, 119)
                text, pos = self._story_text(story, pos, n)
                text = self._decorate(text, doc_id, i)
            spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": i})
        if rng.random() < _ERROR_P:
            at = rng.randint(0, len(spans))
            spans.insert(at, {"kind": "text", "text": spec.ERROR_SPAN_TEXT,
                              "media_ref": "", "offset": 0})
            for i, s in enumerate(spans):
                s["offset"] = i
        domain = (HOT_DOMAIN if rng.random() < _HOT_P
                  else "site%d.example.com" % (int(rng.paretovariate(1.0)) % N_COLD_DOMAINS))
        path = ("nfl-news-round-up/%d" if rng.random() < _ROUNDUP_P
                else "nfl/story/id/%d") % doc_num
        scheme = "https%3A//" if rng.random() < _ENCODED_P else "https://"
        lang = (rng.choice(_LANGS)
                if rng.random() < _NON_EN_P else "en")
        return {"doc_id": doc_id, "url": scheme + domain + "/" + path,
                "lang": lang, "spans": spans}


def is_error_doc(doc: dict) -> bool:
    return any(s["text"].startswith(p) for s in doc["spans"]
               for p in spec.ERROR_PREFIXES)


# Markup per span kind, mirroring how news pages mark these blocks;
# the same table ``operators/html_tokenize`` parses (kept here so the
# HTML bytes do not depend on the library under test).
_MARKUP = {
    "navigation": ("nav", None), "menu": ("ul", "menu"),
    "headline": ("h1", None), "team": ("span", "team"),
    "author": ("address", None), "related_articles": ("aside", "related"),
    "article_body": ("p", None), "main_content": ("div", "main"),
    "footer": ("footer", None), "copyright": ("small", "copyright"),
    "time": ("time", None), "news": ("section", "news"),
    "analysis": ("section", "analysis"), "introduction": ("p", "intro"),
    "share": ("div", "share"), "link": ("a", None), "text": ("div", None),
}
_CHROME_PRE = ('<!DOCTYPE html><html><head><meta charset="utf-8">'
               "<title>page</title><script>window.__ads&&track(1<2);</script>"
               "<style>.menu{color:#333}</style></head><body>")
_CHROME_POST = "</body></html>"


def render_html(doc: dict) -> str:
    """A page whose DOM tokenizes back to exactly ``doc['spans']``."""
    parts = [_CHROME_PRE]
    for s in doc["spans"]:
        kind = s["kind"]
        if kind == "image":
            parts.append('<img src="%s">' % html.escape(s["media_ref"]))
            continue
        if kind == "video":
            parts.append('<video src="%s"></video>' % html.escape(s["media_ref"]))
            continue
        text = html.escape(s["text"], quote=False)
        tag, cls = _MARKUP[kind]
        if kind == "menu":
            parts.append('<ul class="menu"><li>%s</li></ul>' % text)
        else:
            open_tag = '<%s class="%s">' % (tag, cls) if cls else "<%s>" % tag
            parts.append("%s%s</%s>" % (open_tag, text, tag))
    parts.append(_CHROME_POST)
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# dedup corpus
# ---------------------------------------------------------------------------

_WS = re.compile(r"\s+")
_FOOTER_WORDS = 12       # the hot domain's boilerplate footer


def shingles(text: str, n: int = 3) -> set[str]:
    """``dedup.word_shingles`` semantics in plain Python."""
    words = _WS.split(text.strip(" ").lower())
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def dedup_corpus(seed: int, n_docs: int, n_clusters: int, cluster_size: int,
                 hot_share: float, fp: Fingerprint) -> list[tuple[str, str]]:
    """``n_docs`` rows of (doc_id, text), as a crawl holds them:
    ``n_clusters`` syndicated stories of ``cluster_size`` copies each
    (every copy is the story with 1 to 3 of its words replaced) and
    single docs for the rest. A ``hot_share`` of the stories, and of the
    single docs, come from the hot domain and end with its boilerplate
    footer, so the footer's shingles occur in more near-duplicate docs
    than ``dedup.jaccard_pairs``' ``max_df``. The number of hot stories
    is fixed, not drawn, so every seed gives the verify step the same
    amount of work."""
    rng = random.Random(seed)
    footer = _words(rng, _FOOTER_WORDS)
    hot = set(rng.sample(range(n_clusters), round(hot_share * n_clusters)))
    docs: list[str] = []
    for c in range(n_clusters):
        story = _words(rng, rng.randint(150, 259))
        for _ in range(cluster_size):
            words = list(story)
            for p in rng.sample(range(len(words)), rng.randint(1, 3)):
                words[p] = _words(rng, 1)[0]
            docs.append(" ".join(words + footer if c in hot else words))
    n_single = n_docs - n_clusters * cluster_size
    n_hot_single = round(hot_share * n_single)
    for k in range(n_single):
        words = _words(rng, rng.randint(150, 259))
        docs.append(" ".join(words + footer if k < n_hot_single else words))
    rng.shuffle(docs)
    rows = [("x%09d" % i, text) for i, text in enumerate(docs)]
    for r in rows:
        fp.add(*r)
    return rows


def minhash_bands(text: str, num_hashes: int = 8, bands: int = 2) -> set[str]:
    """``dedup.minhash_lsh_candidates``' band keys in plain Python: two
    docs are candidates iff their key sets intersect."""
    sh = shingles(text)
    if not sh:
        return set()
    hexes = {g: [hashlib.md5((s + "#%d" % g).encode()).hexdigest() for s in sh]
             for g in range((num_hashes + 3) // 4)}
    sig = [min(h[(k % 4) * 8:(k % 4) * 8 + 8] for h in hexes[k // 4])
           for k in range(num_hashes)]
    rows = num_hashes // bands
    return {"%d:%s" % (b, "|".join(sig[b * rows:(b + 1) * rows]))
            for b in range(bands)}


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)``: half-up on the double's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def minhash_dedup_pairs(rows: list[tuple[str, str]], threshold: float,
                        max_df: int) -> dict[tuple[str, str], float]:
    """What ``run_dedup.py --method minhash`` reports, in plain Python.

    Candidates are the pairs that share a band key. The verify step
    computes Jaccard over the candidate docs with ``jaccard_pairs``' df
    guard: shingles in more than ``max_df`` of those docs do not count
    towards the intersection, and the union is ``|A| + |B| - |A∩B|``
    with that guarded intersection. Returns {(id_a, id_b): guarded
    Jaccard, unrounded} for the pairs whose rounded Jaccard reaches
    ``threshold``."""
    buckets: dict[str, list[str]] = {}
    for doc_id, text in rows:
        for key in minhash_bands(text):
            buckets.setdefault(key, []).append(doc_id)
    cand = {p for ids in buckets.values() for p in itertools.combinations(sorted(ids), 2)}
    text = dict(rows)
    sh = {i: shingles(text[i]) for i in {i for p in cand for i in p}}
    df = Counter(s for ss in sh.values() for s in ss)
    out = {}
    for a, b in cand:
        inter = sum(1 for s in sh[a] & sh[b] if df[s] <= max_df)
        if inter:
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if _round6(j) >= threshold:
                out[(a, b)] = j
    return out


def survivors(ids: list[str], pairs) -> set[str]:
    """``dedup.keep_survivors``: the smallest id of each connected
    component of the pair graph, and every unpaired doc."""
    parent = {i: i for i in ids}

    def root(i: str) -> str:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if root(i) == i}
