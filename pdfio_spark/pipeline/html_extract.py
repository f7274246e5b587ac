"""HTML main-content extraction (boilerplate strip via DOM heuristics).

The web-page half of the north rule: over the same (url, html binary)
table shape the PDF path uses, strip boilerplate from Common-Crawl-style
pages with a real block-scoring heuristic in the readability/
boilerpipe family:

  1. parse the byte stream with the stdlib tolerant HTML parser
     (handles unclosed tags, void elements, comments, entity refs);
  2. hard-drop text under semantic boilerplate ancestors
     (nav/header/footer/aside) and non-content subtrees (script/style);
  3. group the remaining paragraph-level blocks (p/h*/li/td/...) by
     their nearest container element (article/main/section/div/...);
  4. score each container by non-link text mass weighted by
     (1 - link_density) — link farms (sidebars, related-posts divs)
     score ~0 even without semantic tags;
  5. emit the winning container's blocks in document order.

No dependence on a specific container tag: the corpus generator cycles
<article>/<main>/<div class=...> and the scorer must win on density
alone.  Everything runs inside an Arrow-batched `mapInArrow` stage —
no per-row Python seen by Spark, no external deps.

The synthetic pages are a closed-form function of the documents row
(same sanitize + 60-char/8-line chunk contract as the PDF fixtures),
so the DuckDB oracle predicts extracted text byte-identically per url.
"""
from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame

from ..fixtures import chunk_text, sanitize
from .maprows import map_rows

# ------------------------------------------------------------- builder

# containers cycle so the extractor can't key on one tag name
_CONTAINERS = [("<article>", "</article>"),
               ("<main>", "</main>"),
               ('<div class="post-body">', "</div>")]

_NAV = ('<nav><ul>'
        '<li><a href="/">Home</a></li><li><a href="/news">News</a></li>'
        '<li><a href="/about">About</a></li>'
        '<li><a href="/contact">Contact</a></li>'
        '<li><a href="/archive">Archive</a></li>'
        '<li><a href="/search">Search</a></li></ul></nav>')

_SIDEBAR = ('<div id="sidebar">'
            '<p><a href="/r/1">Related story one</a></p>'
            '<p><a href="/r/2">Related story two</a></p>'
            '<p><a href="/r/3">Related story three</a></p>'
            '<p><a href="/r/4">More from this site</a></p>'
            '<p><a href="/r/5">Trending now</a></p></div>')

_FOOTER = ('<footer><p>&copy; 2026 Example Site. All rights reserved.'
           '</p><p><a href="/privacy">Privacy</a> &middot; '
           '<a href="/terms">Terms</a></p></footer>')


# Charset rotation (r4): real Common Crawl is full of legacy-encoded
# pages; the declared charset cycles by doc_id % 4. Non-UTF-8 cases
# carry a constant non-ASCII probe paragraph so mojibake cannot pass
# the byte-identity oracle (an undetected wrong decode garbles it).
CP1252_PROBE = "café – naïve ½"
SJIS_PROBE = "日本語のテキスト"
_ENC_CASES = ("utf-8", "utf-16", "windows-1252", "shift_jis")
_ENC_PROBE = {"windows-1252": CP1252_PROBE, "shift_jis": SJIS_PROBE}
_ENC_META = {
    "utf-8": '<meta charset="utf-8">',
    # utf-16 pages are identified by their BOM (meta would be
    # unreadable before decoding anyway); WHATWG sniffing does the same
    "utf-16": '<meta charset="utf-16">',
    "windows-1252": '<meta charset="windows-1252">',
    # the http-equiv declaration form, equally common in old crawls
    "shift_jis": ('<meta http-equiv="Content-Type" '
                  'content="text/html; charset=shift_jis">'),
}


def expected_main_text(doc_id: int, text: str) -> str:
    """The closed-form main_text contract for build_html_for_doc pages
    (what the DuckDB oracle and the tests predict)."""
    base = "\n".join(chunk_text(f"Doc {doc_id}: " + sanitize(text or ""),
                                60, 8))
    probe = _ENC_PROBE.get(_ENC_CASES[doc_id % 4])
    return base + "\n" + probe if probe else base


def build_html_for_doc(doc_id: int, text: str, lang: str = "en") -> bytes:
    """Deterministic Common-Crawl-style page for a documents-table row.

    Content = the sanitized, prefixed, 60-char/8-line chunked text (the
    exact contract `_LINES_CTE` mirrors in SQL), one <p> per chunk,
    inside a container that cycles by doc_id % 3, encoded in a charset
    that cycles by doc_id % 4 (utf-8 / utf-16+BOM / windows-1252 /
    shift_jis, with a constant non-ASCII probe paragraph on the legacy
    encodings). Boilerplate (nav, masthead, link sidebar, footer,
    script/style) surrounds it. Sanitized text contains no <, & or >
    so no escaping is needed — enforced, because byte-identity depends
    on it."""
    s = f"Doc {doc_id}: " + sanitize(text or "")
    if "<" in s or "&" in s or ">" in s:
        # Explicit raise (not assert): must survive python -O on
        # spark-submit executors — byte-identity depends on it.
        raise ValueError(
            "sanitize() let an HTML metachar through; oracle "
            "byte-identity would silently diverge: %r" % s[:120])
    enc = _ENC_CASES[doc_id % 4]
    paras = "".join(f"<p>{c}</p>" for c in chunk_text(s, 60, 8))
    probe = _ENC_PROBE.get(enc)
    if probe:
        paras += f"<p>{probe}</p>"
    open_t, close_t = _CONTAINERS[doc_id % 3]
    page = (
        '<!DOCTYPE html>'
        f'<html lang="{lang or "en"}"><head>{_ENC_META[enc]}'
        f'<title>Doc {doc_id}</title>'
        '<style>body{margin:0;font:16px serif}nav{background:#eee}'
        '</style>'
        '<script>var t=Date.now();console.log("pageview",t);</script>'
        '</head><body>'
        f'{_NAV}'
        f'<header><h1>Example Site {doc_id % 7}</h1>'
        '<a href="/login">Log in</a></header>'
        f'{_SIDEBAR}'
        f'{open_t}{paras}{close_t}'
        f'{_FOOTER}'
        '</body></html>')
    return page.encode(enc)


# ----------------------------------------------------------- extractor

_DROP_SUBTREE = {"script", "style", "noscript", "template", "svg"}
_BOILER_ANCESTOR = {"nav", "header", "footer", "aside"}
_BLOCK_TAGS = {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre",
               "blockquote", "td", "th", "dd", "dt", "figcaption"}
_CONTAINER_TAGS = {"article", "main", "section", "div", "body", "ul",
                   "ol", "table", "form"}
_VOID_TAGS = {"meta", "link", "br", "hr", "img", "input", "area",
              "base", "col", "embed", "source", "track", "wbr"}
_AUTOCLOSE_TAGS = {"p", "li", "dt", "dd", "tr", "td", "th", "option"}


class _Block:
    __slots__ = ("cid", "text", "link_chars", "boiler")

    def __init__(self, cid: int, boiler: bool):
        self.cid = cid
        self.text = ""
        self.link_chars = 0
        self.boiler = boiler


class _Collector(HTMLParser):
    """One pass over the token stream building paragraph blocks tagged
    with their nearest container and boilerplate ancestry."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []
        self.container_stack: list[int] = [0]   # 0 = implicit document
        self._next_cid = 1
        self.blocks: list[_Block] = []
        self._cur: _Block | None = None
        self._link_depth = 0
        self._drop_depth = 0
        self._boiler_depth = 0
        self._title = ""
        self._in_title = False

    # -- tag events ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            if tag == "br" and self._cur is not None:
                self._cur.text += "\n"   # line break inside a block
            return
        # HTML5 implied end tags: a new <p>/<li>/<td>... closes a
        # still-open element of the same tag
        if (tag in _AUTOCLOSE_TAGS and self.stack
                and self.stack[-1] == tag):
            self.handle_endtag(tag)
        if tag == "title":
            self._in_title = True
        self.stack.append(tag)
        if tag in _DROP_SUBTREE:
            self._drop_depth += 1
        if tag in _BOILER_ANCESTOR:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in _CONTAINER_TAGS:
            self.container_stack.append(self._next_cid)
            self._next_cid += 1
        if tag in _BLOCK_TAGS and self._cur is None:
            self._cur = _Block(self.container_stack[-1],
                               self._boiler_depth > 0)

    def handle_startendtag(self, tag, attrs):
        # void/self-closed: no stack effect, but <br/> still breaks
        if tag == "br" and self._cur is not None:
            self._cur.text += "\n"

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS or tag not in self.stack:
            return  # tolerate stray end tags
        # tolerant close: pop (and unwind state for) everything above
        # the matching open tag, then the tag itself
        while self.stack:
            popped = self.stack.pop()
            if popped == "title":
                self._in_title = False
            if popped in _DROP_SUBTREE:
                self._drop_depth -= 1
            if popped in _BOILER_ANCESTOR:
                self._boiler_depth -= 1
            if popped == "a":
                self._link_depth = max(0, self._link_depth - 1)
            if popped in _CONTAINER_TAGS and len(self.container_stack) > 1:
                self.container_stack.pop()
            if popped in _BLOCK_TAGS and self._cur is not None:
                self.blocks.append(self._cur)
                self._cur = None
            if popped == tag:
                break

    # -- text ---------------------------------------------------------
    def handle_data(self, data):
        if self._drop_depth:
            return
        if self._in_title:
            self._title += data
            return
        if self._cur is not None:
            self._cur.text += data
            if self._link_depth:
                self._cur.link_chars += len(data)
        elif data.strip():
            # loose non-whitespace text directly under a container:
            # treat as an anonymous block so real-world pages with bare
            # text still score (the synthetic corpus emits none)
            b = _Block(self.container_stack[-1], self._boiler_depth > 0)
            b.text = data
            if self._link_depth:
                b.link_chars = len(data)
            self.blocks.append(b)

    def close(self):
        super().close()
        if self._cur is not None:       # unclosed trailing block
            self.blocks.append(self._cur)
            self._cur = None


# WHATWG-style charset sniffing (simplified): BOM wins, then the first
# <meta charset=...> / <meta http-equiv content="...charset=..."> in
# the head, then UTF-8-with-replace as the fallback.
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?([A-Za-z0-9_.:-]+)""", re.I)
# WHATWG label aliases whose Python codec differs from the web meaning
_CHARSET_ALIASES = {
    "iso-8859-1": "windows-1252",  # the web's latin1 IS cp1252
    "latin1": "windows-1252",
    "us-ascii": "windows-1252",
}


def decode_html(data: bytes) -> str:
    """Charset-sniffed decode (r4; was utf-8-replace only — real crawls
    are full of windows-125x / shift-jis pages whose declared charset
    must be honored or they extract mojibake 'successfully')."""
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:].decode("utf-8", "replace")
    if data[:2] == b"\xff\xfe":
        return data[2:].decode("utf-16-le", "replace")
    if data[:2] == b"\xfe\xff":
        return data[2:].decode("utf-16-be", "replace")
    m = _META_CHARSET_RE.search(data[:1024])
    if m:
        label = m.group(1).decode("ascii", "ignore").strip().lower()
        label = _CHARSET_ALIASES.get(label, label)
        try:
            codecs.lookup(label)
        except LookupError:
            label = None
        if label:
            try:
                return data.decode(label, "replace")
            except Exception:
                pass
    return data.decode("utf-8", "replace")


def extract_main_html(data: bytes) -> dict:
    """bytes -> {title, main_text, n_blocks, status}.

    Never raises: any failure yields a quarantine row, mirroring the
    PDF extraction contract."""
    try:
        p = _Collector()
        p.feed(decode_html(data))
        p.close()
        scores: dict[int, list[int]] = {}
        for b in p.blocks:
            if b.boiler:
                continue
            chars, link = scores.setdefault(b.cid, [0, 0])
            scores[b.cid][0] = chars + len(b.text)
            scores[b.cid][1] = link + b.link_chars
        best_cid, best_score = None, 0.0
        for cid, (chars, link) in scores.items():
            if chars <= 0:
                continue
            density = link / chars
            score = (chars - link) * (1.0 - density)
            if score > best_score:
                best_cid, best_score = cid, score
        if best_cid is None:
            return {"title": p._title, "main_text": "", "n_blocks": 0,
                    "status": "empty"}
        paras = [b.text for b in p.blocks
                 if b.cid == best_cid and not b.boiler]
        return {"title": p._title, "main_text": "\n".join(paras),
                "n_blocks": len(paras), "status": "ok"}
    except Exception:
        return {"title": "", "main_text": "", "n_blocks": 0,
                "status": "error"}


# -------------------------------------------------------- spark stages

def gen_html_corpus(docs: DataFrame,
                    partitions: int | None = None) -> DataFrame:
    """documents(doc_id, text, lang) -> (url, html, nbytes) web pages.
    Same fan-out contract as the PDF corpus: explicit repartition to one
    task per core so a single small parquet file doesn't serialize the
    whole downstream pipeline."""

    def gen(did, txt, lang):
        page = build_html_for_doc(int(did), txt or "", lang)
        yield f"doc://{did}", page, len(page)

    sc = docs.sparkSession.sparkContext
    if partitions is None:
        partitions = max(sc.defaultParallelism, 8)
    docs = docs.select("doc_id", "text", "lang").repartition(partitions)
    return map_rows(docs, ["doc_id", "text", "lang"],
                    "url string, html binary, nbytes long", gen)


def extract_html(corpus: DataFrame) -> DataFrame:
    """(url, html) -> (url, title, main_text, n_blocks, status).

    HTML pages are small and uniform (no multi-GB outliers like PDFs),
    so no skew split-path is needed; the stage inherits the corpus
    partitioning (1 task/core)."""

    def run(url, page):
        r = extract_main_html(page or b"")
        yield url, r["title"], r["main_text"], r["n_blocks"], r["status"]

    return map_rows(corpus, ["url", "html"],
                    "url string, title string, main_text string, "
                    "n_blocks long, status string", run)
