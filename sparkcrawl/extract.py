"""A11/A12/A14/A15 — Husker-style HTML→text extraction + link husking
(SURVEY §2.A), re-expressed as pure stdlib functions wrapped by vectorized
Arrow UDFs [BASELINE.json:6 "Husker-style HTML-to-text extraction
re-expressed as vectorized Arrow UDFs over the html column"].

The reference's Husker tree is a lazy selector API over an lxml etree
(expected: alcazar/husker/*.py — unverified, reference absent).  Per
SURVEY §0.2 the extraction semantics are frozen HERE, enforced byte-exactly
by tests/goldens/, and kept pure + stdlib-only (no lxml/bs4 in this
environment) so re-targeting to the reference's exact output later is a
change localized to this module.

Frozen extraction spec (A11 "husk" + A12 "clean")
-------------------------------------------------
1. bytes → str (charset sniff, all steps deterministic):
   a. BOM: UTF-32 LE/BE, UTF-8, UTF-16 LE/BE BOMs select the matching
      codec (BOM bytes stripped; UTF-32 checked before UTF-16)
   b. else the first 1024 bytes are scanned (as latin-1) for a
      ``<meta charset=…>`` / ``<meta http-equiv … charset=…>``
      declaration (first match wins, case-insensitive)
   c. declared labels normalize per the WHATWG quirks: gb2312→gbk;
      ascii/us-ascii/iso-8859-1/latin(-)1 → windows-1252;
      utf-16/utf-32 labels → utf-8 (an ASCII-readable meta tag can't be
      in a real UTF-16/32 document — those carry a BOM, step 1a)
   d. unknown/undeclared charset falls back to UTF-8
   e. decoding always uses errors='replace' (never raises)
2. parse with html.parser (convert_charrefs=True ⇒ entities decoded)
3. content of <script> <style> <template> <noscript> and comments dropped
4. block-level elements (BLOCK_TAGS) contribute a newline boundary at both
   their start and end tag; <br> and <hr> contribute one newline
5. all other markup is inline: contributes no boundary
6. clean: per line, runs of Unicode whitespace collapse to one space and
   the line is stripped; empty lines are dropped; lines joined with '\n';
   no trailing newline
7. links (A14): href of every <a> outside muted subtrees, in document
   order, duplicates preserved (dedup is the crawler's job)
8. resolution (A15): urljoin(base_url, href); only http/https results kept
"""

from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser
from typing import List, Tuple
from urllib.parse import urljoin

import pandas as pd

BLOCK_TAGS = frozenset(
    """address article aside blockquote body caption dd details dialog div dl
    dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 head header
    hgroup li main nav ol option p pre section summary table tbody td tfoot
    th thead title tr ul""".split()
)
_SELF_BREAK = frozenset({"br", "hr"})
_MUTED_TAGS = frozenset({"script", "style", "template", "noscript"})


class _TextAndLinks(HTMLParser):
    """Single-pass extractor: visible text chunks + <a href> capture."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: List[str] = []
        self.hrefs: List[str] = []
        self._mute = 0

    # -- structure ---------------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _MUTED_TAGS:
            self._mute += 1
            return
        if self._mute:
            return
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value is not None:
                    self.hrefs.append(value)
                    break
        if tag in _SELF_BREAK or tag in BLOCK_TAGS:
            self.chunks.append("\n")

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag: str) -> None:
        if tag in _MUTED_TAGS:
            if self._mute:
                self._mute -= 1
            return
        if self._mute:
            return
        if tag in BLOCK_TAGS:
            self.chunks.append("\n")

    # -- content -----------------------------------------------------------
    def handle_data(self, data: str) -> None:
        if not self._mute and data:
            self.chunks.append(data)

    def handle_comment(self, data: str) -> None:  # dropped
        pass


# BOM table in sniff order (UTF-32 before UTF-16: their LE BOMs share a
# prefix).  (bom_bytes, codec)
_BOMS: Tuple[Tuple[bytes, str], ...] = (
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)

# WHATWG encoding-label quirks (the subset that matters for crawl HTML):
# pages labeled gb2312 routinely use GBK extensions; ascii/latin-1 labels
# mean windows-1252 on the real web; a meta tag READABLE AS ASCII cannot
# be inside a genuine UTF-16/32 document, so WHATWG maps those labels to
# UTF-8 (real UTF-16/32 pages are caught by their BOM in step 1a).
_CHARSET_ALIASES = {
    "gb2312": "gbk",
    "ascii": "windows-1252",
    "us-ascii": "windows-1252",
    "iso-8859-1": "windows-1252",
    "latin-1": "windows-1252",
    "latin1": "windows-1252",
    "utf-16": "utf-8",
    "utf-16le": "utf-8",
    "utf-16be": "utf-8",
    "utf-32": "utf-8",
    "utf-32le": "utf-8",
    "utf-32be": "utf-8",
}

_META_CHARSET_RE = re.compile(
    r"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9._\-]+)""",
    re.IGNORECASE)


def sniff_charset(html: bytes) -> Tuple[str, int]:
    """Frozen spec step 1a–1d: returns (codec_name, bom_bytes_to_skip)."""
    for bom, codec in _BOMS:
        if html.startswith(bom):
            return codec, len(bom)
    head = html[:1024].decode("latin-1", errors="replace")
    m = _META_CHARSET_RE.search(head)
    if m:
        label = m.group(1).lower()
        label = _CHARSET_ALIASES.get(label, label)
        try:
            codecs.lookup(label)
            return label, 0
        except LookupError:
            pass
    return "utf-8", 0


def decode_html(html: bytes) -> str:
    """Frozen byte→str rule (spec step 1): BOM → meta-charset → UTF-8
    fallback, always errors='replace' (deterministic for any input)."""
    if html is None:
        return ""
    if isinstance(html, str):
        return html
    b = bytes(html)
    codec, skip = sniff_charset(b)
    return b[skip:].decode(codec, errors="replace")


def clean_text(raw: str) -> str:
    """A12 cleaner: whitespace-collapse per line, drop empties, join."""
    lines = []
    for line in raw.split("\n"):
        collapsed = " ".join(line.split())
        if collapsed:
            lines.append(collapsed)
    return "\n".join(lines)


def husk(html: bytes) -> Tuple[str, List[str]]:
    """Parse once → (cleaned text, raw hrefs in document order)."""
    parser = _TextAndLinks()
    try:
        parser.feed(decode_html(html))
        parser.close()
    except Exception:
        # malformed input must never raise across the UDF boundary;
        # whatever was gathered before the failure is the result
        pass
    return clean_text("".join(parser.chunks)), parser.hrefs


def extract_text(html: bytes) -> str:
    return husk(html)[0]


def extract_links(html: bytes) -> List[str]:
    return husk(html)[1]


def resolve_links(base_url: str, hrefs: List[str]) -> List[str]:
    """A15: absolute http(s) URLs, document order, duplicates preserved."""
    out: List[str] = []
    for href in hrefs:
        href = href.strip()
        if not href:
            continue
        try:
            absolute = urljoin(base_url, href)
        except ValueError:
            continue
        if absolute.startswith("http://") or absolute.startswith("https://"):
            out.append(absolute)
    return out


# --- vectorized UDF bodies (registered as pandas UDFs in frontier.py) -----

def husk_frame(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    """Vectorized A11+A12+A14+A15: (url, html) → (text, links[])."""
    texts: List[str] = []
    links: List[List[str]] = []
    for u, h in zip(url, html):
        text, hrefs = husk(h)
        texts.append(text)
        links.append(resolve_links(u, hrefs))
    return pd.DataFrame({"text": texts, "links": links})
