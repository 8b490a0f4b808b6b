"""Deterministic synthetic web corpus (FIXTURES.md §B, seed=42).

Every attribute of page *i* is a pure function of ``(SEED, i)`` via a
splitmix64 mixer — no RNG state — so the corpus can be generated
partition-parallel with ``mapInPandas`` (Spark path) or driver-side
(model-crawler oracle) and both see byte-identical pages.

Shape per BASELINE.json:15 input_hint:
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string);
``text`` is left null — OUR engine produces it.

Host distribution is Zipf-ish with host0 owning ~50% of URLs (the heavy
fan-in host for the A9 skew tests).  The link graph is a seeded random
digraph with cycles, URL-alias variants (case/fragment/tracking-params/
relative forms) to exercise canonicalization, plus off-corpus and
javascript: links.  A deterministic subset of pages is malformed HTML and
another subset contains invalid UTF-8 bytes.
"""

from __future__ import annotations

import html as _html
from datetime import datetime, timedelta
from typing import Dict, Iterator, List, Sequence, Tuple

import numpy as np
import pandas as pd

SEED = 42
N_HOSTS = 20
LANGS = ("en", "es", "de", "fr", "zh")
_EPOCH = datetime(2025, 1, 1)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu crawl frontier spark parquet arrow vector "
    "página日本語 schön déjà 北京 tokyo"
).split()

_MASK = (1 << 64) - 1


def _mix(*vals: int) -> int:
    """splitmix64 over a tuple — the corpus's only randomness source."""
    x = (SEED * 0x9E3779B97F4A7C15) & _MASK
    for v in vals:
        x = (x + v + 0x9E3779B97F4A7C15) & _MASK
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
        x = z ^ (z >> 31)
    return x


def page_host(i: int) -> int:
    r = _mix(i, 1)
    if r % 100 < 50:  # heavy fan-in host
        return 0
    return 1 + r % (N_HOSTS - 1)


def page_path(i: int) -> str:
    return f"/private/{i}" if _mix(i, 2) % 11 == 0 else f"/p/{i}"


def page_url(i: int) -> str:
    """Canonical URL of page i (generator emits canonical form)."""
    return f"http://host{page_host(i)}.example{page_path(i)}"


def page_lang(i: int) -> str:
    return LANGS[_mix(i, 3) % len(LANGS)]


def page_warc_ts(i: int) -> datetime:
    return _EPOCH + timedelta(seconds=int(_mix(i, 4) % (365 * 86400)))


def page_link_targets(i: int, n: int) -> List[int]:
    k = 2 + _mix(i, 5) % 5
    return [(i * 2654435761 + 97 * j + 13) % n for j in range(1, k + 1)]


def _href_variant(src: int, dst: int, j: int) -> str:
    """One of 6 alias forms for the link src→dst (exercises A2/A15)."""
    url = page_url(dst)
    style = _mix(src, dst, j, 6) % 6
    if style == 0:
        return url
    if style == 1:  # uppercase host — canonicalization target
        return url.replace("http://host", "http://HOST", 1)
    if style == 2:  # fragment — stripped by canon
        return url + "#sec2"
    if style == 3:  # tracking + unsorted params — canon drops/sorts
        return url + "?utm_source=feed&b=2&a=1"
    if style == 4:  # absolute-path relative (same-host resolution via base)
        return page_path(dst) if page_host(dst) == page_host(src) else url
    return url + "?a=1&b=2"  # already-sorted params variant


def _body_words(i: int, n_words: int) -> str:
    return " ".join(_WORDS[_mix(i, 7, w) % len(_WORDS)] for w in range(n_words))


def page_html(i: int, n: int, fat: int = 0) -> bytes:
    """HTML bytes of page i in a corpus of n pages.

    ``fat`` pads the body with extra deterministic paragraphs (bench corpora
    use ~10–50 KB pages per SURVEY §6)."""
    url = page_url(i)
    targets = page_link_targets(i, n)
    anchors = [
        f'<a href="{_html.escape(_href_variant(i, t, j))}">link {j}</a>'
        for j, t in enumerate(targets)
    ]
    anchors.append(anchors[0])  # duplicate link
    anchors.append(f'<a href="http://offsite{_mix(i, 8) % 7}.invalid/x{i}">off</a>')
    anchors.append('<a href="javascript:void(0)">js</a>')
    anchors.append('<a name="no-href">anchorless</a>')
    paras = [
        f"<p>{_body_words(_mix(i, 9, p), 12)} &amp; entity &eacute; {p}</p>"
        for p in range(3 + fat)
    ]
    parts = [
        "<!DOCTYPE html><html><head>",
        f"<title>Page {i} — host{page_host(i)}</title>",
        "<style>body { color: #000; }</style>",
        '<script>var hidden = "not text";</script>',
        "</head><body>",
        f"<!-- comment {i} not text -->",
        f"<h1>Heading {i}</h1>",
        "<div>",
        *paras,
        "<ul>",
        *(f"<li>{a}</li>" for a in anchors),
        "</ul>",
        "</div>",
        "<noscript>no js fallback</noscript>",
        "</body></html>",
    ]
    doc = "".join(parts)
    if _mix(i, 10) % 17 == 0:  # malformed subset: unclosed/stray tags
        doc = doc.replace("</body></html>", "<div><b>unclosed</i> stray")
    raw = doc.encode("utf-8")
    if _mix(i, 11) % 23 == 0:  # bad-encoding subset: invalid UTF-8 bytes
        raw += b"<p>latin1 caf\xe9</p>"
    return raw


def page_row(i: int, n: int, fat: int = 0) -> Tuple:
    return (page_url(i), page_warc_ts(i), page_html(i, n, fat), None, page_lang(i))


# --- vectorized batch renderer ---------------------------------------------
# The corpus is pure-function-of-id, so every _mix draw for a whole batch of
# pages can be computed with numpy uint64 arithmetic in one shot instead of
# ~300 interpreted _mix calls per page (the generator was ~40% of the timed
# crawl probes' fetch phase — it is the test fixture's "web", not the
# engine, so its cost is pure measurement overhead).  The scalar page_html
# above stays as the frozen reference implementation; byte-identity of this
# path is pinned by tests/test_corpus_batch.py against hashes computed from
# the scalar code.

_U64 = np.uint64
_MIX_X0 = _U64((SEED * 0x9E3779B97F4A7C15) & _MASK)
_MIX_C = _U64(0x9E3779B97F4A7C15)
_MIX_C1 = _U64(0xBF58476D1CE4E5B9)
_MIX_C2 = _U64(0x94D049BB133111EB)


def _mix_vec(*vals) -> np.ndarray:
    """Elementwise splitmix64 over broadcast uint64 arrays — vectorized
    twin of _mix (same mixing constants, same fold order)."""
    with np.errstate(over="ignore"):
        arrs = [np.asarray(v, dtype=np.uint64) for v in vals]
        x = np.broadcast_to(_MIX_X0, np.broadcast_shapes(
            *[a.shape for a in arrs])).copy()
        for v in np.broadcast_arrays(*arrs) if len(arrs) > 1 else arrs:
            x = x + v + _MIX_C
            z = (x ^ (x >> _U64(30))) * _MIX_C1
            z = (z ^ (z >> _U64(27))) * _MIX_C2
            x = z ^ (z >> _U64(31))
    return x


# styles 3/5 append query strings whose '&' html.escape would rewrite; the
# url body itself never contains &<>"' so the escaped form is url + suffix
_Q_TRACK = "?utm_source=feed&amp;b=2&amp;a=1"
_Q_SORTED = "?a=1&amp;b=2"


def _batch_page_meta(I: np.ndarray) -> tuple:
    """(host, is_private) arrays for page-id array I — page_host/page_path
    vectorized."""
    r1 = _mix_vec(I, np.uint64(1))
    host = np.where(r1 % _U64(100) < _U64(50), _U64(0),
                    _U64(1) + r1 % _U64(N_HOSTS - 1)).astype(np.int64)
    priv = (_mix_vec(I, np.uint64(2)) % _U64(11) == 0)
    return host, priv


def _page_urls_batch(I: np.ndarray) -> List[str]:
    host, priv = _batch_page_meta(I)
    return [f"http://host{h}.example/private/{i}" if p
            else f"http://host{h}.example/p/{i}"
            for i, h, p in zip(I.tolist(), host.tolist(), priv.tolist())]


def page_htmls_batch(ids: Sequence[int], n: int, fat: int = 0) -> List[bytes]:
    """Batch twin of page_html — byte-identical output (pinned by
    tests/test_corpus_batch.py), one numpy pass for all _mix draws."""
    I = np.asarray(list(ids), dtype=np.uint64)
    if I.size == 0:
        return []
    P = 3 + fat
    host_i, priv_i = _batch_page_meta(I)
    # link targets (j is 1-based in the target formula, 0-based in the
    # href-variant style draw — mirrors page_link_targets/_href_variant)
    k = (_U64(2) + _mix_vec(I, np.uint64(5)) % _U64(5)).astype(np.int64)
    jmax = int(k.max())
    with np.errstate(over="ignore"):
        j1 = np.arange(1, jmax + 1, dtype=np.uint64)
        tgt = (I[:, None] * _U64(2654435761)
               + _U64(97) * j1[None, :] + _U64(13)) % _U64(n)
    host_t, priv_t = _batch_page_meta(tgt)
    style = (_mix_vec(I[:, None], tgt,
                      (j1 - _U64(1))[None, :], np.uint64(6))
             % _U64(6)).astype(np.int64)
    off = (_mix_vec(I, np.uint64(8)) % _U64(7)).astype(np.int64)
    # paragraph word indices: seed s = _mix(i, 9, p); word w = _mix(s, 7, w)
    p_idx = np.arange(P, dtype=np.uint64)
    seeds = _mix_vec(I[:, None], np.uint64(9), p_idx[None, :])
    w_idx = np.arange(12, dtype=np.uint64)
    widx = (_mix_vec(seeds[:, :, None], np.uint64(7),
                     w_idx[None, None, :])
            % _U64(len(_WORDS))).astype(np.int64)
    malformed = (_mix_vec(I, np.uint64(10)) % _U64(17) == 0)
    badenc = (_mix_vec(I, np.uint64(11)) % _U64(23) == 0)

    words = _WORDS
    para_sfx = [f" &amp; entity &eacute; {p}</p>" for p in range(P)]
    tgt_l = tgt.tolist()
    host_t_l = host_t.tolist()
    priv_t_l = priv_t.tolist()
    style_l = style.tolist()
    widx_l = widx.tolist()
    out: List[bytes] = []
    for b, i in enumerate(I.tolist()):
        hi = host_i[b]
        anchors = []
        ht_b, pt_b, st_b, tg_b = host_t_l[b], priv_t_l[b], style_l[b], tgt_l[b]
        for j0 in range(k[b]):
            t = tg_b[j0]
            ht = ht_b[j0]
            path = f"/private/{t}" if pt_b[j0] else f"/p/{t}"
            url = f"http://host{ht}.example{path}"
            s = st_b[j0]
            if s == 0:
                href = url
            elif s == 1:
                href = f"http://HOST{ht}.example{path}"
            elif s == 2:
                href = url + "#sec2"
            elif s == 3:
                href = url + _Q_TRACK
            elif s == 4:
                href = path if ht == hi else url
            else:
                href = url + _Q_SORTED
            anchors.append(f'<a href="{href}">link {j0}</a>')
        anchors.append(anchors[0])  # duplicate link
        anchors.append(
            f'<a href="http://offsite{off[b]}.invalid/x{i}">off</a>')
        anchors.append('<a href="javascript:void(0)">js</a>')
        anchors.append('<a name="no-href">anchorless</a>')
        wb = widx_l[b]
        paras = [
            "<p>" + " ".join([words[x] for x in wb[p]]) + para_sfx[p]
            for p in range(P)
        ]
        parts = [
            "<!DOCTYPE html><html><head>",
            f"<title>Page {i} — host{hi}</title>",
            "<style>body { color: #000; }</style>",
            '<script>var hidden = "not text";</script>',
            "</head><body>",
            f"<!-- comment {i} not text -->",
            f"<h1>Heading {i}</h1>",
            "<div>",
            *paras,
            "<ul>",
            *(f"<li>{a}</li>" for a in anchors),
            "</ul>",
            "</div>",
            "<noscript>no js fallback</noscript>",
            "</body></html>",
        ]
        doc = "".join(parts)
        if malformed[b]:
            doc = doc.replace("</body></html>", "<div><b>unclosed</i> stray")
        raw = doc.encode("utf-8")
        if badenc[b]:
            raw += b"<p>latin1 caf\xe9</p>"
        out.append(raw)
    return out


def page_rows_batch(ids: Sequence[int], n: int, fat: int = 0) -> List[Tuple]:
    """Batch twin of [page_row(i) for i in ids] — same rows, one numpy
    pass for the html and url draws (warc_ts/lang are one _mix each)."""
    I = np.asarray(list(ids), dtype=np.uint64)
    htmls = page_htmls_batch(I, n, fat)
    urls = _page_urls_batch(I)
    ts_off = (_mix_vec(I, np.uint64(4)) % _U64(365 * 86400)).astype(np.int64)
    lang_i = (_mix_vec(I, np.uint64(3)) % _U64(len(LANGS))).astype(np.int64)
    return [
        (u, _EPOCH + timedelta(seconds=int(s)), h, None, LANGS[li])
        for u, s, h, li in zip(urls, ts_off.tolist(), htmls, lang_i.tolist())
    ]


# --- corpus materialization -------------------------------------------------

def pages_dict(n: int, fat: int = 0) -> Dict[str, bytes]:
    """url→html map — the model crawler's 'web'."""
    ids = range(n)
    return dict(zip(_page_urls_batch(np.arange(n, dtype=np.uint64)),
                    page_htmls_batch(ids, n, fat)))


def pages_df(spark, n: int, fat: int = 0):
    """Distributed generation: pure function of the row id ⇒ mapInPandas."""
    from .schemas import PAGES

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = page_rows_batch(batch["id"].to_numpy(), n, fat)
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES.fields])

    parts = max(8, min(256, n // 2000 + 1))
    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, schema=PAGES)


def seed_urls(n: int, n_seeds: int = 10) -> List[str]:
    """First page per distinct host (scan order), up to n_seeds seeds —
    includes the heavy host (host0 owns page 0's host half the time; scan
    guarantees distinct hosts)."""
    seen_hosts = set()
    seeds: List[str] = []
    for i in range(min(n, 5000)):
        h = page_host(i)
        if h not in seen_hosts:
            seen_hosts.add(h)
            seeds.append(page_url(i))
            if len(seeds) >= n_seeds:
                break
    return seeds


def robots_rows(ts: datetime = _EPOCH) -> List[Tuple]:
    """host1 denies all; even hosts deny /private/; odd hosts allow all."""
    rows = []
    for h in range(N_HOSTS):
        host = f"host{h}.example"
        if h == 1:
            rules = "User-agent: *\nDisallow: /\n"
        elif h % 2 == 0:
            rules = "User-agent: *\nDisallow: /private/\n"
        else:
            rules = "User-agent: *\nDisallow:\n"
        rows.append((host, ts, rules))
    return rows


# --- pages rendered from the driver's documents table (entry() flagship) ---

def doc_url(doc_id: int) -> str:
    return f"http://docs{doc_id % 10}.example/d/{doc_id}"


def doc_n_links(doc_id: int) -> int:
    return 1 + doc_id % 3


def doc_link_targets(doc_id: int, n_docs: int) -> List[int]:
    return [(doc_id * 31 + 7 * (j + 1)) % n_docs for j in range(doc_n_links(doc_id))]


def product_fields(doc_id: int) -> Tuple[int, int, int, int]:
    """(price_cents, qty, day_offset, stock) — pure functions of doc_id,
    mirrored arithmetically by the husker_value_ops DuckDB oracle."""
    return ((doc_id * 7919) % 1000000, (doc_id * 13) % 5000,
            doc_id % 365, doc_id % 7)


def render_product_html(doc_id: int) -> bytes:
    """A typed 'product page' for the Husker value-op surface: price with
    thousands separators (.float), count (.int), ISO date (.date), JSON
    metadata block (.json), and the title under one of two layout
    variants (one_of multi-spec)."""
    cents, qty, day, stock = product_fields(doc_id)
    d = (datetime(2025, 1, 1) + timedelta(days=day)).date().isoformat()
    title = f"Product {doc_id}"
    title_html = (f'<h1 class="title">{title}</h1>' if doc_id % 2 == 0
                  else f'<div id="name">{title}</div>')
    return (
        f"<html><body>{title_html}"
        f'<span class="price">{cents / 100:,.2f}</span>'
        f'<span class="qty">{qty:,}</span>'
        f'<time datetime="{d}">{d}</time>'
        f'<script type="application/json" id="meta">'
        f'{{"sku": {doc_id}, "stock": {stock}}}</script>'
        "</body></html>"
    ).encode("utf-8")


def render_doc_json(doc_id: int) -> bytes:
    """A typed JSON document for the JSON-husker surface (same field
    arithmetic as render_product_html so oracles share product_fields)."""
    import json as _j
    cents, qty, day, stock = product_fields(doc_id)
    name_key = "display" if doc_id % 2 == 0 else "title"
    return _j.dumps({
        "sku": doc_id,
        "price": {"amount": f"{cents / 100:,.2f}"},
        "tags": [f"t{j}" for j in range(1 + doc_id % 3)],
        "variants": [{"qty": qty}, {"qty": stock}],
        "name": {name_key: f"Product {doc_id}"},
    }, separators=(",", ":")).encode("utf-8")


def render_doc_html(doc_id: int, text: str, n_docs: int) -> bytes:
    """Wrap a documents.text row in deterministic HTML (escape-round-trip:
    extraction recovers whitespace-collapsed text)."""
    anchors = "".join(
        f'<a href="{doc_url(t)}">d{t}</a> ' for t in doc_link_targets(doc_id, n_docs)
    )
    return (
        "<html><head><script>x=1</script></head><body>"
        f"<p>{_html.escape(text or '')}</p><div>{anchors}</div>"
        "</body></html>"
    ).encode("utf-8")
