"""Reference answers, computed outside the timed window.

* Crawl workloads: ``sparkcrawl.model_crawler.crawl`` — the single-threaded
  model that mirrors the engine's semantics — on the same corpus, seed URLs,
  robots rules and budget.  Each engine round must match the model's round
  on ``urls_selected``, ``urls_fetched`` and ``links_new``.
* ``web_analytics``: each leaf's DuckDB oracle (``registry.ORACLES``) over
  the same parquet files.  A leaf result matches when its row count and an
  order-insensitive checksum agree, doubles rounded to ``DOUBLE_DECIMALS``.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

DOUBLE_DECIMALS = 6
ROUND_KEYS = ("urls_selected", "urls_fetched", "links_new")


# ----------------------------------------------------------------- crawl
def model_rounds(n_pages: int, fat: int, seed_urls: List[str], budget: int,
                 max_rounds: int) -> List[dict]:
    """Per-round counters of the model crawl."""
    from sparkcrawl import corpus, model_crawler
    st = model_crawler.crawl(
        corpus.pages_dict(n_pages, fat=fat), seed_urls,
        {host: rules for host, _, rules in corpus.robots_rows()},
        budget, max_rounds)
    return [{k: r[k] for k in ROUND_KEYS} for r in st.rounds]


def round_ok(engine_rounds: List[dict], model: List[dict]) -> List[bool]:
    """Per engine round: do its counters equal the model's round of the
    same number (a round the model never ran does not)?"""
    return [i < len(model) and all(int(s[k]) == model[i][k]
                                   for k in ROUND_KEYS)
            for i, s in enumerate(engine_rounds)]


# ------------------------------------------------------------- analytics
def _cell(v):
    """One cell as text.  As in the repository's oracle tests, a float keeps
    a trailing ".0" when integral, so an integer column that turns into a
    double does not match; unlike them, doubles are rounded to
    DOUBLE_DECIMALS."""
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, (bool, np.bool_, int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        if math.isinf(f):
            return repr(f)
        r = round(f, DOUBLE_DECIMALS)
        return f"{int(r)}.0" if r == int(r) else repr(r)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date,
                      np.datetime64)):
        ts = pd.Timestamp(v)
        return None if pd.isna(ts) else ts.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def checksum(pdf: pd.DataFrame) -> Tuple[int, str]:
    """(row count, order-insensitive digest) of a result frame.  The digest
    covers the column names; columns are taken in name order."""
    cols = sorted(pdf.columns)
    pdf = pdf.reindex(cols, axis=1)
    rows = sorted(repr(tuple(_cell(v) for v in row))
                  for row in pdf.itertuples(index=False, name=None))
    h = hashlib.sha1(repr([str(c) for c in cols]).encode("utf-8"))
    for r in rows:
        h.update(b"\n")
        h.update(r.encode("utf-8"))
    return len(rows), h.hexdigest()


def oracle_checksums(sf_dir: str, leaves: List[str]) -> Dict[str, tuple]:
    import duckdb
    from sparkcrawl.registry import ORACLES, TABLES
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{name}.parquet')")
    try:
        return {leaf: checksum(con.execute(ORACLES[leaf]).df())
                for leaf in leaves}
    finally:
        con.close()
