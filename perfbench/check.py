"""Output checks for the crawl benchmark.

The checks read the warehouse with pyarrow, never through the engine,
and compare it with what the generated corpus says a clean crawl must
store. ``check_tables`` is pure pandas so a test can plant defects.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

from crawler_spark.functions.keywords import compile_keywords, match_text, select_text
from crawler_spark.operators.frontier import CrawlEngine, STYLE_SITEMAP_FILTER
from crawler_spark.sources.synth import KEYWORD_ROWS


_COLUMNS = {
    "pages": ["id", "portal", "url", "caption", "phash"],
    "seen": ["url"],
    "bridge": ["keyword_id", "page_id", "portal"],
    "frontier": ["url"],
}


def read_table(warehouse: str, name: str, columns: list[str] | None = None) -> pd.DataFrame:
    """Current snapshot of one catalog table, read from its manifest."""
    tdir = os.path.join(warehouse, name)
    mpath = os.path.join(tdir, "_manifest.json")
    if not os.path.exists(mpath):
        return pd.DataFrame(columns=columns or [])
    with open(mpath) as f:
        manifest = json.load(f)
    parts = [pq.read_table(os.path.join(tdir, p), columns=columns) for p in manifest["paths"]]
    return pd.concat([p.to_pandas() for p in parts], ignore_index=True)


def load_tables(warehouse: str) -> dict[str, pd.DataFrame]:
    return {name: read_table(warehouse, name, cols) for name, cols in _COLUMNS.items()}


def listed_urls(sitemap_entries: pd.DataFrame, robots_rules: pd.DataFrame) -> set[str]:
    """URLs a bootstrap over these sitemap entries must schedule."""
    disallow = dict(zip(robots_rules["portal"], robots_rules["disallow"]))
    out = set()
    for portal, sm_url, url in zip(
        sitemap_entries["portal"], sitemap_entries["sitemap_url"], sitemap_entries["url"]
    ):
        if url is None or not url.strip():
            continue
        style = re.match(r"^([a-z]+)_", portal).group(1)
        if not re.search(STYLE_SITEMAP_FILTER[style], sm_url):
            continue
        path = "/" + url.strip().split("/", 3)[3]
        if any(path.startswith(d) for d in disallow[portal]):
            continue
        out.add(url.strip())
    return out


def expected_stored(seed_pages: pd.DataFrame, listed: set[str]) -> set[str]:
    """URLs a crawl of ``listed`` must store: status 200, or a 5xx that
    succeeds on its one retry, plus pages linked from stored pages below
    the engine's default ``max_depth``."""
    ok = dict(
        zip(
            seed_pages["url"],
            (seed_pages["http_status"] == 200) | seed_pages["transient"],
        )
    )
    links = dict(zip(seed_pages["url"], seed_pages["outlinks"]))
    stored: set[str] = set()
    level = {u for u in listed if ok.get(u, False)}
    depth = 0
    while level:
        stored |= level
        nxt = set()
        if depth < CrawlEngine.max_depth:
            for u in level:
                nxt.update(v for v in links.get(u, []) if ok.get(v, False))
        level = nxt - stored
        depth += 1
    return stored


def check_tables(tables: dict[str, pd.DataFrame], expected: set[str]) -> dict[str, str | None]:
    """Run every output check; maps check name -> failure text or None."""
    pages, seen = tables["pages"], tables["seen"]
    bridge, frontier = tables["bridge"], tables["frontier"]
    out: dict[str, str | None] = {}

    dup_pages = [u for u, n in Counter(pages["url"]).items() if n > 1]
    dup_seen = [u for u, n in Counter(seen["url"]).items() if n > 1]
    if dup_pages or dup_seen:
        out["pages_eq_seen"] = f"duplicate urls: pages {dup_pages[:3]} seen {dup_seen[:3]}"
    elif set(pages["url"]) != set(seen["url"]):
        diff = set(pages["url"]) ^ set(seen["url"])
        out["pages_eq_seen"] = f"{len(diff)} urls differ between pages and seen"
    else:
        out["pages_eq_seen"] = None

    bad = []
    for portal, ids in pages.groupby("portal")["id"]:
        got = sorted(int(i) for i in ids)
        if got != list(range(1, len(got) + 1)):
            bad.append(portal)
    out["dense_ids"] = f"ids not 1..n for portals {bad[:3]}" if bad else None

    compiled = compile_keywords([(k, s, cs) for k, _, s, cs in KEYWORD_ROWS])
    want = Counter(
        (kid, int(pid), portal)
        for pid, portal, cap in zip(pages["id"], pages["portal"], pages["caption"])
        for kid in match_text(select_text(cap, None, None, False), compiled)
    )
    got = Counter(
        (int(k), int(p), portal)
        for k, p, portal in zip(bridge["keyword_id"], bridge["page_id"], bridge["portal"])
    )
    out["bridge_matches"] = (
        None
        if got == want
        else f"bridge has {sum((got - want).values())} extra, "
        f"{sum((want - got).values())} missing rows"
    )

    out["drained"] = None if len(frontier) == 0 else f"{len(frontier)} rows still pending"

    stored = set(pages["url"])
    out["stored_set"] = (
        None
        if stored == expected
        else f"{len(stored - expected)} unexpected, {len(expected - stored)} missing pages"
    )
    return out
