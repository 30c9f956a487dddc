"""The two crawl workloads: corpus shape, engine settings, crawl unit.

A unit is the piece of work the benchmark repeats until its time is up:
one fresh-warehouse crawl to an empty frontier (``drain_decode``), or
one harvest cycle over a copy of the pre-seeded warehouse
(``recrawl_revisit``). Every unit ends with the output checks.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from check import check_tables, expected_stored, listed_urls, load_tables, read_table
from crawler_spark import schemas
from crawler_spark.functions.urls import with_url_identity_native
from crawler_spark.operators.frontier import CrawlEngine
from crawler_spark.operators.seen import bloom_build
from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
from crawler_spark.storage import SnapshotCatalog, spark_schema_to_arrow

# Both workloads set host budgets far above any host's page count and
# keep robots Crawl-delays off, and in-page links leave only
# sitemap-listed pages that answer 200 at once (``_links_from_ok_pages``),
# so the round count, which sets most of a crawl's cost, is the same at
# every seed: one round per drain_decode crawl, two per recrawl_revisit
# crawl (the listed pages; then 5xx retries and the pages their links
# lead to).


@dataclass(frozen=True)
class Spec:
    name: str
    why: str
    corpus: dict
    engine: dict = field(default_factory=dict)
    # a unit is one harvest cycle over a copy of the pre-seeded warehouse,
    # not a crawl of a fresh one
    harvest: bool = False


SPECS = {
    s.name: s
    for s in (
        Spec(
            "drain_decode",
            "one round over an empty seen set: fetch+decode of 128 px images, "
            "keyword match and the pages append do nearly all the work",
            dict(
                n_pages=1500, n_hosts=16, img_sizes=(128,), png_frac=0.25, fault_frac=0.0,
                rpms=(6000,), robots_delay_every=0, with_phash=False,
            ),
            dict(round_duration=1e5, store_payload=True, validate_payload=False),
        ),
        Spec(
            "recrawl_revisit",
            "a harvest cycle over a warehouse of 100k seen URLs where 9 in 10 listed URLs are "
            "revisits, with 5xx retries and link discovery: seen prefilter, anti-joins, routing "
            "and the resume path do the work",
            dict(
                n_pages=3000, n_hosts=16, img_sizes=(32,), fault_frac=1.0, deep_frac=0.1,
                rpms=(6000,), robots_delay_every=0, with_phash=False,
            ),
            dict(round_duration=1e5),
            harvest=True,
        ),
    )
}

# recrawl_revisit: the pre-seed lists this share of the corpus's URLs and
# the harvest cycle all of them, so 9 in 10 of the URLs the cycle lists
# are revisits
PRESEED_SHARE = 0.9
# recrawl_revisit: pages of earlier harvests whose ads have left the
# sitemaps, written keys-only into pages, seen and the bloom before the
# pre-seed crawl. Spread over the hosts as the corpus is, they put about
# 32k keys in the hottest bloom bucket: a false-positive rate of about
# 0.15 by the bloom formula
OLD_PAGES = 100_000


@dataclass
class Unit:
    """What one crawl unit did."""

    rounds: list[dict] = field(default_factory=list)  # run_round metrics + "wall_s"
    crawl_s: float = 0.0
    scheduled: int = 0
    checks: dict[str, str | None] = field(default_factory=dict)
    pages: int = 0  # pages the unit stored
    warehouse_bytes: int = 0  # bytes the unit added to the warehouse
    new_bridge_rows: int = 0
    tables: dict | None = None
    warehouse: str = ""


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _in_preseed(seed: int, urls: pd.Series) -> pd.Series:
    """Whether the pre-seed's sitemaps list each entry's url. Ranked by
    a hash of (seed, url), the first ``PRESEED_SHARE`` of the distinct
    urls are listed from the pre-seed on and the rest only in the
    harvest cycle, so every seed adds the same number of urls. Empty
    <loc> and decoy entries are listed from the start."""
    keys = sorted(
        {u.strip() for u in urls if isinstance(u, str) and u.strip() and "/company/" not in u},
        key=lambda u: (zlib.crc32(f"{seed}:{u}".encode()), u),
    )
    added = set(keys[int(len(keys) * PRESEED_SHARE):])
    return ~urls.map(lambda u: isinstance(u, str) and u.strip() in added)


def _links_from_ok_pages(corpus: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """Seed pages with in-page links kept only on sitemap-listed pages
    that answer 200 at once. A page first found behind a 5xx retry, or
    two links deep, would add a round to a crawl at some seeds and not
    at others."""
    out = corpus["seed_pages"].copy()
    listed = set(corpus["sitemap_entries"]["url"].dropna())
    out["outlinks"] = [
        links if status == 200 and url in listed else []
        for url, links, status in zip(out["url"], out["outlinks"], out["http_status"])
    ]
    return out


def _old_urls(seed_pages: pd.DataFrame, seed: int) -> pd.DataFrame:
    """``OLD_PAGES`` urls with their portal and host, split over the
    corpus's hosts in the corpus's proportions, on a path no sitemap
    lists."""
    per_host = seed_pages.groupby(["host", "portal"]).size()
    counts = (per_host / per_host.sum() * OLD_PAGES).astype(int)
    rows = [
        (f"https://{host}/expired/{seed}-{i}", portal, host)
        for (host, portal), n in counts.items()
        for i in range(n)
    ]
    return pd.DataFrame(rows, columns=["url", "portal", "host"])


class Workload:
    """Set-up state and crawl units of one workload at one seed."""

    def __init__(self, spec: Spec, spark, seed: int, work: str, hooks=None):
        self.spec, self.spark, self.seed, self.work = spec, spark, seed, work
        # hooks(engine, catalog) instruments a fresh engine; None = untraced
        self.hooks = hooks
        self.n_units = 0

    # ------------------------------------------------------------ set-up
    def prepare(self) -> None:
        """Generate the corpus and cache it in Spark; for recrawl_revisit
        also cache the pre-seed's sitemap listing."""
        self.pdf = gen_corpus(seed=self.seed, **self.spec.corpus)
        self.pdf["seed_pages"] = pages = _links_from_ok_pages(self.pdf)
        self.tables = self._cache(self.pdf)
        sm, robots = self.pdf["sitemap_entries"], self.pdf["robots_rules"]
        self.expected = expected_stored(pages, listed_urls(sm, robots))
        self.cached = list(self.tables.values())
        if not self.spec.harvest:
            return
        early = sm[_in_preseed(self.seed, sm["url"])]
        self.preseed_sitemaps = self.spark.createDataFrame(
            early, schema=self.tables["sitemap_entries"].schema
        ).cache()
        self.preseed_sitemaps.count()
        self.cached.append(self.preseed_sitemaps)
        self.old = _old_urls(pages, self.seed)
        old = set(self.old["url"])
        self.expected |= old
        self.expected_before = expected_stored(pages, listed_urls(early, robots)) | old

    def seed_crawl(self) -> None:
        """The crawl part of set-up: for recrawl_revisit the keys-only
        old pages and the pre-seed crawl into the template warehouse, for drain_decode a warm-up crawl of a
        1/16-size corpus of the same shape, so the first measured unit
        does not pay JIT and Python-worker start-up."""
        if self.spec.harvest:
            self.template = os.path.join(self.work, "template")
            self._write_old_pages(SnapshotCatalog(self.spark, self.template))
            eng = self._engine(self.template, self.preseed_sitemaps)
            eng.bootstrap()
            eng.run()
            self.template_bridge = len(read_table(self.template, "bridge", ["page_id"]))
            self.template_pages = len(read_table(self.template, "pages", ["id"]))
            self.template_bytes = dir_bytes(self.template)
            return
        small = gen_corpus(
            seed=self.seed, **{**self.spec.corpus, "n_pages": self.spec.corpus["n_pages"] // 16}
        )
        warm = self._cache(small)
        wh = os.path.join(self.work, "warmup")
        eng = self._engine(wh, warm["sitemap_entries"], warm)
        eng.bootstrap()
        eng.run(max_rounds=1)
        for df in warm.values():
            df.unpersist()
        shutil.rmtree(wh)

    def _write_old_pages(self, catalog: SnapshotCatalog) -> None:
        """Write ``self.old`` as stored pages with no payload and no
        caption, the matching seen rows and their bloom buckets, as the
        engine's own commits would have left them (ids 1..n per portal).
        Fingerprints come from the engine's native url identity."""
        ident = (
            with_url_identity_native(self.spark.createDataFrame(self.old[["url"]]))
            .select("url", "fp", "host_hash")
            .toPandas()
        )
        old = self.old.merge(ident, on="url")
        n = len(old)
        pages = pd.DataFrame(
            {
                "id": old.groupby("portal").cumcount().to_numpy() + 1,
                "portal": old["portal"], "url": old["url"], "fp": old["fp"],
                "http_status": np.int32(200), "image_id": "old_" + old["url"].str[8:],
                "bytes": None, "w": np.int32(32), "h": np.int32(32), "fmt": "raw",
                "caption": None, "phash": np.zeros(n, dtype=np.int64),
                "round": np.int32(0), "attempt": np.int32(0), "filename": None,
            }
        )
        seen = pd.DataFrame(
            {"fp": old["fp"], "url": old["url"], "host_hash": old["host_hash"],
             "first_round": np.int32(0)}
        )
        for name, df, schema in (("pages", pages, schemas.PAGES), ("seen", seen, schemas.SEEN)):
            arrow_schema = spark_schema_to_arrow(schema)
            catalog.append_arrow(
                name, pa.Table.from_pandas(df, schema=arrow_schema, preserve_index=False)
            )
        blooms = {
            int(hh): bloom_build(g["fp"].to_numpy(dtype=np.int64))
            for hh, g in seen.groupby("host_hash")
        }
        catalog.overwrite_arrow(
            "seen_bloom",
            pa.table(
                {
                    "host_hash": pa.array(list(blooms), type=pa.int32()),
                    "bitmap": pa.array(list(blooms.values()), type=pa.binary()),
                }
            ),
        )

    def release(self) -> None:
        """Drop the cached corpus tables of the last ``prepare``."""
        for df in self.cached:
            df.unpersist()

    def _cache(self, pdf: dict[str, pd.DataFrame]) -> dict:
        tables = {k: v.cache() for k, v in corpus_to_spark(self.spark, pdf).items()}
        for df in tables.values():
            df.count()
        return tables

    def _engine(self, warehouse: str, sitemap_entries, tables=None) -> CrawlEngine:
        t = tables or self.tables
        catalog = SnapshotCatalog(self.spark, warehouse)
        eng = CrawlEngine(
            self.spark, catalog,
            seed_pages=t["seed_pages"], sitemap_entries=sitemap_entries,
            robots_rules=t["robots_rules"], keywords=t["keywords"],
            **self.spec.engine,
        )
        self._time_rounds(eng)
        if self.hooks is not None:
            self.hooks(eng, catalog)
        return eng

    @staticmethod
    def _time_rounds(eng: CrawlEngine) -> None:
        inner = eng.run_round
        eng.round_log = []

        def timed():
            t0 = time.perf_counter()
            m = inner()
            eng.round_log.append({**m, "wall_s": time.perf_counter() - t0})
            return m

        eng.run_round = timed

    # ------------------------------------------------------------- units
    def run_unit(self) -> Unit:
        wh = os.path.join(self.work, f"unit{self.n_units}")
        self.n_units += 1
        unit = Unit()
        base = (0, 0, 0)
        if self.spec.harvest:
            shutil.copytree(self.template, wh)
            base = (self.template_bridge, self.template_pages, self.template_bytes)
        t0 = time.perf_counter()
        eng = self._engine(wh, self.tables["sitemap_entries"])
        eng.bootstrap()
        eng.run()
        unit.crawl_s = time.perf_counter() - t0
        unit.rounds = eng.round_log
        unit.scheduled = sum(m["scheduled"] for m in unit.rounds)
        tables = load_tables(wh)
        unit.checks = check_tables(tables, self.expected)
        if self.spec.harvest:
            # bootstrap() restarts the round counter at 0, so the cycle's
            # lineage rows collide with the pre-seed's and lineage()
            # drops them: count what the cycle stored from run()'s
            # metrics instead (NOTES.md, "Round reset")
            want = len(self.expected) - len(self.expected_before)
            got = sum(m["stored"] for m in unit.rounds)
            unit.checks["cycle_stored"] = (
                None if got == want else f"cycle stored {got}, want {want}"
            )
        unit.new_bridge_rows = len(tables["bridge"]) - base[0]
        unit.pages = len(tables["pages"]) - base[1]
        unit.warehouse_bytes = dir_bytes(wh) - base[2]
        unit.tables = tables
        unit.warehouse = wh
        return unit
