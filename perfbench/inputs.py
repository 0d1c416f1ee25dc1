"""Seeded inputs for the benchmark, made with the repo's own web generator.

``fixtures/gen_pages.py`` derives every content choice from ``h(key)``,
an md5 of a stable string key. Salting that one function with the seed
(``h(key) -> h(f"{seed}|{key}")``) keeps the page count and the shape
of the web (20 hosts, list-page chains, per-host quotas, robots rules,
politeness table) fixed, while the content, the ``/private/`` sets, the
messy link forms and the WARC timestamps change with the seed.
``expected_offers.parquet`` is regenerated by the same call, so the
oracle always matches the pages. The generator module is patched only
for the duration of the call and restored afterwards; nothing under
``fixtures/`` is edited.

The program under test receives only the written files.
"""

from __future__ import annotations

import functools
import json
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone
from pathlib import Path
from urllib.robotparser import RobotFileParser

import pyarrow.parquet as pq


@contextmanager
def _salted_generator(seed: int):
    from fixtures import gen_pages

    orig_h, orig_fields = gen_pages.h, gen_pages.detail_fields

    def salted_h(key: str) -> int:
        return orig_h(f"{seed}|{key}")

    gen_pages.h = salted_h
    # list pages call detail_fields for every job title the detail page
    # then rebuilds; memoizing per call only halves generation time
    gen_pages.detail_fields = functools.lru_cache(maxsize=None)(orig_fields)
    try:
        yield gen_pages
    finally:
        gen_pages.h, gen_pages.detail_fields = orig_h, orig_fields


def make_web(seed: int, out_dir: Path, n_pages: int, desc_extra: int = 0) -> dict:
    """Write pages/seeds/robots/politeness/expected_offers for ``seed``.

    Returns the generator's own summary (page and offer counts)."""
    with _salted_generator(seed) as gen:
        return gen.generate(n_pages, out_dir, desc_extra=desc_extra)


class Oracle:
    """Expected outputs of one generated web, read from its files."""

    def __init__(self, web: Path):
        self.web = web
        exp = pq.read_table(web / "expected_offers.parquet").to_pylist()
        # url -> (extracted_text, publication_ts as epoch micros)
        self.offers = {
            r["url"]: (r["extracted_text"], _micros(r["publication_ts"])) for r in exp
        }
        self.seeds = json.loads((web / "seeds.json").read_text())
        self.max_per_wave = {
            r["host"]: r["max_per_wave"]
            for r in pq.read_table(web / "politeness.parquet").to_pylist()
        }
        self._robots = {}
        for r in pq.read_table(web / "robots.parquet").to_pylist():
            rp = RobotFileParser()
            rp.parse(r["rules"].splitlines())
            self._robots[r["host"]] = rp

    def robots_allowed(self, url: str) -> bool:
        host = url.split("/")[2].lower()
        rp = self._robots.get(host)
        return rp is None or rp.can_fetch("*", url)

    def bulk_counts(self) -> dict[str, int]:
        """Per-kind output counts of one fetch+extract pass over every
        page: one 'page' row per page, one 'offer' per detail page, one
        'link' per anchor href (the oracle's own link scan)."""
        from tests.oracle.extract import extract_outlinks

        html = pq.read_table(self.web / "pages.parquet", columns=["html"]).column(0)
        n_links = sum(len(extract_outlinks(b.as_py().decode())) for b in html)
        return {"page": len(html), "offer": len(self.offers), "link": n_links}


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _micros(ts: datetime | None) -> int | None:
    return None if ts is None else (ts - _EPOCH) // timedelta(microseconds=1)
