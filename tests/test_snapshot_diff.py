"""Crawl snapshot diff (operators/recrawl.py snapshot_diff): the four
statuses, duplicate-row collapse via max digest, and the engine
mirror_hosts analysis surface over real crawl state."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crawlers_spark.operators.recrawl import snapshot_diff


def test_statuses(spark):
    old = spark.createDataFrame(
        [("u1", "A"), ("u2", "B"), ("u3", "C")], "url_canon string, digest string"
    )
    new = spark.createDataFrame(
        [("u1", "A"), ("u2", "B2"), ("u4", "D")], "url_canon string, digest string"
    )
    got = {r["url_canon"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {"u1": "unchanged", "u2": "changed", "u3": "removed", "u4": "added"}


def test_duplicate_rows_collapse(spark):
    # raw page tables carry refetch rows — max digest wins on BOTH
    # sides, deterministically
    old = spark.createDataFrame(
        [("u1", "A"), ("u1", "B")], "url_canon string, digest string"
    )
    new = spark.createDataFrame(
        [("u1", "B"), ("u1", "A"), ("u1", "B")], "url_canon string, digest string"
    )
    got = snapshot_diff(old, new).collect()
    assert [(r["url_canon"], r["status"]) for r in got] == [("u1", "unchanged")]


def test_engine_mirror_hosts_surface(spark):
    """mirror_hosts over real crawl state: every fixture host serves
    distinct generated pages, so no pair may cross the mirror
    threshold — and pairs only exist where boilerplate digests repeat
    under the cap."""
    from fixtures.gen_pages import ensure_fixture
    from tests.test_crawl_e2e import make_engine

    fx = ensure_fixture(300)
    eng = make_engine(spark, fx, "mirror_surface")
    eng.run(max_waves=3)
    rows = eng.mirror_hosts(threshold_pct=50).collect()
    assert all(not r["is_mirror"] for r in rows)
    for r in rows:
        assert r["host_a"] < r["host_b"]
        assert 0 < r["shared"] <= min(r["size_a"], r["size_b"])


def test_engine_diff_since_and_dust_rules(spark):
    """diff_since: pages first fetched after the pivot wave are
    'added', everything earlier is 'unchanged' (no refetch lanes in
    this run); dust_rules runs over real state and learns nothing on
    a fixture whose URLs carry no content-irrelevant params."""
    from fixtures.gen_pages import ensure_fixture
    from tests.test_crawl_e2e import make_engine

    fx = ensure_fixture(300)
    eng = make_engine(spark, fx, "diff_since")
    eng.run(max_waves=4)
    pages = {
        r["url_canon"]: r["wave"]
        for r in eng._read_wave_out("page").select("url_canon", "wave").collect()
    }
    pivot = 2
    got = {r["url_canon"]: r["status"] for r in eng.diff_since(pivot).collect()}
    assert set(got) == set(pages)
    for u, w in pages.items():
        assert got[u] == ("unchanged" if w <= pivot else "added"), (u, w)

    rules = eng.dust_rules().collect()
    assert all(not r["irrelevant"] for r in rules)
