"""Links are canonicalized once, by the extraction pass that writes
them: every committed ``kind='link'``/``'redirect'`` row carries both
canonical ends (``url_canon`` of its source page, ``out_canon`` of its
target), and neither the wave nor any link-graph reader runs the
canonicalize UDF again.

The crawl runs on the redirect fixture (``web500r``) with
``follow_redirects=True``, so redirect rows feed the frontier too. After
``bootstrap()`` (which canonicalizes the seed list, external input)
``canonicalize_udf`` is replaced by a function that raises: any later
plan that builds a UDF call fails.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from fixtures.gen_pages import ensure_fixture  # noqa: E402

from tests.test_crawl_e2e import make_engine  # noqa: E402


def _no_udf(*_a, **_kw):
    raise AssertionError("canonicalize_udf called after bootstrap")


@pytest.fixture
def no_udf(monkeypatch):
    import crawlers_spark.functions.canonicalize as canon

    monkeypatch.setattr(canon, "canonicalize_udf", _no_udf)


@pytest.fixture(scope="module")
def crawled_lc(spark):
    import crawlers_spark.functions.canonicalize as canon

    eng = make_engine(spark, ensure_fixture(500, redirects=True), "link_canon", follow_redirects=True)
    eng.bootstrap()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(canon, "canonicalize_udf", _no_udf)
        stats = eng.run(max_waves=40)
    return eng, stats


def test_no_udf_after_bootstrap(spark, crawled_lc, no_udf):
    """The crawl and every link-graph reader complete while the UDF
    raises."""
    eng, stats = crawled_lc
    assert stats[-1]["quiesced"]
    assert sum(s.get("redirects", 0) for s in stats) > 0

    assert eng.apply_linkrank()["wave"] is not None
    trusted = eng.wave_log().select("url_canon").orderBy("url_canon").limit(3)
    assert eng.apply_trustrank(trusted)["wave"] is not None
    assert eng.apply_focused("length(extracted_text) % 2 = 0", n_buckets=512)["wave"] is not None
    assert eng.apply_opic()["steps"] > 0

    assert eng.anchor_index().count() > 0
    edges, nodes = eng.host_graph()
    assert edges.count() > 0 and nodes.count() > 0
    eng.related_pages(k=3).collect()


def test_stored_link_ends(crawled_lc):
    """On every committed link and redirect row, ``out_canon`` is the
    canonical form of ``out_url`` and ``url_canon`` is the source page
    row's ``url_canon``."""
    from crawlers_spark.functions.canonicalize import canonicalize_series

    eng, _ = crawled_lc
    rows = (
        eng._read_wave_out("link", "redirect")
        .select("url", "url_canon", "out_url", "out_canon")
        .toPandas()
    )
    assert len(rows) > 0
    assert rows["out_canon"].tolist() == canonicalize_series(rows["out_url"]).tolist()

    pages = eng._read_wave_out("page").select("url", "url_canon").toPandas()
    assert not pages["url"].duplicated().any()
    page_canon = dict(zip(pages["url"], pages["url_canon"]))
    assert set(rows["url"]) <= set(page_canon)
    assert rows["url_canon"].tolist() == rows["url"].map(page_canon).tolist()
