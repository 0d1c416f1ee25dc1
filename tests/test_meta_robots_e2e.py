"""In-page REP directives (CrawlConfig.meta_robots): robots-meta
noindex/nofollow + per-link rel="nofollow", checked against an
independent BFS restatement of the reachability/indexability rules.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from fixtures.gen_pages import ensure_fixture, h  # noqa: E402

from crawlers_spark.functions.canonicalize import canonicalize_one  # noqa: E402
from tests.test_crawl_e2e import make_engine  # noqa: E402

_A_RE = re.compile(r"<a\b([^>]*)>")
_HREF_RE = re.compile(r'\bhref="([^"]+)"')
_META_RE = re.compile(r'<meta name="robots" content="([^"]*)"')


@pytest.fixture(scope="module")
def fxm():
    return ensure_fixture(300, meta_robots=True)


def _load_pages(fxm):
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT url, html FROM read_parquet('{fxm}/pages.parquet')"
    ).fetchall()
    return {u: bytes(b).decode() for u, b in rows}


def _bfs_reachable(pages: dict[str, str]) -> set[str]:
    """Independent restatement: start at each host's /jobs seed, follow
    links except rel=nofollow anchors and all links of meta-nofollow
    pages; robots.txt blocks /private/ on even hosts; offsite dropped."""

    def blocked(url: str) -> bool:
        n = int(url.split("src")[1].split(".")[0])
        return "/private/" in url and n % 2 == 0

    hosts = {u.split("/")[2] for u in pages}
    frontier = [f"https://{h_}/jobs" for h_ in sorted(hosts)]
    seen: set[str] = set()
    while frontier:
        url = frontier.pop()
        if url in seen or url not in pages or blocked(url):
            continue
        seen.add(url)
        html = pages[url]
        m = _META_RE.search(html)
        if m and "nofollow" in m.group(1):
            continue
        host = url.split("/")[2]
        for attrs in _A_RE.findall(html):
            if 'rel="nofollow"' in attrs:
                continue
            href = _HREF_RE.search(attrs)
            if not href:
                continue
            out = href.group(1)
            if out.startswith("/"):
                out = f"https://{host}{out}"
            canon = canonicalize_one(out)
            if canon.split("/")[2] != host:  # offsite
                continue
            if canon not in seen:
                frontier.append(canon)
    return seen


def _noindex_urls(pages: dict[str, str]) -> set[str]:
    return {
        u
        for u, html in pages.items()
        if (m := _META_RE.search(html)) and "noindex" in m.group(1)
    }


def test_meta_robots_e2e(spark, fxm):
    pages = _load_pages(fxm)
    reachable = _bfs_reachable(pages)
    noindex = _noindex_urls(pages)
    expected_offers = {
        u for u in reachable if "/job/" in u and u not in noindex
    }
    # the fixture actually exercises all three directives
    assert noindex & reachable
    unreachable_details = {
        u for u in pages if "/job/" in u and "/private/" not in u
    } - reachable
    assert unreachable_details  # nofollow cut real edges

    eng = make_engine(spark, fxm, "meta_robots_e2e", meta_robots=True)
    stats = eng.run(max_waves=40)
    assert stats[-1]["quiesced"]
    got = {r["url"] for r in eng.offers().select("url").collect()}
    assert got == expected_offers
    # noindex pages were CRAWLED (seen in the wave log), just not indexed
    fetched = {r["url_canon"] for r in eng.wave_log().select("url_canon").collect()}
    assert (noindex & reachable) <= fetched


def test_meta_robots_off_control(spark, fxm):
    """Same fixture, directive obedience off: noindex pages ARE
    extracted and nofollow edges ARE followed — the gate is
    load-bearing."""
    pages = _load_pages(fxm)
    noindex = _noindex_urls(pages)
    eng = make_engine(spark, fxm, "meta_robots_off", meta_robots=False)
    stats = eng.run(max_waves=40)
    assert stats[-1]["quiesced"]
    got = {r["url"] for r in eng.offers().select("url").collect()}
    assert noindex & got  # noindex ignored → extracted
    assert got > (_bfs_reachable(pages) & got)  # nofollow edges followed → strictly more


def test_meta_robots_tag_variants():
    """The robots-meta matcher accepts what real REP parsers accept:
    single quotes, reversed attribute order, extra attributes, odd
    casing/whitespace — and does not misfire on other meta tags
    (r3 ADVICE)."""
    import pandas as pd

    from crawlers_spark.extraction.extractors import _meta_robots_flags

    html = pd.Series(
        [
            '<meta name="robots" content="noindex, nofollow">',   # strict form
            "<meta name='robots' content='noindex'>",             # single quotes
            '<meta content="nofollow" name="robots">',            # reversed order
            '<meta charset="utf-8" name="robots" id="x" content="noindex" lang="fr">',
            '<META NAME = "Robots"  CONTENT = "NOINDEX">',        # casing + spaces
            "<meta name=robots content='noindex'>",               # unquoted name
            '<meta name="description" content="noindex talk">',   # different meta
            '<meta name="robots" content="all">',                 # robots, no directive
            "<p>no meta at all</p>",
        ]
    )
    noindex, nofollow = _meta_robots_flags(html)
    assert list(noindex) == [True, True, False, True, True, True, False, False, False]
    assert list(nofollow) == [True, False, True, False, False, False, False, False, False]


def test_rel_nofollow_variants():
    """rel=nofollow is honored in either quote style and among other
    rel tokens."""
    import pandas as pd

    from crawlers_spark.extraction.extractors import _outlink_batches

    pdf = pd.DataFrame(
        {
            "url": ["https://h1/x"] * 1,
            "src_source": ["src0"],
            "depth": [0],
            "html": [
                '<a href="/a" rel="nofollow">a</a>'
                '<a href="/b" rel=\'ugc nofollow\'>b</a>'
                '<a href="/c" rel="me">c</a>'
                '<a href="/d">d</a>'
            ],
        }
    )
    out = pd.concat(list(_outlink_batches(iter([pdf]), drop_nofollow=True)))
    assert sorted(out["out_url"]) == ["https://h1/c", "https://h1/d"]


def test_rel_nofollow_pattern_without_groups():
    """The group-free rel=nofollow pattern matches exactly what the
    earlier back-reference form did (one quote group closed by ``\\1``),
    and filtering a batch with it raises no pandas warning."""
    import warnings

    import pandas as pd

    from crawlers_spark.extraction.extractors import _REL_NOFOLLOW_RE, _outlink_batches

    backref = re.compile(r'\brel\s*=\s*(["\'])[^"\']*\bnofollow\b[^"\']*\1', re.I)
    variants = {
        'rel="nofollow"': True,
        "rel='nofollow'": True,
        'REL = "NoFollow"': True,
        'rel="ugc nofollow"': True,
        "rel='nofollow noopener'": True,
        'rel="me nofollow ugc"': True,
        "rel=\"nofollow'": False,
        "rel='nofollow\"": False,
        'rel="nofollowx"': False,
        'rel="xnofollow"': False,
        "rel=nofollow": False,
        'rel="me"': False,
        'rel=""': False,
        "rel='me' title=\"nofollow\"": False,
    }
    for attrs, want in variants.items():
        got = bool(_REL_NOFOLLOW_RE.search(f' href="/x" {attrs}'))
        assert got == bool(backref.search(f' href="/x" {attrs}')) == want, attrs

    pdf = pd.DataFrame(
        {
            "url": ["https://h1/x"],
            "src_source": ["src0"],
            "depth": [0],
            "html": ["".join(f'<a href="/{i}" {a}>{i}</a>' for i, a in enumerate(variants))],
        }
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = pd.concat(list(_outlink_batches(iter([pdf]), drop_nofollow=True)))
    kept = [f"https://h1/{i}" for i, want in enumerate(variants.values()) if not want]
    assert sorted(out["out_url"]) == sorted(kept)
