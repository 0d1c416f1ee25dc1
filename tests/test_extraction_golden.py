"""Golden byte-parity: engine extractors vs pinned oracle (SURVEY §5.2.1).

The contract from BASELINE.json's input_hint: byte-identical extracted
text per url. The engine side is vectorized pandas regex programs; the
oracle is scalar re.search — independent implementations cross-checked
here over every detail page of the 2k fixture, all 4 layout families,
all 20 sources.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from fixtures.gen_pages import ensure_fixture  # noqa: E402


@pytest.fixture(scope="module")
def fixture_dir():
    return ensure_fixture(2000)


def test_extraction_byte_parity(spark, fixture_dir):
    from pyspark.sql import functions as F

    from crawlers_spark.extraction import extract_offers

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    details = (
        pages.where(F.col("url").contains("/job/"))
        .withColumn("src_source", F.regexp_extract("url", r"https://(src\d+)\.", 1))
        .select("url", "src_source", "html")
    )
    got = {r["url"]: r.asDict() for r in extract_offers(details).collect()}
    expected = spark.read.parquet(str(fixture_dir / "expected_offers.parquet")).collect()
    assert len(got) == len(expected) > 1500

    bad = []
    for e in expected:
        g = got[e["url"]]
        for f in ("source", "title", "company", "location", "salary", "description", "extracted_text", "publication_ts"):
            if g[f] != e[f]:
                bad.append((e["url"], f, g[f], e[f]))
    assert not bad, bad[:5]


def test_all_families_and_sources_covered(spark, fixture_dir):
    exp = spark.read.parquet(str(fixture_dir / "expected_offers.parquet"))
    sources = {r["source"] for r in exp.select("source").distinct().collect()}
    assert sources == {f"src{i}" for i in range(20)}


def test_outlinks_match_oracle(spark, fixture_dir):
    """Engine outlink scan ≡ oracle's extract_outlinks on list pages."""
    from pyspark.sql import functions as F

    from crawlers_spark.extraction import extract_outlinks
    from tests.oracle.extract import extract_outlinks as oracle_links

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    lists = (
        pages.where(~F.col("url").contains("/job/"))
        .withColumn("src_source", F.lit("srcX"))
        .withColumn("depth", F.lit(0))
        .limit(50)
    )
    rows = lists.select("url", "html").collect()
    got = (
        extract_outlinks(lists.select("url", "src_source", "depth", "html"))
        .groupBy("url")
        .agg(F.collect_list("out_url").alias("links"))
        .collect()
    )
    got_map = {r["url"]: sorted(r["links"]) for r in got}
    for r in rows:
        html = bytes(r["html"]).decode()
        base = r["url"].split("/", 3)
        origin = f"{base[0]}//{base[2]}"
        expect = sorted(
            link if not link.startswith("/") else origin + link
            for link in oracle_links(html)
        )
        assert got_map.get(r["url"], []) == expect, r["url"]


def test_anchor_capture(spark):
    """Anchor text rides the same single regex pass as hrefs: attribute
    order, relative resolution, empty anchors, and whitespace trim."""
    from crawlers_spark.extraction import extract_outlinks

    html = (
        '<p><a href="https://a.example/x">First Link</a>'
        '<a class="c" href="/rel" id="i"> padded </a>'
        '<a href="https://a.example/empty"></a>'
        "no link here</p>"
    )
    df = spark.createDataFrame(
        [("https://host.example/page", "s", 0, html)],
        "url string, src_source string, depth int, html string",
    )
    got = {
        r["out_url"]: r["anchor"] for r in extract_outlinks(df).collect()
    }
    assert got == {
        "https://a.example/x": "First Link",
        "https://host.example/rel": "padded",
        "https://a.example/empty": "",
    }


def test_anchor_text_index_semantics(spark):
    """Dominant anchor per dst: majority wins, ties break ascending,
    empty/null anchors are excluded from the vote and the counts."""
    from crawlers_spark.operators.anchors import anchor_text_index

    rows = [
        ("d1", "jobs"), ("d1", "jobs"), ("d1", "careers"),
        ("d2", "b"), ("d2", "a"),           # tie → 'a'
        ("d3", ""), ("d3", None),           # only empties → no row
        ("d4", "solo"),
    ]
    df = spark.createDataFrame(rows, "dst_canon string, anchor string")
    got = {r["dst_canon"]: r.asDict() for r in anchor_text_index(df).collect()}
    assert set(got) == {"d1", "d2", "d4"}
    assert got["d1"]["top_anchor"] == "jobs"
    assert got["d1"]["top_anchor_refs"] == 2
    assert got["d1"]["n_refs"] == 3 and got["d1"]["n_anchors"] == 2
    assert got["d2"]["top_anchor"] == "a"
    assert got["d4"]["n_refs"] == 1


def test_fixture_anchors_fill_the_index(spark, fixture_dir):
    """Over the real 2k fixture: every list page's nav links carry the
    'page N' anchors and detail hubs the related-link text, so the
    index's dominant anchors are the fixture's literal anchor strings."""
    from pyspark.sql import functions as F

    from crawlers_spark.extraction import extract_outlinks
    from crawlers_spark.operators.anchors import anchor_text_index

    pages = (
        spark.read.parquet(str(fixture_dir / "pages.parquet"))
        .withColumn("src_source", F.lit("s"))
        .withColumn("depth", F.lit(0))
    )
    idx = anchor_text_index(
        extract_outlinks(pages.select("url", "src_source", "depth", "html")),
        dst_col="out_url",
    )
    top = {r["out_url"]: r["top_anchor"] for r in idx.collect()}
    assert any(v == "voir aussi" for v in top.values())
    assert any(v.startswith("page ") for v in top.values())
    # list pages are multiply-linked via numbered nav anchors
    nav = idx.where(F.col("top_anchor").startswith("page ")).where(
        F.col("n_refs") > 1
    )
    assert nav.count() > 0


# ------------------------------------------- kernel equivalence (property)
#
# The reference formulations below are the pandas ``.str`` kernels the
# per-page loops in extraction/extractors.py replaced; every new kernel
# must return the same values, NaN positions and index on adversarial
# strings the fixture pages never contain.

import hashlib  # noqa: E402

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _ref_extract_first(html: pd.Series, pattern: str) -> pd.Series:
    from crawlers_spark.extraction.extractors import _LIT_RE

    m = _LIT_RE.match(pattern)
    open_lit, close_lit = m.group(1), m.group(2)
    part = html.str.split(open_lit, n=1, regex=False).str[1]
    closed = part.str.split(close_lit, n=1, regex=False)
    return closed.str[0].where(closed.str.len() > 1)


def _ref_clean(s: pd.Series) -> pd.Series:
    from crawlers_spark.extraction.extractors import _ENTITIES

    s = s.fillna("")
    for ent, ch in _ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    return s.str.split().str.join(" ")


def _ref_content_digests(html: pd.Series) -> pd.Series:
    text = (
        html.str.replace(r"<[^>]+>", " ", regex=True)
        .str.replace(r"\s+", " ", regex=True)
        .str.strip()
    )
    return text.map(lambda t: hashlib.md5(t.encode()).hexdigest())


# whitespace that re's \s and str.isspace accept besides ' ' (the
# information separators \x1c-\x1f, NEL, NBSP, the Unicode spaces and
# line/paragraph separators), plus look-alikes that are NOT whitespace
# (zero-width space, word joiner)
_WS = [
    " ", "\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x1f",
    "\x85", "\xa0", "\u1680", "\u2000", "\u200a", "\u2028", "\u2029",
    "\u202f", "\u205f", "\u3000", "\u200b", "\u2060",
]
_MARKUP = [
    "<", ">", "<a", "<a ", "</a>", "<h2>", "</h2>", "<b>", "</b>",
    '<div class="title">', "</div>", "<!-- x -->", "<<", ">>",
    "&", ";", "&amp;", "&amp;lt;", "&amp;amp;gt;", "&lt;", "&gt;",
    "&quot;", "&#39;", "&eacute;", "&agrave;", "&euro;", "&eacute",
    "é", "€", "—", "x", "y",
]
_fragments = st.sampled_from(_WS + _MARKUP) | st.text(max_size=3)
_strings = st.lists(_fragments, max_size=25).map("".join)
_maybe_null = st.one_of(_strings, st.none(), st.just(np.nan))
# literal selector programs, including repeated/identical delimiters and
# delimiters that overlap each other
_LITERAL_PATTERNS = [
    r'(?s)<div class="title">(.*?)</div>',
    r"(?s)<h2>(.*?)</h2>",
    r"(?s)<b>(.*?)<b>",
    r"(?s)<a(.*?)a>",
    r"(?s)<(.*?)>",
    r"(?s)&amp;(.*?);",
]


def _assert_same(got: pd.Series, ref: pd.Series) -> None:
    """Same index, same null positions (None and NaN alike: every
    consumer ``fillna``s them), same values elsewhere."""
    assert got.index.equals(ref.index)
    assert got.isna().tolist() == ref.isna().tolist()
    assert got[got.notna()].tolist() == ref[ref.notna()].tolist()


def _series(values: list, offset: int) -> pd.Series:
    # a non-default index: kernels must keep the batch's own index
    return pd.Series(values, index=range(offset, offset + len(values)), dtype=object)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(_maybe_null, max_size=8),
    st.sampled_from(_LITERAL_PATTERNS),
    st.integers(0, 5),
)
def test_extract_first_equals_split_reference(values, pattern, offset):
    from crawlers_spark.extraction.extractors import _LIT_RE, _extract_first

    assert _LIT_RE.match(pattern)
    html = _series(values, offset)
    got = _extract_first(html, pattern)
    # the selector's own regex semantics
    _assert_same(got, html.str.extract(pattern, expand=False))
    try:
        ref = _ref_extract_first(html, pattern)
    except AttributeError:
        # the split formulation raised on a batch where no page holds
        # the opening delimiter (its all-NaN tail has no .str accessor);
        # the new kernel answers NaN for every page there
        assert got.isna().all()
    else:
        _assert_same(got, ref)


@settings(max_examples=300, deadline=None)
@given(st.lists(_maybe_null, max_size=8), st.integers(0, 5))
def test_clean_equals_pandas_reference(values, offset):
    from crawlers_spark.extraction.extractors import _clean

    s = _series(values, offset)
    got = _clean(s)
    ref = _ref_clean(s)
    _assert_same(got, ref)
    # split()/join is the regex whitespace collapse: \s ≡ str.isspace
    _assert_same(ref, ref.str.replace(r"\s+", " ", regex=True).str.strip())


@settings(max_examples=300, deadline=None)
@given(st.lists(_strings, max_size=8), st.integers(0, 5))
def test_content_digests_equal_pandas_reference(values, offset):
    from crawlers_spark.extraction.extractors import _content_digests

    html = _series(values, offset)
    _assert_same(_content_digests(html), _ref_content_digests(html))


def test_kernels_on_named_edge_cases():
    """The cases the property strategies are built to reach, pinned."""
    from crawlers_spark.extraction.extractors import (
        _clean,
        _content_digests,
        _extract_first,
    )

    pat = r"(?s)<h2>(.*?)</h2>"
    html = _series(
        ["<h2>a</h2><h2>b</h2>", "<h2>open only", "close only</h2>", "", None,
         np.nan, "</h2><h2>x\xa0</h2>", "<h2></h2>"],
        3,
    )
    got = _extract_first(html, pat)
    assert got.index.tolist() == list(range(3, 11))
    assert got[3] == "a" and got[9] == "x\xa0" and got[10] == ""
    assert got.isna().tolist() == [False, True, True, True, True, True, False, False]
    # a batch in which no page holds the opening delimiter (the split
    # formulation raised AttributeError on it, failing the whole task)
    assert _extract_first(_series(["<h1>t</h1>", "x", ""], 0), pat).isna().all()

    cleaned = _clean(_series(["&amp;lt;b&amp;gt;", " \x1c a b\xa0 ", None, np.nan, "", "R&D"], 0))
    assert cleaned.tolist() == ["<b>", "a b", "", "", "", "R&D"]

    pages = _series(["<a href='x'>T\x1fi<b>t</b>le</a", "stray > here", ""], 7)
    digests = _content_digests(pages)
    assert digests.index.tolist() == [7, 8, 9]
    assert digests.tolist() == [
        hashlib.md5(t.encode()).hexdigest() for t in ("T i t le</a", "stray > here", "")
    ]
