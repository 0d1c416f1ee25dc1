"""Per-source job-offer extraction as vectorized pandas UDFs (O9/O10).

The reference (`pyjobs/crawlers`, public behavior — reference mount
empty, see SURVEY.md §0) runs one Scrapy spider per job-board site,
each a declarative map of XPath/CSS selectors (`_crawl_parameters
['from_page__*']`) plus shared helpers: `_extract_first`, whitespace
cleanup, and a French-month date parser. Here each site's selector
program becomes a **vectorized regex program over a pandas Series of
html strings** — one layout family per group of sources — executed via
``mapInPandas`` so every Arrow batch is processed column-at-a-time.
pandas' object-dtype ``.str`` methods loop over the values in Python
anyway, so the hottest kernels (literal selectors, cleanup, content
digests) are plain comprehensions of ``str.find`` / ``str.replace`` /
compiled-regex calls — the same loop without the per-method overhead.

Parity contract (BASELINE.json input_hint): ``extracted_text`` must be
byte-identical per url to the pinned oracle extractor
(tests/oracle/extract.py). The oracle is scalar/item-at-a-time like
the reference; this module is independent and vectorized — the golden
test cross-checks the two.

Scale: extraction is embarrassingly parallel per page — it runs after
the fetch join, partitioned by (host, salt), and touches only the
``html`` column of matched pages (Parquet column pruning keeps
unmatched pages' html unread).
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlers_spark.functions.canonicalize import canonicalize_series

# mirror of the oracle's entity set — fixture contract (FIXTURES.md B1)
_ENTITIES = [
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&eacute;", "é"), ("&agrave;", "à"),
    ("&euro;", "€"),
]

_FR_MONTH = {
    "janvier": "01", "février": "02", "fevrier": "02", "mars": "03",
    "avril": "04", "mai": "05", "juin": "06", "juillet": "07",
    "août": "08", "aout": "08", "septembre": "09", "octobre": "10",
    "novembre": "11", "décembre": "12", "decembre": "12",
}

# layout-family selector programs: family = int(source[3:]) % 4
_FIELD_RES = {
    0: {
        "title": r'(?s)<h1 class="title">(.*?)</h1>',
        "company": r'(?s)<div class="company">(.*?)</div>',
        "location": r'(?s)<div class="location">(.*?)</div>',
        "salary": r'(?s)<div class="salary">(.*?)</div>',
        "date": r'(?s)<div class="pubdate">(.*?)</div>',
        "description": r'(?s)<div class="description">(.*?)</div>',
    },
    1: {
        "title": r'(?s)<td id="t">(.*?)</td>',
        "company": r'(?s)<td id="c">(.*?)</td>',
        "location": r'(?s)<td id="l">(.*?)</td>',
        "salary": r'(?s)<td id="s">(.*?)</td>',
        "date": r'(?s)<td id="d">(.*?)</td>',
        "description": r'(?s)<td id="desc">(.*?)</td>',
    },
    2: {
        "title": r'(?s)<span data-field="title">(.*?)</span>',
        "company": r'(?s)<span data-field="company">(.*?)</span>',
        "location": r'(?s)<span data-field="location">(.*?)</span>',
        "salary": r'(?s)<span data-field="salary">(.*?)</span>',
        "date": r'(?s)<span data-field="pubdate">(.*?)</span>',
        "description": r'(?s)<span data-field="description">(.*?)</span>',
    },
    3: {
        "title": r"(?s)<h2>(.*?)</h2>",
        "meta": r'(?s)<p class="meta">(.*?)</p>',
        "date": r'(?s)<p class="date">(.*?)</p>',
        "description": r'(?s)<p class="desc">(.*?)</p>',
    },
}

OFFER_SCHEMA = (
    "url string, source string, title string, company string, location string, "
    "salary string, description string, publication_ts timestamp, extracted_text string"
)


# the delimiter classes exclude EVERY regex metacharacter ( . ( ) [ ]
# { } \ + * ? | ^ $ ) so a selector like '(?s)<h1>|<h2>(.*?)</h2>'
# can never take the literal-split fast path with changed semantics
_LIT_RE = re.compile(r"^\(\?s\)([^]\[.(){}\\+*?|^$]+)\(\.\*\?\)([^]\[.(){}\\+*?|^$]+)$")


def _extract_first(html: pd.Series, pattern: str) -> pd.Series:
    """First-match group extraction; selector programs of the literal
    form ``(?s)<open>(.*?)<close>`` run as two ``str.find`` calls and
    one slice per page (same semantics as the non-greedy regex: first
    open, shortest to close, NaN when either delimiter is absent or the
    page is null — and unlike a ``str.split`` it never copies the page
    tail). Anything else falls back to ``str.extract``.
    """
    m = _LIT_RE.match(pattern)
    if not m:
        return html.str.extract(pattern, expand=False)
    open_lit, close_lit = m.group(1), m.group(2)
    skip = len(open_lit)
    out = []
    for h in html:
        i = h.find(open_lit) if isinstance(h, str) else -1
        j = h.find(close_lit, i + skip) if i >= 0 else -1
        out.append(h[i + skip : j] if j >= 0 else np.nan)
    return pd.Series(out, index=html.index, dtype=object)


def _clean(s: pd.Series) -> pd.Series:
    r"""Whitespace collapse + entity decode (reference cleanup), one
    Python pass per value. The entity replacements run, in ``_ENTITIES``
    order (so ``&amp;lt;`` still decodes to ``<``), only on values that
    contain ``&`` — no entity can match anywhere else. ``split()``/join
    equals ``replace(\s+, ' ')`` + strip because ``re``'s ``\s`` and
    ``str.isspace`` accept the same 29 code points."""
    out = []
    for t in s.fillna(""):
        if "&" in t:
            for ent, ch in _ENTITIES:
                t = t.replace(ent, ch)
        out.append(" ".join(t.split()))
    return pd.Series(out, index=s.index, dtype=object)


def _parse_dates(s: pd.Series, family: int) -> pd.Series:
    s = s.str.strip()
    if family in (0, 2):  # "12 janvier 2016" → ISO via month map
        parts = s.str.extract(r"^(\d{1,2}) (\S+) (\d{4})$")
        iso = parts[2] + "-" + parts[1].str.lower().map(_FR_MONTH) + "-" + parts[0].str.zfill(2)
        return pd.to_datetime(iso, format="%Y-%m-%d", errors="coerce", utc=True)
    if family == 1:
        return pd.to_datetime(s, format="%Y-%m-%d", errors="coerce", utc=True)
    return pd.to_datetime(s, format="%d/%m/%Y", errors="coerce", utc=True)


def _extract_family(pdf: pd.DataFrame, family: int) -> pd.DataFrame:
    html = pdf["html"].apply(lambda b: b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray)) else (b or ""))
    sel = _FIELD_RES[family]
    if family == 3:
        title = _clean(_extract_first(html, sel["title"]))
        meta = _clean(_extract_first(html, sel["meta"]))
        mparts = meta.str.split("—", n=2, expand=True).reindex(columns=[0, 1, 2])
        company = mparts[0].fillna("").str.strip()
        location = mparts[1].fillna("").str.strip()
        salary = mparts[2].fillna("").str.strip()
    else:
        title = _clean(_extract_first(html, sel["title"]))
        company = _clean(_extract_first(html, sel["company"]))
        location = _clean(_extract_first(html, sel["location"]))
        salary = _clean(_extract_first(html, sel["salary"]))
    date_s = _clean(_extract_first(html, sel["date"]))
    description = _clean(_extract_first(html, sel["description"]))
    extracted = title + "\n" + company + "\n" + location + "\n" + salary + "\n" + description
    return pd.DataFrame(
        {
            "url": pdf["url"].values,
            "source": pdf["src_source"].values,
            "title": title.values,
            "company": company.values,
            "location": location.values,
            "salary": salary.values,
            "description": description.values,
            "publication_ts": _parse_dates(date_s, family).values,
            "extracted_text": extracted.values,
        }
    )


def _extract_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        if pdf.empty:
            continue
        fam = pd.to_numeric(pdf["src_source"].str.replace(r"\D", "", regex=True), errors="coerce").fillna(0).astype(int) % 4
        for family, sub in pdf.groupby(fam):
            yield _extract_family(sub, int(family))


def extract_offers(fetched: DataFrame) -> DataFrame:
    """(url, src_source, html, …) → offers DataFrame (OFFER_SCHEMA).

    ``mapInPandas`` (not ``groupBy().applyInPandas``): extraction needs
    no co-grouping, so no shuffle — each input partition streams
    through Arrow batches, and the per-source/per-family dispatch
    happens inside the batch. At 1000 executors this keeps extraction
    a map-only stage fused with the fetch join output.
    """
    return fetched.select("url", "src_source", "html").mapInPandas(
        _extract_batches, schema=OFFER_SCHEMA
    )


# ---------------------------------------------------------------- outlinks

_LINKS_SCHEMA = "url string, src_source string, depth int, out_url string, anchor string"

# REP in-page directives (Google robots-meta spec): <meta name="robots">
# content tokens + per-link rel="nofollow". Real REP parsers (w3lib,
# Protego consumers) accept either attribute ORDER, either quote style,
# and extra attributes in the tag — two bounded within-tag regexes
# cover name-then-content and content-then-name (r3 ADVICE: the old
# single double-quoted fixed-order pattern silently missed variants).
# the name value must END at "robots": a lookahead for quote/space/
# slash/> keeps name="robots-custom" (a different, non-REP meta) from
# matching as a prefix — the directive would otherwise be falsely
# applied to pages that never issued it
_META_NC_RE = re.compile(
    r'<meta\b[^>]*\bname\s*=\s*["\']?robots(?=["\'\s/>])["\']?[^>]*'
    r'\bcontent\s*=\s*(["\'])([^"\']*)\1',
    re.I,
)
_META_CN_RE = re.compile(
    r'<meta\b[^>]*\bcontent\s*=\s*(["\'])([^"\']*)\1[^>]*'
    r'\bname\s*=\s*["\']?robots(?=["\'\s/>])',
    re.I,
)
# one alternation per quote style, no capture group: pandas warns on
# every str.contains over a pattern with groups
_REL_NOFOLLOW_RE = re.compile(
    r'\brel\s*=\s*(?:"[^"\']*\bnofollow\b[^"\']*"|\'[^"\']*\bnofollow\b[^"\']*\')',
    re.I,
)


def _meta_robots_flags(html: pd.Series) -> tuple[pd.Series, pd.Series]:
    """(noindex, nofollow) boolean masks from each page's robots meta
    tag — two bounded regex extracts per page (attr order variants),
    token-matched case-insensitively per the robots-meta spec."""
    c1 = html.str.extract(_META_NC_RE, expand=True)[1]
    c2 = html.str.extract(_META_CN_RE, expand=True)[1]
    # a batch with ZERO matches leaves all-NaN float64 columns whose
    # .str accessor raises — the explicit string cast keeps the no-meta
    # batch on the same code path
    content = c1.where(c1.notna(), c2).astype("string").str.lower()
    noindex = content.str.contains(r"\bnoindex\b", na=False).astype(bool)
    nofollow = content.str.contains(r"\bnofollow\b", na=False).astype(bool)
    return noindex, nofollow


def _outlink_batches(
    it: Iterator[pd.DataFrame], drop_nofollow: bool = False
) -> Iterator[pd.DataFrame]:
    for pdf in it:
        if pdf.empty:
            continue
        html = pdf["html"].apply(lambda b: b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray)) else (b or ""))
        # (attrs, anchor-text) pairs in one pass; anchor = text up to the
        # first nested tag — enough for the fixture's flat <a>text</a>
        # markup, and anchor text is only capturable at extraction time
        # (it is gone once the html is dropped from the pipeline)
        links = html.str.findall(r"<a\b([^>]*)>([^<]*)")
        out = pdf[["url", "src_source", "depth"]].copy()
        out["pair"] = links
        # reset_index: explode duplicates the source index per link; all
        # masks below must align positionally
        out = out.explode("pair").dropna(subset=["pair"]).reset_index(drop=True)
        if out.empty:
            continue
        attrs = out["pair"].str[0]
        out["out_url"] = attrs.str.extract(r'\bhref="([^"]+)"', expand=False)
        out["anchor"] = out["pair"].str[1].str.strip()
        keep = out["out_url"].notna()
        if drop_nofollow:
            # REP link-level opt-out: rel="nofollow" (incl. multi-token
            # rel values) — the link is never enqueued
            keep &= ~attrs.str.contains(_REL_NOFOLLOW_RE)
        out = out[keep].drop(columns=["pair"])
        if out.empty:
            continue
        # resolve root-relative hrefs against the page's scheme://host
        base = out["url"].str.extract(r"^(https?://[^/]+)", expand=False)
        rel = out["out_url"].str.startswith("/")
        out.loc[rel, "out_url"] = base[rel] + out.loc[rel, "out_url"]
        yield out


def extract_outlinks(fetched: DataFrame) -> DataFrame:
    """All hrefs of fetched pages, root-relative links resolved, with
    the link's anchor text (O9).

    Returns (url, src_source, depth, out_url, anchor); caller
    canonicalizes and dedups. Map-only, same rationale as
    ``extract_offers``.
    """
    return fetched.select("url", "src_source", "depth", "html").mapInPandas(
        _outlink_batches, schema=_LINKS_SCHEMA
    )


# ------------------------------------------------- fused single pass

COMBINED_SCHEMA = (
    "kind string, url string, url_canon string, host string, host_rank int, "
    "depth int, src_source string, out_url string, out_canon string, anchor string, "
    "title string, company string, location string, salary string, description string, "
    "publication_ts timestamp, extracted_text string, content_digest string"
)

_META_COLS = ["url", "url_canon", "host", "host_rank", "depth", "src_source"]


_TAG_RE = re.compile(r"<[^>]+>")


def _content_digests(html: pd.Series) -> pd.Series:
    r"""md5 of the page's *visible text* (tag-strip + whitespace
    collapse — the same normalization as the corpus ``text`` column,
    so ``content_digest == md5(text)`` holds per url against the input
    table). Digesting text rather than raw html is what makes mirror
    traps detectable: a session-id/calendar trap mints URL variants
    whose html differs only in its self-referencing hrefs — the
    rendered text is identical. Per page: one compiled tag
    substitution, then ``split()``/join — equal to ``replace(\s+, ' ')``
    + strip, because ``re``'s ``\s`` and ``str.isspace`` accept the
    same 29 code points — then a C-speed md5."""
    sub = _TAG_RE.sub
    return pd.Series(
        [hashlib.md5(" ".join(sub(" ", h).split()).encode()).hexdigest() for h in html],
        index=html.index,
        dtype=object,
    )


def extract_page_outputs(
    fetched: DataFrame,
    *,
    detail_pattern: str,
    digests: bool = True,
    redirect_col: str | None = None,
    charset_sniff: bool = False,
    meta_robots: bool = False,
    main_content: bool = False,
) -> DataFrame:
    """ONE html pass producing every per-page output of a wave, as
    tagged rows (``kind``):

    - ``'page'``  — one row per fetched page (meta passthrough: feeds
      wave_log / seen-delta / lineage),
    - ``'offer'`` — extracted job offer for detail pages matching
      ``detail_pattern`` (url = canonical url, the offer identity),
    - ``'link'``  — one row per outlink (feeds frontier growth and the
      link-graph readers): the source page's ``url``, ``url_canon``,
      ``src_source`` and ``depth``, the raw target ``out_url``
      (root-relative hrefs resolved), its canonical form ``out_canon``
      and the ``anchor`` text,
    - ``'redirect'`` (only with ``redirect_col``) — one row per fetched
      3xx page: the page's meta columns, ``out_url`` = its Location
      target and ``out_canon`` = that target canonicalized. Redirect
      pages still emit their ``'page'`` row (they are fetched → seen)
      but no offers or outlinks; the wave loop re-enqueues the target
      through the normal frontier path (offsite → depth → seen →
      robots → politeness), Scrapy-RedirectMiddleware style.

    Both ends of every link and redirect are canonical when the row is
    written: ``url_canon`` is copied from the fetched page and
    ``out_canon`` is ``canonicalize_series(out_url)`` (the function
    behind ``canonicalize_udf``), so no reader crosses into Python to
    canonicalize a link again.

    Rationale (the 100 TB shape): offers and outlinks both need the
    page html, and html is the single biggest column in the pipeline.
    Two separate mapInPandas passes either decode+transfer the html
    twice (bulk path) or force caching gigabytes of html between the
    passes (wave path). The fused pass streams each Arrow batch of html
    exactly once, emits only the (small) extracted rows, and what gets
    persisted downstream is html-free. Map-only — no shuffle, fused
    with the fetch join output.
    """
    out_cols = [c.split(" ")[0] for c in COMBINED_SCHEMA.split(", ")]

    def _shape(kind: str, part: pd.DataFrame) -> pd.DataFrame:
        """Fill the full schema with typed nulls (no pd.concat across
        heterogenous frames — that upcasts datetime64 to object)."""
        out = pd.DataFrame(index=part.index)
        for c in out_cols:
            if c == "kind":
                out[c] = kind
            elif c in part.columns:
                out[c] = part[c].values
            elif c == "publication_ts":
                out[c] = pd.NaT
            elif c in ("host_rank", "depth"):
                out[c] = pd.array([None] * len(part), dtype="Int32")
            else:
                out[c] = None
        return out

    def _both(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            # decode ONCE; the offer/link paths' defensive decode then
            # passes the str batch through untouched. With
            # ``charset_sniff`` the decode resolves BOM / declared
            # <meta charset> first (extraction/charset.py) instead of
            # assuming UTF-8.
            if charset_sniff:
                from crawlers_spark.extraction.charset import sniff_decode_series

                pdf = pdf.assign(html=sniff_decode_series(pdf["html"]))
            else:
                pdf = pdf.assign(
                    html=pdf["html"].apply(
                        lambda b: b.decode("utf-8", "replace")
                        if isinstance(b, (bytes, bytearray))
                        else (b or "")
                    )
                )
            meta = pdf[_META_COLS].copy()
            if main_content:
                # generic boilerplate-stripped main text (jusText/Arc90
                # block heuristic, extraction/maincontent.py) rides the
                # page row's otherwise-null extracted_text — one more
                # regex pass over html the batch already holds; the
                # selector-program offer lane is untouched
                from crawlers_spark.extraction.maincontent import main_content_series

                meta["extracted_text"] = main_content_series(pdf["html"]).values
            if digests:
                meta["content_digest"] = _content_digests(pdf["html"])
                if redirect_col is not None:
                    # a 3xx page has no content: digesting its empty body
                    # would alias every redirect on a host to one digest
                    # and spoof the mirror-trap / content-seen signals
                    meta.loc[pdf[redirect_col].notna(), "content_digest"] = None
            yield _shape("page", meta)
            if redirect_col is not None:
                is_redirect = pdf[redirect_col].notna()
                if is_redirect.any():
                    rows = pdf[is_redirect]
                    target = rows[redirect_col]
                    yield _shape(
                        "redirect",
                        rows[_META_COLS].assign(
                            out_url=target.values, out_canon=canonicalize_series(target).values
                        ),
                    )
                    pdf = pdf[~is_redirect]
                    if pdf.empty:
                        continue
            if meta_robots:
                # REP in-page directives: noindex pages yield no offer,
                # nofollow pages expand no links (the page itself stays
                # crawled/seen either way — that is the directive's
                # semantics, distinct from robots.txt's fetch gate)
                noindex, nofollow = _meta_robots_flags(pdf["html"])
                link_src = pdf[~nofollow]
                detail_src = pdf[~noindex]
            else:
                link_src = detail_src = pdf
            detail = detail_src[
                detail_src["url_canon"].str.contains(detail_pattern, regex=False)
            ]
            if not detail.empty:
                fam = (
                    pd.to_numeric(
                        detail["src_source"].str.replace(r"\D", "", regex=True),
                        errors="coerce",
                    ).fillna(0).astype(int) % 4
                )
                for family, sub in detail.groupby(fam):
                    off = _extract_family(sub.assign(url=sub["url_canon"]), int(family))
                    yield _shape("offer", off.rename(columns={"source": "src_source"}))
            # both ends of a link are canonical from here on: the source
            # page's url_canon rides along (a page's raw url determines
            # it), the target is canonicalized once, here
            src_canon = dict(zip(link_src["url"], link_src["url_canon"]))
            for links in _outlink_batches(iter([link_src]), drop_nofollow=meta_robots):
                links["url_canon"] = links["url"].map(src_canon)
                links["out_canon"] = canonicalize_series(links["out_url"])
                yield _shape("link", links)

    # missing meta columns fall back to a typed NULL matching the
    # column's COMBINED_SCHEMA declaration (r2 ADVICE: a blanket
    # int-0 fallback conflicted with the string-typed meta columns)
    declared = dict(c.rsplit(" ", 1) for c in COMBINED_SCHEMA.split(", "))
    cols = [
        F.col(c) if c in fetched.columns else F.lit(None).cast(declared[c]).alias(c)
        for c in _META_COLS
    ] + [F.col("html")]
    if redirect_col is not None:
        cols.append(F.col(redirect_col))
    return fetched.select(*cols).mapInPandas(_both, schema=COMBINED_SCHEMA)
