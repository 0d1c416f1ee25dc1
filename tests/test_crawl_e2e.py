"""End-to-end crawl on the synthetic web (SURVEY §5.2): coverage,
byte parity of crawled offers, politeness/robots invariants,
determinism across runs, and kill-resume equivalence.

Uses the 300-page fixture so the whole module stays a few minutes.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from fixtures.gen_pages import ensure_fixture  # noqa: E402

from crawlers_spark.plans.wave import CrawlConfig, CrawlEngine  # noqa: E402

STATE = REPO / "_data" / "test_states"


@pytest.fixture(scope="module")
def fx():
    return ensure_fixture(300)


def make_engine(spark, fx, name, **cfg_kw):
    shutil.rmtree(STATE / name, ignore_errors=True)
    return resume_engine(spark, fx, name, **cfg_kw)


def resume_engine(spark, fx, name, **cfg_kw):
    """A NEW engine on the state dir ``name`` as it is (resume)."""
    seeds = json.loads((fx / "seeds.json").read_text())
    cfg_kw.setdefault("hot_hosts", {"src0.example": 4, "src1.example": 4})
    cfg = CrawlConfig(**cfg_kw)
    return CrawlEngine(
        spark,
        str(fx / "pages.parquet"),
        seeds,
        spark.read.parquet(str(fx / "robots.parquet")),
        spark.read.parquet(str(fx / "politeness.parquet")),
        STATE / name,
        cfg,
    )


@pytest.fixture(scope="module")
def crawled(spark, fx):
    eng = make_engine(spark, fx, "e2e")
    stats = eng.run(max_waves=40)
    return eng, stats


def _reachable_expected(spark, fx):
    from pyspark.sql import functions as F

    exp = spark.read.parquet(str(fx / "expected_offers.parquet"))
    host_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    return exp.where(
        ~(F.col("url").contains("/private/") & (host_num % 2 == 0))
    )


def test_full_coverage_and_parity(spark, fx, crawled):
    eng, stats = crawled
    assert stats[-1]["quiesced"]
    offers = eng.offers()
    expected = _reachable_expected(spark, fx)
    exp_rows = {r["url"]: r for r in expected.collect()}
    got_rows = {r["url"]: r for r in offers.collect()}
    assert set(got_rows) == set(exp_rows)
    for url, e in exp_rows.items():
        g = got_rows[url]
        assert g["extracted_text"] == e["extracted_text"], url
        assert g["publication_ts"] == e["publication_ts"], url


def test_no_duplicate_fetches(crawled):
    """Seen-set exactness: every url fetched at most once over the run."""
    eng, _ = crawled
    log = eng.wave_log().groupBy("url_canon").count().where("count > 1")
    assert log.count() == 0


def test_robots_invariant(spark, fx, crawled):
    """No disallowed path was ever fetched (even hosts disallow /private/)."""
    from pyspark.sql import functions as F

    eng, _ = crawled
    host_num = F.regexp_extract("host", r"(\d+)", 1).cast("int")
    bad = eng.wave_log().where(
        F.col("url_canon").contains("/private/") & (host_num % 2 == 0)
    )
    assert bad.count() == 0


def test_politeness_invariant(spark, fx, crawled):
    """Per-host per-wave fetch counts never exceed the host budget."""
    from pyspark.sql import functions as F

    eng, _ = crawled
    pol = spark.read.parquet(str(fx / "politeness.parquet"))
    counts = eng.wave_log().groupBy("wave", "host").count()
    over = (
        counts.join(pol, "host")
        .where(F.col("count") > F.least("max_per_wave", F.floor(60.0 / F.col("delay_s"))))
    )
    assert over.count() == 0


def test_lineage_totals(crawled):
    """Per-partition lineage sums equal the wave-log row counts."""
    eng, _ = crawled
    lin = {r["wave"]: r["fetched"] for r in eng.lineage().groupBy("wave").sum("fetched").withColumnRenamed("sum(fetched)", "fetched").collect()}
    log = {r["wave"]: r["n"] for r in eng.wave_log().groupBy("wave").count().withColumnRenamed("count", "n").collect()}
    for wave, n in log.items():
        assert lin.get(wave, 0) == n


def test_determinism_two_runs(spark, fx, crawled):
    """Same seeds + budgets ⇒ identical wave-by-wave fetch log (SURVEY §5.2.4)."""
    eng1, _ = crawled
    eng2 = make_engine(spark, fx, "determinism")
    eng2.run(max_waves=40)
    log1 = sorted(map(tuple, eng1.wave_log().collect()))
    log2 = sorted(map(tuple, eng2.wave_log().collect()))
    assert log1 == log2


def test_kill_and_resume(spark, fx, crawled):
    """Interrupt after 3 waves; a NEW engine resumes to identical state."""
    eng1, _ = crawled
    part = make_engine(spark, fx, "resume")
    part.run(max_waves=3)
    assert part.io.last_committed_wave() == 3
    resumed = resume_engine(spark, fx, "resume")
    resumed.run(max_waves=40)
    assert sorted(map(tuple, resumed.wave_log().collect())) == sorted(
        map(tuple, eng1.wave_log().collect())
    )
    assert sorted(r["url"] for r in resumed.offers().select("url").collect()) == sorted(
        r["url"] for r in eng1.offers().select("url").collect()
    )


def test_bloom_equals_exact(spark, fx, crawled):
    """Bloom-accelerated run ≡ the default exact run (exactness guard,
    §4.3.2)."""
    eng1, _ = crawled
    bloom = make_engine(spark, fx, "bloom", seen_filter="bloom")
    bloom.run(max_waves=40)
    assert sorted(map(tuple, bloom.wave_log().collect())) == sorted(
        map(tuple, eng1.wave_log().collect())
    )


def test_shards_current_tracks_filter_gaps():
    """Manifest-only staleness test behind the rebuild: shards stay
    current while every fetch wave writes them, go stale after a fetch
    wave under another filter, and a checkpoint carries the answer."""
    from crawlers_spark.plans.wave import shards_current

    def fetch(*tables):
        return {"tables": {"wave_out": ["w"], **{t: ["s"] for t in tables}},
                "meta": {"fetched": 1}}

    seeds = {"tables": {"frontier": ["f"]}, "meta": {"seeds": 2}}
    recrawl = {"tables": {"wave_out": ["w"], "cuckoo": ["s"]}, "meta": {"recrawled": 1}}
    assert shards_current([seeds], "bloom")  # nothing seen yet
    assert shards_current([seeds, fetch("bloom"), fetch("bloom")], "bloom")
    assert not shards_current([seeds, fetch(), fetch("bloom")], "cuckoo")
    assert not shards_current([seeds, fetch("bloom"), fetch()], "bloom")
    # a shard write after a gap is a rebuild, and recrawl deletes keep
    # current shards current
    assert shards_current([seeds, fetch(), fetch("cuckoo"), recrawl], "cuckoo")

    def ckpt(**meta):
        return {"tables": {"bloom": ["s"]}, "meta": {"checkpoint": True, **meta}}

    assert shards_current([ckpt(current_filters=["bloom"])], "bloom")
    assert not shards_current([ckpt(current_filters=[])], "bloom")
    assert not shards_current([ckpt()], "bloom")  # no record: rebuild
    assert not shards_current([ckpt(current_filters=["bloom"]), fetch()], "bloom")


@pytest.mark.parametrize("mode", ["bloom", "cuckoo"])
def test_resume_under_another_seen_filter(spark, fx, crawled, mode):
    """Three waves under the default exact filter, then a resume with a
    prefilter: the first prefiltered wave rebuilds the shards from the
    whole seen set, so no URL is fetched twice and the crawl equals the
    uninterrupted run. (Shards grown from the resumed waves alone
    answer "definitely new" for URLs seen before the switch.) Under
    cuckoo, a recrawl then deletes keys seen before the switch — a
    fingerprint that was never inserted would raise."""
    from pyspark.sql import functions as F

    eng1, _ = crawled
    part = make_engine(spark, fx, f"switch_{mode}", seen_filter="none")
    part.run(max_waves=3)
    resumed = resume_engine(spark, fx, f"switch_{mode}", seen_filter=mode)
    resumed.run(max_waves=40)
    assert resumed.wave_log().groupBy("url_canon").count().where("count > 1").count() == 0
    assert sorted(map(tuple, resumed.wave_log().collect())) == sorted(
        map(tuple, eng1.wave_log().collect())
    )
    if mode == "cuckoo":
        early = sorted(
            r.url for r in resumed.offers().where(F.col("wave") <= 3).collect()
        )[:3]
        sitemap = spark.createDataFrame(
            [(u.split("/")[2], "url", u, "2024-02-01") for u in early],
            "host string, kind string, loc string, lastmod string",
        )
        assert resumed.schedule_recrawls(sitemap)["recrawled"] == len(early) > 0


def test_compaction_preserves_state_and_resume(spark, fx, crawled):
    """Mid-crawl wave_out compaction: offers/wave_log/seen identical
    before and after; a crawl resumed ON TOP of the compacted state
    finishes identically to the uninterrupted run."""
    eng1, _ = crawled
    part = make_engine(spark, fx, "compacted")
    part.run(max_waves=3)

    before = {
        "offers": sorted(map(tuple, part.offers().collect())),
        "log": sorted(map(tuple, part.wave_log().collect())),
        "seen": sorted(map(tuple, part.seen().collect())),
    }
    rel = part.compact()
    assert rel is not None and part.io.last_committed_wave() == 3
    assert len(part.io.committed_dirs("wave_out")) == 1
    after = {
        "offers": sorted(map(tuple, part.offers().collect())),
        "log": sorted(map(tuple, part.wave_log().collect())),
        "seen": sorted(map(tuple, part.seen().collect())),
    }
    assert before == after

    # resume with a NEW engine on the compacted state dir
    resumed = resume_engine(spark, fx, "compacted")
    resumed.run(max_waves=40)
    assert sorted(map(tuple, resumed.wave_log().collect())) == sorted(
        map(tuple, eng1.wave_log().collect())
    )
    assert sorted(r["url"] for r in resumed.offers().collect()) == sorted(
        r["url"] for r in eng1.offers().collect()
    )


def test_periodic_compaction_run_identical(spark, fx, crawled):
    """compact_every=3 interleaves compaction with waves; the crawl
    output is bit-identical to the uncompacted baseline run."""
    eng1, _ = crawled
    eng = make_engine(spark, fx, "autocompact", compact_every=3)
    eng.run(max_waves=40)
    assert len(eng.io.committed_dirs("wave_out")) < eng.io.last_committed_wave()
    assert sorted(map(tuple, eng.wave_log().collect())) == sorted(
        map(tuple, eng1.wave_log().collect())
    )
    assert sorted(map(tuple, eng.offers().collect())) == sorted(
        map(tuple, eng1.offers().collect())
    )


def test_adaptive_hot_host_salting_identical_output(spark, fx, crawled):
    """O17 adaptive mode: skew salts derived from observed frontier
    counts. Selection is a per-host top-k, so salting (static OR
    adaptive) must never change WHICH urls are fetched — only how the
    work partitions. Output ≡ the static-hot-host baseline, and two
    adaptive runs are identical to each other."""
    eng1, _ = crawled
    a = make_engine(spark, fx, "adaptive_a", hot_hosts={}, hot_host_threshold=10)
    a.run(max_waves=40)
    assert sorted(map(tuple, a.wave_log().collect())) == sorted(
        map(tuple, eng1.wave_log().collect())
    )
    b = make_engine(spark, fx, "adaptive_b", hot_hosts={}, hot_host_threshold=10)
    b.run(max_waves=40)
    assert sorted(map(tuple, b.wave_log().collect())) == sorted(
        map(tuple, a.wave_log().collect())
    )


def test_pipelined_equals_serial(spark, fx, crawled):
    """The pipelined loop ≡ the serial loop (default): identical
    per-wave stats, wave log, and offers — the staging/fetch overlap
    must be invisible in committed state. Runs with the Bloom filter,
    as cluster_profile() pairs them, so the carried shards are used."""
    eng1, stats1 = crawled  # serial default
    ser = make_engine(spark, fx, "pipelined_ab", pipeline_waves=True, seen_filter="bloom")
    stats2 = ser.run(max_waves=40)
    key = lambda s: (s["wave"], s["frontier"], s["fetched"], s.get("offers", 0), s["quiesced"])  # noqa: E731
    assert [key(s) for s in stats1] == [key(s) for s in stats2]
    assert sorted(map(tuple, ser.wave_log().collect())) == sorted(
        map(tuple, eng1.wave_log().collect())
    )
    assert sorted(r["url"] for r in ser.offers().select("url").collect()) == sorted(
        r["url"] for r in eng1.offers().select("url").collect()
    )


def test_kill_mid_pipeline_resume(spark, fx, crawled):
    """Abandon a pipelined run BETWEEN wave 2's staging and its commit
    (the new in-flight window the overlap creates): a fresh engine
    resumes from the last committed manifest — wave 2's orphaned staged
    dirs are never read — and converges to the identical crawl."""
    from concurrent.futures import ThreadPoolExecutor

    eng1, _ = crawled
    part = make_engine(spark, fx, "pipekill", seen_filter="bloom")
    part.bootstrap()
    with ThreadPoolExecutor(max_workers=3) as pool:
        p1 = part._start_wave(1, pool, persist_carry=True)
        carry = {
            "frontier": p1["next_frontier"],
            "frontier_fut": p1["futs"]["frontier"],
            "shards": p1["filter_merged"],
            "shards_fut": p1["futs"].get(part.filter_table),
            "seen_extra_rels": [p1["rel_out"]],
        }
        p2 = part._start_wave(2, pool, carry=carry, persist_carry=True)
        assert p2 is not None
        part._finish_wave(p1)  # wave 1 commits; wave 2 staged, NEVER committed
    assert part.io.last_committed_wave() == 1
    for df in p2["unpersist"] + [p2["next_frontier"], p2["filter_merged"]]:
        if df is not None:
            df.unpersist()
    resumed = resume_engine(spark, fx, "pipekill", seen_filter="bloom")
    resumed.run(max_waves=40)
    assert sorted(map(tuple, resumed.wave_log().collect())) == sorted(
        map(tuple, eng1.wave_log().collect())
    )
    assert sorted(r["url"] for r in resumed.offers().select("url").collect()) == sorted(
        r["url"] for r in eng1.offers().select("url").collect()
    )
