"""The benchmark's workloads: what each runs, times and checks.

See ``perfbench/README.md`` for why each workload exists and which
layers it loads. Every crawl uses ``CrawlConfig`` defaults except the
workload's own input (the hot-host table of the generated web), and
the session gets only the core count, so a change to a default is
measured rather than masked.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F

# layer entry points, looked up through this module at call time so the
# traced run can wrap them here exactly as it does in plans.wave
from crawlers_spark.extraction.extractors import extract_page_outputs
from crawlers_spark.functions.canonicalize import with_canonical_url
from crawlers_spark.operators.fetch import build_pages_index, fetch_split
from crawlers_spark.plans.wave import CrawlConfig, CrawlEngine
from crawlers_spark.sources.tables import SnapshotParquetIO

from perfbench.inputs import Oracle, make_web

# crawl_small: the 20-host job-board web at 300 pages (about 290 pages,
# 260 offers). Set-up pre-crawls wave 1 (the seed lists); one unit
# resumes a copy of that state and runs wave 2 (about 145 URLs), the
# first wave that probes the seen-filter shards.
CRAWL_PAGES = 300
PRECRAWL_WAVES = 1
UNIT_WAVES = 1
HOT_HOSTS = {"src0.example": 4, "src1.example": 4}
# bulk_extract: 1,500 heavy pages (descriptions padded by 1,500 words,
# about 10 KB of html per page, ~12 MB of parquet)
BULK_PAGES = 1500
BULK_DESC_EXTRA = 1500


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def _tree_bytes(path: Path, skip: tuple[str, ...] = ()) -> int:
    return sum(
        p.stat().st_size
        for p in path.rglob("*")
        if p.is_file() and not any(part in skip for part in p.relative_to(path).parts)
    )


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2]


class CrawlSmall:
    """Crawl units of the small web: per-wave fixed cost dominates."""

    name = "crawl_small"

    def __init__(self, spark, work: Path, seed: int, plant_wrong_offer: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.plant = plant_wrong_offer
        self.units = 0

    def setup(self) -> dict:
        """Generate the web, build the pages index and pre-crawl
        PRECRAWL_WAVES waves into a base state (the untimed warm-up)."""
        t0 = time.perf_counter()
        self.web = self.work / "web"
        make_web(self.seed, self.web, CRAWL_PAGES)
        self.oracle = Oracle(self.web)
        gen_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        base = self._engine(self.work / "state-base")
        index_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        base.run(max_waves=PRECRAWL_WAVES)
        self._base = base.io.root
        return {"gen_s": gen_s, "index_s": index_s, "precrawl_s": time.perf_counter() - t2}

    def _engine(self, state: Path) -> CrawlEngine:
        sp = self.spark
        return CrawlEngine(
            sp,
            str(self.web / "pages.parquet"),
            self.oracle.seeds,
            sp.read.parquet(str(self.web / "robots.parquet")),
            sp.read.parquet(str(self.web / "politeness.parquet")),
            state,
            CrawlConfig(hot_hosts=dict(HOT_HOSTS)),
        )

    def unit(self) -> dict:
        """Resume a copy of the pre-crawled state for UNIT_WAVES waves
        through the engine's own ``run`` loop. Wave latencies are the
        intervals between consecutive committed manifests, the first
        one measured from the moment ``run`` was called."""
        self.units += 1
        state = self.work / f"state-u{self.units}"
        shutil.copytree(self._base, state)
        eng = self._engine(state)
        t_wall = time.time()
        t0 = time.perf_counter()
        stats = eng.run(max_waves=PRECRAWL_WAVES + UNIT_WAVES)
        wall = time.perf_counter() - t0
        logs = sorted((state / "_wavelog").glob("wave-??????.json"), key=lambda p: p.name)
        mt = [t_wall] + [p.stat().st_mtime_ns / 1e9 for p in logs[PRECRAWL_WAVES + 1 :]]
        return {
            "engine": eng,
            "wall": wall,
            "waves": [b - a for a, b in zip(mt, mt[1:])],
            "timed_waves": [s["wave"] for s in stats if not s["quiesced"]],
            "fetched": sum(s["fetched"] for s in stats),
        }

    def check(self, u: dict) -> tuple[set, dict]:
        """Correctness of one unit. Returns (failed wave numbers, digests).

        - every offer byte-equals its expected row (``extracted_text``
          and ``publication_ts``), and every fetched detail page has one;
        - no URL is fetched twice;
        - no robots-disallowed URL is fetched;
        - no host exceeds its per-wave ``max_per_wave``.
        """
        eng, orc = u["engine"], self.oracle
        log = [tuple(r) for r in eng.wave_log().collect()]
        offers = eng.offers().select(
            "url", "extracted_text", F.unix_micros("publication_ts").alias("ts"), "wave"
        ).collect()
        expected = dict(orc.offers)
        if self.plant and offers:
            url = sorted(r["url"] for r in offers)[0]
            text, ts = expected[url]
            expected[url] = (text + " (planted)", ts)
        bad: set[int] = set()
        seen: dict[str, int] = {}
        per_host = Counter()
        for wave, host, url, _rank in log:
            if url in seen or not orc.robots_allowed(url):
                bad.add(wave)
            seen.setdefault(url, wave)
            per_host[(wave, host)] += 1
        for (wave, host), n in per_host.items():
            if n > orc.max_per_wave.get(host, n):
                bad.add(wave)
        got = {}
        for r in offers:
            got[r["url"]] = r["wave"]
            if expected.get(r["url"]) != (r["extracted_text"], r["ts"]):
                bad.add(r["wave"])
        for url, wave in seen.items():
            if url in expected and url not in got:
                bad.add(wave)
        digests = {
            "wave_log": _digest(log),
            "offers": _digest((r["url"], r["extracted_text"], r["ts"]) for r in offers),
        }
        return bad, digests

    def report(self, u: dict) -> float:
        """Seconds to answer offers(), wave_log(), host_report() and
        seen() over the committed state (median of five: each answer is
        a handful of sub-second jobs)."""
        eng = u["engine"]

        def answer():
            for df in (eng.offers(), eng.wave_log(), eng.host_report(), eng.seen()):
                df.collect()

        return _median_time(answer, 5)

    def state_bytes_per_url(self, u: dict) -> float:
        # _cache holds the corpus's pages index, not crawl state
        eng = u["engine"]
        return _tree_bytes(eng.io.root, skip=("_cache",)) / max(eng.wave_log().count(), 1)


class BulkExtract:
    """One fetch+extract mega-wave over every page of a heavy corpus,
    staged and committed through the table layer like a crawl wave."""

    name = "bulk_extract"

    def __init__(self, spark, work: Path, seed: int, plant_wrong_offer: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.plant = plant_wrong_offer
        self.units = 0

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.web = self.work / "web"
        make_web(self.seed, self.web, BULK_PAGES, desc_extra=BULK_DESC_EXTRA)
        self.oracle = Oracle(self.web)
        self.expected_counts = self.oracle.bulk_counts()
        gen_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        self.index = build_pages_index(
            self.spark, str(self.web / "pages.parquet"), cache_dir=self.work / "index"
        )
        index_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        self._pass("warmup")
        return {"gen_s": gen_s, "index_s": index_s, "warmup_s": time.perf_counter() - t2}

    def _pass(self, tag: str) -> SnapshotParquetIO:
        """canonicalize every page url → dedup → fetch join → fused
        extraction → one kind-partitioned staged write → commit (the
        shape of ``scripts/bench_bulk.bulk_pipeline``)."""
        sp = self.spark
        io = SnapshotParquetIO(sp, self.work / f"bulk-{tag}")
        frontier = (
            with_canonical_url(sp.read.parquet(str(self.web / "pages.parquet")).select("url"))
            .withColumn("src_source", F.regexp_extract("host", r"^(src\d+)", 1))
            .withColumn("priority", F.lit(100))
            .withColumn("depth", F.lit(0))
            .withColumn("retry", F.lit(0))
            .dropDuplicates(["url_canon"])
        )
        fetched, _missed = fetch_split(frontier, self.index, broadcast_candidates=False)
        combined = extract_page_outputs(fetched, detail_pattern="/job/")
        rel = io.stage(
            combined.withColumn("wave", F.lit(1).cast("long")), "wave_out", 1, partition_by="kind"
        )
        io.commit_wave(1, {"wave_out": [rel]}, {"pages": BULK_PAGES})
        return io

    def unit(self) -> dict:
        self.units += 1
        t0 = time.perf_counter()
        io = self._pass(f"u{self.units}")
        wall = time.perf_counter() - t0
        return {
            "io": io,
            "wall": wall,
            "waves": [wall],
            "timed_waves": [1],
            "fetched": self.expected_counts["page"],
        }

    def _answer(self, io: SnapshotParquetIO):
        """What a consumer reads back from the committed output, the
        bulk analog of the crawl's offers() / wave_log() / host_report():
        per-kind counts, every offer row, and the page list."""
        wo = io.read("wave_out")
        counts = {r["kind"]: r["count"] for r in wo.groupBy("kind").count().collect()}
        offers = (
            wo.where(F.col("kind") == "offer")
            .select(
                "url", "title", "company", "location", "salary", "description",
                "extracted_text", F.unix_micros("publication_ts").alias("ts"),
            )
            .collect()
        )
        pages = wo.where(F.col("kind") == "page").select("url_canon", "wave").collect()
        return counts, offers, pages

    def check(self, u: dict) -> tuple[set, dict]:
        """Per-kind output counts equal the generator's, and every offer
        byte-equals its expected row."""
        counts, offers, _pages = self._answer(u["io"])
        expected = dict(self.oracle.offers)
        if self.plant:
            url = min(expected)
            expected[url] = ("planted", expected[url][1])
        got = {r["url"]: (r["extracted_text"], r["ts"]) for r in offers}
        ok = counts == self.expected_counts and got == expected
        digests = {
            "counts": json.dumps(counts, sort_keys=True),
            "offers": _digest((url, text, ts) for url, (text, ts) in got.items()),
        }
        return (set() if ok else {1}), digests

    def report(self, u: dict) -> float:
        """Seconds to answer ``_answer`` over the committed output
        (median of three)."""
        return _median_time(lambda: self._answer(u["io"]), 3)

    def state_bytes_per_url(self, u: dict) -> float:
        return _tree_bytes(u["io"].root) / self.expected_counts["page"]


WORKLOADS = {w.name: w for w in (CrawlSmall, BulkExtract)}
