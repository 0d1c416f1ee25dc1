"""The wave-scheduled crawl plan (SURVEY.md §3.4) — the engine's
equivalent of the reference's whole runtime.

Where `pyjobs/crawlers` runs one OS process per Scrapy spider, each an
event loop popping a priority queue (public behavior; SURVEY §3.1),
this engine runs **deterministic fetch waves over one unified
frontier** (O17): each wave is a single Catalyst-planned DAG —

    frontier snapshot                         (snapshot read, O16)
      → politeness gate   (broadcast join, O6)
      → salted two-phase top-k per host       (O2/O17; salts static or
                                               adaptive via observed counts)
      → robots filter     (broadcast join + mapInPandas, O7)
      → bloom prefilter → exact anti-join     (O5 → O4)
      → fetch join against pages_index        (O8; misses → retry, O12)
      → FUSED single-pass extraction          (O9+O10: one html pass →
                                               tagged page/offer/link rows)
      → ONE kind-partitioned wave_out write   (O14: offers + wave log +
                                               seen keys, atomic with)
      → frontier' + bloom staged concurrently (O13/O18 filters inside
        off the staged rows                    frontier'; O5 shards)
      → lineage + manifest commit             (O15/O16)

The only driver-side synchronization is the commit barrier at the end
of each wave (the reference's page-by-page pacing made explicit). All
state lives in snapshot-committed tables — nothing is ever collected
to the driver, so a 10^10-row frontier changes nothing structurally.

Determinism & resume (SURVEY §4.3.3/.4): every ordering decision uses
the total order (priority DESC, discovered_ts, url_canon); politeness
budgets are pure functions of (wave, host); a killed run resumes from
``last_committed_wave`` and reproduces the identical wave log — tests
assert this by comparing full wave logs across runs.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlers_spark.extraction.extractors import COMBINED_SCHEMA, extract_page_outputs
from crawlers_spark.functions.canonicalize import host_col, with_canonical_url
from crawlers_spark.operators.dedup import (
    BLOOM_SCHEMA,
    CUCKOO_SCHEMA,
    BloomShards,
    CuckooShards,
)
from crawlers_spark.operators.fetch import build_pages_index, fetch_split
from crawlers_spark.operators.frontier import (
    apply_url_rules,
    detect_hot_hosts,
    select_wave_topk,
    with_aged_priority,
    with_salt,
)
from crawlers_spark.operators.politeness import (
    apply_politeness,
    politeness_budget_table,
)
from crawlers_spark.operators.robots import robots_flag
from crawlers_spark.sources.tables import SnapshotParquetIO

FRONTIER_SCHEMA = (
    "url string, url_canon string, host string, priority int, depth int, "
    "src_source string, discovered_ts timestamp, retry int"
)
SEEN_SCHEMA = "url_canon string, first_wave long"
WAVELOG_SCHEMA = "wave long, host string, url_canon string, host_rank int"
WAVE_OUT_SCHEMA = COMBINED_SCHEMA + ", wave long"
# data files under a kind=… leaf dir carry every column EXCEPT kind
WAVE_OUT_DATA_SCHEMA = (
    COMBINED_SCHEMA.replace("kind string, ", "") + ", wave long"
)
OPIC_STATE_SCHEMA = "url_canon string, cash long, history long, upto long"
LINEAGE_SCHEMA = (
    "wave long, partition_id int, fetched long, extracted long, bloom_version long"
)

EPOCH = "2024-01-01 00:00:00"

# the robots gate's candidate shape is static — precomputed DDL skips a
# per-wave py4j schema fetch (plan_build amortization)
_CANDIDATE_SCHEMA = (
    "url string, url_canon string, host string, priority int, depth int, "
    "src_source string, discovered_ts timestamp, retry int, host_rank int"
)

_COMBINED_FIELDS = [c.split(" ") for c in COMBINED_SCHEMA.split(", ")]


@lru_cache(maxsize=64)
def _tagged_cols(kind: str | None, carry_items: tuple[tuple[str, str], ...]):
    """Column template for :func:`_tagged_keys`, built ONCE per (kind,
    carry) shape and reused every wave — Column objects are immutable
    unresolved expressions, safe to share across plans, and building 17
    typed-null literals is py4j round-trips on the driver's per-wave
    critical path (plan_build amortization, r3 VERDICT item 4).
    ``kind=None`` means the input already carries a ``kind`` column."""
    carry = dict(carry_items)
    return [
        (F.lit(kind) if kind is not None else F.col("kind")).alias("kind")
        if name == "kind"
        else F.col("url_canon") if name == "url_canon"
        else F.col(carry[name]).cast(typ).alias(name) if name in carry
        else F.lit(None).cast(typ).alias(name)
        for name, typ in _COMBINED_FIELDS
    ]


def _tagged_keys(keys: DataFrame, kind: str | None, carry: dict[str, str] | None = None) -> DataFrame:
    """Key-only rows shaped to COMBINED_SCHEMA with a ``kind`` tag —
    how robots-denied / retry-exhausted / tombstone keys ride in the
    same kind-partitioned wave_out table as real extraction rows.
    ``carry`` maps schema columns to source columns to preserve (e.g.
    tombstones store their triggering sitemap lastmod in
    ``publication_ts``); everything else is a typed NULL. ``kind=None``
    keeps the input's own ``kind`` column (pre-unioned key frames)."""
    return keys.select(*_tagged_cols(kind, tuple(sorted((carry or {}).items()))))


def shards_current(manifests: list[dict], table: str) -> bool:
    """Whether the latest committed ``table`` shards (bloom or cuckoo)
    cover every committed seen key, from the manifests alone.

    A fetch wave that ran under another ``seen_filter`` added seen keys
    its shards never saw, and a probe would answer "definitely new" for
    them. Every commit that writes the shards leaves them current (the
    engine only writes shards grown from current ones or rebuilt from
    the full seen set); a checkpoint carries the answer forward in its
    meta (``CrawlEngine.compact``). A checkpoint without that record
    counts as stale: a rebuild is always exact."""
    current = True  # no fetch wave yet: nothing to cover
    for m in manifests:
        meta = m.get("meta", {})
        if meta.get("checkpoint"):
            current = table in meta.get("current_filters", ())
        elif table in m["tables"]:
            current = True
        elif "fetched" in meta:
            current = False
    return current


@dataclass
class CrawlConfig:
    wave_interval_s: float = 60.0
    # the reference sets no DEPTH_LIMIT (Scrapy default 0 = unbounded);
    # deep pagination chains are normal, so the bound is a safety net only
    max_depth: int = 1000
    max_retries: int = 2
    output_coalesce: int | None = 4  # small-scale file compaction; None at TB scale
    detail_url_pattern: str = "/job/"  # matches /private/job/ too
    # robots evaluation dialect: "stdlib" (urllib.robotparser semantics,
    # the pinned-oracle default) or "rfc9309" (* wildcards, $ anchors,
    # longest-match-wins — Scrapy/Protego parity for modern robots.txt)
    robots_mode: str = "stdlib"
    # follow 3xx redirects (corpus rows with a non-null `redirect_to`):
    # the Location target re-enters the frontier as a normal candidate
    # (canonicalize → offsite → depth+1 → seen → robots → politeness),
    # so redirects to slow hosts still honor that host's budget and
    # cycles terminate via the seen set — Scrapy RedirectMiddleware
    # semantics with the per-request hop cap mapped onto the depth bound
    follow_redirects: bool = False
    # resolve page encodings (BOM, declared <meta charset>) before
    # decode instead of assuming UTF-8 — w3lib resolution order; see
    # extraction/charset.py
    charset_sniff: bool = False
    # obey in-page REP directives (robots-meta spec): <meta
    # name="robots" content="noindex"> suppresses the page's offer,
    # "nofollow" suppresses its outlink expansion, and per-link
    # rel="nofollow" drops that link — distinct from robots.txt, which
    # gates the FETCH; these gate what a fetched page contributes
    meta_robots: bool = False
    # URL-pattern frontier admission (Scrapy LinkExtractor allow/deny;
    # deny wins): Java-regex rlike over url_canon, applied to DISCOVERED
    # candidates at link expansion — seeds are exempt
    url_allow: str | None = None
    url_deny: str | None = None
    # domain blocklist (functions/urlfilter.py — UT1/RefinedWeb
    # semantics): a DISCOVERED link whose registrable domain (eTLD+1,
    # PSL-lite) is listed never enters the frontier; listing a domain
    # blocks all its subdomains at dot boundaries. Seeds are exempt
    # (parity with url_allow/url_deny). Small lists are a scan-side
    # literal IN; lists past BLOCKLIST_LITERAL_MAX become a broadcast
    # anti-join on the site key — zero corpus shuffles either way.
    domain_blocklist: tuple[str, ...] = ()
    # anti-starvation frontier aging (operators/frontier.py
    # `with_aged_priority`): +1 effective priority per N waves waited
    # since discovery, capped. Enabling it also stamps discovered
    # outlinks with the wave clock (instead of the constant EPOCH) so
    # age is meaningful; both the stamp and the boost are pure
    # functions of (wave, row) — deterministic across runs and resume.
    age_boost_every: int | None = None
    age_boost_cap: int = 25
    # seen-set prefilter in front of the exact anti-join: "none"
    # (default; the anti-join alone — measured fastest at every scale a
    # single box runs, BASELINE.md), "bloom" (cluster_profile(); pays
    # off only when the seen set dwarfs the wave — deletions left stale,
    # the exactness guard keeps results correct) or "cuckoo" (true
    # deletions — the recrawl path). Switching it between runs of one
    # crawl is safe: stale shards are rebuilt from the seen set.
    seen_filter: str = "none"
    bloom_shards: int = 32
    bloom_bits_per_shard: int = 1 << 20
    bloom_hashes: int = 5
    cuckoo_buckets_per_shard: int = 1 << 14
    hot_hosts: dict[str, int] = field(default_factory=dict)  # host -> n_salts
    # adaptive skew salting (O17): derive hot hosts from the frontier's
    # observed per-host counts each wave instead of the static table
    hot_host_threshold: int | None = None
    # compact wave_out every N waves (None = only on explicit compact());
    # bounds the per-wave kind-leaf listing on long crawls
    compact_every: int | None = None
    # fold link-graph PageRank into frontier priorities every N fetch
    # waves (None = only on explicit apply_linkrank()); each application
    # is its own atomic maintenance wave between fetch waves
    linkrank_every: int | None = None
    # crawler-trap gate cadence: every N fetch waves (None = only on
    # explicit apply_trap_gate()), recompute per-host trap signals over
    # everything fetched so far and commit a host denylist + pruned
    # frontier as one atomic maintenance wave. Thresholds mirror
    # operators/traps.py defaults.
    trap_check_every: int | None = None
    trap_max_urls_per_content_pct: int = 300
    trap_max_repeat_seg_pct: int = 20
    # conditional revisit (ETag / If-Modified-Since analog, Scrapy
    # HttpCacheMiddleware's validator semantics): before tombstoning a
    # recrawl candidate, compare the content digest recorded at last
    # fetch against the corpus's current text hash (reading only
    # (url_canon, text) — never html). Unchanged pages become a
    # kind='revalidated' freshness record (no refetch, no
    # re-extraction, seen intact); only changed pages re-enter the
    # frontier. Needs page digests (force-enabled below).
    revalidate: bool = False
    # generic main-content extraction (extraction/maincontent.py —
    # jusText/Arc90 block+link-density heuristic): page rows' otherwise
    # null extracted_text carries the boilerplate-stripped main text.
    # For pages with no selector program — the LLM-corpus lane; the
    # per-site offer extraction and its byte parity are untouched.
    main_content: bool = False
    # Scrapy OffsiteMiddleware parity (functions/domains.py
    # `same_site`): with this on, a source's allowed_host admits its
    # subdomains at dot boundaries (api.src0.example passes for
    # src0.example); off (default) keeps exact-host admission. Pure
    # predicate change on the link-admission filter — the broadcast
    # join shape is identical either way.
    offsite_subdomains: bool = False
    # Heritrix SurtPrefixedDecideRule admission (operators/scope.py):
    # a DISCOVERED link must match a seed-implied SURT prefix — a
    # host-root seed admits its whole host, a deeper seed admits only
    # its directory subtree. Seeds are exempt (parity with the other
    # admission lanes); prefixes derive once from the canonicalized
    # seed list (tiny, broadcast) and the frontier never shuffles.
    surt_scope: bool = False
    # Mercator content-seen test (operators/dedup.py
    # `content_seen_winners`): outlinks of a page whose content digest
    # was already seen (earlier wave, or a lower-url_canon page in the
    # same wave) are NOT followed — URL-space mirrors stop doubling the
    # frontier. Off by default: it changes crawl semantics (mirrored
    # subtrees are reached via one mirror only).
    content_seen: bool = False
    # per-page content digests in the fused pass (feeds trap detection
    # + content-seen; ~the cost of one more vectorized regex pass over
    # html, measured in BASELINE.md). Disable only when neither
    # consumer is wanted.
    page_digests: bool = True
    # overlap wave k's frontier/filter/lineage staging + commit with
    # wave k+1's fetch job (run() only; run_wave() is always serial).
    # Commits stay strictly ordered, so the committed state — and
    # therefore resume — is bit-identical to the serial loop; the only
    # speculative work is recomputable plans over already-staged files.
    # Default OFF: the overlap hides staging LATENCY, which on a real
    # deployment is object-store round-trips on the driver's critical
    # path; on a single shared-CPU box there is no idle resource to
    # exploit and the measured same-window A/B is ~4% in the serial
    # loop's favor (BASELINE.md round 3). Enable on clusters.
    pipeline_waves: bool = False

    @classmethod
    def cluster_profile(cls, **overrides) -> "CrawlConfig":
        """Cluster-scale defaults in ONE place (r3 VERDICT "what's
        wrong" #3 — the sandbox defaults are right for local[32] and
        foot-guns at TB scale):

        - ``output_coalesce=None`` — never coalesce wave output on the
          hot path; small-file compaction is the ``compact_every``
          maintenance job's business;
        - ``seen_filter="bloom"`` — at the 10^10-key design point the
          Bloom prefilter shrinks the exact anti-join's probe side to the
          true duplicates plus false positives; on a single box the
          anti-join alone is faster (the sandbox default, "none");
        - larger seen-filter shard geometry (10^10-key design point:
          1024 shards × 2^24 bloom bits ≈ 2 GiB of filter, ~0.4% FP at
          10^10 keys; cuckoo buckets scaled to match);
        - ``pipeline_waves=True`` — staging latency on a cluster is
          object-store round-trips on the driver's critical path, which
          the overlap hides (measured rationale in BASELINE.md);
        - periodic compaction + linkrank cadence on.

        Any keyword overrides the profile. The plain constructor IS the
        sandbox profile.
        """
        base: dict = dict(
            output_coalesce=None,
            seen_filter="bloom",
            bloom_shards=1024,
            bloom_bits_per_shard=1 << 24,
            bloom_hashes=5,
            cuckoo_buckets_per_shard=1 << 22,
            pipeline_waves=True,
            compact_every=64,
        )
        base.update(overrides)
        return cls(**base)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        seeds: list[dict],
        robots: DataFrame,
        politeness: DataFrame | None,
        state_root: str | Path,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.io = SnapshotParquetIO(spark, state_root)
        self.pages_index = build_pages_index(
            spark, pages_path, cache_dir=Path(state_root) / "_cache"
        )
        self.seeds = seeds
        # robots/politeness are broadcast state joined against EVERY
        # wave batch; persist them so each wave's broadcast build reads
        # the cached rows instead of re-scanning the source per wave
        self.robots = robots.persist()
        # no explicit politeness table → derive per-host delays from
        # robots.txt Crawl-delay directives (O6 ← O7)
        if politeness is None:
            from crawlers_spark.operators.robots import politeness_from_robots

            politeness = politeness_from_robots(self.robots)
        self.politeness = politeness.persist()
        # wave-invariant (host, budget_k, cadence) derivation, built
        # ONCE: each wave's politeness gate is then a broadcast join +
        # one filter instead of rebuilding the whole budget-arithmetic
        # plan (plan_build amortization, r3 VERDICT item 4)
        self._p_budget = politeness_budget_table(
            self.politeness, self.cfg.wave_interval_s
        ).persist()
        # canonicalized seed URLs for SURT-prefix scoping (tiny; built
        # once, reused by every wave's admission filter)
        if self.cfg.surt_scope:
            _seed_urls = spark.createDataFrame(
                [(sd["url"],) for sd in seeds], "url string"
            )
            self._scope_seeds = (
                with_canonical_url(_seed_urls).select("url_canon").persist()
            )
        else:
            self._scope_seeds = None
        # offsite map (O13): source -> allowed host, broadcast-sized
        self.allowed_hosts = spark.createDataFrame(
            [(s["source"], s["allowed_host"]) for s in seeds],
            "src_source string, allowed_host string",
        )
        self.hot_hosts = (
            spark.createDataFrame(
                list(self.cfg.hot_hosts.items()), "host string, n_salts int"
            )
            if self.cfg.hot_hosts
            else None
        )
        mode = self.cfg.seen_filter
        if mode not in ("bloom", "cuckoo", "none"):
            raise ValueError(f"seen_filter must be bloom|cuckoo|none, got {mode!r}")
        self.filter_mode = mode
        if mode == "cuckoo":
            self.filter = CuckooShards(
                self.cfg.bloom_shards, self.cfg.cuckoo_buckets_per_shard
            )
        else:
            self.filter = BloomShards(
                self.cfg.bloom_shards, self.cfg.bloom_bits_per_shard, self.cfg.bloom_hashes
            )
        # state-table name for the filter shards; None disables the prefilter
        self.filter_table = {"bloom": "bloom", "cuckoo": "cuckoo"}.get(mode)
        # per-wave barrier breakdown (seconds per segment), appended by
        # run_wave; scripts/profile_wave.py aggregates it for BASELINE.md
        self.wave_profile: list[dict] = []

    # ------------------------------------------------------------ seeding
    def bootstrap(self) -> None:
        """Commit wave 0: the seed frontier (O1). Idempotent."""
        if self.io.last_committed_wave() >= 0:
            return
        seed_df = self.spark.createDataFrame(
            [(s["url"], s["source"]) for s in self.seeds], "url string, src_source string"
        )
        frontier = (
            with_canonical_url(seed_df)
            .withColumn("priority", F.lit(100))
            .withColumn("depth", F.lit(0))
            .withColumn("discovered_ts", F.lit(EPOCH).cast("timestamp"))
            .withColumn("retry", F.lit(0))
            .select(*[c.split(" ")[0] for c in FRONTIER_SCHEMA.split(", ")])
        )
        rel = self.io.stage(frontier, "frontier", 0)
        self.io.commit_wave(0, {"frontier": [rel]}, {"seeds": len(self.seeds)})

    # ------------------------------------------------------------ helpers
    def _stage(
        self,
        df: DataFrame,
        table: str,
        wave: int,
        compact: str = "repartition",
        partition_by: str | None = None,
    ) -> str:
        """Stage with small-file compaction (``output_coalesce``):

        - ``"repartition"`` — full exchange of the (small) output rows;
          right when upstream must still run at full parallelism (the
          wave_log materializer: collapsing it would collapse the
          pandas-UDF extraction itself to 4 tasks);
        - ``"coalesce"``    — zero-exchange narrow compaction; right
          when upstream is already materialized in the cache (offers);
        - ``"none"``        — plan already ends in a shuffle, AQE's
          coalescePartitions bounds the file count for free (frontier
          agg, seen dropDuplicates, bloom shard agg).
        """
        n = self.cfg.output_coalesce
        if n is not None and compact == "repartition":
            df = df.repartition(n)
        elif n is not None and compact == "coalesce":
            df = df.coalesce(n)
        return self.io.stage(df, table, wave, partition_by=partition_by)

    def _frontier_rels(self) -> list[str]:
        """Frontier has replace semantics: newest manifest entry wins."""
        for m in reversed(self.io._manifests()):
            if "frontier" in m["tables"]:
                return m["tables"]["frontier"]
        return []

    def _read_frontier(self) -> DataFrame:
        rels = self._frontier_rels()
        if not rels:
            return self.spark.createDataFrame([], FRONTIER_SCHEMA)
        # explicit schema: skips driver-side footer/schema inference —
        # profiled at a measurable slice of the ~2 s/wave plan_build
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            *[str(self.io.root / rel) for rel in rels]
        )

    def _rowcount(self, rels: list[str], sub: str = "") -> int:
        """Row count from parquet footers — a driver-side metadata read,
        zero Spark jobs. ``sub`` narrows to a hive-partition subtree
        (e.g. ``kind=offer``). (Counts are observability, not dataflow;
        on an object store this is the same handful of footer GETs, or
        comes free from write metrics.)"""
        import pyarrow.parquet as pq

        n = 0
        for rel in rels:
            for f in sorted((self.io.root / rel / sub).rglob("*.parquet")):
                n += pq.ParquetFile(f).metadata.num_rows
        return n

    def _read_filter(self, wave: int) -> DataFrame | None:
        """Shard table of the active seen-filter (bloom or cuckoo) that
        covers the committed seen set, or None if the prefilter is
        disabled / nothing was seen yet. When earlier waves ran under
        another filter (a config switch on resume), the shards are
        rebuilt from the full seen set at ``wave`` (persisted: the probe
        and the shard update both read them)."""
        if self.filter_table is None:
            return None
        if not shards_current(self.io._manifests(), self.filter_table):
            return self.filter.update(None, self._read_seen(), wave).persist()
        from crawlers_spark.operators.dedup import BLOOM_SCHEMA, CUCKOO_SCHEMA

        shard_schema = CUCKOO_SCHEMA if self.filter_mode == "cuckoo" else BLOOM_SCHEMA
        for m in reversed(self.io._manifests()):
            if self.filter_table in m["tables"]:
                dirs = [str(self.io.root / rel) for rel in m["tables"][self.filter_table]]
                return self.spark.read.schema(shard_schema).parquet(*dirs)
        return None

    def _read_wave_out(self, *kinds: str, extra_rels: tuple[str, ...] = ()) -> DataFrame:
        """Committed wave_out rows of the given kinds (plus, in the
        pipelined loop, ``extra_rels``: the staged-but-not-yet-committed
        dir of the in-flight previous wave — its files are durable
        before its manifest publishes).

        Reads the ``kind=…`` hive LEAF dirs directly as one multi-path
        parquet scan — no partition discovery, no per-dir union (a
        union-of-reads grows the plan linearly with wave count; profiled
        at +3 s/wave by wave 18 on the 2k fixture).
        """
        paths = self._kind_paths(*kinds, extra_rels=extra_rels)
        if not paths:
            return self.spark.createDataFrame([], WAVE_OUT_DATA_SCHEMA)
        # explicit schema: skips driver-side footer schema inference,
        # which grows with the number of committed wave leaves (profiled
        # at 2.2 s cold / 0.12 s warm vs 0.04 s explicit on 7 leaves)
        return self.spark.read.schema(WAVE_OUT_DATA_SCHEMA).parquet(*paths)

    def _kind_paths(self, *kinds: str, extra_rels: tuple[str, ...] = ()) -> list[str]:
        dirs = self.io.committed_dirs("wave_out") + [
            str(self.io.root / rel) for rel in extra_rels
        ]
        return [
            str(p)
            for d in dirs
            for k in kinds
            if (p := Path(d) / f"kind={k}").exists()
        ]

    def _read_seen(self, extra_rels: tuple[str, ...] = ()) -> DataFrame:
        """Seen-set = every wave_out key kind (page/denied/exhausted),
        MINUS keys tombstoned by a later recrawl wave (``kind=tombstone``,
        written by ``schedule_recrawls``) that have not been refetched
        since. A key may appear multiple times (fetch → tombstone →
        refetch) — consumers are anti-joins, which are multiplicity-
        insensitive, so no dedup shuffle here.

        Scale shape: the tombstone side is recrawl-batch-sized (≪ seen),
        so the subtraction is one broadcast join + filter on the seen
        scan — the 10^10-row side never shuffles. The no-tombstones
        fast path (every crawl until the first recrawl) is a pure
        multi-path scan, unchanged from round 2.
        """
        base = self._read_wave_out(
            "page", "denied", "exhausted", extra_rels=extra_rels
        ).select("url_canon", F.col("wave").alias("first_wave"))
        if not self._kind_paths("tombstone", extra_rels=extra_rels):
            return base
        from crawlers_spark.operators.recrawl import seen_after_tombstones

        tombs = self._read_wave_out("tombstone", extra_rels=extra_rels).select(
            "url_canon", "wave"
        )
        return seen_after_tombstones(base, tombs)

    def _merge_frontier(self, *parts: DataFrame) -> DataFrame:
        """Union frontier-shaped inputs and collapse per url_canon with
        the deterministic merge (max priority, min everything else)."""
        from functools import reduce

        merged = reduce(lambda a, b: a.unionByName(b), parts)
        return (
            merged.groupBy("url_canon")
            .agg(
                F.min("url").alias("url"),
                F.min("host").alias("host"),
                F.max("priority").alias("priority"),
                F.min("depth").alias("depth"),
                F.min("src_source").alias("src_source"),
                F.min("discovered_ts").alias("discovered_ts"),
                F.min("retry").alias("retry"),
            )
            .select(*[c.split(" ")[0] for c in FRONTIER_SCHEMA.split(", ")])
        )

    # ---------------------------------------------------------- one wave
    def run_wave(self, wave: int) -> dict:
        """Serial wave: plan → stage → followups → commit. Reference
        semantics for the pipelined loop in ``run()`` (which overlaps
        the followup staging with the NEXT wave's fetch job — committed
        state is identical either way, asserted in e2e)."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            pending = self._start_wave(wave, pool)
            if pending is None:
                return {"wave": wave, "frontier": 0, "fetched": 0, "quiesced": True}
            return self._finish_wave(pending)

    def _start_wave(
        self, wave: int, pool, carry: dict | None = None, persist_carry: bool = False
    ) -> dict | None:
        """Plan + run the wave's ONE synchronous job (wave_out staging),
        then build the follow-up state plans and launch their staging
        as background futures. Returns the pending-commit handle, or
        None if the frontier is empty (quiesce).

        ``carry`` (pipelined loop only) holds the previous wave's
        in-memory state so this wave never waits on that wave's staging:
        - ``frontier``: persisted next-frontier DF (its cache is
          materialized by the staging thread we join below);
        - ``frontier_fut`` → (rel, rowcount): joined AFTER plan build
          (plan construction needs no count), right before the fetch
          job launches — the quiesce check and the stats count;
        - ``shards`` / ``shards_fut``: same pair for the seen-filter;
        - ``seen_extra_rels``: the previous wave's staged wave_out rel —
          its files are durable pre-commit, so the seen scan includes
          them directly (constant plan depth; no per-wave union chain).
        """
        cfg = self.cfg
        prof: dict = {"wave": wave, "seen_filter": self.filter_mode}
        _t = time.monotonic()

        def _lap(seg: str) -> None:
            nonlocal _t
            now = time.monotonic()
            prof[seg] = round(now - _t, 3)
            _t = now

        seen_extra = tuple(carry["seen_extra_rels"]) if carry else ()
        if carry is None:
            n_frontier = self._rowcount(self._frontier_rels())
            _lap("frontier_footers")
            if n_frontier == 0:
                return None
            frontier = self._read_frontier().persist()
            shards = self._read_filter(wave)
        else:
            frontier = carry["frontier"]
            shards = carry["shards"]
        seen = self._read_seen(extra_rels=seen_extra)

        # O6 politeness → O2/O17 salted deterministic top-k
        gated = apply_politeness(frontier, self._p_budget, wave, cfg.wave_interval_s)
        hot = (
            detect_hot_hosts(frontier, threshold=cfg.hot_host_threshold)
            if cfg.hot_host_threshold
            else self.hot_hosts
        )
        if cfg.age_boost_every:
            gated = with_aged_priority(
                gated, wave, cfg.wave_interval_s,
                boost_every_waves=cfg.age_boost_every,
                max_boost=cfg.age_boost_cap,
            )
        salted = with_salt(gated, hot)
        selected = select_wave_topk(
            salted,
            priority_col="priority_aged" if cfg.age_boost_every else "priority",
        ).persist()

        # O7 robots on the selected batch only (cheapest point: post-top-k)
        flagged = robots_flag(
            selected.select(
                "url", "url_canon", "host", "priority", "depth", "src_source",
                "discovered_ts", "retry", "host_rank",
            ),
            self.robots,
            mode=cfg.robots_mode,
            candidate_schema=_CANDIDATE_SCHEMA,
        ).persist()
        allowed = flagged.where(F.col("robots_ok")).drop("robots_ok")
        denied_keys = flagged.where(~F.col("robots_ok")).select("url_canon")

        # O4 exact anti-join, behind the O5 bloom/cuckoo prefilter if one is set
        unseen = self.filter.filter_unseen(allowed, shards, seen)

        # O8 fetch: pages ⋈ broadcast(candidates) — the wave batch is
        # politeness-bounded so it broadcasts; page html never shuffles.
        # Misses (corpus 404 analog) → O12 retry.
        unseen = unseen.persist()
        redirect_col = (
            "redirect_to"
            if cfg.follow_redirects and "redirect_to" in self.pages_index.columns
            else None
        )
        fetch_cols = ("html", "redirect_to") if redirect_col else ("html",)
        fetched, missed = fetch_split(unseen, self.pages_index, columns=fetch_cols)

        # O9+O10 fused: ONE html pass yields page-meta + offers +
        # outlinks as tagged rows. NOTHING html-sized is ever persisted
        # or cached: the tagged rows go straight into the wave_out
        # staged write below, and every later consumer reads the small
        # extracted rows back from that staged dir.
        combined = extract_page_outputs(
            fetched,
            detail_pattern=cfg.detail_url_pattern,
            digests=cfg.page_digests
            or bool(cfg.trap_check_every)
            or cfg.content_seen
            or cfg.revalidate,
            redirect_col=redirect_col,
            charset_sniff=cfg.charset_sniff,
            meta_robots=cfg.meta_robots,
            main_content=cfg.main_content,
        )

        retryable = (
            missed.where(F.col("retry") < cfg.max_retries)
            .select(
                "url", "url_canon", "host", "priority", "depth", "src_source",
                "discovered_ts", (F.col("retry") + 1).cast("int").alias("retry"),
            )
        )
        exhausted_keys = missed.where(F.col("retry") >= cfg.max_retries).select("url_canon")

        # ONE kind-partitioned staged table carries every durable
        # per-wave output: 'page' meta (wave log + fetched seen keys),
        # 'offer' rows, 'link' rows (frontier growth input), plus
        # robots-'denied' and retry-'exhausted' seen keys. One write
        # job runs the whole selection→fetch→extract chain exactly
        # once; per-kind reads directory-prune and per-kind counts come
        # from the kind subtree's parquet footers. (Round 1 staged five
        # separate tables — five jobs re-deriving from cached html.)
        extra_keys = denied_keys.select(
            "url_canon", F.lit("denied").alias("kind")
        ).unionByName(
            exhausted_keys.select("url_canon", F.lit("exhausted").alias("kind"))
        )
        wave_out_df = (
            # keys union first (2 narrow columns), then ONE cached
            # 17-column projection — half the per-wave plan expressions
            # of the old two-projection two-union chain
            combined.unionByName(_tagged_keys(extra_keys, None))
            .withColumn("wave", F.lit(wave).cast("long"))
            # exchange AFTER the full-width chain: one write task (and
            # one file) per kind — the seen/offers readers scan one
            # file per kind per wave instead of output_coalesce many
            .repartition(F.col("kind"))
        )
        _lap("plan_build")
        if carry is not None:
            # join the previous wave's frontier AND filter staging here,
            # after plan build (which needs no rowcount) and before the
            # fetch job: the frontier footer count is this wave's
            # quiesce check, and the job below then reads fully
            # materialized caches instead of racing the staging threads
            # for them partition-lock by partition-lock (the r2 lesson:
            # a job probing a cache mid-materialization blocks task
            # slots on per-partition cache locks).
            frontier_rel, n_frontier = carry["frontier_fut"].result()
            if carry.get("shards_fut") is not None:
                carry["shards_rel"] = carry["shards_fut"].result()[0]
            _lap("frontier_footers")
            if n_frontier == 0:
                return None
        else:
            frontier_rel = None
        rel_out = self._stage(wave_out_df, "wave_out", wave, compact="none", partition_by="kind")
        _lap("stage_wave_out")
        wo = self.spark.read.schema(WAVE_OUT_SCHEMA).parquet(str(self.io.root / rel_out))
        pages_meta = wo.where(F.col("kind") == "page")
        fetched_keys = pages_meta.select("url_canon")

        # outlinks → canonicalize → O13 offsite → O18 depth bound
        links = wo.where(F.col("kind") == "link").select(
            "url", "src_source", "depth", "out_url"
        )
        if cfg.content_seen:
            # Mercator content-seen: only FIRST sightings of a content
            # digest expand their outlinks (prior-wave digests win, then
            # min url_canon within this wave — deterministic, resume-safe
            # since both inputs are committed/staged state)
            from crawlers_spark.operators.dedup import content_seen_winners

            prior = self._read_wave_out("page", extra_rels=seen_extra).select(
                "content_digest"
            )
            winners = content_seen_winners(
                pages_meta.select("url", "url_canon", "content_digest"), prior
            )
            links = links.join(winners, "url", "left_semi")
        if redirect_col:
            # redirect targets re-enter like outlinks, but bypass the
            # content-seen winnow (a 3xx page has no content to test)
            links = links.unionByName(
                wo.where(F.col("kind") == "redirect").select(
                    "url", "src_source", "depth", "out_url"
                )
            )
        from crawlers_spark.functions.domains import same_site

        offsite_ok = (
            same_site(F.col("host"), F.col("allowed_host"))
            if cfg.offsite_subdomains
            else F.col("host") == F.col("allowed_host")
        )
        discovered = (
            with_canonical_url(links, "out_url", "url_canon")
            .join(F.broadcast(self.allowed_hosts), "src_source", "left")
            .where(offsite_ok)
            .where(F.col("depth") + 1 <= cfg.max_depth)
            .select(
                F.col("out_url").alias("url"),
                "url_canon",
                "host",
                F.greatest(F.lit(0), F.lit(100) - (F.col("depth") + 1)).cast("int").alias("priority"),
                (F.col("depth") + 1).cast("int").alias("depth"),
                "src_source",
                (
                    F.expr(
                        f"timestampadd(SECOND, CAST({wave} * "
                        f"{int(cfg.wave_interval_s)} AS INT), TIMESTAMP '{EPOCH}')"
                    )
                    if cfg.age_boost_every
                    else F.lit(EPOCH).cast("timestamp")
                ).alias("discovered_ts"),
                F.lit(0).alias("retry"),
            )
        )
        # trap gate (apply_trap_gate): denylisted hosts' outlinks never
        # enter the frontier — broadcast anti-join, denylist is
        # host-cardinality-sized. The committed frontier was pruned at
        # gate time; this keeps it clean between gate waves.
        trap_hosts = self._read_trap_hosts()
        if trap_hosts is not None:
            discovered = discovered.join(F.broadcast(trap_hosts), "host", "left_anti")
        if cfg.url_allow or cfg.url_deny:
            discovered = apply_url_rules(
                discovered, allow=cfg.url_allow, deny=cfg.url_deny
            )
        if cfg.surt_scope:
            from crawlers_spark.operators.scope import surt_scope_filter

            discovered = surt_scope_filter(discovered, self._scope_seeds)
        if cfg.domain_blocklist:
            from crawlers_spark.functions.urlfilter import (
                BLOCKLIST_LITERAL_MAX,
                blocklisted_domain,
            )

            if len(cfg.domain_blocklist) <= BLOCKLIST_LITERAL_MAX:
                discovered = discovered.where(
                    ~blocklisted_domain(F.col("host"), cfg.domain_blocklist)
                )
            else:
                from crawlers_spark.functions.domains import registrable_domain

                blk = self.spark.createDataFrame(
                    [(b,) for b in sorted(set(cfg.domain_blocklist))],
                    "_blk_site string",
                )
                discovered = (
                    discovered.withColumn(
                        "_blk_site", registrable_domain(F.lower(F.col("host")))
                    )
                    .join(
                        F.broadcast(blk),
                        F.col("_blk_site") == blk["_blk_site"],
                        "left_anti",
                    )
                    .drop("_blk_site")
                )
        discovered = discovered.persist()

        # Follow-up plans root at DISK copies (the staged rels when
        # carried, the committed snapshot otherwise): every wave's
        # frontier'/filter' plan is a constant-depth tree over parquet
        # scans, so arbitrarily long pipelined crawls never grow the
        # logical plan (an in-memory chain would add one merge per wave
        # and stall the driver by wave ~100). The fetch job above used
        # the in-memory cache of the SAME rows, so results are
        # identical.
        if frontier_rel is not None:
            frontier_disk = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
                str(self.io.root / frontier_rel)
            )
        else:
            frontier_disk = self._read_frontier()
        shards_disk = shards
        if carry is not None and carry.get("shards_rel") is not None:
            shards_disk = self._read_filter_rel(carry["shards_rel"])
        _lap("followup_shards_join")

        # frontier' = (old − attempted/denied) ∪ retryable misses ∪ new links
        attempted_keys = selected.select("url_canon")
        remaining = frontier_disk.join(attempted_keys, "url_canon", "left_anti")
        fresh_links = (
            self.filter.filter_unseen(discovered, shards_disk, seen)
            .join(fetched_keys, "url_canon", "left_anti")
        )
        next_frontier = self._merge_frontier(remaining, retryable, fresh_links)

        # seen' += fetched ∪ robots-denied ∪ retry-exhausted (O4 state),
        # read straight off the staged wave_out kinds
        seen_delta = (
            wo.where(F.col("kind").isin("page", "denied", "exhausted"))
            .select("url_canon")
            .dropDuplicates(["url_canon"])
            .withColumn("first_wave", F.lit(wave).cast("long"))
        )

        # O5 filter shard merge (versioned per wave for resume) —
        # bloom OR-merge or cuckoo insert, same unified contract
        filter_merged = None
        if self.filter_table is not None:
            filter_merged = self.filter.update(shards_disk, seen_delta, wave)

        if persist_carry:
            # pipelined loop: the next wave's fetch job consumes these
            # from cache (materialized by the staging threads below).
            # frontier' must be a LAZY localCheckpoint, not a plain
            # persist: its merge embeds THIS wave's whole fetch chain
            # (selected → unseen → retryable), which embeds the carried
            # frontier — without plan truncation the embedded tree
            # multiplies every wave (observed: a 2 GB plan string by
            # wave ~8). Durability still comes from the staged parquet
            # write below; the checkpoint only backs the next wave's
            # in-memory read, and a lost block fails loudly → the rerun
            # resumes from the last committed manifest. filter_merged
            # is already disk-rooted (shards_disk + staged wave_out), so
            # a plain persist suffices.
            next_frontier = next_frontier.localCheckpoint(eager=False)
            if filter_merged is not None:
                filter_merged = filter_merged.persist()

        # staging is the wave's serial floor: ONE wave_out write above
        # ran the whole chain; frontier', the filter shards, and lineage
        # now stage as CONCURRENT background jobs that only touch small
        # state (staged wave_out rows, persisted key-only frames) —
        # joined in _finish_wave just before this wave's commit. In the
        # pipelined loop the NEXT wave's fetch job overlaps them.
        # Per-kind wave_out footer rowcounts ARE the wave's extracted/
        # fetched metrics — no count() jobs anywhere.
        futs = {"frontier": self._launch_stage(pool, next_frontier, "frontier", wave)}
        if filter_merged is not None:
            futs[self.filter_table] = self._launch_stage(
                pool, filter_merged, self.filter_table, wave
            )
        _lap("followup_build")
        n_offers = self._rowcount([rel_out], sub="kind=offer")
        n_fetched = self._rowcount([rel_out], sub="kind=page")
        n_redirects = (
            self._rowcount([rel_out], sub="kind=redirect") if redirect_col else 0
        )
        _lap("out_footers")

        # O15 per-partition lineage (needs the n_offers footer read)
        lineage = (
            pages_meta.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("fetched"))
            .withColumn("wave", F.lit(wave).cast("long"))
            .withColumn("extracted", F.lit(n_offers).cast("long"))
            .withColumn("bloom_version", F.lit(wave if self.filter_table else -1).cast("long"))
            .select("wave", "partition_id", "fetched", "extracted", "bloom_version")
        )
        futs["lineage"] = self._launch_stage(pool, lineage, "lineage", wave)
        _lap("followup_launch")

        return {
            "wave": wave,
            "rel_out": rel_out,
            "futs": futs,
            "prof": prof,
            "next_frontier": next_frontier,
            "filter_merged": filter_merged,
            "meta": {
                "frontier_in": n_frontier, "fetched": n_fetched,
                "offers": n_offers, "redirects": n_redirects,
                "seen_filter": self.filter_mode,
            },
            "stats": {
                "wave": wave, "frontier": n_frontier, "fetched": n_fetched,
                "offers": n_offers, "redirects": n_redirects, "quiesced": False,
            },
            # safe to release once this wave's futures are joined: the
            # fetch job is done and every follow-up plan roots at disk
            "unpersist": [
                df for df in (frontier, selected, flagged, unseen, discovered, shards)
                if df is not None
            ],
        }

    def _launch_stage(self, pool, df: DataFrame, table: str, wave: int):
        """Stage ``df`` in a worker thread; the future resolves to
        (rel path, footer rowcount) — the count is free off the written
        files and is the next wave's quiesce check for the frontier."""

        def _job() -> tuple[str, int]:
            rel = self._stage(df, table, wave, "none")
            return rel, self._rowcount([rel])

        return pool.submit(_job)

    def _read_filter_rel(self, rel: str) -> DataFrame:
        """Read one staged (possibly not-yet-committed) filter-shard rel
        with the mode's explicit schema."""
        from crawlers_spark.operators.dedup import BLOOM_SCHEMA, CUCKOO_SCHEMA

        shard_schema = CUCKOO_SCHEMA if self.filter_mode == "cuckoo" else BLOOM_SCHEMA
        return self.spark.read.schema(shard_schema).parquet(str(self.io.root / rel))

    def _finish_wave(self, pending: dict) -> dict:
        """Join the wave's staging futures, commit atomically, release
        caches. In the serial path this runs immediately after
        _start_wave; in the pipelined loop it runs after the NEXT wave's
        fetch job, so the futures have long resolved and commit order is
        still strictly by wave number."""
        prof = pending["prof"]
        _t = time.monotonic()

        def _lap(seg: str) -> None:
            nonlocal _t
            now = time.monotonic()
            prof[seg] = round(now - _t, 3)
            _t = now

        staged: dict[str, list[str]] = {"wave_out": [pending["rel_out"]]}
        for table, fut in pending["futs"].items():
            rel, _n = fut.result()
            staged[table] = [rel]
        _lap("stage_frontier_filter")
        self.io.commit_wave(pending["wave"], staged, pending["meta"])
        _lap("commit")
        for df in pending["unpersist"]:
            df.unpersist()
        _lap("unpersist")
        prof["fetched"] = pending["meta"]["fetched"]
        self.wave_profile.append(prof)
        return pending["stats"]

    # ------------------------------------------------------------- driver
    def run(self, max_waves: int = 50) -> list[dict]:
        """Run waves until quiesce (O11) or max_waves; resume-safe (O16).

        With ``cfg.pipeline_waves`` enabled (OFF by default — see the
        CrawlConfig comment and the BASELINE.md A/B), wave k's follow-up
        staging — frontier', filter shards, lineage, all small state
        over already-staged files, running while politeness-bounded
        waves leave most executor cores idle — overlaps wave k+1's plan
        build and fetch job. Wave k commits after k+1's fetch job
        returns and always before k+1's own commit, so the committed
        manifest sequence (and therefore kill/resume behavior) is
        bit-identical to the serial loop; the only in-flight extras are
        uncommitted staged dirs, which resume never reads. Maintenance
        (linkrank, compaction) drains the pipeline first so it always
        sees committed state.
        """
        from concurrent.futures import ThreadPoolExecutor

        self.bootstrap()
        stats: list[dict] = []

        if not self.cfg.pipeline_waves:
            while True:
                wave = self.io.last_committed_wave() + 1
                if wave > max_waves:
                    break
                # linkrank cadence is a pure function of the COMMITTED
                # wave number (every (k+1)th wave slot is a linkrank
                # maintenance wave), so an interrupted run resumes onto
                # the exact same fetch/maintenance schedule. A no-op
                # application (no link rows yet) commits nothing and
                # falls through to fetching the same wave number.
                if (
                    self.cfg.linkrank_every
                    and wave % (self.cfg.linkrank_every + 1) == 0
                    and self.apply_linkrank()["wave"] is not None
                ):
                    continue
                # trap-gate cadence: same committed-wave-number contract
                # as linkrank (resume lands on the identical schedule);
                # when both cadences hit the same slot, linkrank commits
                # first and the trap check re-evaluates at the bumped
                # wave number — deterministic either way.
                if (
                    self.cfg.trap_check_every
                    and wave % (self.cfg.trap_check_every + 1) == 0
                    and self.apply_trap_gate()["wave"] is not None
                ):
                    continue
                st = self.run_wave(wave)
                stats.append(st)
                if st["quiesced"]:
                    break
                if self.cfg.compact_every and wave % self.cfg.compact_every == 0:
                    self.compact()
            return stats

        pending: dict | None = None
        carry: dict | None = None

        def _drain() -> None:
            nonlocal pending, carry
            if pending is not None:
                stats.append(self._finish_wave(pending))
                pending = None
            if carry is not None:
                for key in ("frontier", "shards"):
                    if carry.get(key) is not None:
                        carry[key].unpersist()
                carry = None

        with ThreadPoolExecutor(max_workers=3) as pool:
            while True:
                wave = (pending["wave"] if pending else self.io.last_committed_wave()) + 1
                if wave > max_waves:
                    break
                # maintenance slots drain first (same cadence semantics
                # as the serial loop — see its comment)
                if self.cfg.linkrank_every and wave % (self.cfg.linkrank_every + 1) == 0:
                    _drain()
                    if self.apply_linkrank()["wave"] is not None:
                        continue
                if self.cfg.trap_check_every and wave % (self.cfg.trap_check_every + 1) == 0:
                    _drain()
                    if self.apply_trap_gate()["wave"] is not None:
                        continue
                cur = self._start_wave(wave, pool, carry=carry, persist_carry=True)
                if cur is None:
                    _drain()
                    stats.append({"wave": wave, "frontier": 0, "fetched": 0, "quiesced": True})
                    return stats
                # wave-1 commits here — after this wave's fetch job, but
                # strictly before this wave's own commit
                if pending is not None:
                    stats.append(self._finish_wave(pending))
                pending = cur
                carry = {
                    "frontier": cur["next_frontier"],
                    "frontier_fut": cur["futs"]["frontier"],
                    "shards": cur["filter_merged"],
                    "shards_fut": cur["futs"].get(self.filter_table),
                    "seen_extra_rels": [cur["rel_out"]],
                }
                if self.cfg.compact_every and wave % self.cfg.compact_every == 0:
                    _drain()
                    self.compact()
            _drain()
        return stats

    # --------------------------------------------------------- recrawl
    def schedule_recrawls(self, sitemap_entries: DataFrame, *, priority: int = 120) -> dict:
        """Freshness recrawl (SURVEY §3.2 stop-and-come-back): URLs whose
        sitemap ``lastmod`` post-dates their last fetch are tombstoned
        OUT of the seen-set and re-enqueued with freshness priority
        (120 > seed 100, so recrawls fetch first); subsequent ``run()``
        waves then refetch exactly them.

        One atomic 'recrawl wave' commit:
        - ``wave_out`` gains ``kind='tombstone'`` rows — ``_read_seen``
          subtracts a key whose latest tombstone postdates its latest
          fetch, so the refetch candidate passes the exact anti-join;
        - ``frontier`` := merge(frontier ∪ due rows);
        - cuckoo mode: due fingerprints are DELETED from the shard
          table (the north star's "cuckoo-filter … for deletions"), so
          refetch candidates take the definitely-new fast lane. Bloom
          mode leaves the filter stale-positive — still exact (the
          guard anti-joins the tombstone-aware seen), costing one extra
          exact probe per recrawled URL until the next filter rebuild.

        Idempotent under repeated sitemaps: a key already tombstone-
        pending (tombstone newer than last fetch) is excluded, so the
        cuckoo delete can never fire twice for one fetch generation.
        ``fetched_ts`` is the same pure wave-clock politeness uses:
        EPOCH + wave · wave_interval_s.
        """
        from crawlers_spark.operators.recrawl import recrawl_candidates

        wave = self.io.last_committed_wave() + 1
        pages = self._read_wave_out("page").select("url_canon", "wave")
        last_fetch = pages.groupBy("url_canon").agg(F.max("wave").alias("_w"))
        if self._kind_paths("tombstone"):
            pending = (
                self._read_wave_out("tombstone")
                .groupBy("url_canon")
                .agg(F.max("wave").alias("_tomb_wave"))
            )
            last_fetch = (
                last_fetch.join(F.broadcast(pending), "url_canon", "left")
                .where(F.col("_tomb_wave").isNull() | (F.col("_w") > F.col("_tomb_wave")))
                .select("url_canon", "_w")
            )
        interval = int(self.cfg.wave_interval_s)
        seen_ts = last_fetch.select(
            "url_canon",
            F.expr(
                f"timestampadd(SECOND, CAST(_w * {interval} AS INT), TIMESTAMP '{EPOCH}')"
            ).alias("fetched_ts"),
        )
        due = recrawl_candidates(seen_ts, sitemap_entries, priority=priority)
        # a URL already acted on FOR this lastmod is not due again: the
        # wave clock is much coarser than real sitemap dates, so the
        # fetched_ts comparison alone would re-trigger forever. Each
        # tombstone AND each revalidation record its triggering lastmod
        # (publication_ts); due requires lastmod strictly newer than the
        # last one acted on.
        if self._kind_paths("tombstone", "revalidated"):
            prev = (
                self._read_wave_out("tombstone", "revalidated")
                .groupBy("url_canon")
                .agg(F.max("publication_ts").alias("_prev_lastmod"))
            )
            due = (
                due.join(F.broadcast(prev), "url_canon", "left")
                .where(
                    F.col("_prev_lastmod").isNull()
                    | (F.col("lastmod_ts") > F.col("_prev_lastmod"))
                )
                .drop("_prev_lastmod")
            )
        revalidated = None
        if self.cfg.revalidate:
            # conditional revisit: sitemap lastmod says stale, but the
            # validator may say otherwise (lastmod bumps spuriously all
            # the time — that is WHY conditional requests exist). The
            # recorded validator is the latest fetch generation's
            # content digest; the current one is md5(text) straight off
            # the corpus scan — html is never read on this path.
            from crawlers_spark.operators.recrawl import revalidate_candidates

            recorded = (
                self._read_wave_out("page")
                .groupBy("url_canon")
                .agg(F.max_by("content_digest", "wave").alias("content_digest"))
            )
            flagged = revalidate_candidates(due, self.pages_index, recorded).persist()
            revalidated = flagged.where(F.col("not_modified"))
            due = flagged.where(~F.col("not_modified")).drop("not_modified")
        due = due.persist()

        # frontier rows need src_source: reverse the seed host→source map
        host_src = self.allowed_hosts.groupBy("allowed_host").agg(
            F.min("src_source").alias("src_source")
        )
        recrawl_rows = (
            due.join(F.broadcast(host_src), due.host == host_src.allowed_host)
            .select(
                "url", "url_canon", "host", F.col("priority").cast("int").alias("priority"),
                F.lit(0).cast("int").alias("depth"), "src_source",
                F.col("lastmod_ts").alias("discovered_ts"),
                F.lit(0).cast("int").alias("retry"),
            )
        )

        staged: dict[str, list[str]] = {}
        out_df = _tagged_keys(
            due.select("url_canon", "lastmod_ts"),
            "tombstone",
            carry={"publication_ts": "lastmod_ts"},
        )
        if revalidated is not None:
            # 304 path: record the acted-on lastmod (freshness clock
            # refresh) — no tombstone, no frontier row, seen intact
            out_df = out_df.unionByName(
                _tagged_keys(
                    revalidated.select("url_canon", "lastmod_ts"),
                    "revalidated",
                    carry={"publication_ts": "lastmod_ts"},
                )
            )
        out_df = out_df.withColumn("wave", F.lit(wave).cast("long")).repartition(
            F.col("kind")
        )
        staged["wave_out"] = [
            self._stage(out_df, "wave_out", wave, compact="none", partition_by="kind")
        ]
        n_due = self._rowcount(staged["wave_out"], sub="kind=tombstone")
        n_reval = (
            self._rowcount(staged["wave_out"], sub="kind=revalidated")
            if revalidated is not None
            else 0
        )
        if n_due == 0 and n_reval == 0:
            # nothing due → no commit (the staged empty dir is crash
            # debris for vacuum_uncommitted); state is untouched
            due.unpersist()
            if revalidated is not None:
                flagged.unpersist()
            return {"wave": None, "recrawled": 0, "revalidated": 0}
        if n_due == 0:
            # everything revalidated 304: commit only the freshness
            # records — frontier and seen filters are untouched
            self.io.commit_wave(wave, staged, {"recrawled": 0, "revalidated": n_reval})
            due.unpersist()
            flagged.unpersist()
            return {"wave": wave, "recrawled": 0, "revalidated": n_reval}
        next_frontier = self._merge_frontier(self._read_frontier(), recrawl_rows)
        staged["frontier"] = [self._stage(next_frontier, "frontier", wave, "none")]
        # shards that miss seen keys (waves ran under another filter) are
        # not touched: a delete could hit a fingerprint never inserted.
        # The next fetch wave rebuilds them from the tombstone-aware seen
        # set, which already leaves these keys out.
        if self.filter_mode == "cuckoo" and shards_current(self.io._manifests(), "cuckoo"):
            shards = self._read_filter(wave)
            if shards is not None:
                # ONLY tombstoned keys lose their fingerprint — a
                # revalidated (304) page stays seen, and deleting its
                # fingerprint would open the definitely-new fast lane
                # for a URL the exact seen-set still contains
                tomb_keys = self.spark.read.schema(WAVE_OUT_DATA_SCHEMA).parquet(
                    str(self.io.root / staged["wave_out"][0] / "kind=tombstone")
                ).select("url_canon")
                staged[self.filter_table] = [
                    self._stage(
                        self.filter.delete(shards, tomb_keys, wave),
                        self.filter_table, wave, "none",
                    )
                ]
        self.io.commit_wave(wave, staged, {"recrawled": n_due, "revalidated": n_reval})
        due.unpersist()
        if revalidated is not None:
            flagged.unpersist()
        return {"wave": wave, "recrawled": n_due, "revalidated": n_reval}

    def schedule_adaptive_recrawls(
        self,
        *,
        priority: int = 110,
        min_interval_s: int = 3600,
        max_interval_s: int = 30 * 86400,
    ) -> dict:
        """Change-rate recrawl scheduling for hosts that publish NO
        sitemap (the third leg of the freshness triad: sitemap lastmod
        says WHAT changed, the validator lane says WHETHER, and this
        lane decides WHEN to look again with no external signal —
        Cho & Garcia-Molina's estimator over the engine's own history).

        Probe history comes entirely from committed state:
        - a URL's FIRST fetch is its baseline observation
          (``changed=False``);
        - every REfetch is a probe that found change (with
          ``cfg.revalidate`` on, refetches only happen when the
          validator mismatched, so this is literal; without it, the
          trigger's claim of change is taken at face value);
        - every ``kind='revalidated'`` record (304) is a probe that
          found NO change.
        Timestamps are the same pure wave clock politeness uses, so the
        schedule is deterministic and resume-stable.

        URLs whose estimated next-due time has arrived are re-enqueued
        by SYNTHESIZING sitemap-entry rows (lastmod = the current wave
        clock) and delegating to :meth:`schedule_recrawls` — one code
        path owns tombstones, pending-dedup, validator interplay,
        frontier merge, and cuckoo deletion, so the adaptive lane
        inherits every invariant its e2e suite pins (a due URL that
        still revalidates 304 becomes another ``changed=False`` probe,
        closing the estimator's feedback loop).

        ``priority`` defaults to 110: above seeds (100), below
        explicit-lastmod freshness (120). Scale: one hash agg over
        page/revalidated keys + row-local estimator arithmetic — no
        new shuffle shapes beyond ``schedule_recrawls`` itself.
        """
        from crawlers_spark.operators.recrawl import change_rate_schedule

        if not self._kind_paths("page"):
            return {"wave": None, "recrawled": 0, "revalidated": 0}
        interval = int(self.cfg.wave_interval_s)
        wave = self.io.last_committed_wave() + 1
        now_sql = (
            f"timestampadd(SECOND, CAST({wave} * {interval} AS INT), "
            f"TIMESTAMP '{EPOCH}')"
        )
        wave_ts = F.expr(
            f"timestampadd(SECOND, CAST(wave * {interval} AS INT), "
            f"TIMESTAMP '{EPOCH}')"
        )
        pages = self._read_wave_out("page").select(
            "url", "host", "url_canon", "wave"
        )
        first = pages.groupBy("url_canon").agg(F.min("wave").alias("_w0"))
        probes = pages.join(first, "url_canon").select(
            "url_canon",
            wave_ts.alias("probe_ts"),
            (F.col("wave") > F.col("_w0")).alias("changed"),
        )
        if self._kind_paths("revalidated"):
            probes = probes.unionByName(
                self._read_wave_out("revalidated").select(
                    "url_canon",
                    wave_ts.alias("probe_ts"),
                    F.lit(False).alias("changed"),
                )
            )
        sched = change_rate_schedule(
            probes,
            min_interval_s=min_interval_s,
            max_interval_s=max_interval_s,
        )
        due = sched.where(F.col("next_due_ts") <= F.expr(now_sql)).select(
            "url_canon"
        )
        # latest fetch generation's (url, host) → the fetchable form
        latest = pages.groupBy("url_canon").agg(
            F.max_by("url", "wave").alias("loc"),
            F.max_by("host", "wave").alias("host"),
        )
        entries = due.join(latest, "url_canon").select(
            "host",
            F.lit("url").alias("kind"),
            "loc",
            F.date_format(F.expr(now_sql), "yyyy-MM-dd HH:mm:ss").alias(
                "lastmod"
            ),
        )
        return self.schedule_recrawls(entries, priority=priority)

    # -------------------------------------------------------- linkrank
    def apply_linkrank(self, *, iterations: int = 3) -> dict:
        """Fold link-graph PageRank into frontier priorities (O2 priority
        source; operators/linkrank.py). The reference orders requests by
        a static per-request priority (Scrapy ``Request.priority``,
        SURVEY §2.1 O2); at web scale the frontier should prefer pages
        many *crawled* pages point to. Between waves:

        1. edges = canonicalized (page url → out_url) from every staged
           ``kind='link'`` row (the engine already persists these —
           nothing html-sized is re-read);
        2. fixed-point PageRank (bit-identical at any parallelism);
        3. frontier priority := max(current, quantized rank) — the rank
           axis is anchored so an average-rank page ties with seeds
           (100) and each doubling of link mass is +1, capped at 119 so
           freshness recrawls (120) always keep precedence; max() only
           ever promotes, so the deterministic merge contract
           (`_merge_frontier`) is unchanged.

        Commits as one atomic maintenance wave (frontier is
        latest-version-wins state, same as ``schedule_recrawls``), so a
        kill between linkrank and the next fetch wave resumes with
        either the old or the new priorities — never a mix.

        Scale: 2 key-keyed shuffles per PageRank round over the edge
        table + one frontier equi-join; no global sort, no collect.
        """
        from crawlers_spark.operators.linkrank import pagerank_priorities

        wave = self.io.last_committed_wave() + 1
        if not self._kind_paths("link"):
            return {"wave": None, "boosted": 0}
        links = self._read_wave_out("link").select("url", "out_url")
        edges = with_canonical_url(
            with_canonical_url(links, "url", "src_canon", host_out=None),
            "out_url", "dst_canon", host_out=None,
        ).select("src_canon", "dst_canon")
        pr = pagerank_priorities(edges, iterations=iterations)
        boosted = (
            self._read_frontier()
            .join(pr.withColumnRenamed("priority", "_lr_pri"), "url_canon", "left")
            .withColumn(
                "priority",
                F.greatest(F.col("priority"), F.coalesce(F.col("_lr_pri"), F.lit(0)))
                .cast("int"),
            )
            .drop("_lr_pri")
            .select(*[c.split(" ")[0] for c in FRONTIER_SCHEMA.split(", ")])
        )
        staged = {"frontier": [self._stage(boosted, "frontier", wave, "none")]}
        n = self._rowcount(staged["frontier"])
        self.io.commit_wave(wave, staged, {"linkrank_frontier": n})
        return {"wave": wave, "boosted": n}

    def apply_trustrank(
        self,
        trusted_urls: "list[str] | DataFrame",
        *,
        iterations: int = 3,
        demote_to: int = 10,
    ) -> dict:
        """Fold TrustRank spam demotion into frontier priorities
        (operators/linkrank.py ``trustrank_scores``; Gyöngyi et al.,
        VLDB 2004). The dual of ``apply_linkrank``: PageRank promotes
        well-linked pages, TrustRank demotes pages that hold ZERO trust
        — pages in the crawled link graph that are unreachable from
        every hand-vetted trusted seed, the paper's link-spam shape.
        Between waves:

        1. edges = the same canonicalized staged ``kind='link'`` rows
           ``apply_linkrank`` reads;
        2. seed-biased fixed-point TrustRank (bit-identical at any
           parallelism);
        3. frontier priority := least(priority, ``demote_to``) for
           frontier URLs that appear in the graph with trust_scaled = 0
           — they stay crawlable (starvation-proof: priority aging and
           the per-host top-k still reach them eventually) but drop
           behind everything link-trusted or fresh. URLs outside the
           graph (fresh seeds, never-linked discoveries) are untouched:
           no trust evidence either way.

        Commits as one atomic maintenance wave (latest-version-wins
        frontier state, same as ``apply_linkrank``/``schedule_recrawls``),
        so a kill between demotion and the next fetch wave resumes with
        either the old or the new priorities — never a mix. The result
        is a pure function of (committed link rows, seed list), so
        resume replays it identically.
        """
        from crawlers_spark.operators.linkrank import trustrank_scores

        wave = self.io.last_committed_wave() + 1
        if not self._kind_paths("link"):
            return {"wave": None, "demoted": 0}
        links = self._read_wave_out("link").select("url", "out_url")
        edges = with_canonical_url(
            with_canonical_url(links, "url", "src_canon", host_out=None),
            "out_url", "dst_canon", host_out=None,
        ).select("src_canon", "dst_canon")
        if isinstance(trusted_urls, DataFrame):
            seeds = trusted_urls
        else:
            seeds = with_canonical_url(
                self.spark.createDataFrame(
                    [(u,) for u in trusted_urls], "url string"
                ),
                "url", "url_canon", host_out=None,
            ).select("url_canon")
        tr = trustrank_scores(edges, seeds, iterations=iterations)
        zero_trust = tr.where(F.col("trust_scaled") == 0).select(
            "url_canon", F.lit(1).alias("_zt")
        )
        demoted = (
            self._read_frontier()
            .join(zero_trust, "url_canon", "left")
            .withColumn(
                "priority",
                F.when(
                    F.col("_zt").isNotNull(),
                    F.least(F.col("priority"), F.lit(demote_to)),
                )
                .otherwise(F.col("priority"))
                .cast("int"),
            )
            .drop("_zt")
            .select(*[c.split(" ")[0] for c in FRONTIER_SCHEMA.split(", ")])
        )
        staged = {"frontier": [self._stage(demoted, "frontier", wave, "none")]}
        n = self._rowcount(staged["frontier"])
        self.io.commit_wave(wave, staged, {"trustrank_frontier": n})
        return {"wave": wave, "demoted": n}

    def apply_focused(
        self,
        relevant_expr: str,
        *,
        boost_to: int = 110,
        threshold_micro: int = 0,
        n_buckets: int = 4096,
    ) -> dict:
        """Focused-crawl frontier boost (Chakrabarti et al. 1999;
        operators/focused.py) — the topical promote lane beside
        ``apply_linkrank``'s popularity promote and
        ``apply_trustrank``'s spam demote. Between waves:

        1. train a two-class hashed-ngram NB on every CRAWLED row that
           carries text — ``kind='offer'`` rows always do, ``kind=
           'page'`` rows do when ``cfg.main_content`` is on — labeled
           by ``relevant_expr`` (a SQL boolean over those rows, e.g.
           ``"extracted_text LIKE '%machine learning%'"``); rows where
           the expression is NULL (no text) are not training evidence,
           and zero labeled rows raises rather than training on air;
        2. score every frontier URL from PRE-FETCH evidence only: its
           URL words plus inbound anchor texts from the staged
           ``kind='link'`` rows (anchors sorted before joining — the
           bit-reproducibility contract in operators/focused.py);
        3. frontier priority := greatest(priority, ``boost_to``) where
           the NB log-odds ≥ ``threshold_micro`` (0 = the natural
           decision boundary). ``boost_to`` defaults below freshness
           recrawls (120) and above seeds (100), mirroring
           ``apply_linkrank``'s cap; greatest() only promotes, so the
           deterministic frontier-merge contract is unchanged.

        Commits as one atomic maintenance wave; the result is a pure
        function of (committed page+link rows, relevant_expr), so
        resume replays it identically.

        Scale: training is one (bucket,label) partial-agg shuffle over
        crawled text; the B-row model broadcasts; anchor aggregation is
        one (dst, anchor) shuffle; the frontier never shuffles to be
        scored.
        """
        from crawlers_spark.operators.focused import (
            focused_scores,
            frontier_context,
            nb_train,
        )

        wave = self.io.last_committed_wave() + 1
        if not self._kind_paths("page", "offer"):
            return {"wave": None, "boosted": 0}
        crawled = self._read_wave_out("page", "offer").select(
            "extracted_text", "url_canon"
        )
        labeled = crawled.select(
            F.coalesce("extracted_text", F.lit("")).alias("text"),
            F.expr(relevant_expr).alias("label"),
        ).where(F.col("label").isNotNull())
        if labeled.isEmpty():
            raise ValueError(
                "apply_focused: relevant_expr labeled zero crawled rows "
                "(page rows carry text only with cfg.main_content; offer "
                "rows always do) — nothing to train on"
            )
        ratios, prior = nb_train(labeled, n_buckets=n_buckets)
        if self._kind_paths("link"):
            links = with_canonical_url(
                self._read_wave_out("link").select("out_url", "anchor"),
                "out_url", "dst_canon", host_out=None,
            ).select("dst_canon", "anchor")
        else:
            links = self.spark.createDataFrame(
                [], "dst_canon string, anchor string"
            )
        frontier = self._read_frontier()
        ctx = frontier_context(frontier.select("url_canon"), links)
        hot = (
            focused_scores(ctx, ratios, prior, n_buckets=n_buckets)
            .where(F.col("score_micro") >= F.lit(int(threshold_micro)))
            .select("url_canon", F.lit(1).alias("_fc"))
        )
        boosted = (
            frontier.join(hot, "url_canon", "left")
            .withColumn(
                "priority",
                F.when(
                    F.col("_fc").isNotNull(),
                    F.greatest(F.col("priority"), F.lit(int(boost_to))),
                )
                .otherwise(F.col("priority"))
                .cast("int"),
            )
            .drop("_fc")
            .select(*[c.split(" ")[0] for c in FRONTIER_SCHEMA.split(", ")])
        )
        staged = {"frontier": [self._stage(boosted, "frontier", wave, "none")]}
        n = self._rowcount(staged["frontier"])
        self.io.commit_wave(wave, staged, {"focused_frontier": n})
        return {"wave": wave, "boosted": n}

    def _read_opic(self) -> DataFrame | None:
        """Latest committed OPIC state (replace semantics, like the
        frontier), or None before the first ``apply_opic`` commit. The
        folded-up-to wave rides IN the table (constant ``upto`` column)
        rather than in manifest meta — checkpoints fold manifests and
        drop their meta, but data files survive verbatim."""
        for m in reversed(self.io._manifests()):
            if "opic" in m["tables"]:
                return self.spark.read.schema(OPIC_STATE_SCHEMA).parquet(
                    *[str(self.io.root / rel) for rel in m["tables"]["opic"]]
                )
        return None

    def apply_opic(self, *, max_steps: int | None = None) -> dict:
        """Advance the persisted OPIC importance state through every
        committed fetch wave not yet folded in (operators/opic.py;
        Abiteboul et al. WWW 2003) — one ``opic_step`` per wave, in
        wave order, then ONE atomic state commit.

        This is the *incremental* importance lane: ``apply_linkrank``
        replays batch PageRank over the full historical link table
        every time, while OPIC consumes exactly the NEW waves'
        ``kind='page'`` (fetched set) and ``kind='link'`` (outlinks)
        rows — at a 10^10-URL frontier the per-fold cost stays
        proportional to what was crawled since the last fold, never to
        the whole graph. Importance = history + cash
        (``opic_importance``) converges toward PageRank as waves
        accumulate (paper §3).

        Determinism/resume: the state after folding wave k is a pure
        function of committed waves ≤ k (init = wave-minimum's fetched
        set with uniform cash), so calling this every wave, once at the
        end, or again after a kill-and-resume yields bit-identical
        state. ``max_steps`` bounds one call's work (the remainder
        folds next call).

        Caveat shared with every maintenance wave (``apply_linkrank``,
        ``apply_trustrank``, ``schedule_recrawls``): the commit itself
        consumes a wave number, so interleaving maintenance shifts
        LATER fetch waves' numbers — for hosts whose politeness cadence
        exceeds 1 that can change which wave a host fetches on. The
        folded state is invariant to WHEN you call this given the same
        committed fetch waves (asserted in tests/test_opic.py).
        """
        from crawlers_spark.operators.opic import opic_init, opic_step

        pages = self._read_wave_out("page").select("url_canon", "wave")
        waves = sorted(
            r["wave"] for r in pages.select("wave").distinct().collect()
        )  # driver-sized: one int per committed wave
        if not waves:
            return {"wave": None, "upto": None, "steps": 0}
        links = self._read_wave_out("link").select("url", "out_url", "wave")
        links = with_canonical_url(
            with_canonical_url(links, "url", "src_canon", host_out=None),
            "out_url", "dst_canon", host_out=None,
        ).select("src_canon", "dst_canon", "wave")

        st = self._read_opic()
        if st is None:
            w0 = waves[0]
            state = opic_init(
                pages.where(F.col("wave") == w0).select("url_canon").distinct()
            )
            upto = w0
        else:
            upto = st.limit(1).collect()[0]["upto"]  # 1-row driver read
            state = st.select("url_canon", "cash", "history")
        todo = [w for w in waves if w > upto]
        if max_steps is not None:
            todo = todo[:max_steps]
        if st is not None and not todo:
            return {"wave": None, "upto": upto, "steps": 0}
        for w in todo:
            state = opic_step(
                state,
                pages.where(F.col("wave") == w).select("url_canon"),
                links.where(F.col("wave") == w).select("src_canon", "dst_canon"),
            ).localCheckpoint()
        new_upto = todo[-1] if todo else upto
        wave = self.io.last_committed_wave() + 1
        out = state.withColumn("upto", F.lit(new_upto).cast("long"))
        staged = {"opic": [self._stage(out, "opic", wave, "coalesce")]}
        n = self._rowcount(staged["opic"])
        self.io.commit_wave(wave, staged, {"opic_upto": new_upto, "opic_rows": n})
        return {"wave": wave, "upto": new_upto, "steps": len(todo)}

    def opic_scores(self) -> DataFrame | None:
        """(url_canon, importance) from the latest committed OPIC state
        (``apply_opic``), root row excluded; None before the first
        fold. Derived output, nothing commits."""
        from crawlers_spark.operators.opic import opic_importance

        st = self._read_opic()
        return None if st is None else opic_importance(
            st.select("url_canon", "cash", "history")
        )

    def anchor_index(self) -> DataFrame:
        """Anchor-text index of everything crawled so far (one row per
        link target: dominant inbound anchor text + in-link counts;
        operators/anchors.py). Like ``apply_linkrank`` this is a pure
        aggregation over the persisted ``kind='link'`` rows — anchor
        text was captured in the wave's single html pass and the html
        itself is long gone. Derived output, not state: nothing
        commits."""
        from crawlers_spark.operators.anchors import anchor_text_index

        links = self._read_wave_out("link").select("out_url", "anchor")
        dst = with_canonical_url(links, "out_url", "dst_canon", host_out=None)
        return anchor_text_index(dst, dst_col="dst_canon")

    def host_graph(self) -> tuple[DataFrame, DataFrame]:
        """Common-Crawl-style host-level webgraph export over everything
        crawled so far (operators/hostgraph.py): ``(edges, nodes)`` —
        reversed-label host pairs with link weights, and the per-host
        degree rollup. Like ``anchor_index`` this reads only the
        persisted ``kind='link'`` rows' URL columns (html never
        existed here; column pruning keeps the scan to two strings).
        Derived output, not state: nothing commits."""
        from crawlers_spark.operators.hostgraph import host_edges, host_nodes

        links = self._read_wave_out("link").select("url", "out_url")
        hosted = with_canonical_url(
            with_canonical_url(links, "url", "_src_canon", host_out="src_host"),
            "out_url",
            "_dst_canon",
            host_out="dst_host",
        ).select("src_host", "dst_host")
        edges = host_edges(hosted)
        return edges, host_nodes(edges)

    def host_communities(self, *, iterations: int = 5) -> DataFrame:
        """(host, community) — LPA community membership over the
        crawled host graph (operators/communities.py; see the module
        docstring for the crawl uses: link-farm grouping around an
        Anti-TrustRank hit, per-community budgets, shard-locality
        hints). Runs on :meth:`host_graph`'s edge export — host
        cardinality, executor-trivial next to the page corpus. Derived
        output, not state: nothing commits."""
        from crawlers_spark.operators.communities import host_communities

        edges, _ = self.host_graph()
        return host_communities(edges.select("from_host", "to_host"), iterations=iterations)

    def related_pages(self, *, k: int = 5, max_fanout: int = 100, min_cocite: int = 2) -> DataFrame:
        """(url_canon, rank, related_url, cocite) — co-citation related
        pages over everything crawled so far (operators/linkrank.py;
        Dean & Henzinger 1999): seed-expansion and mirror-grouping
        material. Like ``anchor_index`` this reads only the persisted
        ``kind='link'`` rows' URL columns. Derived output, nothing
        commits."""
        from crawlers_spark.operators.linkrank import related_pages

        links = self._read_wave_out("link").select("url", "out_url")
        edges = with_canonical_url(
            with_canonical_url(links, "url", "src_canon", host_out=None),
            "out_url", "dst_canon", host_out=None,
        ).select("src_canon", "dst_canon")
        return related_pages(
            edges, k=k, max_fanout=max_fanout, min_cocite=min_cocite
        )

    def mirror_hosts(
        self, *, threshold_pct: int = 50, max_hosts_per_digest: int = 64
    ) -> DataFrame:
        """Host-pair mirror report over everything FETCHED so far
        (operators/mirrors.py; Bharat & Broder 1999): host pairs whose
        distinct ``content_digest`` sets overlap by at least
        ``threshold_pct`` percent of the smaller host. The inter-host
        dual of :meth:`trap_signals`' intra-host duplication — a
        flagged pair means one whole host is a copy and the frontier
        can stop paying politeness budget for it. Uses the same
        visible-text digests the trap gate uses (requires
        ``cfg.page_digests``, force-enabled with trap gating /
        content-seen). Derived output; nothing commits."""
        from crawlers_spark.operators.mirrors import mirror_host_pairs

        pages = self._read_wave_out("page").select("host", "content_digest")
        return mirror_host_pairs(
            pages,
            digest_col="content_digest",
            threshold_pct=threshold_pct,
            max_hosts_per_digest=max_hosts_per_digest,
        )

    def dust_rules(self, *, min_support: int = 2) -> DataFrame:
        """Learned per-host drop-parameter rewrite rules over
        everything FETCHED so far (operators/dust.py; Bar-Yossef et
        al. 2007): query params whose removal provably never changes
        the visible-text digest. Feeds the static canonicalizer's
        strip list with site-specific junk params (`sid`,
        `jsessionid`) no global list knows. Reads only (url,
        content_digest) from committed page rows (requires
        ``cfg.page_digests``). Derived output; nothing commits — the
        operator of record for applying rules is
        operators/dust.py ``apply_dust_rules``."""
        from crawlers_spark.operators.dust import dust_param_rules

        pages = self._read_wave_out("page").select("url", "content_digest")
        return dust_param_rules(
            pages, digest_col="content_digest", min_support=min_support
        )

    def diff_since(self, wave: int) -> DataFrame:
        """(url_canon, status) — what changed since committed ``wave``:
        the crawl-over-crawl delta (operators/recrawl.py
        snapshot_diff) between the page set committed up to and
        including ``wave`` and the full current state. ``added`` URLs
        were first fetched later, ``changed`` were refetched with a
        different visible-text digest, ``removed`` cannot occur within
        one monotone state dir (kept for cross-state-dir diffs).
        Derived output; nothing commits."""
        from crawlers_spark.operators.recrawl import snapshot_diff

        pages = self._read_wave_out("page").select(
            "url_canon", "content_digest", "wave"
        )
        old = pages.where(F.col("wave") <= int(wave)).select(
            "url_canon", F.col("content_digest").alias("digest")
        )
        new = pages.select("url_canon", F.col("content_digest").alias("digest"))
        return snapshot_diff(old, new)

    def trap_signals(self) -> DataFrame:
        """Per-host crawler-trap signals over everything FETCHED so far
        (operators/traps.py): URL-per-content duplication measured on
        the per-page ``content_digest`` (md5 of the page's visible
        text, captured in the wave's single html pass — mirror/session
        traps differ only in hrefs, so raw-html digests would miss
        them), repeated-segment URL loops on the canonical URLs.
        Covers list pages too, not just offer detail pages — calendar
        and session-id traps live on list-shaped URL spaces. Derived
        output; nothing commits (``apply_trap_gate`` does)."""
        from crawlers_spark.operators.traps import trap_host_signals

        pages = self._read_wave_out("page").select("url_canon", "host", "content_digest")
        return trap_host_signals(
            pages,
            max_urls_per_content_pct=self.cfg.trap_max_urls_per_content_pct,
            max_repeat_seg_pct=self.cfg.trap_max_repeat_seg_pct,
        )

    def _read_trap_hosts(self) -> DataFrame | None:
        """Latest committed trap-host denylist (replace semantics, like
        the frontier), or None before the first gate commit."""
        for m in reversed(self.io._manifests()):
            if "trap_hosts" in m["tables"]:
                return self.spark.read.schema("host string").parquet(
                    *[str(self.io.root / rel) for rel in m["tables"]["trap_hosts"]]
                )
        return None

    def apply_trap_gate(self) -> dict:
        """Detect crawler-trap hosts and stop spending budget on them
        (the Heritrix TooManyPathSegments / URL-per-content analog,
        applied crawl-wide instead of per-request). Between waves:

        1. ``trap_signals()`` over every fetched page's
           (url_canon, host, content_digest);
        2. hosts flagged ``is_trap`` join the committed denylist
           (monotone union — once a trap, always a trap for this
           crawl: flip-flopping would make resume ordering depend on
           WHEN the gate ran);
        3. the frontier is pruned of denylisted hosts and both tables
           commit as ONE atomic maintenance wave — a kill between gate
           and next fetch resumes with either the old or the new
           denylist, never a mix. Subsequent waves also anti-join newly
           discovered outlinks against the denylist (broadcast — the
           denylist is host-cardinality-sized), so trap URLs stop
           entering the frontier at the source.

        No-op (nothing fetched yet, or no host trips the thresholds and
        no prior denylist exists) commits nothing and returns
        ``{"wave": None}`` — the caller falls through to fetching the
        same wave number, mirroring ``apply_linkrank``.

        Scale: one groupBy(host) aggregate over the (small, html-free)
        page-meta rows + one broadcast anti-join on the frontier.
        """
        wave = self.io.last_committed_wave() + 1
        if not self._kind_paths("page"):
            return {"wave": None, "trap_hosts": 0}
        traps = self.trap_signals().where(F.col("is_trap")).select("host")
        prev = self._read_trap_hosts()
        if prev is not None:
            traps = traps.unionByName(prev).dropDuplicates(["host"])
        rel_t = self._stage(traps, "trap_hosts", wave, "coalesce")
        n = self._rowcount([rel_t])
        if n == 0 and prev is None:
            return {"wave": None, "trap_hosts": 0}
        traps_disk = self.spark.read.schema("host string").parquet(str(self.io.root / rel_t))
        pruned = self._read_frontier().join(F.broadcast(traps_disk), "host", "left_anti")
        rel_f = self._stage(pruned, "frontier", wave, "none")
        m = self._rowcount([rel_f])
        self.io.commit_wave(
            wave,
            {"trap_hosts": [rel_t], "frontier": [rel_f]},
            {"trap_hosts": n, "trap_frontier": m},
        )
        return {"wave": wave, "trap_hosts": n, "frontier": m}

    # ---------------------------------------------------------- maintain
    def compact(self) -> str | None:
        """Compact wave_out's per-wave dirs into one (maintenance job
        for long crawls — bounds the per-wave directory listing; see
        ``SnapshotParquetIO.compact_table``), then checkpoint the
        manifest log so steady-state reads parse O(compact_every)
        manifests instead of O(total waves) — without this the DRIVER
        side of every wave grows linearly with crawl age even though
        the data listing is bounded. Safe at any point between waves:
        readers and resume see identical state."""
        rel = self.io.compact_table("wave_out")
        # the checkpoint folds away the manifests shards_current walks,
        # so it records which shard tables still cover the seen set
        ms = self.io._manifests()
        # frontier + filter shards + trap denylist are latest-version-wins
        # state; the checkpoint must not fold their historical snapshots
        # together (trap_hosts is monotone today, but folding would both
        # scan every historical snapshot dir on read and resurrect
        # removed hosts if gate semantics ever allow removal — r3 ADVICE)
        self.io.checkpoint(
            snapshot_tables=("frontier", "bloom", "cuckoo", "trap_hosts", "opic"),
            meta={
                "current_filters": [t for t in ("bloom", "cuckoo") if shards_current(ms, t)]
            },
        )
        return rel

    def expire(self, keep_waves: int = 100) -> dict:
        """Retention: drop manifests + data dirs more than ``keep_waves``
        below the current wave (``SnapshotParquetIO.expire_snapshots``).
        Bounds DISK growth the way ``compact`` bounds listing growth;
        time travel below the horizon is gone. Requires a checkpoint at
        or above the horizon — call ``compact()`` first."""
        return self.io.expire_snapshots(
            before_wave=self.io.last_committed_wave() - keep_waves
        )

    # ------------------------------------------------------------ outputs
    def offers(self) -> DataFrame:
        return self._read_wave_out("offer").select(
            "url", F.col("src_source").alias("source"), "title", "company",
            "location", "salary", "description", "publication_ts",
            "extracted_text", "wave",
        )

    def host_report(self) -> DataFrame:
        """CrawlDb-style per-host status rollup (the Nutch `readdb
        -stats` analog, public semantics): one row per host with
        fetched / offer / robots-denied / retry-exhausted / tombstoned
        / revalidated counts and the first/last fetch wave — the
        operational dashboard a continuous crawl publishes. One scan
        of the kind-partitioned wave_out leaves + one host-keyed hash
        agg; hosts derive from url_canon (tagged key rows carry typed
        nulls for every column but the key)."""
        # kind is the hive PARTITION dir — the direct leaf reads don't
        # recover it as a column, so read per kind and tag explicitly
        host = F.lower(F.parse_url(F.col("url_canon"), F.lit("HOST")))
        kinds = ("page", "offer", "denied", "exhausted", "tombstone", "revalidated")
        parts = [
            self._read_wave_out(k).select(
                host.alias("host"), F.lit(k).alias("kind"), "wave"
            )
            for k in kinds
        ]
        wo = parts[0]
        for p_ in parts[1:]:
            wo = wo.unionByName(p_)

        def n_of(kind: str):
            return F.count(F.when(F.col("kind") == kind, 1)).alias(f"n_{kind}")

        return (
            wo.groupBy("host")
            .agg(
                n_of("page"),
                n_of("offer"),
                n_of("denied"),
                n_of("exhausted"),
                n_of("tombstone"),
                n_of("revalidated"),
                F.min(F.when(F.col("kind") == "page", F.col("wave"))).alias("first_wave"),
                F.max(F.when(F.col("kind") == "page", F.col("wave"))).alias("last_wave"),
            )
        )

    def export_corpus(self, out_dir, **kw) -> dict:
        """Training-corpus export over this crawl's extracted pages
        (plans/corpus.py): exact dedup → Gopher gate → lang-ID →
        near-dup canonical selection → PII scrub → token-balanced
        shards, written shard-partitioned to ``out_dir``. Returns the
        stage funnel. Deterministic — a re-export of the same
        committed state is row-identical."""
        from crawlers_spark.plans.corpus import export_training_corpus

        return export_training_corpus(self.offers(), out_dir, **kw)

    def wave_log(self) -> DataFrame:
        return self._read_wave_out("page").select(
            "wave", "host", "url_canon", F.col("host_rank").cast("int").alias("host_rank")
        )

    def lineage(self) -> DataFrame:
        return self.io.read("lineage", LINEAGE_SCHEMA)

    def seen(self) -> DataFrame:
        return self._read_seen()

    def update_politeness(self, fetch_log: DataFrame, **aimd_kw) -> None:
        """Swap the politeness broadcast state for an AIMD-adapted one
        (``operators.politeness.adaptive_politeness``) derived from
        observed ``(host, ok, latency_ms)`` fetch outcomes — the live-
        transport feedback loop. In-memory state only: the operator is
        deterministic, so a resumed run re-applying the same committed
        fetch log reconstructs the identical table.
        """
        from crawlers_spark.operators.politeness import adaptive_politeness

        old = self.politeness
        self.politeness = adaptive_politeness(old, fetch_log, **aimd_kw).persist()
        old.unpersist()
        old_budget = self._p_budget
        self._p_budget = politeness_budget_table(
            self.politeness, self.cfg.wave_interval_s
        ).persist()
        old_budget.unpersist()
