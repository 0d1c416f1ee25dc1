"""Large-N URL-seen probe — the north-rule's core machinery at the
biggest N the sandbox holds (round 5).

BASELINE.json's design point is a 10^10-entry URL-seen set; the e2e
fixtures exercise it at 10^3–10^5. This probe synthesizes the shape
directly at 10^7: a deterministic URL grammar (host skew + tracking
params + fragments, the canonicalizer's real diet) generates a SEEN
set of ``n`` canonical URLs and a CANDIDATE wave of ``n`` raw URLs
(50% overlap with seen by construction), then times the production
pipeline stages end-to-end:

  1. ``canonicalize``  — vectorized Arrow canonicalization of the raw
     candidate wave (`with_canonical_url`, the O3 production path);
  2. ``exact_dedup``   — O4 anti-join of the wave against the full
     seen set (join keys only cross the shuffle);
  3. ``bloom_dedup``   — O5→O4: partitioned Bloom-shard prefilter with
     the exact anti-join guard on the maybe-seen residue
     (`BloomShards.filter_unseen` — exactness ASSERTED against #2's
     count every leg, not assumed);
  4. ``frontier_topk`` — O2/O17: adaptive hot-host detection + salted
     two-phase per-host top-k over the whole canonical wave (the
     grammar plants a ~1.1%-of-corpus hot host against a ~1k-row mean).

Everything is generated from ``spark.range`` — no fixture files, no
driver-resident state; both sides live as DataFrames exactly as a
wave does. Interleaved N/4N-core legs (same protocol as the other
scaling probes) neutralize VM drift; efficiency = t_N / t_4N / 4.

Driver memory is fixed by the FIRST session in the process: a JVM's
heap is set when it starts, and every later leg's ``getOrCreate``
reuses that JVM, so the legs all inherit the first leg's
``spark.driver.memory`` (here all legs ask for the same 48g anyway).
Only the core count and shuffle partitions really change per leg.

Usage: python scripts/bench_seen_scale.py [n_urls] [n_cores] [reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

STAGES = ["canonicalize", "exact_dedup", "bloom_dedup", "frontier_topk"]


def _urls(spark, n: int, offset: int, raw: bool):
    """Deterministic synthetic URL table over logical ids
    [offset, offset + n). ``raw=True`` adds the noise the canonicalizer
    strips (scheme/host case, default port, tracking params, fragment)
    so O3 does real work; ``raw=False`` emits the already-canonical
    form of the SAME logical URLs, so overlap between a raw wave and a
    canonical seen set is exact by construction."""
    from pyspark.sql import functions as F

    d = spark.range(n).select((F.col("id") + offset).alias("id"))
    # host skew: a few big job boards + a long tail (hot hosts are what
    # the frontier's salting machinery exists for)
    host_id = F.pmod(
        F.pmod(F.col("id"), F.lit(10007)) * F.pmod(F.col("id"), F.lit(97)),
        F.lit(10007),
    )
    path_id = F.pmod(F.xxhash64(F.col("id"), F.lit("seenprobe")), F.lit(1 << 40))
    h, p = host_id.cast("string"), path_id.cast("string")
    if not raw:
        return d.select(
            F.concat(F.lit("http://h"), h, F.lit(".example/job/"), p).alias("url_canon")
        )
    v = F.pmod(F.col("id"), F.lit(3))  # 3 raw disguises of the same canonical URL
    rawc = (
        F.when(v == 0, F.concat(
            F.lit("HTTP://H"), h, F.lit(".EXAMPLE:80/job/"), p,
            F.lit("?utm_source=feed&utm_campaign=x")))
        .when(v == 1, F.concat(
            F.lit("http://h"), h, F.lit(".example/job/"), p, F.lit("#section-2")))
        .otherwise(F.concat(
            F.lit("http://h"), h, F.lit(".example./job/"), p,
            F.lit("?gclid=abc123&utm_medium=rss")))
    )
    return d.select(rawc.alias("url"))


def run_once(cores: int, n: int) -> dict[str, float]:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores * 4))
        # only the first session's value takes effect: later legs reuse
        # the same driver JVM, whose heap was sized when it started
        .config("spark.driver.memory", "48g")
        .appName(f"seen-scale-{cores}")
        .getOrCreate()
    )
    try:
        from crawlers_spark.functions.canonicalize import with_canonical_url
        from crawlers_spark.operators.dedup import BloomShards, anti_join_seen

        # seen = ids [0, n); wave = ids [n/2, 3n/2) → exactly n/2 overlap
        seen = _urls(spark, n, 0, raw=False).persist()
        n_seen = seen.count()  # materialize outside the timed region
        wave = _urls(spark, n, n // 2, raw=True).persist()
        n_wave = wave.count()

        out: dict[str, float] = {}

        t = time.monotonic()
        canon = with_canonical_url(wave, "url")
        canon.write.format("noop").mode("overwrite").save()
        out["canonicalize"] = time.monotonic() - t

        canon_p = canon.persist()
        canon_p.count()

        t = time.monotonic()
        exact_new = anti_join_seen(canon_p, seen).count()
        out["exact_dedup"] = time.monotonic() - t

        # shards sized ~10 bits/key at 5 hashes (false-positive ~1%);
        # built OUTSIDE the timed probe — a real crawl amortizes the
        # build across every wave between delta merges
        bloom = BloomShards(
            n_shards=64,
            bits_per_shard=max(1 << 20, ((n * 10) // 64 + 63) // 64 * 64),
            n_hashes=5,
        )
        shards = bloom.update(None, seen, version=1).persist()
        shards.count()
        t = time.monotonic()
        bloom_new = bloom.filter_unseen(canon_p, shards, seen).count()
        out["bloom_dedup"] = time.monotonic() - t

        assert bloom_new == exact_new, (bloom_new, exact_new)

        # O2: salted per-host top-k over the whole canonical wave with
        # ADAPTIVE hot-host detection — the grammar's host_id formula
        # concentrates ~1.1% of all URLs on host 0 (a genuinely hot
        # job board vs a ~1k-row mean), which is exactly the skew the
        # two-phase salt machinery exists for
        from pyspark.sql import functions as F

        from crawlers_spark.operators.frontier import (
            detect_hot_hosts, select_wave_topk, with_salt,
        )

        fr = canon_p.select(
            "url_canon",
            F.regexp_extract("url_canon", r"http://([^/]+)/", 1).alias("host"),
            F.pmod(F.xxhash64("url_canon", F.lit("pr")), F.lit(100))
            .cast("int").alias("priority"),
            F.timestamp_seconds(
                F.lit(1704067200) + F.pmod(F.xxhash64("url_canon"), F.lit(86400))
            ).alias("discovered_ts"),
            F.lit(16).alias("budget_k"),
        )
        t = time.monotonic()
        hot = detect_hot_hosts(fr, threshold=4096)
        n_sel = select_wave_topk(with_salt(fr, hot)).count()
        out["frontier_topk"] = time.monotonic() - t

        out["_n_seen"], out["_n_wave"], out["_n_new"] = n_seen, n_wave, exact_new
        out["_n_selected"] = n_sel
        for df in (seen, wave, canon_p, shards):
            df.unpersist()
        return out
    finally:
        spark.stop()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    legs: dict[int, list[dict[str, float]]] = {cores: [], 4 * cores: []}
    for _ in range(reps):
        legs[cores].append(run_once(cores, n))
        legs[4 * cores].append(run_once(4 * cores, n))
    best = {c: {s: min(r[s] for r in rs) for s in STAGES} for c, rs in legs.items()}
    eff = {s: round(best[cores][s] / best[4 * cores][s] / 4.0, 3) for s in STAGES}
    meta = {k: int(legs[cores][0][k]) for k in ("_n_seen", "_n_wave", "_n_new", "_n_selected")}
    print(json.dumps({
        "n_urls": n, "cores": [cores, 4 * cores], "best_s": best,
        "urls_per_sec": {
            c: {s: round(n / best[c][s], 1) for s in STAGES} for c in best
        },
        "efficiency_n_to_4n": eff, **meta,
    }))


if __name__ == "__main__":
    main()
