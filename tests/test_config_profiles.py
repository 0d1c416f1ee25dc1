"""CrawlConfig scale profiles (r3 VERDICT hygiene): the cluster preset
removes the sandbox foot-guns in one place; the plain constructor stays
the sandbox profile; the session sizes each stage's tasks to its data."""

from __future__ import annotations

import pytest

from crawlers_spark.plans.wave import CrawlConfig


def test_cluster_profile_removes_sandbox_footguns():
    c = CrawlConfig.cluster_profile()
    assert c.output_coalesce is None  # no hot-path coalesce at TB scale
    assert c.compact_every is not None
    # 10^10-key seen-filter geometry: ~2 GiB of bloom bits total
    assert c.bloom_shards * c.bloom_bits_per_shard >= 10**10
    assert c.cuckoo_buckets_per_shard > CrawlConfig().cuckoo_buckets_per_shard
    # the Bloom prefilter pays off only at cluster scale
    assert c.seen_filter == "bloom"


def test_sandbox_defaults_unchanged():
    c = CrawlConfig()
    assert c.output_coalesce == 4
    assert c.seen_filter == "none"  # exact anti-join only: fastest on one box


def test_overrides_win():
    c = CrawlConfig.cluster_profile(bloom_shards=7, seen_filter="cuckoo")
    assert c.bloom_shards == 7
    assert c.seen_filter == "cuckoo"
    assert CrawlConfig.cluster_profile(seen_filter="none").seen_filter == "none"
    assert c.output_coalesce is None  # untouched profile values stay
    # a removed option fails loudly instead of being ignored
    with pytest.raises(TypeError):
        CrawlConfig.cluster_profile(pipeline_waves=True)


def test_politeness_two_phase_equals_one_shot(spark):
    """apply_politeness over a precomputed politeness_budget_table (the
    engine's amortized path) is row-identical to the one-shot
    politeness_budget on every wave, including missing-host defaults
    and delay > interval cadences."""
    from crawlers_spark.operators.politeness import (
        apply_politeness,
        politeness_budget,
        politeness_budget_table,
    )
    from pyspark.sql import functions as F

    frontier = spark.createDataFrame(
        [(f"h{i % 5}", f"u{i}") for i in range(40)], "host string, url_canon string"
    )
    pol = spark.createDataFrame(
        [
            ("h0", 0.5, 200),
            ("h1", 120.0, 10),   # delay > interval → cadence gate
            ("h2", None, None),  # explicit nulls → defaults
            ("h3", 30.0, 0),     # budget 0 → full block
            # h4 missing entirely → python-side defaults
        ],
        "host string, delay_s double, max_per_wave int",
    )
    table = politeness_budget_table(pol, 60.0)
    for wave in range(0, 5):
        one = sorted(
            map(tuple, politeness_budget(frontier, pol, wave, 60.0).collect())
        )
        two = sorted(
            map(tuple, apply_politeness(frontier, table, wave, 60.0).collect())
        )
        assert one == two, wave


def test_session_coalesces_persisted_frames(spark):
    """spark.sql.shuffle.partitions is a ceiling: a persisted tiny
    aggregate materializes with at most defaultParallelism partitions,
    so the stages downstream of a cached per-wave frame stay small."""
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * cores))
    try:
        agg = spark.range(1000).groupBy((F.col("id") % 3).alias("k")).count().persist()
        assert agg.count() == 3
        assert agg.rdd.getNumPartitions() <= cores
        agg.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
