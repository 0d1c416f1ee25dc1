"""Token-budget mixing (operators/sampling.py token_budget_sample):
two-phase ≡ naive single-window equality, boundary-doc inclusion,
budget-zero strata, hashlib replay of the ordering contract, and
partitioning invariance."""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from crawlers_spark.operators.sampling import token_budget_sample  # noqa: E402

BUDGETS = {"en": 100, "fr": 40}


def _docs(spark, n=60, n_parts=None, fractional=False):
    # fractional: quarter-token steps, so every partial sum is exact in
    # a double and summation order cannot move a truncated prefix
    rows = [
        (i, "en" if i % 3 else "fr", 7 + (i * 13) % 23 + (i % 4 / 4 if fractional else 0))
        for i in range(n)
    ]
    typ = "double" if fractional else "long"
    df = spark.createDataFrame(rows, f"doc_id long, lang string, n_tokens {typ}")
    return df.repartition(n_parts) if n_parts else df


def _naive(df, budgets, default=0):
    """Single window per stratum — the semantics oracle."""
    h = F.substring(F.md5(F.concat(F.lit("budget|"), F.col("doc_id").cast("string"))), 1, 8)
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    budget = F.lit(default)
    for k, v in sorted(budgets.items()):
        budget = F.when(F.col("lang") == k, F.lit(v)).otherwise(budget)
    return (
        df.withColumn(
            "cum_prev",
            F.coalesce(
                F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("bigint"),
        )
        .where(F.col("cum_prev") < budget)
    )


def _key(df):
    return {(r.doc_id, r.lang, r.n_tokens, r.cum_prev) for r in df.collect()}


def test_two_phase_equals_naive(spark):
    df = _docs(spark)
    got = _key(token_budget_sample(df, "doc_id", "lang", "n_tokens", BUDGETS))
    exp = _key(_naive(df, BUDGETS))
    assert got == exp and len(exp) > 0


def test_two_phase_equals_naive_fractional_tokens(spark):
    df = _docs(spark, fractional=True)
    got = _key(token_budget_sample(df, "doc_id", "lang", "n_tokens", BUDGETS))
    exp = _key(_naive(df, BUDGETS))
    assert got == exp and len(exp) > 0


def test_boundary_doc_included_and_budget_respected(spark):
    df = _docs(spark)
    kept = token_budget_sample(df, "doc_id", "lang", "n_tokens", BUDGETS).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        b = BUDGETS[lang]
        # every kept doc started under budget; the heaviest prefix is
        # the boundary doc (cum_prev < b but cum_prev + tokens may pass)
        assert all(r.cum_prev < b for r in rows)
        total_prev = max(r.cum_prev for r in rows)
        assert total_prev < b


def test_hash_order_replay(spark):
    """The kept set is the prefix of hashlib-md5 order — replayed in
    pure python."""
    df = _docs(spark, n=30)
    rows = df.collect()
    kept = {
        r.doc_id
        for r in token_budget_sample(df, "doc_id", "lang", "n_tokens", BUDGETS).collect()
    }
    exp = set()
    for lang in {"en", "fr"}:
        docs = sorted(
            (r for r in rows if r.lang == lang),
            key=lambda r: (hashlib.md5(f"budget|{r.doc_id}".encode()).hexdigest()[:8], r.doc_id),
        )
        cum = 0
        for r in docs:
            if cum < BUDGETS[lang]:
                exp.add(r.doc_id)
            cum += r.n_tokens
    assert kept == exp


def test_default_budget_zero_drops_unlisted(spark):
    df = _docs(spark)
    kept = token_budget_sample(
        df, "doc_id", "lang", "n_tokens", {"fr": 40}, default_budget=0
    ).collect()
    assert all(r.lang == "fr" for r in kept)


def test_partitioning_invariance(spark):
    a = _key(token_budget_sample(_docs(spark, n_parts=1), "doc_id", "lang", "n_tokens", BUDGETS))
    b = _key(token_budget_sample(_docs(spark, n_parts=11), "doc_id", "lang", "n_tokens", BUDGETS))
    assert a == b


# ------------------------- training-shard assignment
def test_shard_assignment_contract(spark):
    from crawlers_spark.operators.sampling import assign_token_shards

    df = _docs(spark, n=80)
    out = assign_token_shards(df, "doc_id", "n_tokens", shard_tokens=120).collect()
    assert len(out) == 80  # every doc assigned
    # shard == cum_prev // shard_tokens for every row
    assert all(r.shard == r.cum_prev // 120 for r in out)
    # shards are contiguous 0..max with no gaps
    shards = sorted({r.shard for r in out})
    assert shards == list(range(len(shards)))
    # every full shard's token mass reaches the target (last may not)
    mass = {}
    for r in out:
        mass[r.shard] = mass.get(r.shard, 0) + r.n_tokens
    for s in shards[:-1]:
        assert mass[s] + max(r.n_tokens for r in out) > 120
        # a shard never starts past the cut: its first doc began < (s+1)*target
        firsts = min(r.cum_prev for r in out if r.shard == s)
        assert firsts < (s + 1) * 120


def test_shard_assignment_partitioning_invariance(spark):
    from crawlers_spark.operators.sampling import assign_token_shards

    a = {
        (r.doc_id, r.shard, r.cum_prev)
        for r in assign_token_shards(
            _docs(spark, n=80, n_parts=1), "doc_id", "n_tokens", shard_tokens=120
        ).collect()
    }
    b = {
        (r.doc_id, r.shard, r.cum_prev)
        for r in assign_token_shards(
            _docs(spark, n=80, n_parts=13), "doc_id", "n_tokens", shard_tokens=120
        ).collect()
    }
    assert a == b


def test_shard_rejects_nonpositive(spark):
    import pytest

    from crawlers_spark.operators.sampling import assign_token_shards

    with pytest.raises(ValueError):
        assign_token_shards(_docs(spark, n=3), "doc_id", "n_tokens", shard_tokens=0)
