"""URL-seen dedup: exact anti-join (O4) + partitioned Bloom shards (O5).

The reference's seen-set is exact — Scrapy's ``RFPDupeFilter`` SHA1
fingerprint set plus the application-level ``connector.job_exist(url)``
check (public behavior; SURVEY §2.1 O4). Exactness is therefore the
correctness authority here too: the Bloom structure mandated for the
10^10-URL design point (BASELINE.json north_star) only *accelerates*
the anti-join, it never decides "seen" (SURVEY §4.3.2):

    bloom says "definitely new"  → bypass the exact probe entirely
    bloom says "maybe seen"      → exact anti-join against `seen`

A false positive costs one extra probe row; it can never drop a URL
the reference would crawl. Net effect at scale: the anti-join's probe
side shrinks to (true dups + FP rate · new), instead of the whole wave.

The prefilter is the cluster-scale option (``seen_filter="bloom"`` in
``CrawlConfig.cluster_profile()``): it pays only when the seen set
dwarfs the wave's probe. At every scale one box runs, the exact
anti-join alone is faster — 1.63–1.76M vs 0.55–0.62M URLs/s at 8
cores on the 10^7-URL probe (``scripts/bench_seen_scale.py``,
BASELINE.md round 5), and the shard-keyed cogroups plus the
shard-table staging were the largest cost of a small crawl wave — so
the engine default is ``seen_filter="none"``.

Sharding: ``shard_id = pmod(xxhash64(url_canon), n_shards)``; each
shard row carries a packed bit array (``bits: binary``). Probing joins
candidates to their shard row on shard_id and tests k positions per
URL **vectorized in numpy** inside ``applyInPandas`` — the double-hash
scheme position_i = (h1 + i·h2) mod m with h1/h2 computed JVM-side by
``xxhash64`` (two different column seeds), so Python never hashes
strings. Spark's built-in ``DataFrameStatFunctions.bloomFilter`` is a
driver-side singleton — unusable at 10^10 entries — hence shards as
rows (SURVEY §4.3.2).
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOOM_SCHEMA = "shard_id int, version long, bits binary, n_items long"


def anti_join_seen(candidates: DataFrame, seen: DataFrame, key: str = "url_canon") -> DataFrame:
    """Exact O4: candidates not present in seen (left_anti).

    No dedup on the build side — anti-join semantics are unaffected by
    duplicate build rows, so we skip the extra aggregation shuffle.
    """
    return candidates.join(seen.select(key), key, "left_anti")


def content_seen_winners(
    pages: DataFrame,
    prior_digests: DataFrame | None = None,
    *,
    url_col: str = "url",
    order_col: str = "url_canon",
    digest_col: str = "content_digest",
) -> DataFrame:
    """Mercator-style content-seen test over one fetch batch: which
    pages are the FIRST sighting of their content?

    Classic web-crawler dedup (Heydon & Najork's Mercator, §3.2 of the
    1999 paper; Heritrix ships it as an optional dedup rule): a page
    whose content digest was already seen is a mirror/session duplicate
    — its OUTLINKS are not followed, so URL-space mirrors don't double
    the frontier. Determinism contract: digests committed by earlier
    waves always beat the current batch; within the batch the minimum
    ``order_col`` wins (no wall-clock, no partition order).

    Returns the winner rows' ``url_col`` (one row per first sighting;
    pages with a NULL digest — e.g. state written before digests
    existed — are kept unconditionally).

    Scale shape: one left-anti shuffle join on digest against the
    key-only prior set (same shape as the url seen anti-join) + one
    window over the wave-sized batch partitioned by digest. Nothing
    collects; nothing html-sized moves.
    """
    from pyspark.sql import Window

    cur = pages.select(url_col, order_col, digest_col)
    keep_null = cur.where(F.col(digest_col).isNull()).select(url_col)
    fresh = cur.where(F.col(digest_col).isNotNull())
    if prior_digests is not None:
        fresh = fresh.join(
            prior_digests.select(digest_col).where(F.col(digest_col).isNotNull()),
            digest_col,
            "left_anti",
        )
    w = Window.partitionBy(digest_col).orderBy(order_col)
    winners = (
        fresh.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(url_col)
    )
    return winners.unionByName(keep_null)


def _with_hashes(df: DataFrame, key: str) -> DataFrame:
    # two independent 64-bit hashes, both computed JVM-side
    return df.withColumn("_h1", F.xxhash64(F.col(key))).withColumn(
        "_h2", F.xxhash64(F.col(key), F.lit(0x9E3779B9))
    )


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; unsigned arithmetic."""
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64) | np.uint64(1)  # force odd so strides cycle
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


class BloomShards:
    """Partitioned Bloom filter stored as one row per shard."""

    def __init__(self, n_shards: int = 32, bits_per_shard: int = 1 << 20, n_hashes: int = 5):
        if bits_per_shard % 8:
            # the bit array packs to bits/8 BYTES; a non-multiple-of-8
            # size makes the top positions index past the buffer
            # (IndexError executor-side — found sizing shards for the
            # 10^7 seen probe, r5)
            raise ValueError("bits_per_shard must be a multiple of 8")
        self.n_shards = n_shards
        self.m = bits_per_shard
        self.k = n_hashes

    # ------------------------------------------------------------- build
    def build_delta(self, new_seen: DataFrame, version: int, key: str = "url_canon") -> DataFrame:
        """Bit arrays for a batch of newly-seen keys, one row per shard."""
        m, k, n_shards = self.m, self.k, self.n_shards

        def make(pdf: pd.DataFrame) -> pd.DataFrame:
            packed = np.zeros(m // 8, dtype=np.uint8)
            pos = _positions(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), k, m).ravel()
            np.bitwise_or.at(packed, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            return pd.DataFrame(
                {
                    "shard_id": [int(pdf["shard_id"].iloc[0])],
                    "version": [version],
                    "bits": [packed.tobytes()],
                    "n_items": [len(pdf)],
                }
            )

        keyed = _with_hashes(new_seen.select(key), key).withColumn(
            "shard_id", F.pmod(F.xxhash64(F.col(key), F.lit(7)), F.lit(n_shards)).cast("int")
        )
        return keyed.groupBy("shard_id").applyInPandas(make, BLOOM_SCHEMA)

    def update(self, shards: DataFrame | None, new_seen: DataFrame, version: int, key: str = "url_canon") -> DataFrame:
        """Unified engine-facing update (same contract as CuckooShards)."""
        delta = self.build_delta(new_seen, version, key)
        return self.merge(shards, delta, version)

    def merge(self, old: DataFrame | None, delta: DataFrame, version: int) -> DataFrame:
        """OR old and delta shard bits → new shard table at `version`."""
        both = delta if old is None else old.unionByName(delta)

        def orify(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = np.zeros(self.m // 8, dtype=np.uint8)
            for b in pdf["bits"]:
                acc |= np.frombuffer(b, dtype=np.uint8)
            return pd.DataFrame(
                {
                    "shard_id": [int(pdf["shard_id"].iloc[0])],
                    "version": [version],
                    "bits": [acc.tobytes()],
                    "n_items": [int(pdf["n_items"].sum())],
                }
            )

        return both.groupBy("shard_id").applyInPandas(orify, BLOOM_SCHEMA)

    # ------------------------------------------------------------- probe
    def split_new_vs_maybe(self, candidates: DataFrame, shards: DataFrame, key: str = "url_canon") -> DataFrame:
        """Adds ``maybe_seen`` bool: False ⇒ definitely new (bloom proof).

        Implemented as a COGROUP by ``shard_id`` (r5 fix, found by
        `scripts/bench_seen_scale.py` at 10^6 candidates): the previous
        shape joined the shard's whole bit array onto EVERY candidate
        row — Arrow serializes binary per row, so a 128 KiB bitmap
        crossed the Python boundary once per candidate (10^6 rows →
        ~128 GB of transfer) and the per-batch ``groupby`` then hashed
        that huge bytes value per row again. Cogrouping ships each
        bitmap ONCE per (shard, task) and probes the whole candidate
        group vectorized — 1M-probe wall dropped ~40×, now within ~2×
        of the raw exact anti-join. Parallelism equals ``n_shards``;
        size it ≥ cluster cores at scale (the 10^10 design point runs
        thousands of shards).
        """
        m, k = self.m, self.k
        keyed = _with_hashes(candidates, key).withColumn(
            "shard_id", F.pmod(F.xxhash64(F.col(key), F.lit(7)), F.lit(self.n_shards)).cast("int")
        )

        out_fields = candidates.schema.fieldNames() + ["maybe_seen"]
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
        ) + ", maybe_seen boolean"

        def probe(cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
            res = cand.copy()
            if res.empty or shard.empty:
                # no shard row ⇒ nothing ever inserted ⇒ definitely new
                res["maybe_seen"] = np.zeros(len(res), dtype=bool)
                return res[out_fields]
            arr = np.frombuffer(shard["bits"].iloc[0], dtype=np.uint8)
            if len(shard) > 1:  # defensive: unmerged deltas OR together
                arr = arr.copy()
                for b in shard["bits"].iloc[1:]:
                    arr |= np.frombuffer(b, dtype=np.uint8)
            pos = _positions(res["_h1"].to_numpy(), res["_h2"].to_numpy(), k, m)
            hit = (arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            res["maybe_seen"] = hit.all(axis=1)
            return res[out_fields]

        return (
            keyed.groupBy("shard_id")
            .cogroup(shards.select("shard_id", "bits").groupBy("shard_id"))
            .applyInPandas(probe, schema)
        )

    def filter_unseen(self, candidates: DataFrame, shards: DataFrame | None, seen: DataFrame, key: str = "url_canon") -> DataFrame:
        """O5→O4 composition: bloom prefilter, exact guard, exact result."""
        if shards is None:
            return anti_join_seen(candidates, seen, key)
        flagged = self.split_new_vs_maybe(candidates, shards, key)
        definitely_new = flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
        return definitely_new.unionByName(anti_join_seen(maybe, seen, key))


def empty_bloom(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], BLOOM_SCHEMA)


# --------------------------------------------------------------- cuckoo
CUCKOO_SCHEMA = "shard_id int, version long, slots binary, n_items long"


class CuckooShards:
    """Partitioned cuckoo filter — the seen-set prefilter *with
    deletions* (BASELINE.json north_star: "falling back to a
    cuckoo-filter DataFrame for deletions"). Same table shape and probe
    contract as ``BloomShards`` (one row per shard, ``filter_unseen``
    composition with the exact anti-join guard), plus ``apply`` accepts
    delete batches — which freshness recrawl (operators/recrawl.py →
    plans/wave.py ``schedule_recrawls``) needs to evict tombstoned URLs
    so a recrawled key takes the cheap definitely-new lane again.

    Structure per shard: ``n_buckets × 4`` slots of 16-bit fingerprints
    (0 = empty), stored packed in one ``slots: binary`` cell. Buckets
    are the standard pair ``i1 = h(key) mod B`` and
    ``i2 = i1 XOR mix(fp)`` (an involution, so eviction never needs the
    original key). Fingerprints are **multiset** entries — two keys
    colliding on (bucket, fp) occupy two slots — so deleting one key can
    never create a false negative for another, which is the property
    the definitely-new fast path depends on.

    Scale shape: updates are a ``cogroup``-``applyInPandas`` per shard
    (parallelism = n_shards; size shards so one shard's ops fit an
    executor); probes are a broadcast join + vectorized numpy membership
    test per Arrow batch, identical to the bloom probe. All key hashing
    is JVM-side ``xxhash64``; Python only touches fixed-width ints.
    """

    FP_MIX = np.uint64(0x5BD1E995)

    def __init__(self, n_shards: int = 32, buckets_per_shard: int = 1 << 14, slots: int = 4):
        assert buckets_per_shard & (buckets_per_shard - 1) == 0, "buckets must be 2^k"
        self.n_shards = n_shards
        self.n_buckets = buckets_per_shard
        self.slots = slots

    # ------------------------------------------------------------ hashing
    def _keyed(self, df: DataFrame, key: str) -> DataFrame:
        """JVM-side shard / fingerprint / primary-bucket columns."""
        return (
            df.withColumn(
                "shard_id",
                F.pmod(F.xxhash64(F.col(key), F.lit(7)), F.lit(self.n_shards)).cast("int"),
            )
            # fp ∈ [1, 65535] — 0 is the empty-slot sentinel
            .withColumn(
                "_fp",
                (F.pmod(F.xxhash64(F.col(key), F.lit(13)), F.lit(65535)) + 1).cast("int"),
            )
            .withColumn(
                "_i1",
                F.pmod(F.xxhash64(F.col(key), F.lit(29)), F.lit(self.n_buckets)).cast("int"),
            )
        )

    def _alt(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        mixed = (fp.astype(np.uint64) * self.FP_MIX) & np.uint64(self.n_buckets - 1)
        return (i.astype(np.uint64) ^ mixed).astype(np.int64)

    # ------------------------------------------------------------- update
    def apply(
        self,
        shards: DataFrame | None,
        inserts: DataFrame | None,
        deletes: DataFrame | None,
        version: int,
        key: str = "url_canon",
    ) -> DataFrame:
        """New shard table at ``version`` after inserts then deletes.

        Raises (executor-side) on capacity exhaustion or on deleting a
        fingerprint that is not present — both indicate caller bugs
        (deleting a never-inserted key silently would eventually corrupt
        another key's membership), so the failure mode is loud.
        """
        some = next(df for df in (inserts, deletes, shards) if df is not None)
        spark = some.sparkSession
        ops = spark.createDataFrame([], "shard_id int, _fp int, _i1 int, _op int")
        for df, op in ((inserts, 1), (deletes, -1)):
            if df is not None:
                tagged = (
                    self._keyed(df.select(key).dropDuplicates([key]), key)
                    .select("shard_id", "_fp", "_i1")
                    .withColumn("_op", F.lit(op))
                )
                ops = ops.unionByName(tagged)
        if shards is None:
            shards = spark.createDataFrame([], CUCKOO_SCHEMA)
        n_buckets, slots, alt = self.n_buckets, self.slots, self._alt

        def upd(op_key, op_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
            if shard_pdf.empty:
                table = np.zeros((n_buckets, slots), dtype=np.uint16)
                n_items = 0
            else:
                table = (
                    np.frombuffer(shard_pdf["slots"].iloc[0], dtype=np.uint16)
                    .reshape(n_buckets, slots)
                    .copy()
                )
                n_items = int(shard_pdf["n_items"].iloc[0])
            for phase in (1, -1):  # inserts first, then deletes
                sub = op_pdf[op_pdf["_op"] == phase]
                if sub.empty:
                    continue
                fps = sub["_fp"].to_numpy(np.uint16)
                i1s = sub["_i1"].to_numpy(np.int64)
                i2s = alt(i1s, fps)
                if phase == 1:
                    for fp, i1, i2 in zip(fps, i1s, i2s):
                        n_items += 1
                        empt = np.flatnonzero(table[i1] == 0)
                        if empt.size:
                            table[i1, empt[0]] = fp
                            continue
                        empt = np.flatnonzero(table[i2] == 0)
                        if empt.size:
                            table[i2, empt[0]] = fp
                            continue
                        # eviction chain — deterministic victim slot
                        cur_fp, cur_i = fp, int(i2)
                        for kick in range(500):
                            victim = kick % slots
                            cur_fp, table[cur_i, victim] = table[cur_i, victim], cur_fp
                            cur_i = int(alt(np.array([cur_i]), np.array([cur_fp], np.uint16))[0])
                            empt = np.flatnonzero(table[cur_i] == 0)
                            if empt.size:
                                table[cur_i, empt[0]] = cur_fp
                                break
                        else:
                            raise RuntimeError(
                                f"cuckoo shard over capacity ({n_items}/{n_buckets * slots})"
                                " — raise buckets_per_shard or n_shards"
                            )
                else:
                    for fp, i1, i2 in zip(fps, i1s, i2s):
                        hit = np.flatnonzero(table[i1] == fp)
                        if not hit.size:
                            hit = np.flatnonzero(table[i2] == fp)
                            i1 = i2
                        if not hit.size:
                            raise RuntimeError(
                                "cuckoo delete of absent fingerprint — deleting a key "
                                "that was never inserted corrupts the filter"
                            )
                        table[i1, hit[0]] = 0
                        n_items -= 1
            return pd.DataFrame(
                {
                    "shard_id": [int(op_key[0])],
                    "version": [version],
                    "slots": [table.tobytes()],
                    "n_items": [n_items],
                }
            )

        return (
            ops.groupBy("shard_id")
            .cogroup(shards.select("shard_id", "slots", "n_items").groupBy("shard_id"))
            .applyInPandas(upd, CUCKOO_SCHEMA)
        )

    # unified engine-facing update contract shared with BloomShards
    def update(self, shards: DataFrame | None, new_seen: DataFrame, version: int, key: str = "url_canon") -> DataFrame:
        return self.apply(shards, inserts=new_seen, deletes=None, version=version, key=key)

    def delete(self, shards: DataFrame, gone: DataFrame, version: int, key: str = "url_canon") -> DataFrame:
        return self.apply(shards, inserts=None, deletes=gone, version=version, key=key)

    # -------------------------------------------------------------- probe
    def split_new_vs_maybe(self, candidates: DataFrame, shards: DataFrame, key: str = "url_canon") -> DataFrame:
        """Adds ``maybe_seen``: False ⇒ definitely new (no false negatives
        by the multiset-copies argument above)."""
        n_buckets, slots, alt = self.n_buckets, self.slots, self._alt
        keyed = self._keyed(candidates, key)

        out_fields = candidates.schema.fieldNames() + ["maybe_seen"]
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
        ) + ", maybe_seen boolean"

        # cogroup by shard_id, NOT a per-row slots join — same r5 fix
        # as BloomShards.split_new_vs_maybe (the slot table is 128 KiB+
        # and Arrow serializes binary per row; see that docstring)
        def probe(cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
            res = cand.copy()
            if res.empty or shard.empty:
                res["maybe_seen"] = np.zeros(len(res), dtype=bool)
                return res[out_fields]
            fps = res["_fp"].to_numpy(np.uint16)
            i1s = res["_i1"].to_numpy(np.int64)
            i2s = alt(i1s, fps)
            hit = np.zeros(len(res), dtype=bool)
            for slots_bytes in shard["slots"]:  # defensive: ≥1 version rows
                table = np.frombuffer(slots_bytes, dtype=np.uint16).reshape(
                    n_buckets, slots
                )
                hit |= (table[i1s] == fps[:, None]).any(axis=1) | (
                    table[i2s] == fps[:, None]
                ).any(axis=1)
            res["maybe_seen"] = hit
            return res[out_fields]

        return (
            keyed.groupBy("shard_id")
            .cogroup(shards.select("shard_id", "slots").groupBy("shard_id"))
            .applyInPandas(probe, schema)
        )

    def filter_unseen(self, candidates: DataFrame, shards: DataFrame | None, seen: DataFrame, key: str = "url_canon") -> DataFrame:
        """Same O5→O4 composition as BloomShards: prefilter, exact guard."""
        if shards is None:
            return anti_join_seen(candidates, seen, key)
        flagged = self.split_new_vs_maybe(candidates, shards, key)
        definitely_new = flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
        return definitely_new.unionByName(anti_join_seen(maybe, seen, key))
