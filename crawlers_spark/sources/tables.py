"""Snapshot-committed table storage (SURVEY.md §7.2).

The engine's durable state (frontier, seen, offers, lineage, bloom
shards) lives in *tables with atomic, versioned wave commits* — the
role Iceberg plays in the north-star deployment. This sandbox has no
Iceberg runtime jar and no network, so the default implementation is
``SnapshotParquetIO``: parquet data directories plus a tiny JSON
wave-manifest log with POSIX-rename atomicity. Semantics preserved
from Iceberg that the engine depends on:

- **atomic multi-table commit**: a wave's writes to offers + frontier +
  seen + lineage become visible all-or-nothing (single manifest rename);
- **snapshot reads**: readers see exactly the set of files pinned by
  committed manifests — crashed writes are invisible;
- **time travel / resume**: ``read(table, as_of_wave=k)`` reconstructs
  any table as of wave k, which is what wave-resume (O16) replays from.

``IcebergTableIO`` sketches the real-catalog binding (``MERGE``/
snapshot reads via SQL); it activates only when an Iceberg catalog is
configured on the session and is intentionally untested here.

On a real cluster the manifest dir sits on the shared filesystem
(HDFS/S3 — rename-atomicity per object store semantics or a metastore
lock); all data moves through executors, never the driver.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class TableIO:
    """Interface: append data files, commit waves atomically, snapshot-read."""

    def stage(self, df: DataFrame, table: str, wave: int) -> str:
        raise NotImplementedError

    def commit_wave(self, wave: int, table_files: dict[str, list[str]], meta: dict | None = None) -> None:
        raise NotImplementedError

    def read(self, table: str, schema: str | None = None, as_of_wave: int | None = None) -> DataFrame:
        raise NotImplementedError

    def last_committed_wave(self) -> int:
        raise NotImplementedError


class SnapshotParquetIO(TableIO):
    """Parquet dirs + JSON wave manifests with rename-atomic commits."""

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        (self.root / "_wavelog").mkdir(parents=True, exist_ok=True)
        # manifest files are immutable once renamed into place, so a
        # per-instance parse cache is safe (keyed by filename)
        self._manifest_cache: dict[str, dict] = {}

    # -------------------------------------------------------------- write
    def stage(self, df: DataFrame, table: str, wave: int, partition_by: str | None = None) -> str:
        """Write df as an uncommitted data dir; return its relative path.

        ``partition_by`` hive-partitions the dir (e.g. by row ``kind``)
        so per-kind reads directory-prune and per-kind row counts come
        from that subtree's parquet footers.
        """
        rel = f"{table}/data/w{wave:06d}-{uuid.uuid4().hex[:8]}"
        (self.root / table / "data").mkdir(parents=True, exist_ok=True)
        w = df.write.mode("overwrite")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(str(self.root / rel))
        return rel

    def commit_wave(self, wave: int, table_files: dict[str, list[str]], meta: dict | None = None) -> None:
        """Atomically publish all of a wave's staged dirs (single rename)."""
        manifest = {"wave": wave, "tables": table_files, "meta": meta or {}}
        tmp = self.root / "_wavelog" / f".tmp-{uuid.uuid4().hex}.json"
        final = self.root / "_wavelog" / f"wave-{wave:06d}.json"
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, final)  # POSIX atomic: wave is now visible

    # --------------------------------------------------------------- read
    def _load(self, p: Path) -> dict:
        m = self._manifest_cache.get(p.name)
        if m is None:
            m = self._manifest_cache[p.name] = json.loads(p.read_text())
        return m

    def _manifests(self, as_of_wave: int | None = None, use_checkpoint: bool = True) -> list[dict]:
        """Committed manifests in commit order.

        Without checkpoints every call parses O(waves) JSON files, which
        makes per-wave driver cost quadratic over a thousand-wave crawl.
        A CHECKPOINT manifest (``…~zcheck…``, written by
        ``checkpoint()``) folds everything before it into one entry —
        the Iceberg metadata-checkpoint analog — so steady-state reads
        parse only the checkpoint plus the manifests committed since.
        ``use_checkpoint=False`` forces the full history (vacuum needs
        superseded dirs to stay live for time travel).
        """
        files = sorted((self.root / "_wavelog").glob("wave-*.json"))
        if use_checkpoint:
            for i in range(len(files) - 1, -1, -1):
                if "~zcheck" not in files[i].name:
                    continue
                ckpt = self._load(files[i])
                if as_of_wave is None or ckpt["wave"] <= as_of_wave:
                    files = [files[i]] + files[i + 1 :]
                    break
        out = []
        for p in files:
            m = self._load(p)
            if as_of_wave is None or m["wave"] <= as_of_wave:
                out.append(m)
        return out

    def checkpoint(self, snapshot_tables: tuple[str, ...] = (), meta: dict | None = None) -> None:
        """Fold the full manifest history into one checkpoint manifest.

        Captures the committed dirs of every table at the current wave:
        cumulative (with ``replaces`` applied) for append-style tables
        like ``wave_out``/``lineage``, but only the LAST writing
        manifest's dirs for ``snapshot_tables`` — tables the engine
        reads with latest-manifest-wins semantics (frontier, bloom/
        cuckoo shard versions), where folding the full history would
        union every historical snapshot. The checkpoint's name sorts
        after that wave's ordinary and ``~compact`` manifests, so newer
        commits strictly follow it; older manifest files stay on disk
        untouched for time travel below the checkpoint wave. Typically
        called right after ``compact_table`` so the folded entry is
        small. ``meta`` joins the checkpoint's own meta: facts the
        caller derives from the folded manifests' meta, which the
        checkpoint drops.
        """
        ms = self._manifests(use_checkpoint=False)
        if not ms:
            return
        tables: dict[str, list[str]] = {}
        for m in ms:
            for t in m.get("replaces", []):
                tables[t] = []
            for t, rels in m["tables"].items():
                if t in snapshot_tables:
                    tables[t] = list(rels)  # latest writer wins
                else:
                    tables.setdefault(t, []).extend(rels)
        manifest = {
            "wave": ms[-1]["wave"],
            "tables": tables,
            "replaces": sorted(tables),
            "meta": {"checkpoint": True, "folded_manifests": len(ms), **(meta or {})},
        }
        tmp = self.root / "_wavelog" / f".tmp-{uuid.uuid4().hex}.json"
        final = (
            self.root
            / "_wavelog"
            / f"wave-{ms[-1]['wave']:06d}~zcheck-{uuid.uuid4().hex[:8]}.json"
        )
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, final)

    def committed_dirs(self, table: str, as_of_wave: int | None = None) -> list[str]:
        out: list[str] = []
        for m in self._manifests(as_of_wave):
            if table in m.get("replaces", []):
                out = []  # compaction manifest supersedes earlier entries
            out.extend(str(self.root / rel) for rel in m["tables"].get(table, []))
        return out

    def read(self, table: str, schema: str | None = None, as_of_wave: int | None = None) -> DataFrame:
        dirs = self.committed_dirs(table, as_of_wave)
        if not dirs:
            if schema is None:
                raise ValueError(f"table {table!r} empty and no schema given")
            return self.spark.createDataFrame([], schema)
        # hive-partitioned staged dirs (stage(partition_by=…)) cannot go
        # through one multi-path read — Spark refuses partition discovery
        # over several roots — so union per-dir reads. Plan size grows
        # with wave count; a real Iceberg deployment compacts manifests
        # instead (SnapshotParquetIO is the sandbox stand-in).
        if len(dirs) > 1 and any(
            p.is_dir() and "=" in p.name for p in Path(dirs[0]).iterdir()
        ):
            from functools import reduce

            dfs = [self.spark.read.parquet(d) for d in dirs]
            return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        if schema is not None:
            # explicit schema skips the per-call driver-side footer read
            return self.spark.read.schema(schema).parquet(*dirs)
        return self.spark.read.parquet(*dirs)

    def last_committed_wave(self) -> int:
        ms = self._manifests()
        return ms[-1]["wave"] if ms else -1

    def wave_meta(self, wave: int) -> dict:
        p = self.root / "_wavelog" / f"wave-{wave:06d}.json"
        return json.loads(p.read_text())

    # ----------------------------------------------------------- maintain
    def compact_table(self, table: str) -> str | None:
        """Rewrite every committed dir of ``table`` into ONE dir and
        commit a superseding manifest entry (``replaces``) — the
        SnapshotParquetIO analog of Iceberg snapshot compaction.

        Long crawls accumulate one staged dir per wave; per-wave reads
        then list O(waves) directories. Compaction bounds that: readers
        before and after see identical rows (the superseding manifest
        is one atomic rename), ``last_committed_wave`` is unchanged
        (same wave id; the ``~compact`` name sorts after the base
        manifest), and time-travel to waves before the compaction still
        resolves through the older manifests. Superseded data dirs stay
        on disk for those reads — a retention job may delete manifests
        older than wave k and then ``vacuum_uncommitted``.

        Returns the new relative dir, or None if there is ≤1 dir.
        """
        dirs = self.committed_dirs(table)
        if len(dirs) <= 1:
            return None
        wave = self.last_committed_wave()
        rel = f"{table}/data/compact-w{wave:06d}-{uuid.uuid4().hex[:8]}"
        part_col = next(
            (
                p.name.split("=", 1)[0]
                for p in Path(dirs[0]).iterdir()
                if p.is_dir() and "=" in p.name
            ),
            None,
        )
        w = self.read(table).write.mode("overwrite")
        if part_col is not None:
            w = w.partitionBy(part_col)
        w.parquet(str(self.root / rel))
        manifest = {
            "wave": wave,
            "tables": {table: [rel]},
            "replaces": [table],
            "meta": {"compacted_dirs": len(dirs)},
        }
        tmp = self.root / "_wavelog" / f".tmp-{uuid.uuid4().hex}.json"
        final = self.root / "_wavelog" / f"wave-{wave:06d}~compact-{uuid.uuid4().hex[:8]}.json"
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, final)
        return rel

    def vacuum_uncommitted(self) -> int:
        """Drop staged dirs no manifest references (crash leftovers).

        Scans the FULL manifest history (``use_checkpoint=False``):
        dirs superseded by compaction are still referenced by old
        manifests and must stay on disk for time travel."""
        live = {
            rel
            for m in self._manifests(use_checkpoint=False)
            for rels in m["tables"].values()
            for rel in rels
        }
        removed = 0
        for data_dir in self.root.glob("*/data"):
            for d in data_dir.iterdir():
                rel = str(d.relative_to(self.root))
                if rel not in live:
                    shutil.rmtree(d, ignore_errors=True)
                    removed += 1
        return removed

    def expire_snapshots(self, before_wave: int) -> dict:
        """Retention (the Iceberg ``expire_snapshots`` analog): drop
        manifest files strictly below ``before_wave``, then vacuum the
        data dirs only those manifests referenced. Time travel below
        ``before_wave`` is gone afterwards; current reads are untouched.

        Requires a checkpoint at or above ``before_wave`` to already
        exist (otherwise cumulative tables would lose committed dirs
        that only old manifests pin) — raises if none does.
        """
        if before_wave <= 0:
            return {"manifests_expired": 0, "dirs_vacuumed": 0}
        files = sorted((self.root / "_wavelog").glob("wave-*.json"))
        ckpt_ok = any(
            "~zcheck" in p.name and self._load(p)["wave"] >= before_wave - 1
            for p in files
        )
        if not ckpt_ok:
            raise RuntimeError(
                f"no checkpoint at wave >= {before_wave - 1}: run checkpoint() first"
            )
        expired = 0
        for p in files:
            if "~zcheck" not in p.name and self._load(p)["wave"] < before_wave:
                p.unlink()
                self._manifest_cache.pop(p.name, None)
                expired += 1
        # old checkpoints below the newest surviving one are also dead
        ckpts = [p for p in sorted((self.root / "_wavelog").glob("wave-*~zcheck*.json"))]
        for p in ckpts[:-1]:
            p.unlink()
            self._manifest_cache.pop(p.name, None)
            expired += 1
        return {"manifests_expired": expired, "dirs_vacuumed": self.vacuum_uncommitted()}

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class IcebergTableIO(TableIO):
    """Real-Iceberg binding (activate with iceberg-spark-runtime on the
    classpath and a configured catalog; unavailable in this sandbox)."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        try:
            spark.sql(f"USE {catalog}.{namespace}")
        except Exception as exc:  # jar/catalog missing
            raise RuntimeError(
                "Iceberg catalog unavailable — use SnapshotParquetIO "
                "(add --packages org.apache.iceberg:iceberg-spark-runtime to enable)"
            ) from exc
        self.spark, self.catalog, self.ns = spark, catalog, namespace

    def stage(self, df: DataFrame, table: str, wave: int) -> str:
        tmp = f"{self.catalog}.{self.ns}._stage_{table}_{wave}"
        df.writeTo(tmp).createOrReplace()
        return tmp

    def commit_wave(self, wave: int, table_files: dict[str, list[str]], meta: dict | None = None) -> None:
        # single multi-table transaction is not portable; per-table appends
        # with a last-written lineage row as the commit marker
        for table, stages in table_files.items():
            for st in stages:
                self.spark.table(st).writeTo(f"{self.catalog}.{self.ns}.{table}").append()

    def read(self, table: str, schema: str | None = None, as_of_wave: int | None = None) -> DataFrame:
        return self.spark.table(f"{self.catalog}.{self.ns}.{table}")

    def last_committed_wave(self) -> int:
        row = self.spark.sql(
            f"SELECT coalesce(max(wave), -1) AS w FROM {self.catalog}.{self.ns}.lineage"
        ).collect()
        return int(row[0]["w"])
