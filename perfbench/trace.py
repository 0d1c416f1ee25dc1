"""Outside-in per-layer tracing for the traced benchmark run.

The tracer wraps the layer entry points *as the wave plan imports them*
(module attributes of ``crawlers_spark.plans.wave`` and of the bulk
pass, plus methods on the seen-filter, table-IO and engine classes).
It never edits the program: it swaps attributes while installed and
restores them on ``uninstall``.

The wrapped calls return lazy DataFrames, so a span around the call
alone would time plan building only. Each wrapper therefore persists
and counts its output before returning it (and counts its input where
the layer reports ``rows_in``), which runs that layer's own Spark work
inside its span; downstream layers then read the cached rows. Every
persisted frame is unpersisted when its wave ends. This changes how
the wave executes, which is why end-to-end metrics come from the
untraced run and the traced run reports its overhead.

Each span records name, layer, start, end, parent and a shared wave
id; counts are recorded at the same boundaries. Spark jobs are tagged
with ``spark.job.description = "wave=<id> layer=<layer>"`` (set again
inside ``SnapshotParquetIO.stage``, which the engine calls from
``ThreadPoolExecutor`` workers: local properties are per thread), and
``spark_counters`` attributes the event log's jobs, stages, tasks,
shuffle bytes and scanned files to waves and layers. Spans stay in
memory until ``dump``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# layer name -> the names wrapped for it (documentation and dump only)
LAYERS = {
    "frontier": ("apply_politeness", "with_salt", "select_wave_topk"),
    "robots": ("robots_flag",),
    "dedup": ("BloomShards/CuckooShards.filter_unseen", ".update"),
    "fetch": ("fetch_split",),
    "extract": ("extract_page_outputs",),
    "canon": ("with_canonical_url",),
    "tables": ("SnapshotParquetIO.stage", ".commit_wave", ".read"),
}

_DESC = re.compile(r"^wave=(\d+) layer=(\S+)")


def _dir_files(path: Path) -> tuple[int, int]:
    """(parquet files, bytes) under a written table dir."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Tracer:
    """``modules``: modules whose layer-function attributes get wrapped;
    ``wave_entries``: (class, method) pairs that each run one wave."""

    def __init__(self, spark, modules, wave_entries):
        self.spark = spark
        self.sc = spark.sparkContext
        self.modules = modules
        self.wave_entries = wave_entries
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._lock = threading.Lock()
        self._wave: int | None = None
        self._seq = 0
        self._held: list[DataFrame] = []
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _describe(self, layer: str | None) -> None:
        desc = None if layer is None or self._wave is None else f"wave={self._wave} layer={layer}"
        self.sc.setJobDescription(desc)

    @contextmanager
    def span(self, layer: str, name: str):
        wave = self._wave
        self._describe(layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            # back to the wave's own tag (None outside a wave / in workers)
            self._describe("wave" if threading.current_thread() is threading.main_thread() else None)
            with self._lock:
                self.spans.append(
                    {
                        "name": name, "layer": layer, "wave": wave,
                        "parent": None if wave is None else f"wave:{wave}",
                        "start": t0, "end": t1,
                        "thread": threading.current_thread().name,
                    }
                )

    @contextmanager
    def wave(self):
        """One traced wave (a crawl wave, or one bulk pass)."""
        self._seq += 1
        self._wave = self._seq
        self._describe("wave")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.spans.append(
                    {
                        "name": "wave", "layer": "wave", "wave": self._wave,
                        "parent": None, "start": t0, "end": t1,
                        "thread": threading.current_thread().name,
                    }
                )
            self._describe(None)
            self._wave = None
            for df in self._held:
                df.unpersist()
            self._held = []

    def add(self, key: str, value: float) -> None:
        if self._wave is None:
            return
        with self._lock:
            self.counts[self._wave][key] += value

    def _materialize(self, df: DataFrame) -> int:
        df.persist()
        with self._lock:
            self._held.append(df)
        return df.count()

    # ----------------------------------------------------------- wrappers
    def _wrap_functions(self):
        tr = self

        def politeness(orig):
            def apply_politeness(frontier, *a, **kw):
                with tr.span("frontier", "apply_politeness"):
                    tr.add("frontier.rows_in", frontier.count())
                    out = orig(frontier, *a, **kw)
                    tr._materialize(out)
                return out
            return apply_politeness

        def passthrough(layer, name, key=None):
            def deco(orig):
                def wrapped(*a, **kw):
                    with tr.span(layer, name):
                        out = orig(*a, **kw)
                        n = tr._materialize(out)
                        if key:
                            tr.add(key, n)
                    return out
                return wrapped
            return deco

        def robots(orig):
            def robots_flag(candidates, robots, *a, **kw):
                flag = kw.get("flag", "robots_ok")
                with tr.span("robots", "robots_flag"):
                    out = orig(candidates, robots, *a, **kw)
                    tr._materialize(out)
                    tr.add("robots.denied", out.where(~F.col(flag)).count())
                return out
            return robots_flag

        def fetch(orig):
            def fetch_split(candidates, pages_index, *a, **kw):
                with tr.span("fetch", "fetch_split"):
                    fetched, missed = orig(candidates, pages_index, *a, **kw)
                    tr.add("fetch.rows_fetched", tr._materialize(fetched))
                    tr.add("fetch.rows_missed", tr._materialize(missed))
                return fetched, missed
            return fetch_split

        def extract(orig):
            def extract_page_outputs(fetched, *a, **kw):
                with tr.span("extract", "extract_page_outputs"):
                    out = orig(fetched, *a, **kw)
                    tr._materialize(out)
                    for r in out.groupBy("kind").count().collect():
                        tr.add(f"extract.{r['kind']}", r["count"])
                return out
            return extract_page_outputs

        return {
            "apply_politeness": politeness,
            "with_salt": passthrough("frontier", "with_salt"),
            "select_wave_topk": passthrough("frontier", "select_wave_topk", "frontier.rows_out"),
            "robots_flag": robots,
            "fetch_split": fetch,
            "extract_page_outputs": extract,
            "with_canonical_url": passthrough("canon", "with_canonical_url", "canon.rows"),
        }

    def _wrap_methods(self):
        tr = self

        def filter_unseen(orig):
            def wrapped(self_, candidates, shards, seen, *a, **kw):
                with tr.span("dedup", "filter_unseen"):
                    n_in = candidates.count()
                    out = orig(self_, candidates, shards, seen, *a, **kw)
                    n_out = tr._materialize(out)
                tr.add("dedup.rows_in", n_in)
                tr.add("dedup.rows_out", n_out)
                if shards is not None:
                    # every drop past a prefilter happens in its exact guard
                    tr.add("dedup.guard_drops", n_in - n_out)
                return out
            return wrapped

        def update(orig):
            def wrapped(self_, *a, **kw):
                with tr.span("dedup", "update"):
                    out = orig(self_, *a, **kw)
                    tr._materialize(out)
                return out
            return wrapped

        def stage(orig):
            def wrapped(self_, df, table, wave, *a, **kw):
                with tr.span("tables", f"stage.{table}"):
                    rel = orig(self_, df, table, wave, *a, **kw)
                files, nbytes = _dir_files(Path(self_.root) / rel)
                tr.add("tables.files_written", files)
                tr.add("tables.bytes_written", nbytes)
                return rel
            return wrapped

        def simple(name):
            def deco(orig):
                def wrapped(self_, *a, **kw):
                    with tr.span("tables", name):
                        return orig(self_, *a, **kw)
                return wrapped
            return deco

        def one_wave(orig):
            def wrapped(self_, *a, **kw):
                with tr.wave():
                    return orig(self_, *a, **kw)
            return wrapped

        from crawlers_spark.operators.dedup import BloomShards, CuckooShards
        from crawlers_spark.sources.tables import SnapshotParquetIO

        return [
            (BloomShards, "filter_unseen", filter_unseen),
            (BloomShards, "update", update),
            (CuckooShards, "filter_unseen", filter_unseen),
            (CuckooShards, "update", update),
            (SnapshotParquetIO, "stage", stage),
            (SnapshotParquetIO, "commit_wave", simple("commit")),
            (SnapshotParquetIO, "read", simple("read")),
        ] + [(owner, name, one_wave) for owner, name in self.wave_entries]

    def install(self) -> None:
        for name, deco in self._wrap_functions().items():
            for mod in self.modules:
                if hasattr(mod, name):
                    orig = getattr(mod, name)
                    self._saved.append((mod, name, orig))
                    setattr(mod, name, deco(orig))
        for owner, name, deco in self._wrap_methods():
            orig = owner.__dict__[name]
            self._saved.append((owner, name, orig))
            setattr(owner, name, deco(orig))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved = []

    # ----------------------------------------------------------- summary
    def waves(self) -> dict[int, dict]:
        return {s["wave"]: s for s in self.spans if s["layer"] == "wave"}

    def layer_times(self) -> dict[int, dict[str, float]]:
        """Per wave: seconds per span name and per layer, the wave's own
        self time (wall minus the union of its child spans) and the
        coverage (that union over the wall)."""
        out: dict[int, dict[str, float]] = {}
        for wid, w in self.waves().items():
            kids = sorted(
                (s for s in self.spans if s["wave"] == wid and s["layer"] != "wave"),
                key=lambda s: s["start"],
            )
            t: dict[str, float] = defaultdict(float)
            covered, cur_s, cur_e = 0.0, None, None
            for s in kids:
                d = s["end"] - s["start"]
                t[f"{s['layer']}.self_s"] += d
                t[f"{s['layer']}:{s['name']}"] += d
                lo, hi = max(s["start"], w["start"]), min(s["end"], w["end"])
                if hi <= lo:
                    continue
                if cur_e is None or lo > cur_e:
                    covered += 0.0 if cur_e is None else cur_e - cur_s
                    cur_s, cur_e = lo, hi
                else:
                    cur_e = max(cur_e, hi)
            if cur_e is not None:
                covered += cur_e - cur_s
            wall = w["end"] - w["start"]
            t["wave.wall_s"] = wall
            t["wave.self_s"] = wall - covered
            t["trace.coverage"] = covered / wall if wall > 0 else 0.0
            out[wid] = t
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.write_text(json.dumps({"layers": LAYERS, "spans": self.spans, **extra}, indent=1))


def spark_counters(eventlog_dir: Path) -> dict[int, dict[str, float]]:
    """Per traced wave id: jobs, stages, tasks, shuffle bytes written,
    task seconds, and per-layer input bytes/records and files scanned,
    read from an uncompressed event log. Jobs are attributed by their
    ``wave=<id> layer=<layer>`` description; untagged jobs are ignored."""
    events = []
    for p in sorted(eventlog_dir.rglob("*")):
        if p.is_file() and not p.name.startswith(".") and "appstatus" not in p.name:
            with open(p) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    stage_tag: dict[int, tuple[int, str]] = {}
    exec_tag: dict[int, tuple[int, str]] = {}
    accum_name: dict[int, str] = {}
    files_read: dict[tuple[int, int], float] = {}
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def walk(plan: dict) -> None:
        for m in plan.get("metrics", []):
            accum_name[m["accumulatorId"]] = m["name"]
        for c in plan.get("children", []):
            walk(c)

    for e in events:
        ev = e["Event"]
        if ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            walk(e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc, v in e["accumUpdates"]:
                if accum_name.get(acc) == "number of files read":
                    files_read[(e["executionId"], acc)] = v
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            m = _DESC.match(props.get("spark.job.description") or "")
            if not m:
                continue
            tag = (int(m.group(1)), m.group(2))
            out[tag[0]]["spark.jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_tag.setdefault(sid, tag)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_tag.setdefault(int(eid), tag)
        elif ev == "SparkListenerStageCompleted":
            tag = stage_tag.get(e["Stage Info"]["Stage ID"])
            if tag:
                out[tag[0]]["spark.stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            tag = stage_tag.get(e["Stage ID"])
            if not tag or not e.get("Task Metrics"):
                continue
            wave, layer = tag
            tm, ti = e["Task Metrics"], e["Task Info"]
            c = out[wave]
            c["spark.tasks"] += 1
            c["spark.task_s"] += (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
            c["spark.shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c[f"{layer}.input_bytes"] += tm["Input Metrics"]["Bytes Read"]
            c[f"{layer}.input_records"] += tm["Input Metrics"]["Records Read"]
    for (eid, _acc), v in files_read.items():
        tag = exec_tag.get(eid)
        if tag:
            out[tag[0]]["files_read"] += v
    return out


def eventlog_conf(eventlog_dir: Path) -> dict[str, str]:
    """Session settings for an uncompressed, single-file event log (no
    zstd/lz4 codec module is needed to read it back)."""
    os.makedirs(eventlog_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": eventlog_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
