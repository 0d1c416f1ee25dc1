"""Crawl-engine benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 6 --trace 0

Works from any directory: the repository root is this file's parent's
parent, and it is put on both the driver's and the Python workers'
path. The run:

1. times a fixed CPU loop (``host.calib_s``, a drift canary for the VM);
2. set-up (``setup_s``): starts Spark on ``local[<cores>]`` passing
   only the core count, generates the seeded inputs, builds the pages
   index and runs one untimed warm-up unit;
3. runs units of the workload back to back, one at a time, until
   ``--seconds`` have passed (at least one unit);
4. checks every unit's outputs against the generator's oracle;
5. prints one JSON line: ``correct``, ``attempted``/``failed`` (waves,
   or bulk passes) and the metrics. ``--trace 0`` prints the
   end-to-end metrics; ``--trace 1`` repeats the same units with the
   per-layer tracer installed and prints the per-layer metrics.

Exits 1 if any output is wrong or any unit raised, 2 on bad usage or
when the engine sources are missing (then nothing is printed).
All scratch files live in ``.perfbench_work/`` under the repository
root and are removed at exit; a traced run leaves its spans in
``.perfbench_traces/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop (same work every run)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def isolate_env(work: Path) -> None:
    """Engine defaults only, and scratch files under ``work``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    # the Python workers import the engine by name
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def run_units(wl, seconds: float, n: int | None = None) -> tuple[list[dict], str | None]:
    """Closed loop: one unit at a time until ``seconds`` pass (or
    exactly ``n`` units). A unit that raises ends the loop."""
    units: list[dict] = []
    t0 = time.perf_counter()
    while (len(units) < n) if n is not None else (not units or time.perf_counter() - t0 < seconds):
        try:
            units.append(wl.unit())
        except Exception:  # the run's boundary: record and report the failure
            return units, traceback.format_exc()
    return units, None


# per-layer metrics: every value is per traced wave (per pass for
# bulk_extract) unless it is a ratio
PER_LAYER_UNITS = {
    "frontier.self_s": "s", "frontier.rows_in": "count", "frontier.rows_out": "count",
    "robots.self_s": "s", "robots.denied": "count",
    "dedup.filter_s": "s", "dedup.update_s": "s", "dedup.rows_in": "count",
    "dedup.rows_out": "count", "dedup.guard_drops": "count",
    "fetch.self_s": "s", "fetch.rows_fetched": "count", "fetch.rows_missed": "count",
    "fetch.bytes_scanned": "B", "fetch.useful_ratio": "ratio", "fetch.index_s": "s",
    "extract.self_s": "s", "extract.pages": "count", "extract.offers": "count",
    "extract.links": "count",
    "canon.self_s": "s", "canon.rows": "count",
    "tables.stage_s.wave_out": "s", "tables.stage_s.frontier": "s",
    "tables.stage_s.bloom": "s", "tables.stage_s.lineage": "s", "tables.commit_s": "s",
    "tables.files_written": "count", "tables.bytes_written": "B", "tables.files_read": "count",
    "tables.report_s": "s",
    "wave.self_s": "s",
    "spark.jobs_per_wave": "count", "spark.stages_per_wave": "count",
    "spark.tasks_per_wave": "count", "spark.shuffle_bytes_per_wave": "B",
    "spark.task_s_per_wave": "s", "spark.idle_core_frac": "ratio",
    "trace.coverage": "ratio", "trace.overhead_s": "s", "host.calib_s": "s",
    "host.peak_rss_mb": "MB",
}


def layer_metrics(tracer, units, traced, info, calib_s) -> dict:
    lt = tracer.layer_times()
    n = len(lt) or 1

    def per_wave(key, src=lt):
        return sum(src.get(w, {}).get(key, 0.0) for w in lt) / n

    wall = sum(t["wave.wall_s"] for t in lt.values()) or 1.0
    v = {k: per_wave(k) for k in ("frontier.self_s", "robots.self_s", "fetch.self_s",
                                  "extract.self_s", "canon.self_s", "wave.self_s")}
    v.update({k: per_wave(k, tracer.counts) for k in (
        "frontier.rows_in", "frontier.rows_out", "robots.denied", "dedup.rows_in",
        "dedup.rows_out", "dedup.guard_drops", "fetch.rows_fetched", "fetch.rows_missed",
        "canon.rows", "tables.files_written", "tables.bytes_written")})
    for kind in ("page", "offer", "link"):
        v[f"extract.{kind}s"] = per_wave(f"extract.{kind}", tracer.counts)
    v["dedup.filter_s"] = per_wave("dedup:filter_unseen")
    v["dedup.update_s"] = per_wave("dedup:update")
    for table in ("wave_out", "frontier", "lineage"):
        v[f"tables.stage_s.{table}"] = per_wave(f"tables:stage.{table}")
    v["tables.stage_s.bloom"] = per_wave("tables:stage.bloom") + per_wave("tables:stage.cuckoo")
    v["tables.commit_s"] = per_wave("tables:commit")
    v["trace.coverage"] = sum(t["trace.coverage"] * t["wave.wall_s"] for t in lt.values()) / wall
    v["trace.overhead_s"] = (
        sum(u["wall"] for u in traced) - sum(u["wall"] for u in units)
    ) / n
    v["host.calib_s"] = calib_s
    v["fetch.index_s"] = info["index_s"]
    return v


def spark_metrics(counters: dict, tracer, cores: int) -> dict:
    lt = tracer.layer_times()
    n = len(lt) or 1
    wall = sum(t["wave.wall_s"] for t in lt.values()) or 1.0

    def total(key):
        return sum(counters.get(w, {}).get(key, 0.0) for w in lt)

    fetched = sum(tracer.counts.get(w, {}).get("fetch.rows_fetched", 0.0) for w in lt)
    scanned = total("fetch.input_records")
    return {
        "spark.jobs_per_wave": total("spark.jobs") / n,
        "spark.stages_per_wave": total("spark.stages") / n,
        "spark.tasks_per_wave": total("spark.tasks") / n,
        "spark.shuffle_bytes_per_wave": total("spark.shuffle_bytes") / n,
        "spark.task_s_per_wave": total("spark.task_s") / n,
        "spark.idle_core_frac": 1.0 - total("spark.task_s") / (cores * wall),
        "fetch.bytes_scanned": total("fetch.input_bytes") / n,
        "fetch.useful_ratio": fetched / scanned if scanned else 0.0,
        "tables.files_read": total("files_read") / n,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--plant-wrong-offer", action="store_true",
        help="corrupt one expected offer, to show the correctness gate fails the run",
    )
    args = ap.parse_args(argv)
    if not (REPO / "crawlers_spark").is_dir() or not (REPO / "fixtures").is_dir():
        print(f"engine sources not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = REPO / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass


def bench(args, work: Path, workload_cls) -> int:
    calib_s = calibrate()
    isolate_env(work)
    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} host.calib_s={calib_s:.4f}", flush=True)

    from crawlers_spark.session import get_spark
    from perfbench import trace as tracing
    from perfbench import workloads

    cores = len(os.sched_getaffinity(0))
    t_setup = time.perf_counter()
    eventlog = work / "eventlog"
    spark = get_spark(
        cores=cores, extra_conf=tracing.eventlog_conf(eventlog) if args.trace else None
    )
    jvm_proc = spark.sparkContext._gateway.proc
    try:
        wl = workload_cls(spark, work, args.seed, plant_wrong_offer=args.plant_wrong_offer)
        info = wl.setup()
        setup_s = time.perf_counter() - t_setup

        units, error = run_units(wl, args.seconds)
        traced, tracer = [], None
        if args.trace and error is None:
            import crawlers_spark.plans.wave as wave_mod

            tracer = tracing.Tracer(
                spark,
                [wave_mod, workloads],
                [(wave_mod.CrawlEngine, "run_wave"), (workloads.BulkExtract, "_pass")],
            )
            tracer.install()
            try:
                traced, error = run_units(wl, args.seconds, n=len(units))
            finally:
                tracer.uninstall()

        attempted, failed, first = 0, 0, None
        for u in units + traced:
            # an operation is one timed wave (one pass on bulk_extract);
            # a bad wave in the state a unit resumed fails all of its own,
            # and so does disagreeing with the first unit's digests (every
            # unit starts from the same inputs)
            bad, dg = wl.check(u)
            first = first or dg
            timed = set(u["timed_waves"])
            attempted += len(timed)
            if dg != first:
                print(f"digest mismatch: {dg} != {first}", file=sys.stderr)
                bad = bad | timed
            failed += len(timed) if bad - timed else len(bad)
        if error is not None:
            print(error, file=sys.stderr)
            attempted += 1
            failed += 1
        correct = failed == 0
        print(f"# digests {json.dumps(first, sort_keys=True)}", flush=True)

        metrics: dict = {}
        if units and not args.trace:
            waves = [w for u in units for w in u["waves"]]
            wall = sum(u["wall"] for u in units)
            fetched = sum(u["fetched"] for u in units)
            last = units[-1]
            metrics = {
                "setup_s": (setup_s, "s"),
                "urls_per_s": (fetched / wall, "1/s"),
                "wave_p50_s": (quantile(waves, 0.5), "s"),
                "wave_p90_s": (quantile(waves, 0.9), "s"),
                "state_bytes_per_url": (wl.state_bytes_per_url(last), "B"),
            }
            print(f"# units={len(units)} waves={len(waves)} wave_s={[round(w, 3) for w in waves]} "
                  f"fetched={fetched} wall_s={wall:.3f} setup={json.dumps(info)}", flush=True)
        elif tracer is not None and traced:
            metrics = layer_metrics(tracer, units, traced, info, calib_s)
            # read side of the committed state, timed with the tracer off
            metrics["tables.report_s"] = wl.report(units[-1])
        # the driver JVM's heap grows by GC ergonomics, so its high-water
        # mark swings by ±25% between identical runs: reported, not gated
        rss_mb = vm_hwm_mb(jvm_proc.pid) + vm_hwm_mb("self")
        print(f"# host.peak_rss_mb={rss_mb:.1f}", flush=True)
        if tracer is not None and traced:
            metrics["host.peak_rss_mb"] = rss_mb
    finally:
        spark.stop()
        jvm_proc.stdin.close()  # the gateway JVM exits on stdin EOF
        jvm_proc.wait(timeout=60)

    if tracer is not None and traced:
        metrics.update(spark_metrics(tracing.spark_counters(eventlog), tracer, cores))
        metrics = {k: (metrics[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}
        traces = REPO / ".perfbench_traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(traces / f"{args.workload}-s{args.seed}.json", {"metrics": metrics})

    out = {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
