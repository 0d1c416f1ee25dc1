"""Per-wave commit-barrier breakdown (VERDICT r2 item 6).

Runs the standard e2e crawl and aggregates ``CrawlEngine.wave_profile``
— the per-segment wall clock recorded inside ``run_wave`` — to show
WHERE the ~5 s/wave driver barrier goes:

  frontier_footers      frontier rowcount (footers, or the carried
                        staging future's join in the pipelined loop)
  plan_build            driver-side DataFrame/plan construction (lazy)
  stage_wave_out        THE wave job: select→robots→dedup→fetch→extract
                        → one kind-partitioned write
  followup_shards_join  pipelined only: previous filter-staging join
  followup_build        frontier'/filter'/lineage plan construction
  out_footers           per-kind footer rowcounts (no Spark job)
  followup_launch       submitting the staging futures
  stage_frontier_filter joining the staging futures (≈0 when pipelined:
                        they resolved during the next wave's fetch)
  commit                manifest fsync (driver fs only)
  unpersist             cache cleanup

Each wave's profile (and its manifest meta) also names the
``seen_filter`` it ran under; the output lists the filters seen.

Usage: python scripts/profile_wave.py [pages] [cores]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SEGMENTS = [
    "frontier_footers", "plan_build", "stage_wave_out",
    "followup_shards_join", "followup_build", "out_footers",
    "followup_launch", "stage_frontier_filter",
    "stage_lineage", "commit", "unpersist",
]


def main() -> int:
    pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from crawlers_spark.session import get_spark
    from scripts.run_crawl import run_crawl

    spark = get_spark(f"local[{cores}]")
    state = Path(tempfile.mkdtemp(prefix="profile_wave_"))
    try:
        out, _stats, eng = run_crawl(pages, cores, state, spark=spark)
    finally:
        shutil.rmtree(state, ignore_errors=True)

    waves = eng.wave_profile
    agg = {
        s: round(sum(p.get(s, 0.0) for p in waves), 2) for s in SEGMENTS
    }
    per_wave = {s: round(agg[s] / max(1, len(waves)), 3) for s in SEGMENTS}
    print(json.dumps({
        "metric": "wave_barrier_breakdown",
        "pages": pages,
        "cores": cores,
        "waves": len(waves),
        "seen_filter": sorted({p["seen_filter"] for p in waves}),
        "wall_s": out["wall_s"],
        "sum_segments_s": round(sum(agg.values()), 2),
        "total_s": agg,
        "per_wave_s": per_wave,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
