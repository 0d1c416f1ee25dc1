"""Run a full crawl on the synthetic web fixture; print wave stats.

Usage: python scripts/run_crawl.py [n_pages] [cores] [state_dir]
Also the work-horse for the scaling bench (local[8] vs local[32]).
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from fixtures.gen_pages import ensure_fixture  # noqa: E402
from crawlers_spark.plans.wave import CrawlConfig, CrawlEngine  # noqa: E402
from crawlers_spark.session import get_spark  # noqa: E402


def run_crawl(n_pages: int, cores: int, state_dir: Path, max_waves: int = 60, spark=None):
    fx = ensure_fixture(n_pages)
    own_spark = spark is None
    if own_spark:
        spark = get_spark(f"crawl-bench-{cores}", cores=cores, shuffle_partitions=max(8, cores))
    seeds = json.loads((fx / "seeds.json").read_text())
    robots = spark.read.parquet(str(fx / "robots.parquet"))
    politeness = spark.read.parquet(str(fx / "politeness.parquet"))
    if state_dir.exists():
        shutil.rmtree(state_dir)
    eng = CrawlEngine(
        spark,
        str(fx / "pages.parquet"),
        seeds,
        robots,
        politeness,
        state_dir,
        CrawlConfig(
            hot_hosts={"src0.example": 4, "src1.example": 4},
        ),
    )
    t0 = time.perf_counter()
    stats = eng.run(max_waves=max_waves)
    wall = time.perf_counter() - t0
    fetched = sum(s["fetched"] for s in stats)
    offers = sum(s.get("offers", 0) for s in stats)
    out = {
        "pages": n_pages,
        "cores": cores,
        "waves": len(stats),
        "fetched": fetched,
        "offers": offers,
        "wall_s": round(wall, 2),
        "urls_per_sec": round(fetched / wall, 1),
    }
    if own_spark:
        spark.stop()
    return out, stats, eng


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    state = Path(sys.argv[3]) if len(sys.argv) > 3 else REPO / "_data" / "crawl_state"
    out, stats, _ = run_crawl(n, cores, state)
    for s in stats:
        print(s)
    print(json.dumps(out))
