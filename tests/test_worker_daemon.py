"""Python worker start-up (crawlers_spark/worker_daemon.py, session.py):
a reused worker keeps the directories of the archives it started with
instead of re-reading them before every task, an archive shipped later
with ``addPyFile`` still imports, and workers import the engine when the
driver runs outside the repo with no ``PYTHONPATH``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pandas as pd

import crawlers_spark

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(crawlers_spark.__file__)))

MAX_JOBS = 40
REUSES = 4


def _archive_dirs(spark):
    """One one-partition job: (pid, archive, id of its cached directory)
    for every zipimporter the worker holds after its task set-up."""

    def probe(it):
        import os
        import sys
        import zipimport

        for _ in it:
            pass
        archives = {
            imp.archive
            for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, zipimport.zipimporter)
        }
        cache = zipimport._zip_directory_cache
        yield pd.DataFrame(
            [(os.getpid(), a, id(cache[a])) for a in sorted(archives) if a in cache],
            columns=["pid", "archive", "dir_id"],
        )

    out = spark.range(1, numPartitions=1).mapInPandas(
        probe, "pid long, archive string, dir_id long"
    )
    return [tuple(r) for r in out.collect()]


def test_startup_archives_not_reread_per_task(spark):
    # idle workers are handed out first-in first-out, so run one-task
    # jobs until one worker has served REUSES of them
    seen: dict[tuple[int, str], set[int]] = {}
    jobs_per_pid: dict[int, int] = {}
    for _ in range(MAX_JOBS):
        rows = _archive_dirs(spark)
        assert rows, "the worker holds no zipimporter"
        pid = rows[0][0]
        jobs_per_pid[pid] = jobs_per_pid.get(pid, 0) + 1
        for p, archive, dir_id in rows:
            seen.setdefault((p, archive), set()).add(dir_id)
        if jobs_per_pid[pid] >= REUSES:
            break
    assert max(jobs_per_pid.values()) >= REUSES, jobs_per_pid
    assert any(a.endswith("pyspark.zip") for _, a in seen)
    reread = sorted({a for (_, a), ids in seen.items() if len(ids) > 1})
    assert reread == [], f"re-read between tasks: {reread}"


def test_archive_shipped_after_warmup_imports(spark, tmp_path):
    _archive_dirs(spark)  # warm workers
    name = f"shipped_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}/__init__.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(it):
        import importlib

        mod = importlib.import_module(name)
        for pdf in it:
            yield pdf.assign(v=mod.VALUE)

    got = spark.range(3, numPartitions=1).mapInPandas(use, "id long, v long").collect()
    assert sorted((r["id"], r["v"]) for r in got) == [(0, 42), (1, 42), (2, 42)]


_OUTSIDE_REPO = """
import json, sys
sys.path.insert(0, sys.argv[1])
from crawlers_spark.functions.canonicalize import with_canonical_url
from crawlers_spark.session import get_spark
spark = get_spark("worker-cwd", cores=1)
df = spark.createDataFrame([("HTTP://Src0.Example/jobs",)], "url string")
row = with_canonical_url(df).collect()[0]
print(json.dumps([row["url_canon"], row["host"]]))
spark.stop()
"""


def test_workers_import_engine_outside_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_REPO, REPO_ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    url, host = json.loads(proc.stdout.strip().splitlines()[-1])
    assert (url, host) == ("http://src0.example/jobs", "src0.example")
