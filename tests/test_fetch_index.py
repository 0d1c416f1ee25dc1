"""Layout of the cached pages index (``build_pages_index(cache_dir=…)``).

A scan splits a parquet file only at row-group boundaries, so a corpus
written as one file with one row group is read by ONE task however
small ``spark.sql.files.maxPartitionBytes`` is — the map-side fetch
join and the extraction fused onto it then run on one core. The cache
is written as up to one hash-partitioned file per core, none smaller
than ``FILE_OPEN_COST_BYTES``, so every core's scan task holds rows
once the corpus is big enough to be worth splitting.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _single_row_group_pages(path, n: int, html_bytes: int) -> None:
    # hex digests: snappy finds no repeats in them, so the file's size
    # on disk is about n * html_bytes
    def html(i: int) -> str:
        blocks = -(-html_bytes // 64)
        return "".join(hashlib.sha256(f"{i}-{k}".encode()).hexdigest() for k in range(blocks))

    table = pa.table(
        {
            "url": [f"https://h{i % 7}.example/job/{i:05d}?utm_source=x" for i in range(n)],
            "warc_ts": pa.array([1_700_000_000_000_000 + i for i in range(n)], pa.int64()),
            "html": [html(i) for i in range(n)],
        }
    )
    pq.write_table(table, path)
    assert pq.ParquetFile(path).metadata.num_row_groups == 1


def _rows_per_scan_partition(df) -> list[int]:
    sizes = {
        r["p"]: r["count"]
        for r in df.select(F.spark_partition_id().alias("p")).groupBy("p").count().collect()
    }
    return [sizes.get(p, 0) for p in range(df.rdd.getNumPartitions())]


def test_index_cache_gives_every_core_rows(spark, tmp_path):
    from crawlers_spark.operators.fetch import build_pages_index
    from crawlers_spark.session import FILE_OPEN_COST_BYTES

    cores = spark.sparkContext.defaultParallelism
    n = 400
    pages = tmp_path / "pages.parquet"
    # big enough that every core's file is over the open-cost floor
    _single_row_group_pages(pages, n, html_bytes=4 * cores * FILE_OPEN_COST_BYTES // n)
    idx = build_pages_index(spark, str(pages), cache_dir=tmp_path / "cache")

    per_partition = _rows_per_scan_partition(idx)
    assert sum(per_partition) == n
    assert sum(1 for c in per_partition if c) >= min(n, cores), per_partition


def test_index_cache_keeps_a_tiny_corpus_in_one_file(spark, tmp_path):
    """Below one file open's worth of bytes a split only adds Python
    tasks (each ~0.2 s of fixed cost) to every crawl wave."""
    from crawlers_spark.operators.fetch import build_pages_index
    from crawlers_spark.session import FILE_OPEN_COST_BYTES

    n = 40
    pages = tmp_path / "pages.parquet"
    _single_row_group_pages(pages, n, html_bytes=FILE_OPEN_COST_BYTES // (4 * n))
    assert pages.stat().st_size < FILE_OPEN_COST_BYTES
    idx = build_pages_index(spark, str(pages), cache_dir=tmp_path / "cache")

    assert len(list((tmp_path / "cache" / "pages_index.parquet").glob("*.parquet"))) == 1
    assert sorted(_rows_per_scan_partition(idx))[-1] == n
