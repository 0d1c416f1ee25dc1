from __future__ import annotations

import pytest

from crawlers_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # cores from SPARK_GRAFT_CPUS (local[*] when unset); shuffle
    # partitions are only a ceiling that AQE coalesces below
    s = get_spark("crawlers-spark-tests")
    yield s
    s.stop()
