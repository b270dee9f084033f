import os

import pyarrow.parquet as pq
import pytest

from modern_search_engines_spark.functions import hashing
from modern_search_engines_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mse-tests", master="local[4]", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "4g",
                              "spark.sql.autoBroadcastJoinThreshold": "10m"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dirs():
    return {
        "t1": "/root/testdata/sf0.001",
        "t2": "/root/testdata/sf0.01",
        "bench": "/root/testdata/sf0.1",
    }


@pytest.fixture(scope="session")
def check_bucket_layout():
    """Assert the one layout key on a committed bucketed stage: every
    ``bucket=<b>`` directory holds only terms the pruner's twin
    (``hashing.bucket_of``) maps to b."""
    def check(stage_dir: str, n_buckets: int) -> None:
        dirs = [d for d in os.listdir(stage_dir) if d.startswith("bucket=")]
        assert dirs, stage_dir
        for d in dirs:
            b = int(d.split("=", 1)[1])
            terms = set(pq.read_table(os.path.join(stage_dir, d),
                                      columns=["term"])["term"].to_pylist())
            bad = [t for t in terms if hashing.bucket_of(t, n_buckets) != b]
            assert terms and not bad, (stage_dir, d, bad[:5])
    return check
