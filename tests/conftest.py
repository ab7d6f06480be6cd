import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from rgm.session import get_spark

    s = get_spark(app_name="rgm-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def wide_emb(spark):
    """300 seeded 64-dim vectors in five offset clusters (IVF tests)."""
    rng = np.random.default_rng(11)
    dim = 64
    rows = [
        (i, (rng.standard_normal(dim) + (i % 5)).tolist()) for i in range(300)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
