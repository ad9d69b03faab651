import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cores() -> int:
    """SPARK_GRAFT_CPUS when set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


@pytest.fixture(scope="session")
def spark():
    from sgp_sketch.session import get_spark

    n = _cores()
    s = get_spark("sgp_sketch-tests", master=f"local[{n}]",
                  shuffle_partitions=n)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tokens_sdf(spark):
    """Deterministic synthetic tokens table, sf-unit scale (SURVEY.md §5.3)."""
    from sgp_sketch.datagen import tokens_df

    df = tokens_df(spark, n_docs=4000, partitions=16).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def tokens_pdf():
    from sgp_sketch.datagen import generate_pandas

    return generate_pandas(n_docs=4000)
