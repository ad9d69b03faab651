import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from sgp_sketch.session import get_spark

    # local[local_cores()] with as many shuffle partitions
    s = get_spark("sgp_sketch-tests")
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
