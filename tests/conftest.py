import numpy as np
import pytest

from data_validation_spark.plans.suite import Component
from data_validation_spark.session import get_spark
from data_validation_spark.sources.sequences import synth_sequences

N_ROWS = 2000


@pytest.fixture(scope="session")
def spark():
    # master=None: local[$SPARK_GRAFT_CPUS], else every host core
    s = get_spark(app_name="dvs-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sequences(spark):
    """Deterministic seed-42 sequences table, cached for the session."""
    df = synth_sequences(spark, N_ROWS).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def components():
    return [Component("n_tok", "numeric"),
            Component("source", "categoric"),
            Component("tokens", "tokens")]


@pytest.fixture(scope="session")
def expected_ids():
    """Known-by-construction violation index sets (FIXTURES.md §1)."""
    ids = np.arange(N_ROWS)
    return {
        "dup_pairs": [(i - 1, i) for i in ids if i % 97 == 0 and i > 0],
        "oov": {i for i in ids if i % 131 == 0 and i % 211 != 0},
        "null_tokens": {i for i in ids if i % 211 == 0},
        "len_mismatch": {i for i in ids if i % 173 == 0 and i % 211 != 0},
    }


def doc(i: int) -> str:
    return f"doc-{i:08d}"
