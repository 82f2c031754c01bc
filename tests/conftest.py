"""Shared fixtures.

Replicates the reference's seeded fixtures (packages/pprl_core/tests/
conftest.py: Random(727); 64-bit vectors drawn from one shared stream)
without bitarray, plus a session-scoped local SparkSession.
"""

import random

import numpy as np
import pytest


@pytest.fixture(scope="session")
def rng_factory():
    def _make():
        return random.Random(727)

    return _make


@pytest.fixture(scope="session")
def rng(rng_factory):
    return rng_factory()


@pytest.fixture(scope="session")
def bits_factory(rng):
    def _make():
        draws = [rng.random() for _ in range(64)]
        return np.array([d < 0.5 for d in draws], dtype=bool)

    return _make


def _build_spark():
    from pprl_spark.spark.session import get_spark

    # the session the library ships: one Python worker pool, at most one
    # idle worker per task slot, the UI off
    return get_spark(
        "pprl-spark-tests", "local[4]", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )


@pytest.fixture(scope="session")
def spark():
    session = _build_spark()
    yield session
    session.stop()
