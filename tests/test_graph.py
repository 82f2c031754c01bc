"""Graph operators on their reliable-checkpoint path: ``checkpoint=True``
writes each round to the session's checkpoint directory instead of the
executors' block stores, and must not change a single output row."""

import pytest


@pytest.fixture(scope="session")
def checkpointed_spark(spark, tmp_path_factory):
    spark.sparkContext.setCheckpointDir(str(tmp_path_factory.mktemp("ckpt")))
    return spark


def test_connected_components_checkpoint_equals_local(checkpointed_spark):
    from pprl_spark.spark.graph import connected_components

    spark = checkpointed_spark
    # a path, a star and a cycle, plus a self-loop and a duplicate edge
    edges = [(i, i + 1) for i in range(1, 9)] + [
        (20, 21), (20, 22), (20, 23), (30, 31), (31, 32), (32, 30),
        (40, 40), (2, 1),
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    local = sorted(connected_components(df).collect())
    durable = sorted(connected_components(df, checkpoint=True).collect())
    assert durable == local
    assert {r["component"] for r in durable} == {1, 20, 30}


def test_pagerank_checkpoint_equals_local(checkpointed_spark):
    from pprl_spark.spark.graph import pagerank

    spark = checkpointed_spark
    edges = [("a", "b", 2), ("b", "c", 1), ("c", "a", 1), ("a", "c", 1),
             ("d", "c", 3), ("c", "e", 1)]  # e dangles
    df = spark.createDataFrame(edges, "src_host string, dst_host string, n long")
    local = dict(pagerank(df, weight="n").collect())
    durable = dict(pagerank(df, weight="n", checkpoint=True).collect())
    # the per-node sums may add in another order: equal up to rounding
    assert durable == pytest.approx(local, rel=1e-12)
    assert sum(durable.values()) == pytest.approx(1.0)
