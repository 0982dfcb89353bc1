"""The PageRank family's shared core: strict divergence on both physical
paths and cache hygiene of the distributed round loop."""

import pytest

from online_centrality_spark.operators.static_pagerank import (
    PageRankDiverged,
    pagerank_convergence,
    personalized_pagerank,
    static_pagerank,
    weighted_pagerank,
)

PAIRS = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (1, 4), (5, 1),
    (6, 1), (7, 3), (8, 9),  # 9 is dangling
]


def _run(spark, op, **kw):
    e = spark.createDataFrame(PAIRS, "src long, dst long")
    if op == "static":
        return static_pagerank(e, **kw)
    if op == "personalized":
        seeds = spark.createDataFrame([(1,), (9,)], "node_id long")
        return personalized_pagerank(e, seeds, **kw)
    if op == "weighted":
        w = spark.createDataFrame(
            [(s, d, float(1 + (s + d) % 3)) for s, d in PAIRS],
            "src long, dst long, w double",
        )
        return weighted_pagerank(w, **kw)
    return pagerank_convergence(e, iters=kw.get("max_iter", 5))


@pytest.mark.parametrize("collect_threshold", [100_000, 0])
@pytest.mark.parametrize("op", ["static", "personalized", "weighted"])
def test_strict_raises_when_not_converged(spark, op, collect_threshold):
    with pytest.raises(Exception) as ei:
        _run(
            spark, op, max_iter=2, tol=1e-12,
            collect_threshold=collect_threshold,
        ).collect()
    if collect_threshold == 0:
        # distributed: raised on the driver
        assert isinstance(ei.value, PageRankDiverged)
    else:
        # compact: raised inside the Python worker and re-raised by Spark
        assert "PageRankDiverged" in str(ei.value)


def _persistent_rdds(spark):
    return dict(spark.sparkContext._jsc.getPersistentRDDs().items())


@pytest.mark.parametrize(
    "op", ["static", "personalized", "weighted", "convergence"]
)
def test_distributed_call_leaves_only_local_checkpoints(spark, op):
    """Frames the loop persists (edges, node table) are released before
    it returns; only the round checkpoints stay registered."""
    spark.catalog.clearCache()
    before = set(_persistent_rdds(spark))
    _run(spark, op, max_iter=5, strict=False, collect_threshold=0).collect()
    added = {
        k: r for k, r in _persistent_rdds(spark).items() if k not in before
    }
    assert added
    leaked = sorted(
        k for k, r in added.items() if not r.rdd().isLocallyCheckpointed()
    )
    assert leaked == []
