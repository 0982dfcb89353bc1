"""Full ConceptDrift-experiment reproduction (SURVEY §3.3).

The reference samples edge streams from a weighted graph, reshuffles the
weights between segments, replays with ``time_type='index'`` boundaries
every 50 edges, and correlates each snapshot's temporal scores against
per-segment ground truths (custom Katz / PageRank) with the full
correlation suite incl. weighted Kendall
(``concept_drift/experiment_utils.py:52-139``,
``ConceptDrift.ipynb`` cells 30-52). Reproduced here end-to-end on the
engine: segment ground truths from the engine's own static operators
(static_katz, static_pagerank) on the segment graphs, index-mode replay
through the superstep driver, per-snapshot Spearman + weighted Kendall
from the evaluation layer."""

import numpy as np
import pytest

from online_centrality_spark.evaluation.kernels import (
    spearman,
    weighted_kendall,
)
from online_centrality_spark.functions.weights import ExponentialWeighter
from online_centrality_spark.operators.static_katz import katz_numpy
from online_centrality_spark.operators.static_pagerank import pagerank_power
from online_centrality_spark.operators.temporal_katz import TemporalKatz
from online_centrality_spark.operators.temporal_pagerank import TemporalPageRank
from online_centrality_spark.plans.superstep import SuperstepDriver


def _weighted_graph(rng, n, m):
    """Scale-free-ish weighted digraph (graph_generator.py:76-124 style)."""
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    w = rng.pareto(2.0, len(src)) + 0.1  # power-law-ish weights
    return src, dst, w

def _sample_stream(rng, src, dst, w, iters):
    """i.i.d. edge sampling proportional to weight
    (experiment_utils.py:52-87)."""
    p = w / w.sum()
    idx = rng.choice(len(src), iters, p=p)
    return src[idx], dst[idx]


def test_concept_drift_full_pipeline(spark, tmp_path):
    rng = np.random.default_rng(4)
    n = 30
    s_g, d_g, w_g = _weighted_graph(rng, n, 400)
    # segment B: reshuffled weights (change_weights, graph_generator.py:126-134)
    w_b = w_g[rng.permutation(len(w_g))]
    iters = 1200
    sa, da = _sample_stream(rng, s_g, d_g, w_g, iters)
    sb, db = _sample_stream(rng, s_g, d_g, w_b, iters)
    src = np.concatenate([sa, sb])
    dst = np.concatenate([da, db])
    E = len(src)
    rows = [
        (i + 1, int(src[i]), int(dst[i]), i + 1) for i in range(E)
    ]
    edges = spark.createDataFrame(rows, "t long, src long, dst long, seq long")

    # ground truths per segment: weighted-multiplicity Katz + PageRank on
    # the SAMPLED segment multigraphs (the reference computes them on the
    # sampled streams' weighted graphs)
    def gt(seg_src, seg_dst):
        nodes_k, katz = katz_numpy(seg_src, seg_dst, alpha=0.01, weighted=True)
        nodes_p, pr = pagerank_power(
            np.concatenate([seg_src]), np.concatenate([seg_dst]), strict=False
        )
        gk = np.zeros(n)
        gk[nodes_k] = katz
        gp = np.zeros(n)
        gp[nodes_p] = pr
        return gk, gp

    gk_a, gp_a = gt(sa, da)
    gk_b, gp_b = gt(sb, db)

    # index-mode replay, boundaries every 150 edges
    boundaries = [150 * (i + 1) for i in range(E // 150)]
    tk = TemporalKatz(
        [(0.05, ExponentialWeighter(norm=float(iters) / 8.0, base=np.e ** -1.0))],
        n,
        path="walk",
    )
    tpr = TemporalPageRank([(0.85, 0.05)], n)
    driver = SuperstepDriver(spark, str(tmp_path / "drift"))
    driver.run(edges, boundaries, "index", online=[tk, tpr])
    scores = driver.scores().toPandas()

    def vec(pid, snap):
        sub = scores[(scores["param_id"] == pid) & (scores["snapshot_id"] == snap)]
        v = np.zeros(n)
        v[sub["node_id"].to_numpy()] = sub["score"].to_numpy()
        return v

    tk_pid = tk.param_ids[0]
    last_a = iters // 150 - 1          # last full snapshot inside segment A
    last_b = len(boundaries) - 1       # end of segment B

    # temporal Katz tracks the ACTIVE segment's Katz ground truth,
    # under both Spearman and the reference's weighted Kendall
    va, vb = vec(tk_pid, last_a), vec(tk_pid, last_b)
    assert spearman(va, gk_a) > spearman(va, gk_b)
    assert spearman(vb, gk_b) > spearman(vb, gk_a)
    assert weighted_kendall(vb, gk_b) > weighted_kendall(vb, gk_a)
    assert spearman(vb, gk_b) > 0.4

    # temporal PageRank tracks the PageRank ground truth of segment B at
    # the end (it has geometric memory via the beta mass decay)
    tpr_pid = tpr.param_ids[0]
    vp = vec(tpr_pid, last_b)
    assert spearman(vp, gp_b) > 0.3
