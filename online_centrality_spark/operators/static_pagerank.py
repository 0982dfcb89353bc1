"""Static PageRank family on one power iteration.

The reference delegates to ``nx.pagerank(G, alpha, max_iter)``
(``static_pagerank_computer.py:42``) on the dedup digraph. Every
operator here runs networkx's documented power iteration

    x' = α·Σ_{u→v} x_u·w_uv/W_u + (α·D + 1−α)·p

with ``W_u`` the out-weight of ``u``, ``D`` the rank held by dangling
nodes (``W_u = 0``), ``p`` the teleport distribution (also the start
vector), stop when the L1 change < N·tol and raise
:class:`PageRankDiverged` if ``max_iter`` is exhausted (unless
``strict=False``). Per-vertex scores match networkx to allclose(1e-6).
Each public operator is one setting of that core:

=========================  ===========  ==========================  ===========
operator                   ``w``        ``p``                       depth
=========================  ===========  ==========================  ===========
``static_pagerank``        1            uniform                     early exit
``personalized_pagerank``  1            uniform over seeds ∩ nodes  early exit
``weighted_pagerank``      summed ``w`` uniform                     early exit
``pagerank_convergence``   1            uniform                     fixed,
                                                                    per-round
                                                                    rows
=========================  ===========  ==========================  ===========

Two physical strategies, chosen by node count against
``collect_threshold``:

- **compact**: the whole graph ships through one Arrow task and
  iterates in numpy (:func:`pagerank_power`) — the right plan for a
  per-snapshot window over a small actor dictionary.
- **distributed**: ranks live in a DataFrame. Each round is one
  ``edges ⋈ ranks`` on ``src`` (hub-salted when ``salt`` > 1,
  functions/skew.py) plus a map-side-combined ``groupBy(dst).sum``, a
  lazy ``localCheckpoint`` that keeps plans O(1), and ONE stats
  aggregate ``(l1, max, dangle)`` that materialises it — the next
  round's dangling mass is folded into the convergence read, so a round
  costs one action.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.skew import salted_join


class PageRankDiverged(RuntimeError):
    pass


_PR_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _diverged(max_iter: int) -> PageRankDiverged:
    return PageRankDiverged(
        f"pagerank failed to converge in {max_iter} iterations"
    )


def pagerank_power(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray | None = None,
    seeds: np.ndarray | None = None,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    strict: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """The power iteration on edge arrays -> (sorted node ids, ranks).

    ``w`` defaults to 1 per edge (repeated pairs then count as
    multiplicity); ``seeds`` (default: every node) is the teleport
    support and must meet the node set.
    """
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    if n == 0:
        return nodes, np.array([])
    s, d = inv[: len(src)], inv[len(src):]
    w = np.ones(len(s)) if w is None else w
    p = np.ones(n) if seeds is None else np.isin(nodes, seeds).astype(float)
    k = p.sum()
    wout = np.bincount(s, weights=w, minlength=n)
    dangling = wout == 0
    safe_out = np.where(dangling, 1.0, wout)
    x = p / k
    for _ in range(max_iter):
        xlast = x
        share = alpha * xlast / safe_out
        x = np.bincount(d, weights=share[s] * w, minlength=n)
        x += (alpha * xlast[dangling].sum() + (1.0 - alpha)) / k * p
        if np.abs(x - xlast).sum() < n * tol:
            return nodes, x
    if strict:
        raise _diverged(max_iter)
    return nodes, x


def _pagerank(
    g: DataFrame,
    seeds: DataFrame | None = None,
    *,
    alpha: float,
    max_iter: int,
    tol: float,
    strict: bool,
    collect_threshold: int,
    salt: int,
) -> tuple[DataFrame, list[tuple[int, float, float]]]:
    """Shared prologue over ``g`` = ``(src, dst[, w])`` with one row per
    pair: node count, empty graph, seed check, path choice. Returns
    ``(ranks, per-round rows)``; the compact path has no rows."""
    nodes = (
        g.select(F.col("src").alias("node_id"))
        .unionAll(g.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return g.sparkSession.createDataFrame([], _PR_SCHEMA), []
    k = n
    if seeds is not None:
        # no broadcast hint: AQE broadcasts a small seed frame on its
        # own, and a corpus-sized one must be allowed to shuffle
        seeds = (
            seeds.select(F.col(seeds.columns[0]).alias("node_id"))
            .distinct()
            .join(nodes, "node_id", "left_semi")
        )
        k = seeds.count()
        if k == 0:
            raise ValueError("personalized_pagerank: no seed is a graph node")
    if n <= collect_threshold:
        seed_vals = (
            None if seeds is None
            else np.array([r[0] for r in seeds.collect()], dtype=np.int64)
        )
        return _compact(g, seed_vals, alpha, max_iter, tol, strict), []
    return _rounds(g, nodes, seeds, n, k, alpha, max_iter, tol, strict, salt)


def _compact(g, seed_vals, alpha, max_iter, tol, strict) -> DataFrame:
    def kernel(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        nodes, ranks = pagerank_power(
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            pdf["w"].to_numpy(np.float64) if "w" in pdf else None,
            seed_vals,
            alpha,
            max_iter,
            tol,
            strict,
        )
        yield pd.DataFrame({"node_id": nodes.astype(np.int64), "score": ranks})

    return g.coalesce(1).mapInPandas(kernel, schema=_PR_SCHEMA)


def _rounds(g, nodes, seeds, n, k, alpha, max_iter, tol, strict, salt):
    """The distributed power iteration; ``p`` is held as the 0/1 seed
    indicator and the teleport as ``(α·D + 1−α) / k · p``."""
    w = F.col("w") if "w" in g.columns else F.lit(1.0)
    g = g.persist()
    wout = g.groupBy(F.col("src").alias("node_id")).agg(F.sum(w).alias("wout"))
    base = nodes.join(wout, "node_id", "left").fillna(0.0, ["wout"])
    p = F.lit(1.0)
    if seeds is not None:
        base = base.join(
            seeds.withColumn("p", p), "node_id", "left"
        ).fillna(0.0, ["p"])
        p = F.col("p")
    base = base.persist()
    try:
        is_dangling = F.col("wout") == 0
        ranks = base.select("node_id", "wout", (p / k).alias("rank"))
        dangle = (
            ranks.agg(F.sum(F.when(is_dangling, F.col("rank")))).collect()[0][0]
            or 0.0
        )
        rows = []
        for i in range(1, max_iter + 1):
            push = (
                salted_join(g, ranks, key="src", salt=salt, dim_key="node_id")
                .groupBy(F.col("dst").alias("node_id"))
                .agg(F.sum(F.col("rank") * w / F.col("wout")).alias("contrib"))
            )
            teleport = (alpha * dangle + (1.0 - alpha)) / k
            new_ranks = (
                base.join(push, "node_id", "left")
                .select(
                    "node_id",
                    "wout",
                    (
                        F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.lit(teleport) * p
                    ).alias("rank"),
                )
                # lazy: the stats collect below is the materialising action
                .localCheckpoint(eager=False)
            )
            d = F.abs(F.col("rank") - F.col("old"))
            stats = (
                new_ranks.join(
                    ranks.select("node_id", F.col("rank").alias("old")), "node_id"
                )
                .agg(
                    F.sum(d).alias("l1"),
                    F.max(d).alias("mx"),
                    F.sum(F.when(is_dangling, F.col("rank"))).alias("dangle"),
                )
                .collect()[0]
            )
            rows.append((i, float(stats["l1"]), float(stats["mx"])))
            dangle = float(stats["dangle"] or 0.0)
            ranks = new_ranks
            if tol > 0 and stats["l1"] < n * tol:
                break
        else:
            if strict:
                raise _diverged(max_iter)
    finally:
        # the ranks are local checkpoints; nothing reads g or base again
        g.unpersist()
        base.unpersist()
    return ranks.select("node_id", F.col("rank").alias("score")), rows


def _dedup(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").dropDuplicates(["src", "dst"])


def static_pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    collect_threshold: int = 100_000,
    strict: bool = True,
    salt: int = 1,
) -> DataFrame:
    """(node_id, score) networkx-parity PageRank on the dedup digraph."""
    return _pagerank(
        _dedup(edges), alpha=alpha, max_iter=max_iter, tol=tol,
        strict=strict, collect_threshold=collect_threshold, salt=salt,
    )[0]


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    collect_threshold: int = 100_000,
    strict: bool = True,
    salt: int = 1,
) -> DataFrame:
    """(node_id, score) PPR on the dedup digraph, restarting at ``seeds``
    (a 1-column DataFrame of node ids; rows not in the graph are
    ignored, ``ValueError`` if none is). Dangling mass also returns to
    the seeds, networkx's default."""
    return _pagerank(
        _dedup(edges), seeds, alpha=alpha, max_iter=max_iter, tol=tol,
        strict=strict, collect_threshold=collect_threshold, salt=salt,
    )[0]


def weighted_pagerank(
    wedges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    collect_threshold: int = 100_000,
    strict: bool = True,
    salt: int = 1,
) -> DataFrame:
    """(node_id, score) PageRank with weight-proportional transitions
    (``nx.pagerank`` with ``weight=``) over ``(src, dst, w)``; repeated
    pairs sum their weights. Equal weights give :func:`static_pagerank`.
    """
    w = (
        wedges.select("src", "dst", F.col("w").cast("double").alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    return _pagerank(
        w, alpha=alpha, max_iter=max_iter, tol=tol,
        strict=strict, collect_threshold=collect_threshold, salt=salt,
    )[0]


def pagerank_convergence(
    edges: DataFrame,
    alpha: float = 0.85,
    iters: int = 30,
    salt: int = 1,
) -> DataFrame:
    """(iter, l1_delta, max_delta) — the per-round L1 and max absolute
    rank change of the distributed loop, run to a fixed depth so the
    unrolled SQL oracle is round-for-round identical. An operator
    planning a large run reads the delta curve to pick its iteration
    budget; the telemetry rides on the round's one stats read."""
    _, rows = _pagerank(
        _dedup(edges), alpha=alpha, max_iter=iters, tol=0.0,
        strict=False, collect_threshold=0, salt=salt,
    )
    return edges.sparkSession.createDataFrame(
        rows, "iter long, l1_delta double, max_delta double"
    )
