"""Distributed-state Temporal PageRank: per-closure ordered Arrow fold.

The Rozenshtein–Gionis update (reference ``temporal_pagerank.py:39-52``)
touches only ``pr(u), pr(v), m(u), m(v)`` per edge ``(u, v)``, so an
edge stream partitioned by a node-disjoint closure key (weakly connected
component of the time-collapsed graph — edges never cross a WCC) splits
into fully independent groups: each group folds its own edges in stable
``(key, seq)`` order over a local dense state block and the result is
EXACT, not approximate.  Unlike temporal Katz, the per-edge
``m(u) *= beta`` makes the recurrence state-multiplicative, so the
Jacobi path-length expansion does not apply — the per-group fold is the
exact distributed plan (the reference itself is one global fold;
``CentralityScoreComputer.py:98-101`` runs it in every experiment).

State is a DataFrame ``(node, closure, vals: array<double>)`` with
``vals = [pr_1..pr_p, m_1..m_p]``, co-partitioned with the edges via
``groupBy(closure).cogroup(...).applyInPandas`` exactly like
:func:`~.walk.run_walk_batch_distributed`.  TPR has no time decay, so
there is no basis to carry — a group with state but no edges is a pure
pass-through that still emits every read-out.

This replaces the driver-side ``orderBy(seq).toPandas()`` fold (the
round-1 scale-killer) for node spaces beyond the scan path's
``2n <= 256`` cap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .walk import DIST_ROW_SCHEMA, decode_walk_meta

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType(), False),
        T.StructField("closure", T.LongType(), False),
        T.StructField("vals", T.ArrayType(T.DoubleType()), False),
    ]
)


def run_tpr_batch_distributed(
    edges: DataFrame,
    alphas: np.ndarray,
    betas: np.ndarray,
    intervals: list[tuple[int, float, float]],
    closure_col: str,
    state_in: DataFrame | None = None,
):
    """ONE cogroup job: fold each closure group's edges over the carried
    state in stable ``(key, seq)`` order, emitting per-interval read-out
    rows (kind 0: ``vals`` = the p pr scores) and the next state frame
    (kind 1: ``vals`` = ``[pr..., m...]``), plus per-group metrics
    (kind 2).  Returns ``(out_df, metrics_extractor)``.
    """
    spark = edges.sparkSession
    p = len(alphas)
    a_arr = np.asarray(alphas, dtype=np.float64)
    b_arr = np.asarray(betas, dtype=np.float64)
    t_last = float(intervals[-1][1])
    cuts = [float(hi) for _, hi, _ in intervals]
    iids = [int(iid) for iid, _, _ in intervals]
    e = edges.select(
        F.col("key").cast("double").alias("key"),
        "src",
        "dst",
        "seq",
        F.col(closure_col).cast("long").alias("closure"),
    ).filter(F.col("key") <= F.lit(t_last))
    if state_in is None:
        state_in = spark.createDataFrame([], _STATE_SCHEMA)
    srows = state_in.select(
        "node", F.col("closure").cast("long").alias("closure"), "vals"
    )

    def kernel(key_tuple, etbl, stbl):
        # applyInArrow kernel: pyarrow Tables in and out (no pandas hop)
        import time as _t

        import pyarrow as pa

        from pyspark import TaskContext

        t_k0 = _t.time()
        k0 = key_tuple[0]
        closure_val = int(k0.as_py() if hasattr(k0, "as_py") else k0)
        E0 = etbl.num_rows

        def col(tbl, name, dtype):
            return tbl.column(name).to_numpy(zero_copy_only=False).astype(
                dtype, copy=False
            )

        key = col(etbl, "key", np.float64) if E0 else np.empty(0, np.float64)
        seq = col(etbl, "seq", np.int64) if E0 else np.empty(0, np.int64)
        gsrc = col(etbl, "src", np.int64) if E0 else np.empty(0, np.int64)
        gdst = col(etbl, "dst", np.int64) if E0 else np.empty(0, np.int64)
        if len(key):
            dk = np.diff(key)
            if np.any((dk < 0) | ((dk == 0) & (np.diff(seq) < 0))):
                order = np.lexsort((seq, key))
                key = key[order]
                gsrc = gsrc[order]
                gdst = gdst[order]
        E = len(key)
        n_state = stbl.num_rows
        snodes = col(stbl, "node", np.int64) if n_state else np.empty(0, np.int64)
        all_ids = np.concatenate([gsrc, gdst, snodes])
        if len(all_ids) == 0:
            return pa.table(
                {
                    "kind": pa.array([], pa.int32()),
                    "interval": pa.array([], pa.int64()),
                    "node": pa.array([], pa.int64()),
                    "closure": pa.array([], pa.int64()),
                    "vals": pa.array([], pa.list_(pa.float64())),
                    "meta": pa.array([], pa.binary()),
                }
            )
        nodes = np.unique(all_ids)
        nl = len(nodes)
        src = np.searchsorted(nodes, gsrc)
        dst = np.searchsorted(nodes, gdst)
        # per-param Python float lists: the fold is one scalar pass per
        # param — plain list indexing beats per-edge numpy slicing by
        # several x at small p (numpy's small-array call overhead
        # dominates an 8-op update)
        prs = [[0.0] * nl for _ in range(p)]
        mss = [[0.0] * nl for _ in range(p)]
        if n_state:
            sidx = np.searchsorted(nodes, snodes)
            flat = stbl.column("vals").combine_chunks().flatten().to_numpy(
                zero_copy_only=False
            )
            sv = flat.reshape(n_state, 2 * p)  # (m, 2p): pr..., m...
            for j in range(p):
                pr_j, m_j = prs[j], mss[j]
                for t_i, row in zip(sidx.tolist(), sv):
                    pr_j[t_i] = float(row[j])
                    m_j[t_i] = float(row[p + j])
        src_l = src.tolist()
        dst_l = dst.tolist()
        acc_kind: list[np.ndarray] = []
        acc_iv: list[np.ndarray] = []
        acc_node: list[np.ndarray] = []
        acc_vals: list[np.ndarray] = []
        t_k1 = _t.time()
        iv_cuts = [int(np.searchsorted(key, hi, side="right")) for hi in cuts]
        pos = 0
        for iid, cut in zip(iids, iv_cuts):
            for j in range(p):
                a = float(a_arr[j])
                b = float(b_arr[j])
                one_a = 1.0 - a
                ab = a * (1.0 - b)
                one_b = 1.0 - b
                pr, ms = prs[j], mss[j]
                for i in range(pos, cut):
                    u = src_l[i]
                    v = dst_l[i]
                    if u == v:
                        # reference tuple-assignment collapse (self-loop)
                        mv = ms[v]
                        pr[v] += a * (mv + one_a)
                        ms[v] = mv * (1.0 + ab) + one_a * ab
                    else:
                        emit = a * (ms[u] + one_a)
                        pr[v] += emit
                        ms[v] += one_b * emit
                        ms[u] *= b
                        pr[u] += one_a
            pos = cut
            pr_mat = np.asarray(prs)  # (p, nl)
            mask = (pr_mat > 0).any(axis=0)
            if mask.any():
                acc_kind.append(np.full(int(mask.sum()), 0, np.int32))
                acc_iv.append(np.full(int(mask.sum()), iid, np.int64))
                acc_node.append(nodes[mask])
                acc_vals.append(np.ascontiguousarray(pr_mat[:, mask].T))
        pr_mat = np.asarray(prs)
        m_mat = np.asarray(mss)
        # next state: nodes with any nonzero pr or mass
        st_mask = (pr_mat != 0).any(axis=0) | (m_mat != 0).any(axis=0)
        m_st = int(st_mask.sum())
        if m_st:
            acc_kind.append(np.full(m_st, 1, np.int32))
            acc_iv.append(np.full(m_st, -1, np.int64))
            acc_node.append(nodes[st_mask])
            acc_vals.append(
                np.ascontiguousarray(
                    np.concatenate(
                        [pr_mat[:, st_mask], m_mat[:, st_mask]], axis=0
                    ).T
                )
            )
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        meta = np.array(
            [
                float(pid),
                1.0,  # a fold is exactly one pass
                0.0,
                float(E),
                0.0
                if (np.isfinite(pr_mat).all() and np.isfinite(m_mat).all())
                else 1.0,
                t_k1 - t_k0,
                _t.time() - t_k1,
            ]
        )
        if acc_kind:
            kind_col = np.concatenate(acc_kind)
            iv_col = np.concatenate(acc_iv)
            node_col = np.concatenate(acc_node)
            # read-out rows carry p values, state rows 2p: explicit
            # per-row widths drive the ListArray offsets
            widths = np.concatenate(
                [np.full(len(b), b.shape[1], np.int32) for b in acc_vals]
            )
            flat_vals = np.concatenate([b.ravel() for b in acc_vals])
        else:
            kind_col = np.empty(0, np.int32)
            iv_col = np.empty(0, np.int64)
            node_col = np.empty(0, np.int64)
            widths = np.empty(0, np.int32)
            flat_vals = np.empty(0, np.float64)
        m = len(kind_col)
        offsets = pa.array(
            np.concatenate([[0], np.cumsum(widths, dtype=np.int64)]).astype(
                np.int32
            ),
            pa.int32(),
        )
        vals_body = pa.ListArray.from_arrays(
            offsets, pa.array(flat_vals, pa.float64())
        )
        vals_arr = pa.concat_arrays(
            [vals_body, pa.array([None], pa.list_(pa.float64()))]
        )
        return pa.table(
            {
                "kind": pa.array(
                    np.concatenate([kind_col, np.array([2], np.int32)]), pa.int32()
                ),
                "interval": pa.array(
                    np.concatenate([iv_col, np.array([-1], np.int64)]), pa.int64()
                ),
                "node": pa.array(
                    np.concatenate([node_col, np.array([-1], np.int64)]), pa.int64()
                ),
                "closure": pa.array(
                    np.full(m + 1, closure_val, np.int64), pa.int64()
                ),
                "vals": vals_arr,
                "meta": pa.array([None] * m + [meta.tobytes()], pa.binary()),
            }
        )

    out = (
        e.groupBy("closure")
        .cogroup(srows.groupBy("closure"))
        .applyInArrow(kernel, schema=DIST_ROW_SCHEMA)
    )

    def metrics_extractor(out_df):
        return [
            decode_walk_meta(row["meta"])
            for row in out_df.filter(F.col("kind") == 2).collect()
        ]

    return out, metrics_extractor


class DistributedTemporalPageRank:
    """Driver-protocol measure wrapping :func:`run_tpr_batch_distributed`
    (``distributed = True``: read-outs land via the partitioned
    distributed score sink, state is a checkpointed DataFrame)."""

    measure = "tpr"
    distributed = True
    state_frame_names = ("state",)

    def __init__(self, params: list[tuple[float, float]], closure_col: str = "closure"):
        for alpha, beta in params:
            if not (0 < alpha < 1):
                raise ValueError("alpha must be in (0,1)")
            if not (0 <= beta < 1):
                raise ValueError("beta must be in [0,1)")
        self.params = params
        self.alphas = np.array([a for a, _ in params])
        self.betas = np.array([b for _, b in params])
        self.p = len(params)
        self.closure_col = closure_col
        self.walk_metrics: list[dict] = []
        self._out_cached: DataFrame | None = None
        self.reset()

    def reset(self) -> None:
        self.state: DataFrame | None = None

    @property
    def param_ids(self) -> list[str]:
        return ["tpr_a%0.2f_b%0.2f" % (a, b) for a, b in self.params]

    def can_batch(self) -> bool:
        return True

    def superstep(self, window: DataFrame | None, hi: float) -> None:
        if window is None:
            return  # TPR has no decay: inactive interval is a no-op
        self.run_batch(window, [(0, float(hi), float(hi))], readouts=False)

    def run_batch(
        self,
        df: DataFrame,
        intervals: list[tuple[int, float, float]],
        readouts: bool = True,
    ) -> DataFrame | None:
        out, metrics_extractor = run_tpr_batch_distributed(
            df,
            self.alphas,
            self.betas,
            intervals,
            closure_col=self.closure_col,
            state_in=self.state,
        )
        if self._out_cached is not None:
            self._out_cached.unpersist()
        out = out.persist()
        self._out_cached = out
        self.walk_metrics = metrics_extractor(out)
        bad = [m for m in self.walk_metrics if m["diverged"]]
        if bad:
            raise ValueError(f"temporal-pagerank state went non-finite: {bad[:3]}")
        # surface closure skew: the per-closure ordered fold serializes
        # each closure's edges into one task, so a giant WCC bounds the
        # whole batch (semantics-forced — the m(u) *= beta recurrence
        # neither factorizes nor stays sparse under scan composition).
        # max/total edge share per closure lands in the convergence
        # parquet so an operator sees the bound instead of guessing.
        tot = sum(m["edges"] for m in self.walk_metrics)
        mx = max((m["edges"] for m in self.walk_metrics), default=0)
        skew = (mx / tot) if tot else 0.0
        for m in self.walk_metrics:
            m["closure_skew"] = skew
        self.state = (
            out.filter(F.col("kind") == 1)
            .select("node", "closure", "vals")
            .localCheckpoint(eager=True)
        )
        if not readouts:
            return None
        pid_arr = F.array(*[F.lit(p) for p in self.param_ids])
        return (
            out.filter(F.col("kind") == 0)
            .select(
                F.col("interval").alias("interval_id"),
                F.col("node").alias("node_id"),
                F.posexplode("vals").alias("pos", "score"),
            )
            # export keeps positive scores only (temporal_pagerank.py:61-62)
            .filter(F.col("score") > 0)
            .select(
                "interval_id",
                pid_arr[F.col("pos")].alias("param_id"),
                "node_id",
                "score",
            )
        )

    def release(self) -> None:
        """Drop the cached job output (bench hygiene / end of replay)."""
        if self._out_cached is not None:
            self._out_cached.unpersist()
            self._out_cached = None

    def state_frames(self) -> dict[str, DataFrame | None]:
        return {"state": self.state}

    def load_state_frames(self, state: DataFrame | None) -> None:
        self.state = state
