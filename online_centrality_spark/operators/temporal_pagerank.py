"""Temporal PageRank (Rozenshtein–Gionis) as distributed affine supersteps.

Update rule per edge (u, v) — ``temporal_pagerank.py:39-52`` in the
reference: with active-mass vector m,

    pr(u) += (1 - alpha)
    pr(v) += (m(u) + (1 - alpha)) * alpha
    m(v)  += (m(u) + (1 - alpha)) * alpha * (1 - beta)
    m(u)  *= beta

(self-loop u == v collapses by the reference's tuple-assignment order:
the pr(u) add is overwritten, and the mass beta-scale is overwritten).
The rule has no time decay, so it is a pure affine recurrence over the
stacked state (pr, m), served for every parameterization by an affine
segment scan: window edge segments are summarized as (M, c) in parallel
and composed in ``seq`` order.

Export keeps positive scores only (``temporal_pagerank.py:61-62``).

Scale note: unlike temporal Katz, TPR's affine maps stay numerically
bounded (the mass block is a contraction: each edge moves ``alpha*(1-b)``
of m(u) to v while scaling m(u) by ``b``), so the scan path does not
overflow on busy windows — its limit is the dense ``2n x 2n`` segment
summaries, i.e. small node spaces. A path-length expansion like the Katz
walk kernel does not apply because the per-edge ``m(u) *= b`` makes the
recurrence state-multiplicative, not affine-additive per chain hop.
For large node spaces use
:class:`~.temporal_pagerank_distributed.DistributedTemporalPageRank` —
per-closure ordered folds over cogrouped DataFrame state, the exact
distributed plan (this class's ``fold`` path collects to the driver and
is only for small spaces / tests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BATCH_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("wid", T.IntegerType(), False),  # window index in batch
        T.StructField("k", T.LongType(), False),
        T.StructField("m", T.BinaryType(), False),
        T.StructField("c", T.BinaryType(), False),
    ]
)


def _run_scan_batch(df, his, init_state, apply_edges, finalize=None):
    """Superstep batching: ONE Spark job summarizes B windows at once.

    Each seq-contiguous partition splits its (key-monotone) rows at the
    window boundaries ``his`` (window w covers ``his[w-1] < key <=
    his[w]``) and builds an independent affine summary per window it
    touches. The driver then replays the per-window combines — so a
    457-snapshot replay needs ~457/B jobs instead of 457, amortizing task
    scheduling and the Python-runner setup that otherwise dominate small
    windows.
    """
    his_arr = np.asarray([float(h) for h in his])

    def kernel(batches):
        states: dict[int, dict] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            key = pdf["key"].to_numpy(np.float64)
            wids = np.searchsorted(his_arr, key, side="left")
            change = np.nonzero(np.diff(wids))[0] + 1
            starts = np.concatenate([[0], change])
            ends = np.concatenate([change, [len(wids)]])
            for s, e in zip(starts, ends):
                wid = int(wids[s])
                st = states.get(wid)
                if st is None:
                    st = init_state()
                    st["first_seq"] = int(pdf["seq"].iloc[s])
                    states[wid] = st
                sl = pdf.iloc[s:e]
                apply_edges(
                    st,
                    float(his_arr[wid]),
                    key[s:e],
                    sl["src"].tolist(),
                    sl["dst"].tolist(),
                )
        rows = []
        for wid, st in states.items():
            if finalize is not None:
                m_bytes, c_bytes = finalize(st)
            else:
                m_bytes = np.asarray(st["m"], np.float64).tobytes()
                c_bytes = np.asarray(st["c"], np.float64).tobytes()
            rows.append((wid, st["first_seq"], m_bytes, c_bytes))
        if rows:
            yield pd.DataFrame(rows, columns=["wid", "k", "m", "c"])

    rows = (
        df.select("key", "src", "dst", "seq")
        .repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, "seq")
        .sortWithinPartitions("seq")
        .mapInPandas(kernel, schema=_BATCH_SUMMARY_SCHEMA)
        .collect()
    )
    by_w: dict[int, list] = {}
    for r in rows:
        by_w.setdefault(r["wid"], []).append(r)
    for w in by_w:
        by_w[w].sort(key=lambda r: r["k"])
    return by_w


def _np2d_identity(rows: int, p: int) -> np.ndarray:
    """(rows, p*rows) block layout: per-param identity blocks side by side."""
    m2 = np.zeros((rows, p * rows), dtype=np.float64)
    eye = np.eye(rows)
    for j in range(p):
        m2[:, j * rows : (j + 1) * rows] = eye
    return m2


def _np2d_finalize(rows: int, p: int):
    def finalize(st):
        m = st["m"].reshape(rows, p, rows).transpose(1, 0, 2)
        c = st["c"].T
        return (
            np.ascontiguousarray(m).tobytes(),
            np.ascontiguousarray(c).tobytes(),
        )

    return finalize


class TemporalPageRank:
    measure = "tpr"

    def __init__(
        self,
        params: list[tuple[float, float]],
        n_nodes: int,
        path: str = "scan",
    ):
        for alpha, beta in params:
            if not (0 < alpha < 1):
                raise ValueError("alpha must be in (0,1)")
            if not (0 <= beta < 1):
                raise ValueError("beta must be in [0,1)")
        self.params = params
        self.n = n_nodes
        self.p = len(params)
        self.path = path
        self.reset()

    def reset(self) -> None:
        # state[j] = concat(pr, mass), each length n
        self.state = np.zeros((self.p, 2 * self.n), dtype=np.float64)

    def state_dict(self) -> dict:
        return {"state": self.state}

    def load_state(self, d: dict) -> None:
        self.state = d["state"]

    @property
    def param_ids(self) -> list[str]:
        return ["tpr_a%0.2f_b%0.2f" % (a, b) for a, b in self.params]

    def superstep(self, window: DataFrame | None, hi: float | None = None) -> None:
        if window is None:
            return
        n, p = self.n, self.p
        alphas = np.array([a for a, _ in self.params])
        betas = np.array([b for _, b in self.params])

        def apply_edge_vec(y, u, v):
            """Fold-path vector update; y is (p, 2n)."""
            pu, pv, mu, mv = u, v, n + u, n + v
            if u == v:
                y[:, pv] += alphas * (y[:, mv] + (1 - alphas))
                y[:, mv] = y[:, mv] * (1 + alphas * (1 - betas)) + (
                    1 - alphas
                ) * alphas * (1 - betas)
            else:
                y[:, pv] += alphas * (y[:, mu] + (1 - alphas))
                y[:, mv] += alphas * (1 - betas) * (y[:, mu] + (1 - alphas))
                y[:, mu] *= betas
                y[:, pu] += 1 - alphas

        if self.path == "fold":
            pdf = (
                window.select("src", "dst", "seq").orderBy("seq").toPandas()
            )
            y = self.state
            src = pdf["src"].to_numpy(np.int64)
            dst = pdf["dst"].to_numpy(np.int64)
            for i in range(len(pdf)):
                apply_edge_vec(y, src[i], dst[i])
            return

        # scan path: single-window case of the batched path; TPR has no
        # time decay, so with no boundary every edge is "window 0"
        one_hi = float(hi) if hi is not None else float("inf")
        self.run_batch(window, [(0, one_hi, 0.0)], readouts=False)

    # -- superstep batching ----------------------------------------------
    def can_batch(self) -> bool:
        return self.path == "scan" and 2 * self.n <= 256

    def _batch_closures(self):
        n, p = self.n, self.p
        d = 2 * n
        alphas = [float(a) for a, _ in self.params]
        betas = [float(b) for _, b in self.params]
        if p < 5:
            def init_state():
                ident = np.eye(d).tolist()
                return {
                    "m": [[row[:] for row in ident] for _ in range(p)],
                    "c": [[0.0] * d for _ in range(p)],
                }

            def apply_edges(st, hi_w, key, src, dst):
                for j in range(p):
                    a, bt = alphas[j], betas[j]
                    one_a = 1.0 - a
                    ab = a * (1.0 - bt)
                    mj, cj = st["m"][j], st["c"][j]
                    for u, v in zip(src, dst):
                        pv, mu, mv = v, n + u, n + v
                        if u == v:
                            rmv = mj[mv]
                            rpv = mj[pv]
                            mj[pv] = [x + a * y for x, y in zip(rpv, rmv)]
                            cj[pv] += a * (cj[mv] + one_a)
                            scale = 1.0 + ab
                            mj[mv] = [x * scale for x in rmv]
                            cj[mv] = cj[mv] * scale + one_a * ab
                        else:
                            rmu = mj[mu]
                            rpv = mj[pv]
                            mj[pv] = [x + a * y for x, y in zip(rpv, rmu)]
                            cj[pv] += a * (cj[mu] + one_a)
                            rmv = mj[mv]
                            mj[mv] = [x + ab * y for x, y in zip(rmv, rmu)]
                            cj[mv] += ab * (cj[mu] + one_a)
                            mj[mu] = [x * bt for x in rmu]
                            cj[mu] *= bt
                            cj[u] += one_a

            return init_state, apply_edges, d, None

        a_arr = np.asarray(alphas)
        bt_arr = np.asarray(betas)
        one_a = 1.0 - a_arr
        ab = a_arr * (1.0 - bt_arr)
        atile = np.repeat(a_arr, d)
        abtile = np.repeat(ab, d)
        bttile = np.repeat(bt_arr, d)
        scale = 1.0 + ab
        scale_tile = 1.0 + abtile

        def init_state():
            return {
                "m": _np2d_identity(d, p),
                "c": np.zeros((d, p), dtype=np.float64),
            }

        def apply_edges(st, hi_w, key, src, dst):
            m2, c2 = st["m"], st["c"]
            for u, v in zip(src, dst):
                pv, mu, mv = v, n + u, n + v
                if u == v:
                    m2[pv] += atile * m2[mv]
                    c2[pv] += a_arr * (c2[mv] + one_a)
                    m2[mv] *= scale_tile
                    c2[mv] = c2[mv] * scale + one_a * ab
                else:
                    m2[pv] += atile * m2[mu]
                    c2[pv] += a_arr * (c2[mu] + one_a)
                    m2[mv] += abtile * m2[mu]
                    c2[mv] += ab * (c2[mu] + one_a)
                    m2[mu] *= bttile
                    c2[mu] *= bt_arr
                    c2[u] += one_a

        return init_state, apply_edges, d, _np2d_finalize(d, p)

    def run_batch(
        self,
        df: DataFrame,
        intervals: list[tuple[int, float, float]],
        readouts: bool = True,
    ) -> dict[int, pd.DataFrame]:
        init_state, apply_edges, d, finalize = self._batch_closures()
        if "key" not in df.columns:
            df = df.withColumn("key", F.lit(0.0))
        by_w = _run_scan_batch(
            df,
            [hi for _, hi, _ in intervals],
            init_state,
            apply_edges,
            finalize=finalize,
        )
        p = self.p
        outs: dict[int, pd.DataFrame] = {}
        for idx, (iid, hi, rt) in enumerate(intervals):
            y = self.state
            for r in by_w.get(idx, []):
                m = np.frombuffer(r["m"], np.float64).reshape(p, d, d)
                c = np.frombuffer(r["c"], np.float64).reshape(p, d)
                y = np.einsum("pij,pj->pi", m, y) + c
            self.state = np.ascontiguousarray(y)
            if readouts:
                outs[iid] = self.readout()
        return outs

    def readout(self, boundary: float | None = None) -> pd.DataFrame:
        frames = []
        for j, pid in enumerate(self.param_ids):
            pr = self.state[j, : self.n]
            idx = np.nonzero(pr > 0)[0]
            frames.append(
                pd.DataFrame({"param_id": pid, "node_id": idx, "score": pr[idx]})
            )
        if not frames:
            return pd.DataFrame(columns=["param_id", "node_id", "score"])
        return pd.concat(frames, ignore_index=True)
