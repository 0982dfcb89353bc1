"""Independent oracles for the benchmark's correctness gate.

Nothing here runs through Spark: inputs are the generated parquet files
read with pandas, and the engine's outputs are read back with pyarrow.
Temporal Katz uses the repository's reference oracle
(``tests/oracle/reference_oracle.py``); the static measures use numpy,
networkx and pandas implementations written here.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pandas as pd


# -- replay ------------------------------------------------------------------


def induced_edges(events: pd.DataFrame) -> tuple[pd.DataFrame, dict[str, int]]:
    """The interaction-adjacency rule applied with pandas.

    Within each user ordered by ``event_id``, consecutive events give one
    edge ``type(k) -> type(k+1)`` stamped with the later event's time in
    epoch microseconds.  Actors get dense ids in lexicographic order and
    the stream is ordered by ``(t, user_id, event_id)``.
    """
    ev = events.sort_values(["user_id", "event_id"], kind="stable")
    prev = ev.groupby("user_id", sort=False)["event_type"].shift(1)
    keep = prev.notna().to_numpy()
    e = pd.DataFrame(
        {
            "t": ev["ts"].astype("datetime64[us]").astype(np.int64).to_numpy()[keep],
            "src_actor": prev.to_numpy()[keep],
            "dst_actor": ev["event_type"].to_numpy()[keep],
            "user_id": ev["user_id"].to_numpy()[keep],
            "event_id": ev["event_id"].to_numpy()[keep],
        }
    )
    actors = sorted(set(e["src_actor"]) | set(e["dst_actor"]))
    ids = {a: i for i, a in enumerate(actors)}
    e["src"] = e["src_actor"].map(ids).astype(np.int64)
    e["dst"] = e["dst_actor"].map(ids).astype(np.int64)
    e = e.sort_values(["t", "user_id", "event_id"], kind="stable", ignore_index=True)
    return e[["t", "src", "dst", "src_actor"]], ids


def temporal_katz_snapshots(
    stream: pd.DataFrame, boundaries: list[int], params
) -> dict[int, dict[int, list[float]]]:
    """Per-snapshot Temporal Katz scores of one closure's edge stream.

    Snapshot ``i`` holds every edge with ``t <= boundaries[i]`` applied in
    stream order, read out decayed to ``boundaries[i]``.
    """
    from tests.oracle.reference_oracle import OracleTemporalKatz

    tk = OracleTemporalKatz(params)
    ts = stream["t"].to_numpy()
    src = stream["src"].to_numpy()
    dst = stream["dst"].to_numpy()
    out: dict[int, dict[int, list[float]]] = {}
    j = 0
    for i, b in enumerate(boundaries):
        while j < len(ts) and ts[j] <= b:
            tk.update(int(src[j]), int(dst[j]), int(ts[j]))
            j += 1
        out[i] = tk.snapshot(int(b))
    return out


# -- static graph ------------------------------------------------------------


def pagerank(edges: pd.DataFrame, alpha=0.85, max_iter=100, tol=1e-6) -> pd.Series:
    """networkx-parity power iteration (uniform start and teleport,
    dangling mass spread uniformly, stop when the L1 change < N * tol)."""
    nodes = np.unique(np.concatenate([edges["src"], edges["dst"]]))
    n = len(nodes)
    s = np.searchsorted(nodes, edges["src"].to_numpy())
    d = np.searchsorted(nodes, edges["dst"].to_numpy())
    outdeg = np.bincount(s, minlength=n)
    dangling = outdeg == 0
    inv = np.where(dangling, 0.0, 1.0 / np.maximum(outdeg, 1))
    x = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        last = x
        x = alpha * np.bincount(d, weights=(last * inv)[s], minlength=n)
        x += (alpha * last[dangling].sum() + 1.0 - alpha) / n
        if np.abs(x - last).sum() < n * tol:
            return pd.Series(x, index=nodes)
    raise RuntimeError("oracle pagerank did not converge")


def _undirected(edges: pd.DataFrame) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return g


def components(edges: pd.DataFrame) -> pd.Series:
    """Weakly connected component of each node, labelled by its min id."""
    out = {}
    for comp in nx.connected_components(_undirected(edges)):
        m = min(comp)
        out.update(dict.fromkeys(comp, m))
    return pd.Series(out).sort_index()


def triangles(edges: pd.DataFrame) -> pd.Series:
    return pd.Series(nx.triangles(_undirected(edges))).sort_index()


def label_propagation(edges: pd.DataFrame, max_iter: int) -> pd.Series:
    """Synchronous LPA: each round every node takes the most frequent
    label among its undirected neighbours, the smallest label on ties;
    stops after ``max_iter`` rounds or when no label changes."""
    a = np.concatenate([edges["src"], edges["dst"]])
    b = np.concatenate([edges["dst"], edges["src"]])
    sym = pd.DataFrame({"a": a, "b": b})
    sym = sym[sym["a"] != sym["b"]].drop_duplicates()
    nodes = np.unique(a)
    labels = pd.Series(nodes, index=nodes)
    for _ in range(max_iter):
        votes = (
            pd.DataFrame({"b": sym["b"].to_numpy(), "label": labels.loc[sym["a"]].to_numpy()})
            .groupby(["b", "label"])
            .size()
            .reset_index(name="cnt")
            .sort_values(["b", "cnt", "label"], ascending=[True, False, True])
            .drop_duplicates("b")
        )
        new = labels.copy()
        new.loc[votes["b"].to_numpy()] = votes["label"].to_numpy()
        changed = int((new != labels).sum())
        labels = new
        if changed == 0:
            break
    return labels
