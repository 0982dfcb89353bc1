"""The benchmark's workloads: inputs, one timed pass, and the gate.

A workload object is built from the seed and a private work directory.
``generate()`` writes its input parquet (set-up), ``run_pass()`` runs the
engine from that parquet to committed results through the engine's public
entry points, and ``check()`` compares the committed results with an
independent oracle, returning ``(attempted, failed, notes)``.  After a
pass, ``walk_metrics`` and ``layer_counters()`` give the traced record its
kernel timings and file-level counts.
"""

from __future__ import annotations

import glob
import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

import inputs
import oracles
from tracing import Tracer, WalkProxy


def _dir_size(path: str) -> tuple[int, int]:
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
             if os.path.isfile(f)]
    return sum(os.path.getsize(f) for f in files), len(files)


class ReplayWide:
    """Multi-tenant events -> ``edges_from_events`` ->
    ``attach_closure_components`` -> ``SuperstepDriver.run`` with
    ``DistributedTemporalKatz`` -> partitioned score sink.

    The replay is checkpointed and stopped halfway (``max_index``); a
    fresh driver with ``resume=True`` restores the state and finishes, so
    one pass runs the walk kernel over 64 closures at width and also the
    superstep layer's checkpoint writes and restore.
    """

    name = "replay_wide"
    TENANTS = 64
    EVENTS = 50_000
    USERS_PER_TENANT = 100
    TYPES_PER_TENANT = 16
    SNAPSHOTS = 64
    BATCH = 32
    PARAMS = 8
    SAMPLES = 2
    CHECKS = SAMPLES + 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.events_path = os.path.join(work, "input", "events.parquet")
        self.edges_dir = os.path.join(work, "edges_closure")
        self.out_dir = os.path.join(work, "scores")
        self.ckpt_dir = os.path.join(work, "ckpt")

    def generate(self) -> dict:
        ev = inputs.events_multitenant(
            self.seed, self.TENANTS, self.EVENTS, self.USERS_PER_TENANT,
            self.TYPES_PER_TENANT,
        )
        nbytes = inputs.write_parquet(ev, self.events_path)
        self.events = ev
        return dict(rows=len(ev), bytes=nbytes)

    def prepare(self) -> dict:
        """Oracle-side view of the input (pandas only): the induced
        stream, the replay's boundaries and parameters, and the input
        card.  The parameters keep every closure rate-bounded: beta times
        the busiest node's in-edge rate times the decay norm stays at
        ``0.3 * ln 2``."""
        from online_centrality_spark.functions.weights import ExponentialWeighter

        stream, ids = oracles.induced_edges(self.events)
        self.stream = stream
        self.tenant = stream["src_actor"].str.slice(0, 4).to_numpy()
        t0, t_max = int(stream["t"].min()), int(stream["t"].max())
        width = (t_max - t0) // self.SNAPSHOTS + 1
        self.boundaries = [t0 + (i + 1) * width for i in range(self.SNAPSHOTS)]
        rate = np.bincount(stream["dst"]).max() / (t_max - t0)
        self.params = []
        for i in range(self.PARAMS):
            norm = width * (i + 1) / 2.0
            beta = min(1.0, 0.3 * math.log(2) / (rate * norm))
            self.params.append((beta, ExponentialWeighter(norm=norm, base=0.5)))
        sizes = pd.Series(self.tenant).value_counts()
        rng = np.random.default_rng(self.seed)
        others = sorted(sizes.index[1:])
        self.samples = [sizes.index[0]] + list(
            rng.choice(others, self.SAMPLES - 1, replace=False)
        )
        return dict(
            edges=len(stream),
            nodes=len(ids),
            closures=int(len(sizes)),
            max_closure_edge_share=float(sizes.iloc[0] / len(stream)),
        )

    def run_pass(self, spark, tracer: Tracer) -> None:
        from online_centrality_spark.operators import (
            DistributedTemporalKatz,
            attach_closure_components,
        )
        from online_centrality_spark.plans.superstep import SuperstepDriver
        from online_centrality_spark.sources.edges import edges_from_events

        for d in (self.edges_dir, self.out_dir, self.ckpt_dir):
            shutil.rmtree(d, ignore_errors=True)
        with tracer.layer("edges"):
            edges, _ = edges_from_events(spark.read.parquet(self.events_path))
            edges = edges.persist()
            rows_out = edges.count()
        with tracer.layer("closure"):
            attach_closure_components(edges).write.parquet(self.edges_dir)
        edges.unpersist()
        walks = []
        for resume in (False, True):
            tk = WalkProxy(DistributedTemporalKatz(self.params), tracer)
            with tracer.layer("superstep"):
                SuperstepDriver(spark, self.out_dir, self.ckpt_dir).run(
                    spark.read.parquet(self.edges_dir),
                    self.boundaries,
                    "epoch",
                    online=[tk],
                    max_index=None if resume else self.SNAPSHOTS // 2,
                    resume=resume,
                    batch_size=self.BATCH,
                    persist_edges=False,
                )
            tk.release()
            walks.extend(m for b in tk.batches for m in b)
        self.param_ids = tk.param_ids
        self.rows_out, self.walk_metrics = rows_out, walks

    def layer_counters(self) -> dict:
        """Counts read back from the pass's files (no Spark job)."""
        closure = pads.dataset(self.edges_dir).to_table(columns=["closure"])
        sizes = pd.Series(closure.column("closure").to_numpy()).value_counts()
        ckpt_bytes, ckpt_files = _dir_size(self.ckpt_dir)
        sink_bytes, sink_files = _dir_size(os.path.join(self.out_dir, "dist"))
        return {
            "edges.rows_out": self.rows_out,
            "closure.count": int(len(sizes)),
            "closure.max_edge_share": float(sizes.iloc[0] / sizes.sum()),
            "superstep.ckpt_bytes": ckpt_bytes,
            "superstep.ckpt_files": ckpt_files,
            "superstep.sink_bytes": sink_bytes,
            "superstep.sink_files": sink_files,
        }

    def check(self) -> tuple[int, int, list[str]]:
        """Per-vertex scores of the sampled closures at every snapshot
        against the reference oracle (``rtol=1e-6``), plus the score row
        count of every snapshot over all closures."""
        scores = pads.dataset(
            os.path.join(self.out_dir, "dist", "measure=tk"), partitioning="hive"
        ).to_table().to_pandas()
        scores["snapshot_id"] = scores["snapshot_id"].astype(np.int64)
        attempted, failed, notes = 0, 0, []
        pos = {p: j for j, p in enumerate(self.param_ids)}
        for tenant in self.samples:
            attempted += 1
            sub = self.stream[self.tenant == tenant]
            want = oracles.temporal_katz_snapshots(sub, self.boundaries, self.params)
            nodes = set(sub["src"]) | set(sub["dst"])
            got = scores[scores["node_id"].isin(nodes)]
            bad = 0
            for i, snap in want.items():
                g = got[got["snapshot_id"] == i]
                if set(g["node_id"]) != set(snap):
                    bad += 1
                    continue
                w = np.array([snap[n][pos[p]] for n, p in zip(g["node_id"], g["param_id"])])
                if len(g) != len(snap) * len(pos) or not np.allclose(
                    g["score"].to_numpy(), w, rtol=1e-6, atol=1e-12
                ):
                    bad += 1
            if bad:
                failed += 1
                notes.append(f"closure {tenant}: {bad} of {len(want)} snapshots differ")
        attempted += 1
        first = pd.concat(
            [self.stream[["t", "src"]].rename(columns={"src": "n"}),
             self.stream[["t", "dst"]].rename(columns={"dst": "n"})]
        ).groupby("n")["t"].min().to_numpy()
        want_rows = [len(self.params) * int((first <= b).sum()) for b in self.boundaries]
        got_rows = scores.groupby("snapshot_id").size().reindex(
            range(len(self.boundaries)), fill_value=0
        ).tolist()
        if got_rows != want_rows:
            failed += 1
            notes.append("score row counts per snapshot differ from the oracle")
        return attempted, failed, notes


class StaticGraph:
    """A Zipf digraph through PageRank, connected components, label
    propagation and per-vertex triangles, each written to parquet.

    ``collect_threshold=0`` keeps PageRank and CC on their distributed
    round loops (one Spark job or more per round) at a graph size whose
    cold pass takes well under a minute; with the default threshold a
    graph this size would take the single-task kernels.
    """

    name = "static_graph"
    NODES = 12_000
    MEAN_OUT = 4.0
    LPA_ITER = 5
    OPS = ("pagerank", "cc", "lpa", "triangles")
    CHECKS = len(OPS)
    walk_metrics = ()

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.graph_path = os.path.join(work, "input", "graph.parquet")
        self.out = {op: os.path.join(work, "out", op) for op in self.OPS}

    def generate(self) -> dict:
        g = inputs.zipf_digraph(self.seed, self.NODES, self.MEAN_OUT)
        nbytes = inputs.write_parquet(g, self.graph_path)
        self.graph = g
        return dict(rows=len(g), bytes=nbytes)

    def prepare(self) -> dict:
        cc = oracles.components(self.graph)
        sizes = cc.value_counts()
        src_comp = cc.loc[self.graph["src"]].to_numpy()
        return dict(
            edges=len(self.graph),
            nodes=int(len(cc)),
            closures=int(len(sizes)),
            max_closure_edge_share=float(
                pd.Series(src_comp).value_counts().iloc[0] / len(self.graph)
            ),
        )

    def run_pass(self, spark, tracer: Tracer) -> None:
        from online_centrality_spark.operators.components import (
            connected_components,
            label_propagation,
        )
        from online_centrality_spark.operators.static_pagerank import static_pagerank
        from online_centrality_spark.operators.triangles import (
            triangle_count_per_vertex,
        )

        for d in self.out.values():
            shutil.rmtree(d, ignore_errors=True)
        ops = {
            "pagerank": lambda g: static_pagerank(g, tol=1e-6, collect_threshold=0),
            "cc": lambda g: connected_components(g, collect_threshold=0),
            "lpa": lambda g: label_propagation(g, max_iter=self.LPA_ITER),
            "triangles": triangle_count_per_vertex,
        }
        for op, fn in ops.items():
            with tracer.layer(op):
                fn(spark.read.parquet(self.graph_path)).write.parquet(self.out[op])

    def layer_counters(self) -> dict:
        return {}

    def _read(self, op: str, col: str) -> pd.Series:
        t = pads.dataset(self.out[op]).to_table().to_pandas()
        return t.set_index("node_id")[col].sort_index()

    def check(self) -> tuple[int, int, list[str]]:
        """PageRank to ``rtol=1e-6``; CC, LPA and triangles exactly."""
        checks = {
            "pagerank": (self._read("pagerank", "score"), oracles.pagerank(self.graph)),
            "cc": (self._read("cc", "component"), oracles.components(self.graph)),
            "lpa": (self._read("lpa", "label"),
                    oracles.label_propagation(self.graph, self.LPA_ITER)),
            "triangles": (self._read("triangles", "triangles"),
                          oracles.triangles(self.graph)),
        }
        failed, notes = 0, []
        for op, (got, want) in checks.items():
            want = want.sort_index()
            if not got.index.equals(want.index):
                ok = False
            elif op == "pagerank":
                ok = np.allclose(got.to_numpy(), want.to_numpy(), rtol=1e-6, atol=0)
            else:
                ok = np.array_equal(got.to_numpy(), want.to_numpy())
            if not ok:
                failed += 1
                notes.append(f"{op}: output differs from the oracle")
        return len(checks), failed, notes


WORKLOADS = {w.name: w for w in (ReplayWide, StaticGraph)}
