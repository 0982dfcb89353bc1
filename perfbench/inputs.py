"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``seed`` and its size arguments, so
the same seed gives byte-identical parquet.  The engine sees only the
parquet files written here; the benchmark's oracles read the same files
with pandas/pyarrow, never through Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: 2024-01-01T00:00:00Z in microseconds; events carry microsecond times
EVENTS_T0_US = 1_704_067_200_000_000


def events_multitenant(
    seed: int,
    tenants: int,
    events: int,
    users_per_tenant: int,
    types_per_tenant: int,
    span_days: float = 30.0,
) -> pd.DataFrame:
    """A table in the ``events`` schema where every tenant owns its users
    and its event-type vocabulary.

    Edge induction links consecutive events of one user, so each tenant's
    edges stay inside its own vocabulary: every tenant is one node-disjoint
    closure.  Tenant sizes follow a mild power law (weight ``1/sqrt(rank)``)
    so the largest closure, which bounds the walk layer's parallel
    speed-up, is a few times the mean.  Event types within a tenant are
    Zipf-weighted, giving each closure a hub type.
    """
    rng = np.random.default_rng(seed)
    w = 1.0 / np.sqrt(np.arange(1, tenants + 1))
    tenant = rng.choice(tenants, size=events, p=w / w.sum())
    user = tenant * users_per_tenant + rng.integers(0, users_per_tenant, events)
    tw = 1.0 / np.arange(1, types_per_tenant + 1)
    etype = rng.choice(types_per_tenant, size=events, p=tw / tw.sum())
    span_us = int(span_days * 86_400 * 1_000_000)
    ts = EVENTS_T0_US + rng.integers(0, span_us, events)
    order = np.lexsort((user, ts))
    tenant, user, etype, ts = tenant[order], user[order], etype[order], ts[order]
    vocab = np.array(
        [f"t{t:03d}_e{k:02d}" for t in range(tenants) for k in range(types_per_tenant)]
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(events, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": user.astype(np.int64),
            "event_type": vocab[tenant * types_per_tenant + etype],
            "value": rng.random(events),
            "props": "{}",
        }
    )


def zipf_digraph(seed: int, nodes: int, mean_out: float) -> pd.DataFrame:
    """Simple digraph ``(src, dst)`` with Zipf out-degrees (at least 3)
    and Zipf in-popularity, no self-loops, no duplicates.

    30% of the destinations come from a window of ids near the source,
    which closes enough wedges for a non-trivial triangle count; the rest
    follow a heavy popularity law (exponent 1.3).  That mix keeps
    PageRank's round count steady across seeds (8 rounds to ``tol=1e-6``
    at 12k nodes for 11 of 12 seeds tried), so the seed changes the graph but not the
    amount of work.
    """
    rng = np.random.default_rng(seed)
    deg = np.minimum(rng.zipf(2.0, nodes), nodes // 10).astype(np.float64)
    deg = np.maximum(3, np.round(deg * mean_out / deg.mean())).astype(np.int64)
    src = np.repeat(np.arange(nodes, dtype=np.int64), deg)
    m = len(src)
    pop = rng.permutation(nodes)[np.minimum(rng.zipf(1.3, m) - 1, nodes - 1)]
    near = (src + rng.integers(-20, 21, m)) % nodes
    dst = np.where(rng.random(m) < 0.3, near, pop).astype(np.int64)
    e = pd.DataFrame({"src": src, "dst": dst})
    return e[e["src"] != e["dst"]].drop_duplicates(ignore_index=True)


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write ``df`` as one parquet file; return its size in bytes.

    Timestamps are stored as microseconds: Spark rejects parquet's
    nanosecond timestamps, pandas' default unit."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False, coerce_timestamps="us")
    return os.path.getsize(path)
