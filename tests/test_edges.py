"""Edge induction: transcripts -> (t, src, dst, seq) + node dictionary."""

import pandas as pd
import pytest

from online_centrality_spark.sources.edges import (
    add_global_seq,
    edges_from_transcripts,
)
from online_centrality_spark.sources.transcripts import (
    generate_transcripts,
    transcripts_spark,
)


def induce_edges_pandas(tr: pd.DataFrame):
    """Independent pandas re-derivation of the FIXTURES.md §1 rule."""
    tr = tr.sort_values(["conv_id", "turn_idx"]).copy()
    actor = tr.apply(
        lambda r: f"tool:{r['tool']}" if r["role"] == "tool" else r["role"], axis=1
    )
    tr["actor"] = actor
    edges = []
    for _, g in tr.groupby("conv_id", sort=False):
        acts = g["actor"].tolist()
        ts = (g["ts"].astype("int64") // 10**9).tolist()
        conv = g["conv_id"].iloc[0]
        idxs = g["turn_idx"].tolist()
        for k in range(1, len(acts)):
            edges.append((ts[k], acts[k - 1], acts[k], conv, idxs[k]))
    df = pd.DataFrame(edges, columns=["t", "src_a", "dst_a", "conv", "turn"])
    actors = sorted(set(df["src_a"]) | set(df["dst_a"]))
    amap = {a: i for i, a in enumerate(actors)}
    df["src"] = df["src_a"].map(amap)
    df["dst"] = df["dst_a"].map(amap)
    df = df.sort_values(["t", "conv", "turn"], kind="mergesort").reset_index(drop=True)
    df["seq"] = df.index + 1
    return df[["t", "src", "dst", "seq"]], actors


@pytest.fixture(scope="module")
def fixture_pair(spark):
    tr = generate_transcripts(n_convs=40, max_turns=12, seed=7)
    sdf = transcripts_spark(spark, n_convs=40, max_turns=12, seed=7)
    return tr, sdf


def test_text_equality_invariant(spark, fixture_pair):
    """Per-turn text equality under stable turn ordering (input_hint)."""
    tr, sdf = fixture_pair
    got = (
        sdf.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    want = tr.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[
        ["conv_id", "turn_idx", "text"]
    ]
    pd.testing.assert_frame_equal(got, want)


def test_edge_induction_matches_pandas(spark, fixture_pair):
    tr, sdf = fixture_pair
    edges, nodes = edges_from_transcripts(sdf)
    got = edges.orderBy("seq").toPandas()
    want, actors = induce_edges_pandas(tr)
    # node dictionary: dense ids over lexicographically sorted actors
    node_map = {r["actor"]: r["node_id"] for r in nodes.collect()}
    assert node_map == {a: i for i, a in enumerate(actors)}
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True).astype("int64"),
        want.astype("int64"),
    )


def test_add_global_seq_total_order(spark):
    pdf = pd.DataFrame({"a": [5, 3, 9, 1, 7, 2, 8, 0, 6, 4], "b": range(10)})
    df = spark.createDataFrame(pdf)
    out = add_global_seq(df, ["a"]).toPandas().sort_values("a")
    assert out["seq"].tolist() == list(range(1, 11))


def test_per_key_rank_matches_window_on_skewed_keys(spark):
    """per_key_rank == row_number().over(partitionBy(key).orderBy(order)) - 1
    on a hub-skewed fixture, at partition counts that force hub groups to
    straddle range-partition boundaries (the stitch path)."""
    import numpy as np

    from online_centrality_spark.sources.edges import per_key_rank

    rng = np.random.default_rng(7)
    # one 600-row hub, a 150-row mid key, and a long tail
    keys = np.concatenate(
        [np.zeros(600), np.ones(150), rng.integers(2, 40, 250)]
    ).astype(np.int64)
    vals = rng.permutation(len(keys)).astype(np.int64)
    pdf = pd.DataFrame({"k": keys, "v": vals})
    df = spark.createDataFrame(pdf)
    want = (
        pdf.sort_values(["k", "v"])
        .assign(rank=lambda d: d.groupby("k").cumcount())
        .set_index(["k", "v"])["rank"]
    )
    for nparts in (3, 8, 17):
        got = per_key_rank(df, ["k"], ["v"], num_partitions=nparts).toPandas()
        got = got.set_index(["k", "v"])["rank"]
        assert got.sort_index().equals(want.sort_index()), nparts


def test_random_walks_adjacency_has_no_per_node_window(spark):
    """The walk-corpus adjacency index must not sort a raw node id's whole
    group in one window task (supernode straggler): the executed plan of
    random_walks carries NO Window operator at all — ranking runs through
    the range-partitioned two-phase per_key_rank."""
    from online_centrality_spark.operators import random_walks

    pairs = [(0, i) for i in range(1, 9)] + [(i, (i % 8) + 1) for i in range(1, 9)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    out = random_walks(df, walk_length=2, seed=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_conversation_stats(spark, fixture_pair):
    from online_centrality_spark.sources import conversation_stats

    pdf, df = fixture_pair
    got = conversation_stats(df).toPandas().set_index("conv_id")
    for conv, g in pdf.groupby("conv_id"):
        r = got.loc[conv]
        assert r["n_turns"] == len(g)
        assert r["n_actors"] == g["role"].nunique()
        us = g["ts"].astype("int64") // 1000  # ns -> us
        assert r["t_first_us"] == us.min() and r["t_last_us"] == us.max()
        assert r["duration_us"] == us.max() - us.min()
        assert r["n_tool_turns"] == g["tool"].notna().sum()


def test_transcript_ts_ntz_matches_timestamp(spark):
    """A naive ``ts`` (pandas-written parquet reads as TIMESTAMP_NTZ)
    induces the same edges as a TIMESTAMP ``ts``, including a pre-1970
    turn with a fractional second (floored to epoch seconds)."""
    from pyspark.sql import types as T

    tr = pd.DataFrame(
        {
            "conv_id": ["c0", "c0", "c0", "c1", "c1"],
            "turn_idx": pd.array([0, 1, 2, 0, 1], dtype="int32"),
            "role": ["user", "assistant", "tool", "user", "assistant"],
            "text": ["a", "b", "c", "d", "e"],
            "tool": [None, None, "search", None, None],
            "ts": pd.to_datetime(
                [
                    "1969-12-31 23:59:57",
                    "1969-12-31 23:59:58.5",
                    "1970-01-01 00:00:03.75",
                    "2024-05-01 12:00:00",
                    "2024-05-01 12:00:07.9",
                ],
                format="ISO8601",
            ),
        }
    )

    def edges_for(ts_type):
        schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("turn_idx", T.IntegerType(), False),
                T.StructField("role", T.StringType(), False),
                T.StructField("text", T.StringType(), False),
                T.StructField("tool", T.StringType(), True),
                T.StructField("ts", ts_type, False),
            ]
        )
        sdf = spark.createDataFrame(tr, schema=schema)
        assert sdf.schema["ts"].dataType == ts_type
        edges, _ = edges_from_transcripts(sdf)
        return edges.orderBy("seq").toPandas()

    tz = edges_for(T.TimestampType())
    ntz = edges_for(T.TimestampNTZType())
    pd.testing.assert_frame_equal(tz, ntz)
    assert tz["t"].tolist() == [-2, 3, 1714564807]
