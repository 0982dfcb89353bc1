"""Per-layer record of a traced pass.

Layers are named after the engine's modules: ``session``, ``edges``
(``sources/edges.py``), ``closure`` (``attach_closure_components``),
``walk`` (the cogroup kernel in ``operators/walk.py``), ``superstep``
(``plans/superstep.py``), and the static operators ``pagerank``, ``cc``,
``lpa`` and ``triangles``.  A layer's self time is its span time minus
the spans of the layers it calls (only ``superstep`` has a child:
``walk``).
"""

from __future__ import annotations

from collections import defaultdict

REPLAY = ("edges", "closure", "walk", "superstep")
STATIC = ("pagerank", "cc", "lpa", "triangles")

#: per-layer metrics reported on the result line, with their units
JSON_METRICS = {
    "session.start_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.self_sum_share": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_failures": "count",
    "log.warn_lines": "count",
    "edges.share": "ratio",
    "edges.jobs": "count",
    "edges.rows_out": "count",
    "edges.input_bytes": "B",
    "edges.shuffle_write_bytes": "B",
    "edges.busy_share": "ratio",
    "closure.share": "ratio",
    "closure.count": "count",
    "closure.max_edge_share": "ratio",
    "closure.shuffle_write_bytes": "B",
    "walk.share": "ratio",
    "walk.input_share": "ratio",
    "walk.max_group_share": "ratio",
    "walk.rounds_mean": "count",
    "walk.groups": "count",
    "walk.shuffle_read_bytes": "B",
    "walk.spill_bytes": "B",
    "superstep.share": "ratio",
    "superstep.jobs": "count",
    "superstep.busy_share": "ratio",
    "superstep.ckpt_bytes": "B",
    "superstep.ckpt_files": "count",
    "superstep.restore_share": "ratio",
    "superstep.sink_share": "ratio",
    "superstep.sink_bytes": "B",
    "superstep.sink_files": "count",
    "pagerank.share": "ratio",
    "pagerank.jobs": "count",
    "pagerank.busy_share": "ratio",
    "pagerank.shuffle_bytes": "B",
    "cc.share": "ratio",
    "cc.jobs": "count",
    "cc.shuffle_bytes": "B",
    "lpa.share": "ratio",
    "lpa.jobs": "count",
    "lpa.shuffle_bytes": "B",
    "triangles.share": "ratio",
    "triangles.shuffle_bytes": "B",
    "triangles.spill_bytes": "B",
    "triangles.busy_share": "ratio",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(
    wall_s, untraced_wall_s, session_s, spans, folded, walk_metrics, counters,
    warns, cores,
) -> dict:
    """The full per-layer record: seconds, counts and shares per layer,
    the WARN breakdown, and whether self times add up to the wall."""
    span_s: dict[str, float] = defaultdict(float)
    for s in spans:
        span_s[s["layer"]] += s["end"] - s["start"]
    self_s = dict(span_s)
    self_s["superstep"] = span_s["superstep"] - span_s["walk"]
    self_sum = sum(self_s.values())

    def g(layer: str, key: str) -> float:
        return folded.get(layer, {}).get(key, 0.0)

    def busy(layer: str) -> float:
        return _ratio(g(layer, "run_s"), self_s.get(layer, 0.0) * cores)

    r: dict = {
        "session.start_s": session_s,
        "trace.wall_s": wall_s,
        "trace.overhead_s": wall_s - untraced_wall_s,
        "trace.self_sum_share": _ratio(self_sum, wall_s),
        "log.warn_lines": sum(warns.values()),
    }
    for key, src in (("jobs", "jobs"), ("tasks", "tasks"), ("executor_run_s", "run_s"),
                     ("executor_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                     ("task_failures", "task_failures")):
        r["spark." + key] = sum(v.get(src, 0.0) for v in folded.values())
    for layer in REPLAY + STATIC:
        r[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        r[f"{layer}.share"] = _ratio(self_s.get(layer, 0.0), wall_s)
        r[f"{layer}.jobs"] = g(layer, "jobs")
        r[f"{layer}.busy_share"] = busy(layer)
        r[f"{layer}.shuffle_bytes"] = g(layer, "shuffle_write_bytes")
        r[f"{layer}.shuffle_write_bytes"] = g(layer, "shuffle_write_bytes")
        r[f"{layer}.shuffle_read_bytes"] = g(layer, "shuffle_read_bytes")
        r[f"{layer}.spill_bytes"] = g(layer, "spill_bytes")
        r[f"{layer}.input_bytes"] = g(layer, "input_bytes")
        r[f"{layer}.gc_s"] = g(layer, "gc_s")
    t_in = sum(m["t_input"] for m in walk_metrics)
    t_cmp = sum(m["t_compute"] for m in walk_metrics)
    max_group = max((m["t_input"] + m["t_compute"] for m in walk_metrics), default=0.0)
    r.update(
        {
            "walk.t_input_s": t_in,
            "walk.t_compute_s": t_cmp,
            "walk.input_share": _ratio(t_in, t_in + t_cmp),
            "walk.max_group_s": max_group,
            "walk.max_group_share": _ratio(max_group, self_s.get("walk", 0.0)),
            "walk.rounds_mean": _ratio(sum(m["rounds"] for m in walk_metrics),
                                       len(walk_metrics)),
            "walk.groups": len(walk_metrics),
            "superstep.restore_s": g("superstep", "lcp_s"),
            "superstep.restore_share": _ratio(g("superstep", "lcp_s"),
                                              self_s.get("superstep", 0.0)),
            "superstep.sink_s": g("superstep", "sink_s"),
            "superstep.sink_share": _ratio(g("superstep", "sink_s"),
                                           self_s.get("superstep", 0.0)),
            "superstep.sink_jobs": g("superstep", "sink_jobs"),
        }
    )
    r.update(counters)
    r["warn_kinds"] = dict(warns.most_common())
    r["self_sum_ok"] = abs(r["trace.self_sum_share"] - 1.0) <= 0.10
    return r


def json_metrics(record: dict) -> dict:
    return {k: {"value": record.get(k, 0), "unit": u} for k, u in JSON_METRICS.items()}


def format_table(record: dict) -> str:
    """The per-layer table as aligned text, one layer per line."""
    rows = []
    for layer in ("session",) + REPLAY + STATIC + ("spark", "log", "trace"):
        items = [
            f"{k.split('.', 1)[1]}={v:.4g}" if isinstance(v, float) else f"{k.split('.', 1)[1]}={v}"
            for k, v in sorted(record.items())
            if k.startswith(layer + ".") and v
        ]
        if items:
            rows.append(f"  {layer:<10} " + " ".join(items))
    rows.append("  warn kinds " + str(record["warn_kinds"]))
    return "per-layer record:\n" + "\n".join(rows)
