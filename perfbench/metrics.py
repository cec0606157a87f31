"""Metric names, units and how each is computed from one rep's spans.

``BENCHMARK.json`` declares the same names; ``test_perfbench`` keeps the two
in step.
"""

from __future__ import annotations

import statistics

from perfbench.spans import STAGE_COUNTERS, Span

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
]

SPAN_LAYERS = ("extraction", "graph.pagerank", "graph.components", "graph.lpa",
               "graph.triangles", "checkpoint")
ITERATIVE = ("graph.pagerank", "graph.components", "graph.lpa")
EXTRACTION_STEPS = ("extract_edges_named", "assign_vertex_ids", "edges_to_ids")
EXTRACTION_ROWS = ("rows_in", "named_edges", "vertices_out", "edges_out")

_COUNTER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
                  "failed_tasks": "count", "task_s": "s", "gc_s": "s",
                  "shuffle_read_mb": "MB", "shuffle_write_mb": "MB"}


def _per_layer() -> list[tuple[str, str, str]]:
    out = [("session.start_s", "s", "lower"), ("peak_rss_mb", "MB", "lower")]
    for layer in SPAN_LAYERS:
        out.append((f"{layer}.s", "s", "lower"))
        out += [(f"{layer}.{k}", _COUNTER_UNITS[k], "lower") for k in STAGE_COUNTERS]
        out.append((f"{layer}.busy_ratio", "ratio", "higher"))
        if layer in ITERATIVE:
            out += [(f"{layer}.supersteps", "count", "lower"),
                    (f"{layer}.s_per_superstep", "s", "lower"),
                    (f"{layer}.jobs_per_superstep", "count", "lower"),
                    (f"{layer}.edge_steps_per_s", "1/s", "higher")]
    out += [(f"extraction.{step}.s", "s", "lower") for step in EXTRACTION_STEPS]
    out.append(("extraction.mb_per_s", "MB/s", "higher"))
    out += [(f"extraction.{r}", "count", "higher") for r in EXTRACTION_ROWS]
    out += [("checkpoint.writes", "count", "lower"),
            ("checkpoint.write_s_total", "s", "lower"),
            ("checkpoint.bytes_written", "bytes", "lower"),
            ("checkpoint.read_s", "s", "lower"),
            ("graph.pagerank.resume_s", "s", "lower"),
            ("trace.wall_s", "s", "lower"),
            ("trace.overhead_s", "s", "lower")]
    return out


PER_LAYER = _per_layer()
UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


def layer_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer numbers of one rep. A layer the workload does not run
    reads 0. Layer totals come from the spans named exactly after the
    layer; their counters include nested spans of other layers (the
    checkpoint writes inside a PageRank call)."""
    out: dict[str, float] = {}
    for layer in SPAN_LAYERS:
        ss = [sp for sp in spans if sp.name == layer]
        s = sum(sp.s for sp in ss)
        out[f"{layer}.s"] = s
        for k in STAGE_COUNTERS:
            out[f"{layer}.{k}"] = sum(sp.counters[k] for sp in ss)
        out[f"{layer}.busy_ratio"] = out[f"{layer}.task_s"] / (s * cores) if s else 0.0
        if layer in ITERATIVE:
            steps = sum(sp.attrs.get("supersteps", 0) for sp in ss)
            edge_steps = sum(sp.attrs.get("supersteps", 0) * sp.attrs.get("n_edges", 0)
                             for sp in ss)
            out[f"{layer}.supersteps"] = steps
            out[f"{layer}.s_per_superstep"] = s / steps if steps else 0.0
            out[f"{layer}.jobs_per_superstep"] = (out[f"{layer}.jobs"] / steps
                                                  if steps else 0.0)
            out[f"{layer}.edge_steps_per_s"] = edge_steps / s if s else 0.0
    for step in EXTRACTION_STEPS:
        out[f"extraction.{step}.s"] = sum(sp.s for sp in spans
                                          if sp.name == f"extraction.{step}")
    ex = [sp for sp in spans if sp.name == "extraction"]
    content_mb = sum(sp.attrs.get("content_mb", 0.0) for sp in ex)
    out["extraction.mb_per_s"] = (content_mb / out["extraction.s"]
                                  if out["extraction.s"] else 0.0)
    for r in EXTRACTION_ROWS:
        out[f"extraction.{r}"] = sum(sp.attrs.get(r, 0) for sp in ex)
    ck = [sp for sp in spans if sp.name == "checkpoint"]
    writes = [sp for sp in ck if sp.attrs["op"] == "write"]
    out["checkpoint.writes"] = len(writes)
    out["checkpoint.write_s_total"] = sum(sp.s for sp in writes)
    out["checkpoint.bytes_written"] = sum(sp.attrs.get("bytes", 0) for sp in writes)
    out["checkpoint.read_s"] = sum(sp.s for sp in ck if sp.attrs["op"] == "read")
    out["graph.pagerank.resume_s"] = sum(sp.s for sp in spans
                                         if sp.name == "graph.pagerank.resume")
    return out


def median_by_key(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
