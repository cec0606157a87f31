"""The benchmark's workloads.

Every call passes the arguments the ``credigraph_spark.cli`` subcommands
pass by default (PageRank ``mode="shuffle"``, no salting, tol 1e-6,
max_iter 100; CC max_iter 200; LPA max_iter 10) and writes its result to
parquet the way the CLI does, so a call's span is its time to a
materialised, converged result.

A workload has four parts: ``generate`` makes the input table from the
seed, ``expect`` computes the oracle answers once per run, ``body`` is the
timed rep, and ``check`` verifies one rep's outputs outside any timing.
``check`` returns one problem list per timed call; a call that raised,
did not converge or produced a wrong answer has a non-empty list.
"""

from __future__ import annotations

import pandas as pd

from credigraph_spark.extraction import build_graph, content_hashes, extract_edges_named
from credigraph_spark.graph import (connected_components, label_propagation,
                                    pagerank, triangle_count)
from credigraph_spark.oracles import (cc_oracle, lpa_oracle, pagerank_oracle,
                                      triangles_oracle)

from perfbench import checks, inputs
from perfbench.spans import Recorder, TimedCheckpointStore

# crawl_pipeline resumes PageRank from a checkpoint this many supersteps
# before convergence: the resume pays the full set-up of a PageRank call
# plus the remaining checkpointed supersteps.
RESUME_SUPERSTEPS = 1


def _read(path: str) -> pd.DataFrame:
    return pd.read_parquet(path)


def _missing(outputs: dict, *names: str) -> list[str] | None:
    gone = [n for n in names if n not in outputs]
    return [f"did not run: {', '.join(gone)}"] if gone else None


def _ranks(path: str) -> dict[int, float]:
    return dict(_read(path).itertuples(index=False))


class CrawlPipeline:
    """repo corpus -> extraction.build_graph -> pagerank, then a PageRank
    with a checkpoint after every superstep, resumed ``RESUME_SUPERSTEPS``
    before convergence.

    The stopped run is stood in for by what it leaves behind: the oracle's
    ranks after ``stopped_at + 1`` supersteps, committed through the
    program's own ``CheckpointStore.write_state``. Running those supersteps
    in Spark would double the rep's PageRank time."""

    name = "crawl_pipeline"
    calls = ("extraction", "pagerank", "pagerank_resume")

    def generate(self, seed: int) -> pd.DataFrame:
        return inputs.crawl_corpus(seed)

    def expect(self, seed: int, table: pd.DataFrame) -> dict:
        named = inputs.crawl_expected_edges(seed)
        names = sorted({s for s, _ in named} | {t for _, t in named})
        ids = {n: i for i, n in enumerate(names)}
        # PageRank reads the extracted edge table, which has no self loops
        id_edges = [(ids[s], ids[t]) for s, t in named if s != t]
        ranks, iterations, _ = pagerank_oracle(id_edges)
        stopped_at = max(0, iterations - 1 - RESUME_SUPERSTEPS)
        state, _, _ = pagerank_oracle(id_edges, max_iter=stopped_at + 1)
        return {"named": named, "ranks": ranks, "stopped_at": stopped_at,
                "stopped_state": pd.DataFrame({"vid": list(state),
                                               "rank": list(state.values())}),
                "content_mb": float(table["content"].str.len().sum()) / 1e6}

    def body(self, spark, rec: Recorder, input_path: str, out: str,
             expected: dict, outputs: dict) -> None:
        repos = spark.read.parquet(input_path)
        with rec.span("extraction", content_mb=expected["content_mb"]) as sp:
            outputs["extraction_span"] = sp
            with rec.span("extraction.extract_edges_named"):
                vertices, edges = build_graph(repos)
            with rec.span("extraction.assign_vertex_ids"):
                vertices.write.mode("overwrite").parquet(f"{out}/vertices")
            with rec.span("extraction.edges_to_ids"):
                edges.write.mode("overwrite").parquet(f"{out}/edges")
        outputs["extraction"] = True
        edges = spark.read.parquet(f"{out}/edges")
        with rec.span("graph.pagerank") as sp:
            ranks, info = pagerank(edges)
            ranks.write.mode("overwrite").parquet(f"{out}/ranks")
        sp.attrs.update(supersteps=info["iterations"], n_edges=info["n_edges"])
        outputs["pagerank"] = info
        # what a run that stopped after superstep `stopped_at` leaves behind
        stopped = TimedCheckpointStore(f"{out}/ckpt", "pagerank", rec)
        stopped.write_state(spark.createDataFrame(expected["stopped_state"]),
                            expected["stopped_at"])
        with rec.span("graph.pagerank.resume"):
            ranks, info = pagerank(edges, ckpt=stopped, checkpoint_every=1)
            ranks.write.mode("overwrite").parquet(f"{out}/ranks_resumed")
        outputs["pagerank_resume"] = info

    def check(self, spark, rec: Recorder, input_path: str, table: pd.DataFrame,
              out: str, expected: dict, outputs: dict) -> dict[str, list[str]]:
        res = {}
        res["extraction"] = _missing(outputs, "extraction") or self._check_extraction(
            spark, rec, input_path, table, out, expected, outputs)
        res["pagerank"] = _missing(outputs, "pagerank") or (
            checks.check_info(outputs["pagerank"], "pagerank")
            + checks.check_ranks(_read(f"{out}/ranks"), expected["ranks"]))
        res["pagerank_resume"] = _missing(outputs, "pagerank_resume", "pagerank") or (
            checks.check_info(outputs["pagerank_resume"], "resume",
                              resumed_from=expected["stopped_at"])
            + checks.check_ranks(_read(f"{out}/ranks_resumed"), expected["ranks"],
                                 what="resume vs oracle")
            + checks.check_ranks(_read(f"{out}/ranks_resumed"), _ranks(f"{out}/ranks"),
                                 what="resume vs uninterrupted"))
        return res

    def _check_extraction(self, spark, rec, input_path, table, out, expected, outputs):
        vertices = _read(f"{out}/vertices")
        edges = _read(f"{out}/edges")
        repos = spark.read.parquet(input_path)
        hashes = content_hashes(repos).toPandas()
        if rec.traced:
            outputs["extraction_span"].attrs.update(
                rows_in=len(table), named_edges=extract_edges_named(repos).count(),
                vertices_out=len(vertices), edges_out=len(edges))
        return checks.check_extraction(vertices, edges, expected["named"], hashes, table)


class RmatAnalytics:
    """R-MAT edge table -> connected_components, label_propagation,
    triangle_count."""

    name = "rmat_analytics"
    calls = ("cc", "lpa", "triangles")

    def generate(self, seed: int) -> pd.DataFrame:
        return inputs.rmat_edges(seed)

    def expect(self, seed: int, table: pd.DataFrame) -> dict:
        edges = list(zip(table["src"].tolist(), table["dst"].tolist()))
        per_vertex, total = triangles_oracle(edges)
        return {"cc": cc_oracle(edges), "lpa": lpa_oracle(edges),
                "tri_per_vertex": per_vertex, "tri_total": total,
                "n_edges": len({(s, t) for s, t in edges if s != t})}

    def body(self, spark, rec: Recorder, input_path: str, out: str,
             expected: dict, outputs: dict) -> None:
        edges = spark.read.parquet(input_path)
        with rec.span("graph.components") as sp:
            labels, info = connected_components(edges)
            labels.write.mode("overwrite").parquet(f"{out}/cc")
        sp.attrs.update(supersteps=info["iterations"], n_edges=expected["n_edges"])
        outputs["cc"] = info
        with rec.span("graph.lpa") as sp:
            labels, info = label_propagation(edges)
            labels.write.mode("overwrite").parquet(f"{out}/lpa")
        sp.attrs.update(supersteps=info["iterations"], n_edges=expected["n_edges"])
        outputs["lpa"] = info
        with rec.span("graph.triangles"):
            per_vertex, total = triangle_count(edges)
            per_vertex.write.mode("overwrite").parquet(f"{out}/triangles")
        outputs["triangles"] = total

    def check(self, spark, rec: Recorder, input_path: str, table: pd.DataFrame,
              out: str, expected: dict, outputs: dict) -> dict[str, list[str]]:
        res = {}
        res["cc"] = _missing(outputs, "cc") or (
            checks.check_info(outputs["cc"], "cc")
            + checks.check_labels(_read(f"{out}/cc"), "component", expected["cc"], "cc"))
        # LPA runs a fixed max_iter=10 and need not reach a fixpoint
        res["lpa"] = _missing(outputs, "lpa") or checks.check_labels(
            _read(f"{out}/lpa"), "label", expected["lpa"], "lpa")
        res["triangles"] = _missing(outputs, "triangles") or checks.check_triangles(
            outputs["triangles"], _read(f"{out}/triangles"),
            expected["tri_total"], expected["tri_per_vertex"])
        return res


WORKLOADS = {w.name: w for w in (CrawlPipeline(), RmatAnalytics())}
