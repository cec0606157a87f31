"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from credigraph_spark.oracles import cc_oracle, pagerank_oracle, triangles_oracle
from perfbench import checks, inputs
from perfbench.metrics import END_TO_END, PER_LAYER, layer_metrics
from perfbench.spans import Span

ROOT = Path(__file__).resolve().parent.parent


def _ranks_df(ranks: dict[int, float]) -> pd.DataFrame:
    return pd.DataFrame({"vid": list(ranks), "rank": list(ranks.values())})


EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3), (4, 2), (5, 6)]


def test_exact_ranks_pass():
    ranks, _, _ = pagerank_oracle(EDGES)
    assert checks.check_ranks(_ranks_df(ranks), ranks) == []


def test_perturbed_ranks_are_flagged():
    # negative control: one rank moved by 10x the tolerance must fail
    ranks, _, _ = pagerank_oracle(EDGES)
    bad = dict(ranks)
    bad[2] += 10 * checks.PAGERANK_ATOL
    problems = checks.check_ranks(_ranks_df(bad), ranks)
    assert problems and "vid 2" in problems[0]


def test_missing_vertex_is_flagged():
    ranks, _, _ = pagerank_oracle(EDGES)
    assert checks.check_ranks(_ranks_df(ranks).iloc[1:], ranks)


def test_labels_and_triangles_checks():
    cc = cc_oracle(EDGES)
    got = pd.DataFrame({"vid": list(cc), "component": list(cc.values())})
    assert checks.check_labels(got, "component", cc, "cc") == []
    got.loc[got["vid"] == 6, "component"] = 6
    assert checks.check_labels(got, "component", cc, "cc")

    per_v, total = triangles_oracle(EDGES)
    pv = pd.DataFrame({"vid": list(per_v), "triangles": list(per_v.values())})
    assert checks.check_triangles(total, pv, total, per_v) == []
    assert checks.check_triangles(total + 1, pv, total, per_v)


def test_unconverged_or_wrongly_resumed_call_is_flagged():
    assert checks.check_info({"converged": True, "iterations": 3}, "cc") == []
    assert checks.check_info({"converged": False, "iterations": 200}, "cc")
    assert checks.check_info({"converged": True, "resumed_from": 4}, "r", resumed_from=5)


def _extraction_tables(named, repos):
    names = sorted({s for s, _ in named} | {t for _, t in named})
    ids = {n: i for i, n in enumerate(names)}
    vertices = pd.DataFrame({"name": names, "id": range(len(names))})
    edges = pd.DataFrame([(ids[s], ids[t]) for s, t in named if s != t],
                         columns=["src", "dst"])
    hashes = pd.DataFrame({
        "repo": repos["repo"], "path": repos["path"],
        "content_sha256": [hashlib.sha256(c.encode()).hexdigest()
                           for c in repos["content"]]})
    return vertices, edges, hashes


def test_extraction_check():
    from credigraph_spark import corpus

    repos = corpus.repos_pdf(7, n_repos=30)
    named = corpus.expected_edges(7, n_repos=30)
    vertices, edges, hashes = _extraction_tables(named, repos)
    assert checks.check_extraction(vertices, edges, named, hashes, repos) == []
    assert checks.check_extraction(vertices, edges.iloc[1:], named, hashes, repos)
    shuffled = vertices.assign(id=vertices["id"][::-1].to_numpy())
    assert checks.check_extraction(shuffled, edges, named, hashes, repos)
    bad_hash = hashes.assign(content_sha256="0" * 64)
    assert checks.check_extraction(vertices, edges, named, bad_hash, repos)


def test_inputs_depend_only_on_seed():
    a, b = inputs.rmat_edges(3, scale=8), inputs.rmat_edges(3, scale=8)
    assert inputs.fingerprint(a) == inputs.fingerprint(b)
    assert inputs.fingerprint(a) != inputs.fingerprint(inputs.rmat_edges(4, scale=8))
    assert inputs.fingerprint(inputs.crawl_corpus(3)) == inputs.fingerprint(
        inputs.crawl_corpus(3))
    # seeds beyond 32 bits are valid
    assert inputs.fingerprint(inputs.crawl_corpus(2**40))["rows"] == (
        inputs.CRAWL_REPOS * inputs.CRAWL_FILES_PER_REPO)


def test_seed_relabels_but_keeps_the_structure():
    def degrees(df):
        return sorted(pd.concat([df["src"], df["dst"]]).value_counts().tolist())

    a, b = inputs.rmat_edges(1, scale=8), inputs.rmat_edges(2, scale=8)
    assert degrees(a) == degrees(b)
    e1, e2 = inputs.crawl_expected_edges(1), inputs.crawl_expected_edges(2)
    assert e1 != e2 and len(e1) == len(e2)
    # the corpus' reference lines use the relabelled names
    repos = inputs.crawl_corpus(2)
    refs = repos["content"].str.extractall(
        r"(?m)^(?:import|require|use)\s+(\S+)$")[0]
    assert set(refs) == {t for _, t in e2}


def test_benchmark_json_matches_the_metric_registry():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == PER_LAYER
    from perfbench.run import WORKLOAD_NAMES
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_layer_metrics_from_spans():
    pr = Span("graph.pagerank", None, 0, start=0.0, end=4.0,
              attrs={"supersteps": 8, "n_edges": 100})
    pr.counters.update(jobs=16, task_s=8.0)
    ck = Span("checkpoint", "graph.pagerank", 0, start=1.0, end=2.0,
              attrs={"op": "write", "bytes": 1000})
    m = layer_metrics([ck, pr], cores=4)
    assert m["graph.pagerank.busy_ratio"] == pytest.approx(0.5)
    assert m["graph.pagerank.s_per_superstep"] == pytest.approx(0.5)
    assert m["graph.pagerank.jobs_per_superstep"] == pytest.approx(2.0)
    assert m["graph.pagerank.edge_steps_per_s"] == pytest.approx(200.0)
    assert m["checkpoint.writes"] == 1 and m["checkpoint.bytes_written"] == 1000
    assert m["graph.lpa.s"] == 0 and m["extraction.mb_per_s"] == 0
    run_level = {"session.start_s", "peak_rss_mb", "trace.wall_s", "trace.overhead_s"}
    assert {n for n, _, _ in PER_LAYER} - run_level == set(m)


def test_run_refuses_a_tree_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_pipeline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
