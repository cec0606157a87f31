"""Output checks. Each returns a list of problems; an empty list is a pass.

They run outside every timed region, on tables the program wrote, and
compare against the repo's single-process oracles (``credigraph_spark.oracles``)
or against facts the corpus generator encodes by construction.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

PAGERANK_ATOL = 1e-6


def _first(problems: list[str], limit: int = 3) -> list[str]:
    return problems[:limit] + ([f"... {len(problems) - limit} more"]
                               if len(problems) > limit else [])


def check_ranks(got: pd.DataFrame, expected: dict[int, float],
                atol: float = PAGERANK_ATOL, what: str = "pagerank") -> list[str]:
    """``got(vid, rank)`` covers exactly the expected vertices and is
    allclose(atol) to the expected rank of each."""
    if got["vid"].duplicated().any():
        return [f"{what}: duplicate vids"]
    have = dict(zip(got["vid"].tolist(), got["rank"].tolist()))
    if have.keys() != expected.keys():
        return [f"{what}: vertex set differs: {len(have.keys() - expected.keys())}"
                f" extra, {len(expected.keys() - have.keys())} missing"]
    vids = sorted(expected)
    a = np.array([have[v] for v in vids])
    b = np.array([expected[v] for v in vids])
    bad = np.flatnonzero(~np.isclose(a, b, rtol=0.0, atol=atol))
    return _first([f"{what}: vid {vids[i]} rank {a[i]!r} != {b[i]!r}" for i in bad])


def check_labels(got: pd.DataFrame, col: str, expected: dict[int, int],
                 what: str) -> list[str]:
    """``got(vid, <col>)`` equals the expected labelling exactly."""
    if got["vid"].duplicated().any():
        return [f"{what}: duplicate vids"]
    have = dict(zip(got["vid"].tolist(), got[col].tolist()))
    if have.keys() != expected.keys():
        return [f"{what}: vertex set differs: {len(have.keys() - expected.keys())}"
                f" extra, {len(expected.keys() - have.keys())} missing"]
    return _first([f"{what}: vid {v} label {have[v]} != {lab}"
                   for v, lab in expected.items() if have[v] != lab])


def check_triangles(total: int, per_vertex: pd.DataFrame, expected_total: int,
                    expected_per_vertex: dict[int, int]) -> list[str]:
    """Exact global total; per-vertex corner counts match where non-zero."""
    problems = []
    if total != expected_total:
        problems.append(f"triangles: total {total} != {expected_total}")
    have = {v: c for v, c in zip(per_vertex["vid"].tolist(),
                                 per_vertex["triangles"].tolist()) if c}
    want = {v: c for v, c in expected_per_vertex.items() if c}
    if have != want:
        problems.append(f"triangles: per-vertex counts differ on "
                        f"{len(set(have.items()) ^ set(want.items()))} entries")
    return problems


def check_extraction(vertices: pd.DataFrame, edges: pd.DataFrame,
                     expected_named: set[tuple[str, str]],
                     hashes: pd.DataFrame, repos: pd.DataFrame) -> list[str]:
    """The graph build reproduces the corpus' reference graph.

    * vertex names are every endpoint of the expected edges (self
      references included) with dense IDs 0..n-1 in name order;
    * the ID edge set, mapped back to names, is the expected edge set
      minus self loops, without duplicate rows;
    * ``content_hashes`` gives hashlib's sha256 of every corpus row."""
    problems = []
    names = sorted({s for s, _ in expected_named} | {t for _, t in expected_named})
    v = vertices.sort_values("id")
    if v["id"].tolist() != list(range(len(v))):
        problems.append("extraction: vertex ids are not dense 0..n-1")
    if v["name"].tolist() != names:
        problems.append(f"extraction: vertex names differ from the expected "
                        f"sorted endpoint set ({len(v)} vs {len(names)})")
    by_id = dict(zip(vertices["id"].tolist(), vertices["name"].tolist()))
    got = list(zip(edges["src"].map(by_id).tolist(), edges["dst"].map(by_id).tolist()))
    if len(got) != len(set(got)):
        problems.append("extraction: duplicate edge rows")
    want = {(s, t) for s, t in expected_named if s != t}
    if set(got) != want:
        problems.append(f"extraction: edge set differs: {len(set(got) - want)} extra,"
                        f" {len(want - set(got))} missing")
    want_sha = {(r, p): hashlib.sha256(c.encode()).hexdigest()
                for r, p, c in zip(repos["repo"], repos["path"], repos["content"])}
    have_sha = dict(zip(zip(hashes["repo"], hashes["path"]), hashes["content_sha256"]))
    if have_sha != want_sha:
        problems.append("extraction: per-row content sha256 mismatch")
    return problems


def check_info(info: dict, what: str, resumed_from: int | None = None) -> list[str]:
    """The call reports convergence (and, for a resume, where it resumed)."""
    problems = []
    if not info.get("converged"):
        problems.append(f"{what}: did not converge in {info.get('iterations')} supersteps")
    if resumed_from is not None and info.get("resumed_from") != resumed_from:
        problems.append(f"{what}: resumed_from {info.get('resumed_from')} != {resumed_from}")
    return problems
