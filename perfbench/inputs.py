"""Seeded benchmark inputs, generated outside Spark and handed over as parquet.

The program under test only ever sees the tables written here. Both
generators are pure functions of the seed, so one seed always yields the
same bytes, and ``fingerprint`` makes a changed input visible in the output.

The link structure of each workload is fixed; the seed relabels its
vertices (repo names, R-MAT vertex ids, as Graph500 scrambles its
labels) and shuffles the row order. Every seed therefore gets another
ID assignment, partition placement and hash layout, but the same amount
of work: regenerating the structure per seed moves the number of
PageRank supersteps on the crawl corpus between 20 and 50, and that
spread, not the program, would then set the run-to-run spread.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from credigraph_spark import corpus

# crawl_pipeline: the synthetic repo corpus (hubs, dangling repos, duplicate
# and self references). 1.8k rows, ~2.5k ID edges. Corpus structures of
# this size need 20 to 50 PageRank supersteps (median 41 over seeds 1-60);
# this one needs 20, the fewest, so that a full benchmark pass fits its
# time limit. Its PageRank time is still set by the per-superstep floor.
CRAWL_REPOS = 600
CRAWL_FILES_PER_REPO = 3
CRAWL_STRUCTURE_SEED = 39

# rmat_analytics: a power-law R-MAT edge table (Graph500 quadrant weights).
# 2^14 vertex ids, 8 raw edges per id: ~131k raw edges with duplicates and
# self loops, ~11k non-isolated vertices.
RMAT_SCALE = 14
RMAT_EDGE_FACTOR = 8
RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19
RMAT_STRUCTURE_SEED = 1

_REPO_NAME = r"org\d{4}/lib\d{6}"  # corpus.repo_name's format


def _renaming(rng: np.random.Generator) -> dict[str, str]:
    perm = rng.permutation(CRAWL_REPOS)
    return {corpus.repo_name(i): corpus.repo_name(int(j)) for i, j in enumerate(perm)}


def crawl_corpus(seed: int) -> pd.DataFrame:
    """``repos(repo, path, commit, lang, content)`` for this seed."""
    pdf = corpus.repos_pdf(CRAWL_STRUCTURE_SEED, n_repos=CRAWL_REPOS,
                           files_per_repo=CRAWL_FILES_PER_REPO)
    rng = np.random.default_rng(seed)
    rename = _renaming(rng)
    pdf["repo"] = pdf["repo"].map(rename)
    pdf["content"] = pdf["content"].str.replace(
        _REPO_NAME, lambda m: rename[m.group(0)], regex=True)
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


def crawl_expected_edges(seed: int) -> set[tuple[str, str]]:
    """Distinct named edges the corpus encodes, self references included."""
    rename = _renaming(np.random.default_rng(seed))
    return {(rename[s], rename[t]) for s, t in corpus.expected_edges(
        CRAWL_STRUCTURE_SEED, n_repos=CRAWL_REPOS, files_per_repo=CRAWL_FILES_PER_REPO)}


def rmat_edges(seed: int, scale: int = RMAT_SCALE,
               edge_factor: int = RMAT_EDGE_FACTOR) -> pd.DataFrame:
    """Raw R-MAT ``(src, dst)`` edges, duplicates and self loops kept.

    Each edge descends ``scale`` levels of the adjacency matrix, choosing a
    quadrant per level with probabilities (a, b, c, 1-a-b-c); the quadrant's
    high bit extends src and its low bit extends dst. The seed then
    relabels the vertex ids and shuffles the rows."""
    rng = np.random.default_rng(RMAT_STRUCTURE_SEED)
    m = edge_factor << scale
    src = np.zeros(m, np.int64)
    dst = np.zeros(m, np.int64)
    for _ in range(scale):
        u = rng.random(m)
        quad = ((u >= RMAT_A).astype(np.int64) + (u >= RMAT_A + RMAT_B)
                + (u >= RMAT_A + RMAT_B + RMAT_C))
        src = src * 2 + (quad >> 1)
        dst = dst * 2 + (quad & 1)
    relabel = np.random.default_rng(seed)
    label = relabel.permutation(1 << scale)
    order = relabel.permutation(m)
    return pd.DataFrame({"src": label[src][order], "dst": label[dst][order]})


def fingerprint(pdf: pd.DataFrame) -> dict:
    """Row count and sha256 over every cell, in row order."""
    h = hashlib.sha256()
    h.update(",".join(pdf.columns).encode())
    h.update(pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes())
    return {"rows": int(len(pdf)), "sha256": h.hexdigest()}
