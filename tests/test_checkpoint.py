"""M3: checkpoint/resume — kill after superstep k, resume, identical result."""

from __future__ import annotations

import numpy as np
import pytest

from credigraph_spark.checkpoint import CheckpointStore
from credigraph_spark.graph import connected_components, pagerank
from credigraph_spark.oracles import pagerank_oracle

from tests.conftest import edges_df

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0), (6, 5), (7, 6), (8, 7)]


# every mode shares the receiver state, so each must resume from the
# durable (vid, rank) checkpoint; hot_threshold=1 salts vertex 0
RESUME_MODES = {
    "shuffle": {},
    "broadcast": {"mode": "broadcast"},
    "salted": {"salt_buckets": 4, "hot_threshold": 1},
    "weighted": {"weight_col": "w"},
}


def _edges(spark, kw):
    if "weight_col" not in kw:
        return edges_df(spark, EDGES)
    return spark.createDataFrame([(a, b, float(1 + (a + b) % 3)) for a, b in EDGES],
                                 "src long, dst long, w double")


@pytest.mark.parametrize("kw", list(RESUME_MODES.values()), ids=list(RESUME_MODES))
def test_pagerank_resume_matches_uninterrupted(spark, tmp_path, kw):
    full_ranks, full_info = pagerank(_edges(spark, kw), max_iter=16, **kw)
    full = {r["vid"]: r["rank"] for r in full_ranks.collect()}

    # phase 1: run only 6 supersteps, checkpointing every 2 ("the kill")
    ck = CheckpointStore(str(tmp_path / "pr"), "run1")
    pagerank(_edges(spark, kw), max_iter=6, ckpt=ck, checkpoint_every=2, **kw)
    assert ck.latest_iteration() == 5
    assert len(ck.read_metrics()) >= 3

    # phase 2: resume from the committed superstep and finish
    ranks2, info2 = pagerank(_edges(spark, kw), max_iter=16, ckpt=ck,
                             checkpoint_every=2, resume=True, **kw)
    assert info2["resumed_from"] == 5
    got = {r["vid"]: r["rank"] for r in ranks2.collect()}
    vids = sorted(full)
    np.testing.assert_allclose([got[v] for v in vids], [full[v] for v in vids], atol=1e-9)


def test_pagerank_resumes_from_plain_rank_table(spark, tmp_path):
    """The durable checkpoint format is a plain (vid, rank) table over
    ALL vertices: a table committed by other code — here the oracle's
    ranks after 5 supersteps — resumes like one PageRank wrote."""
    state, _, _ = pagerank_oracle(EDGES, max_iter=5)
    ck = CheckpointStore(str(tmp_path / "plain"), "run1")
    ck.write_state(spark.createDataFrame(sorted(state.items()), "vid long, rank double"), 4)

    ranks, info = pagerank(edges_df(spark, EDGES), max_iter=16, ckpt=ck)
    want, iterations, _ = pagerank_oracle(EDGES, max_iter=16)
    assert info["resumed_from"] == 4 and info["iterations"] == iterations
    got = {r["vid"]: r["rank"] for r in ranks.collect()}
    vids = sorted(want)
    assert sorted(got) == vids
    np.testing.assert_allclose([got[v] for v in vids], [want[v] for v in vids], atol=1e-9)


def test_cc_resume(spark, tmp_path):
    full_labels, _ = connected_components(edges_df(spark, EDGES))
    full = {r["vid"]: r["component"] for r in full_labels.collect()}

    ck = CheckpointStore(str(tmp_path / "cc"), "run1")
    connected_components(edges_df(spark, EDGES), max_iter=2, ckpt=ck, checkpoint_every=1)
    labels2, info2 = connected_components(edges_df(spark, EDGES), ckpt=ck, checkpoint_every=1)
    assert "resumed_from" in info2
    got = {r["vid"]: r["component"] for r in labels2.collect()}
    assert got == full


def test_resume_after_convergence_short_circuits(spark, tmp_path):
    """Resuming a run whose checkpointed state already converged must not
    burn an extra superstep — result identical, zero new checkpoints."""
    ck = CheckpointStore(str(tmp_path / "cc_conv"), "run1")
    labels1, info1 = connected_components(edges_df(spark, EDGES), ckpt=ck, checkpoint_every=1)
    assert info1["converged"]
    n_states = len(ck.committed_iterations())
    assert ck.converged_iteration() == info1["iterations"] - 1

    labels2, info2 = connected_components(edges_df(spark, EDGES), ckpt=ck, checkpoint_every=1)
    assert info2["converged"] and info2["resumed_from"] == ck.converged_iteration()
    assert len(ck.committed_iterations()) == n_states  # no new superstep ran
    got1 = {r["vid"]: r["component"] for r in labels1.collect()}
    got2 = {r["vid"]: r["component"] for r in labels2.collect()}
    assert got1 == got2

    # pagerank: same contract
    ckp = CheckpointStore(str(tmp_path / "pr_conv"), "run1")
    r1, i1 = pagerank(edges_df(spark, EDGES), max_iter=50, ckpt=ckp)
    assert i1["converged"]
    r2, i2 = pagerank(edges_df(spark, EDGES), max_iter=50, ckpt=ckp)
    assert i2["converged"] and "resumed_from" in i2
    g1 = {r["vid"]: r["rank"] for r in r1.collect()}
    g2 = {r["vid"]: r["rank"] for r in r2.collect()}
    assert g1 == g2  # bit-identical: the state is re-read, not recomputed


def test_iceberg_catalog_fallback(spark, tmp_path):
    """A store configured with an Iceberg catalog name must fall back to
    the parquet-dir backend when the session has no such catalog plugin
    (this sandbox ships no Iceberg jar) — write/read/resume all work."""
    from credigraph_spark.checkpoint import _catalog_configured

    assert not _catalog_configured(spark, "iceberg_cat")
    ck = CheckpointStore(str(tmp_path / "ice"), "run1", catalog="iceberg_cat")
    df = spark.createDataFrame([(1, 0.5), (2, 0.7)], ["vid", "rank"])
    out = ck.write_state(df, 0)
    assert {r["vid"]: r["rank"] for r in out.collect()} == {1: 0.5, 2: 0.7}
    assert ck.latest_iteration() == 0
    again = ck.read_state(spark, 0)
    assert again.count() == 2


class FakeTableIO:
    """Same verb surface as _CatalogTableIO with the same SEMANTICS —
    exists / partitioned create / partition-level overwrite (prior
    iterations survive) / createOrReplace / read-back — implemented over
    parquet dirs with Spark's dynamic partition overwrite, because the
    sandbox has no Iceberg runtime jar and the built-in session catalog
    only supports v2 create() on file tables. Every CheckpointStore
    catalog branch runs for real against it."""

    def __init__(self, base):
        self.base = str(base)

    def _p(self, tbl):
        return f"{self.base}/{tbl.replace('.', '__')}"

    def exists(self, spark, tbl):
        import os
        return os.path.isdir(self._p(tbl))

    def create_partitioned(self, df, tbl):
        assert not self.exists(df.sparkSession, tbl), "create on existing table"
        df.write.partitionBy("_iteration").parquet(self._p(tbl))

    def overwrite_partitions(self, df, tbl):
        (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
           .partitionBy("_iteration").parquet(self._p(tbl)))

    def create_or_replace(self, df, tbl):
        df.write.mode("overwrite").parquet(self._p(tbl))

    def read(self, spark, tbl):
        return spark.read.parquet(self._p(tbl))


def test_catalog_backend_round_trips(spark, tmp_path):
    """The catalog-table backend round-trips end to end — write N
    iterations, list them back from the table, read any one, mark + read
    convergence, and idempotently re-commit one iteration with the others
    surviving. All CheckpointStore catalog-branch logic runs for real;
    only the four one-line writeTo verbs are faked (no Iceberg jar here,
    semantics preserved — see FakeTableIO)."""
    ck = CheckpointStore(str(tmp_path / "cat"), "ckrt", catalog="ice.db",
                         table_io=FakeTableIO(tmp_path / "warehouse"))
    assert ck._use_catalog(spark)
    for it, vals in enumerate([{1: 0.1, 2: 0.2}, {1: 0.3, 2: 0.4}, {1: 0.5, 2: 0.6}]):
        df = spark.createDataFrame(sorted(vals.items()), ["vid", "rank"])
        out = ck.write_state(df, it)
        assert {r["vid"]: r["rank"] for r in out.collect()} == vals
    # resume surface: iterations listed from the TABLE, all survive
    assert ck.committed_iterations() == [0, 1, 2]
    assert ck.latest_iteration() == 2
    mid = ck.read_state(spark, 1)
    assert {r["vid"]: r["rank"] for r in mid.collect()} == {1: 0.3, 2: 0.4}
    # idempotent re-commit of one iteration (task retry): replaced, no
    # dupes, and the OTHER iterations are untouched
    ck.write_state(spark.createDataFrame([(1, 0.35), (2, 0.45)], ["vid", "rank"]), 1)
    assert ck.committed_iterations() == [0, 1, 2]
    assert {r["vid"]: r["rank"] for r in ck.read_state(spark, 1).collect()} == {1: 0.35, 2: 0.45}
    assert {r["vid"]: r["rank"] for r in ck.read_state(spark, 2).collect()} == {1: 0.5, 2: 0.6}
    # converged marker lives in the catalog too (visible across drivers)
    assert ck.converged_iteration() is None
    ck.mark_converged(2)
    assert ck.converged_iteration() == 2
    # parquet-dir layout was never touched: state went through the catalog
    import os
    assert not os.path.isdir(os.path.join(ck.run_dir, "state"))


def test_pagerank_resume_through_catalog_backend(spark, tmp_path):
    """Full algorithm resume (kill at superstep k, resume, identical
    result) through the catalog-table backend."""
    full_ranks, _ = pagerank(edges_df(spark, EDGES), max_iter=12)
    full = {r["vid"]: r["rank"] for r in full_ranks.collect()}
    ck = CheckpointStore(str(tmp_path / "cat2"), "prcat", catalog="ice.db",
                         table_io=FakeTableIO(tmp_path / "warehouse2"))
    pagerank(edges_df(spark, EDGES), max_iter=4, ckpt=ck, checkpoint_every=2)
    assert ck.latest_iteration() == 3
    ranks2, info2 = pagerank(edges_df(spark, EDGES), max_iter=12, ckpt=ck,
                             checkpoint_every=2, resume=True)
    assert info2["resumed_from"] == 3
    got = {r["vid"]: r["rank"] for r in ranks2.collect()}
    vids = sorted(full)
    np.testing.assert_allclose([got[v] for v in vids],
                               [full[v] for v in vids], atol=1e-9)


def test_lineage_and_metrics_recorded(spark, tmp_path):
    ck = CheckpointStore(str(tmp_path / "pr2"), "runX")
    pagerank(edges_df(spark, EDGES), max_iter=4, ckpt=ck, checkpoint_every=2)
    metrics = ck.read_metrics()
    assert metrics and all("l1_diff" in m and "dangling_mass" in m for m in metrics)
    lineage_file = ck.run_dir + "/lineage.jsonl"
    import json
    with open(lineage_file) as f:
        recs = [json.loads(x) for x in f]
    assert recs and all("partitions" in r for r in recs)
    # per-partition rows sum to vertex count
    assert sum(recs[-1]["partitions"].values()) == 9
