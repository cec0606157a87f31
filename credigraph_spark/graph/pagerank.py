"""Distributed PageRank with the reference's exact numeric semantics.

Reference algorithm (pandas, single-threaded): tgrag/algorithms/pagerank.py
:79-157 + tgrag/utils/pagerank_utils.py:83-216. Semantics reproduced here
(BASELINE.json: per-vertex allclose 1e-6 at convergence):

* preprocessing: dedupe edges keep-first, drop self-loops, vertex set =
  given vertices ∪ edge endpoints (pagerank_utils.py:83-153);
* out-degree counts DISTINCT successors (pagerank_utils.py:178-181);
* init rank = 1/N (pagerank.py:114);
* per iteration (pagerank.py:89-99,117-135):
      dangling = Σ rank[v] over out_deg(v)=0
      new[v]   = (1-d)/N + d * (Σ_{u→v} rank[u]/out_deg[u] + dangling/N)
* converged iff Σ_v |new-old| < tol (pagerank_utils.py:208-216);
* defaults d=0.85, max_iter=100, tol=1e-6 (pagerank.py:49-65).

Spark-first physical design (NOT a port of the per-node Python loop):

* ONE partition count P for every table and every exchange, measured
  once from the input's row count (``adaptive_partitions``) unless the
  caller pins ``num_partitions``. Set-up and loop run with AQE paused and
  ``spark.sql.shuffle.partitions = P`` (``loop_tuning``), so every
  exchange lands co-partitioned with the state.
* STATE: one table ``(vid, dangling, coef, rank)`` of RECEIVERS —
  vertices with at least one in-edge — hash-partitioned by ``vid``.
  ``dangling`` flags receivers without out-edges. A non-receiver never
  gets mass, so every non-receiver has the same rank
  ``base + d*dangling/N``: one scalar and a count, no rows. Its
  contribution into a receiver is that scalar times the receiver's
  static ``coef`` = Σ 1/out_deg (w/W weighted) over its non-receiver
  sources.
* SET-UP is a handful of actions, each an ``eager_checkpoint``
  partitioned at P: the clean edges ``(src, dst, c)`` with
  ``c = 1/out_deg`` (``w/W``) partitioned by ``src``; the vertex flags
  ``(vid, out, in_deg)``, whose Observation yields every count; the
  state; and the receiver-sourced edges the loop scans.
* SUPERSTEP (default mode): ONE exchange, two stages. The
  receiver-sourced edges hash-join the state (build side) on ``src``
  without an exchange; contributions aggregate by ``dst`` (the
  exchange); a co-partitioned hash join back onto the state gives the
  new rank. The convergence L1 (new vs the state's previous rank) and
  the dangling mass Σ rank over dangling receivers are both observed on
  that output, and its eager localCheckpoint is the superstep's only
  driver action, truncating the lineage.
* hub skew: ``salt_buckets > 0`` salts only dsts with in-degree above
  ``hot_threshold`` (two-phase aggregation; the second phase
  re-shuffles ~|V| rows, not ~|E|).
* ``mode="broadcast"`` (state fits executor memory): edges partitioned
  by ``dst`` and the state broadcast, so the contribution aggregation is
  partition-local and a superstep exchanges no rows. ``mode="auto"``
  picks broadcast when the receiver count is small.
* CHECKPOINTS hold the full ``(vid, rank)`` table for ALL vertices
  (every ``checkpoint_every`` supersteps and at the end), plus metrics
  and a converged marker; the loop keeps its in-memory state. A resume
  (or an ``init_ranks`` warm start) is one join of a ``(vid, rank)``
  table onto the vertex flags while the state is built; its Observation
  yields the non-receiver rank and the dangling sum. Resuming a
  converged run returns the committed state.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, functions as F

from credigraph_spark.checkpoint import CheckpointStore
from credigraph_spark.session import (adaptive_partitions, aqe_paused,
                                      eager_checkpoint, loop_tuning)
from credigraph_spark.graph.adjacency import clean_edges, out_degrees

# ``auto`` mode broadcasts the rank state below this receiver count.
# Every broadcast relation is materialized ON THE DRIVER each superstep —
# a serial floor that does not shrink with executors — so the cap is set
# where broadcast stops winning, measured on a standalone cluster
# (BENCH.md "mode choice"): at 1M receivers broadcast beats shuffle at
# both 2 and 8 executors; at 5M it loses at both, and shuffle scales
# 2->8 executors at 0.92 efficiency vs broadcast's 0.50.
AUTO_BROADCAST_MAX_RECEIVERS = 2_000_000


def _share_edges(edges: DataFrame, p: int, weight_col: str | None) -> DataFrame:
    """Clean ``(src, dst, c)`` hash-partitioned by ``src`` into ``p``
    partitions, ``c`` being the share of src's rank the edge carries:
    1/out_deg (distinct successors) or w/W with W = Σ_v w(src, v). The
    one exchange is the repartition: dedup and out-degree are then
    partition-local.

    The cleaning is ``clean_edges`` without its re-aliasing select: with
    the partition key re-aliased above the repartition, the checkpoint
    loses its partitioning and every later join on ``src`` would shuffle
    the edges again."""
    keep = (F.col("src").isNotNull() & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst")))
    if weight_col is not None:
        w = F.col(weight_col).cast("double")
        e = (edges.select("src", "dst", w.alias("w"))
             .where(keep & F.col("w").isNotNull() & ~F.isnan("w") & (F.col("w") > 0))
             .repartition(p, "src")
             .groupBy("src", "dst").agg(F.sum("w").alias("w")))
        total = e.groupBy(F.col("src").alias("vid")).agg(F.sum("w").alias("out_deg"))
        share = F.col("w") / F.col("out_deg")
    else:
        e = (edges.select("src", "dst").where(keep).repartition(p, "src")
             .dropDuplicates(["src", "dst"]))
        total = out_degrees(e)
        share = F.lit(1.0) / F.col("out_deg")
    return (e.join(total.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src")
            .select("src", "dst", share.alias("c")))


def _vertex_flags(ed: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """``(vid, out, in_deg)`` for every vertex — the endpoints of ``ed``
    plus the caller's extra vids (no edges either way) — hash-partitioned
    by ``vid``."""
    ends = (ed.select(F.col("src").alias("vid"), F.lit(True).alias("out"),
                      F.lit(0).alias("ind"))
            .unionByName(ed.select(F.col("dst").alias("vid"),
                                   F.lit(False).alias("out"), F.lit(1).alias("ind"))))
    if vertices is not None:
        ends = ends.unionByName(vertices.select(
            F.col(vertices.columns[0]).alias("vid"), F.lit(False).alias("out"),
            F.lit(0).alias("ind")))
    return ends.groupBy("vid").agg(F.max("out").alias("out"),
                                   F.sum("ind").alias("in_deg"))


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    ckpt: CheckpointStore | None = None,
    checkpoint_every: int = 5,
    salt_buckets: int = 0,
    hot_threshold: int = 10_000,
    mode: str = "shuffle",
    resume: bool = True,
    num_partitions: int | None = None,
    init_ranks: DataFrame | None = None,
    weight_col: str | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (ranks(vid, rank) for ALL vertices, info dict).

    ``vertices``: optional single-column DataFrame of extra vids; edge
    endpoints are always added (J10 semantics, pagerank_utils.py:124-138).
    ``mode``: "shuffle" | "broadcast" | "auto" (see module docstring).
    ``salt_buckets`` > 0 enables targeted salted aggregation (shuffle mode).
    ``num_partitions``: pins P instead of measuring it.
    ``init_ranks``: optional (vid, rank) warm start — e.g. yesterday's
    converged ranks when today's edge table is an incremental update.
    Receivers present in it start from their previous rank (new vertices
    from 1/N); the fixpoint is unique, so the answer is identical to a
    cold start but convergence takes far fewer supersteps when the graph
    changed little. A checkpoint resume of THIS run takes precedence.
    ``weight_col``: weighted PageRank — u contributes rank(u)·w(u,v)/W(u)
    with W(u) = Σ_v w(u,v) (the reference's importance-scored edges,
    txt_to_csv_sqlite.py:206-275 / prob.py:22-67, made first-class).
    Parallel edges are collapsed by SUMMING the weight (vs the
    unweighted keep-first dedup); null/NaN/non-positive weights are
    dropped. Everything else — dangling handling (uniform 1/N restart),
    state, modes, salting, Observations, checkpoints — is shared with
    the unweighted path: only the per-edge share ``c`` differs.
    """
    if mode not in ("shuffle", "broadcast", "auto"):
        raise ValueError(f"unknown mode: {mode}")
    spark = edges.sparkSession
    with aqe_paused(spark):
        p = num_partitions or adaptive_partitions(edges.count())
        with loop_tuning(spark, p):
            ed = eager_checkpoint(_share_edges(edges, p, weight_col))
            is_recv = F.col("in_deg") > 0
            obs_v = Observation("pagerank_vertices")
            vt = eager_checkpoint(_vertex_flags(ed, vertices).observe(
                obs_v, F.count("*").alias("n"), F.sum("in_deg").alias("edges"),
                F.count(F.when(is_recv, 1)).alias("recv"),
                F.count(F.when(~F.col("out"), 1)).alias("dangling"),
                F.count(F.when(~is_recv & ~F.col("out"), 1)).alias("isolated")))
            counts = obs_v.get
            n, n_recv = counts["n"], counts["recv"]
            # every non-receiver from the edge list contributes (has
            # out-edges), so only extra isolated vids are non-receiver AND
            # dangling
            m, m_dangling = n - n_recv, counts["isolated"]
            if mode == "auto":
                mode = ("broadcast" if n_recv <= AUTO_BROADCAST_MAX_RECEIVERS
                        else "shuffle")
            info: dict = {
                "n_vertices": n, "n_receivers": n_recv, "n_nonreceivers": m,
                "n_dangling": counts["dangling"], "mode": mode,
                "iterations": 0, "converged": n <= 0, "l1_history": [],
                "n_edges": counts["edges"] or 0,
            }
            if n == 0:
                return vt.select("vid", F.lit(0.0).alias("rank")), info

            seed, it = None, 0
            if ckpt is not None and resume:
                done = ckpt.converged_iteration()
                if done is not None:
                    # already-converged run: return the converged state
                    # verbatim — an extra superstep would drift it by < tol
                    info.update(iterations=done + 1, converged=True, resumed_from=done)
                    return ckpt.read_state(spark, done), info
                last = ckpt.latest_iteration()
                if last is not None:
                    seed, it = ckpt.read_state(spark, last), last + 1
                    info["resumed_from"] = last
            if seed is None and init_ranks is not None:
                # duplicate vids in a user-supplied warm start would
                # duplicate state rows and double-count mass: collapse
                # deterministically before the seeding join
                seed = init_ranks.groupBy("vid").agg(F.max("rank").alias("rank"))
                info["warm_start"] = True

            # the static in-contribution of non-receiver sources, per dst
            recv_src = vt.where(is_recv).select(F.col("vid").alias("src")).hint("shuffle_hash")
            coef = (ed.join(recv_src, "src", "left_anti")
                    .groupBy(F.col("dst").alias("vid")).agg(F.sum("c").alias("coef")))
            rows = vt.withColumn("rank", F.lit(1.0 / n))
            if seed is not None:
                obs_s = Observation("pagerank_seed")
                rows = (
                    vt.join(seed.select("vid", F.col("rank").cast("double").alias("seed"))
                            .hint("shuffle_hash"), "vid", "left")
                    .withColumn("rank", F.coalesce("seed", F.lit(1.0 / n)))
                    .observe(obs_s,
                             F.sum(F.when(is_recv, F.col("rank"))).alias("recv"),
                             F.sum(F.when(is_recv & ~F.col("out"), F.col("rank")))
                             .alias("dangling"),
                             F.max(F.when(~is_recv, F.col("rank"))).alias("nonrecv")))
            state = eager_checkpoint(
                rows.where(is_recv).join(coef.hint("shuffle_hash"), "vid", "left")
                .select("vid", (~F.col("out")).alias("dangling"),
                        F.coalesce("coef", F.lit(0.0)).alias("coef"), "rank"))

            default = 1.0 / n  # the rank every non-receiver shares
            dangling_sum = info["n_dangling"] * default
            if "resumed_from" in info:
                s = obs_s.get
                if m > 0:
                    default = s["nonrecv"]
                dangling_sum = (s["dangling"] or 0.0) + m_dangling * default
            elif seed is not None:
                # the seeded state MUST be renormalized to total mass 1: a
                # mass error has no graph structure to mix it away and
                # decays at exactly the damping rate, i.e. an unnormalized
                # warm start is WORSE than cold
                s = obs_s.get
                scale = 1.0 / ((s["recv"] or 0.0) + m * default)
                state = eager_checkpoint(state.withColumn("rank", F.col("rank") * scale))
                default *= scale
                dangling_sum = (s["dangling"] or 0.0) * scale + m_dangling * default

            # the loop scans only receiver-sourced edges: a non-receiver's
            # contribution is the static ``coef`` above
            dyn = ed.join(recv_src, "src", "left_semi")
            salted = mode == "shuffle" and salt_buckets > 0
            if salted:
                hot = (vt.where(F.col("in_deg") > hot_threshold)
                       .select(F.col("vid").alias("dst"), F.lit(True).alias("hot")))
                dyn = (dyn.join(F.broadcast(hot), "dst", "left")
                       .select("src", "dst", "c",
                               F.when(F.col("hot"), F.pmod(F.xxhash64("src"),
                                                           F.lit(salt_buckets)))
                               .otherwise(F.lit(0)).alias("salt")))
            if mode == "broadcast":
                # partitioned by dst, the contribution sum is partition-local
                dyn = dyn.repartition(p, "dst")
            dyn = eager_checkpoint(dyn)

            nonrecv = vt.where(~is_recv).select("vid")

            def full_rank(state: DataFrame, default: float) -> DataFrame:
                out = state.select("vid", "rank")
                if m > 0:
                    out = out.unionByName(nonrecv.select("vid", F.lit(default).alias("rank")))
                return out

            base = (1.0 - damping) / n
            converged = False
            while it < max_iter and not converged:
                t0 = time.time()
                ranks = state.select(F.col("vid").alias("src"), "rank")
                ranks = F.broadcast(ranks) if mode == "broadcast" else ranks.hint("shuffle_hash")
                flow = dyn.join(ranks, "src")
                c = (F.col("rank") * F.col("c")).alias("c")
                if salted:
                    contribs = (flow.select("dst", "salt", c)
                                .groupBy("dst", "salt").agg(F.sum("c").alias("c"))
                                .groupBy("dst").agg(F.sum("c").alias("contrib")))
                else:
                    contribs = flow.select("dst", c).groupBy("dst").agg(
                        F.sum("c").alias("contrib"))
                new_rank = F.lit(base) + F.lit(damping) * (
                    F.coalesce("contrib", F.lit(0.0)) + F.lit(default) * F.col("coef")
                    + F.lit(dangling_sum / n))
                # ONE driver action: the eager localCheckpoint of the new
                # state fills the L1 and the next superstep's dangling mass
                obs = Observation(f"pagerank_superstep_{it}")
                state = eager_checkpoint(
                    state.join(contribs.withColumnRenamed("dst", "vid").hint("shuffle_hash"),
                               "vid", "left")
                    .select("vid", "dangling", "coef", new_rank.alias("rank"),
                            F.col("rank").alias("prev"))
                    .observe(obs, F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("l1"),
                             F.sum(F.when(F.col("dangling"), F.col("rank"))
                                   .otherwise(0.0)).alias("dangling"))
                    .drop("prev"))
                default_new = base + damping * (dangling_sum / n)
                l1 = (obs.get["l1"] or 0.0) + m * abs(default_new - default)
                dangling_used = dangling_sum
                dangling_sum = (obs.get["dangling"] or 0.0) + m_dangling * default_new
                default = default_new
                converged = l1 < tol
                it += 1
                info["iterations"] = it
                info["l1_history"].append(l1)

                if ckpt is not None and (converged or it % checkpoint_every == 0
                                         or it >= max_iter):
                    ckpt.write_state(full_rank(state, default), it - 1)
                    ckpt.append_metrics(
                        it - 1,
                        {"algo": "pagerank", "l1_diff": l1, "dangling_mass": dangling_used,
                         "wall_ms": (time.time() - t0) * 1e3, "rows": n,
                         "converged": converged},
                    )
                    if converged:
                        ckpt.mark_converged(it - 1)

            info["converged"] = converged
            return full_rank(state, default), info


def opic(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """OPIC — On-line Page Importance Computation (X212; Abiteboul,
    Preda & Cobena 2003), the crawl-scheduling importance score the
    reference's webgraph domain uses to prioritize fetch frontiers
    without waiting for a PageRank convergence: every page starts with
    cash 1/n; each (synchronous) round a page's cash moves to its
    successors in equal shares, its HISTORY accumulates the cash it
    held, and dangling cash is redistributed uniformly (the virtual
    root page). importance ~ history + cash after t rounds; unlike
    PageRank there is no damping and the total cash is conserved
    exactly.

    Returns (vid, history, cash) with both rounded to 8dp (the
    pagerank-oracle float policy).

    Scale shape: identical to a PageRank superstep — one
    contribution-sum shuffle per round over the cleaned edge set, the
    dangling total as a 1-row aggregate, per-round eager
    localCheckpoint for lineage; no damping term, no convergence test
    (OPIC is an anytime algorithm — rounds are the budget).
    """
    e = clean_edges(edges).persist()
    verts = (e.select(F.col("src").alias("vid"))
             .unionByName(e.select(F.col("dst").alias("vid")))
             .distinct().persist())
    n = verts.count()
    deg = e.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("outdeg"))
    state = verts.select(
        "vid", F.lit(1.0 / n).alias("cash"),
        F.lit(0.0).alias("history")).transform(eager_checkpoint)
    for _ in range(rounds):
        st = state.join(deg, "vid", "left")
        dang = (st.where(F.col("outdeg").isNull())
                .agg(F.coalesce(F.sum("cash"), F.lit(0.0)).alias("d")))
        contrib = (e.join(st.where(F.col("outdeg").isNotNull())
                          .select(F.col("vid").alias("src"),
                                  (F.col("cash") / F.col("outdeg"))
                                  .alias("share")), "src")
                   .groupBy(F.col("dst").alias("vid"))
                   .agg(F.sum("share").alias("inflow")))
        state = (state.join(contrib, "vid", "left").crossJoin(dang)
                 .select("vid",
                         (F.coalesce("inflow", F.lit(0.0))
                          + F.col("d") / n).alias("cash"),
                         (F.col("history") + F.col("cash"))
                         .alias("history"))
                 .transform(eager_checkpoint))
    e.unpersist()
    verts.unpersist()
    return state.select("vid", F.round("history", 8).alias("history"),
                        F.round("cash", 8).alias("cash"))
