"""spark-submit entry point (north rule: packaged for
``spark-submit --py-files`` on multi-executor clusters).

Usage (cluster):
    zip -r credigraph_spark.zip credigraph_spark
    spark-submit --py-files credigraph_spark.zip -m credigraph_spark.cli ...
or locally:
    python -m credigraph_spark.cli <command> [options]

Commands mirror the reference's job scripts (sparkcc.py CLI surface,
:57-140) re-expressed for the engine:

    extract    repos parquet/Iceberg table -> vertices + edges parquet
    pagerank   edges parquet -> ranks parquet (checkpointed, resumable)
    cc         edges parquet -> components parquet
    lpa        edges parquet -> labels parquet
    triangles  edges parquet -> per-vertex counts parquet
    sql        user-supplied SQL over registered views (any scan format)
    sqlite     export a table to one indexed SQLite serving .db
    bench      run the bench suite (same as bench.py)
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None,
                   help="spark master (default local[$SPARK_GRAFT_CPUS], "
                        "else local[<cores this process may use>])")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--checkpoint-dir", default=None, help="CheckpointStore root")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--checkpoint-every", type=int, default=5)
    p.add_argument("--no-resume", action="store_true")


def _store(args):
    from credigraph_spark.checkpoint import CheckpointStore

    return CheckpointStore(args.checkpoint_dir, args.run_id) if args.checkpoint_dir else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="credigraph-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract", help="repos table -> vertex/edge tables")
    p.add_argument("--input", required=True, help="repos parquet path")
    p.add_argument("--output", required=True, help="output dir (vertices/, edges/)")
    p.add_argument("--langs", default=None, help="comma list to filter before UDF")
    _add_common(p)

    p = sub.add_parser("sql", help="user SQL over registered table views "
                                   "(reference sparkcc.py:480-546)")
    p.add_argument("--table", action="append", required=True,
                   help="name=path[:format], repeatable; format inferred "
                        "from extension when omitted")
    p.add_argument("--query", required=True, help="SQL text (views by --table name)")
    p.add_argument("--output", default=None, help="write result here (else print rows)")
    p.add_argument("--output-format", default="parquet")
    p.add_argument("--limit", type=int, default=20, help="printed-row cap without --output")
    _add_common(p)

    p = sub.add_parser("dedup", help="near-duplicate docs via MinHash+LSH "
                                     "(verified with exact n-gram Jaccard)")
    p.add_argument("--input", required=True, help="documents table (id, text)")
    p.add_argument("--output", required=True, help="pair table (id_a, id_b, jaccard)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--num-hashes", type=int, default=16)
    p.add_argument("--rows-per-band", type=int, default=2)
    p.add_argument("--max-bucket-size", type=int, default=100_000)
    _add_common(p)

    p = sub.add_parser("simhash", help="simhash near-dup pairs (pure-SQL "
                                       "signature, pigeonhole blocking)")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--max-hamming", type=int, default=3)
    p.add_argument("--n-tables", type=int, default=8)
    _add_common(p)

    p = sub.add_parser("ann", help="top-k cosine neighbors per query vector "
                                   "(LSH-bucketed, or exact with --exact)")
    p.add_argument("--input", required=True, help="embeddings table (id, vector)")
    p.add_argument("--queries", default=None, help="query table (default: --input)")
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--bits-per-table", type=int, default=8)
    p.add_argument("--n-tables", type=int, default=8)
    p.add_argument("--exact", action="store_true", help="brute-force baseline")
    p.add_argument("--ivf", action="store_true",
                   help="IVF (coarse-quantizer cell probing) instead of LSH")
    p.add_argument("--pq", action="store_true",
                   help="product quantization: ADC top-k over m-byte codes "
                        "(the memory-bound path; smallest distance first)")
    p.add_argument("--pq-m", type=int, default=8,
                   help="PQ subspaces (vector dim must divide by it)")
    p.add_argument("--pq-codes", type=int, default=16,
                   help="codewords per PQ subspace")
    p.add_argument("--n-lists", type=int, default=256)
    p.add_argument("--nprobe", type=int, default=16)
    p.add_argument("--refine-iters", type=int, default=0)
    p.add_argument("--assign-method", choices=["auto", "sql", "matmul"],
                   default="auto",
                   help="IVF cell assignment: 'sql' struct-max argmax (JVM), "
                        "'matmul' Arrow-batched numpy (wins at large "
                        "--n-lists), 'auto' = matmul when --n-lists >= 1024. "
                        "Both round to the same 6 digits before argmax, so "
                        "the choice never changes cell assignment.")
    _add_common(p)

    p = sub.add_parser("bucketize", help="write edges as a bucketed+sorted "
                                         "table: later src-keyed aggs/joins "
                                         "scan it exchange-free")
    p.add_argument("--edges", required=True, help="edges parquet (src,dst)")
    p.add_argument("--output", required=True, help="external table path")
    p.add_argument("--table-name", default="edges_bucketed")
    p.add_argument("--buckets", type=int, default=32)
    _add_common(p)

    p = sub.add_parser("features", help="assemble per-node feature vectors "
                                        "(norm/one-hot/time/zero/rni "
                                        "encoders, reference tgrag/encoders) "
                                        "and export domain(id, ts, x BLOB, "
                                        "y REAL) to the SQLite serving store")
    p.add_argument("--input", required=True, help="node table (any scan format)")
    p.add_argument("--id-col", required=True)
    p.add_argument("--norm", action="append", default=[],
                   help="min-max-normalized numeric column, repeatable")
    p.add_argument("--categorical", action="append", default=[],
                   help="one-hot column, repeatable")
    p.add_argument("--time", action="append", default=[],
                   help="raw-passthrough time column, repeatable")
    p.add_argument("--zero-dims", type=int, default=0)
    p.add_argument("--rni-dims", type=int, default=0)
    p.add_argument("--rni-seed", type=int, default=0)
    p.add_argument("--labels", default=None,
                   help="optional parquet (id, y); missing ids get y=-1.0")
    p.add_argument("--ts", type=int, default=0, help="snapshot ts id")
    p.add_argument("--output", required=True, help="destination .db file")
    p.add_argument("--shards", type=int, default=None)
    _add_common(p)

    p = sub.add_parser("sqlite", help="export a table to a single indexed "
                                      "SQLite serving .db (reference "
                                      "construct_relational_table.py:93-247)")
    p.add_argument("--input", required=True, help="table path (any scan format)")
    p.add_argument("--output", required=True, help="destination .db file")
    p.add_argument("--db-table", default="data")
    p.add_argument("--index", action="append", default=[],
                   help="column to index, repeatable")
    p.add_argument("--shards", type=int, default=None,
                   help="parallel shard-writer count (default: input partitioning)")
    _add_common(p)

    p = sub.add_parser("sessions", help="gap-based sessionization of an "
                                        "events parquet (user_id, ts, "
                                        "event_id)")
    p.add_argument("--input", required=True, help="events parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--gap-minutes", type=int, default=30)
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--tiebreak-col", default="event_id")
    _add_common(p)

    p = sub.add_parser("quality", help="document-quality signals over a "
                                       "(doc_id, text) parquet: gopher "
                                       "rules, C4 line stats, or DSIR "
                                       "importance weights")
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--signal", choices=("gopher", "c4", "dsir"),
                   default="gopher")
    p.add_argument("--min-words", type=int, default=50)
    p.add_argument("--min-stopwords", type=int, default=2)
    p.add_argument("--min-words-per-line", type=int, default=5)
    p.add_argument("--min-kept-lines", type=int, default=3)
    p.add_argument("--target-sql", default="doc_id % 20 = 0",
                   help="dsir only: boolean SQL expr over the input "
                        "marking the in-domain target subset")
    _add_common(p)

    p = sub.add_parser("datasheet", help="per-source corpus datasheet "
                                         "over a (doc_id, source, text) "
                                         "parquet: doc count, mean "
                                         "length, en share, near-dup "
                                         "fraction, mean boilerplate")
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument("--output", required=True)
    _add_common(p)

    p = sub.add_parser("profile", help="Deequ-style column profile of "
                                       "any parquet table: rows, nulls, "
                                       "exact distinct, min/max per "
                                       "column")
    p.add_argument("--input", required=True, help="input parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--columns", default=None,
                   help="comma list (default: all columns)")
    _add_common(p)

    p = sub.add_parser("dq", help="declarative data-quality checks over "
                                  "a parquet table: uniqueness, "
                                  "completeness, ranges, accepted values")
    p.add_argument("--input", required=True, help="input parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--unique", default=None, help="comma list of columns")
    p.add_argument("--not-null", default=None, help="comma list")
    p.add_argument("--range", action="append", default=[],
                   metavar="COL:LO:HI",
                   help="inclusive numeric bound, repeatable")
    p.add_argument("--accepted", action="append", default=[],
                   metavar="COL:v1|v2|...",
                   help="allowed value list, repeatable")
    _add_common(p)

    p = sub.add_parser("funnel", help="ordered funnel over an event "
                                      "parquet: per-stage user counts + "
                                      "conversion vs stage 1")
    p.add_argument("--input", required=True, help="events parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--steps", required=True,
                   help="comma list of event_type stages, in order")
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--type-col", default="event_type")
    p.add_argument("--ts-col", default="ts")
    _add_common(p)

    p = sub.add_parser("safety", help="content-safety screens over a "
                                      "(doc_id, text) parquet: PII "
                                      "scrub/redaction or blocklist "
                                      "token screen")
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--signal", choices=("pii", "blocklist"), default="pii")
    p.add_argument("--blocklist", default="",
                   help="blocklist only: comma list of banned tokens")
    p.add_argument("--max-frac", type=float, default=0.0,
                   help="blocklist only: max blocked-token fraction kept")
    _add_common(p)

    p = sub.add_parser("tokenizer", help="BPE tokenizer utilities over a "
                                         "(doc_id, text) parquet: learn "
                                         "merges or report fertility")
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--mode", choices=("merges", "fertility"),
                   default="merges")
    p.add_argument("--merges", type=int, default=3)
    _add_common(p)

    p = sub.add_parser("perplexity", help="corpus-LM cross-entropy / "
                                          "perplexity filter per document "
                                          "(unigram or interpolated bigram)")
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--order", type=int, choices=(1, 2), default=1)
    p.add_argument("--lam", type=float, default=0.7,
                   help="bigram only: Jelinek-Mercer interpolation weight")
    _add_common(p)

    for algo in ("pagerank", "cc", "lpa", "triangles", "hits", "kcore",
                 "scc", "bowtie", "ktruss", "sssp", "katz", "louvain",
                 "leiden",
                 "cocite", "salsa", "butterflies", "mst", "coloring",
                 "simrank", "triads", "dyads", "spread", "fiedler", "eigen",
                 "matching", "cpm", "densest", "influencemax"):
        p = sub.add_parser(algo)
        p.add_argument("--edges", required=True, help="edges parquet (src,dst)")
        p.add_argument("--output", required=True)
        if algo == "pagerank":
            p.add_argument("--damping", type=float, default=0.85)
            p.add_argument("--tol", type=float, default=1e-6)
            p.add_argument("--max-iter", type=int, default=100)
            p.add_argument("--salt-buckets", type=int, default=0)
            p.add_argument("--init-ranks", default=None,
                           help="previous ranks parquet for a warm start "
                                "(incremental refresh)")
            p.add_argument("--weight-col", default=None,
                           help="edge weight column: contribution becomes "
                                "rank*w/W(src), parallel edges summed")
        if algo in ("cc", "lpa"):
            p.add_argument("--max-iter", type=int, default=200 if algo == "cc" else 10)
        if algo == "hits":
            p.add_argument("--max-iter", type=int, default=10)
        if algo == "kcore":
            p.add_argument("--k", type=int, required=True)
            p.add_argument("--max-rounds", type=int, default=None)
        if algo == "scc":
            p.add_argument("--max-phases", type=int, default=30)
        if algo == "ktruss":
            p.add_argument("--k", type=int, required=True)
            p.add_argument("--max-rounds", type=int, default=None)
        if algo == "katz":
            p.add_argument("--alpha", type=float, default=0.1)
            p.add_argument("--beta", type=float, default=1.0)
            p.add_argument("--max-iter", type=int, default=10)
            p.add_argument("--tol", type=float, default=None)
            p.add_argument("--weight-col", default=None)
        if algo == "sssp":
            p.add_argument("--seeds", required=True,
                           help="seed vertices: comma list of vids or a "
                                "single-column parquet path")
            p.add_argument("--max-rounds", type=int, default=30)
            p.add_argument("--weight-col", default="w")
            p.add_argument("--undirected", action="store_true")
        if algo == "louvain":
            p.add_argument("--rounds", type=int, default=2)
        if algo == "leiden":
            p.add_argument("--rounds", type=int, default=2)
            p.add_argument("--coarse-rounds", type=int, default=1)
        if algo == "cocite":
            p.add_argument("--mode", choices=("cocitation", "coupling"),
                           default="cocitation")
            p.add_argument("--top-k", type=int, default=50)
            p.add_argument("--max-center-degree", type=int, default=None)
        if algo == "salsa":
            p.add_argument("--max-iter", type=int, default=3)
        if algo == "butterflies":
            p.add_argument("--orient", choices=("src", "dst", "auto"),
                           default="auto")
            p.add_argument("--hub-cap", type=int, default=None)
        if algo == "matching":
            p.add_argument("--rounds", type=int, default=10)
        if algo == "mst":
            p.add_argument("--weight-col", default="w")
            p.add_argument("--max-rounds", type=int, default=10)
        if algo == "coloring":
            p.add_argument("--colors", type=int, default=3)
            p.add_argument("--rounds", type=int, default=3)
            p.add_argument("--seed", type=int, default=7)
        if algo == "simrank":
            p.add_argument("--c", type=float, default=0.8)
            p.add_argument("--candidates", type=int, default=100)
            p.add_argument("--top-k", type=int, default=20)
        if algo == "fiedler":
            p.add_argument("--max-iter", type=int, default=5)
        if algo == "densest":
            p.add_argument("--eps-tenths", type=int, default=1)
            p.add_argument("--max-rounds", type=int, default=8)
        if algo == "influencemax":
            p.add_argument("--k", type=int, default=3)
            p.add_argument("--cands", type=int, default=8)
            p.add_argument("--sims", type=int, default=6)
            p.add_argument("--p", type=float, default=0.3)
            p.add_argument("--rounds", type=int, default=2)
            p.add_argument("--seed", type=int, default=7)
        if algo == "eigen":
            p.add_argument("--max-iter", type=int, default=5)
            p.add_argument("--weight-col", default=None,
                           help="edge weight column (default unweighted)")
        if algo == "spread":
            p.add_argument("--seeds", required=True,
                           help="seed labels parquet with columns (vid, y)")
            p.add_argument("--max-iter", type=int, default=3)
            p.add_argument("--init", type=float, default=0.0)
            p.add_argument("--weight-col", default=None,
                           help="edge weight column for strength-"
                                "normalized averaging (default unweighted)")
        _add_common(p)

    args = ap.parse_args(argv)

    from credigraph_spark.session import get_spark

    spark = get_spark(f"credigraph-{args.cmd}", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    info: dict = {"cmd": args.cmd}

    if args.cmd == "extract":
        from credigraph_spark.extraction import build_graph

        repos = spark.read.parquet(args.input)
        langs = args.langs.split(",") if args.langs else None
        vertices, edges = build_graph(repos, langs=langs)
        vertices.write.mode("overwrite").parquet(f"{args.output}/vertices")
        edges.write.mode("overwrite").parquet(f"{args.output}/edges")
        info["n_vertices"] = spark.read.parquet(f"{args.output}/vertices").count()
        info["n_edges"] = spark.read.parquet(f"{args.output}/edges").count()
    elif args.cmd == "sql":
        from credigraph_spark.io_utils import run_sql, scan_table, write_table

        views = {}
        for spec in args.table:
            name, _, loc = spec.partition("=")
            # the format suffix is the text after the LAST colon, and only
            # when it looks like a format name — URI paths (s3://bucket/x,
            # hdfs://nn/x, file:/x) keep their colons intact
            head, sep, tail = loc.rpartition(":")
            if sep and tail and "/" not in tail and "." not in tail:
                loc, fmt = head, tail
            else:
                fmt = ""
            views[name] = scan_table(spark, loc, fmt or None)
        result = run_sql(spark, args.query, views)
        if args.output:
            result = result.persist()  # one execution: count + write
            info["rows"] = result.count()
            write_table(result, args.output, fmt=args.output_format)
            result.unpersist()
        else:
            rows = result.limit(args.limit).collect()
            info["rows"] = len(rows)
            info["sample"] = [r.asDict() for r in rows[:5]]
    elif args.cmd == "dedup":
        from credigraph_spark.io_utils import scan_table
        from credigraph_spark.pipeline import lsh_candidate_pairs, ngram_jaccard_pairs

        docs = scan_table(spark, args.input, None)
        cands = lsh_candidate_pairs(
            docs, id_col=args.id_col, text_col=args.text_col,
            num_hashes=args.num_hashes, rows_per_band=args.rows_per_band,
            max_bucket_size=args.max_bucket_size,
        )
        pairs = ngram_jaccard_pairs(docs, id_col=args.id_col, text_col=args.text_col,
                                    threshold=args.threshold, candidates=cands)
        pairs.write.mode("overwrite").parquet(args.output)
        info["pairs"] = spark.read.parquet(args.output).count()
    elif args.cmd == "simhash":
        from credigraph_spark.io_utils import scan_table
        from credigraph_spark.pipeline import simhash_near_dups

        docs = scan_table(spark, args.input, None)
        pairs = simhash_near_dups(docs, id_col=args.id_col, text_col=args.text_col,
                                  max_hamming=args.max_hamming, n_tables=args.n_tables)
        pairs.write.mode("overwrite").parquet(args.output)
        info["pairs"] = spark.read.parquet(args.output).count()
    elif args.cmd == "ann":
        from credigraph_spark.io_utils import scan_table
        from credigraph_spark.pipeline import cosine_topk_bruteforce, lsh_bucketed_topk

        cands = scan_table(spark, args.input, None)
        queries = scan_table(spark, args.queries, None) if args.queries else cands
        if args.exact:
            topk = cosine_topk_bruteforce(queries, cands, k=args.k,
                                          id_col=args.id_col, vec_col=args.vec_col)
        elif args.pq:
            from credigraph_spark.pipeline import pq_adc_topk

            topk = pq_adc_topk(queries, cands, k_nn=args.k, m=args.pq_m,
                               k=args.pq_codes, id_col=args.id_col,
                               vec_col=args.vec_col)
        elif args.ivf:
            from credigraph_spark.pipeline import ivf_topk

            method = args.assign_method
            if method == "auto":
                method = "matmul" if args.n_lists >= 1024 else "sql"
            topk = ivf_topk(queries, cands, k=args.k, n_lists=args.n_lists,
                            nprobe=args.nprobe, id_col=args.id_col,
                            vec_col=args.vec_col, refine_iters=args.refine_iters,
                            assign_method=method)
        else:
            topk = lsh_bucketed_topk(queries, cands, k=args.k,
                                     id_col=args.id_col, vec_col=args.vec_col,
                                     bits_per_table=args.bits_per_table,
                                     n_tables=args.n_tables)
        topk.write.mode("overwrite").parquet(args.output)
        info["rows"] = spark.read.parquet(args.output).count()
    elif args.cmd == "bucketize":
        from credigraph_spark.store import read_edges, write_bucketed_edges

        write_bucketed_edges(spark.read.parquet(args.edges), args.table_name,
                             args.output, buckets=args.buckets)
        info["rows"] = read_edges(spark, args.table_name).count()
        info["table"] = args.table_name
        info["buckets"] = args.buckets
    elif args.cmd == "features":
        from pyspark.sql import functions as F

        from credigraph_spark.features import assemble_features, pack_float32
        from credigraph_spark.io_utils import scan_table
        from credigraph_spark.serving import write_sqlite

        df = scan_table(spark, args.input, None)
        feats, names = assemble_features(
            df, args.id_col, norm_cols=args.norm,
            categorical_cols=args.categorical, time_cols=args.time,
            zero_dims=args.zero_dims, rni_dims=args.rni_dims,
            rni_seed=args.rni_seed)
        if args.labels:
            lab = spark.read.parquet(args.labels).toDF(args.id_col, "y")
            feats = (feats.join(lab, args.id_col, "left")
                     .withColumn("y", F.coalesce(F.col("y").cast("double"),
                                                 F.lit(-1.0))))
        else:
            feats = feats.withColumn("y", F.lit(-1.0))
        packed = feats.select(
            F.col(args.id_col).alias("id"), F.lit(args.ts).alias("ts"),
            pack_float32("x").alias("x"), "y")
        info["rows"] = write_sqlite(packed, args.output, "domain",
                                    index_cols=["id"], shards=args.shards)
        info["x_dim"] = len(names)
        info["features"] = names[:50]
        info["db"] = args.output
    elif args.cmd == "sqlite":
        from credigraph_spark.io_utils import scan_table
        from credigraph_spark.serving import write_sqlite

        df = scan_table(spark, args.input, None)
        info["rows"] = write_sqlite(df, args.output, args.db_table,
                                    index_cols=args.index, shards=args.shards)
        info["db"] = args.output
    elif args.cmd == "sessions":
        from credigraph_spark.temporal import sessionize

        events = spark.read.parquet(args.input)
        out = sessionize(events, user_col=args.user_col, ts_col=args.ts_col,
                         gap_minutes=args.gap_minutes,
                         order_tiebreak=args.tiebreak_col)
        out.write.mode("overwrite").parquet(args.output)
        info["gap_minutes"] = args.gap_minutes
        info["n_sessions"] = spark.read.parquet(args.output).count()
    elif args.cmd == "funnel":
        from credigraph_spark.temporal import funnel_steps

        events = spark.read.parquet(args.input)
        steps = [s for s in args.steps.split(",") if s]
        out = funnel_steps(events, steps, user_col=args.user_col,
                           type_col=args.type_col, ts_col=args.ts_col)
        out.write.mode("overwrite").parquet(args.output)
        for row in spark.read.parquet(args.output).collect():
            info[f"stage{row.step_idx}_{row.step}"] = row.n_users
    elif args.cmd == "safety":
        from credigraph_spark.pipeline.safety import (blocklist_screen,
                                                      pii_scrub)

        docs = spark.read.parquet(args.input)
        if args.signal == "pii":
            out = pii_scrub(docs)
            out.write.mode("overwrite").parquet(args.output)
            res = spark.read.parquet(args.output)
            info["n_docs"] = res.count()
            info["n_flagged"] = res.where("has_pii").count()
        else:
            bl = [w for w in args.blocklist.split(",") if w]
            out = blocklist_screen(docs, bl, max_frac=args.max_frac)
            out.write.mode("overwrite").parquet(args.output)
            res = spark.read.parquet(args.output)
            info["n_docs"] = res.count()
            info["n_dropped"] = res.where("NOT keep").count()
        info["signal"] = args.signal
    elif args.cmd == "tokenizer":
        from credigraph_spark.pipeline.textstats import (bpe_fertility,
                                                         bpe_learn)

        docs = spark.read.parquet(args.input)
        if args.mode == "merges":
            out = bpe_learn(docs, n_merges=args.merges)
        else:
            out = bpe_fertility(docs, n_merges=args.merges)
        out.write.mode("overwrite").parquet(args.output)
        info["mode"] = args.mode
        info["n_merges"] = args.merges
        info["n_rows"] = spark.read.parquet(args.output).count()
    elif args.cmd == "perplexity":
        from credigraph_spark.pipeline.textstats import (bigram_cross_entropy,
                                                         lm_cross_entropy)

        docs = spark.read.parquet(args.input)
        if args.order == 1:
            out = lm_cross_entropy(docs)
        else:
            out = bigram_cross_entropy(docs, lam=args.lam)
        out.write.mode("overwrite").parquet(args.output)
        info["order"] = args.order
        info["n_docs"] = spark.read.parquet(args.output).count()
    elif args.cmd == "profile":
        from credigraph_spark.pipeline.profiling import profile_table

        df = spark.read.parquet(args.input)
        cols = args.columns.split(",") if args.columns else None
        out = profile_table(df, cols=cols)
        out.write.mode("overwrite").parquet(args.output)
        info["n_columns"] = spark.read.parquet(args.output).count()
    elif args.cmd == "dq":
        from credigraph_spark.pipeline.profiling import dq_checks

        df = spark.read.parquet(args.input)
        ranges = {}
        for spec in args.range:
            col, lo, hi = spec.rsplit(":", 2)
            ranges[col] = (float(lo), float(hi))
        accepted = {}
        for spec in args.accepted:
            col, vals = spec.split(":", 1)
            accepted[col] = vals.split("|")
        out = dq_checks(
            df,
            unique=args.unique.split(",") if args.unique else None,
            not_null=args.not_null.split(",") if args.not_null else None,
            ranges=ranges or None,
            accepted=accepted or None)
        out.write.mode("overwrite").parquet(args.output)
        res = spark.read.parquet(args.output).collect()
        info["n_checks"] = len(res)
        info["n_failed"] = sum(1 for r in res if not r.passed)
    elif args.cmd == "datasheet":
        from credigraph_spark.pipeline.textstats import source_datasheet

        docs = spark.read.parquet(args.input)
        out = source_datasheet(docs)
        out.write.mode("overwrite").parquet(args.output)
        res = spark.read.parquet(args.output).collect()
        info["n_sources"] = len(res)
        info["n_docs"] = sum(int(r["n_docs"]) for r in res)
    elif args.cmd == "quality":
        from pyspark.sql import functions as sf

        from credigraph_spark.pipeline.textstats import (
            c4_line_stats, dsir_importance, gopher_quality)

        docs = spark.read.parquet(args.input)
        if args.signal == "gopher":
            out = gopher_quality(docs, min_words=args.min_words,
                                 min_stopwords=args.min_stopwords)
        elif args.signal == "c4":
            out = c4_line_stats(docs,
                                min_words_per_line=args.min_words_per_line,
                                min_kept_lines=args.min_kept_lines)
        else:
            out = dsir_importance(docs, target=sf.expr(args.target_sql))
        out.write.mode("overwrite").parquet(args.output)
        res = spark.read.parquet(args.output)
        info["signal"] = args.signal
        info["n_docs"] = res.count()
        if args.signal in ("gopher", "c4"):
            info["n_kept"] = res.where(sf.col("keep")).count()
    else:
        edges = spark.read.parquet(args.edges)
        if args.cmd == "pagerank":
            from credigraph_spark.graph import pagerank

            init = spark.read.parquet(args.init_ranks) if args.init_ranks else None
            ranks, rinfo = pagerank(
                edges, damping=args.damping, tol=args.tol, max_iter=args.max_iter,
                ckpt=_store(args), checkpoint_every=args.checkpoint_every,
                salt_buckets=args.salt_buckets, resume=not args.no_resume,
                init_ranks=init, weight_col=args.weight_col,
            )
            ranks.write.mode("overwrite").parquet(args.output)
            info.update({k: v for k, v in rinfo.items() if k != "l1_history"})
        elif args.cmd == "cc":
            from credigraph_spark.graph import connected_components

            labels, rinfo = connected_components(
                edges, max_iter=args.max_iter, ckpt=_store(args),
                checkpoint_every=args.checkpoint_every, resume=not args.no_resume,
            )
            labels.write.mode("overwrite").parquet(args.output)
            info.update(rinfo)
        elif args.cmd == "lpa":
            from credigraph_spark.graph import label_propagation

            labels, rinfo = label_propagation(
                edges, max_iter=args.max_iter, ckpt=_store(args),
                checkpoint_every=args.checkpoint_every, resume=not args.no_resume,
            )
            labels.write.mode("overwrite").parquet(args.output)
            info.update(rinfo)
        elif args.cmd == "triangles":
            from credigraph_spark.graph import triangle_count

            per_vertex, total = triangle_count(edges)
            per_vertex.write.mode("overwrite").parquet(args.output)
            info["total_triangles"] = total
        elif args.cmd == "hits":
            from credigraph_spark.graph import hits

            scores = hits(edges, max_iter=args.max_iter)
            scores.write.mode("overwrite").parquet(args.output)
            info["iterations"] = args.max_iter
            info["n_vertices"] = spark.read.parquet(args.output).count()
        elif args.cmd == "kcore":
            from credigraph_spark.graph import k_core

            core, rounds = k_core(edges, k=args.k, max_rounds=args.max_rounds)
            core.write.mode("overwrite").parquet(args.output)
            info["k"] = args.k
            info["rounds"] = rounds
            info["core_vertices"] = spark.read.parquet(args.output).count()
        elif args.cmd == "scc":
            from credigraph_spark.graph import strongly_connected_components

            labels, scc_info = strongly_connected_components(
                edges, max_phases=args.max_phases)
            labels.write.mode("overwrite").parquet(args.output)
            info.update({k: v for k, v in scc_info.items()
                         if k != "phase_extracted"})
        elif args.cmd == "bowtie":
            from credigraph_spark.graph import bowtie_classes

            classes = bowtie_classes(edges).persist()
            classes.write.mode("overwrite").parquet(args.output)
            info["class_counts"] = {
                r["cls"]: r["count"]
                for r in classes.groupBy("cls").count().collect()}
            classes.unpersist()
        elif args.cmd == "ktruss":
            from credigraph_spark.graph import k_truss

            kept, rounds = k_truss(edges, k=args.k,
                                   max_rounds=args.max_rounds)
            kept = kept.persist()
            kept.write.mode("overwrite").parquet(args.output)
            info["k"] = args.k
            info["rounds"] = rounds
            info["surviving_edges"] = kept.count()
            kept.unpersist()
        elif args.cmd == "sssp":
            from credigraph_spark.graph import weighted_sssp

            if os.path.exists(args.seeds) or "/" in args.seeds:
                seeds = spark.read.parquet(args.seeds)
            else:
                vids = [int(v) for v in args.seeds.split(",")]
                seeds = spark.createDataFrame([(v,) for v in vids], ["vid"])
            dists = weighted_sssp(edges, seeds, max_rounds=args.max_rounds,
                                  weight_col=args.weight_col,
                                  directed=not args.undirected)
            dists.write.mode("overwrite").parquet(args.output)
            info["max_rounds"] = args.max_rounds
            info["reached"] = spark.read.parquet(args.output).count()
        elif args.cmd == "louvain":
            from credigraph_spark.graph import louvain_local_move

            labels = louvain_local_move(edges, rounds=args.rounds)
            labels.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
            info["rounds"] = args.rounds
            info["n_vertices"] = out.count()
            info["n_communities"] = out.select("community").distinct().count()
        elif args.cmd == "leiden":
            from credigraph_spark.graph.louvain import leiden_two_level

            labels = leiden_two_level(edges, rounds=args.rounds,
                                      coarse_rounds=args.coarse_rounds)
            labels.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
            info["rounds"] = args.rounds
            info["n_vertices"] = out.count()
            info["n_parts"] = out.select("part").distinct().count()
            info["n_communities"] = out.select("community").distinct().count()
        elif args.cmd == "cocite":
            from credigraph_spark.graph import cocitation_topk

            pairs = cocitation_topk(
                edges, k=args.top_k, mode=args.mode,
                max_center_degree=args.max_center_degree)
            pairs.write.mode("overwrite").parquet(args.output)
            info["mode"] = args.mode
            info["rows"] = spark.read.parquet(args.output).count()
        elif args.cmd == "katz":
            from credigraph_spark.graph import katz_centrality

            out, kinfo = katz_centrality(
                edges, alpha=args.alpha, beta=args.beta,
                max_iter=args.max_iter, tol=args.tol,
                weight_col=args.weight_col)
            out.write.mode("overwrite").parquet(args.output)
            info["iterations"] = kinfo["iterations"]
            info["converged"] = kinfo["converged"]
            info["n_vertices"] = spark.read.parquet(args.output).count()
        elif args.cmd == "salsa":
            from credigraph_spark.graph import salsa

            out = salsa(edges, max_iter=args.max_iter)
            out.write.mode("overwrite").parquet(args.output)
            info["iterations"] = args.max_iter
            info["n_vertices"] = spark.read.parquet(args.output).count()
        elif args.cmd == "butterflies":
            from credigraph_spark.graph import butterfly_count

            out = butterfly_count(edges, hub_cap=args.hub_cap,
                                  orient=args.orient)
            out.write.mode("overwrite").parquet(args.output)
            row = spark.read.parquet(args.output).collect()[0]
            info["n_wedge_pairs"] = row["n_wedge_pairs"]
            info["n_butterflies"] = row["n_butterflies"]
        elif args.cmd == "mst":
            from credigraph_spark.graph import boruvka_msf

            out = boruvka_msf(edges, weight_col=args.weight_col,
                              max_rounds=args.max_rounds)
            out.write.mode("overwrite").parquet(args.output)
            info["max_rounds"] = args.max_rounds
            info["forest_edges"] = spark.read.parquet(args.output).count()
        elif args.cmd == "coloring":
            from pyspark.sql import functions as sf

            from credigraph_spark.graph import luby_coloring

            out = luby_coloring(edges, n_colors=args.colors,
                                rounds=args.rounds, seed=args.seed)
            out.write.mode("overwrite").parquet(args.output)
            res = spark.read.parquet(args.output)
            info["n_vertices"] = res.count()
            info["uncolored"] = res.where(sf.col("color") == 0).count()
        elif args.cmd == "simrank":
            from credigraph_spark.graph import simrank2_topk

            out = simrank2_topk(edges, c=args.c,
                                n_candidates=args.candidates, k=args.top_k)
            out.write.mode("overwrite").parquet(args.output)
            info["n_pairs"] = spark.read.parquet(args.output).count()
        elif args.cmd == "triads":
            from credigraph_spark.graph import directed_triad_census

            directed_triad_census(edges).write.mode("overwrite").parquet(
                args.output)
            row = spark.read.parquet(args.output).collect()[0]
            info.update(n_triangles=row.n_triangles, n_cyclic=row.n_cyclic,
                        n_transitive=row.n_transitive)
        elif args.cmd == "dyads":
            from credigraph_spark.graph import dyad_census

            dyad_census(edges).write.mode("overwrite").parquet(args.output)
            row = spark.read.parquet(args.output).collect()[0]
            info.update(n_vertices=row.n_vertices, n_mutual=row.n_mutual,
                        n_asymmetric=row.n_asymmetric, n_null=row.n_null)
        elif args.cmd == "eigen":
            from credigraph_spark.graph.spreading import (
                eigenvector_centrality, eigenvector_centrality_weighted)

            if args.weight_col:
                out = eigenvector_centrality_weighted(
                    edges, args.weight_col, max_iter=args.max_iter)
            else:
                out = eigenvector_centrality(edges, max_iter=args.max_iter)
            out.write.mode("overwrite").parquet(args.output)
            info["n_vertices"] = spark.read.parquet(args.output).count()
        elif args.cmd == "fiedler":
            from credigraph_spark.graph import fiedler_vector

            out = fiedler_vector(edges, max_iter=args.max_iter)
            out.write.mode("overwrite").parquet(args.output)
            pos = spark.read.parquet(args.output)
            info["n_vertices"] = pos.count()
            info["n_positive"] = pos.where("f > 0").count()
        elif args.cmd == "matching":
            from credigraph_spark.graph.matching import greedy_matching

            out = greedy_matching(edges, rounds=args.rounds)
            out.write.mode("overwrite").parquet(args.output)
            info["rounds"] = args.rounds
            info["matched_pairs"] = spark.read.parquet(args.output).count()
        elif args.cmd == "cpm":
            from credigraph_spark.graph.triangles import clique_percolation_k3

            out = clique_percolation_k3(edges)
            out.write.mode("overwrite").parquet(args.output)
            res = spark.read.parquet(args.output)
            info["membership_rows"] = res.count()
            info["n_communities"] = res.select("community").distinct().count()
        elif args.cmd == "densest":
            from credigraph_spark.graph.kcore import densest_subgraph

            out = densest_subgraph(edges, eps_tenths=args.eps_tenths,
                                   max_rounds=args.max_rounds)
            out.write.mode("overwrite").parquet(args.output)
            res = spark.read.parquet(args.output).collect()
            best = [r for r in res if r["is_best"]][0]
            info["rounds"] = len(res)
            info["best_round"] = int(best["round"])
            info["best_density"] = float(best["density"])
            info["best_vertices"] = int(best["n_vertices"])
        elif args.cmd == "influencemax":
            from credigraph_spark.graph.spreading import (
                greedy_influence_max)

            out = greedy_influence_max(edges, k=args.k,
                                       n_cands=args.cands,
                                       n_sims=args.sims, p=args.p,
                                       rounds=args.rounds,
                                       seed=args.seed)
            out.write.mode("overwrite").parquet(args.output)
            res = sorted(spark.read.parquet(args.output).collect(),
                         key=lambda r: r["round"])
            info["seeds"] = [int(r["seed_vid"]) for r in res]
            info["est_spread"] = (float(res[-1]["est_spread"])
                                  if res else 0.0)
        elif args.cmd == "spread":
            from credigraph_spark.graph import label_spreading

            seeds = spark.read.parquet(args.seeds)
            out = label_spreading(edges, seeds, max_iter=args.max_iter,
                                  init=args.init,
                                  weight_col=args.weight_col)
            out.write.mode("overwrite").parquet(args.output)
            info["n_vertices"] = spark.read.parquet(args.output).count()
            info["n_seeds"] = seeds.select("vid").distinct().count()

    print(json.dumps(info))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
