"""Cluster entry point: link-graph curation over a crawled HTML corpus.

    spark-submit --master <cluster> --py-files dist/readur_spark.zip \
        jobs/run_linkgraph.py --input <parquet with html + base domain> \
        --rank-out <per-domain rank parquet> \
        [--docs-out <rank-filtered docs parquet>] \
        [--html-col html] [--id-col doc_id] [--domain-col domain] \
        [--damping 0.85] [--iters 20] [--tol 1e-7] \
        [--trust-seeds seeds.txt | --trust-seeds-table <parquet>] \
        [--blocklist <hosts.txt>] [--weighted-degrees] \
        [--degrees-out <parquet>] [--min-rank-ratio 1.0] \
        [--prev-edges <parquet> --decay 0.9] [--edges-out <parquet>] \
        [--init-ranks <parquet>]

Incremental recrawl loop (``--prev-edges`` / ``--edges-out`` /
``--init-ranks``): merge this crawl's weighted outlinks into the
persisted edge table (optionally decaying stale weights) and warm-start
the rank iteration from the previous rank vector — the same fixpoint in
a fraction of the iterations (each saved iteration is a corpus-scale
shuffle at 10^8 hosts). Each run writes ``--edges-out`` + ``--rank-out``
which feed the next run's ``--prev-edges`` + ``--init-ranks``.

Pipeline: extract_outlinks (all three HTML attribute quoting forms) →
build_domain_graph → PageRank — or TrustRank when seeds are given — with
delta-based early stop → optional blocklist filter and per-domain degree
stats → optional rank-join doc filter (keep documents whose domain ranks
at least ``min-rank-ratio × uniform``). Prints one JSON line of run
metrics (edge/node counts, iterations run, convergence delta, survivor
counts).

Scale notes: outlink extraction is codegen'd regex (no UDF); the rank
loop is one shuffle join + one groupBy per iteration on the uniform
domain key with per-iteration localCheckpoint; blocklists and seed sets
broadcast. The same shapes the 10^7-edge probe times in
tools/linkgraph_bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--rank-out", required=True)
    ap.add_argument("--docs-out", default=None)
    ap.add_argument("--degrees-out", default=None)
    ap.add_argument("--html-col", default="html")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--domain-col", default="domain",
                    help="the page's own (source) domain column")
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--iters", type=int, default=20)
    ap.add_argument("--tol", type=float, default=1e-7)
    ap.add_argument("--trust-seeds", default=None,
                    help="text file, one trusted host per line -> TrustRank")
    ap.add_argument("--trust-seeds-table", default=None,
                    help="parquet whose first column is the trusted host")
    ap.add_argument("--blocklist", default=None,
                    help="text file, one blocked host per line")
    ap.add_argument("--weighted-degrees", action="store_true")
    ap.add_argument("--harmonic-out", default=None,
                    help="also run HyperBall and write per-domain "
                         "(reach_est, harmonic, t_converged) — computed "
                         "over REVERSED edges (who can reach me), the "
                         "classic centrality direction")
    ap.add_argument("--harmonic-p", type=int, default=8)
    ap.add_argument("--hits-out", default=None,
                    help="also run HITS and write per-domain "
                         "(node, hub, authority) — hubs rank the "
                         "directories/aggregators a crawl frontier "
                         "should prioritize; authorities complement "
                         "PageRank as an endorsement signal")
    ap.add_argument("--hits-iters", type=int, default=20)
    ap.add_argument("--hits-tol", type=float, default=None,
                    help="HITS early-stop L1 threshold (separate from "
                         "--tol, which tunes PageRank; HITS converges "
                         "at the A^T A spectral-gap rate and 1e-7 is "
                         "rarely reachable — default None runs the "
                         "fixed iteration count with no per-step "
                         "delta aggregate)")
    ap.add_argument("--min-rank-ratio", type=float, default=1.0,
                    help="docs-out keeps domains with rank >= ratio/N")
    ap.add_argument("--prev-edges", default=None,
                    help="previous crawl's weighted edge parquet "
                         "(src, dst, weight): merge this crawl's "
                         "outlinks into it instead of ranking the new "
                         "crawl alone (incremental recrawl loop)")
    ap.add_argument("--decay", type=float, default=1.0,
                    help="multiplier on --prev-edges weights before "
                         "the merge (exponential forgetting; 1.0 = "
                         "pure accumulation)")
    ap.add_argument("--prune-below", type=float, default=0.0,
                    help="drop merged edges with weight below this — "
                         "what makes --decay actually remove stale "
                         "links from the RANK graph (rank runs on the "
                         "src/dst projection, so a decayed-but-present "
                         "edge otherwise still ranks like a live one)")
    ap.add_argument("--edges-out", default=None,
                    help="persist the (merged) weighted edge table "
                         "for the NEXT crawl's --prev-edges")
    ap.add_argument("--init-ranks", default=None,
                    help="previous run's rank parquet (node, rank): "
                         "warm-start the power iteration — same "
                         "fixpoint, fewer iterations on a recrawl")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from readur_spark.operators.linkgraph import (
        build_domain_graph,
        domain_degree_stats,
        extract_outlinks,
        filter_by_domain_blocklist,
        merge_edge_tables,
        pagerank,
        trustrank,
    )
    from readur_spark.operators.lifecycle import release_checkpoint as _release
    from readur_spark.session import get_spark

    spark = get_spark(app_name="readur_spark_linkgraph")
    docs = spark.read.parquet(args.input)
    report: dict = {"input": args.input}

    links = extract_outlinks(
        docs,
        html_col=args.html_col,
        id_col=args.id_col,
        base_domain_col=args.domain_col,
        passthrough_cols=[args.domain_col],
    ).withColumn("src_domain", F.lower(F.col(args.domain_col)))
    if args.prev_edges:
        # incremental recrawl loop: this crawl's WEIGHTED outlinks
        # merged into the persisted table (one union + one groupBy-sum
        # on the (src, dst) pair key); the merged pairs are unique, so
        # ranking over its (src, dst) projection is the same distinct
        # edge set the cold path builds. The new crawl's graph is
        # checkpointed FIRST so the extraction scan runs once — the
        # merge and the n_edges_new_crawl metric both read the
        # materialized table, not the regex pipeline again.
        new_w = build_domain_graph(links, weighted=True).localCheckpoint(
            eager=True
        )
        report["n_edges_new_crawl"] = new_w.count()
        merged = merge_edge_tables(
            spark.read.parquet(args.prev_edges), new_w,
            decay=args.decay, prune_below=args.prune_below,
        ).localCheckpoint(eager=True)
        _release(new_w)
        if args.edges_out:
            merged.write.mode("overwrite").parquet(args.edges_out)
            report["edges_out"] = args.edges_out
        edges = merged.select("src", "dst")
        ckpt_handle = merged
        report["mode_edges"] = "incremental"
    elif args.edges_out:
        # cold start that persists its edge table: build the WEIGHTED
        # graph once (its (src, dst) pairs are already distinct) and
        # derive the rank edges by projection — one extraction pass,
        # not two
        weighted = build_domain_graph(links, weighted=True).localCheckpoint(
            eager=True
        )
        weighted.write.mode("overwrite").parquet(args.edges_out)
        report["edges_out"] = args.edges_out
        edges = weighted.select("src", "dst")
        ckpt_handle = weighted
    else:
        edges = build_domain_graph(links).localCheckpoint(eager=True)
        ckpt_handle = edges
    report["n_edges"] = edges.count()

    init_ranks = (
        spark.read.parquet(args.init_ranks) if args.init_ranks else None
    )
    stats: dict = {}
    if args.trust_seeds or args.trust_seeds_table:
        if args.trust_seeds_table:
            # lowercase to the graph's host contract (src is lowered
            # above, domain_of lowers dst) — mixed-case seeds would
            # silently miss the node table otherwise (review finding)
            tbl = spark.read.parquet(args.trust_seeds_table)
            seeds = tbl.select(
                F.lower(F.col(tbl.columns[0]).cast("string")).alias(
                    "node"
                ),
                *[F.col(c) for c in tbl.columns[1:2]],
            )
        else:
            with open(args.trust_seeds) as fh:
                seeds = [ln.strip().lower() for ln in fh if ln.strip()]
        ranks = trustrank(
            edges, seeds, damping=args.damping, iters=args.iters,
            tol=args.tol, stats=stats, init_ranks=init_ranks,
        )
        report["mode"] = "trustrank"
    else:
        ranks = pagerank(
            edges, damping=args.damping, iters=args.iters,
            tol=args.tol, stats=stats, init_ranks=init_ranks,
        )
        report["mode"] = "pagerank"
    # the rank distribution normalizes over the FULL graph, so the
    # min-rank-ratio threshold must divide by the pre-blocklist node
    # count — counting the filtered parquet would silently tighten the
    # cutoff whenever a blocklist is supplied (review finding)
    n_graph_nodes = ranks.count()
    if args.blocklist:
        with open(args.blocklist) as fh:
            hosts = [ln.strip() for ln in fh if ln.strip()]
        ranks = filter_by_domain_blocklist(ranks, hosts, domain_col="node")
        report["blocklist_hosts"] = len(hosts)
    ranks.write.mode("overwrite").parquet(args.rank_out)
    report.update(
        {
            "n_graph_nodes": n_graph_nodes,
            "n_nodes": spark.read.parquet(args.rank_out).count(),
            "rank_iterations": stats,
        }
    )

    if args.degrees_out:
        if args.weighted_degrees:
            # when a weighted table already exists (incremental merge,
            # or cold --edges-out), reuse it — degrees over the
            # accumulated graph, no second extraction pass
            deg_edges = (
                ckpt_handle
                if (args.prev_edges or args.edges_out)
                else build_domain_graph(links, weighted=True)
            )
        else:
            deg_edges = edges
        domain_degree_stats(
            deg_edges,
            weight_col="weight" if args.weighted_degrees else None,
        ).write.mode("overwrite").parquet(args.degrees_out)
        report["degrees_out"] = args.degrees_out

    if args.harmonic_out:
        from readur_spark.operators.neighborhood import hyperball

        hstats: dict = {}
        hyperball(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ),
            p=args.harmonic_p,
            stats=hstats,
        ).write.mode("overwrite").parquet(args.harmonic_out)
        report["harmonic"] = {
            "out": args.harmonic_out,
            "rounds": hstats.get("rounds_run"),
            "converged": hstats.get("converged"),
        }

    if args.hits_out:
        if report["n_edges"] == 0:
            # an edge-less crawl must not crash the job after rank-out
            # is already written (hits() raises on an empty table by
            # contract); record the skip and keep going
            report["hits"] = {"out": None, "skipped": "no edges"}
        else:
            from readur_spark.operators.linkgraph import hits

            hstats2: dict = {}
            hits(
                edges, iters=args.hits_iters, tol=args.hits_tol,
                stats=hstats2,
            ).write.mode("overwrite").parquet(args.hits_out)
            report["hits"] = {
                "out": args.hits_out,
                "iterations_run": hstats2.get("iterations_run"),
                "converged": hstats2.get("converged"),
            }

    if args.docs_out:
        threshold = args.min_rank_ratio / max(n_graph_nodes, 1)
        keep = spark.read.parquet(args.rank_out).filter(
            F.col("rank") >= threshold
        ).select(F.col("node").alias("__keep_domain"))
        kept = docs.join(
            keep,
            F.lower(F.col(args.domain_col)) == F.col("__keep_domain"),
            "left_semi",
        )
        kept.write.mode("overwrite").parquet(args.docs_out)
        report["n_docs_in"] = docs.count()
        report["n_docs_kept"] = spark.read.parquet(args.docs_out).count()

    _release(ckpt_handle)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
