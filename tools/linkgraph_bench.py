"""Host-graph scale probe (r6 verdict, next-round #10): a deterministic
power-law domain graph at 10^7 edges, timed through the whole link-graph
family at local[32] — the link-graph analog of the 500k curation funnel.

Graph construction is fully distributed (spark.range → hash-derived
endpoints; nothing touches the driver): edge e draws src and dst from a
power-law over N hosts via u^ALPHA inverse-transform on xxhash64-derived
uniforms — heavy-head out-degrees AND in-degrees (hubs on both sides),
the real host-graph shape, deterministic across runs.

Timed: distinct-edge build, fixed-iteration PageRank (the oracle
configuration), early-stop PageRank (tol), weighted + distinct degree
stats, and connected components. Prints ONE JSON line; run quiet.

Usage: python tools/linkgraph_bench.py [N_EDGES] [N_HOSTS] [HYPERBALL_P]
[HITS_ITERS]
(default 10_000_000 edges over 500_000 hosts; HYPERBALL_P > 0 appends a
HyperBall leg at that precision — p=11 is the published Common Crawl
regime, 2 KB/node registers — recording per-round walls and the exact
per-round shuffle payload n_edge_rows × 2^p bytes; HITS_ITERS > 0
appends a HITS leg with tol=1e-7 early stop).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

ALPHA = 2.5  # power-law shape: u^ALPHA concentrates mass on low ranks


def synth_edges(spark, n_edges: int, n_hosts: int):
    """(src, dst) multi-edge table, power-law on both endpoints."""

    def endpoint(col, salt):
        u = (
            F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1_000_003))
            / F.lit(1_000_003.0)
        )
        return F.concat(
            F.lit("h"),
            F.floor(F.pow(u, F.lit(ALPHA)) * n_hosts).cast("long"),
        )

    e = spark.range(n_edges).select(
        endpoint(F.col("id"), "src").alias("src_domain"),
        endpoint(F.col("id"), "dst").alias("dst_domain"),
    )
    return e


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from readur_spark.operators.linkgraph import (
        build_domain_graph,
        domain_components,
        domain_degree_stats,
        pagerank,
    )
    from readur_spark.session import get_spark

    spark = get_spark(cores=cpus, app_name="readur_spark_linkgraph_bench")
    out: dict = {
        "n_edges_raw": n_edges,
        "n_hosts_target": n_hosts,
        "cpus": cpus,
        "load_1m_start": round(os.getloadavg()[0], 2),
    }

    raw = synth_edges(spark, n_edges, n_hosts)

    t0 = time.perf_counter()
    edges = build_domain_graph(raw).localCheckpoint(eager=True)
    out["n_edges_distinct"] = edges.count()
    out["wall_build_distinct_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    weighted = build_domain_graph(raw, weighted=True).localCheckpoint(
        eager=True
    )
    mx = weighted.agg(F.max("weight").alias("m")).collect()[0]["m"]
    out["max_edge_multiplicity"] = int(mx)
    out["wall_build_weighted_s"] = round(time.perf_counter() - t0, 2)

    iters = 5
    t0 = time.perf_counter()
    pr = pagerank(edges, iters=iters)
    out["n_nodes"] = pr.count()
    out["wall_pagerank_5it_s"] = round(time.perf_counter() - t0, 2)
    out["wall_pagerank_per_iter_s"] = round(
        out["wall_pagerank_5it_s"] / iters, 2
    )
    out["rank_mass"] = round(
        pr.agg(F.sum("rank")).collect()[0][0], 9
    )
    from readur_spark.operators.lifecycle import release_checkpoint

    release_checkpoint(pr)

    stats: dict = {}
    t0 = time.perf_counter()
    pr2 = pagerank(edges, iters=30, tol=1e-7, stats=stats)
    pr2.count()
    out["wall_pagerank_earlystop_s"] = round(time.perf_counter() - t0, 2)
    out["earlystop"] = stats
    release_checkpoint(pr2)

    t0 = time.perf_counter()
    deg = domain_degree_stats(edges)
    out["max_in_degree"] = int(
        deg.agg(F.max("in_degree")).collect()[0][0]
    )
    out["wall_degrees_distinct_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    degw = domain_degree_stats(weighted, weight_col="weight")
    out["max_in_degree_weighted"] = int(
        degw.agg(F.max("in_degree")).collect()[0][0]
    )
    out["wall_degrees_weighted_s"] = round(time.perf_counter() - t0, 2)

    hb_p = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    if hb_p:
        from readur_spark.operators.neighborhood import hyperball

        hstats: dict = {}
        t0 = time.perf_counter()
        hb = hyperball(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ),
            p=hb_p,
            stats=hstats,
            num_partitions=cpus * 4,
        )
        out["hyperball_top_harmonic"] = round(
            hb.agg(F.max("harmonic")).collect()[0][0], 3
        )
        out["wall_hyperball_s"] = round(time.perf_counter() - t0, 2)
        out["hyperball_p"] = hb_p
        out["hyperball_rounds"] = hstats.get("rounds_run")
        out["hyperball_converged"] = hstats.get("converged")
        out["hyperball_round_walls_s"] = hstats.get("round_walls_s")
        # exact per-round shuffle payload: every distinct edge ships one
        # 2^p-byte register array to its src (join output), then the
        # repartition re-ships the reduced per-node arrays
        out["hyperball_shuffle_bytes_per_round"] = int(
            out["n_edges_distinct"] * (1 << hb_p)
        )
        release_checkpoint(hb)

    hits_iters = int(sys.argv[4]) if len(sys.argv) > 4 else 0
    if hits_iters:
        from readur_spark.operators.linkgraph import hits

        hst: dict = {}
        t0 = time.perf_counter()
        hb2 = hits(edges, iters=hits_iters, tol=1e-7, stats=hst)
        out["hits_top_authority"] = round(
            hb2.agg(F.max("authority")).collect()[0][0], 6
        )
        out["wall_hits_s"] = round(time.perf_counter() - t0, 2)
        out["hits_iterations_run"] = hst.get("iterations_run")
        out["hits_converged"] = hst.get("converged")
        out["hits_final_delta"] = hst.get("final_delta")
        out["wall_hits_per_iter_s"] = round(
            out["wall_hits_s"] / max(hst.get("iterations_run", 1), 1), 2
        )
        release_checkpoint(hb2)

    t0 = time.perf_counter()
    comp = domain_components(edges)
    ncomp = comp.agg(
        F.countDistinct("component").alias("c")
    ).collect()[0]["c"]
    out["n_components"] = int(ncomp)
    out["wall_components_s"] = round(time.perf_counter() - t0, 2)

    out["persistent_rdds_after"] = (
        spark.sparkContext._jsc.getPersistentRDDs().size()
    )
    out["load_1m_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
