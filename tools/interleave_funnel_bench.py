"""Multimodal interleave funnel at REP × base: the interleaved analog of
the 500k text funnel (tools/funnel_bench.py).

Pipeline: synthetic interleaved corpus (north-rule shape: doc_id +
ordered (kind, text, media_ref, offset) spans, ~1% mega-docs) replicated
REP times with distinct ids → extract_spans (the skew-defused Arrow
extraction pipeline) → content-fingerprint dedup (collapses the
replicas) → build_interleaved_sequences (seq_len 2048, default media
budgets) → interleave_stats → materialize_interleaved (Catalyst
regex-length encoder, trainer-faithful to the default token counter).

Prints ONE JSON line per REP level with per-stage wall, survivors, fill
and straddle aggregates, the persistent-RDD steady state, and a
corpus-level SIGNATURE of the materialized element streams
(order-independent bit_xor of xxhash64 over each sequence's canonical
rendering keyed by seq_id) — REP-invariance of the signature is the
funnel-level correctness claim: after dedup, 100 replicas must
materialize the EXACT same training sequences as one.

Usage: python tools/interleave_funnel_bench.py [REP...] [--base N]
(default REP levels 1 and 100, base 5000 docs → 500k at REP=100).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _encoder(c):
    # one id per regex token = its character length: Catalyst-only, and
    # count-faithful to functions/textstats.token_count_col (the
    # manifest's default counter) by construction
    return F.transform(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0),
        lambda t: F.length(t),
    )


def run_funnel(spark, base, rep: int, cpus: int, seq_len: int = 2048) -> dict:
    """One funnel pass at replication ``rep``; returns the metrics dict."""
    from readur_spark.operators.extract import extract_spans
    from readur_spark.operators.interleave import (
        build_interleaved_sequences,
        interleave_stats,
        materialize_interleaved,
    )
    from readur_spark.operators.lifecycle import release_checkpoint

    sc = spark.sparkContext
    out: dict = {"rep": rep}

    t0 = time.perf_counter()
    reps = F.explode(F.sequence(F.lit(1), F.lit(rep))).alias("rep")
    docs = (
        base.select(reps, "doc_id", "spans")
        .select(F.concat_ws("-", "doc_id", "rep").alias("doc_id"), "spans")
        .repartition(cpus * 2)
        .localCheckpoint(eager=True)
    )
    out["n_docs_in"] = docs.count()
    out["wall_replicate_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    extracted = extract_spans(docs).localCheckpoint(eager=True)
    n_ok = extracted.filter(F.col("status") == "completed").count()
    out["n_extract_ok"] = n_ok
    out["n_extract_failed"] = extracted.count() - n_ok
    out["wall_extract_s"] = round(time.perf_counter() - t0, 2)
    release_checkpoint(docs)

    # content-fingerprint dedup: one shuffle on the uniform md5 key;
    # keep the smallest doc_id per fingerprint (deterministic, and the
    # '-1' replica sorts first, so the survivor set is REP-invariant)
    t0 = time.perf_counter()
    from pyspark.sql.window import Window

    fp = F.md5(F.to_json(F.col("spans")))
    w = Window.partitionBy("__fp").orderBy("doc_id")
    deduped = (
        extracted.filter(F.col("status") == "completed")
        .withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
        .localCheckpoint(eager=True)
    )
    out["n_after_dedup"] = deduped.count()
    out["wall_dedup_s"] = round(time.perf_counter() - t0, 2)
    release_checkpoint(extracted)

    t0 = time.perf_counter()
    manifest = build_interleaved_sequences(
        deduped, seq_len=seq_len
    ).localCheckpoint(eager=True)
    out["n_manifest_rows"] = manifest.count()
    out["wall_manifest_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    st = interleave_stats(manifest, seq_len)
    agg = st.agg(
        F.count("*").alias("n_seqs"),
        F.round(F.avg("fill"), 6).alias("mean_fill"),
        F.sum("n_media").alias("n_media"),
        F.sum("n_cut_media").alias("n_cut_media"),
        F.sum(F.when(F.col("fill") < 1.0, 1).otherwise(0)).alias(
            "n_underfull"
        ),
    ).collect()[0]
    out.update(
        {
            "n_seqs": agg["n_seqs"],
            "mean_fill": float(agg["mean_fill"] or 0.0),
            "n_media": int(agg["n_media"] or 0),
            "n_cut_media": int(agg["n_cut_media"] or 0),
            # only the LAST sequence of the stream may be under-full
            "n_underfull": int(agg["n_underfull"] or 0),
        }
    )
    out["wall_stats_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    seqs = materialize_interleaved(deduped, manifest, _encoder)
    render = F.md5(
        F.concat_ws(
            ";",
            F.transform(
                "elements",
                lambda e: F.concat_ws(
                    "|",
                    e["pos"],
                    e["kind"],
                    F.coalesce(e["media_ref"], F.lit("")),
                    F.coalesce(F.concat_ws(",", e["ids"]), F.lit("")),
                    e["n_tokens"],
                ),
            ),
        )
    )
    sig_row = (
        seqs.select(
            F.xxhash64(
                F.concat_ws("#", F.col("seq_id"), render)
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("sig"), F.count("*").alias("n"))
        .collect()[0]
    )
    out["materialize_sig"] = int(sig_row["sig"] or 0)
    out["n_seqs_materialized"] = sig_row["n"]
    out["wall_materialize_s"] = round(time.perf_counter() - t0, 2)
    release_checkpoint(manifest)
    release_checkpoint(deduped)

    out["wall_total_s"] = round(
        sum(v for k, v in out.items() if k.startswith("wall_")), 2
    )
    out["docs_per_sec"] = round(out["n_docs_in"] / out["wall_total_s"], 1)
    out["persistent_rdds_after"] = sc._jsc.getPersistentRDDs().size()
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_base = 5000
    if "--base" in sys.argv:
        n_base = int(sys.argv[sys.argv.index("--base") + 1])
        args = [a for a in args if a != str(n_base)]
    rep_levels = [int(a) for a in args] or [1, 100]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from readur_spark.corpus import docs_dataframe
    from readur_spark.session import get_spark

    spark = get_spark(cores=cpus, app_name="readur_spark_interleave_funnel")
    base = docs_dataframe(spark, n_base, seed=20260818).localCheckpoint(
        eager=True
    )
    results = []
    for rep in rep_levels:
        r = run_funnel(spark, base, rep, cpus)
        r["n_base"] = n_base
        results.append(r)
        print(json.dumps(r), flush=True)
    if len(results) > 1:
        sigs = {r["materialize_sig"] for r in results}
        print(
            json.dumps(
                {
                    "rep_levels": rep_levels,
                    "signatures_identical": len(sigs) == 1,
                    "signature": sorted(sigs),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
