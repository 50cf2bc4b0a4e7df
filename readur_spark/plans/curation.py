"""End-to-end training-data curation pipeline: the engine's operators
composed into the canonical corpus-prep flow —

    extract (interleaved spans → text)
    → text analysis (language ID, quality score, Gopher filter flags)
    → quality filtering
    → exact dedup (keep-first)
    → near-dup CLUSTER dedup (MinHash-LSH pairs → connected components)
    → chunking (overlapping word windows)
    → partitioned parquet commit

Every stage is one of the already-oracled operators, so the pipeline's
correctness decomposes into the driver gate's per-operator checks; this
module contributes the composition, the per-stage survivor accounting
(the curation funnel every data team reports), and the job entry point
(jobs/run_curation.py ships it via spark-submit --py-files).

Scale notes: stages 1–3 are a single fused scan (no shuffle); exact dedup
is one hash shuffle; near-dup is the banded-LSH shape; chunking is a
shuffle-free explode. The output is written partitioned by detected
language — the layout downstream training-data samplers prune on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readur_spark.functions.textstats import (
    gopher_flags_cols,
    lang_id_col,
    quality_score_col,
)
from readur_spark.operators import dedup
from readur_spark.operators.extract import chunk_texts, extract_spans
from readur_spark.operators.lifecycle import release_checkpoint


def _to_text(docs_df: DataFrame) -> DataFrame:
    """Normalize input: interleaved (doc_id, spans) runs the extraction
    operator and joins text spans; flat (doc_id, text) passes through."""
    if "spans" in docs_df.columns:
        extracted = extract_spans(docs_df)
        return extracted.filter(F.col("status") == "completed").select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
                    lambda s: s["text"],
                ),
                "\n\n",
            ).alias("text"),
        )
    return docs_df.select("doc_id", "text")


def curate(
    docs_df: DataFrame,
    min_quality: float = 0.0,
    require_gopher: bool = True,
    gopher_stopwords: tuple[str, ...] | None = None,
    require_rep_pass: bool = False,
    line_dedup_max_df: int | None = None,
    line_dedup_separator: str = "\n",
    lm_ref_df: DataFrame | None = None,
    max_perplexity: float | None = None,
    quality_model: dict | None = None,
    min_quality_prob: float = 0.5,
    scrub_pii: bool = False,
    embeddings_df: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    semantic_clusters: int = 16,
    heldout_df: DataFrame | None = None,
    decontam_min_len: int = 50,
    near_dup_threshold: float = 0.5,
    shingle_n: int = 3,
    lsh_max_bucket_size: int | None = None,
    chunk_words: int = 128,
    overlap_words: int = 32,
    chunk_tokenizer=None,
    chunk_tokens: int = 512,
    overlap_tokens: int = 0,
    split_fractions: dict[str, float] | None = None,
    url_col: str | None = None,
    domain_blocklist=None,
    rank_table: DataFrame | None = None,
    rank_col: str = "rank",
    min_rank_ratio: float | None = None,
    rank_keep_quantile: float | None = None,
    min_sentences: int = 0,
    min_terminal_punct: float = 0.0,
) -> tuple[DataFrame, dict]:
    """Run the curation funnel. Returns (chunks DataFrame, funnel metrics).

    The metrics dict counts survivors at each stage — computed with
    ``count()`` actions on persisted intermediates, the standard curation
    report. Callers that only need the output frame can ignore it; the
    counts are what you put on the run dashboard.

    Optional stages (all off by default, preserving the round-2 funnel):
    ``require_rep_pass`` adds the Gopher repetition filters;
    ``line_dedup_max_df`` first strips corpus-wide boilerplate lines
    (C4/RefinedWeb) so every later stage sees clean text;
    ``lm_ref_df`` + ``max_perplexity`` add the CCNet LM filter (train a
    bigram LM on the reference frame, keep docs at/below the ceiling);
    ``quality_model`` adds the learned logistic-regression quality
    filter (operators/quality_classifier.py — train once, pass the dict);
    ``scrub_pii`` redacts contact identifiers just before chunking (late,
    so dedup hashes are computed on the original bytes);
    ``embeddings_df`` (vec_id aligned with doc_id) adds the SemDeDup
    semantic stage after lexical near-dup dedup — paraphrase duplicates
    collapse to one exemplar per cosine ε-ball;
    ``heldout_df`` decontaminates against an eval set before dedup;
    ``chunk_tokenizer`` (a kernels.bpe.BpeTokenizer) switches the final
    chunking stage from word windows to TOKEN-boundary windows of
    ``chunk_tokens``/``overlap_tokens`` — the trainer-faithful layout,
    since real pipelines size context windows in tokens (chunk text
    decodes exactly and re-encodes to its own token slice);
    ``split_fractions`` appends a deterministic ``split`` column;
    ``lsh_max_bucket_size`` caps LSH band buckets via star expansion
    (operators/dedup.minhash_lsh_pairs) — set it when the corpus carries
    mass duplication (10^2+ near-copies of single pages), where
    all-pairs candidates grow quadratically per duplicate group;
    ``url_col`` prepends the crawl-frontier stage — canonical-URL
    keep-first dedup (functions/urls) and, with ``domain_blocklist``,
    the UT1-style broadcast host filter — before any text stage runs;
    ``rank_table`` (requires ``url_col``) adds link-graph rank
    filtering right after the frontier stage: a precomputed per-domain
    score table (pagerank/trustrank ``(node, rank)`` or hyperball
    ``(node, harmonic)`` output — first column is the domain,
    ``rank_col`` names the score) is thresholded and the corpus
    semi-joined against the kept domains, so crawl hygiene, link-graph
    authority, and text curation compose in ONE checkpointed funnel.
    Exactly one keep-rule: ``min_rank_ratio`` keeps domains with score
    ≥ ratio/N (the jobs/run_linkgraph.py --docs-out rule: 1.0 = above
    uniform mass), ``rank_keep_quantile`` keeps the top (1-q) quantile
    by exact percentile. Scale shape: one scalar aggregate over the
    (domains-sized) rank table + a semi join on the uniform domain
    key — broadcast when small, AQE-shuffled at 10^8 hosts;
    ``min_sentences`` / ``min_terminal_punct`` add the C4 sentence gate
    (drop pages with too few sentences or too few sentences ending in
    terminal punctuation) inside the same fused quality scan.
    """
    # Stage boundaries use eager localCheckpoint, not bare persist: the
    # funnel composes a dozen operators, several of which reference their
    # input plan multiple times (joins back to text_df, semi-joins, window
    # rebuilds) — with caching alone the LOGICAL plan still nests and its
    # string form grows multiplicatively, until a downstream
    # plan-stringification OOMs building a >1 GB UTF16 string (observed at
    # sf0.1 with every optional stage enabled). Checkpointing truncates
    # lineage at each boundary, so every stage starts from a leaf. On a
    # real cluster prefer reliable checkpoints for executor-loss safety.
    # cheap parameter validation FIRST — the URL-frontier stage ahead of
    # the rank stage is corpus-scale work; a bad argument combination
    # must fail before it runs, not after
    if rank_table is not None:
        if url_col is None:
            raise ValueError("rank_table requires url_col=")
        if (min_rank_ratio is None) == (rank_keep_quantile is None):
            raise ValueError(
                "rank_table needs exactly one keep-rule: "
                "min_rank_ratio or rank_keep_quantile"
            )
        if rank_keep_quantile is not None and not (
            0.0 <= rank_keep_quantile < 1.0
        ):
            raise ValueError(
                "rank_keep_quantile must be in [0, 1), got "
                f"{rank_keep_quantile}"
            )

    metrics: dict[str, int] = {}
    stage_frames: list[DataFrame] = []

    def _ckpt(df: DataFrame) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        stage_frames.append(out)
        return out

    if url_col is not None:
        # crawl-frontier discipline FIRST — it is the cheapest stage
        # (one window shuffle + a broadcast anti-join) and every later
        # stage then works on the smaller frontier. Requires docs_df to
        # carry ``url_col``; the blocklist is UT1-style curated hosts.
        from readur_spark.functions.urls import dedup_by_canonical_url
        from readur_spark.operators.linkgraph import (
            domain_of,
            filter_by_domain_blocklist,
        )

        urled = docs_df
        if domain_blocklist is not None:
            urled = filter_by_domain_blocklist(
                urled.withColumn("__dom", domain_of(F.col(url_col))),
                domain_blocklist,
                domain_col="__dom",
            ).drop("__dom")
        urled = _ckpt(
            dedup_by_canonical_url(urled, url_col=url_col).drop(
                "canonical_url"
            )
        )
        metrics["after_url_stage"] = urled.count()
        docs_df = urled

    if rank_table is not None:
        from readur_spark.operators.linkgraph import domain_of

        rt = rank_table.select(
            F.lower(F.col(rank_table.columns[0])).alias("__node"),
            F.col(rank_col).try_cast("double").alias("__r"),
            F.col(rank_col).isNotNull().alias("__raw_nn"),
        )
        # one validation aggregate: an empty rank table or non-numeric
        # rank values would otherwise make the semi-join (or a NULL
        # percentile threshold) silently drop the ENTIRE corpus — the
        # worst possible failure mode for a filter stage
        vagg = rt.agg(
            F.count("*").alias("n"),
            # distinct NODES, not raw rows: duplicate (or case-aliased)
            # rank-table rows would inflate N and silently lower the
            # min_rank_ratio/N threshold below the documented semantics
            # (r8 advisor finding)
            F.countDistinct("__node").alias("n_nodes"),
            F.sum(
                F.when(F.col("__raw_nn") & F.col("__r").isNull(), 1)
                .otherwise(0)
            ).alias("nbad"),
            F.sum(
                F.when(~F.col("__raw_nn"), 1).otherwise(0)
            ).alias("nnull"),
        ).first()
        if vagg["n"] == 0:
            raise ValueError(
                "rank_table is empty — the rank stage would drop every "
                "document; pass rank_table=None to skip the stage"
            )
        if vagg["nbad"] and vagg["nbad"] > 0:
            raise ValueError(
                f"rank_table has {vagg['nbad']} non-numeric "
                f"'{rank_col}' value(s) (cast to double yields NULL)"
            )
        if vagg["nnull"] and vagg["nnull"] > 0:
            raise ValueError(
                f"rank_table has {vagg['nnull']} NULL '{rank_col}' "
                "value(s) — those domains would be dropped silently"
            )
        rt = rt.drop("__raw_nn")
        if min_rank_ratio is not None:
            n_nodes = vagg["n_nodes"]
            threshold = min_rank_ratio / max(n_nodes, 1)
        else:
            # exact percentile (one scalar): deterministic across
            # partitionings, unlike approxQuantile
            threshold = rt.agg(
                F.expr(f"percentile(__r, {rank_keep_quantile})")
            ).first()[0]
        keep = rt.filter(F.col("__r") >= threshold).select("__node")
        ranked = _ckpt(
            docs_df.withColumn("__dom", domain_of(F.col(url_col)))
            .join(keep, F.col("__dom") == F.col("__node"), "left_semi")
            .drop("__dom")
        )
        metrics["after_rank_stage"] = ranked.count()
        docs_df = ranked

    text_df = _ckpt(_to_text(docs_df))
    metrics["input_docs"] = text_df.count()

    if line_dedup_max_df is not None:
        lined = _ckpt(dedup.dedup_lines(
            text_df, max_line_df=line_dedup_max_df,
            separator=line_dedup_separator,
        ))
        metrics["boilerplate_lines_removed_docs"] = lined.filter(
            F.col("n_lines_removed") > 0
        ).count()
        text_df = lined.select("doc_id", "text")

    if heldout_df is not None:
        text_df = _ckpt(dedup.decontaminate_filter(
            text_df,
            _to_text(heldout_df),
            min_len=decontam_min_len,
            exclude_same_id=True,
        ))
        metrics["after_decontamination"] = text_df.count()

    gopher_cols = (
        gopher_flags_cols(F.col("text"), stopwords=gopher_stopwords)
        if gopher_stopwords
        else gopher_flags_cols(F.col("text"))
    )
    analyzed = text_df.select(
        "doc_id",
        "text",
        lang_id_col(F.col("text")).alias("lang"),
        quality_score_col(F.col("text")).alias("quality"),
        *gopher_cols,
    )
    filtered = analyzed.filter(F.col("quality") >= min_quality)
    if require_gopher:
        filtered = filtered.filter(F.col("gopher_pass"))
    if min_sentences or min_terminal_punct:
        # the C4 sentence gate — same fused scan stage, no extra pass
        from readur_spark.functions.textstats import sentence_stats_cols

        ns, _mean, _mx, tp = sentence_stats_cols(F.col("text"))
        if min_sentences:
            filtered = filtered.filter(ns >= min_sentences)
        if min_terminal_punct:
            filtered = filtered.filter(tp >= min_terminal_punct)
    if require_rep_pass:
        from readur_spark.operators.repetition import repetition_metrics

        rep_ok = repetition_metrics(text_df).filter(F.col("rep_pass")).select("doc_id")
        filtered = filtered.join(rep_ok, "doc_id", "left_semi")
    filtered = _ckpt(filtered.select("doc_id", "text", "lang", "quality"))
    metrics["after_quality_filter"] = filtered.count()

    if lm_ref_df is not None and max_perplexity is not None:
        from readur_spark.operators.lm import perplexity_filter, train_bigram_lm

        lm = train_bigram_lm(_to_text(lm_ref_df))
        filtered = _ckpt(perplexity_filter(
            filtered, lm, max_perplexity, broadcast_model=True
        ))
        metrics["after_lm_filter"] = filtered.count()

    if quality_model is not None:
        # learned LR quality filter (GPT-3/CCNet recipe): the model is a
        # plain dict trained once (train_quality_classifier) and reused
        # across runs; scoring is a broadcast-weights linear pass
        from readur_spark.operators.quality_classifier import quality_filter

        filtered = _ckpt(
            quality_filter(filtered, quality_model, min_quality_prob)
        )
        metrics["after_learned_quality"] = filtered.count()

    exact = _ckpt(dedup.dedup_keep_first(filtered))
    metrics["after_exact_dedup"] = exact.count()

    pairs = dedup.minhash_lsh_pairs(
        exact,
        threshold=near_dup_threshold,
        n=shingle_n,
        max_bucket_size=lsh_max_bucket_size,
    )
    curated = _ckpt(dedup.dedup_cluster_keep_first(exact, pairs))
    metrics["after_near_dedup"] = curated.count()

    if embeddings_df is not None:
        from readur_spark.operators.similarity import semdedup

        # restrict embeddings to the SURVIVING docs first: otherwise a doc
        # already removed upstream can be elected the ε-ball exemplar and
        # its surviving duplicate gets dropped — losing the content class
        # entirely (and clustering removed docs is wasted work anyway)
        emb_cur = embeddings_df.join(
            curated.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        sem_out = semdedup(
            emb_cur,
            threshold=semantic_threshold,
            n_clusters=semantic_clusters,
        )
        # semdedup returns an eagerly-checkpointed frame (its own
        # intermediates already released); track it for release once the
        # joined survivor set is checkpointed below
        stage_frames.append(sem_out)
        kept_ids = sem_out.select(F.col("vec_id").alias("doc_id"))
        # docs with no embedding row carry no semantic evidence and must
        # SURVIVE (a partial embedding job must not silently delete docs);
        # they are counted separately so the metric stays honest
        no_emb = curated.join(
            embeddings_df.select(F.col("vec_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        ).select("doc_id")
        metrics["semantic_no_embedding_docs"] = no_emb.count()
        curated = _ckpt(curated.join(
            kept_ids.unionByName(no_emb), "doc_id", "left_semi"
        ))
        metrics["after_semantic_dedup"] = curated.count()

    if scrub_pii:
        from readur_spark.functions.textstats import scrub_pii_col

        curated = curated.withColumn("text", scrub_pii_col(F.col("text")))
    if chunk_tokenizer is not None:
        from readur_spark.operators.extract import chunk_texts_by_tokens

        chunked = chunk_texts_by_tokens(
            curated,
            chunk_tokenizer,
            chunk_tokens=chunk_tokens,
            overlap_tokens=overlap_tokens,
        )
    else:
        chunked = chunk_texts(
            curated, chunk_words=chunk_words, overlap_words=overlap_words
        )
    chunks = chunked.join(curated.select("doc_id", "lang", "quality"), "doc_id")
    if split_fractions is not None:
        from readur_spark.operators.sampling import split_assign

        chunks = split_assign(chunks, split_fractions)
    metrics["chunks"] = chunks.count()
    # deterministically free every dead intermediate's checkpoint blocks.
    # The LAST stage checkpoint is the one the returned plan depends on
    # (later stages like scrub_pii only WRAP it without re-checkpointing,
    # so an identity check against `curated` would release the live frame)
    for df in stage_frames[:-1]:
        release_checkpoint(df)
    return chunks, metrics


def curate_to_parquet(
    spark: SparkSession,
    docs_df: DataFrame,
    output_dir: str,
    **kwargs,
) -> dict:
    """Curate and commit, partitioned by language (downstream samplers
    prune on the partition column). Returns the funnel metrics."""
    chunks, metrics = curate(docs_df, **kwargs)
    chunks.write.partitionBy("lang").mode("overwrite").parquet(output_dir)
    return metrics
