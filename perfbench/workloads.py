"""The benchmark's workloads and the components its traced run drives.

Each builds its input from the seed (``perfbench.gen``), writes it to
parquet, loads it into a cached DataFrame during set-up and then submits
one batch job at a time through the program's public entry points:

* ``web_html``      ``operators.extract.extract_spans(num_partitions=cores)``
* ``curate_dedup``  ``plans.curation.curate`` with its defaults
* ``mixed_ckpt``    ``plans.pipeline.run_extraction(batch_partitions=...)``
  (component of web_html's traced run)
* ``binary_files``  ``operators.binary_extract.extract_files``
  (component of web_html's traced run)

A job's sink is a per-document digest collected into this process (see
``perfbench.oracle``); ``mixed_ckpt`` commits parquet output and its
checkpoint, and its digest is read back after the timer stops.

``probes`` holds the traced run's per-layer measurements. They call the
program's public functions from here, under their own job groups, and add
no tracing inside the program. ``BENCHMARK.json`` lists them with their
units; a layer a workload does not run reads 0. What each should move:

* ``sources.*``, ``operators.extract.*`` (but ``chunk_texts_s``) and
  ``kernels.extractor/htmlmain/textnorm/wordcount/quality.*``: docs_per_s on
  web_html, and ``plans.pipeline.docs_per_s``;
* ``plans.pipeline.*``, ``plans.checkpoint.*``: ``plans.pipeline.docs_per_s``
  of web_html's traced run only;
* ``operators.binary_extract.*``, ``kernels.mime.*``:
  ``operators.binary_extract.docs_per_s`` of web_html's traced run only;
* ``plans.curation.*``, ``operators.dedup.*``,
  ``operators.extract.chunk_texts_s``: docs_per_s on curate_dedup only;
* ``spark.spill_mb``, ``spark.gc_s``: peak_rss_mb; the other ``spark.*``
  and ``proc.cpu_util``: docs_per_s of the same workload;
* ``setup.*``: setup_s; ``trace.*``: the cost of tracing; ``host.*``:
  nothing in the program (the host's own speed during the run).
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.record import plan_fingerprint, text_fingerprint

# --------------------------------------------------------------------------
# Spark helpers (functions handed to Spark live at module level so workers
# import them by name)
# --------------------------------------------------------------------------


def warm_worker(batches):
    """Import the program's kernels in each Python worker."""
    import readur_spark.kernels.extractor  # noqa: F401
    import readur_spark.operators.binary_extract  # noqa: F401

    for b in batches:
        yield b


def identity_pandas(batches):
    """Identity over pandas with the extraction operator's output columns."""
    for pdf in batches:
        n = len(pdf)
        yield pdf.assign(
            confidence=100.0,
            word_count=0,
            status="completed",
            failure_reason=None,
            preprocessing_applied=[[] for _ in range(n)],
            processing_time_ms=0,
        )


def identity_arrow(batches):
    """The same identity over Arrow record batches."""
    for b in batches:
        n = b.num_rows
        yield pa.RecordBatch.from_arrays(
            [
                b.column(0),
                b.column(1),
                pa.array([100.0] * n, pa.float32()),
                pa.array([0] * n, pa.int32()),
                pa.array(["completed"] * n, pa.string()),
                pa.nulls(n, pa.string()),
                pa.array([[]] * n, pa.list_(pa.string())),
                pa.array([0] * n, pa.int64()),
            ],
            names=[
                "doc_id", "spans", "confidence", "word_count", "status",
                "failure_reason", "preprocessing_applied", "processing_time_ms",
            ],
        )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (seconds, result)."""
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        spark.sparkContext.setJobGroup("idle", "idle")
    return time.perf_counter() - t0, out


def timed_median(spark, group: str, fn, repeats: int = 3) -> float:
    return statistics.median(timed(spark, f"{group}.{r}", fn)[0] for r in range(repeats))


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s), max(1, math.ceil(q / 100.0 * len(s)))) - 1]


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, excluding markers and checksums."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def sql_fingerprints(log, group: str, prefix: str) -> dict:
    """Fingerprints of every SQL execution of one job group, in the order
    they ran: the plans a public call builds internally, as the event log
    recorded them."""
    execs = sorted(log.group_sql(group), key=lambda e: e.exec_id)
    return {f"{prefix}.sql{n}": text_fingerprint(ex.plan) for n, ex in enumerate(execs)}


def _us(fn, *args) -> float:
    t0 = time.perf_counter_ns()
    fn(*args)
    return (time.perf_counter_ns() - t0) / 1000.0


# --------------------------------------------------------------------------
# Base
# --------------------------------------------------------------------------


class Workload:
    name = ""
    #: extraction emits one row per document; curation emits its chunks
    one_row_per_doc = True

    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores
        self.input_path = os.path.join(work, "input")
        self.oracle_path = os.path.join(work, "oracle", "expected.parquet")
        self.n_docs = 0
        self.input_bytes = 0

    # -- generation and oracle (not timed) --------------------------------

    def _write_input(self, table: pa.Table, n_files: int) -> None:
        os.makedirs(self.input_path, exist_ok=True)
        rows = table.num_rows
        step = -(-rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step), os.path.join(self.input_path, f"part-{i:03d}.parquet"))
        self.input_bytes = dir_stats(self.input_path)[1]

    def generate(self) -> None:
        raise NotImplementedError

    def build_oracle(self) -> None:
        raise NotImplementedError

    def want(self, spark) -> dict:
        return oracle.collect_digests(oracle.extracted_digest_df(spark.read.parquet(self.oracle_path)))

    # -- set-up -----------------------------------------------------------

    def load(self, spark):
        df = spark.read.parquet(self.input_path).cache()
        df.count()
        return df

    def warm(self, spark, df) -> None:
        spark.range(0, self.cores, 1, self.cores).mapInPandas(warm_worker, "id long").collect()

    # -- timed job --------------------------------------------------------

    def job(self, spark, df, i: int) -> tuple[float, dict, dict]:
        """Run one batch job; return (timed seconds, digests, info). The
        info of job 0 carries the fingerprints of the plans it ran."""
        raise NotImplementedError

    def probes(self, spark, df, ctx: dict) -> dict:
        """Per-layer metrics of the traced session (timed workloads only)."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# Interleaved-document extraction: web_html and mixed_ckpt
# --------------------------------------------------------------------------

_SPANS_IN = pa.list_(
    pa.struct([("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())])
)
_DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", _SPANS_IN)])


class _Interleaved(Workload):
    #: write the input as one parquet file, not one per core
    one_file = False

    def make_docs(self) -> list:
        raise NotImplementedError

    def generate(self) -> None:
        self.docs = self.make_docs()
        self.n_docs = len(self.docs)
        table = pa.Table.from_pylist([{"doc_id": d, "spans": s} for d, s in self.docs], schema=_DOCS_SCHEMA)
        self._write_input(table, 1 if self.one_file else self.cores)

    def build_oracle(self) -> None:
        self.expected = oracle.extraction_oracle(self.docs)
        oracle.write_parquet(self.expected, oracle.EXTRACTED_ORACLE_SCHEMA, self.oracle_path)


#: failure reasons the extraction kernel can emit
FAILURE_REASONS = ("low_ocr_confidence", "unsupported_format", "file_too_large", "file_corrupted", "other")


class WebHtml(_Interleaved):
    """The timed extraction workload. Its traced run also drives the
    pipeline (``MixedCkpt``) and binary-file (``BinaryFiles``) components,
    whose layers have no timed workload of their own."""

    name = "web_html"
    one_file = True  # one crawl shard: the scan yields one split, the operator plans the rest
    # 120 docs per task on 4 cores. At 160 docs a job took ~0.6 s and the
    # seed-drawn page sizes alone moved docs_per_s by a quarter; at 480 the
    # sampled HTML kernel time is 0.5-0.75 of cores x the extraction stage in
    # the traced run, and a 10 s run holds 4-5 jobs of ~2 s
    n_docs_generated = 480

    def make_docs(self):
        return gen.web_html_docs(self.seed, self.n_docs_generated)

    def _plan(self, df):
        from readur_spark.operators.extract import extract_spans

        return extract_spans(df, num_partitions=self.cores)

    def kernel_probes(self, sample_docs: int = 120) -> tuple[dict, float]:
        """In-process kernel timings over a seeded sample of this input,
        plus exact span and failure counts over all of it; and the kernel
        seconds for the whole input, extrapolated from the sample."""
        from readur_spark.kernels.extractor import extract_document
        from readur_spark.kernels.htmlmain import extract_main_content
        from readur_spark.kernels.quality import validate_ocr_quality
        from readur_spark.kernels.textnorm import clean_extracted_text, plain_text_read, repair_hyphenation
        from readur_spark.kernels.wordcount import count_words_safely_office

        def textnorm(t):
            content, err = plain_text_read(t)
            if err is None:
                clean_extracted_text(repair_hyphenation(content))

        rng = random.Random(f"probe:{self.name}:{self.seed}")
        idx = sorted(rng.sample(range(self.n_docs), min(sample_docs, self.n_docs)))
        doc_us, html_us, norm_us, wc_us, q_us = [], [], [], [], []
        html_bytes = 0
        for i in idx:
            _, spans = self.docs[i]
            doc_us.append(_us(extract_document, spans))
            for s in spans:
                if s["kind"] == "html":
                    html_us.append(_us(extract_main_content, s["text"]))
                    html_bytes += len(s["text"].encode("utf-8"))
                elif s["kind"] == "text":
                    norm_us.append(_us(textnorm, s["text"]))
            combined = "\n\n".join(x["text"] for x in self.expected[i]["spans"] if x["kind"] == "text")
            wc_us.append(_us(count_words_safely_office, combined))
            wc = count_words_safely_office(combined)
            if combined:
                q_us.append(_us(validate_ocr_quality, combined, 100.0, wc))
        m = {
            "kernels.extractor.doc_us_p50": statistics.median(doc_us),
            "kernels.extractor.doc_us_p99": pct(doc_us, 99),
            "kernels.htmlmain.span_us_p50": statistics.median(html_us) if html_us else 0.0,
            "kernels.htmlmain.span_us_p99": pct(html_us, 99),
            "kernels.htmlmain.mb_per_s": (html_bytes / 1e6) / (sum(html_us) / 1e6) if html_us else 0.0,
            "kernels.textnorm.span_us_p50": statistics.median(norm_us) if norm_us else 0.0,
            "kernels.wordcount.doc_us_p50": statistics.median(wc_us),
            "kernels.quality.doc_us_p50": statistics.median(q_us) if q_us else 0.0,
            "kernels.extractor.spans_in": float(sum(len(s) for _, s in self.docs)),
            "kernels.extractor.spans_out": float(sum(len(e["spans"]) for e in self.expected)),
        }
        for reason in FAILURE_REASONS:
            m[f"kernels.extractor.failure_reason.{reason}"] = float(
                sum(1 for e in self.expected if e["failure_reason"] == reason)
            )
        return m, statistics.fmean(doc_us) / 1e6 * self.n_docs

    def transport_probes(self, spark, shuffled, out_schema) -> dict:
        """Noop-sink probes over the shuffled input: the identity through
        pandas and through Arrow with the operator's output columns."""
        from pyspark.sql import functions as F

        src = shuffled.select("doc_id", F.col("spans").cast(out_schema["spans"].dataType).alias("spans"))
        t_pd = timed_median(spark, "probe.transport_pandas", lambda: noop(src.mapInPandas(identity_pandas, out_schema)))
        t_ar = timed_median(spark, "probe.transport_arrow", lambda: noop(src.mapInArrow(identity_arrow, out_schema)))
        return {"pandas": t_pd, "arrow": t_ar}

    def job(self, spark, df, i):
        t0 = time.perf_counter()
        got = oracle.collect_digests(oracle.extracted_digest_df(self._plan(df)))
        dt = time.perf_counter() - t0
        info = {}
        if i == 0:
            info["fingerprints"] = {"extract_spans": plan_fingerprint(oracle.extracted_digest_df(self._plan(df)))}
        return dt, got, info

    def probes(self, spark, df, ctx):
        from readur_spark.operators.extract import EXTRACTED_SCHEMA, plan_partitions

        m, kernel_s = self.kernel_probes()
        t_plan, shuffled = timed(spark, "probe.plan_partitions", lambda: plan_partitions(df, self.cores))
        t_shuffle = timed_median(spark, "probe.shuffle", lambda: noop(shuffled))
        tr = self.transport_probes(spark, shuffled, EXTRACTED_SCHEMA)
        components = [
            (c, c.run_component(spark, ctx))
            for c in (
                MixedCkpt(self.seed, os.path.join(self.work, "pipeline"), self.cores),
                BinaryFiles(self.seed, os.path.join(self.work, "binary"), self.cores),
            )
        ]
        log = ctx["log"]()
        stage_s = ctx["median"](lambda g: log.summary(g)["python_stage_s"])
        m.update({
            "operators.extract.plan_partitions_s": t_plan,
            "operators.extract.shuffle_s": max(0.0, t_shuffle - ctx["scan_s"]),
            "operators.extract.shuffle_write_mb": statistics.median(
                log.summary(f"probe.shuffle.{r}")["shuffle_write_mb"] for r in range(3)
            ),
            "operators.extract.transport_pandas_s": max(0.0, tr["pandas"] - t_shuffle),
            "operators.extract.transport_arrow_s": max(0.0, tr["arrow"] - t_shuffle),
            "operators.extract.stage_s": stage_s,
            "operators.extract.task_max_over_median": ctx["median"](lambda g: log.summary(g)["task_max_over_median"]),
            "kernels.extractor.share_of_wall": kernel_s / (self.cores * stage_s) if stage_s else 0.0,
        })
        for c, jobs in components:
            m.update(c.component_metrics(spark, jobs, log, ctx))
        return m


class _Component:
    """A workload driven from another workload's traced run: a couple of
    jobs in job groups ``<name>-<r>``, each checked against the oracle."""

    component_jobs = 2

    def run_component(self, spark, ctx) -> list[dict]:
        self.generate()
        self.build_oracle()
        self.df = self.load(spark)
        want = self.want(spark)
        jobs = []
        for r in range(self.component_jobs):
            group = f"{self.name}-{r}"
            secs, got, info = timed(spark, group, lambda: self.job(spark, self.df, r))[1]
            ctx["check"](self.n_docs, oracle.compare(got, want, self.one_row_per_doc))
            ctx["fingerprints"].update(info.get("fingerprints", {}))
            jobs.append({"group": group, "seconds": secs, "info": info})
        return jobs

    def component_metrics(self, spark, jobs, log, ctx) -> dict:
        raise NotImplementedError


class MixedCkpt(_Component, _Interleaved):
    """Checkpointed pipeline over many short text/media spans per document
    with rare HTML and ~1% mega-docs: transport, partition skew and the
    stage/commit/lineage write path dominate."""

    name = "mixed_ckpt"

    n_docs_generated = 800
    num_partitions = 16
    batch_partitions = 8  # two commit chunks per run

    def make_docs(self):
        return gen.mixed_docs(self.seed, self.n_docs_generated)

    def job(self, spark, df, i):
        from readur_spark.plans.pipeline import run_extraction

        base = os.path.join(self.work, "jobs", f"{i:03d}")
        out, ckpt = os.path.join(base, "output"), os.path.join(base, "ckpt")
        t0 = time.perf_counter()
        summary = run_extraction(
            spark, df, out, ckpt,
            num_partitions=self.num_partitions, batch_partitions=self.batch_partitions,
        )
        dt = time.perf_counter() - t0
        # reading the output back is not part of the job: keep its scans out
        # of the job group the pipeline's phases are attributed from
        spark.sparkContext.setJobGroup("check", "check")
        got = oracle.collect_digests(oracle.extracted_digest_df(spark.read.parquet(out)))
        files, size = dir_stats(out)
        info = {
            "batches": summary["batches"], "files": files, "bytes": size, "paths": (out, ckpt),
            "partition_ms": [
                r[0]
                for r in spark.read.parquet(ckpt).filter("status = 'completed'").select("processing_time_ms").collect()
            ],
        }
        shutil.rmtree(base, ignore_errors=True)
        return dt, got, info

    def run_component(self, spark, ctx):
        from readur_spark.operators.extract import extract_spans

        jobs = super().run_component(spark, ctx)
        self.noop_extract_s = timed_median(spark, "probe.pipeline_extract_noop", lambda: noop(extract_spans(self.df)), 2)
        return jobs

    def component_metrics(self, spark, jobs, log, ctx):
        ctx["fingerprints"].update(sql_fingerprints(log, jobs[0]["group"], "run_extraction"))

        def med(fn):
            return statistics.median(fn(j) for j in jobs)

        def phase(name):
            def one(j):
                out, ckpt = j["info"]["paths"]
                phases = {"stage_input": ckpt + "_staged", "extract_commit": out, "checkpoint_append": ckpt}
                return log.attribute_writes(j["group"], phases, ("lineage_read", out)).get(name, 0.0)

            return med(one)

        last = jobs[-1]["info"]
        part_ms = last["partition_ms"]
        job_s = med(lambda j: j["seconds"])
        return {
            "plans.pipeline.docs_per_s": self.n_docs / job_s,
            "plans.pipeline.stage_input_s": phase("stage_input"),
            "plans.pipeline.extract_commit_s": phase("extract_commit"),
            "plans.pipeline.lineage_read_s": phase("lineage_read"),
            "plans.checkpoint.append_s": phase("checkpoint_append"),
            "plans.pipeline.overhead_ratio": job_s / self.noop_extract_s,
            "plans.pipeline.task_max_over_median": med(lambda j: log.summary(j["group"])["task_max_over_median"]),
            "plans.pipeline.partition_ms_p50": statistics.median(part_ms),
            "plans.pipeline.partition_ms_p99": pct(part_ms, 99),
            "plans.pipeline.partition_ms_max": float(max(part_ms)),
            "plans.pipeline.files_written": float(last["files"]),
            "plans.pipeline.output_mb": last["bytes"] / 1e6,
            "plans.pipeline.chunks": float(last["batches"]),
        }


# --------------------------------------------------------------------------
# curate_dedup
# --------------------------------------------------------------------------


class CurateDedup(Workload):
    """``curate`` over a flat corpus with planted duplicates. A job takes
    longer than a run's ``--seconds``, so the untraced run times one job:
    the first ``curate`` in the JVM, as a batch job runs it. About half of
    it is first-run plan compilation and JIT warm-up; later curates in the
    same JVM (the traced run's) take half as long."""

    name = "curate_dedup"
    one_row_per_doc = False

    n_groups = 300

    def generate(self):
        self.rows, self.plant = gen.curate_corpus(self.seed, self.n_groups)
        self.n_docs = len(self.rows)
        table = pa.table({"doc_id": [r[0] for r in self.rows], "text": [r[1] for r in self.rows]})
        self._write_input(table, self.cores)

    def build_oracle(self):
        self.expected = oracle.curate_oracle(self.rows, self.plant)
        oracle.write_parquet(self.expected, oracle.CHUNK_ORACLE_SCHEMA, self.oracle_path)

    def want(self, spark):
        want = {str(doc_id): [] for doc_id, _ in self.rows}
        want.update(oracle.collect_digests(oracle.chunk_digest_df(spark.read.parquet(self.oracle_path))))
        recorded = oracle.recorded_output(self.name, self.seed)
        if recorded is not None and recorded != oracle.output_digest(want):
            raise RuntimeError(
                f"the {self.name} oracle for seed {self.seed} no longer matches the output recorded for it"
            )
        return want

    def job(self, spark, df, i):
        from readur_spark.plans.curation import curate

        t0 = time.perf_counter()
        chunks, metrics = curate(df)
        got = oracle.collect_digests(oracle.chunk_digest_df(chunks))
        dt = time.perf_counter() - t0
        info = {"funnel": metrics}
        if i == 0:
            # curate checkpoints every stage, so its last plan starts from
            # the near-dedup survivors
            info["fingerprints"] = {"curate.chunks": plan_fingerprint(oracle.chunk_digest_df(chunks))}
        return dt, got, info

    def probes(self, spark, df, ctx):
        """Each stage's public call alone, in ``curate``'s order, on the
        previous stage's checkpointed output."""
        from pyspark.sql import functions as F

        from readur_spark.functions.textstats import gopher_flags_cols, lang_id_col, quality_score_col
        from readur_spark.operators import dedup
        from readur_spark.operators.extract import chunk_texts

        def ckpt(frame):
            return frame.localCheckpoint(eager=True)

        text_df = ckpt(df.select("doc_id", "text"))

        def quality():
            analyzed = text_df.select(
                "doc_id", "text",
                lang_id_col(F.col("text")).alias("lang"),
                quality_score_col(F.col("text")).alias("quality"),
                *gopher_flags_cols(F.col("text")),
            )
            kept = analyzed.filter(F.col("quality") >= 0.0).filter(F.col("gopher_pass"))
            return ckpt(kept.select("doc_id", "text", "lang", "quality"))

        t_q, filtered = timed(spark, "probe.quality", quality)
        t_e, exact = timed(spark, "probe.exact", lambda: ckpt(dedup.dedup_keep_first(filtered)))
        t_m, pairs = timed(spark, "probe.minhash", lambda: ckpt(dedup.minhash_lsh_pairs(exact, threshold=0.5, n=3)))
        t_c, curated = timed(spark, "probe.cluster", lambda: ckpt(dedup.dedup_cluster_keep_first(exact, pairs)))
        t_k, _ = timed(spark, "probe.chunk", lambda: noop(chunk_texts(curated, chunk_words=128, overlap_words=32)))
        n_pairs = pairs.count()
        funnel = ctx["infos"][ctx["groups"][-1]]["funnel"]
        removed = funnel["after_exact_dedup"] - funnel["after_near_dedup"]
        m = {
            "plans.curation.quality_s": t_q,
            "operators.dedup.exact_s": t_e,
            "operators.dedup.minhash_pairs_s": t_m,
            "operators.dedup.cluster_s": t_c,
            "operators.extract.chunk_texts_s": t_k,
            "operators.dedup.pairs": float(n_pairs),
            "operators.dedup.removed_near": float(removed),
            "operators.dedup.pairs_per_removed": n_pairs / removed if removed else 0.0,
        }
        for stage in CURATION_FUNNEL:
            m[f"plans.curation.funnel.{stage}"] = float(funnel.get(stage, 0))
        return m


CURATION_FUNNEL = ("input_docs", "after_quality_filter", "after_exact_dedup", "after_near_dedup", "chunks")


# --------------------------------------------------------------------------
# binary_files
# --------------------------------------------------------------------------

BINARY_REPORTED_KINDS = ("pdf", "pdf_2col", "pdf_imageonly", "docx", "xlsx", "html", "text")


class BinaryFiles(_Component, Workload):
    """Generated PDF (one/two-column, image-only), DOCX, XLSX, HTML and
    text files with a few corrupt or unsupported ones: the PDF/layout and
    Office paths run nowhere else."""

    name = "binary_files"

    n_docs_generated = 360

    def generate(self):
        self.files = gen.binary_files(self.seed, self.n_docs_generated)
        self.n_docs = len(self.files)
        table = pa.table({
            "doc_id": [f[0] for f in self.files],
            "filename": [f[1] for f in self.files],
            "content": pa.array([f[2] for f in self.files], pa.binary()),
        })
        self._write_input(table, self.cores)

    def build_oracle(self):
        self.expected = oracle.binary_oracle(self.files)
        oracle.write_parquet(self.expected, oracle.EXTRACTED_ORACLE_SCHEMA, self.oracle_path)

    def job(self, spark, df, i):
        from readur_spark.operators.binary_extract import extract_files

        t0 = time.perf_counter()
        got = oracle.collect_digests(oracle.extracted_digest_df(extract_files(df)))
        dt = time.perf_counter() - t0
        info = {}
        if i == 0:
            info["fingerprints"] = {"extract_files": plan_fingerprint(oracle.extracted_digest_df(extract_files(df)))}
        return dt, got, info

    def component_metrics(self, spark, jobs, log, ctx):
        from readur_spark.kernels.mime import detect_mime
        from readur_spark.operators.binary_extract import extract_one

        rng = random.Random(f"probe:{self.name}:{self.seed}")
        by_kind: dict[str, list] = {}
        for f in self.files:
            by_kind.setdefault(f[3], []).append(f)
        m = {"operators.binary_extract.docs_per_s": self.n_docs / statistics.median(j["seconds"] for j in jobs)}
        detect = []
        for kind in BINARY_REPORTED_KINDS:
            sample = rng.sample(by_kind.get(kind, []), min(20, len(by_kind.get(kind, []))))
            us = [_us(extract_one, d, name, data) for d, name, data, _ in sample]
            detect += [_us(detect_mime, data, name) for _, name, data, _ in sample]
            m[f"operators.binary_extract.file_us_p50.{kind}"] = statistics.median(us) if us else 0.0
        m["kernels.mime.detect_us_p50"] = statistics.median(detect)
        for status in ("completed", "failed"):
            m[f"operators.binary_extract.status.{status}"] = float(
                sum(1 for e in self.expected if e["status"] == status)
            )
        return m


#: the timed workloads; ``MixedCkpt`` and ``BinaryFiles`` run inside web_html's traced run
WORKLOADS = {w.name: w for w in (WebHtml, CurateDedup)}
