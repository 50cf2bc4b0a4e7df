"""Benchmark entry point.

    python3 perfbench/run.py --workload web_html --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository (it need not be a git
repository). The run

1. generates the workload's input from ``--seed`` and computes its oracle
   (neither is timed);
2. sets up ``1 + WARM_SETUPS`` times: start a SparkSession on
   ``local[<cores>]`` through the program's ``get_spark``, load the input
   into a cached DataFrame, warm the Python workers. The first, cold set-up
   also launches the JVM (``setup.cold_s`` of the traced run); the others
   start a new SparkSession on that JVM. ``setup_s`` is the median of these
   warm set-ups;
3. in the last session, submits one batch job at a time (a closed loop with
   one client) until ``--seconds`` have passed. ``docs_per_s`` is the median
   over the jobs, ``peak_rss_mb`` the median over the jobs of the peak
   summed RSS of the JVM and the Python workers while the job runs;
4. checks every job's output against the oracle: ``correct_share`` is
   ``1 - failed_share``, the share of attempted documents whose output was
   missing, duplicated or different.

With ``--trace 1`` the run reports the ``per_layer`` metrics that
``BENCHMARK.json`` lists instead. Its first session runs one untimed job and
then untraced jobs for a third of ``--seconds``; its second, with the Spark
event log on and every call in its own job group, runs traced jobs for a
third and then the probes; its third runs untraced jobs again.
``trace.overhead_share`` compares the traced jobs with the untraced ones.

Every run also times two fixed calibration loops, one in pure Python and
one in the JVM, before and after its timed jobs (``calibration`` in the
record, ``host.*`` in the traced run). They do not enter any end-to-end
metric; they show whether the host itself ran slower or faster during a run
than during another.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The lines before it print each metric with its unit, ``failed_share``, and a
record of the run (host, load before and after, library versions, program
commit or source digest, JVM heap, calibration, plan fingerprints,
per-session and per-job figures), which is also written under
``.perfbench_out/``. Every file the run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set-ups per run on an already launched JVM; ``setup_s`` is their median.
#: An untraced run times its jobs in the last one
WARM_SETUPS = 3
#: JVM heap for every session (the program's SPARK_DRIVER_MEMORY setting).
#: It overrides any inherited value, and the record holds the heap in effect
JVM_HEAP = "1g"

UNITS = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "correct_share": "fraction",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _isolate(work: str) -> None:
    """Keep every temporary file of this run (Python, JVM, Spark) inside
    ``work``, and make the program importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["_JAVA_OPTIONS"] = (os.environ.get("_JAVA_OPTIONS", "") + " " + java).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # get_spark's default JVM heap (16g) lets the JVM grow its heap as
    # far as GC pacing takes it: curate_dedup's peak RSS then spread by a
    # third from one run to the next, by a fifth with 4g and by an eighth
    # with 2g. 1g holds the spread near 6% with no loss of speed on these
    # inputs, and keeps the run small on a shared host. peak_rss_mb is
    # therefore the footprint at a 1g heap, not at the program's default
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP


class Session:
    """One SparkSession from the program's ``get_spark``, set up and timed."""

    def __init__(self, w, cores: int, work: str, event_log: bool):
        from readur_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if event_log:
            self.log_dir = os.path.join(work, "events")
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(cores=cores, app_name=f"perfbench-{w.name}", extra_conf=conf)
        t1 = time.perf_counter()
        self.df = w.load(self.spark)
        t2 = time.perf_counter()
        w.warm(self.spark, self.df)
        t3 = time.perf_counter()
        self.setup = {"session_s": t1 - t0, "load_s": t2 - t1, "warmup_s": t3 - t2, "total_s": t3 - t0}
        # start the timed jobs from a collected heap: G1 shrinks it after a
        # full collection, so set-up garbage does not count toward peak RSS
        self.spark.sparkContext._jvm.System.gc()

    def stop(self) -> None:
        self.spark.stop()


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it and every other child."""
    from pyspark import SparkContext

    from perfbench.procstat import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while True:  # reap
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def _timed_jobs(w, sess, seconds: float, first: int, group_prefix: str | None) -> list[dict]:
    """Closed loop with one client: submit a job, wait, repeat until this
    session's share of the run is used."""
    from perfbench.procstat import RssSampler, host_cpu_ticks, tree_cpu_seconds

    jobs = []
    sampler = RssSampler(os.getpid()).start()
    steal0, ticks0 = host_cpu_ticks()
    cpu0, wall0 = tree_cpu_seconds(os.getpid()), time.perf_counter()
    i = first
    while True:
        group = f"{group_prefix}{i}" if group_prefix else "timed"
        sess.spark.sparkContext.setJobGroup(group, group)
        sampler.window()
        t_job = time.perf_counter()
        try:
            secs, got, info = w.job(sess.spark, sess.df, i)
            error = None
        except Exception:  # a job that raises fails all its documents
            secs, got, info, error = time.perf_counter() - t_job, {}, {}, traceback.format_exc(limit=5)
        jobs.append({"i": i, "group": group, "seconds": secs, "got": got, "info": info, "error": error,
                     "job_rss_mb": sampler.window()})
        i += 1
        if error or time.perf_counter() - wall0 >= seconds:
            break
    wall = time.perf_counter() - wall0
    cpu = tree_cpu_seconds(os.getpid()) - cpu0
    steal1, ticks1 = host_cpu_ticks()
    peak = sampler.stop()
    split = {k: v / (1024 * 1024) for k, v in sampler.peak_split.items()}
    for j in jobs:
        j.update({
            "session_peak_rss_mb": peak,
            "session_peak_rss_split_mb": split,
            "cpu_util": cpu / (wall * w.cores),
            "host_steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
        })
    return jobs


def _sessions(seconds: float, trace: bool) -> list[tuple[bool, float, bool]]:
    """(one untimed warm-up job first, seconds of timed jobs, traced) for
    each session of a run."""
    if trace:
        # the cold session warms the job's code paths with one untimed job,
        # then untraced jobs; the traced session (jobs, then probes) sits
        # between two untraced ones, because the JVM keeps getting faster
        # over a run and trace.overhead_share must not count that as the
        # cost of tracing
        third = seconds / 3
        return [(True, third, False), (False, third, True), (False, third, False)]
    # the cold set-up, which launches the JVM, then WARM_SETUPS set-ups on
    # that JVM; the jobs run in the last one
    return [(False, 0.0, False)] * WARM_SETUPS + [(False, seconds, False)]


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, as ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import oracle, record
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cores = _cores()
    w = WORKLOADS[args.workload](args.seed, work, cores)
    rec = {"workload": w.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
           "host": record.host_info(ROOT, cores)}
    calib = rec["calibration"] = {"py_before_ms": record.py_calibration_ms()}
    t0 = time.perf_counter()
    w.generate()
    w.build_oracle()
    rec["generate_and_oracle_s"] = time.perf_counter() - t0
    rec["n_docs"], rec["input_mb"] = w.n_docs, w.input_bytes / 1e6

    setups, jobs, probes, probe_checks = [], [], {}, []
    rec["plan_fingerprints"] = {}
    plan = _sessions(args.seconds, bool(args.trace))
    for s, (warm_job, seconds, traced) in enumerate(plan):
        sess = Session(w, cores, work, event_log=traced)
        setups.append(sess.setup)
        if s == 0:
            rec["input_partitions"] = sess.df.rdd.getNumPartitions()
            rec["host"]["jvm_heap"] = record.jvm_heap(sess.spark)
        if seconds and "jvm_before_ms" not in calib:
            calib["jvm_before_ms"] = record.jvm_calibration_ms(sess.spark, cores)
            sess.spark.sparkContext._jvm.System.gc()
        batch = []
        if warm_job:
            batch += _timed_jobs(w, sess, 0.0, len(jobs), None)
            for j in batch:
                j["warm"] = True
        if seconds:
            batch += _timed_jobs(w, sess, seconds, len(jobs) + len(batch), "timed-" if traced else None)
        for j in batch:
            j.setdefault("warm", False)
            j["session"], j["traced"] = s, traced
            rec["plan_fingerprints"].update(j["info"].get("fingerprints", {}))
        jobs += batch
        if traced and not any(j["error"] for j in jobs):
            probes = _probes(w, sess, batch, probe_checks, rec["plan_fingerprints"])
        if s == len(plan) - 1:
            calib["jvm_after_ms"] = record.jvm_calibration_ms(sess.spark, cores)
            want = w.want(sess.spark)
        sess.stop()
    _shutdown_jvm()
    calib["py_after_ms"] = record.py_calibration_ms()

    # -- correctness: every job against the oracle --------------------------
    attempted = failed = 0
    rec["checks"] = []
    for j in jobs:
        attempted += w.n_docs
        if j["error"]:
            failed += w.n_docs
            rec["checks"].append({"job": j["i"], "error": j["error"]})
            continue
        cmp = oracle.compare(j["got"], want, w.one_row_per_doc)
        failed += cmp["failed"]
        if cmp["failed"]:
            rec["checks"].append({"job": j["i"], **cmp})
    for n, cmp in probe_checks:
        attempted += n
        failed += cmp["failed"]
        if cmp["failed"]:
            rec["checks"].append({"probe": True, **cmp})
    rec["setups"] = setups
    rec["jobs"] = [{k: v for k, v in j.items() if k not in ("got", "info")} for j in jobs]
    rec["host"]["loadavg_after"] = list(os.getloadavg())

    def dps(js):
        return statistics.median(w.n_docs / j["seconds"] for j in js) if js else 0.0

    ok = [j for j in jobs if not j["error"] and not j["warm"]]
    failed_share = failed / attempted
    rec["failed_share"] = failed_share
    rec["output_sha256"] = oracle.output_digest(ok[0]["got"]) if ok else None
    if not args.trace:
        metrics = {
            "docs_per_s": dps(ok),
            # the warm set-ups; the cold one also launched the JVM
            "setup_s": statistics.median(s["total_s"] for s in setups[1:]),
            # per job, then the median: the JVM grows its heap lazily over a
            # run, so the peak of the whole run would grow with the number
            # of jobs that fit in it
            "peak_rss_mb": statistics.median(j["job_rss_mb"] for j in ok) if ok else 0.0,
            "correct_share": 1.0 - failed_share,
        }
        units = UNITS
    else:
        untraced, traced = dps([j for j in ok if not j["traced"]]), dps([j for j in ok if j["traced"]])
        found = {
            "trace.docs_per_s": traced,
            "trace.overhead_share": (1.0 - traced / untraced) if untraced else 0.0,
            "setup.cold_s": setups[0]["total_s"],
            "setup.session_s": setups[-1]["session_s"],
            "setup.load_s": setups[-1]["load_s"],
            "setup.warmup_s": setups[-1]["warmup_s"],
            # the mean of the timings before and after the jobs
            "host.py_calibration_ms": (calib["py_before_ms"] + calib["py_after_ms"]) / 2,
            "host.jvm_calibration_ms": (calib["jvm_before_ms"] + calib["jvm_after_ms"]) / 2,
            **probes,
        }
        units = per_layer_units()
        # a layer the workload does not exercise reads 0
        metrics = {name: found.get(name, 0.0) for name in units}
        rec["not_measured"] = sorted(units.keys() - found.keys())
        rec["not_listed"] = sorted(found.keys() - units.keys())
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }, rec


def _probes(w, sess, traced_jobs: list[dict], checks: list, fingerprints: dict) -> dict:
    """Per-layer metrics of the traced session: probes run under their own
    job groups, then the event log attributes stages and SQL executions."""
    from perfbench.eventlog import EventLog
    from perfbench.workloads import noop, sql_fingerprints, timed_median

    spark = sess.spark
    groups = [j["group"] for j in traced_jobs]

    def log():
        # drain the listener bus first: the event-log listener flushes its
        # file when it handles a job end, and handling is asynchronous
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        (name,) = os.listdir(sess.log_dir)
        return EventLog(os.path.join(sess.log_dir, name))

    def median(fn):
        return statistics.median(fn(g) for g in groups)

    scan_s = timed_median(spark, "probe.scan", lambda: noop(sess.df))
    ctx = {
        "scan_s": scan_s,
        "groups": groups,
        "infos": {j["group"]: j["info"] for j in traced_jobs},
        "log": log,
        "median": median,
        "check": lambda n, cmp: checks.append((n, cmp)),
        "fingerprints": fingerprints,
    }
    m = {
        "sources.scan_s": scan_s,
        "sources.input_mb": w.input_bytes / 1e6,
        "proc.cpu_util": traced_jobs[0]["cpu_util"],
    }
    m.update(w.probes(spark, sess.df, ctx))
    final = log()
    fingerprints.update(sql_fingerprints(final, groups[0], w.name))
    for key in ("stages", "tasks", "task_s", "shuffle_write_mb", "spill_mb", "gc_s", "retried_tasks"):
        m[f"spark.{key}"] = median(lambda g: final.summary(g)[key])
    return m


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "readur_spark")):
        print(f"perfbench: the program (readur_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    try:
        result, rec = run(args, work)
    finally:
        _shutdown_jvm()  # also after a failure part-way through a session
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"record": rec, "result": result}, f, indent=1, default=str)
    for name, m in result["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(f"# failed_share = {rec['failed_share']:.6g} fraction")
    print("# record " + json.dumps(rec, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
