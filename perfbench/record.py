"""Run records: host description and plan fingerprints.

Every run records the host it ran on (core count, load average before and
after, library versions, the program's commit or a digest of its sources)
and a fingerprint of each timed plan, so a plan-shape change shows up as a
changed hash instead of a hunch.
"""

from __future__ import annotations

import hashlib
import os
import platform
import re
import statistics
import subprocess
import time

#: older numbers kept in the repository were taken on a different host
HISTORY_NOTE = (
    "BENCH_r0*.json and BENCH_scaling.json were taken on a 32-core host; "
    "they are history, not baselines for this benchmark"
)

# expression ids (#12, #12L), plan ids ([plan_id=3]), operator numbers of
# the formatted tree ("+- Exchange (6)", "(6) Exchange"), codegen stage ids
# and object hashes vary from run to run without the plan changing shape;
# so do the run's own paths
_VOLATILE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[(plan_id|id)=#?\d+\]"), "[id]"),
    (re.compile(r" \(\d+\)$", re.MULTILINE), " (n)"),
    (re.compile(r"^\(\d+\) ", re.MULTILINE), "(n) "),
    (re.compile(r"\*\(\d+\)"), "*(n)"),
    (re.compile(r"codegen id : \d+"), "codegen id : n"),
    (re.compile(r"@[0-9a-f]{4,}"), "@"),
    (re.compile(r"file:[^\s,\]]+"), "file:<path>"),
    (re.compile(r"/[^\s,\]]*\.perfbench_work[^\s,\]]*"), "<path>"),
]


def normalize_plan(text: str) -> str:
    for pat, rep in _VOLATILE:
        text = pat.sub(rep, text)
    return text


def plan_fingerprint(df) -> str:
    """sha256 (first 16 hex digits) of ``explain("formatted")`` with the
    volatile ids stripped."""
    return text_fingerprint(
        df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )


def text_fingerprint(plan_text: str) -> str:
    return hashlib.sha256(normalize_plan(plan_text).encode()).hexdigest()[:16]


def _program_commit(root: str) -> dict:
    commit = None
    if os.path.exists(os.path.join(root, ".git")):
        try:
            out = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            )
            commit = out.stdout.strip() if out.returncode == 0 else None
        except (OSError, subprocess.SubprocessError):
            pass
    # the checkout the benchmark runs in need not be a git repository:
    # a digest of the program's sources identifies the code either way
    h = hashlib.sha256()
    pkg = os.path.join(root, "readur_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def host_info(root: str, cores: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": cores,
        "cpu_count": os.cpu_count(),
        "platform": platform.platform(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "loadavg_before": list(os.getloadavg()),
        **_program_commit(root),
        "history_note": HISTORY_NOTE,
    }


# -- calibration ------------------------------------------------------------
# Two fixed loops that never change with the program. Timed before and after
# a run's jobs, they show whether the host ran at the same speed throughout
# and at the same speed as in another run: a shared host's speed can drift
# by more than any bound the benchmark could set.


def py_calibration_ms(repeats: int = 5) -> float:
    """Median of ``repeats`` timings (ms) of a fixed pure-Python loop."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000.0


def jvm_calibration_ms(spark, cores: int, repeats: int = 3) -> float:
    """Median of ``repeats`` timings (ms) of a fixed Spark job that hashes
    and xors 20M longs in generated JVM code on every core. One untimed run
    first compiles the job, so a timing before a run's jobs and one after
    them measure the same thing."""
    sc = spark.sparkContext
    sc.setJobGroup("calibration", "calibration")
    times = []
    for _ in range(1 + repeats):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, cores).selectExpr("bit_xor(xxhash64(id))").collect()
        times.append(time.perf_counter() - t0)
    sc.setJobGroup("idle", "idle")
    return statistics.median(times[1:]) * 1000.0


def jvm_heap(spark) -> dict:
    """The heap the session's JVM runs with: the configured value and the
    maximum the JVM reports."""
    return {
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "max_heap_mb": spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1024 * 1024),
    }
