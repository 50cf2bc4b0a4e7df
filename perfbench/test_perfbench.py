"""Tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of the repository. The Spark-backed tests start one
local session on two cores; pass ``--basetemp`` to keep pytest's own
temporary files in a directory of your choice.
"""

from __future__ import annotations

import ast
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, oracle, record  # noqa: E402

# --------------------------------------------------------------------------
# Generators
# --------------------------------------------------------------------------


def test_generators_are_seeded():
    assert gen.web_html_docs(3, 4) == gen.web_html_docs(3, 4)
    assert gen.web_html_docs(3, 4) != gen.web_html_docs(4, 4)
    assert gen.mixed_docs(3, 50) == gen.mixed_docs(3, 50)
    assert gen.curate_corpus(3, 40) == gen.curate_corpus(3, 40)
    assert gen.binary_files(3, 30) == gen.binary_files(3, 30)


def test_generators_import_nothing_from_the_program():
    tree = ast.parse(open(os.path.join(ROOT, "perfbench", "gen.py")).read())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            imported.add(node.module or "")
    assert not any(m.startswith("readur_spark") for m in imported), imported


def test_web_html_shape():
    for doc_id, spans in gen.web_html_docs(5, 10):
        kinds = sorted(s["kind"] for s in spans)
        assert kinds.count("text") == 1 and kinds.count("media") == 1
        assert 1 <= kinds.count("html") <= 3
        assert sorted(s["offset"] for s in spans) == list(range(len(spans)))
        for s in spans:
            if s["kind"] == "html":
                assert 5_000 <= len(s["text"]) <= 32_000
                assert "<nav" in s["text"] and "<script" in s["text"]


def test_mixed_docs_have_mega_docs():
    docs = gen.mixed_docs(5, 300)
    sizes = sorted(len(s) for _, s in docs)
    assert sizes[-1] >= 1500 and sizes[len(sizes) // 2] <= 20


def test_curate_plant_covers_every_row():
    rows, plant = gen.curate_corpus(5, 200)
    ids = sorted(i for g in plant["groups"] for i in g)
    assert ids == [r[0] for r in rows] == list(range(1, len(rows) + 1))
    assert max(len(g) for g in plant["groups"]) >= 30  # a large duplicate group
    text = dict(rows)
    short = [g for g, is_short in zip(plant["groups"], plant["short"]) if is_short]
    assert short and all(len(text[i].split()) < 50 for g in short for i in g)  # the Gopher minimum
    kept = [g for g, is_short in zip(plant["groups"], plant["short"]) if not is_short]
    for g in kept:
        for i in g:
            words = set(re.findall(r"[a-z]+", text[i].lower()))
            assert len(text[i].split()) >= 50 and len(words & set(gen.GOPHER_STOPWORDS)) >= 2


# --------------------------------------------------------------------------
# Oracle
# --------------------------------------------------------------------------


def test_chunk_windows():
    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    assert oracle.chunk_words("  ") == []
    assert [(c, n) for c, _, n in oracle.chunk_words(words(5))] == [(0, 5)]
    assert [(c, n) for c, _, n in oracle.chunk_words(words(128))] == [(0, 128)]
    assert [(c, n) for c, _, n in oracle.chunk_words(words(129))] == [(0, 128), (1, 33)]
    assert [(c, n) for c, _, n in oracle.chunk_words(words(224))] == [(0, 128), (1, 128)]
    second = oracle.chunk_words(words(300))[1][1].split()
    assert second[0] == "w96" and len(second) == 128


def test_curate_oracle_keeps_smallest_id_and_drops_short():
    rows = [(1, "a " * 60), (2, "b " * 60), (3, "b " * 60), (4, "c " * 10)]
    plant = {"groups": [[1], [3, 2], [4]], "short": [False, False, True]}
    assert sorted({r["doc_id"] for r in oracle.curate_oracle(rows, plant)}) == [1, 2]


def test_output_digest_ignores_docs_without_rows():
    want = {"1": [(0, 5, 7)], "2": []}
    assert oracle.output_digest(want) == oracle.output_digest({"1": [(0, 5, 7)]})
    assert oracle.output_digest(want) != oracle.output_digest({"1": [(0, 5, 8)]})


def test_compare_classifies_failures():
    want = {"a": [(1,)], "b": [(2,)], "c": [(3,)], "d": []}
    got = {"a": [(1,)], "b": [(2,), (2,)], "e": [(5,)], "d": []}
    res = oracle.compare(got, want, one_row_per_doc=True)
    assert res["counts"] == {"duplicated": 1, "missing": 1, "unexpected": 1}
    assert res["failed"] == 3


# --------------------------------------------------------------------------
# Event log and plan fingerprints
# --------------------------------------------------------------------------


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_eventlog_groups_stages_tasks_and_sql(tmp_path):
    out = "/data/run/output"
    lines = [
        _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", executionId=7, time=1000,
               physicalPlanDescription="== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (3)\n"
               "+- WriteFiles (2)\n\n(3) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
               f"Arguments: file:{out}, false, [partition_id#1], Parquet, [path={out}], Overwrite\n"),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [3, 4],
               "Properties": {"spark.jobGroup.id": "g1", "spark.sql.execution.id": "7"}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 4, "Stage Attempt ID": 0,
               "Task Info": {"Launch Time": 100, "Finish Time": 300, "Attempt": 0},
               "Task Metrics": {"Executor Run Time": 190, "JVM GC Time": 10, "Disk Bytes Spilled": 2_000_000,
                                "Shuffle Write Metrics": {"Shuffle Bytes Written": 5_000_000}}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 4, "Stage Attempt ID": 0,
               "Task Info": {"Launch Time": 100, "Finish Time": 900, "Attempt": 1},
               "Task Metrics": {"Executor Run Time": 790, "JVM GC Time": 0}}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {
               "Stage ID": 4, "Stage Attempt ID": 0, "Submission Time": 50, "Completion Time": 1050,
               "RDD Info": [{"Scope": '{"id":"3","name":"MapInPandas"}'}]}}),
        _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd", executionId=7, time=3500),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(lines) + "\n")
    log = eventlog.EventLog(str(path))
    s = log.summary("g1")
    assert (s["stages"], s["tasks"], s["retried_tasks"]) == (1, 2, 1)
    assert s["task_s"] == pytest.approx(0.98) and s["gc_s"] == pytest.approx(0.01)
    assert s["shuffle_write_mb"] == pytest.approx(5.0) and s["spill_mb"] == pytest.approx(2.0)
    assert s["python_stage_s"] == pytest.approx(1.0) and s["task_max_over_median"] == pytest.approx(800 / 500)
    phases = log.attribute_writes("g1", {"commit": out, "append": "/data/run/ckpt"}, ("read", out))
    assert phases == {"commit": pytest.approx(2.5)}
    assert log.summary("other")["stages"] == 0


def test_plan_normalization_strips_volatile_ids():
    a = (
        "MapInPandas (3)\n+- Exchange (2)\n\n(2) Exchange\nArguments: hashpartitioning(xxhash64(doc_id#12), 4), "
        "[plan_id=41]\n(3) MapInPandas [codegen id : 2]\nInput [2]: [doc_id#12, spans#13L]"
    )
    b = (
        "MapInPandas (7)\n+- Exchange (6)\n\n(6) Exchange\nArguments: hashpartitioning(xxhash64(doc_id#98), 4), "
        "[plan_id=7]\n(7) MapInPandas [codegen id : 5]\nInput [2]: [doc_id#98, spans#99L]"
    )
    assert record.text_fingerprint(a) == record.text_fingerprint(b)
    assert record.text_fingerprint(a) != record.text_fingerprint(a.replace("4)", "8)"))
    assert record.text_fingerprint(a) != record.text_fingerprint(a.replace("Exchange (2)", "Sort (2)"))


# --------------------------------------------------------------------------
# BENCHMARK.json
# --------------------------------------------------------------------------


def test_benchmark_json_matches_the_harness():
    from perfbench.run import UNITS
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == UNITS
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])


# --------------------------------------------------------------------------
# Spark-backed: the digest comparison catches one dropped or reordered span
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import _isolate, _shutdown_jvm
    from readur_spark.session import get_spark

    work = tmp_path_factory.mktemp("perfbench")
    _isolate(str(work))
    s = get_spark(cores=2, app_name="perfbench-test", extra_conf={"spark.local.dir": str(work / "spark-local")})
    yield s
    _shutdown_jvm()


def _digests(spark, rows, path):
    oracle.write_parquet(rows, oracle.EXTRACTED_ORACLE_SCHEMA, path)
    return oracle.collect_digests(oracle.extracted_digest_df(spark.read.parquet(path)))


def test_dropped_or_reordered_span_is_detected(spark, tmp_path):
    docs = gen.mixed_docs(11, 6, mega_share=0.0)
    expected = oracle.extraction_oracle(docs)
    assert all(len(e["spans"]) >= 2 for e in expected[:2])
    want = _digests(spark, expected, str(tmp_path / "want.parquet"))

    dropped = [dict(e, spans=list(e["spans"])) for e in expected]
    dropped[0]["spans"].pop()
    got = _digests(spark, dropped, str(tmp_path / "dropped.parquet"))
    assert oracle.compare(got, want, True) == {"failed": 1, "counts": {"different": 1}, "failed_ids": [expected[0]["doc_id"]]}

    reordered = [dict(e, spans=list(e["spans"])) for e in expected]
    s = reordered[1]["spans"]
    s[0], s[1] = s[1], s[0]
    got = _digests(spark, reordered, str(tmp_path / "reordered.parquet"))
    assert oracle.compare(got, want, True)["failed_ids"] == [expected[1]["doc_id"]]

    assert oracle.compare(_digests(spark, expected, str(tmp_path / "same.parquet")), want, True)["failed"] == 0


def test_program_output_matches_the_oracle(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from readur_spark.operators.extract import extract_spans
    from perfbench.workloads import _DOCS_SCHEMA

    docs = gen.web_html_docs(12, 6)
    pq.write_table(pa.Table.from_pylist([{"doc_id": d, "spans": s} for d, s in docs], schema=_DOCS_SCHEMA),
                   str(tmp_path / "in.parquet"))
    want = _digests(spark, oracle.extraction_oracle(docs), str(tmp_path / "want.parquet"))
    out = extract_spans(spark.read.parquet(str(tmp_path / "in.parquet")), num_partitions=2)
    got = oracle.collect_digests(oracle.extracted_digest_df(out))
    assert oracle.compare(got, want, True)["failed"] == 0


def test_curate_oracle_reproduces_the_recorded_output(spark, tmp_path):
    from perfbench.workloads import CurateDedup

    w = CurateDedup(1, str(tmp_path), 2)
    w.generate()
    w.build_oracle()
    assert oracle.output_digest(w.want(spark)) == oracle.recorded_output("curate_dedup", 1)
