"""Tests of the benchmark's own parts: the event-log parser (pinned on a
small recorded log), the output check, the seeded inputs, and the
agreement between BENCHMARK.json and the metrics the benchmark prints.

Run: ``python -m pytest perfbench/test_perfbench.py -q`` (no Spark session
is started).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check, eventlog, inputs, run  # noqa: E402
from perfbench.layers import layer_metrics  # noqa: E402
from perfbench.workloads import LAYERS, SUBMIT_JOBS, WORKLOADS  # noqa: E402

RECORDED_LOG = Path(__file__).with_name("testdata") / "eventlog_small.json"
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


# --- event-log parser ---------------------------------------------------

def test_parser_on_recorded_log():
    # Recorded on 2 local cores: one untagged trivial count, then a tagged
    # shuffle aggregate (perfbench-0-0) and a tagged mapInPandas
    # (perfbench-0-1), trimmed to the events and fields the parser reads.
    stats = eventlog.parse(RECORDED_LOG)
    assert sorted(stats) == ["perfbench-0-0", "perfbench-0-1"]
    agg, udf = stats["perfbench-0-0"], stats["perfbench-0-1"]
    # map stage of 2 tasks, then a 1-task result stage after AQE coalescing
    assert (agg.jobs, agg.stages, agg.tasks, agg.failed_tasks) == (2, 2, 3, 0)
    assert (agg.shuffle_write_b, agg.shuffle_read_b) == (364, 364)
    assert (agg.run_ms, agg.sched_delay_ms, agg.peak_exec_mem_b) == (311, 28, 8650736)
    assert agg.cpu_ns == 199442297
    assert agg.py_run_ms == agg.py_sent_b == 0
    assert agg.job_intervals == [(1792205954092, 1792205954279), (1792205954379, 1792205954435)]
    # the pandas UDF: Python worker SQL metrics summed over its 2 tasks
    assert (udf.jobs, udf.stages, udf.tasks, udf.shuffle_write_b) == (1, 1, 2, 0)
    assert (udf.py_boot_ms, udf.py_init_ms, udf.py_run_ms) == (2202, 667, 3467)
    assert (udf.py_sent_b, udf.py_recv_b) == (1184, 1152)
    assert udf.run_ms == 3996


def test_untagged_jobs_are_not_counted():
    # the recorded log starts with an untagged `spark.range(1).count()`
    lines = RECORDED_LOG.read_text().splitlines()
    starts = [json.loads(l) for l in lines if '"SparkListenerJobStart"' in l]
    tagged = sum(s.jobs for s in eventlog.parse(RECORDED_LOG).values())
    assert len(starts) > tagged


def test_covered_s_merges_overlapping_jobs():
    intervals = [(1000, 3000), (2000, 4000), (6000, 7000), (9000, 12000)]
    # span 2.5 s .. 10 s: covered 2.5-4 and 6-7 and 9-10
    assert eventlog.covered_s(intervals, 2.5, 10.0) == pytest.approx(3.5)
    assert eventlog.covered_s([], 0.0, 5.0) == 0.0


# --- output check -------------------------------------------------------

def test_digest_ignores_row_and_column_order():
    a = check.digest(["k", "v"], [(1, 2.5), (2, None)])
    b = check.digest(["v", "k"], [(None, 2), (2.5, 1)])
    assert a == b
    assert a != check.digest(["k", "v"], [(1, 2.5), (2, 0.0)])
    assert a != check.digest(["k", "v"], [(1, 2.5), (2, None), (2, None)])


def _execution(op, digest, error=None):
    return {"op": op, "digest": digest, "error": error}


def test_one_wrong_result_is_counted_as_failed():
    right = check.digest(["x"], [(1,), (2,)])
    wrong = check.digest(["x"], [(1,), (3,)])
    expected = {"q": right, "r": right}
    executions = [_execution("q", right), _execution("r", right),
                  _execution("q", wrong), _execution("r", right)]
    failed, problems = check.count_failures(executions, expected)
    assert failed == 1
    assert problems == ["q: result differs from its oracle"]


def test_raised_operation_is_counted_as_failed():
    right = check.digest(["x"], [(1,)])
    failed, _ = check.count_failures(
        [_execution("q", None, "Py4JJavaError: boom"), _execution("q", right)],
        {"q": right})
    assert failed == 1


def test_submit_outputs_read_back_against_reference(tmp_path):
    corpus = tmp_path / "text"
    corpus.mkdir()
    (corpus / "part-0000.txt").write_text("abc de abc\nxyz\n")
    (corpus / "part-0001.txt").write_text("de abcd\n")
    out = tmp_path / "out"
    out.mkdir()
    # wc output as Spark writes it: lines spread over part files
    (out / "part-00000-x-c000.txt").write_text("abc 2\nde 2\n")
    (out / "part-00001-x-c000.txt").write_text("xyz 1\nabcd 1\n")
    assert check.read_output(out) == check.expected_output("wc", corpus)
    (out / "part-00001-x-c000.txt").write_text("xyz 1\nabcd 2\n")  # one wrong count
    assert check.read_output(out) != check.expected_output("wc", corpus)


# --- inputs -------------------------------------------------------------

def test_inputs_are_the_tables_the_workloads_read(tmp_path):
    inputs.generate(2, tmp_path / "d")
    written = {p.stem for p in (tmp_path / "d").glob("*.parquet")}
    assert written == {t for spec in WORKLOADS.values() for t in spec.tables}
    assert {c for spec in WORKLOADS.values() for c in spec.corpora} == set(SUBMIT_JOBS.values())


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def tables(seed):
        d = tmp_path / f"s{seed}-{len(list(tmp_path.iterdir()))}"
        inputs.generate(seed, d)
        return {p.relative_to(d): p.read_bytes() for p in d.rglob("*") if p.is_file()}

    first = tables(5)
    assert tables(5) == first
    assert tables(6) != first


def test_corpus_tokens_are_letters_only(tmp_path):
    inputs.corpus(3, tmp_path)
    words = set((tmp_path / "text" / "part-0000.txt").read_text().split())
    assert all(w.isalpha() for w in words)
    assert len(words) > 1000  # many distinct word-count keys


# --- BENCHMARK.json agrees with the code --------------------------------

def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)


def test_every_layer_but_streaming_is_measured():
    import __spark_entry__ as entry

    from perfbench.workloads import layer_of

    queries = entry.queries()
    measured = set()
    for spec in WORKLOADS.values():
        for op in spec.ops:
            if op.startswith("submit:"):
                assert op.split(":", 1)[1] in SUBMIT_JOBS
                measured.add("engine")
            else:
                measured.add(layer_of(queries[op].__module__))
    assert measured <= set(LAYERS)
    # the streaming queries stage their input under a fixed /tmp path
    assert set(LAYERS) - measured == {"streaming"}


def _fake_passes():
    def op(layer, op_id):
        return {"op": "x", "op_id": op_id, "layer": layer, "build_s": 0.1,
                "action_s": 0.2, "total_s": 0.3, "start": 100.0, "end": 100.3,
                "error": None, "digest": "d"}
    return [
        {"kind": "cold", "wall_s": 0.9, "loop_s": 1.0, "ops": [op("relational", "a")]},
        {"kind": "traced", "wall_s": 0.3, "loop_s": 0.4, "ops": [op("relational", "b")]},
        {"kind": "untraced", "wall_s": 0.3, "loop_s": 0.35, "ops": [op("relational", "c")]},
    ]


def test_per_layer_metrics_match_benchmark_json():
    stats = {"b": eventlog.OpStats(jobs=2, run_ms=300, job_intervals=[(100_000, 100_200)])}
    values = layer_metrics(_fake_passes(), stats, cpus=4, session_start_s=5.0)
    assert [m["name"] for m in BENCHMARK["per_layer"]] == list(values)
    assert values["relational.jobs"] == 2
    assert values["relational.driver_s"] == pytest.approx(0.1)
    assert values["trace.bench_overhead_s"] == pytest.approx(0.1)


def test_end_to_end_metrics_match_benchmark_json():
    raw = {"setup_s": 5.0, "peak_rss_mb": 100.0, "passes": _fake_passes()}
    values = run.end_to_end(raw, rows=30)
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(values)
    assert all(v > 0 for v in values.values())
