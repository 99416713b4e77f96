"""Self-tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/selftest -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import feed  # noqa: E402
import index_day  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import sparklogs  # noqa: E402
import workload_queries  # noqa: E402
from harness import Recorder  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_metrics_match_the_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == (
        metrics.END_TO_END
    )
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert len(spec["per_layer"]) <= 128


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metric_names_equal_the_declared_ones(workload, trace):
    spec = _spec()
    measured_by_runner = ("log.warn_lines", "log.stack_traces", "session.peak_rss_mb")
    res = {
        "end_to_end": dict.fromkeys(metrics.END_TO_END, 1.0),
        "per_layer": {
            k: 1.0 for k in metrics.PER_LAYER_BY_WORKLOAD[workload] if k not in measured_by_runner
        },
    }
    census = {"warn": {"X": 2}, "stack_traces": {"X": 1}}
    printed = run.compose(workload, bool(trace), res, 2**20, census)
    kind = "per_layer" if trace else "end_to_end"
    assert set(printed) == {m["name"] for m in spec[kind]}
    units = {m["name"]: m["unit"] for m in spec[kind]}
    assert all(v["unit"] == units[k] for k, v in printed.items())


def test_unowned_layers_read_zero_and_owned_names_are_enforced():
    res = {"per_layer": {k: 1.0 for k in metrics.PER_LAYER_BY_WORKLOAD["queries"]}}
    del res["per_layer"]["session.peak_rss_mb"]
    census = {"warn": {}, "stack_traces": {}}
    printed = run.compose("queries", True, res, 0, census)
    assert printed["pipelines.posts_run_s"]["value"] == 0
    assert printed["plans.build_s"]["value"] == 1.0
    res["per_layer"].pop("plans.build_s")
    with pytest.raises(RuntimeError):
        run.compose("queries", True, res, 0, census)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    corpus.write_corpus(d, 0.002, 42)
    return d


def test_corpus_is_a_function_of_its_seed(small_corpus, tmp_path):
    again = str(tmp_path / "again")
    corpus.write_corpus(again, 0.002, 42)
    assert _files(again) == _files(small_corpus)
    other = str(tmp_path / "other")
    corpus.write_corpus(other, 0.002, 43)
    assert _files(other)["documents.parquet"] != _files(small_corpus)["documents.parquet"]


def test_index_inputs_are_a_function_of_the_seed(small_corpus, tmp_path):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / tag
        d.mkdir()
        plan = index_day.plan_inputs(small_corpus, seed, str(d))
        runs[tag] = (plan["takedown"], _files(str(d)))
    assert runs["a"] == runs["b"]
    # the history split differs with the seed
    assert runs["a"][1]["history.parquet"] != runs["c"][1]["history.parquet"]
    assert runs["a"][1]["queries.parquet"] != runs["c"][1]["queries.parquet"]


def test_takedown_is_the_marked_history(small_corpus, tmp_path):
    plan = index_day.plan_inputs(small_corpus, 7, str(tmp_path))
    import pyarrow.parquet as pq

    history = pq.read_table(plan["paths"]["history"]).to_pylist()
    marked = sorted(r["doc_id"] for r in history if r["text"].endswith(" dup"))
    assert plan["takedown"] == marked and marked


def test_feed_is_a_function_of_the_seed():
    page = lambda seed, tick: feed.PostsPage(seed, 3, tick)(1)  # noqa: E731
    assert page(3, 1) == page(3, 1)
    assert page(3, 1) != page(4, 1)
    assert json.dumps(page(3, 1))  # records are plain JSON, as the API serves them


def test_feed_pages_overlap_and_cover_every_new_post():
    from ingest_day import N_PAGES

    sched = feed.Schedule(5, 3)
    seen: set[int] = set()
    for tick in range(1, 4):
        ids = {i for p in range(1, N_PAGES + 1) for i in sched.page_ids(tick, p)}
        if seen:
            assert ids & seen  # consecutive runs re-fetch some posts
        new = set(range(sched.published[tick - 1], sched.published[tick]))
        assert new <= ids  # ...and miss none
        seen |= ids


def test_query_order_is_a_function_of_the_seed():
    assert workload_queries.order(1) == workload_queries.order(1)
    orders = {tuple(workload_queries.order(s)) for s in range(20)}
    assert len(orders) > 1
    assert all(sorted(o) == sorted(workload_queries.SUBSET) for o in orders)


class _FakeSpark:
    class sparkContext:  # noqa: N801 — mimics the attribute name
        groups: list[str] = []

        @classmethod
        def setJobGroup(cls, gid, desc):  # noqa: N802 — Spark's name
            cls.groups.append(gid)


def test_a_failing_operation_is_counted_and_the_run_goes_on():
    rec = Recorder(_FakeSpark, "w")

    def boom():
        raise ValueError("injected")

    assert rec.timed("layer.ok", "p", lambda: 3) == 3
    assert rec.timed("layer.boom", "p", boom) is None
    assert rec.check("mismatch", lambda: False) is False
    assert rec.check("raises", boom) is False
    assert rec.check("fine", lambda: True) is True
    assert rec.timed("layer.ok", "p", lambda: 4) == 4
    assert (rec.attempted, rec.failed) == (6, 3)
    assert len(rec.seconds("layer.ok", "p")) == 2
    assert rec.seconds("layer.boom", "p") == []
    assert "w:layer.boom:p" in _FakeSpark.sparkContext.groups


def test_event_log_reader_on_a_recorded_log():
    groups = sparklogs.read_event_log(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    agg = groups["w:a.agg:steady"]
    # four jobs: two AQE map-stage jobs and two result jobs whose map
    # stage already ran — skipped, and not counted as run stages
    assert (agg["jobs"], agg["stages"], agg["stages_skipped"], agg["tasks"]) == (4, 4, 2, 10)
    assert agg["shuffle_write_bytes"] == 2282
    assert agg["executor_cpu_ms"] == 651
    write = groups["w:b.write:build"]
    assert (write["jobs"], write["stages"], write["tasks"]) == (3, 3, 4)
    assert write["output_bytes"] == 4977
    assert sparklogs.sum_groups(groups, lambda g: g.startswith("w:"))["jobs"] == 7


def test_stderr_census(tmp_path):
    log = tmp_path / "stderr.log"
    log.write_text(
        "Setting default log level to \"WARN\".\n"
        "26/10/17 08:56:41 WARN NativeCodeLoader: Unable to load native-hadoop library\n"
        "26/10/17 08:56:42 WARN FileStreamSink: Assume no metadata directory.\n"
        "java.io.FileNotFoundException: /idx/_tombstones\n"
        "\tat org.apache.hadoop.fs.RawLocalFileSystem.listStatus(RawLocalFileSystem.java:1)\n"
        "\tat org.apache.spark.Foo.bar(Foo.scala:2)\n"
        "Caused by: java.io.IOException: gone\n"
        "\tat org.apache.spark.Foo.baz(Foo.scala:3)\n"
        "\t... 4 more\n"
        "26/10/17 08:56:43 WARN FileStreamSink: Assume no metadata directory.\n"
        "26/10/17 08:56:44 ERROR Executor: task failed\n"
        "java.lang.RuntimeException: x\n"
        "\tat a.b.C.d(C.java:1)\n"
    )
    c = sparklogs.census_stderr(str(log))
    assert c["warn"] == {"NativeCodeLoader": 1, "FileStreamSink": 2}
    assert c["error"] == {"Executor": 1}
    assert c["stack_traces"] == {"FileStreamSink": 1, "Executor": 1}



def test_cpu_accounting_follows_children_out_of_their_process_group():
    # PySpark's daemon leaves its parent's process group; its CPU must count
    import subprocess

    from harness import tree_stats

    child = subprocess.Popen(["sleep", "30"], start_new_session=True)
    try:
        assert os.getpgid(child.pid) != os.getpgrp()
        assert child.pid in tree_stats(os.getpid())
    finally:
        child.kill()
        child.wait()


def test_cpu_accounting_leaves_out_only_jit_compiler_threads():
    from harness import jit_ticks, tree_cpu_s

    cpu, jit = tree_cpu_s()
    assert cpu > 0
    assert jit == 0 == jit_ticks(os.getpid())  # a Python process has no JIT threads
