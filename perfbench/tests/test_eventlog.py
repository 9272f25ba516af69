"""Pins the event-log reducer on a small captured log, and the dedup
expectations and check over the document generator's output.

data/small_eventlog.jsonl is a real Spark 4.1 event log of three labelled
spans on local[2] (a shuffle-and-write under "op:route", a MapInPandas under
"op:dedup", a count under "setup:other"), trimmed to the events and fields
the reducer reads. data/small_spans.json holds the spans' wall clocks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import checks, eventlog, inputs  # noqa: E402


@pytest.fixture(scope="module")
def reduced():
    with open(os.path.join(HERE, "data", "small_eventlog.jsonl")) as f:
        events = [json.loads(line) for line in f]
    with open(os.path.join(HERE, "data", "small_spans.json")) as f:
        spans = json.load(f)
    return eventlog.reduce(events, spans, cores=2)


def test_counts_per_label(reduced):
    route, dedup, setup = (reduced["labels"][k] for k in ("op:route", "op:dedup", "setup:other"))
    # job 1 lists a skipped stage (its shuffle map output was reused): no tasks, not counted
    assert (route["jobs"], route["stages"], route["tasks"]) == (2, 2, 3)
    assert (dedup["jobs"], dedup["stages"], dedup["tasks"]) == (1, 1, 2)
    assert (setup["jobs"], setup["stages"], setup["tasks"]) == (2, 2, 3)
    assert all(rec["task_retries"] == 0 for rec in reduced["labels"].values())


def test_task_metrics_are_summed_in_their_units(reduced):
    route = reduced["labels"]["op:route"]
    assert route["executor_run_s"] == pytest.approx(1.004)
    assert route["executor_cpu_s"] == pytest.approx(0.7396808, rel=1e-6)
    assert route["gc_s"] == pytest.approx(0.046)
    assert route["task_wait_s"] == pytest.approx(0.280)
    assert route["shuffle_write_bytes"] == route["shuffle_read_bytes"] == 339
    assert route["spill_bytes"] == 0


def test_python_metrics_come_from_the_mapinpandas_tasks(reduced):
    dedup, route = reduced["labels"]["op:dedup"], reduced["labels"]["op:route"]
    assert dedup["python_boot_s"] == pytest.approx(1.416)
    assert dedup["python_init_s"] == pytest.approx(0.366)
    assert dedup["python_run_s"] == pytest.approx(2.158)
    assert (dedup["python_bytes_sent"], dedup["python_bytes_received"]) == (8608, 8352)
    assert all(route[key] == 0 for key, _scale in eventlog.PYTHON_METRICS.values())


def test_driver_time_is_span_wall_outside_stage_spans(reduced):
    route = reduced["labels"]["op:route"]
    # stages 0 (453 ms) and 2 (726 ms) ran inside the 3,670.95 ms op:route span
    assert route["wall_s"] == pytest.approx(3.67095, abs=1e-5)
    assert route["driver_s"] == pytest.approx(3.67095 - 0.453 - 0.726, abs=1e-5)
    assert route["core_busy_frac"] == pytest.approx(1.004 / (3.67095 * 2), rel=1e-4)


def test_call_sites_and_total_cover_measured_operations_only(reduced):
    sites = reduced["callsites"]
    assert (sites["pipeline"]["stages"], sites["pipeline"]["tasks"]) == (2, 3)
    assert (sites["dedup"]["stages"], sites["dedup"]["tasks"]) == (1, 2)
    assert sites["other"]["tasks"] == sites["tableio"]["tasks"] == 0  # setup:other is not an operation
    total = reduced["total"]
    assert total["tasks"] == 5
    assert total["executor_run_s"] == pytest.approx(1.004 + 2.645)


@pytest.mark.parametrize(
    "callsite, module",
    [
        ("parquet at logspark/plans/pipeline.py:312", "pipeline"),
        ("count at logspark/plans/dedup_agent.py:125", "dedup"),
        ("localCheckpoint at logspark/operators/dedup.py:1064", "dedup"),
        ("parquet at logspark/sources/tableio.py:37", "tableio"),
        ("save at NativeMethodAccessorImpl.java:0", "other"),
        (None, "other"),
    ],
)
def test_callsite_module(callsite, module):
    assert eventlog.callsite_module(callsite) == module


@pytest.fixture(scope="module")
def doc_pairs(tmp_path_factory):
    """Documents of three files and their exact pairs (J >= threshold)
    and near misses (0 < J < threshold), by brute force over all pairs."""
    d = tmp_path_factory.mktemp("documents")
    paths = inputs.document_files(str(d), seed=7, n_files=3, docs_per_file=60)
    docs = {}
    for fi, rows in enumerate(inputs.documents(seed=7, n_files=3, docs_per_file=60)):
        for doc_id, text in rows:
            toks = text.split(" ")
            docs[doc_id] = (fi, text, {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)})
    exact, below = {}, {}
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, gb = docs[a][2], docs[b][2]
            if ga & gb:
                j = len(ga & gb) / len(ga | gb)
                (exact if j >= checks.DEDUP["threshold"] else below)[(a, b)] = round(j, 6)
    return paths, docs, exact, below


def test_expected_pairs_are_the_exact_jaccard_pairs(doc_pairs):
    paths, docs, exact, below = doc_pairs
    got = checks.expected_pairs(paths)
    assert {(a, b): j for a, b, _, j in got} == exact
    assert all(docs[b][0] == fb for a, b, fb, _ in got)
    files = {(docs[a][0] == docs[b][0]) for a, b in exact}
    assert files == {True, False}  # within a file and against an earlier one
    # pairs of Jaccard 1 with different text, pairs between the threshold
    # and 1, and near misses below the threshold are all present
    assert any(j == 1.0 and docs[a][1] != docs[b][1] for (a, b), j in exact.items())
    assert any(j < 1.0 for j in exact.values())
    assert below


def test_pair_check_catches_false_missing_and_wrong_pairs(doc_pairs):
    _, _, exact, below = doc_pairs
    assert checks.pair_problems("t", dict(exact), exact) == []
    false_pair = max(below.items(), key=lambda kv: kv[1])  # the nearest miss
    assert checks.pair_problems("t", exact | dict([false_pair]), exact)
    certain = next(p for p, j in exact.items() if j == 1.0)
    assert checks.pair_problems("t", {p: j for p, j in exact.items() if p != certain}, exact)
    assert checks.pair_problems("t", exact | {certain: 0.9}, exact)


def test_pair_check_bounds_recall_below_jaccard_1(tmp_path):
    paths = inputs.document_files(str(tmp_path), seed=7, n_files=8, docs_per_file=150)
    exact = {(a, b): j for a, b, _, j in checks.expected_pairs(paths)}
    near = sorted(p for p, j in exact.items() if j < 1.0)
    # LSH may miss some pairs below Jaccard 1 (about 40% of them at 16
    # hashes in 4 bands), but not three quarters
    assert checks.pair_problems("t", {p: j for p, j in exact.items() if p != near[0]}, exact) == []
    quarter = {p: j for p, j in exact.items() if j == 1.0 or p in near[::4]}
    assert checks.pair_problems("t", quarter, exact)
