"""Checks of the benchmark harness itself (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import os
import re
import sys
import types

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from workloads import (JobResult, Op, check_curate, check_frontier,  # noqa: E402
                       check_store, tally)

FRONTIER = {"admitted": [["u1", "u2"], ["u3"], ["u4"]],
            "failed": ["u2"], "seen": ["c1", "c2", "c3", "c4"]}
CURATE = {"curated": [1, 2, 3, 10], "pairs": [[1, 10, 19, 20]],
          "planted": [[1, 10]]}


def test_exact_outputs_pass():
    assert all(op.ok for op in check_frontier(FRONTIER, FRONTIER))
    got = {"curated": [3, 2, 1, 10], "pairs": [(1, 10, 19, 20)]}
    assert all(op.ok for op in check_curate(CURATE, got))


def test_perturbed_round_is_flagged_and_counted():
    got = copy.deepcopy(FRONTIER)
    got["admitted"][1] = ["u3", "u9"]  # one URL admitted a round early
    ops = check_frontier(FRONTIER, got)
    assert [op.ok for op in ops] == [True, False, True]
    assert tally(ops) == (3, 1)


def test_perturbed_seen_set_fails_the_last_round():
    got = copy.deepcopy(FRONTIER)
    got["seen"] = got["seen"][:-1]
    ops = check_frontier(FRONTIER, got)
    assert not ops[-1].ok and "seen" in ops[-1].message


def test_perturbed_curate_outputs_are_flagged():
    base = {"curated": [1, 2, 3, 10], "pairs": [(1, 10, 19, 20)]}
    for got in ({**base, "curated": [1, 2, 10]},          # lost a doc
                {**base, "pairs": [(1, 10, 18, 20)]},     # wrong inter
                {**base, "pairs": []}):                   # planted missed
        assert tally(check_curate(CURATE, got)) == (1, 1)


def test_one_missed_planted_pair_is_flagged():
    planted = [[i, 1000 + i] for i in range(150)]
    expected = {"curated": list(range(150)) + [1000 + i for i in range(150)],
                "pairs": [[a, b, 19, 20] for a, b in planted],
                "planted": planted}
    got = {"curated": expected["curated"],
           "pairs": [tuple(p) for p in expected["pairs"][1:]]}
    assert tally(check_curate(expected, got)) == (1, 1)
    got["pairs"] = [tuple(p) for p in expected["pairs"]]
    assert tally(check_curate(expected, got)) == (1, 0)


STORE = {"rounds": [{"stored": {"d1": "m1", "d2": "m2"}, "failed": []},
                    {"stored": {"x1": "m0"}, "failed": ["x2"]}],
         "links": 3}


def test_perturbed_store_outputs_are_flagged():
    assert tally(check_store(STORE, STORE)) == (2, 0)
    for r, change in ((0, {"stored": {"d1": "m1", "d2": "mX"}}),  # md5
                      (0, {"stored": {"d1": "m1"}}),              # lost doc
                      (1, {"failed": []})):                       # miss lost
        got = copy.deepcopy(STORE)
        got["rounds"][r].update(change)
        ops = check_store(STORE, got)
        assert tally(ops) == (2, 1) and not ops[r].ok
    assert tally(check_store(STORE, {**STORE, "links": 2})) == (2, 1)


def test_store_fixture_matches_its_reference(tmp_path):
    import reference
    size = workloads.STORE_SIZES["smoke"]
    stats = inputs.make_store(str(tmp_path), 3, size)
    buckets = [inputs.doc_bucket(b) for b in range(size.n_buckets)]
    exp = reference.store_expected(str(tmp_path), buckets, inputs.REGION)
    assert len(exp["rounds"][0]["stored"]) == size.n_docs
    assert exp["links"] == stats["media_links"]
    assert exp["rounds"][1]["failed"] and all(
        "gone-" in u for u in exp["rounds"][1]["failed"])


def test_corpus_has_the_measured_shape(tmp_path):
    size = workloads.CORPUS_SIZES["smoke"]
    inputs.make_corpus(str(tmp_path), 5, size)
    t = pq.read_table(str(tmp_path / "corpus.parquet")).to_pylist()
    words = [d["text"].split(" ") for d in t]
    assert {w for ws in words for w in ws} <= set(inputs.VOCABULARY) | {
        inputs.NEAR_DUP_WORD}
    assert all(inputs.TOKENS[0] <= len(ws) <= inputs.TOKENS[1] + 1
               for ws in words)
    assert {d["lang"] for d in t} <= set(inputs.LANGS)


class _FakeWorkload:
    """One job whose second round fails its check."""
    name = "fake"

    def job(self):
        return JobResult(1.0, [0.5, 0.5], 10, 9, "unused")

    def check(self, result):
        return [Op("round 0", True), Op("round 1", False)]

    def cleanup(self, result):
        pass


def test_failed_check_counts_in_ops_failed():
    fake_spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(
        _gateway=types.SimpleNamespace(
            proc=types.SimpleNamespace(pid=os.getpid()))))
    metrics, ops, _ = run.run_timed(_FakeWorkload(), fake_spark, 0.0, 1.0)
    assert tally(ops) == (2, 1)
    assert metrics["job_s"]["value"] == 1.0
    assert metrics["urls_per_s"]["value"] == 10.0


def test_generators_are_seeded(tmp_path):
    size = workloads.CORPUS_SIZES["smoke"]
    a = inputs.make_corpus(str(tmp_path / "a"), 7, size)
    b = inputs.make_corpus(str(tmp_path / "b"), 7, size)
    assert a == b
    ta = pq.read_table(str(tmp_path / "a" / "corpus.parquet"))
    tb = pq.read_table(str(tmp_path / "b" / "corpus.parquet"))
    assert ta.equals(tb)
    fsize = workloads.FRONTIER_SIZES["smoke"]
    fa = inputs.make_frontier(str(tmp_path / "fa"), 7, fsize, 10_000_000)
    fb = inputs.make_frontier(str(tmp_path / "fb"), 8, fsize, 10_000_000)
    assert fa["frontier_rows"] == fb["frontier_rows"]
    assert not pq.read_table(str(tmp_path / "fa" / "frontier.parquet")).equals(
        pq.read_table(str(tmp_path / "fb" / "frontier.parquet")))


def test_word_shuffle_splits_on_whitespace_runs():
    text = "the  quick\tbrown \n fox"
    out = inputs.shuffle_words(text, np.random.default_rng(0))
    assert sorted(out.split(" ")) == sorted(re.split(r"\s+", text.strip()))


def test_variants_canonicalize_to_the_url():
    from fess_ds_s3_spark.functions.urls import canonicalize_url_py
    url = "https://host-0001.example.com/p3/0000042.html"
    for how in range(3):
        v = inputs._variant(url, how)
        assert v != url and canonicalize_url_py(v) == url


def test_sql_metric_totals():
    text = "total (min, med, max (stageId: taskId))\n9.4 s (2.2 s, 2.4 s)"
    assert tracing._metric_total(text) == 9.4
    assert tracing._metric_total("total\n783.3 KiB (195.8 KiB)") == \
        783.3 * 1024
    assert tracing._metric_total("100,000") == 100000


def test_event_log_folds_task_metrics_onto_spans(tmp_path):
    import json

    import eventlog
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "t.3"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.job.description": "t.3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 100, "Finish Time": 400},
         "Task Metrics": {"Executor Run Time": 300,
                          "Executor CPU Time": 2 * 10**8,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 64,
                              "Shuffle Records Written": 4}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 100, "Finish Time": 200},
         "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 100,
                        "Completion Time": 600}},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = eventlog.read_event_log(str(log))
    assert jobs[0].span == "t.3" and jobs[0].stage_ids == [0, 1]
    st = stages[1]
    assert st.wall_s == 0.5 and st.task_skew == 300 / 200
    folded = eventlog.fold_by_span(jobs, stages)["t.3"]
    assert folded["jobs"] == 1 and folded["stages"] == 1
    assert folded["tasks"] == 2 and folded["executor_run_s"] == 0.4
    assert folded["executor_cpu_s"] == 0.2
    assert folded["shuffle_write_bytes"] == 64
