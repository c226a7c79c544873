"""The benchmark's own tests: a wrong expected value is counted as a
failure, the ledger and event-log readers aggregate what they should, and
BENCHMARK.json lists exactly the metrics the runner prints. No Spark
session is started."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import checks, eventlog, inputs, procs, run, workloads
from perfbench.ledger import SPAN_PROPERTY, Ledger

HERE = os.path.dirname(os.path.abspath(__file__))


def test_keyed_failures_counts_wrong_missing_and_extra():
    want = {("c", 0): ("a", None), ("c", 1): ("b", "pdf:flate")}
    assert checks.keyed_failures(want, list(want.items())) == set()
    wrong = {("c", 0): ("a", None), ("c", 1): ("b", None)}
    assert checks.keyed_failures(wrong, list(want.items())) == {("c", 1)}
    assert checks.keyed_failures(want, [(("c", 0), ("a", None))]) == {("c", 1)}
    extra = list(want.items()) + [(("c", 0), ("a", None)), (("d", 0), ("x", None))]
    assert checks.keyed_failures(want, extra) == {("c", 0), ("d", 0)}


def test_oracle_expectations_catch_a_wrong_turn():
    corpus = inputs.make_corpus(seed=3, n_turns=60, n_tail=0)
    conv = corpus.convs[0][0]
    turns = checks.oracle_turns(corpus.rows([conv]))
    convs = checks.oracle_convs(turns)
    n_turns, n_kept, text, _ = convs[conv]
    assert n_turns == n_kept == len(turns)
    got = list(turns.items())
    assert checks.keyed_failures(turns, got) == set()
    (key, (t, err)), rest = got[0], got[1:]
    assert checks.keyed_failures(turns, [(key, (t + "x", err))] + rest) == {key}
    assert checks.keyed_failures(convs, [(conv, (n_turns, n_kept, text + "x", 0))]) == {conv}


def test_transcripts_op_with_wrong_digest_fails_every_conversation():
    wl = workloads.Transcripts("unused", 1, Ledger(False))
    wl.expected = {"n": 5, "turns": 40, "sample_n": 2, "sample_x": 7}
    good = {"n": 5, "turns": 40, "sample_n": 2, "sample_x": 7, "x": 11, "pages": 9}
    wl.check(good, -1)
    assert (wl.attempted, wl.failed) == (5, 0)
    wl.check(dict(good, x=12), 0)
    assert (wl.attempted, wl.failed) == (5, 5)
    # each conversation counts once per run, however many operations fail it
    wl.check(dict(good, sample_x=8), 1)
    assert (wl.attempted, wl.failed) == (5, 5) and len(wl.problems) == 2


def test_pdf_failures_digest_and_error_codes():
    ref = {"a": (checks.text_digest("hello"), 1, None),
           "b": (checks.text_digest(""), 0, "pdf:no-startxref")}
    ok = [("a", "hello", 1, None), ("b", "", 0, "pdf:no-startxref")]
    assert checks.pdf_failures(ref, ok) == set()
    assert checks.pdf_failures(ref, [("a", "hellO", 1, None), ok[1]]) == {"a"}
    assert checks.pdf_failures(ref, ok[:1]) == {"b"}
    # an error code that spec.py does not define fails even if expected
    odd = {"a": (checks.text_digest(""), 0, "io:OSError")}
    assert checks.pdf_failures(odd, [("a", "", 0, "io:OSError")]) == {"a"}


def test_pdf_op_counts_documents_that_abort_the_job_as_failed():
    import pyarrow as pa

    wl = workloads.PdfFiles("unused", 1, Ledger(False))
    wl.ref = {"a": (checks.text_digest("hi"), 1, None),
              "t": (checks.text_digest("\ufffd"), 1, None)}
    wl.names, wl.aborting = ["a"], ["t"]
    table = pa.table({"doc_id": ["/d/a.pdf"], "text": ["hi"],
                      "n_pages": [1], "error": pa.array([None], pa.string())})
    wl.check(table, 0)
    assert (wl.attempted, wl.failed, wl.wrong) == (2, 1, 0)
    wl.check(table.set_column(1, "text", pa.array(["ho"])), 1)
    assert (wl.attempted, wl.failed, wl.wrong) == (2, 2, 1)
    wl.check(table, 2)  # a later correct output does not undo a failure
    assert (wl.attempted, wl.failed, wl.wrong) == (2, 2, 1)


def test_pdf_reference_replaces_lone_surrogates(monkeypatch):
    from pdf_parse_new_spark.kernels import pdfb

    monkeypatch.setattr(pdfb, "parse_pdf_bytes", lambda raw: {
        "text": raw.decode(), "n_pages": 1, "error": None})
    assert checks.pdf_reference(b"ok") == (
        (checks.text_digest("ok"), 1, None), True)
    monkeypatch.setattr(pdfb, "parse_pdf_bytes", lambda raw: {
        "text": "a\ud800b", "n_pages": 1, "error": None})
    assert checks.pdf_reference(b"") == (
        (checks.text_digest("a\ufffdb"), 1, None), False)


def test_corpus_is_seeded():
    a = inputs.make_corpus(seed=5, n_turns=500, n_tail=1)
    assert a == inputs.make_corpus(seed=5, n_turns=500, n_tail=1)
    assert a != inputs.make_corpus(seed=6, n_turns=500, n_tail=1)
    assert a.n_turns >= 500
    assert sum(n >= inputs.TAIL_TURNS[0] for _, _, n in a.convs) == 1
    assert a.sample(3, 1, "x") == a.sample(3, 1, "x")


def test_ledger_spans_nest_and_tag():
    tags = []
    led = Ledger(True)
    led._set_tag = tags.append
    with led.span("outer"):
        with led.span("inner", op=2):
            pass
    assert [s["name"] for s in led.spans] == ["outer", "inner"]
    assert led.spans[1]["parent"] == 0 and led.spans[1]["op"] == 2
    assert tags == ["outer", "inner", "outer", None]
    off = Ledger(False)
    with off.span("x"):
        pass
    assert off.spans == []


def _task(stage, ms, sent=0, shuffle_read=0, ok=True):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": 0, "Finish Time": ms, "Accumulables": [
            {"Name": eventlog.PY_SENT, "Update": str(sent)}]},
        "Task Metrics": {"JVM GC Time": 1,
                         "Shuffle Read Metrics": {"Local Bytes Read": shuffle_read},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}},
    }


def test_eventlog_aggregate_by_span():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {SPAN_PROPERTY: "extract.turns"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        _task(0, 100, sent=10), _task(0, 300, sent=20), _task(0, 100),
        _task(1, 50, shuffle_read=9, ok=False), _task(2, 999),
    ]
    agg = eventlog.aggregate(events)["extract.turns"]
    assert agg.jobs == 1 and agg.tasks == 4 and agg.task_failures == 1
    assert agg.sql[eventlog.PY_SENT] == 30
    assert agg.skew(agg.python_stage()) == 3.0
    assert agg.reduce_stage().shuffle_read == 9
    assert agg.gc_ms == 4 and agg.shuffle_write == 20


def test_procwatch_finds_and_kills_leftovers():
    # watch a throwaway parent, never this process: other tests may own
    # live Spark processes
    code = ("import subprocess, sys, time; "
            "c = subprocess.Popen([sys.executable, '-c', "
            "'import time; time.sleep(60)']); "
            "print(c.pid, flush=True); time.sleep(60)")
    parent = subprocess.Popen([sys.executable, "-c", code],
                              stdout=subprocess.PIPE, text=True)
    try:
        child = int(parent.stdout.readline())
        watch = procs.ProcWatch(root=parent.pid)
        watch.sample()
        assert [k[0] for k in watch.seen] == [child]
        left = watch.leftovers(grace_s=0.2)
        assert len(left) == 1 and str(child) in left[0]
        assert watch.leftovers(grace_s=2) == []
    finally:
        parent.kill()
        parent.wait(timeout=10)
        parent.stdout.close()


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == run._per_layer()
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


@pytest.mark.parametrize("argv", [[], ["--workload", "x", "--seed", "1"]])
def test_cli_rejects_incomplete_arguments(argv):
    with pytest.raises(SystemExit):
        run.parse_args(argv)
