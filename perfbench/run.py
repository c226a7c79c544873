"""Seeded benchmark of the extraction engine, one workload per run.

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates the workload's inputs
from ``--seed``, starts ``local[cpus]`` through the program's
``session.get_spark``, warms up with ``WARMUP_OPS`` checked operations, then runs
checked operations back to back (a closed loop with one client) for
``--seconds``, with at least ``MIN_OPS`` of them.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` does the same
measurement, then restarts the session, in the same JVM, with Spark's event
log on, warms up again, times ``MIN_OPS`` operations, and runs the
per-layer probes; it prints the per-layer metrics, including
``trace.overhead_s``, traced minus untraced ``job_s``.
The traced session also inherits a JVM that is already warm, so that
difference can be below zero.

Times are wall times. Beside each, the record keeps the share of the
machine's CPU time the hypervisor withheld in that interval (steal), a
sign of how busy the host's other guests were.

``correct`` is true when no output the program gave was wrong. ``attempted``
counts the items (turns, conversations, documents) the run checked, each
once however many operations checked it; ``failed`` counts those without a
correct output in some operation, including those the program gave no
output for (see ``workloads.aborting_docs``).

Standard output ends with two JSON lines: a record of the run (cpus, seed,
input sizes, versions, samples, problems), then the result object
``{"correct", "attempted", "failed", "metrics"}``. Scratch files live in
``.perfbench_work/`` and are removed at exit; the traced run's spans are
kept in ``.perfbench_out/``. The run fails (exit status 1, no result) if
any process it started is still alive at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The JIT and the Python workers keep speeding the first operations up;
# three checked warm-ups, part of setup_s, get past most of that.
WARMUP_OPS = 3
MIN_OPS = 3
HARD_LIMIT_S = 160

# (name, unit, better); BENCHMARK.json lists the same metrics
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("job_s", "s", "lower"),
    ("records_per_s", "records/s", "higher"),
    ("worker_rss_peak_mb", "MB", "lower"),
]


def _per_layer() -> list[tuple[str, str, str]]:
    from pdf_parse_new_spark import fixtures

    from perfbench.workloads import ERROR_COUNTS, OUT_FAMILIES

    return [
        ("session.start_s", "s", "lower"),
        ("fixtures.generate_s", "s", "lower"),
        *[(f"kernels.us_per_turn.{f}", "us", "lower") for f in fixtures.FAMILIES],
        ("kernels.pdfb.load_ms", "ms", "lower"),
        ("kernels.pdfb.probe_ms", "ms", "lower"),
        ("kernels.pdfb.us_per_page", "us", "lower"),
        ("kernels.pdfb.ms_per_small_doc", "ms", "lower"),
        ("kernels.pdfb.ms_per_doc.type0", "ms", "lower"),
        ("spark.python_floor_s", "s", "lower"),
        ("extract.turns_s", "s", "lower"),
        ("extract.scan_s", "s", "lower"),
        ("extract.task_skew", "ratio", "lower"),
        ("extract.bytes_to_python", "bytes", "lower"),
        ("extract.bytes_from_python", "bytes", "lower"),
        ("extract.python_run_s", "s", "lower"),
        ("extract.pdf_small_s", "s", "lower"),
        ("extract.pdf_huge_s", "s", "lower"),
        ("extract.pdf_chunks", "count", "higher"),
        ("extract.pdf_chunk_skew", "ratio", "lower"),
        ("concat.salted_s", "s", "lower"),
        ("concat.shuffle_bytes", "bytes", "lower"),
        ("concat.reduce_skew", "ratio", "lower"),
        ("pipeline.unattributed_s", "s", "lower"),
        ("checkpoint.read_committed_s", "s", "lower"),
        ("checkpoint.todo_ratio", "ratio", "lower"),
        ("checkpoint.write_s", "s", "lower"),
        ("checkpoint.bytes_written", "bytes", "lower"),
        ("checkpoint.files_written", "count", "lower"),
        ("checkpoint.write_amp", "ratio", "lower"),
        ("lineage.manifest_s", "s", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.task_failures", "count", "lower"),
        ("spark.shuffle_bytes", "bytes", "lower"),
        ("spark.gc_ms", "ms", "lower"),
        ("trace.overhead_s", "s", "lower"),
        *[(f"count.turns_in.{f}", "count", "higher") for f in fixtures.FAMILIES],
        *[(f"count.turns_out.{f}", "count", "higher") for f in OUT_FAMILIES],
        *[(f"count.errors.{e}", "count", "lower") for e in ERROR_COUNTS],
        ("count.errors.other", "count", "lower"),
        ("count.docs", "count", "higher"),
        ("count.docs_unencodable", "count", "lower"),
        ("count.pages", "count", "higher"),
        ("count.chunks", "count", "higher"),
    ]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")


def _on_term(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def measure(wl, seconds: float, watch) -> list[tuple[float, float]]:
    """(wall s, steal share) of each operation in the loop."""
    ops = []
    end = time.perf_counter() + seconds
    while len(ops) < MIN_OPS or time.perf_counter() < end:
        ops.append(wl.run_op(len(ops)))
        watch.sample()
    return ops


def summary(ops) -> dict:
    wall, steal = zip(*ops)
    return {"median": statistics.median(wall), "max": max(wall),
            "n": len(ops), "samples": wall, "steal_shares": steal}


def eventlog_layers(aggs: dict, n_ops: int) -> dict[str, float]:
    from perfbench import eventlog as ev

    m: dict[str, float] = {}
    turns = aggs.get("extract.turns")
    if turns is not None:
        m["extract.task_skew"] = turns.skew(turns.python_stage())
        m["extract.bytes_to_python"] = turns.sql[ev.PY_SENT]
        m["extract.bytes_from_python"] = turns.sql[ev.PY_RECV]
        m["extract.python_run_s"] = turns.sql[ev.PY_RUN] / 1e3  # ms
    huge = aggs.get("extract.pdf_huge")
    if huge is not None:
        stage = huge.python_stage()
        m["extract.pdf_chunks"] = m["count.chunks"] = len(stage.task_ms)
        m["extract.pdf_chunk_skew"] = huge.skew(stage)
    cc = aggs.get("concat.salted")
    if cc is not None:
        m["concat.shuffle_bytes"] = cc.shuffle_write
        m["concat.reduce_skew"] = cc.skew(cc.reduce_stage())
    op = aggs.get("op")
    if op is not None:  # per operation
        m["spark.stages"] = len(op.stages) / n_ops
        m["spark.tasks"] = op.tasks / n_ops
        m["spark.task_failures"] = op.task_failures / n_ops
        m["spark.shuffle_bytes"] = op.shuffle_write / n_ops
        m["spark.gc_ms"] = op.gc_ms / n_ops
    return m


def run(args, sr, watch, ledger, work: str, cpus: int):
    from perfbench import eventlog, procs
    from perfbench.workloads import WORKLOADS, python_floor_s

    if args.workload not in WORKLOADS:
        raise ValueError(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](work, args.seed, ledger)
    setup_clock = procs.Clock()
    setup_clock.start()
    with ledger.span("session.start"):
        wl.spark = sr.start()
    watch.sample()
    wl.setup()
    for _ in range(WARMUP_OPS):
        wl.run_op(-1)
    watch.sample()
    setup_s, setup_steal = setup_clock.stop()
    ops = measure(wl, args.seconds, watch)
    job = summary(ops)
    job_s = job["median"]
    record = {
        "workload": wl.name, "seed": args.seed, "cpus": cpus,
        "trace": args.trace, "sizes": wl.sizes(),
        "driver_memory": wl.spark.conf.get("spark.driver.memory"),
        "setup_s": {"wall": setup_s, "steal_share": setup_steal},
        "job_s": job,
        "pages_per_s": wl.pages_per_op / job_s,
    }
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "records_per_s": wl.records_per_op / job_s,
        "worker_rss_peak_mb": watch.worker_hwm_kb / 1024,
    }
    units = {n: u for n, u, _ in END_TO_END}
    if args.trace:
        event_dir = os.path.join(work, "eventlog")
        wl.spark = sr.restart_with_event_log(event_dir)
        ledger.bind_spark(wl.spark)
        for _ in range(WARMUP_OPS):
            wl.run_op(-1)
        # MIN_OPS only: this loop gives the tracing overhead, not job_s
        traced = summary(measure(wl, 0, watch))
        layer = wl.layers()
        layer["spark.python_floor_s"] = python_floor_s(wl.spark, ledger)
        sr.close()
        aggs = eventlog.aggregate(eventlog.read_events(event_dir))
        layer.update(eventlog_layers(aggs, n_ops=traced["n"] + WARMUP_OPS))
        traced_job_s = traced["median"]
        layer["trace.overhead_s"] = traced_job_s - job_s
        layer["session.start_s"] = ledger.durations("session.start")[0]
        layer["fixtures.generate_s"] = ledger.durations("fixtures.generate")[0]
        layer["pipeline.unattributed_s"] = traced_job_s - sum(
            layer[k] for k in wl.OP_LAYERS)
        record["traced_job_s"] = traced
        defs = _per_layer()
        # a count of things that never occurred in this run is 0; any other
        # figure missing means a probe or the event log did not deliver
        record["absent"] = [n for n, _, _ in defs if n not in layer]
        missing = [n for n in record["absent"] if not n.startswith("count.")]
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {n: layer.get(n, 0) for n, _, _ in defs}
        units = {n: u for n, u, _ in defs}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ledger.dump(
            os.path.join(out_dir, f"trace-{wl.name}-s{args.seed}.json"),
            stages={tag: agg.summary() for tag, agg in aggs.items()},
            metrics=layer)
    record["attempted"] = wl.attempted
    record["failed"] = wl.failed
    record["wrong"] = wl.wrong
    record["failed_ratio"] = wl.failed / max(wl.attempted, 1)
    record["problems"] = wl.problems[:20]
    result = {
        "correct": wl.wrong == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    return record, result


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(HARD_LIMIT_S)
    sys.path.insert(0, ROOT)
    try:
        import pyarrow
        import pyspark

        from pdf_parse_new_spark import fixtures
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import procs, sparkctl
    from perfbench.ledger import Ledger

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-s{args.seed}-v{fixtures.FIXTURES_VERSION}")
    shutil.rmtree(work, ignore_errors=True)
    watch = procs.ProcWatch()
    sr = sparkctl.SparkRun(cpus)
    out = None
    try:
        # before the workloads import anything that may build the kernels
        sparkctl.configure_env(ROOT, work)
        sparkctl.build()
        out = run(args, sr, watch, Ledger(bool(args.trace)), work, cpus)
    except Exception:  # noqa: BLE001 — report, clean up, fail the run
        traceback.print_exc()
    finally:
        try:
            sr.close()
        finally:
            left = watch.leftovers()
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # only when empty
                os.rmdir(os.path.dirname(work))
            signal.alarm(0)
    if left:
        print("perfbench: processes still alive after the run (killed): "
              + "; ".join(left), file=sys.stderr)
        return 1
    if out is None:
        return 1
    record, result = out
    record["versions"] = {"spark": pyspark.__version__,
                          "pyarrow": pyarrow.__version__,
                          "python": sys.version.split()[0],
                          "fixtures": fixtures.FIXTURES_VERSION}
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
