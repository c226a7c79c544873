"""SparkSession lifetime for one benchmark run.

The session comes from the program's own ``session.get_spark`` at
``local[cpus]``. Everything Spark and its Python workers write goes under
the run's work directory, and the workers import the program from the
checkout root that this module puts on their ``PYTHONPATH``.

:meth:`SparkRun.close` stops the session, shuts the py4j gateway down and
waits for the JVM; the run then checks that no process it started is left.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import tempfile

EVENT_LOG_PROPS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def configure_env(root: str, work: str) -> None:
    """Environment for the JVM and the Python workers, set before pyspark
    launches its gateway."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no JVM writes its perf-data file under the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the kernels compile their C parts on first import, keyed by source
    # hash; one build per checkout, outside the timed set-up
    os.environ["PDF_PARSE_CTEXT_CACHE"] = build_dir(root)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", jvm_opts,
        "pyspark-shell",
    ])


def build_dir(root: str) -> str:
    d = os.path.join(root, ".bench_build")
    os.makedirs(d, exist_ok=True)
    return d


def build() -> None:
    """Compile the kernels' C parts now, in this process, so no Python
    worker compiles them inside a timed region."""
    from pdf_parse_new_spark.kernels import cinterp, cobj, pdfb  # noqa: F401


class SparkRun:
    def __init__(self, cpus: int):
        self.cpus = cpus
        self.spark = None

    def start(self):
        from pdf_parse_new_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart_with_event_log(self, event_dir: str):
        """Stop the session and start a new one, in the same JVM, that
        writes Spark's event log to ``event_dir``. SparkConf reads
        ``spark.*`` JVM system properties, so these reach the new context
        without touching the program's session factory."""
        os.makedirs(event_dir, exist_ok=True)
        jvm = self.spark.sparkContext._jvm
        self.spark.stop()
        props = dict(EVENT_LOG_PROPS, **{"spark.eventLog.dir": "file:" + event_dir})
        for k, v in props.items():
            jvm.java.lang.System.setProperty(k, v)
        return self.start()

    def close(self) -> None:
        """Stop the session, the gateway and the JVM. Safe to call twice and
        on a half-started run."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            gw = SparkContext._gateway
            SparkContext._gateway = None
            SparkContext._jvm = None
            if gw is not None:
                proc = getattr(gw, "proc", None)
                try:
                    gw.shutdown()
                finally:
                    if proc is not None:
                        _end(proc)


def _end(proc: subprocess.Popen) -> None:
    # the gateway JVM exits when its stdin closes
    try:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait(timeout=10)
