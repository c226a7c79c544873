"""The benchmark's workloads. One operation is one full job, from input on
disk to complete result, run as a closed loop by one client.

Each workload has:

- ``setup()``: generate the seeded inputs and the expected outputs;
- ``prepare()`` / ``finish(state)``: untimed work around one operation;
- ``execute(state)``: the timed operation;
- ``check(out, k)``: add the items it attempted and failed to the tally;
- ``layers()``: the traced run's per-layer probes.

Every traced run reports every layer, because each traced result must
carry every per-layer metric BENCHMARK.json lists. A layer the workload's
own inputs do not reach is measured on small seeded companion inputs, so
its figure is comparable only with the same workload's earlier runs.

Caches that stay warm on purpose, as for a user running the same job
again: the OS page cache, the JVM's JIT, Python-worker reuse, and the
kernels' compiled C parts (built once per checkout in ``.bench_build``).
Caches that are kept cold: the transcript input is never ``.cache()``d, so
every operation scans parquet; every ``pdf_files`` operation reads fresh
hard-linked paths, so the operator's file-probe cache (keyed on path, mtime
and size) misses as it would for a new file.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from pdf_parse_new_spark import fixtures, pipeline, spec
from pdf_parse_new_spark.operators import concat, extract
from pdf_parse_new_spark.sources import checkpoint, lineage

from perfbench import checks, inputs, procs

OUT_FAMILIES = (spec.FAM_PDF, spec.FAM_HTML, spec.FAM_PLAIN, spec.FAM_CORRUPT)
COMPANION_TURNS = 2_000
APPEND_SHARE = 0.1  # of the corpus's turns, appended by the checkpoint probe


def metric_name(code: str) -> str:
    return code.replace(":", "-")


ERROR_COUNTS = tuple(sorted(metric_name(c) for c in checks.SPEC_ERRORS))


def error_key(code: str) -> str:
    name = metric_name(code)
    return f"count.errors.{name if name in ERROR_COUNTS else 'other'}"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, reps: int = 1) -> float:
    """Median wall seconds of ``reps`` calls."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under a file or directory."""
    if not os.path.isdir(path):
        return 1, os.path.getsize(path)
    files = nbytes = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(dirpath, name))
    return files, nbytes


# ------------------------------------------------------------ layer probes --

def python_floor_s(spark, led) -> float:
    """The fixed cost of a Python stage: a one-row ``mapInPandas`` job."""
    df = spark.range(1).mapInPandas(lambda it: it, "id long")
    with led.span("spark.python_floor"):
        return timed(lambda: noop(df), reps=3)


def transcript_layers(spark, led, work: str, corpus: inputs.Corpus,
                      path: str, sample_rows: list[tuple]) -> dict:
    """kernels per family (in this process, no Spark), extract, scan and concat
    over a transcript corpus at ``path``, and its turn counts."""
    from pdf_parse_new_spark.kernels import extract_batch

    m: dict[str, float] = {}
    by_fam: dict[str, list[str]] = {f: [] for f in fixtures.FAMILIES}
    for cid, t, _role, payload, _tool, _ts in sample_rows:
        by_fam[fixtures.family_for(cid, t)].append(payload)
    with led.span("kernels"):
        for fam, payloads in by_fam.items():
            texts = pd.Series(payloads, dtype=object)
            m[f"kernels.us_per_turn.{fam}"] = (
                timed(lambda: extract_batch(texts), reps=3)
                / max(len(payloads), 1) * 1e6)
    with led.span("extract.turns"):
        m["extract.turns_s"] = timed(
            lambda: noop(extract.extract_turns(spark.read.parquet(path))))
    with led.span("extract.scan"):
        m["extract.scan_s"] = timed(lambda: noop(
            spark.read.parquet(path).select("conv_id", "turn_idx", "role",
                                            "text")))
    turns_path = os.path.join(work, "layer_turns")
    with led.span("materialize"):
        (extract.extract_turns(spark.read.parquet(path))
         .write.mode("overwrite").parquet(turns_path))
    with led.span("concat.salted"):
        m["concat.salted_s"] = timed(lambda: noop(
            concat.concat_conversations_salted(spark.read.parquet(turns_path))))
    for r in (spark.read.parquet(turns_path)
              .groupBy("family", "error").count().collect()):
        key = f"count.turns_out.{r['family']}"
        m[key] = m.get(key, 0) + r["count"]
        if r["error"] is not None:
            m[error_key(r["error"])] = m.get(error_key(r["error"]), 0) + r["count"]
    for cid, _cno, n in corpus.convs:
        for t in range(n):
            key = f"count.turns_in.{fixtures.family_for(cid, t)}"
            m[key] = m.get(key, 0) + 1
    return m


def pdf_layers(spark, led, work: str, src: str, small: list[str],
               doc_ms: dict[str, float], pages: int) -> dict:
    """pdfb on the big document (in this process, no Spark), per small document,
    and the two operator paths, over the files in ``src`` (``pages`` in
    all)."""
    from pdf_parse_new_spark.kernels import pdfb

    with open(pdf_path(src, PdfFiles.BIG), "rb") as f:
        raw = f.read()
    m: dict[str, float] = {}
    with led.span("kernels.pdfb"):
        m["kernels.pdfb.load_ms"] = timed(lambda: pdfb.Document(raw), 3) * 1e3
        m["kernels.pdfb.probe_ms"] = timed(
            lambda: pdfb.parse_pdf_bytes(raw, page_range=(0, 0)), 3) * 1e3
        span = 200  # extract_pdf_files_chunked's pages_per_chunk
        m["kernels.pdfb.us_per_page"] = timed(
            lambda: pdfb.parse_pdf_bytes(raw, page_range=(0, span)), 3
        ) / span * 1e6
    # direct parses of every small document, Arrow-safe or not
    m["kernels.pdfb.ms_per_small_doc"] = statistics.fmean(
        v for n, v in doc_ms.items() if n != PdfFiles.BIG)
    m["kernels.pdfb.ms_per_doc.type0"] = statistics.fmean(
        v for n, v in doc_ms.items() if n.startswith("type0-"))
    with led.span("extract.pdf_small"):
        m["extract.pdf_small_s"] = timed(lambda: noop(
            extract.extract_pdf_files(paths_df(spark, src, small))))
    d = fresh_links(src, os.path.join(work, "pdf_layer_huge"), [PdfFiles.BIG])
    with led.span("extract.pdf_huge"):
        m["extract.pdf_huge_s"] = timed(lambda: noop(
            extract.extract_pdf_files_chunked(
                paths_df(spark, d, [PdfFiles.BIG]),
                big_file_bytes=inputs.BIG_FILE_BYTES)))
    shutil.rmtree(d)
    m["count.docs"] = len(small) + 1
    m["count.pages"] = pages
    return m


def checkpoint_layers(spark, led, work: str, path: str,
                      missing: list[str]) -> dict:
    """read_committed, the lineage write and the manifest read-back for
    appending conversations ``missing`` of the corpus at ``path`` to a
    table that holds the rest."""
    is_missing = F.col("conv_id").isin(missing)
    committed = os.path.join(work, "layer_table")
    with led.span("base_commit"):
        checkpoint.run_incremental(
            spark, spark.read.parquet(path).filter(~is_missing), committed)
    m: dict[str, float] = {}
    with led.span("checkpoint.read_committed"):
        m["checkpoint.read_committed_s"] = timed(
            lambda: checkpoint.read_committed(spark, committed)
            .select("conv_id").distinct().count())
    todo = os.path.join(work, "layer_todo")
    spark.read.parquet(path).filter(is_missing).write.mode(
        "overwrite").parquet(todo)
    todo_df = spark.read.parquet(todo)
    n_todo, payload = todo_df.agg(
        F.count(F.lit(1)), F.sum(F.octet_length("text"))).first()
    m["checkpoint.todo_ratio"] = n_todo / spark.read.parquet(path).count()
    written = os.path.join(work, "layer_written")
    with led.span("checkpoint.write"):
        m["checkpoint.write_s"] = timed(
            lambda: extract.extract_turns(todo_df, with_lineage=True)
            .write.mode("overwrite").parquet(written))
    files, nbytes = tree_size(written)
    m["checkpoint.files_written"] = files
    m["checkpoint.bytes_written"] = nbytes
    m["checkpoint.write_amp"] = nbytes / payload
    with led.span("lineage.manifest"):
        m["lineage.manifest_s"] = timed(
            lambda: lineage.partition_manifest(spark.read.parquet(written)))
    return m


# ----------------------------------------------------------- shared inputs --

def pdf_path(d: str, name: str) -> str:
    return os.path.join(d, name + ".pdf")


def fresh_links(src: str, d: str, names) -> str:
    """Hard links to ``src``'s files under a new directory ``d``."""
    os.makedirs(d)
    for name in names:
        os.link(pdf_path(src, name), pdf_path(d, name))
    return d


def paths_df(spark, d: str, names):
    return spark.createDataFrame(
        pd.DataFrame({"path": [pdf_path(d, n) for n in names]}), "path string")


def write_pdfs(src: str, docs: list[tuple[str, bytes]]) -> None:
    os.makedirs(src)
    for name, raw in docs:
        with open(pdf_path(src, name), "wb") as f:
            f.write(raw)


def reference_pass(docs: list[tuple[str, bytes]]):
    """One direct ``parse_pdf_bytes`` per document: the expected result of
    each, the milliseconds each parse took, and the names of the documents
    whose text Arrow cannot carry as it stands (see
    ``checks.pdf_reference``)."""
    ref, ms, unencodable = {}, {}, []
    for name, raw in docs:
        t0 = time.perf_counter()
        ref[name], encodable = checks.pdf_reference(raw)
        ms[name] = (time.perf_counter() - t0) * 1e3
        if not encodable:
            unencodable.append(name)
    return ref, ms, unencodable


def aborting_docs(spark, src: str, names: list[str]) -> list[str]:
    """The documents among ``names`` on which ``extract_pdf_files`` aborts
    its whole job, each tried in a job of its own.

    Known defect: a document whose text holds a lone surrogate (some type0
    documents) makes the operator raise UnicodeEncodeError while it builds
    its Arrow column, which fails the job and every other document in it."""
    out = []
    for name in names:
        try:
            extract.extract_pdf_files(paths_df(spark, src, [name])).toArrow()
        except Exception:  # noqa: BLE001 — whatever the job raises
            out.append(name)
    return out


def append_set(corpus: inputs.Corpus, seed: int, share: float) -> list[str]:
    """Ordinary conversations, drawn until they hold ``share`` of the
    turns, so every seed appends about the same amount."""
    rng = random.Random(f"perfbench:{seed}:missing")
    short = [(cid, n) for cid, _, n in corpus.convs
             if n < inputs.TAIL_TURNS[0]]
    rng.shuffle(short)
    out, turns = [], 0
    for cid, n in short:
        if turns >= corpus.n_turns * share:
            break
        out.append(cid)
        turns += n
    return sorted(out)


class Workload:
    name = ""
    why = ""
    # the layer probes that together make up one operation; the rest of
    # the traced job_s is reported as pipeline.unattributed_s
    OP_LAYERS: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int, ledger):
        self.work = work
        self.seed = seed
        self.ledger = ledger
        self.spark = None
        self.clock = procs.Clock()
        # (group, key) of every item checked, failed, or given a wrong output
        self.items: set = set()
        self.failed_items: set = set()
        self.wrong_items: set = set()
        self.problems: list[str] = []
        # per operation, for the throughput figures
        self.records_per_op = 0
        self.pages_per_op = 0

    def tally(self, group: str, keys, failed, what: str,
              wrong: bool = True) -> None:
        """Record a check of the items ``keys`` of ``group``, of which those
        in ``failed`` failed. They gave a wrong output unless ``wrong`` is
        false: then the program gave none.

        An item counts once per run, however many operations checked it,
        and fails if any of them failed it; so ``attempted`` and ``failed``
        depend on the seed and the program, not on how many operations fit
        in the run."""
        keys = {(group, k) for k in keys}
        bad = {(group, k) for k in failed}
        self.items |= keys | bad
        self.failed_items |= bad
        if wrong:
            self.wrong_items |= bad
        if bad:
            self.problems.append(f"{what}: {len(bad)} of {len(keys)} failed")

    @property
    def attempted(self) -> int:
        return len(self.items)

    @property
    def failed(self) -> int:
        return len(self.failed_items)

    @property
    def wrong(self) -> int:
        return len(self.wrong_items)

    def prepare(self):
        return None

    def finish(self, state) -> None:
        pass

    def run_op(self, k: int) -> tuple[float, float]:
        """One checked operation; returns its (wall s, host steal share)."""
        state = self.prepare()
        with self.ledger.span("op", op=k):
            self.clock.start()
            out = self.execute(state)
            timing = self.clock.stop()
        self.check(out, k)
        self.finish(state)
        return timing


# ------------------------------------------------------------ transcripts --

class Transcripts(Workload):
    name = "transcripts"
    why = ("extract_conversations over a parquet transcript corpus to a noop "
           "sink: kernels, extract and both concat exchanges, no pdfb")
    OP_LAYERS = ("extract.turns_s", "concat.salted_s")
    N_TURNS = 16_000
    N_TAIL = 2

    def setup(self) -> None:
        spark = self.spark
        self.corpus = inputs.make_corpus(self.seed, self.N_TURNS, self.N_TAIL)
        self.path = os.path.join(self.work, "corpus")
        with self.ledger.span("fixtures.generate"):
            inputs.write_corpus(spark, self.corpus, self.path)
        self.sample = self.corpus.sample(40, 1, "check")
        with self.ledger.span("oracle"):
            self.sample_rows = self.corpus.rows(self.sample)
            want_turns = checks.oracle_turns(self.sample_rows)
            want_convs = checks.oracle_convs(want_turns)
        # every sampled turn through extract_turns, against the oracle
        with self.ledger.span("sample_check"):
            got = (
                extract.extract_turns(
                    spark.read.parquet(self.path)
                    .filter(F.col("conv_id").isin(self.sample)))
                .select("conv_id", "turn_idx", "extracted_text", "error")
                .collect()
            )
        self.tally("turn", want_turns, checks.keyed_failures(
            want_turns,
            (((r[0], r[1]), (r[2], r[3])) for r in got),
        ), "sampled turns")
        # every operation's output must hold exactly the generated
        # conversations and turns, and its sampled conversations must hash
        # like the oracle's (Spark's xxhash64 over the oracle rows)
        oracle_df = spark.createDataFrame(
            pd.DataFrame(
                [(cid, *v) for cid, v in want_convs.items()],
                columns=["conv_id", "n_turns", "n_extracted", "full_text",
                         "n_errors"]),
            "conv_id string, n_turns int, n_extracted int, "
            "full_text string, n_errors long",
        )
        with self.ledger.span("oracle_digest"):
            sample_x = oracle_df.agg(F.bit_xor(self._hash())).first()[0]
        self.expected = {
            "n": len(self.corpus.convs),
            "turns": self.corpus.n_turns,
            "sample_n": len(want_convs),
            "sample_x": sample_x,
        }
        self.records_per_op = self.corpus.n_turns

    @staticmethod
    def _hash():
        return F.xxhash64("conv_id", "n_turns", "n_extracted", "full_text",
                          "n_errors")

    def execute(self, state):
        obs = Observation()
        in_sample = F.col("conv_id").isin(self.sample)
        h = self._hash()
        df = pipeline.extract_conversations(self.spark.read.parquet(self.path))
        noop(df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("n_turns").alias("turns"),
            F.count_if(in_sample).alias("sample_n"),
            F.bit_xor(F.when(in_sample, h)).alias("sample_x"),
            F.bit_xor(h).alias("x"),
            F.sum(F.col("meta")["n_pages"].cast("long")).alias("pages"),
        ))
        return obs.get

    def check(self, observed: dict, k: int) -> None:
        if "x" not in self.expected:  # the first operation pins the rest
            self.expected["x"] = observed.get("x")
            self.expected["pages"] = observed.get("pages")
            self.pages_per_op = observed.get("pages") or 0
        bad = checks.mismatched(self.expected, observed)
        convs = range(self.expected["n"])  # the digest checks them together
        self.tally("conversation", convs, convs if bad else (),
                   f"op {k} conversations ({bad})")

    def layers(self) -> dict[str, float]:
        m = transcript_layers(self.spark, self.ledger, self.work, self.corpus,
                              self.path, self.sample_rows)
        # the PDF layers, on a small seeded companion set
        src = os.path.join(self.work, "companion_pdf")
        small = inputs.small_docs(self.seed, per_generator=2)
        write_pdfs(src, [(PdfFiles.BIG, inputs.big_doc(self.seed))] + small)
        ref, ms, unencodable = reference_pass(small)
        aborting = aborting_docs(self.spark, src, unencodable)
        names = [n for n in ref if n not in aborting]
        m.update(pdf_layers(
            self.spark, self.ledger, self.work, src, names, ms,
            inputs.BIG_PAGES + sum(ref[n][1] for n in names)))
        m["count.docs_unencodable"] = len(unencodable)
        m.update(checkpoint_layers(
            self.spark, self.ledger, self.work, self.path,
            append_set(self.corpus, self.seed, APPEND_SHARE)))
        return m

    def sizes(self) -> dict:
        return {"turns": self.corpus.n_turns,
                "conversations": len(self.corpus.convs),
                "tail_conversations": self.N_TAIL,
                "oracle_sample_turns": len(self.sample_rows)}


# -------------------------------------------------------------- pdf_files --

class PdfFiles(Workload):
    name = "pdf_files"
    why = ("extract_pdf_files_chunked by path over one 1,600-page document "
           "and 1,024 generator documents: pdfb, probe, fan-out, reassembly")
    OP_LAYERS = ("extract.pdf_small_s", "extract.pdf_huge_s")
    BIG = "big"

    def setup(self) -> None:
        self.src = os.path.join(self.work, "pdf_src")
        with self.ledger.span("fixtures.generate"):
            docs = [(self.BIG, inputs.big_doc(self.seed))]
            docs += inputs.small_docs(self.seed)
            write_pdfs(self.src, docs)
        with self.ledger.span("reference"):
            self.ref, self.doc_ms, self.unencodable = reference_pass(docs)
        # documents that would abort every operation's job stay out of it;
        # every run counts each of them as attempted and failed
        with self.ledger.span("aborting_docs"):
            self.aborting = aborting_docs(self.spark, self.src,
                                          self.unencodable)
        self.names = [n for n in self.ref if n not in self.aborting]
        self.records_per_op = len(self.names)
        self.pages_per_op = sum(self.ref[n][1] for n in self.names)
        self.big_bytes = len(docs[0][1])
        self.n_links = 0
        self.last_errors: list[str] = []

    def prepare(self) -> str:
        # a path never used before in this process, so the operator's probe
        # cache misses
        self.n_links += 1
        return fresh_links(self.src, os.path.join(
            self.work, f"pdf_op{self.n_links:04d}"), self.names)

    def execute(self, d: str):
        return extract.extract_pdf_files_chunked(
            paths_df(self.spark, d, self.names),
            big_file_bytes=inputs.BIG_FILE_BYTES).toArrow()

    def check(self, table, k: int) -> None:
        cols = table.select(["doc_id", "text", "n_pages", "error"]).to_pydict()
        rows = [
            (os.path.basename(p)[:-len(".pdf")], t, n, e)
            for p, t, n, e in zip(cols["doc_id"], cols["text"],
                                  cols["n_pages"], cols["error"])
        ]
        self.last_errors = [e for *_, e in rows if e is not None]
        ran = {n: self.ref[n] for n in self.names}
        self.tally("document", ran, checks.pdf_failures(ran, rows),
                   f"op {k} documents")
        if self.aborting:
            self.tally("document", self.aborting, self.aborting,
                       f"op {k} documents that abort the job (known defect)",
                       wrong=False)

    def finish(self, d: str) -> None:
        shutil.rmtree(d)

    def layers(self) -> dict[str, float]:
        small = [n for n in self.names if n != self.BIG]
        m = pdf_layers(self.spark, self.ledger, self.work, self.src, small,
                       self.doc_ms, self.pages_per_op)
        m["count.docs_unencodable"] = len(self.unencodable)
        for e in self.last_errors:
            m[error_key(e)] = m.get(error_key(e), 0) + 1
        # the transcript and checkpoint layers, on a small seeded corpus
        corpus = inputs.make_corpus(self.seed, COMPANION_TURNS, 0)
        path = os.path.join(self.work, "companion_corpus")
        inputs.write_corpus(self.spark, corpus, path)
        turn_m = transcript_layers(
            self.spark, self.ledger, self.work, corpus, path,
            corpus.rows(corpus.sample(40, 0, "kernels")))
        for key in [k for k in turn_m if k.startswith("count.errors.")]:
            m[key] = m.get(key, 0) + turn_m.pop(key)
        m.update(turn_m)
        m.update(checkpoint_layers(
            self.spark, self.ledger, self.work, path,
            append_set(corpus, self.seed, APPEND_SHARE)))
        return m

    def sizes(self) -> dict:
        return {"documents": len(self.names),
                "documents_unencodable": self.unencodable,
                "documents_aborting_job": self.aborting,
                "big_doc_pages": inputs.BIG_PAGES,
                "big_doc_bytes": self.big_bytes,
                "pages": self.pages_per_op}


WORKLOADS = {w.name: w for w in (Transcripts, PdfFiles)}
