"""The extraction operator: transcripts -> per-turn extracted rows.

Spark shape: ``select`` (column pruning reaches the parquet/Iceberg scan) ->
optional even ``repartition`` (the map stage is embarrassingly parallel —
partitioning by (conv_id, turn_idx) spreads skewed conversations across
tasks, the analog of the reference's fixed page chunks,
lib/pdf-parse-processes.js:92-99) -> ``mapInPandas`` over Arrow batches
running the vectorized kernels. A custom per-turn kernel can replace the
default (the reference's ``pagerender``/``pagerenderModule`` extension point,
lib/pdf-parse.js:49,68 / index.d.ts:32); it must be an importable module
attribute, not a closure — the same serialization constraint the reference
enforces for its worker processes.
"""

from __future__ import annotations

import importlib
import json
import re
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parse_new_spark import spec

EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, role string, family string, "
    "extracted_text string, "
    "spans array<struct<start:int,end:int,kind:string>>, "
    "error string, n_pages int, info string"
)

# extended schema with per-batch lineage fields (partition-level metrics
# aggregate from these; X2 progress-callback analog). ``batch_seq`` is a
# per-task monotonic batch id: two batches with identical float timings stay
# distinct when the manifest sums per-batch kernel time.
EXTRACT_SCHEMA_LINEAGE = EXTRACT_SCHEMA + ", kernel_ms double, batch_seq long"

KernelFn = Callable[[pd.Series], pd.DataFrame]


def resolve_kernel(kernel: str | KernelFn | None) -> KernelFn:
    """Resolve the per-turn kernel. ``None`` -> default (the reference treats
    ``pagerender: null/undefined`` as the default kernel,
    lib/pdf-parse.js:68). A string ``"module:attr"`` is imported on the
    executor (pagerenderModule semantics)."""
    if kernel is None:
        from pdf_parse_new_spark import kernels

        return kernels.extract_batch
    if isinstance(kernel, str):
        mod, _, attr = kernel.partition(":")
        return getattr(importlib.import_module(mod), attr)
    return kernel


def extract_turns(
    df: DataFrame,
    kernel: str | KernelFn | None = None,
    partitions: int | None = None,
    with_lineage: bool = False,
    passthrough: tuple[str, ...] = (),
    max_payload_bytes: int | None = None,
) -> DataFrame:
    """Run the extraction kernel over every turn.

    ``partitions``: even repartition on (conv_id, turn_idx) before the map —
    defuses long-conversation skew for the compute stage without any shuffle
    of extracted output. At 100 TB this is the knob the planner sets from the
    stats probe (plans/planner.py).

    ``passthrough``: extra input columns carried through unchanged (e.g.
    ``("ts",)`` so streaming consumers keep event time without a re-join).

    ``max_payload_bytes``: wall-clock/memory guard — payloads longer than
    this become ``payload-too-large`` error rows without parsing (the
    distributed analog of the reference's per-chunk 120 s timeout -> SIGKILL,
    lib/pdf-parse-processes.js:41,170-180: bound the damage of one
    pathological input, never fail the job).
    """
    kernel_ref = kernel if isinstance(kernel, (str, type(None))) else kernel
    cols = df.select("conv_id", "turn_idx", "role", "text", *passthrough)
    if partitions:
        cols = cols.repartition(partitions, "conv_id", "turn_idx")

    schema = EXTRACT_SCHEMA_LINEAGE if with_lineage else EXTRACT_SCHEMA
    by_name = {f.name: f for f in df.schema.fields}
    for name in passthrough:
        schema += f", {name} {by_name[name].dataType.simpleString()}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = resolve_kernel(kernel_ref)
        for batch_seq, pdf in enumerate(batches):
            t0 = time.perf_counter()
            texts = pdf["text"]
            oversize = None
            if max_payload_bytes is not None:
                # UTF-8 byte length, not characters — the knob is a memory
                # guard, and multi-byte payloads would otherwise slip past it
                oversize = (
                    texts.fillna("").str.encode("utf-8").str.len()
                    > max_payload_bytes
                )
                texts = texts.mask(oversize, "")
            res = fn(texts)
            if oversize is not None and oversize.any():
                res.loc[oversize, "extracted_text"] = ""
                res.loc[oversize, "error"] = "payload-too-large"
                res.loc[oversize, "family"] = spec.FAM_CORRUPT
                res.loc[oversize, "spans"] = res.loc[oversize, "spans"].map(
                    lambda _: []
                )
            out = pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "role": pdf["role"],
                    "family": res["family"],
                    "extracted_text": res["extracted_text"],
                    "spans": res["spans"],
                    "error": res["error"],
                    "n_pages": res["n_pages"],
                    # P2: per-turn document metadata (/Info JSON or null,
                    # reference Result.info, lib/pdf-parse.js:91-96)
                    "info": res["info"],
                }
            )
            if with_lineage:
                out["kernel_ms"] = (time.perf_counter() - t0) * 1e3
                out["batch_seq"] = batch_seq
            for name in passthrough:
                out[name] = pdf[name]
            yield out

    return cols.mapInPandas(run, schema)


# --------------------------------------------------------------------------
# real binary PDF documents (the reference's own corpus format)
# --------------------------------------------------------------------------

PDF_DOC_SCHEMA = (
    "doc_id string, text string, n_pages int, n_render int, "
    "info string, error string, "
    "page_spans array<struct<page:int,start:int,end:int>>"
)

# any surrogate code point: a ToUnicode map can emit D800-DFFF code units
# that pdf.js's JS strings carry but UTF-8 (Arrow, Parquet) cannot
_SURROGATE = re.compile("[\ud800-\udfff]")


def _pdf_row(r: dict | None, error: str | None = None) -> tuple:
    """The PDF operators' row fields ``(text, n_pages, n_render, info,
    error, page_spans)`` of one ``parse_pdf_bytes`` result — or, with
    ``r=None``, an empty row carrying ``error``. Surrogates in the text
    become U+FFFD one code point for one, so ``page_spans`` offsets hold
    and one such document cannot abort the job's Arrow encoding."""
    if r is None:
        return ("", 0, 0, "{}", error, [])
    text = r["text"]
    if not text.isascii():
        text = _SURROGATE.sub("\ufffd", text)
    return (
        text, r["n_pages"], r["n_render"],
        json.dumps(r["info"], sort_keys=True), r["error"],
        [{"page": p, "start": st, "end": en} for p, st, en in r["page_spans"]],
    )


def _pdf_record_batch(ids: list, rows: list[tuple]):
    """``PDF_DOC_SCHEMA`` Arrow batch of ``doc_id``s and their
    :func:`_pdf_row` rows."""
    import pyarrow as pa

    span_t = pa.list_(
        pa.struct(
            [("page", pa.int32()), ("start", pa.int32()), ("end", pa.int32())]
        )
    )
    types = (pa.string(), pa.int32(), pa.int32(), pa.string(), pa.string(),
             span_t)
    cols = list(zip(*rows)) or [()] * len(types)
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.string())]
        + [pa.array(c, t) for c, t in zip(cols, types)],
        names=["doc_id", "text", "n_pages", "n_render", "info", "error",
               "page_spans"],
    )


def extract_pdf_documents(
    df: DataFrame,
    payload_col: str = "content",
    id_col: str = "path",
    max_pages: int = 0,
    partitions: int | None = None,
    max_payload_bytes: int | None = 512 << 20,
) -> DataFrame:
    """Real binary PDFs (``binary`` column, e.g. from
    ``spark.read.format("binaryFile")``) -> one row per document with the
    reference's Result fields: text (pages joined with a leading "\\n\\n"
    each), numpages/numrender, the /Info dict as a JSON string, error.

    Mirrors lib/pdf-parse.js PDF(): a failing page contributes "" (the
    .catch at :131-133), a structurally-broken document yields an error ROW
    — never a task failure. Spark shape: column-pruned scan ->
    embarrassingly-parallel ``mapInArrow`` (no shuffle, and no
    Arrow->pandas conversion of megabyte binary cells — payloads are read
    straight off the Arrow buffers); at 100 TB the parallelism comes from
    the file-source split, with ``partitions`` as an explicit rebalance
    knob for skewed file sizes."""
    from pdf_parse_new_spark.kernels import pdfb

    cols = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(payload_col).alias("payload"),
    )
    if partitions:
        cols = cols.repartition(partitions, "doc_id")

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            ids = batch.column(0).to_pylist()
            payloads = batch.column(1)
            rows = []
            for i in range(len(ids)):
                v = payloads[i]
                raw = v.as_py() if v.is_valid else b""
                if max_payload_bytes is not None and len(raw) > max_payload_bytes:
                    # same guard philosophy as extract_turns: one
                    # pathological input becomes an error row, never an
                    # executor OOM (default 512 MB, far above any sane PDF)
                    rows.append(_pdf_row(None, "payload-too-large"))
                    continue
                rows.append(
                    _pdf_row(pdfb.parse_pdf_bytes(raw, max_pages=max_pages))
                )
            yield _pdf_record_batch(ids, rows)

    return cols.mapInArrow(run, PDF_DOC_SCHEMA)


def extract_pdf_files(
    df: DataFrame,
    path_col: str = "path",
    id_col: str | None = None,
    max_pages: int = 0,
    partitions: int | None = None,
    max_payload_bytes: int | None = 512 << 20,
) -> DataFrame:
    """Like :func:`extract_pdf_documents`, but rows carry file PATHS and
    each task reads the bytes itself (``fsspec`` when importable — s3/gcs/
    hdfs URLs — else ``open``). The reference benchmark reads files from
    disk (lib/pdf-parse.js getDocument(url)); this is its Spark analog and
    the preferred shape for binary-heavy corpora at scale: PDF payloads
    never enter the JVM at all, so there is no JVM heap double-buffering
    and no executor->Python Arrow copy of megabyte cells — only path
    strings flow through the plan. An unreadable file becomes an error row
    (``io:<ExceptionName>``), never a task failure.

    ``id_col`` defaults to the path itself. Dedupe of repeated paths is
    deliberate non-behavior: each row parses independently (replicated
    benchmark corpora rely on it)."""
    from pdf_parse_new_spark.kernels import pdfb

    cols = df.select(
        F.col(id_col if id_col else path_col).cast("string").alias("doc_id"),
        F.col(path_col).cast("string").alias("path"),
    )
    if partitions:
        cols = cols.repartition(partitions, "doc_id")

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        fetch = _make_fetcher()

        for batch in batches:
            ids = batch.column(0).to_pylist()
            paths = batch.column(1).to_pylist()
            rows = []
            for i in range(len(ids)):
                err = None
                try:
                    raw = fetch(paths[i]) if paths[i] is not None else b""
                except Exception as e:  # noqa: BLE001 — error row, not task
                    raw, err = b"", f"io:{type(e).__name__}"
                if err is None and max_payload_bytes is not None \
                        and len(raw) > max_payload_bytes:
                    err = "payload-too-large"
                if err is not None:
                    rows.append(_pdf_row(None, err))
                    continue
                rows.append(
                    _pdf_row(pdfb.parse_pdf_bytes(raw, max_pages=max_pages))
                )
            yield _pdf_record_batch(ids, rows)

    return cols.mapInArrow(run, PDF_DOC_SCHEMA)


# --------------------------------------------------------------------------
# intra-document parallelism: page-range chunking for huge PDFs
# --------------------------------------------------------------------------

# payload broadcasts are content-addressed and reused across operator calls:
# first use pays the per-executor distribution cost once; steady-state reruns
# (and best-of-N benches) hit the already-distributed copy. Bounded LRU —
# evicted entries are unpersisted so executors drop the blocks.
_BC_CACHE: dict = {}
_BC_CACHE_MAX = 4
# driver-side structure probes, content-addressed: sha1(payload) -> result
_PROBE_CACHE: dict = {}
# path-addressed probe results, validated by (mtime_ns, size)
_FILE_PROBE_CACHE: dict = {}


def _broadcast_cached(sc, payloads: dict):
    import hashlib

    h = hashlib.sha1()
    for doc_id in sorted(payloads):
        h.update(doc_id.encode())
        h.update(payloads[doc_id])
    key = (sc.applicationId, h.hexdigest())
    bc = _BC_CACHE.get(key)
    if bc is None:
        bc = sc.broadcast(payloads)
        _BC_CACHE[key] = bc
        while len(_BC_CACHE) > _BC_CACHE_MAX:
            old_key = next(iter(_BC_CACHE))
            old = _BC_CACHE.pop(old_key)
            try:
                old.unpersist()
            except Exception:
                pass
    return bc


_CHUNK_SCHEMA = (
    "doc_id string, chunk_idx int, text string, n_pages int, n_render int, "
    "info string, error string, "
    "page_spans array<struct<page:int,start:int,end:int>>"
)
_CHUNK_COLUMNS = [
    "doc_id", "chunk_idx", "text", "n_pages", "n_render", "info", "error",
    "page_spans",
]


# payload bytes per driver collect: the broadcast budget (2 GiB by default)
# can exceed what one Arrow binary column addresses (int32 offsets)
_COLLECT_GROUP_BYTES = 1 << 30


def _collect_payloads(
    big_df: DataFrame, ids: list[str], sizes: dict[str, int]
) -> Iterator[tuple[str, bytes]]:
    """``(doc_id, payload)`` of the ``ids`` rows of ``big_df``, collected
    as Arrow: a Row collect pickles every payload in the JVM (a 25 MB
    document: ~0.9 s, vs ~0.25 s as Arrow). One collect per group of at
    most ``_COLLECT_GROUP_BYTES``."""
    groups: list[list[str]] = [[]]
    total = 0
    for doc_id in ids:
        if groups[-1] and total + sizes[doc_id] > _COLLECT_GROUP_BYTES:
            groups.append([])
            total = 0
        groups[-1].append(doc_id)
        total += sizes[doc_id]
    for group in groups:
        table = big_df.filter(F.col("doc_id").isin(group)).toArrow()
        yield from zip(
            table.column("doc_id").to_pylist(),
            (p or b"" for p in table.column("payload").to_pylist()),
        )


def extract_pdf_documents_chunked(
    df: DataFrame,
    payload_col: str = "content",
    id_col: str = "path",
    pages_per_chunk: int = 200,
    max_pages: int = 0,
    big_doc_bytes: int = 8 << 20,
    max_broadcast_bytes: int = 2 << 30,
) -> DataFrame:
    """``extract_pdf_documents`` with INTRA-document parallelism for huge
    PDFs — the Spark analog of the reference's process strategy, which fans
    fixed page ranges ``{start, end, index}`` to worker processes that each
    extract only ``[start..end)`` (lib/pdf-parse-processes.js:92-99,
    lib/pdf-child.js:83-97). Without this, one pathological 10k-page
    document serializes onto a single task.

    Spark shape (SURVEY §3.3: "document bytes broadcast, ranges as rows"):

    - documents <= ``big_doc_bytes`` take the normal per-document path;
    - bigger ones are collected (bounded by ``max_broadcast_bytes``; docs
      past the budget fall back to the per-document path — never fail),
      page-counted once on the driver (structure walk only, no content
      decode — the reference parent also opens the doc once for numpages),
      and BROADCAST — one copy per executor, not per chunk row and no
      payload shuffle;
    - the (doc_id, chunk_idx, start, end) ranges become one row and one
      partition each; each task parses only its range;
    - reassembly is pure JVM: sort_array(collect_list(...)) per doc, text
      concat, span offsets shifted by the cumulative length of preceding
      chunks (the ordered-concat J1 shape).

    Output is byte-identical to ``extract_pdf_documents`` (asserted by the
    U3-style equivalence test in tests/test_pdf_chunking.py)."""
    from pdf_parse_new_spark.kernels import pdfb

    spark = df.sparkSession
    sc = spark.sparkContext
    # coalesce: length(NULL) is NULL, which is false in BOTH branch filters
    # — a null-payload row must still reach the per-document path (it
    # becomes an error row there, never silently dropped)
    payload_len = F.coalesce(F.length(F.col(payload_col)), F.lit(0))
    small_df = df.filter(payload_len <= big_doc_bytes)
    big_df = df.filter(payload_len > big_doc_bytes).select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(payload_col).alias("payload"),
    )

    # pass 1: sizes only — never collect a payload the budget can't hold
    sizes = big_df.select("doc_id", F.length("payload").alias("sz")).collect()
    budget = max_broadcast_bytes
    chosen: list[str] = []
    fallback_ids: list[str] = []
    # Duplicate ids (replicated benchmark corpora produce them, and
    # extract_pdf_files explicitly supports them) cannot go through the
    # chunked path: reassembly groups chunk rows by doc_id, which would
    # merge the replicas into ONE doubled-text row. The per-document
    # fallback keeps the one-output-row-per-input-row contract.
    id_counts: dict[str, int] = {}
    for row in sizes:
        id_counts[row.doc_id] = id_counts.get(row.doc_id, 0) + 1
    for row in sorted(sizes, key=lambda r: -(r.sz or 0)):
        if id_counts[row.doc_id] > 1:
            if row.doc_id not in fallback_ids:
                fallback_ids.append(row.doc_id)
        elif (row.sz or 0) <= budget:
            chosen.append(row.doc_id)
            budget -= row.sz or 0
        else:  # over budget: the per-document path owns it — never fail
            fallback_ids.append(row.doc_id)

    payloads: dict[str, bytes] = {}
    ranges: list[tuple[str, int, int, int]] = []  # (doc_id, idx, start, end)
    if chosen:
        import hashlib

        sz = {row.doc_id: row.sz or 0 for row in sizes}
        for doc_id, raw in _collect_payloads(big_df, chosen, sz):
            # structure-only probe (page_range=(0,0) renders nothing): the
            # driver learns n_pages once, like the reference parent process.
            # Content-addressed cache: re-running the operator on the same
            # document (benches, retries) skips the re-probe.
            pkey = (hashlib.sha1(raw).hexdigest(), max_pages)
            cached = _PROBE_CACHE.get(pkey)
            if cached is None:
                probe = pdfb.parse_pdf_bytes(raw, max_pages=max_pages,
                                             page_range=(0, 0))
                n_render = (
                    probe["n_pages"] if max_pages <= 0
                    else min(max_pages, probe["n_pages"])
                )
                cached = (probe["error"], n_render)
                _PROBE_CACHE[pkey] = cached
                while len(_PROBE_CACHE) > 64:
                    _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
            err, n_render = cached
            if err is not None or n_render <= 0:
                fallback_ids.append(doc_id)
                continue
            payloads[doc_id] = raw
            for idx, start in enumerate(range(0, n_render, pages_per_chunk)):
                ranges.append(
                    (doc_id, idx, start,
                     min(start + pages_per_chunk, n_render))
                )

    small_out = extract_pdf_documents(
        small_df, payload_col=payload_col, id_col=id_col, max_pages=max_pages
    )
    if fallback_ids:
        fb = big_df.filter(F.col("doc_id").isin(fallback_ids))
        small_out = small_out.unionByName(
            extract_pdf_documents(
                fb, payload_col="payload", id_col="doc_id",
                max_pages=max_pages,
            )
        )
    if not ranges:
        return small_out

    bc = _broadcast_cached(sc, payloads)
    # EXACTLY one chunk per partition: round-robin repartition() starts each
    # input split at a random offset, so 16 chunk rows can land on 8 tasks
    # (measured: one task got 5 chunks -> 5x serial parse). spark.range
    # with numPartitions=len(ranges) is deterministic 1:1, and its rows are
    # indices into ``ranges`` (shipped with the function): a parallelize()d
    # list would be re-read through a second Python worker in every chunk
    # task (measured at local[8] on 4 vCPUs, 16 chunks of a 10,000-page
    # document: chunk stage 3.4-3.9 s -> 2.2-2.5 s).
    range_df = spark.range(len(ranges), numPartitions=min(len(ranges), 8192))

    def run_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        docs = bc.value
        for pdf in batches:
            recs = []
            for doc_id, idx, start, end in (ranges[i] for i in pdf["id"]):
                r = pdfb.parse_pdf_bytes(
                    docs[doc_id], max_pages=max_pages,
                    page_range=(start, end),
                )
                recs.append((doc_id, idx, *_pdf_row(r)))
            yield pd.DataFrame(recs, columns=_CHUNK_COLUMNS)

    chunked = range_df.mapInPandas(run_chunks, _CHUNK_SCHEMA)
    return small_out.unionByName(_assemble_chunks(chunked))


def _reassemble_arrow(table):
    # per-doc ordered concat: a few chunk rows per group, so the state is
    # bounded. Python string join is a memcpy (the JVM higher-order
    # expression version measured ~15 MB/s on 40 MB of page text), and the
    # span shift runs on the flattened Arrow buffers with numpy — the
    # per-dict pandas version cost ~0.5 s on a 20k-page document's 20k
    # span structs.
    import numpy as np
    import pyarrow as pa

    idx = np.argsort(table.column("chunk_idx").to_numpy(), kind="stable")
    order = pa.array(idx)
    texts = table.column("text").take(order).to_pylist()
    text = "".join(t or "" for t in texts)
    err = None
    for e in table.column("error").take(order).to_pylist():
        if e is not None:
            err = e
            break
    spans = table.column("page_spans").take(order).combine_chunks()
    lens = np.diff(spans.offsets.to_numpy())
    # offset of each chunk's text inside the joined text, repeated per span
    text_lens = np.fromiter((len(t or "") for t in texts), np.int64,
                            count=len(texts))
    chunk_off = np.concatenate(([0], np.cumsum(text_lens)[:-1]))
    shift = np.repeat(chunk_off, lens).astype(np.int32)
    vals = spans.flatten()
    out_vals = pa.StructArray.from_arrays(
        [
            vals.field("page"),
            pa.array(vals.field("start").to_numpy() + shift, pa.int32()),
            pa.array(vals.field("end").to_numpy() + shift, pa.int32()),
        ],
        names=["page", "start", "end"],
    )
    span_list = pa.ListArray.from_arrays(
        pa.array([0, len(out_vals)], pa.int32()), out_vals
    )
    first = int(idx[0])
    return pa.table(
        {
            "doc_id": pa.array([table.column("doc_id")[first].as_py()]),
            "text": pa.array([text]),
            "n_pages": table.column("n_pages").take(pa.array([first])),
            "n_render": pa.array(
                [int(table.column("n_render").to_numpy().sum())], pa.int32()
            ),
            "info": table.column("info").take(pa.array([first])),
            "error": pa.array([err], pa.string()),
            "page_spans": span_list,
        }
    )


def _assemble_chunks(chunked: DataFrame) -> DataFrame:
    return chunked.groupBy("doc_id").applyInArrow(
        _reassemble_arrow, PDF_DOC_SCHEMA
    )


def _make_fetcher():
    """Task-local path->bytes reader: fsspec for URL schemes when present,
    plain open otherwise, with a small per-task blob cache for replicated
    corpora."""
    try:
        import fsspec
    except Exception:
        fsspec = None
    cache: dict[str, bytes] = {}
    budget = [256 << 20]  # total cached bytes per task — NOT per entry:
    # 64 arbitrary-size entries could pin tens of GB on a wide corpus

    def fetch(path: str) -> bytes:
        raw = cache.get(path)
        if raw is None:
            if fsspec is not None and "://" in path:
                with fsspec.open(path, "rb") as f:
                    raw = f.read()
            else:
                with open(path.removeprefix("file:"), "rb") as f:
                    raw = f.read()
            if len(cache) < 64 and len(raw) <= budget[0]:
                cache[path] = raw
                budget[0] -= len(raw)
        return raw

    return fetch


def extract_pdf_files_chunked(
    df: DataFrame,
    path_col: str = "path",
    id_col: str | None = None,
    pages_per_chunk: int = 200,
    max_pages: int = 0,
    big_file_bytes: int = 8 << 20,
) -> DataFrame:
    """Intra-document parallelism for huge PDFs addressed by PATH — the
    closest Spark analog of the reference's process strategy, where each
    child opens the FILE and extracts only its ``{start, end}`` page range
    (lib/pdf-parse-processes.js:92-99, lib/pdf-child.js:83-97).

    Unlike :func:`extract_pdf_documents_chunked` (payload column ->
    driver collect + broadcast, costs that scale with document size), here
    NOTHING but path strings and tiny range rows ever moves: a distributed
    stat sizes the files, a one-task-per-file probe page-counts the big
    ones, chunk tasks read the file themselves (page cache / object store)
    and parse only their range, and the ordered reassembly shuffles just
    the extracted text. Driver-side work is two small collects regardless
    of file size. Small files take the plain :func:`extract_pdf_files`
    path. Output is row-identical to ``extract_pdf_files``."""
    from pdf_parse_new_spark.kernels import pdfb

    spark = df.sparkSession
    sc = spark.sparkContext
    cols = df.select(
        F.col(id_col if id_col else path_col).cast("string").alias("doc_id"),
        F.col(path_col).cast("string").alias("path"),
    )

    def _stat_one(p, fsspec, _os):
        try:
            if p is None:
                return -1
            if fsspec is not None and "://" in p:
                return int(fsspec.open(p).fs.size(p))
            return int(_os.stat(p.removeprefix("file:")).st_size)
        except Exception:
            return -1  # unreadable: error row downstream

    def _probe_one(p, fetch):
        # structure probe (page_range=(0,0) renders nothing — xref +
        # page tree only), cached on (path, mtime, size) so steady-state
        # reruns skip the re-walk (same policy as the payload-addressed
        # _PROBE_CACHE of the documents operator)
        import os as _os

        key = None
        try:
            st = _os.stat(p.removeprefix("file:"))
            key = (p, st.st_mtime_ns, st.st_size, max_pages)
            hit = _FILE_PROBE_CACHE.get(key)
            if hit is not None:
                return hit
        except Exception:
            pass
        try:
            r = pdfb.parse_pdf_bytes(
                fetch(p), max_pages=max_pages, page_range=(0, 0)
            )
            n = (r["n_pages"] if max_pages <= 0
                 else min(max_pages, r["n_pages"]))
            res = (n, r["error"])
        except Exception as e:  # noqa: BLE001
            res = (0, f"io:{type(e).__name__}")
        if key is not None:
            _FILE_PROBE_CACHE[key] = res
            while len(_FILE_PROBE_CACHE) > 256:
                _FILE_PROBE_CACHE.pop(next(iter(_FILE_PROBE_CACHE)))
        return res

    def stat_probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE distributed pass stats every path AND structure-probes the
        # big ones in place: the separate probe job this replaces cost a
        # full extra driver round-trip on the critical path. A big file
        # later excluded as a duplicate id wastes its (cheap) probe —
        # duplicates are rare and the probe is structure-only.
        import os as _os

        try:
            import fsspec
        except Exception:
            fsspec = None
        fetch = _make_fetcher()
        for pdf in batches:
            sizes, npages, errs = [], [], []
            for p in pdf["path"]:
                sz = _stat_one(p, fsspec, _os)
                n, err = (
                    _probe_one(p, fetch) if sz > big_file_bytes else (0, None)
                )
                sizes.append(sz)
                npages.append(n)
                errs.append(err)
            out = pdf[["doc_id", "path"]].copy()
            out["sz"] = sizes
            out["n_render"] = npages
            out["err"] = errs
            yield out

    # Path A (small local corpora): collect the path rows once and stat +
    # probe on the driver — the distributed pass costs a full Python-runner
    # job (~0.5 s of fixed latency) that dwarfs a handful of os.stat calls
    # and one or two structure probes (the reference parent process probes
    # exactly the same way). Path B (big or remote corpora): the one-job
    # distributed stat+probe pass. The collect is bounded the same way in
    # both paths — Path B's result set carries the same (id, path) rows.
    rows = cols.collect()
    local_only = all(
        r.path is None or "://" not in r.path for r in rows
    )
    use_driver = local_only and len(rows) <= 10_000
    if use_driver:
        import os as _os

        from collections import namedtuple

        StatRow = namedtuple("StatRow", "doc_id path sz n_render err")
        fetch = _make_fetcher()
        stats = []
        n_driver_probes = 0
        for r in rows:
            sz = _stat_one(r.path, None, _os)
            n, err = 0, None
            if sz > big_file_bytes:
                if n_driver_probes >= 8:
                    use_driver = False  # too many big docs: probe on the grid
                    break
                n, err = _probe_one(r.path, fetch)
                n_driver_probes += 1
            stats.append(StatRow(r.doc_id, r.path, sz, n, err))
    if use_driver:
        # the plain-path branch re-reads its input on every action; the
        # original df is a driver-local relation here (rows just
        # collected), so rebuild it as a LocalTableScan — the
        # python-pickled-RDD scan behind a list-based createDataFrame
        # costs ~0.3 s of worker round-trip per action and its lone task
        # contends with the chunk wave for a core
        cols = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [r.doc_id for r in rows],
                    "path": [r.path for r in rows],
                }
            ).astype(object),
            "doc_id string, path string",
        )
    else:
        stats = cols.mapInPandas(
            stat_probe,
            "doc_id string, path string, sz long, n_render int, err string",
        ).collect()
    big_all = [r for r in stats if r.sz > big_file_bytes]
    # Duplicate ids (replicated corpora — extract_pdf_files supports
    # them) must NOT go chunked: reassembly groups by doc_id and would
    # merge replicas into one doubled-text row. Dup ids keep the plain
    # per-file path, preserving one output row per input row.
    id_counts: dict[str, int] = {}
    for r in big_all:
        id_counts[r.doc_id] = id_counts.get(r.doc_id, 0) + 1
    big = [r for r in big_all if id_counts[r.doc_id] == 1]
    big_ids = {r.doc_id for r in big}

    small_out = extract_pdf_files(
        # coalesce: NULL doc_id (null path) must keep its error row — a
        # bare ~isin() is NULL for NULL and would silently drop it
        cols.filter(
            F.coalesce(~F.col("doc_id").isin(list(big_ids)), F.lit(True))
            if big_ids else F.lit(True)
        ),
        path_col="path", id_col="doc_id",
        max_pages=max_pages,
    )
    if not big:
        return small_out

    ranges: list[tuple[str, str, int, int, int]] = []
    fallback_ids: list[str] = []
    for r in big:
        if r.err is not None or r.n_render <= 0:
            fallback_ids.append(r.doc_id)  # error row via the plain path
            continue
        for idx, start in enumerate(range(0, r.n_render, pages_per_chunk)):
            ranges.append(
                (r.doc_id, r.path, idx, start,
                 min(start + pages_per_chunk, r.n_render))
            )
    if fallback_ids:
        small_out = small_out.unionByName(
            extract_pdf_files(
                cols.filter(F.col("doc_id").isin(fallback_ids)),
                path_col="path", id_col="doc_id", max_pages=max_pages,
            )
        )
    if not ranges:
        return small_out

    range_df = spark.createDataFrame(
        sc.parallelize(ranges, min(len(ranges), 8192)),
        "doc_id string, path string, chunk_idx int, start int, end int",
    )

    def run_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = _make_fetcher()
        for pdf in batches:
            recs = []
            for doc_id, path, idx, start, end in zip(
                pdf["doc_id"], pdf["path"], pdf["chunk_idx"], pdf["start"],
                pdf["end"],
            ):
                try:
                    raw = fetch(path)
                except Exception as e:  # noqa: BLE001
                    recs.append((doc_id, int(idx),
                                 *_pdf_row(None, f"io:{type(e).__name__}")))
                    continue
                r = pdfb.parse_pdf_bytes(
                    raw, max_pages=max_pages,
                    page_range=(int(start), int(end)),
                )
                recs.append((doc_id, int(idx), *_pdf_row(r)))
            yield pd.DataFrame(recs, columns=_CHUNK_COLUMNS)

    chunked = range_df.mapInPandas(run_chunks, _CHUNK_SCHEMA)
    return small_out.unionByName(_assemble_chunks(chunked))
