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
import itertools
import json
import os
import re
import time
from collections.abc import Callable, Iterator
from typing import NamedTuple

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
    cols = df.select("conv_id", "turn_idx", "role", "text", *passthrough)
    if partitions:
        cols = cols.repartition(partitions, "conv_id", "turn_idx")

    schema = EXTRACT_SCHEMA_LINEAGE if with_lineage else EXTRACT_SCHEMA
    by_name = {f.name: f for f in df.schema.fields}
    for name in passthrough:
        schema += f", {name} {by_name[name].dataType.simpleString()}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = resolve_kernel(kernel)
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
_PDF_COLUMNS = [c.split()[0] for c in PDF_DOC_SCHEMA.split(", ")]

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


def _pdf_record_batch(ids: list, rows: list[tuple], units: list | None = None):
    """``PDF_DOC_SCHEMA`` Arrow batch of ``doc_id``s and their
    :func:`_pdf_row` rows; with ``units``, the ``(chunk_idx, n_units)`` of
    each row follow ``doc_id`` (``_UNIT_SCHEMA``)."""
    import pyarrow as pa

    span_t = pa.list_(
        pa.struct(
            [("page", pa.int32()), ("start", pa.int32()), ("end", pa.int32())]
        )
    )
    types = (pa.string(), pa.int32(), pa.int32(), pa.string(), pa.string(),
             span_t)
    cols = list(zip(*rows)) or [()] * len(types)
    arrays = [pa.array(ids, pa.string())]
    names = _PDF_COLUMNS[:1]
    if units is not None:
        idx, n = zip(*units) if units else ((), ())
        arrays += [pa.array(idx, pa.int32()), pa.array(n, pa.int32())]
        names += ["chunk_idx", "n_units"]
    return pa.RecordBatch.from_arrays(
        arrays + [pa.array(c, t) for c, t in zip(cols, types)],
        names=names + _PDF_COLUMNS[1:],
    )


def _parse_unit(
    read: Callable[[object], bytes],
    key,
    max_pages: int,
    page_range: tuple[int, int] | None = None,
    max_payload_bytes: int | None = 512 << 20,
) -> tuple:
    """:func:`_pdf_row` of one work unit: the bytes ``read(key)`` returns,
    parsed whole or, with ``page_range``, over that range only. A read
    error becomes an ``io:<ExceptionName>`` row, and a whole document over
    ``max_payload_bytes`` a ``payload-too-large`` row — the guard
    philosophy of extract_turns: one pathological input is an error row,
    never a task failure or an executor OOM (default 512 MB, far above any
    sane PDF)."""
    from pdf_parse_new_spark.kernels import pdfb

    try:
        raw = read(key)
    except Exception as e:  # noqa: BLE001 — error row, not task
        return _pdf_row(None, f"io:{type(e).__name__}")
    if page_range is None and max_payload_bytes is not None \
            and len(raw) > max_payload_bytes:
        return _pdf_row(None, "payload-too-large")
    return _pdf_row(
        pdfb.parse_pdf_bytes(raw, max_pages=max_pages, page_range=page_range)
    )


def _scalar_bytes(v) -> bytes:
    """The bytes of one Arrow binary scalar; a NULL payload parses as
    empty bytes and becomes an error row."""
    return v.as_py() if v.is_valid else b""


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
    cols = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(payload_col).alias("payload"),
    )
    if partitions:
        cols = cols.repartition(partitions, "doc_id")
    return _parse_stage(df.sparkSession, [], [], cols, None,
                        lambda: (None, _scalar_bytes), max_pages,
                        max_payload_bytes)


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
    cols = df.select(
        F.col(id_col if id_col else path_col).cast("string").alias("doc_id"),
        F.col(path_col).cast("string").alias("path"),
    )
    if partitions:
        cols = cols.repartition(partitions, "doc_id")
    return _parse_stage(df.sparkSession, [], [], cols, None, _file_readers,
                        max_pages, max_payload_bytes)


# --------------------------------------------------------------------------
# intra-document parallelism: page-range chunking for huge PDFs
# --------------------------------------------------------------------------

# payload bytes per driver collect: the broadcast budget (2 GiB by default)
# can exceed what one Arrow binary column addresses (int32 offsets)
_COLLECT_GROUP_BYTES = 1 << 30


def _collect_payloads(
    big_df: DataFrame, ids: list[str], sizes: dict[str, int]
) -> Iterator[tuple[str, bytes]]:
    """``(doc_id, payload)`` of the ``ids`` rows of ``big_df``, collected
    as Arrow: a Row collect pickles every payload in the JVM (a 25 MB
    document: ~0.9 s, vs ~0.25 s as Arrow). One collect per group of at
    most ``_COLLECT_GROUP_BYTES``; none for no ``ids``."""
    groups: list[list[str]] = []
    total = 0
    for doc_id in ids:
        if not groups or total + sizes[doc_id] > _COLLECT_GROUP_BYTES:
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


def _probe_pages(raw: bytes, max_pages: int) -> tuple[int, str | None]:
    """``(n_pages, error)`` of one document from a structure-only probe:
    ``page_range=(0, 0)`` walks xref and the whole page tree and renders
    nothing — the reference parent process also opens the document once
    for numpages."""
    from pdf_parse_new_spark.kernels import pdfb

    r = pdfb.parse_pdf_bytes(raw, max_pages=max_pages, page_range=(0, 0))
    return r["n_pages"], r["error"]


def _unique_big_ids(big: list[tuple[str | None, int]]) -> list[str]:
    """The ids of ``big``, the ``(doc_id, size)`` rows over a chunked
    operator's size bar, that may go chunked, largest first. Duplicate ids
    (replicated benchmark corpora produce them, and the plain operators
    keep one output row per input row) cannot: reassembly groups chunk rows
    by doc_id, which would merge the replicas into ONE doubled-text row.
    Neither can a NULL id."""
    n_rows: dict[str | None, int] = {}
    for doc_id, _ in big:
        n_rows[doc_id] = n_rows.get(doc_id, 0) + 1
    return [
        doc_id for doc_id, _ in sorted(big, key=lambda r: -r[1])
        if doc_id is not None and n_rows[doc_id] == 1
    ]


class _Unit(NamedTuple):
    """One unit of parse work: a whole document (``page_range`` None,
    ``n_units`` 1) or one page range of a chunked document. ``key`` is what
    the operator's task-side read takes (a path, or a broadcast payload's
    id); ``cost`` is the estimated parse cost (file bytes times the range's
    share of pages); ``n_pages`` is a chunked document's probed page
    count."""

    doc_id: str | None
    key: object
    cost: float
    idx: int = 0
    n_units: int = 1
    page_range: tuple[int, int] | None = None
    n_pages: int | None = None


# a parse task's unit rows, before the merge: ``chunk_idx``/``n_units``
# place a range row in its document, and a row with ``n_units`` 1 is final
_UNIT_SCHEMA = (
    "doc_id string, chunk_idx int, n_units int, "
    + PDF_DOC_SCHEMA.removeprefix("doc_id string, ")
)
# unit rows per Arrow batch a parse task yields: a bucket can hold
# thousands of whole documents, so its text streams out in slices
_UNITS_PER_BATCH = 64


def _chunk_ranges(
    plans: list[tuple[str, object, int, int, str | None]],
    pages_per_chunk: int,
    max_pages: int,
) -> list[_Unit]:
    """The page-range units of ``plans``, the ``(doc_id, key, size,
    n_pages, error)`` structure probes of big documents whose ids are
    unique: fixed ranges ``{start, end, index}`` over the first ``n_render``
    pages (lib/pdf-parse-processes.js:92-99), none for a probe error or
    zero pages. Every range carries the probe's full-walk ``n_pages``: a
    range parse can take a lying root ``/Count`` for it."""
    out = []
    for doc_id, key, size, n_pages, err in plans:
        n_render = n_pages if max_pages <= 0 else min(max_pages, n_pages)
        if err is not None or n_render <= 0:
            continue
        starts = range(0, n_render, pages_per_chunk)
        for idx, start in enumerate(starts):
            end = min(start + pages_per_chunk, n_render)
            out.append(_Unit(doc_id, key, size * (end - start) / n_render,
                             idx, len(starts), (start, end), n_pages))
    return out


def _pack_units(units: list[_Unit], slots: int) -> list[list[_Unit]]:
    """``units`` in parse buckets, one task each: longest first (by
    ``cost``) into the least-loaded bucket, and a range only into a bucket
    that holds fewer than 2 ranges. There are ``max(slots, ceil(ranges /
    2))`` buckets, at most one per unit: the floor keeps one document's
    ranges spread however few task slots exist at plan time. Ties go to
    the bucket with fewer units, then the lower index, so the packing is
    deterministic and zero-cost units spread too."""
    import heapq

    n_ranges = sum(u.page_range is not None for u in units)
    n = min(len(units), max(slots, -(-n_ranges // 2)))
    buckets: list[list[_Unit]] = [[] for _ in range(n)]
    held = [0] * n  # ranges per bucket
    heap = [(0.0, 0, b) for b in range(n)]  # (load, units, bucket)
    # sorted() is stable: input order breaks cost ties
    for u in sorted(units, key=lambda u: -u.cost):
        skipped = []
        while u.page_range is not None and held[heap[0][2]] >= 2:
            skipped.append(heapq.heappop(heap))
        load, count, b = heapq.heappop(heap)
        buckets[b].append(u)
        held[b] += u.page_range is not None
        heapq.heappush(heap, (load + u.cost, count + 1, b))
        for entry in skipped:
            heapq.heappush(heap, entry)
    return buckets


def _merge_units(batches: "Iterator[pa.RecordBatch]"):
    """The merge stage behind the ``doc_id`` exchange: rows of single-unit
    documents pass straight through as zero-copy slices, and the range
    rows of a chunked document go through :func:`_reassemble_arrow` as
    soon as all ``n_units`` of them have arrived. Only the range rows of
    unfinished documents are held, as copies that do not pin their
    batch."""
    import numpy as np
    import pyarrow as pa

    pending: dict[str, list] = {}
    for batch in batches:
        start = 0
        for i in np.flatnonzero(batch.column("n_units").to_numpy() != 1):
            if i > start:
                yield batch.slice(start, i - start).select(_PDF_COLUMNS)
            start = i + 1
            row = batch.take(pa.array([i]))
            doc_id, n_units = row.column("doc_id")[0].as_py(), \
                row.column("n_units")[0].as_py()
            parts = pending.setdefault(doc_id, [])
            parts.append(row)
            if len(parts) == n_units:
                del pending[doc_id]
                yield _reassemble_arrow(parts)
        if start < batch.num_rows:
            yield batch.slice(start).select(_PDF_COLUMNS)


def _parse_stage(
    spark,
    ranges: list[_Unit],
    held: list[tuple[str | None, object, int, bool]],
    rest: DataFrame | None,
    rest_big,
    readers: Callable[[], tuple[Callable, Callable]],
    max_pages: int,
    max_payload_bytes: int | None = 512 << 20,
) -> DataFrame:
    """The one parse stage behind all four PDF operators. In the
    reference's process strategy the parent plans page ranges and children
    render them (lib/pdf-parse-processes.js:92-99, lib/pdf-child.js:83-97);
    a whole document is the one-range case, so plain and chunked calls
    parse in the same ``mapInArrow``.

    Units the driver holds — ``ranges`` (from :func:`_chunk_ranges`) and
    one whole-document unit per ``held`` row ``(doc_id, key, size, big)``
    — are packed by :func:`_pack_units` into buckets that
    ``spark.range`` rows index. ``rest`` (``doc_id`` plus the operator's
    per-document column, or None) holds the rows the driver does not; they
    join the same ``mapInArrow`` through a union, and ``readers()`` builds,
    once per task, the reads of a held key and of a ``rest`` value. The
    only row that leaves the whole-document path is the one big row of a
    chunked id (``big``, or ``rest_big`` for ``rest``): a chunked id is
    unique among big rows, so every other row — small, replicated or NULL
    id, unprobed, probe error, zero pages — parses whole, and the output
    is row-identical to the plain operators'.

    With no range the parse output is the result: no exchange, and with
    ``rest`` alone the plan is scan -> ``mapInArrow``. Otherwise every
    output row crosses one hash exchange on ``doc_id`` into the streaming
    :func:`_merge_units`; the exchange carries extracted text, never
    payload bytes. The parse output is not split into a pass-through and a
    grouped branch: a filter pushes down through the exchange, so the
    parse would run twice."""
    chunked = {u.doc_id for u in ranges}
    units = ranges + [
        _Unit(doc_id, key, max(size, 0))
        for doc_id, key, size, big in held
        if not (big and doc_id in chunked)
    ]
    buckets = _pack_units(units, spark.sparkContext.defaultParallelism)
    src = None
    if buckets or rest is None:  # no unit and no ``rest``: empty output
        src = spark.range(len(buckets), numPartitions=len(buckets)) \
            .toDF("bucket")
    if rest is not None:
        if chunked:
            # NULL doc_id: isin() is NULL, and the row stays
            rest = rest.filter(~F.coalesce(
                F.col("doc_id").isin(list(chunked)) & rest_big, F.lit(False)
            ))
        src = rest if src is None else src.unionByName(
            rest.toDF("doc_id", "key"), allowMissingColumns=True)
    # the ``rest`` rows' per-document column is the last one
    with_buckets, key_col = "bucket" in src.columns, src.columns[-1]

    def parse(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        read_held, read_rest = readers()

        def unit_rows(batch):
            bucket = batch.column("bucket").to_pylist() if with_buckets \
                else itertools.repeat(None, batch.num_rows)
            for i, b in enumerate(bucket):
                if b is None:  # a ``rest`` row: one whole document
                    yield (batch.column("doc_id")[i].as_py(), (0, 1),
                           _parse_unit(read_rest, batch.column(key_col)[i],
                                       max_pages, None, max_payload_bytes))
                    continue
                for u in buckets[b]:
                    row = _parse_unit(read_held, u.key, max_pages,
                                      u.page_range, max_payload_bytes)
                    if u.n_pages is not None:
                        row = (row[0], u.n_pages, *row[2:])
                    yield u.doc_id, (u.idx, u.n_units), row

        for batch in batches:
            it = unit_rows(batch)
            while part := list(itertools.islice(it, _UNITS_PER_BATCH)):
                ids, idx, rows = zip(*part)
                yield _pdf_record_batch(list(ids), list(rows),
                                        list(idx) if ranges else None)

    parsed = src.mapInArrow(parse, _UNIT_SCHEMA if ranges else PDF_DOC_SCHEMA)
    if not ranges:
        return parsed
    return parsed.repartition("doc_id").mapInArrow(_merge_units, PDF_DOC_SCHEMA)


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

    - documents <= ``big_doc_bytes`` take the per-document parse;
    - bigger ones are collected (bounded by ``max_broadcast_bytes``; docs
      past the budget fall back to the per-document parse — never fail),
      page-counted once on the driver (structure walk only, no content
      decode), and BROADCAST — one copy per executor, not per chunk row
      and no payload shuffle;
    - their page ranges, packed into per-slot buckets, and every other row
      parse in one ``mapInArrow`` (:func:`_parse_stage`).

    Once any document is chunked, every output row crosses one hash
    exchange on ``doc_id`` into the merge that reassembles the chunked
    documents in order; the exchange carries extracted text, never payload
    bytes. With no chunked document the plan is
    ``extract_pdf_documents``'s: one ``mapInArrow``, no exchange.

    Output is byte-identical to ``extract_pdf_documents`` (asserted by the
    U3-style equivalence test in tests/test_pdf_chunking.py)."""
    spark = df.sparkSession
    rest = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(payload_col).alias("payload"),
    )
    # a NULL payload has a NULL length, so it stays on the per-document
    # path and becomes an error row there
    big = F.length("payload") > big_doc_bytes
    big_df = rest.filter(big)
    # sizes only — never collect a payload the budget can't hold
    sizes = [
        (r.doc_id, r.sz)
        for r in big_df.select("doc_id", F.length("payload").alias("sz"))
        .collect()
    ]
    size_of = dict(sizes)
    chosen: list[str] = []
    budget = max_broadcast_bytes
    for doc_id in _unique_big_ids(sizes):
        # over budget: the per-document path owns it
        if size_of[doc_id] <= budget:
            chosen.append(doc_id)
            budget -= size_of[doc_id]
    plans, payloads = [], {}
    for doc_id, raw in _collect_payloads(big_df, chosen, size_of):
        plans.append((doc_id, doc_id, len(raw), *_probe_pages(raw, max_pages)))
        payloads[doc_id] = raw
    ranges = _chunk_ranges(plans, pages_per_chunk, max_pages)
    bc = spark.sparkContext.broadcast(
        {u.doc_id: payloads[u.doc_id] for u in ranges}) if ranges else None
    return _parse_stage(spark, ranges, [], rest, big,
                        lambda: (lambda k: bc.value[k], _scalar_bytes),
                        max_pages)


def _reassemble_arrow(parts: list) -> "pa.RecordBatch":
    """One chunked document's row from its range rows (one-row
    ``_UNIT_SCHEMA`` batches, in any order): texts joined in chunk order,
    ``n_render`` summed, the first error, ``n_pages`` and ``info`` of the
    first range, and each range's page spans shifted by the characters
    before it. Everything runs on Arrow buffers: the text joins in one
    copy, never as Python strings (a 20,000-page document carries ~40 MB
    of text), and the span shift is numpy over the flattened structs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = pa.Table.from_batches(sorted(
        parts, key=lambda b: b.column("chunk_idx")[0].as_py()
    )).combine_chunks()
    texts = pc.fill_null(t.column("text").chunk(0), "")
    text = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, len(texts)], pa.int32()), texts),
        "",
    )
    errors = pc.drop_null(t.column("error"))
    spans = t.column("page_spans").chunk(0)
    # offset of each range's text inside the joined text, repeated per span
    text_lens = pc.utf8_length(texts).to_numpy().astype(np.int64)
    shift = np.repeat(
        np.concatenate(([0], np.cumsum(text_lens)[:-1])),
        np.diff(spans.offsets.to_numpy()),
    ).astype(np.int32)
    vals = spans.flatten()
    out_vals = pa.StructArray.from_arrays(
        [
            vals.field("page"),
            pa.array(vals.field("start").to_numpy() + shift, pa.int32()),
            pa.array(vals.field("end").to_numpy() + shift, pa.int32()),
        ],
        names=["page", "start", "end"],
    )
    return pa.RecordBatch.from_arrays(
        [
            t.column("doc_id").chunk(0)[:1],
            text,
            t.column("n_pages").chunk(0)[:1],
            pa.array([pc.sum(t.column("n_render")).as_py()], pa.int32()),
            t.column("info").chunk(0)[:1],
            errors[:1] if len(errors) else pa.nulls(1, pa.string()),
            pa.ListArray.from_arrays(
                pa.array([0, len(out_vals)], pa.int32()), out_vals
            ),
        ],
        names=_PDF_COLUMNS,
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

    def fetch(path: str | None) -> bytes:
        if path is None:  # parses as empty bytes: an error row
            return b""
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


def _file_readers() -> tuple[Callable, Callable]:
    """The files operators' task-side reads: a held unit's key and a
    ``rest`` row's Arrow value are both a path."""
    fetch = _make_fetcher()
    return fetch, lambda v: fetch(v.as_py())


def _file_size(path: str | None, fsspec=None) -> int:
    """Bytes in the file at ``path`` (``fsspec`` for URL schemes when
    given); -1 when NULL or unreadable, which the per-file path turns into
    an error row."""
    try:
        if path is None:
            return -1
        if fsspec is not None and "://" in path:
            return int(fsspec.open(path).fs.size(path))
        return int(os.stat(path.removeprefix("file:")).st_size)
    except Exception:
        return -1


def _probe_file(path: str, fetch, max_pages: int) -> tuple[int, str | None]:
    """:func:`_probe_pages` of the file at ``path``; a read error is
    ``(0, "io:<ExceptionName>")``."""
    try:
        return _probe_pages(fetch(path), max_pages)
    except Exception as e:  # noqa: BLE001
        return 0, f"io:{type(e).__name__}"


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
    NOTHING but path strings and tiny range rows ever moves: the files are
    stat-ed, the big ones structure-probed, and every task reads its files
    itself (page cache / object store). Each call is one
    :func:`_parse_stage`: page ranges and whole files packed into per-slot
    buckets, plus, on big corpora, the rows the driver did not collect.
    Once any file is chunked, every output row crosses one hash exchange
    on ``doc_id`` into the merge that reassembles the chunked files in
    order; the exchange carries extracted text only. With no chunked file
    there is no exchange: one ``mapInArrow`` over the packed buckets
    (driver-planned) or over the path rows (the plan of
    :func:`extract_pdf_files`). Driver memory is bounded by 10,000 path
    rows plus the big files' stat rows, regardless of file size or corpus
    size. Output is row-identical to ``extract_pdf_files``."""
    spark = df.sparkSession
    cols = df.select(
        F.col(id_col if id_col else path_col).cast("string").alias("doc_id"),
        F.col(path_col).cast("string").alias("path"),
    )

    def stat_probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE distributed pass stats every path AND structure-probes the
        # big ones in place; only the big rows leave the task
        try:
            import fsspec
        except Exception:
            fsspec = None
        fetch = _make_fetcher()
        for pdf in batches:
            out = pdf[["doc_id", "path"]].assign(
                sz=[_file_size(p, fsspec) for p in pdf["path"]]
            )
            out = out[out["sz"] > big_file_bytes]
            probes = [_probe_file(p, fetch, max_pages) for p in out["path"]]
            yield out.assign(
                n_pages=[n for n, _ in probes], err=[e for _, e in probes]
            )

    # Path A (small local corpora): stat + probe on the driver — the
    # distributed pass costs a full Python-runner job (~0.5 s of fixed
    # latency) that dwarfs a handful of os.stat calls and up to 8
    # structure probes (the reference parent process probes the same way),
    # and every row becomes a unit the driver packs.
    # Path B (more than 10,000 rows, a URL, or more than 8 big files): the
    # one-job distributed stat+probe pass, which returns only big rows; the
    # others stay in ``cols``.
    rows = cols.limit(10_001).collect()
    held, rest, rest_big = [], cols, None
    if len(rows) <= 10_000 and all(
        r.path is None or "://" not in r.path for r in rows
    ):
        sized = [(r.doc_id, r.path, _file_size(r.path)) for r in rows]
        big = [s for s in sized if s[2] > big_file_bytes]
        if len(big) <= 8:
            fetch = _make_fetcher()
            stats = [
                (doc_id, path, sz, *_probe_file(path, fetch, max_pages))
                for doc_id, path, sz in big
            ]
            held = [(d, p, sz, sz > big_file_bytes) for d, p, sz in sized]
            rest = None
    if rest is not None:
        stats = [tuple(r) for r in cols.mapInPandas(
            stat_probe,
            "doc_id string, path string, sz long, n_pages int, err string",
        ).collect()]
        # a chunked id has one big row, so its big path picks that row out
        rest_big = F.col("path").isin([s[1] for s in stats])
    by_id = {s[0]: s for s in stats}
    plans = [by_id[d] for d in _unique_big_ids([(s[0], s[2]) for s in stats])]
    return _parse_stage(
        spark, _chunk_ranges(plans, pages_per_chunk, max_pages), held, rest,
        rest_big, _file_readers, max_pages,
    )
