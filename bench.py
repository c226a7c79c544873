"""Per-round benchmark. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline queries:
- extract_turns / extract_conversations: the engine's north-metric workload —
  per-turn main-content extraction + salted ordered concat over a
  deterministic transcript corpus scaled to the SF (materialized once to a
  tmp parquet so generation cost never pollutes the timings).
- relational/dedup/similarity queries from the driver contract at the SF dir.
- real_pdf_* / huge_pdf_*: real binary-PDF throughput vs the reference's
  published single-node numbers. The real_pdf_* queries read the
  reference's test PDFs; on a host without them they are not built, the
  JSON lists them under "skipped" and leaves out their real_pdf_* keys.

Measurement design (VERDICT r3 "What's wrong #1" — host-steal hardening):
the full query list is sampled in INTERLEAVED ROUNDS — one sample of every
query per round, repeated SPARK_GRAFT_BENCH_ROUNDS times (default 5) — so a
sustained host-steal window pollutes one round of every query instead of
every sample of one query. Headline value = min across rounds (steady-state
throughput); bands = [min, median, max]. huge_pdf_single/chunked run
back-to-back within each round and the chunked speedup is the MEDIAN of the
per-round ratios, so the reported speedup is load-independent (both sides of
each ratio see the same host weather).

When the main SF is 0.1 a second, cheaper interleaved sweep runs at sf0.01
and the JSON carries per-query times at both SFs plus the growth exponent
log10(t_0.1 / t_0.01) (rows scale ~10x between the SFs, so exponent ~1.0 ==
linear; below ~0.5 means fixed overhead still dominates at these sizes).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_ROUNDS (default 5).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_parse_new_spark import fixtures, pipeline  # noqa: E402
from pdf_parse_new_spark.operators import extract  # noqa: E402
from pdf_parse_new_spark.session import get_spark  # noqa: E402

# transcript-corpus scale per SF (turns ~= convs * median + skew tail)
CORPUS = {
    "0.001": dict(n_convs=200, median_turns=10, skew_convs=2, skew_turns=500),
    "0.01": dict(n_convs=2000, median_turns=12, skew_convs=4, skew_turns=1000),
    "0.1": dict(n_convs=12000, median_turns=24, skew_convs=8, skew_turns=4000),
}

HUGE_PAGES = 20_000

# the reference's test PDFs; on a host without them these benches are
# not built, and the JSON names them under "skipped"
REFERENCE_BENCHES = ("real_pdf_parse", "real_pdf_files")

# queries timed in the cheap second sweep at sf0.01 (the growth-exponent
# evidence): the extraction headline + every SQL_CHECKED headline query
SQL_BENCH_QUERIES = (
    "conv_concat",
    "tpch_pricing",
    "top_customers",
    "dup_groups",
    "minhash_pairs",
    "knn_cosine",
    "sessionize",
    "quality",
)


def corpus_path(sf: str) -> str:
    p = CORPUS[sf]
    tag = "-".join(str(v) for v in p.values())
    return (
        f"/tmp/spark_graft_bench/transcripts_v{fixtures.FIXTURES_VERSION}"
        f"_{tag}.parquet"
    )


def materialize(spark, sf: str) -> str:
    path = corpus_path(sf)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = fixtures.make_transcripts_df_dist(spark, **CORPUS[sf], partitions=96)
        df.write.mode("overwrite").parquet(path)
    return path


def run(noop_df) -> None:
    noop_df.write.format("noop").mode("overwrite").save()


def huge_pdf_path() -> str:
    # v3: fixture gained /F1 Tf (reference-parity)
    huge_dir = "/tmp/spark_graft_bench/huge_pdf_v3"
    huge_file = os.path.join(huge_dir, "huge.pdf")
    if not os.path.exists(huge_file):
        os.makedirs(huge_dir, exist_ok=True)
        tmp = huge_file + f".tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(
                fixtures.build_big_binary_pdf(HUGE_PAGES, lines=(120, 160))
            )
        os.replace(tmp, huge_file)
    return huge_file


def reference_benches(spark, cpus: int, counters: dict):
    """The REFERENCE_BENCHES, over the reference's test PDFs."""
    from pyspark.sql import functions as F

    from pdf_parse_new_spark import queries as q

    benches: list[tuple[str, object]] = []
    # real binary PDF corpus throughput — the apples-to-apples number vs the
    # reference's own benchmark (9,924 pages / 4.468 s = 2,221 pages/s on 24
    # cores, README.md:769): parse the reference's test PDFs replicated
    # 200x through the binaryFile -> mapInPandas path and report pages/s
    ref = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(q.REFERENCE_DATA)
        .select("path", "content")
    )
    # big side = range (partitioned across all cores), small side = the 5
    # docs (broadcast): the expansion happens ON the executors with no
    # ~1 GB repartition shuffle of replicated payloads
    # numPartitions == cpus: each range row carries the identical 5-doc
    # set, so partitions are balanced by construction and ONE task wave
    # is optimal — a second wave only doubles the per-task Python-runner
    # latency (measured ~0.2 s flat + ~8 ms/task on this host), which at
    # this corpus size is a third of the wall clock
    big = (
        spark.range(200, numPartitions=cpus)
        .crossJoin(F.broadcast(ref))
        .select(F.concat_ws("#", "path", "id").alias("path"), "content")
    )

    def real_pdf():
        out = extract.extract_pdf_documents(big)
        counters["real_pdf_pages"] = int(
            out.agg(F.sum("n_render")).collect()[0][0] or 0
        )

    benches.append(("real_pdf_parse", real_pdf))

    # file-based variant: only PATH strings flow through the plan; tasks
    # read bytes themselves (what the reference's own benchmark does —
    # getDocument(file) from disk). Removes the JVM->Python Arrow copy of
    # replicated payloads, so this is the apples-to-apples pages/s number.
    paths = ref.select("path")
    big_paths = (
        spark.range(200, numPartitions=cpus)  # one balanced wave, as above
        .crossJoin(F.broadcast(paths))
        .select(F.concat_ws("#", "path", "id").alias("doc_id"), "path")
    )

    def real_pdf_files():
        out = extract.extract_pdf_files(big_paths, id_col="doc_id")
        counters["real_pdf_files_pages"] = int(
            out.agg(F.sum("n_render")).collect()[0][0] or 0
        )

    benches.append(("real_pdf_files", real_pdf_files))
    return benches


def build_benches(spark, sf_dir: str, cpus: int, counters: dict):
    """Ordered (name, thunk) list for ONE interleaved round. ``counters``
    receives row/page counts as thunks first run (stable across rounds).
    Shared by bench.py and scripts/bench_one.py so a suspicious official
    number can be re-verified through the identical code path."""
    from pdf_parse_new_spark import queries as q

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    src_path = materialize(spark, sf if sf in CORPUS else "0.1")
    src = spark.read.parquet(src_path).cache()
    counters["extract_n_turns"] = src.count()  # warm cache + JVM

    benches: list[tuple[str, object]] = []
    benches.append(("extract_turns", lambda: run(extract.extract_turns(src))))
    benches.append((
        "extract_conversations",
        lambda: run(
            pipeline.extract_conversations(src, pipeline.Options(salt_block=512))
        ),
    ))
    for name in SQL_BENCH_QUERIES:
        fn, _ = q.SQL_CHECKED[name]
        benches.append((name, lambda fn=fn: run(fn(spark, sf_dir))))

    if os.path.isdir(q.REFERENCE_DATA):
        benches += reference_benches(spark, cpus, counters)

    # huge-single-document scenario (the reference's own headline: 9,924
    # pages in ONE file, README.md:769): without intra-document chunking
    # this serializes onto one task; the chunked operator fans page ranges.
    # 20k pages sits past the measured single-task crossover so the
    # intra-document speedup is visible (see BENCH/BASELINE.md). The two
    # entries are ADJACENT so each round yields a paired, load-independent
    # speedup ratio.
    huge_file = huge_pdf_path()
    hdf = spark.createDataFrame([(huge_file,)], "path string")
    benches.append(
        ("huge_pdf_single", lambda: run(extract.extract_pdf_files(hdf)))
    )
    chunk = max(1, (HUGE_PAGES + cpus - 1) // cpus)
    benches.append((
        "huge_pdf_chunked",
        lambda: run(
            extract.extract_pdf_files_chunked(
                hdf, pages_per_chunk=chunk, big_file_bytes=1 << 20
            )
        ),
    ))
    return benches


def interleaved_sweep(benches, rounds: int) -> dict[str, list[float]]:
    """rounds x len(benches) samples, query-major within each round."""
    samples: dict[str, list[float]] = {name: [] for name, _ in benches}
    for _ in range(rounds):
        for name, fn in benches:
            t0 = time.perf_counter()
            fn()
            samples[name].append(time.perf_counter() - t0)
    return samples


def summarize(samples: dict[str, list[float]]):
    timings, bands = {}, {}
    for name, ss in samples.items():
        s = sorted(ss)
        timings[name] = round(s[0], 3)
        bands[name] = [round(s[0], 3), round(s[len(s) // 2], 3),
                       round(s[-1], 3)]
    return timings, bands


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "5"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    counters: dict[str, int] = {}
    benches = build_benches(spark, sf_dir, cpus, counters)
    # warm-up: one full round untimed — Python workers, broadcast state and
    # the huge-pdf page cache spin up once, as on a long-running cluster
    # (steady-state throughput is the north metric)
    for _, fn in benches:
        fn()

    samples = interleaved_sweep(benches, rounds)
    timings, bands = summarize(samples)

    # paired per-round speedup: both sides of each ratio saw the same host
    # weather, so the MEDIAN ratio is robust to steal windows
    pair_ratios = sorted(
        s / c for s, c in
        zip(samples["huge_pdf_single"], samples["huge_pdf_chunked"])
    )
    chunked_speedup = pair_ratios[len(pair_ratios) // 2]

    # growth-exponent sweep: the same queries at sf0.01 (rows ~10x fewer).
    # exponent ~1.0 == linear growth; << 1 == fixed overhead dominates.
    sf_scaling = None
    if sf == "0.1" and os.path.isdir("/root/testdata/sf0.01"):
        small_counters: dict[str, int] = {}
        small_benches = [
            (n, f) for n, f in build_benches(
                spark, "/root/testdata/sf0.01", cpus, small_counters
            )
            if n in ("extract_turns", "extract_conversations")
            or n in SQL_BENCH_QUERIES
        ]
        for _, fn in small_benches:
            fn()  # warm-up round
        small_samples = interleaved_sweep(small_benches, max(2, rounds - 2))
        small_timings, _ = summarize(small_samples)
        import math

        sf_scaling = {
            "sf_small": "0.01",
            "rows_ratio": 10,
            "queries": {
                name: {
                    "t_sf0.01": small_timings[name],
                    "t_sf0.1": timings[name],
                    "exponent": round(
                        math.log10(
                            max(timings[name], 1e-6)
                            / max(small_timings[name], 1e-6)
                        ),
                        2,
                    ),
                }
                for name, _ in small_benches
            },
        }

    n_turns = counters.get("extract_n_turns", 0)
    n_pages = counters.get("real_pdf_pages", 0)
    n_pages_files = counters.get("real_pdf_files_pages", 0)
    total = round(sum(timings.values()), 3)
    tps = round(n_turns / (timings["extract_turns"] or 1e-9))
    skipped = [n for n in REFERENCE_BENCHES if n not in timings]
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extract_n_turns": n_turns,
        "extract_turns_per_sec": tps,
    }
    if not skipped:
        out["real_pdf_pages"] = n_pages
        out["real_pdf_pages_per_sec"] = round(
            n_pages / (timings["real_pdf_parse"] or 1e-9)
        )
        out["real_pdf_files_pages_per_sec"] = round(
            n_pages_files / (timings["real_pdf_files"] or 1e-9)
        )
    else:
        out["skipped"] = skipped
    out.update({
        "huge_pdf_pages": HUGE_PAGES,
        "huge_pdf_chunked_speedup": round(chunked_speedup, 2),
        "huge_pdf_pair_ratios": [round(r, 2) for r in pair_ratios],
        "bands": bands,
        "rounds": rounds,
        "design": "interleaved",
        "fixtures_version": fixtures.FIXTURES_VERSION,
        "cpus": cpus,
    })
    guard_failed = False
    if sf_scaling is not None:
        # regression gate (VERDICT r4 #6): a 10x row growth must not cost
        # more than ~10^1.1 = 12.6x wall — an accidental O(n^2) (e.g. an
        # uncapped bucket join) shows up as exponent ~2 and fails loudly.
        limit = 1.1
        worst = max(
            (q["exponent"], name) for name, q in sf_scaling["queries"].items()
        )
        sf_scaling["exponent_guard"] = {
            "limit": limit,
            "max_exponent": worst[0],
            "max_query": worst[1],
            "pass": worst[0] <= limit,
        }
        guard_failed = worst[0] > limit
        out["sf_scaling"] = sf_scaling
    print(json.dumps(out))
    spark.stop()
    if guard_failed:
        print(
            f"EXPONENT GUARD FAILED: {worst[1]} grew with exponent "
            f"{worst[0]} > {limit} from sf0.01 to sf0.1 — superlinear "
            "scaling, inspect its plan before trusting this round",
            file=sys.stderr,
        )
        raise SystemExit(1)


if __name__ == "__main__":
    main()
