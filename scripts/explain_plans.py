"""Dump annotated physical plans for the engine's key operators to PLANS.md
— the `.explain("formatted")` evidence that the scale-critical properties
hold (filter pushdown, column pruning, partial aggregation, broadcast joins,
no cartesian products, extraction-kernel-runs-once).

Usage: python scripts/explain_plans.py [sf_dir] [--only NAME ...]
                                       [--out DIR --tag TAG]

``--only`` rebuilds just the named sections, in place in PLANS.md;
``--out``/``--tag`` also write each rebuilt plan to ``DIR/<name>_<TAG>.txt``
(the before/after files under ``plans/``).
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parse_new_spark import fixtures, queries as q  # noqa: E402
from pdf_parse_new_spark.operators import concat, extract  # noqa: E402
from pdf_parse_new_spark.plans.inspect import formatted_plan  # noqa: E402
from pdf_parse_new_spark.session import get_spark  # noqa: E402

NOTES = {
    "tpch_pricing": "filter pushed to the parquet scan (PushedFilters), "
    "6-of-11-column ReadSchema, partial+final HashAggregate pair",
    "top_customers": "dim side broadcast (BroadcastHashJoin BuildRight), "
    "top-k as TakeOrderedAndProject (per-partition heaps, no global sort)",
    "nation_orders": "three-hop dim joins, all broadcast — zero shuffle "
    "joins",
    "minhash_pairs": "LSH bucket equi-join on fixed-width keys; shingle "
    "arrays join back onto deduplicated candidates only; no cartesian",
    "conv_concat": "ordered group concat via sorted collect_list — one "
    "exchange with map-side partial aggregation",
    "decontaminate": "eval-gram side broadcast (the tiny side by design); "
    "training side is a map-side explode into a BroadcastHashJoin — the "
    "only shuffle is the final per-doc aggregate",
    "repetition": "bigram explode with map-side partial aggregation on "
    "(doc_id, bigram), then a second partial-agg rollup; the doc-level "
    "join broadcasts the aggregate side",
    "doc_split": "the split itself is a scan-side projection (md5 + conv "
    "inside whole-stage codegen); the trailing Sort/Exchange is only the "
    "driver-determinism orderBy — a pipeline materializing the column "
    "drops it and pays zero shuffle",
    "doc_pack": "sequence packing: ONE hash Exchange (repartition by "
    "shard) feeding a per-shard running-sum window; pack assignment is "
    "pure integer arithmetic in whole-stage codegen after the window — "
    "shards pack independently, no global sort",
    "pii_scrub": "PII redaction as a pure regexp_replace/extract_all "
    "projection inside whole-stage codegen — zero Exchange beyond the "
    "driver-determinism orderBy; at 100 TB this runs at scan speed",
    "simhash_md5": "oracle-checkable SimHash: md5 halves + 64-bit "
    "majority vote as ONE aggregate() pass over the token array — "
    "JVM higher-order functions, a pure projection, no shuffle",
    "tfidf_topk": "two partial+final aggregate pairs (doc_id x word "
    "term counts, then vocabulary document frequencies), df joined "
    "back (vocabulary-sized side — AQE broadcasts at runtime), per-doc "
    "ranking window; no global sort beyond the determinism orderBy",
    "asof_join": "AS-OF join compiled to the union-window shape: ONE "
    "shuffle on user_id, a single ordered Window carrying the last "
    "signup forward, and NO join operator anywhere — the inequality "
    "join a naive translation would emit is the per-user cross-product "
    "scale-killer",
    "range_join": "band join via interval bucketing: clicks replicate "
    "into two 5-minute epoch buckets (Generate), the join runs on the "
    "(user_id, bucket) EQUI-key and the exact range predicate prunes — "
    "bounded fan-out, no cartesian",
    "unigram_ll": "corpus LM scoring: vocabulary aggregate broadcast "
    "back onto the token stream (BroadcastHashJoin), per-doc means as "
    "partial+final aggs; the only intentional NLJ is the 1-row total",
    "source_mix": "data-mixing rebalance: tiny per-stratum rate table "
    "broadcast onto the scan — the sample is a map-side integer-hash "
    "filter, zero shuffle of the corpus",
    "orders_rollup": "multi-granularity ROLLUP in ONE pass: a single "
    "Expand fans each row to its grouping sets map-side, one "
    "partial+final aggregate pair — one shuffle for three granularities, "
    "not one scan each",
    "events_pivot": "pivot with an explicit value list: no "
    "distinct-discovery job, a single partial+final aggregate of "
    "conditional counts — one shuffle at any scale",
    "repeated_ngrams": "cross-document repeated 8-gram spans: explode "
    "-> two-phase distinct-count aggregation on the gram key, top-100 "
    "as TakeOrderedAndProject (per-partition heaps, no global sort)",
    "length_quantiles": "exact percentiles: per-group sort-based "
    "aggregate (bounded groups); percentile_approx is the documented "
    "unbounded-group path",
    "domain_stats": "regexp host extraction + explode -> partial+final "
    "aggregation with exact count-distinct (two-phase expand); HLL is "
    "the documented single-pass swap at scale",
    "customer_quartiles": "ntile over the per-customer aggregate: one "
    "shuffle for the revenue rollup, one ordered window over "
    "one-row-per-customer input",
    "bm25_topk": "BM25 retrieval: term filter runs scan-side BEFORE the "
    "tf aggregation (only query-term rows shuffle), df and doc-length "
    "sides broadcast, corpus stats as the intentional 1-row NLJ, top-10 "
    "as TakeOrderedAndProject",
    "token_entropy": "two partial+final aggregate pairs ((doc_id, token) "
    "counts then per-doc entropy) entirely inside whole-stage codegen — "
    "the ln/x*ln(x) arithmetic is JVM expressions, no UDF",
    "url_dedup": "canonicalization is a scan-side regexp projection; one "
    "partial+final aggregate on the canonical key with min() keeper "
    "election — the group key is what a crawl store would bucket by",
    "outlier_docs": "per-stratum moments broadcast back onto the scan "
    "(BroadcastHashJoin with the |z| filter folded into the join "
    "condition) — the flag pass is shuffle-free at any scale",
    "inverted_index": "distinct (gram, doc) pre-aggregate then bounded "
    "collect_set per gram; the df band caps surviving posting lists at "
    "50 ids; top-20 as TakeOrderedAndProject",
}


def sections(spark, sf_dir: str) -> list:
    """``(name, note, build)`` per PLANS.md section; ``build()`` returns
    the formatted plan."""
    out = []
    for name, note in NOTES.items():
        fn, _ = q.SQL_CHECKED[name]
        out.append((name, note,
                    lambda fn=fn: formatted_plan(fn(spark, sf_dir))))

    def turns():
        return extract.extract_turns(fixtures.make_transcripts_df(spark, 5, 4))

    out.append((
        "extract_turns",
        "shuffle-free map stage: scan -> MapInPandas (Arrow batches), no "
        "Exchange anywhere",
        lambda: formatted_plan(turns()),
    ))
    out.append((
        "extract_conversations (salted)",
        "extraction kernel appears exactly once; two bounded-state "
        "exchanges (partial by (conv_id, salt), final by conv_id); no "
        "window, no join",
        lambda: formatted_plan(
            concat.concat_conversations_salted(turns(), block=64)),
    ))

    # real-PDF per-document path: MapInArrow, shuffle-free
    small_doc = fixtures.build_big_binary_pdf(3)
    out.append((
        "extract_pdf_documents",
        "binary payloads through ONE MapInArrow (no Arrow->pandas copy of "
        "megabyte cells), no Exchange — parallelism comes from the source "
        "split",
        lambda: formatted_plan(extract.extract_pdf_documents(
            spark.createDataFrame([("d1", bytearray(small_doc))],
                                  "path string, content binary"))),
    ))
    big_doc = fixtures.build_big_binary_pdf(400)
    out.append((
        "extract_pdf_documents_chunked",
        "one huge and one small document: the huge one's page ranges "
        "read the BROADCAST payload and are packed, at most two per "
        "bucket, into Range rows; the rows under the size bar join them "
        "through a Union (a filter keeps the chunked row out), so ONE "
        "MapInArrow parses every unit; every row then crosses ONE hash "
        "Exchange on doc_id into the streaming merge MapInArrow, which "
        "passes single-unit rows through and reassembles the chunked "
        "document in order. The Exchange carries extracted text, never "
        "payload bytes; no join, "
        "no grouped aggregate, no cartesian",
        lambda: formatted_plan(extract.extract_pdf_documents_chunked(
            spark.createDataFrame(
                [("huge", bytearray(big_doc)), ("small", bytearray(small_doc))],
                "path string, content binary"),
            pages_per_chunk=50, big_doc_bytes=10_000,
        )),
    ))

    def files_df(*docs):
        d = tempfile.mkdtemp(prefix="plans_pdf_")
        paths = []
        for name, raw in docs:
            paths.append(os.path.join(d, f"{name}.pdf"))
            with open(paths[-1], "wb") as f:
                f.write(raw)
        return spark.createDataFrame([(p,) for p in paths], "path string")

    out.append((
        "extract_pdf_files",
        "path strings through ONE MapInArrow (tasks read the files "
        "themselves), no Exchange — the same parse stage as the payload "
        "operator",
        lambda: formatted_plan(extract.extract_pdf_files(
            files_df(("small", small_doc)))),
    ))

    out.append((
        "extract_pdf_files_chunked",
        "path-addressed chunking, one huge and one small file planned on "
        "the driver: ONLY path strings in the plan — the huge file's page "
        "ranges and the small file are packed into per-slot buckets read "
        "as Range rows, ONE MapInArrow parses every unit (tasks read the "
        "files themselves), and ONE hash Exchange on doc_id carries "
        "extracted text into the streaming merge MapInArrow; no join, no "
        "grouped aggregate. The driver collects at most 10,001 path rows, "
        "or on big corpora only the big files' stat rows (the other rows "
        "then join the parse stage through a Union), regardless of file "
        "size",
        lambda: formatted_plan(extract.extract_pdf_files_chunked(
            files_df(("huge", big_doc), ("small", small_doc)),
            pages_per_chunk=50, big_file_bytes=10_000,
        )),
    ))
    out.append((
        "extract_pdf_files_chunked (no big file)",
        "the driver-planned call with nothing over the size bar: every "
        "file is a whole-document unit packed into per-slot buckets read "
        "as Range rows, ONE MapInArrow parses them, and with no chunked "
        "file there is no Exchange and no merge",
        lambda: formatted_plan(extract.extract_pdf_files_chunked(
            files_df(("small", small_doc), ("small2", small_doc)),
            pages_per_chunk=50, big_file_bytes=10_000,
        )),
    ))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("--only", action="append", default=[])
    ap.add_argument("--out")
    ap.add_argument("--tag")
    args = ap.parse_args()
    spark = get_spark("plans", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    built = {}
    for name, note, build in sections(spark, args.sf_dir):
        if args.only and name not in args.only:
            continue
        plan = build().strip()
        built[name] = f"## {name}\n\n*{note}*\n\n```\n{plan}\n```"
        if args.out:
            stem = re.sub(r"\W+", "_", name).strip("_")
            with open(os.path.join(args.out, f"{stem}_{args.tag}.txt"),
                      "w") as f:
                f.write(plan + "\n")
    if args.only:
        with open("PLANS.md") as f:
            blocks = [b.rstrip("\n")
                      for b in re.split(r"(?m)^(?=## )", f.read())]
        names = [b[3:].split("\n", 1)[0] for b in blocks]
        blocks = [built.get(n, b) for n, b in zip(names, blocks)]
        # sections PLANS.md does not have yet
        blocks += [b for n, b in built.items() if n not in names]
    else:
        blocks = ["# PLANS — physical-plan evidence (generated by "
                  "scripts/explain_plans.py)", *built.values()]
    with open("PLANS.md", "w") as f:
        f.write("\n\n".join(blocks) + "\n")
    print(f"wrote PLANS.md ({len(built)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
