"""Dump annotated physical plans for the engine's key operators to PLANS.md
— the `.explain("formatted")` evidence that the scale-critical properties
hold (filter pushdown, column pruning, partial aggregation, broadcast joins,
no cartesian products, extraction-kernel-runs-once).

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plans", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    sections = []

    for name, note in NOTES.items():
        fn, _ = q.SQL_CHECKED[name]
        sections.append((name, note, formatted_plan(fn(spark, sf_dir))))

    smoke = fixtures.make_transcripts_df(spark, 5, 4)
    turns = extract.extract_turns(smoke)
    sections.append((
        "extract_turns",
        "shuffle-free map stage: scan -> MapInPandas (Arrow batches), no "
        "Exchange anywhere",
        formatted_plan(turns),
    ))
    sections.append((
        "extract_conversations (salted)",
        "extraction kernel appears exactly once; two bounded-state "
        "exchanges (partial by (conv_id, salt), final by conv_id); no "
        "window, no join",
        formatted_plan(concat.concat_conversations_salted(turns, block=64)),
    ))

    # real-PDF per-document path: MapInArrow, shuffle-free
    pdf_df = spark.createDataFrame(
        [("d1", bytearray(fixtures.build_big_binary_pdf(3)))],
        "path string, content binary",
    )
    sections.append((
        "extract_pdf_documents",
        "binary payloads through ONE MapInArrow (no Arrow->pandas copy of "
        "megabyte cells), no Exchange — parallelism comes from the source "
        "split",
        formatted_plan(extract.extract_pdf_documents(pdf_df)),
    ))
    big_doc = fixtures.build_big_binary_pdf(400)
    big_df = spark.createDataFrame(
        [("huge", bytearray(big_doc))], "path string, content binary"
    )
    sections.append((
        "extract_pdf_documents_chunked",
        "page ranges fan out one-per-partition over the BROADCAST payload "
        "(no payload shuffle — the only Exchange carries chunk TEXT into "
        "the ordered reassembly agg); the only join is the broadcast left "
        "anti join that keeps the chunked big rows off the per-document "
        "path; no cartesian",
        formatted_plan(extract.extract_pdf_documents_chunked(
            big_df, pages_per_chunk=50, big_doc_bytes=10_000
        )),
    ))
    import os as _os
    import tempfile as _tf

    tmpd = _tf.mkdtemp(prefix="plans_pdf_")
    big_path = _os.path.join(tmpd, "huge.pdf")
    with open(big_path, "wb") as f:
        f.write(big_doc)
    path_df = spark.createDataFrame([(big_path,)], "path string")
    sections.append((
        "extract_pdf_files_chunked",
        "path-addressed chunking: ONLY path strings + range indices in "
        "the plan (a Range scan; tasks read the file themselves); small "
        "files go straight to the plain path, and big files not chunked "
        "join them through a left anti join on the chunked ids; the "
        "single Exchange carries extracted chunk TEXT "
        "into the ordered reassembly — the driver collects at most "
        "10,001 path rows, or on big corpora only the big files' stat "
        "rows, regardless of file size",
        formatted_plan(extract.extract_pdf_files_chunked(
            path_df, pages_per_chunk=50, big_file_bytes=10_000
        )),
    ))

    out = ["# PLANS — physical-plan evidence (generated by "
           "scripts/explain_plans.py)\n"]
    for name, note, plan in sections:
        out.append(f"## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(sections)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
