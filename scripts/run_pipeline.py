"""spark-submit entry point for the extraction pipeline.

Cluster deployment (north rule):

    spark-submit --py-files pdf_parse_new_spark.zip scripts/run_pipeline.py \
        --input  <transcripts table/parquet path> \
        --output <results dir> \
        [--kernel module:attr] [--max-turns N] [--leading-separator]
        [--conversations]     # also write conversation-level concat
        [--no-resume]         # full re-run instead of snapshot resume

Local smoke:

    python scripts/run_pipeline.py --input /tmp/in.parquet --output /tmp/out

The run is planned (stats probe -> partitions / salt block / Arrow batch),
checkpointed (snapshot commit + conv_id anti-join resume), and reports the
per-partition lineage manifest + per-family run stats on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="transcript extraction pipeline")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--kernel", default=None, help="module:attr custom kernel")
    ap.add_argument("--max-turns", type=int, default=0)
    ap.add_argument("--leading-separator", action="store_true")
    ap.add_argument("--conversations", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode cores (ignored under spark-submit)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    existing = SparkSession.getActiveSession()
    if existing is not None:  # under spark-submit, use the provided session
        spark = existing
    else:
        from pdf_parse_new_spark.session import get_spark

        spark = get_spark("extract-pipeline", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    from pdf_parse_new_spark import pipeline
    from pdf_parse_new_spark.operators import concat
    from pdf_parse_new_spark.plans import planner
    from pdf_parse_new_spark.sources import checkpoint, lineage

    transcripts = spark.read.parquet(args.input)
    plan = planner.make_plan(transcripts)
    planner.apply_plan(spark, plan)
    print("PLAN " + json.dumps(plan.asdict()))

    t0 = time.perf_counter()
    if args.no_resume:
        from pdf_parse_new_spark.operators import extract as ex

        extracted = ex.extract_turns(
            transcripts, kernel=args.kernel, partitions=plan.partitions,
            with_lineage=True,
        )
        extracted.write.mode("overwrite").parquet(f"{args.output}/data-full")
        written = spark.read.parquet(f"{args.output}/data-full")
        commit = {"n_rows": written.count(), "snapshot_id": "full"}
    else:
        commit = checkpoint.run_incremental(
            spark, transcripts, args.output, kernel=args.kernel,
            partitions=plan.partitions,
        )
        written = checkpoint.read_committed(spark, args.output)
    wall = time.perf_counter() - t0

    stats = [r.asDict() for r in lineage.run_stats(written).collect()]
    print("COMMIT " + json.dumps({k: v for k, v in commit.items()
                                  if k != "partitions"}))
    print("STATS " + json.dumps(stats))
    print(json.dumps({
        "rows_committed": commit.get("n_rows", 0),
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(commit.get("n_rows", 0) / max(wall, 1e-9)),
    }))

    if args.conversations and written is not None:
        convs = concat.concat_conversations_salted(
            written, block=plan.salt_block,
            leading_separator=args.leading_separator,
            max_turns=args.max_turns, fanout=plan.tree_fanout,
        )
        convs.write.mode("overwrite").parquet(f"{args.output}/conversations")
        print(f"CONVERSATIONS written: {args.output}/conversations")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
