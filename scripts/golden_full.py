"""Correctness-tier golden run (FIXTURES.md §6): 500 conversations, median
20 turns, 5 x 1,000-turn skew tail (~15k turns). Full per-turn equality of
every extracted field (text, error, family, spans, n_pages, info) of the
distributed pipeline against the single-node oracle, plus
conversation-level equality for both join modes. The heavyweight version of
the pytest smoke tier — run per-round as evidence.

Usage: python scripts/golden_full.py   (cores: SPARK_GRAFT_CPUS, default 32)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parse_new_spark import fixtures, oracle, pipeline  # noqa: E402
from pdf_parse_new_spark.operators import extract  # noqa: E402
from pdf_parse_new_spark.session import get_spark  # noqa: E402

N_CONVS, MEDIAN, SKEW_CONVS, SKEW_TURNS = 500, 20, 5, 1000


def main() -> int:
    spark = get_spark("golden-full")
    cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    df = fixtures.make_transcripts_df_dist(
        spark, n_convs=N_CONVS, median_turns=MEDIAN,
        skew_convs=SKEW_CONVS, skew_turns=SKEW_TURNS, partitions=64,
    )

    t0 = time.perf_counter()
    got = {
        (r.conv_id, r.turn_idx): r
        for r in extract.extract_turns(df).collect()
    }
    wall = time.perf_counter() - t0

    mismatches = 0
    checked = 0
    for cid, t, role, text, tool, ts in fixtures.transcript_rows(
        N_CONVS, MEDIAN, skew_convs=SKEW_CONVS, skew_turns=SKEW_TURNS
    ):
        ex = oracle.extract(text)
        r = got[(cid, t)]
        ok = (
            r.extracted_text == ex.text
            and r.error == ex.error
            and r.family == ex.family
            and [(s.start, s.end, s.kind) for s in r.spans] == ex.spans
            and r.n_pages == ex.n_pages
            and (json.loads(r.info) if r.info else None) == ex.info
        )
        checked += 1
        if not ok:
            mismatches += 1
            if mismatches <= 3:
                print(f"MISMATCH {cid}:{t}", file=sys.stderr)

    # conversation level, both join modes
    conv_ok = True
    for leading in (False, True):
        opts = pipeline.Options(leading_separator=leading, salt_block=256)
        convs = {
            r.conv_id: r for r in pipeline.extract_conversations(df, opts).collect()
        }
        by_conv: dict[str, list] = {}
        for (cid, t), r in got.items():
            by_conv.setdefault(cid, []).append((t, r.extracted_text))
        for cid, turns in by_conv.items():
            texts = [x for _, x in sorted(turns)]
            want, n, k = oracle.concat_conversation(texts, leading)
            if convs[cid].full_text != want or convs[cid].n_turns != n:
                conv_ok = False
                print(f"CONV MISMATCH {cid} leading={leading}", file=sys.stderr)

    result = {
        "cores": cores,
        "turns_checked": checked,
        "turn_mismatches": mismatches,
        "conv_level_ok": conv_ok,
        "pass_rate": round(1 - mismatches / max(checked, 1), 6),
        "extract_wall_sec": round(wall, 2),
    }
    print(json.dumps(result))
    spark.stop()
    return 0 if mismatches == 0 and conv_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
