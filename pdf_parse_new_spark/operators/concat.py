"""Ordered conversation concat — the reference's page-join aggregations.

Semantics (reference lib/pdf-parse.js):
- turns join with "\\n\\n" in stable turn order (A1/A2, :126/:134);
- ``leading_separator=True`` reproduces sequential mode's leading "\\n\\n"
  (:134 — the golden .txt files begin with two newlines);
- ``max_turns`` keeps turns with ``turn_idx < N`` (== first N under the
  input_hint's dense 0-based contract); <=0 means all; ``n_extracted``
  reports the kept count while ``n_turns`` reports the full count (:98-99,
  :138). ``n_errors`` counts error rows among the *kept* turns.

Scale design: a partial ordered concat per (conv_id, turn_idx // block) —
map-side combinable, bounded state per group — then a final concat of the
ordered partials per conv_id. "\\n\\n"-join is associative, so
partial+final equals the direct fold (the exact shape of the reference's
child/parent partial joins, lib/pdf-child.js:104 +
pdf-parse-processes.js:108). The max-turns clamp and the error count are
conditional expressions inside the aggregates, so the extraction kernel
upstream runs exactly once and no window/join re-shuffles appear
(verified by tests/test_plans.py). For pathological conversations an
optional superblock level merges ``fanout`` consecutive partials between
the two, so the final group never holds one piece per block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_parse_new_spark import spec

_SEP = spec.PAGE_SEP


def _info_key(max_turns: int) -> Column:
    """min_by ordering key selecting the FIRST kept turn carrying /Info:
    null for info-less (or clamped-away) turns — min_by skips null keys, so
    the info rides two scalar aggregates instead of widening every struct
    in the ordered collect_list (measurably cheaper at 300k+ turns)."""
    cond = F.col("info").isNotNull()
    if max_turns > 0:
        cond = cond & (F.col("turn_idx") < max_turns)
    return F.when(cond, F.col("turn_idx"))


def _block_partials(
    extracted: DataFrame, block: int, max_turns: int
) -> DataFrame:
    """Level-1 partial ordered concat per (conv_id, turn_idx // block) —
    map-side combinable, bounded per-group state."""
    kept = F.array_sort(
        F.collect_list(F.struct("turn_idx", "extracted_text", "error"))
    )
    if max_turns > 0:
        kept = F.filter(kept, lambda t: t["turn_idx"] < max_turns)
    return (
        extracted.withColumn(
            "salt", (F.col("turn_idx") / F.lit(block)).cast("long")
        )
        .groupBy("conv_id", "salt")
        .agg(
            F.count("*").alias("pn_all"),
            F.size(kept).alias("pn_kept"),
            F.array_join(
                F.transform(kept, lambda t: t["extracted_text"]), _SEP
            ).alias("ptext"),
            F.size(F.filter(kept, lambda t: t["error"].isNotNull())).alias(
                "perr"
            ),
            F.collect_set("family").alias("pfams"),
            F.sum("n_pages").alias("ppages"),
            F.min_by("info", _info_key(max_turns)).alias("pinfo"),
            F.min(_info_key(max_turns)).alias("pinfo_idx"),
        )
    )


def _merge_partials(
    partial: DataFrame, group: list[str], order_col: str
) -> DataFrame:
    """Merge ordered partials one tree level up. Every field is
    associative under ordered merge ("\\n\\n" joins BETWEEN nonempty
    pieces, sums, set unions, min_by over the first-info index), so any
    nesting of merges equals the direct fold."""
    parts = F.array_sort(
        F.collect_list(F.struct(F.col(order_col).alias("o"), "pn_kept", "ptext"))
    )
    nonempty = F.filter(parts, lambda p: p["pn_kept"] > 0)
    return partial.groupBy(*group).agg(
        F.sum("pn_all").alias("pn_all"),
        F.sum("pn_kept").alias("pn_kept"),
        F.array_join(F.transform(nonempty, lambda p: p["ptext"]), _SEP).alias(
            "ptext"
        ),
        F.sum("perr").alias("perr"),
        F.array_distinct(F.flatten(F.collect_list("pfams"))).alias("pfams"),
        F.sum("ppages").alias("ppages"),
        F.min_by("pinfo", "pinfo_idx").alias("pinfo"),
        F.min("pinfo_idx").alias("pinfo_idx"),
    )


def _finalize(merged: DataFrame, leading_separator: bool) -> DataFrame:
    text = F.col("ptext")
    if leading_separator:
        # sequential-mode parity: prepend only when something was extracted
        text = F.when(
            F.col("pn_kept") > 0, F.concat(F.lit(_SEP), text)
        ).otherwise(text)
    return merged.select(
        "conv_id",
        F.col("pn_all").cast("int").alias("n_turns"),
        F.col("pn_kept").cast("int").alias("n_extracted"),
        text.alias("full_text"),
        F.col("perr").cast("long").alias("n_errors"),
        F.create_map(
            F.lit("families"), F.array_join(F.array_sort("pfams"), ","),
            F.lit("n_pages"), F.col("ppages").cast("string"),
            F.lit("info"), F.coalesce(F.col("pinfo"), F.lit("")),
        ).alias("meta"),  # ≙ the reference Result's info/metadata
    )


def concat_conversations_salted(
    extracted: DataFrame,
    block: int = 1024,
    leading_separator: bool = False,
    max_turns: int = 0,
    fanout: int = 0,
) -> DataFrame:
    """Skew-proof ordered concat: partial per (conv_id, turn_idx // block)
    then final per conv_id — two exchanges, each with bounded per-group
    state, so a 10^6-turn conversation never lands on one reducer.

    ``fanout > 0`` adds a superblock level (``fanout`` consecutive blocks
    per (conv_id, salt2) group) between the two: at 10^7 turns / 1024-block
    the final group would otherwise collect ~10k text pieces; with it, it
    sees ``ceil(n_blocks / fanout)`` rows (~153 at fanout 64), so reducer
    state stays flat no matter how long one conversation grows
    (``planner.tree_fanout`` decides when). Same output for every
    block/fanout (ordered-merge associativity; asserted by tests)."""
    partial = _block_partials(extracted, block, max_turns)
    order = "salt"
    if fanout > 0:
        partial = _merge_partials(
            partial.withColumn(
                "salt2", (F.col("salt") / F.lit(fanout)).cast("long")
            ),
            ["conv_id", "salt2"],
            "salt",
        ).withColumnRenamed("salt2", "o2")
        order = "o2"
    merged = _merge_partials(partial, ["conv_id"], order)
    return _finalize(merged, leading_separator)
