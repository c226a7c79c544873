"""High-level API — the analog of the reference's ``pdf(dataBuffer, options)``
entry point (lib/pdf-parse.js:56-142), lifted to a table of conversations.

``extract_conversations(df, options)`` returns one row per conversation:
``conv_id, n_turns, n_extracted, full_text, n_errors`` — the Result record
(numpages, numrender, text) of the reference, per group.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from pdf_parse_new_spark.operators import concat, extract


@dataclass
class Options:
    """Mirror of the reference's DEFAULT_OPTIONS (lib/pdf-parse.js:48-54),
    reinterpreted for the table pipeline."""

    kernel: str | None = None          # pagerender / pagerenderModule analog
    max_turns: int = 0                 # max: <=0 -> all, clamped
    leading_separator: bool = False    # sequential (True) vs parallel join
    salt_block: int = 1024             # turns per partial-concat group
    # >0: superblock level (block -> fanout-sized superblocks -> final)
    # for pathological conversations where even one-partial-per-block
    # overwhelms the final reducer (see planner.tree_fanout)
    tree_fanout: int = 0
    partitions: int | None = None      # extraction-stage repartition


def extract_turns(df: DataFrame, options: Options | None = None) -> DataFrame:
    opt = options or Options()
    return extract.extract_turns(
        df, kernel=opt.kernel, partitions=opt.partitions
    )


def extract_conversations_planned(
    df: DataFrame, options: Options | None = None
) -> DataFrame:
    """``extract_conversations`` behind the one-job planner probe: sizes
    Arrow batches / partitions / salt block from the corpus stats and
    adds the superblock concat level when ``planner.tree_fanout`` asks
    for it at the EFFECTIVE block size (an explicitly smaller
    ``Options.salt_block`` lowers the upgrade point). Explicitly-set
    Options fields win."""
    import dataclasses

    from pdf_parse_new_spark.plans import planner

    opt = dataclasses.replace(options) if options else Options()
    plan = planner.make_plan(df)
    planner.apply_plan(df.sparkSession, plan)
    if opt.partitions is None:
        opt.partitions = plan.partitions
    if opt.salt_block == Options.salt_block:
        opt.salt_block = plan.salt_block
    if opt.tree_fanout == 0:
        opt.tree_fanout = planner.tree_fanout(
            plan.max_conv_turns, opt.salt_block
        )
    return extract_conversations(df, opt)


def extract_conversations(
    df: DataFrame, options: Options | None = None
) -> DataFrame:
    opt = options or Options()
    return concat.concat_conversations_salted(
        extract_turns(df, opt),
        block=opt.salt_block,
        leading_separator=opt.leading_separator,
        max_turns=opt.max_turns,
        fanout=opt.tree_fanout,
    )
