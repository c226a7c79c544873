"""Driver-side stats-probe planner — the SmartPDFParser analog
(reference lib/SmartPDFParser.js:195-294: quickCheck -> cached decision ->
analyze -> rule-table strategy selection).

Catalyst + AQE already own the relational decisions (join strategy,
partition coalescing, skew splitting). What they cannot see is the inside of
the extraction UDF, so the planner sets the three knobs that matter there:

- ``partitions``: extraction-stage repartition width (compute balance);
- ``salt_block``: turns per partial-concat group (skew ceiling);
- ``arrow_batch``: records per Arrow batch (per-task memory ceiling —
  the reference's memory-capped pool sizing, SmartPDFParser.js:464-478).

The probe is one cheap aggregation (count / avg+p95 payload length / max
group size) — the analog of the reference's max:1 probe parse
(SmartPDFParser.js:323-339). Plans are not cached: the reference's
(sizeMB, cpus) decision cache (:120-134) exists to skip its probe, but a
plan must follow its own corpus's stats, so every call re-probes.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tier table in the spirit of lib/smart-parser-rules.json (page-count ranges
# -> strategy); here: corpus row counts -> partition multiplier
TIERS = (
    # (max_rows, partitions_per_core, salt_block, arrow_batch)
    (10_000, 1, 1 << 30, 4096),       # tiny: no salting needed
    (1_000_000, 3, 4096, 4096),       # medium
    (100_000_000, 4, 2048, 2048),     # large
    (None, 4, 1024, 1024),            # huge: tight memory + skew control
)


# a conversation spanning more than this many block partials upgrades the
# concat to the three-level tree (final reducer sees superblocks, not one
# row per block)
TREE_FANOUT_AT = 4096
TREE_FANOUT = 64


@dataclass(frozen=True)
class Plan:
    n_rows: int
    avg_len: float
    p95_len: float
    max_conv_turns: int
    cores: int
    partitions: int
    salt_block: int
    arrow_batch: int
    tree_fanout: int = 0  # >0: concat adds the superblock level

    def asdict(self) -> dict:
        return asdict(self)


def tree_fanout(max_conv_turns: int, block: int) -> int:
    """Superblock fan-out for ``concat.concat_conversations_salted``:
    ``TREE_FANOUT`` once the biggest conversation spans more than
    ``TREE_FANOUT_AT`` block partials, else 0 (partial + final only)."""
    if block > 0 and max_conv_turns // block > TREE_FANOUT_AT:
        return TREE_FANOUT
    return 0


def probe(df: DataFrame) -> tuple[int, float, float, int]:
    """ONE Spark job: per-conversation pre-agg (count, payload bytes,
    per-group p95) reduced to global stats. n/avg/max-group are exact; the
    p95 is the max of per-group p95s — an upper bound on the true global
    p95, which is the safe direction for its only use (sizing Arrow batches
    under the memory cap)."""
    row = (
        df.groupBy("conv_id")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.length("text")).alias("s"),
            F.percentile_approx(F.length("text"), 0.95).alias("p"),
        )
        .agg(
            F.sum("c").alias("n"),
            F.sum("s").alias("bytes"),
            F.max("c").alias("biggest"),
            F.max("p").alias("p95_len"),
        )
        .collect()[0]
    )
    n = int(row["n"] or 0)
    avg_len = float(row["bytes"] or 0) / n if n else 0.0
    return n, avg_len, float(row["p95_len"] or 0.0), int(row["biggest"] or 0)


def make_plan(df: DataFrame, cores: int | None = None) -> Plan:
    spark = df.sparkSession
    cores = cores or spark.sparkContext.defaultParallelism
    n, avg_len, p95_len, biggest = probe(df)
    for max_rows, mult, salt_block, arrow_batch in TIERS:
        if max_rows is None or n <= max_rows:
            break
    # memory cap: keep one Arrow batch under ~64 MB of payload
    if p95_len > 0:
        arrow_batch = max(256, min(arrow_batch, int(64e6 / max(p95_len, 1))))
    # a conversation longer than salt_block spreads over ceil(n/B) partials
    if biggest <= salt_block:
        salt_block = max(biggest, 1) if salt_block == 1 << 30 else salt_block
    return Plan(
        n_rows=n,
        avg_len=round(avg_len, 1),
        p95_len=round(p95_len, 1),
        max_conv_turns=biggest,
        cores=cores,
        partitions=max(cores, min(cores * mult, max(1, n // 1000))),
        salt_block=salt_block,
        arrow_batch=arrow_batch,
        tree_fanout=tree_fanout(biggest, salt_block),
    )


def apply_plan(spark, plan: Plan) -> None:
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(plan.arrow_batch)
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(plan.partitions))
