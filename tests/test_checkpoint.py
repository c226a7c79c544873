"""Checkpoint/resume, lineage manifests, and the stats-probe planner."""

from __future__ import annotations

import shutil
import tempfile

from pdf_parse_new_spark import fixtures
from pdf_parse_new_spark.operators import extract
from pdf_parse_new_spark.plans import planner
from pdf_parse_new_spark.sources import checkpoint, lineage


def test_incremental_resume(spark):
    out = tempfile.mkdtemp(prefix="ckpt-")
    try:
        df1 = fixtures.make_transcripts_df(spark, n_convs=6, median_turns=5)
        c1 = checkpoint.run_incremental(spark, df1, out)
        assert c1["n_rows"] == df1.count()
        assert c1["n_convs"] == 6
        assert len(c1["partitions"]) >= 1

        # identical re-run: idempotent no-op (no second snapshot)
        c2 = checkpoint.run_incremental(spark, df1, out)
        assert c2.get("skipped") is True
        assert len(checkpoint.committed_files(out)) == 1

        # grow the input: only the 4 new conversations are processed
        df2 = fixtures.make_transcripts_df(spark, n_convs=10, median_turns=5)
        c3 = checkpoint.run_incremental(spark, df2, out)
        assert c3["n_convs"] == 4
        total = checkpoint.read_committed(spark, out)
        assert total.count() == df2.count()
        assert total.select("conv_id").distinct().count() == 10
        # committed rows byte-match a fresh full extraction
        fresh = {
            (r.conv_id, r.turn_idx): r.extracted_text
            for r in extract.extract_turns(df2).collect()
        }
        for r in total.collect():
            assert fresh[(r.conv_id, r.turn_idx)] == r.extracted_text
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_lineage_manifest_totals(spark, smoke_df):
    ext = extract.extract_turns(smoke_df, with_lineage=True)
    manifest = lineage.partition_manifest(ext)
    assert sum(m["n_rows"] for m in manifest) == smoke_df.count()
    assert all(m["kernel_ms"] >= 0 for m in manifest)
    stats = {r.family: r for r in lineage.run_stats(ext).collect()}
    assert stats["corrupt"].n_errors == stats["corrupt"].n
    assert stats["plain"].n_errors == 0


def test_lineage_identical_timing_batches_sum_exact(spark):
    """Two Arrow batches that time out to the IDENTICAL float must both count
    toward partition kernel time (batch_seq disambiguates; the old
    sum_distinct approximation collapsed them)."""
    rows = [
        # partition irrelevant (single partition): two batches, same 7.5 ms
        ("c1", 0, "user", "plain", "a", None, 0, 7.5, 0),
        ("c1", 1, "user", "plain", "b", None, 0, 7.5, 0),
        ("c2", 0, "user", "plain", "c", None, 0, 7.5, 1),
        ("c2", 1, "user", "plain", "d", None, 0, 7.5, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, family string, "
        "extracted_text string, error string, n_pages int, "
        "kernel_ms double, batch_seq long",
    ).coalesce(1)
    manifest = lineage.partition_manifest(df)
    assert sum(m["n_rows"] for m in manifest) == 4
    assert abs(sum(m["kernel_ms"] for m in manifest) - 15.0) < 1e-6


def test_planner_probe_and_tiers(spark, smoke_df):
    plan = planner.make_plan(smoke_df, cores=8)
    assert plan.n_rows == smoke_df.count()
    assert plan.max_conv_turns == 200  # the skew conv
    assert plan.partitions >= 8
    assert plan.arrow_batch >= 256
    # tiny tier: salt block collapses to the biggest conversation
    assert plan.salt_block == 200
    planner.apply_plan(spark, plan)
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == str(
        plan.arrow_batch
    )
    # tree upgrade only fires when ONE conversation spans more block
    # partials than the final reducer should collect
    assert plan.tree_fanout == 0
    at = planner.TREE_FANOUT_AT
    assert planner.tree_fanout(at * 1024, 1024) == 0
    assert planner.tree_fanout((at + 1) * 1024, 1024) == planner.TREE_FANOUT
    assert planner.tree_fanout(20_000_000, 1024) == planner.TREE_FANOUT
    # a second corpus in the same 10,000-row bucket gets its OWN stats and
    # decisions: one 1,000-turn conversation of 32,000-char turns
    from pyspark.sql import functions as F

    big = spark.range(1000).select(
        F.lit("one").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.repeat(F.lit("x"), 32_000).alias("text"),
    )
    plan2 = planner.make_plan(big, cores=8)
    assert plan2.n_rows == 1000
    assert plan2.max_conv_turns == plan2.salt_block == 1000
    # 64 MB Arrow-batch cap: 64e6 / 32,000 chars
    assert plan2.arrow_batch == 2000


def test_resume_across_engine_schema_versions(spark, tmp_path):
    """A checkpoint written by an OLDER engine (no per-turn `info` column)
    must still resume under the new engine: read_committed merges schemas
    and old rows surface info=null."""
    out = str(tmp_path / "evo")
    full = fixtures.make_transcripts_df(spark, n_convs=6, median_turns=4)
    first = full.filter("conv_id < 'conv-000003'")
    rest = full.filter("conv_id >= 'conv-000003'")

    c1 = checkpoint.run_incremental(spark, first, out)
    assert c1["n_rows"] > 0
    # simulate the round-1 engine's snapshot: rewrite the first commit's
    # data files without the info column
    import pyspark.sql.functions as F  # noqa: F401

    d1 = c1["data_dirs"][0]
    old = spark.read.parquet(d1).drop("info")
    tmp_dir = d1 + ".old"
    old.write.mode("overwrite").parquet(tmp_dir)
    import shutil

    shutil.rmtree(d1)
    shutil.move(tmp_dir, d1)

    c2 = checkpoint.run_incremental(spark, full, out)
    assert c2["n_rows"] > 0  # only the remaining conversations re-ran
    assert c2["n_convs"] == rest.select("conv_id").distinct().count()
    merged = checkpoint.read_committed(spark, out)
    assert "info" in merged.columns
    assert merged.count() == full.count()
    # old-snapshot rows read as info=null, new rows keep theirs
    old_rows = merged.join(first.select("conv_id").distinct(), "conv_id")
    assert old_rows.filter("info is not null").count() == 0


def test_snapshot_time_travel(spark):
    """Iceberg VERSION-AS-OF analog: reading as of a historical snapshot
    reconstructs exactly the rows visible at that commit; the snapshots
    listing carries cumulative counts in commit order."""
    import pytest

    out = tempfile.mkdtemp(prefix="ckpt-tt-")
    try:
        df1 = fixtures.make_transcripts_df(spark, n_convs=4, median_turns=5)
        c1 = checkpoint.run_incremental(spark, df1, out)
        df2 = fixtures.make_transcripts_df(spark, n_convs=7, median_turns=5)
        c2 = checkpoint.run_incremental(spark, df2, out)
        df3 = fixtures.make_transcripts_df(spark, n_convs=9, median_turns=5)
        c3 = checkpoint.run_incremental(spark, df3, out)

        snaps = checkpoint.snapshots(out)
        assert [s["snapshot_id"] for s in snaps] == [
            c1["snapshot_id"], c2["snapshot_id"], c3["snapshot_id"]
        ]
        assert snaps[-1]["cumulative_rows"] == df3.count()
        assert snaps[0]["cumulative_rows"] == c1["n_rows"]

        # as-of the FIRST snapshot: only df1's conversations are visible
        at1 = checkpoint.read_committed(spark, out, as_of=c1["snapshot_id"])
        assert at1.count() == df1.count()
        assert at1.select("conv_id").distinct().count() == 4
        # as-of the SECOND: df2's cumulative state
        at2 = checkpoint.read_committed(spark, out, as_of=c2["snapshot_id"])
        assert at2.count() == df2.count()
        assert at2.select("conv_id").distinct().count() == 7
        # default read = latest
        assert checkpoint.read_committed(spark, out).count() == df3.count()
        # time-travelled rows are the same bytes the full read carries
        full_rows = {
            (r.conv_id, r.turn_idx): r.extracted_text
            for r in checkpoint.read_committed(spark, out).collect()
        }
        for r in at1.collect():
            assert full_rows[(r.conv_id, r.turn_idx)] == r.extracted_text

        with pytest.raises(ValueError, match="unknown snapshot_id"):
            checkpoint.read_committed(spark, out, as_of="nope")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_compact_and_expire_snapshots(spark):
    """Compaction rewrites the table into one replaces_all snapshot: reads
    (and resumes) see identical rows, pre-compaction time travel keeps
    working until expire_snapshots reclaims it, and incremental commits
    keep stacking on top of the compacted base."""
    import os

    import pytest

    out = tempfile.mkdtemp(prefix="ckpt-cmp-")
    try:
        df1 = fixtures.make_transcripts_df(spark, n_convs=4, median_turns=5)
        c1 = checkpoint.run_incremental(spark, df1, out)
        df2 = fixtures.make_transcripts_df(spark, n_convs=7, median_turns=5)
        checkpoint.run_incremental(spark, df2, out)

        before = {
            (r.conv_id, r.turn_idx): r.extracted_text
            for r in checkpoint.read_committed(spark, out).collect()
        }
        cc = checkpoint.compact(spark, out, partitions=2)
        assert cc["replaces_all"] and cc["n_rows"] == df2.count()
        after = {
            (r.conv_id, r.turn_idx): r.extracted_text
            for r in checkpoint.read_committed(spark, out).collect()
        }
        assert after == before
        # the live read lists ONLY the compacted snapshot's files
        paths = checkpoint.committed_data_paths(out)
        assert paths == cc["data_dirs"]
        # pre-compaction time travel still works (files not yet expired)
        at1 = checkpoint.read_committed(spark, out, as_of=c1["snapshot_id"])
        assert at1.select("conv_id").distinct().count() == 4
        # snapshots(): cumulative resets at the compaction row
        snaps = checkpoint.snapshots(out)
        assert snaps[-1]["compaction"] is True
        assert snaps[-1]["cumulative_rows"] == df2.count()

        # incremental on top of the compacted base: only new convs run
        df3 = fixtures.make_transcripts_df(spark, n_convs=9, median_turns=5)
        c3 = checkpoint.run_incremental(spark, df3, out)
        assert c3["n_convs"] == 2
        assert checkpoint.read_committed(spark, out).count() == df3.count()

        # expire: pre-compaction snapshots and their files are reclaimed
        removed = checkpoint.expire_snapshots(out)
        assert c1["snapshot_id"] in removed
        assert not os.path.isdir(c1["data_dirs"][0])
        with pytest.raises(ValueError, match="unknown snapshot_id"):
            checkpoint.read_committed(spark, out, as_of=c1["snapshot_id"])
        # current table and the post-compaction commit are untouched
        assert checkpoint.read_committed(spark, out).count() == df3.count()
        assert len(checkpoint.committed_files(out)) == 2
    finally:
        shutil.rmtree(out, ignore_errors=True)
