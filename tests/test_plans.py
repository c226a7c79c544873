"""Plan-regression tests: the scale-critical physical-plan properties must
hold, not just the results (SURVEY §4 'optimizer' parity — Catalyst provides
these, we prove we didn't accidentally defeat them)."""

from __future__ import annotations

import re

import pytest

from pdf_parse_new_spark import fixtures, queries as q
from pdf_parse_new_spark.operators import concat, extract
from pdf_parse_new_spark.plans.inspect import assert_plan, formatted_plan

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_and_pruning(spark):
    df = q.q_tpch_pricing(spark, SF)
    assert_plan(
        df,
        "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
        "HashAggregate",  # partial+final pair
    )
    plan = formatted_plan(df)
    # column pruning: the scan must not read the full 11-column lineitem
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_broadcast_join_and_topk(spark):
    assert_plan(
        q.q_top_customers(spark, SF),
        "BroadcastHashJoin",
        "TakeOrderedAndProject",
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_jaccard_join_no_cartesian(spark):
    # the exact set-similarity join must candidate via the token join —
    # never a cartesian/NLJ over document pairs
    assert_plan(
        q.q_jaccard_pairs(spark, SF),
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_retention_semi_anti_broadcast(spark):
    # §2.7 set ops: both membership probes must be broadcast hash
    # semi/anti joins — map-side lookups, no shuffle of the cohort side
    plan = formatted_plan(q.q_user_retention(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert_plan(
        q.q_user_retention(spark, SF),
        "BroadcastHashJoin",
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_multi_dim_joins_all_broadcast(spark):
    assert_plan(
        q.q_nation_orders(spark, SF),
        "BroadcastHashJoin",
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_extract_pipeline_shape(spark, smoke_df):
    turns = extract.extract_turns(smoke_df)
    plan = formatted_plan(turns)
    # the map stage must be shuffle-free: FlatMapGroups/Exchange only appear
    # if we accidentally grouped before the kernel
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "Exchange" not in plan

    # salted concat: exactly two exchanges (partial by (conv,salt), final by
    # conv) + the count-by-conv side — no more
    conv = concat.concat_conversations_salted(turns, block=64)
    n_exch = formatted_plan(conv).count("Exchange")
    assert n_exch <= 4, n_exch


def test_minhash_no_cartesian(spark):
    df = q.q_minhash_pairs(spark, SF)
    assert_plan(df, absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_lsh_bucket_cap_in_plan(spark):
    # the hot-bucket cap must be a real filter in the optimized plan: bucket
    # size bounded BEFORE pair expansion (one degenerate bucket at 100 TB
    # would otherwise be one reducer emitting O(n^2) pairs)
    from pdf_parse_new_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(dedup.minhash_dedup_pairs(docs, max_bucket=123))
    assert "123" in plan and "size(ids" in plan


def test_dup_groups_partial_agg(spark):
    plan = formatted_plan(q.q_dup_groups(spark, SF))
    # hash-groupBy with map-side partial aggregation: two HashAggregate
    # nodes around one Exchange
    assert plan.count("HashAggregate") >= 2


def test_decontaminate_broadcasts_eval_grams(spark):
    # the eval-gram side is the small side by design: it must broadcast,
    # never shuffle the 100-TB training side into a SortMergeJoin
    assert_plan(
        q.q_decontaminate(spark, SF),
        "BroadcastHashJoin",
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_dup_clusters_no_cartesian(spark):
    # connected components iterates equi-joins on node ids — no
    # cartesian/NLJ anywhere in the final assembled plan
    assert_plan(
        q.q_dup_clusters(spark, SF),
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_asof_join_is_window_not_join(spark):
    # the as-of join must compile to the union-window shape: one Window
    # over the user_id shuffle and NO join operator of any kind — an
    # inequality join here would be the per-user cross-product scale-killer
    plan = formatted_plan(q.q_asof_join(spark, SF))
    assert "Window" in plan, plan
    assert_plan(
        q.q_asof_join(spark, SF),
        absent=(
            "SortMergeJoin",
            "BroadcastHashJoin",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ),
    )


def test_range_join_bucketed_equi(spark):
    # the band join must candidate through the (user_id, bucket) equi-key
    # (explode = Generate in the plan), never an inequality-only join
    plan = formatted_plan(q.q_range_join(spark, SF))
    assert "Generate" in plan, plan
    assert_plan(
        q.q_range_join(spark, SF),
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_unigram_ll_vocab_broadcast(spark):
    # the vocabulary joins back onto the token stream as a broadcast hash
    # join (the 1-row total crossJoin is an intentional broadcast NLJ)
    assert_plan(
        q.q_unigram_ll(spark, SF),
        "BroadcastHashJoin",
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_source_mix_broadcast_rates(spark):
    # per-stratum rates broadcast onto the scan: the sample is a map-side
    # filter, not a shuffle of the corpus
    assert_plan(
        q.q_source_mix(spark, SF),
        "BroadcastHashJoin",
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_events_windowed_partial_agg(spark):
    plan = formatted_plan(q.q_events_windowed(spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_colocated_no_exchange(spark, tmp_path):
    # bucketing both sides of a join on the key pre-co-locates the data:
    # the SortMergeJoin consumes the bucketed layout directly — ZERO
    # Exchange in the plan. At 100 TB this is the repeat-join strategy
    # (pay the shuffle once at write time, never per query).
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for name, cols in (("bkt_left", ["doc_id", "source"]),
                       ("bkt_right", ["doc_id", "n_chars"])):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (docs.select(*cols).write.bucketBy(4, "doc_id").sortBy("doc_id")
         .option("path", str(tmp_path / name)).saveAsTable(name))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bkt_left").join(spark.table("bkt_right"), "doc_id")
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_files_chunked_one_parse_stage(spark, tmp_path):
    # a by-path call the driver plans (one big file, a few small ones):
    # every unit parses in ONE Python map, and the only Exchange is the
    # doc_id hash into the merge — no anti join feeding a second parse
    # stage, no grouped reassembly
    paths = [str(tmp_path / "big.pdf")]
    (tmp_path / "big.pdf").write_bytes(fixtures.build_big_binary_pdf(300))
    for i in range(3):
        paths.append(str(tmp_path / f"s{i}.pdf"))
        (tmp_path / f"s{i}.pdf").write_bytes(
            fixtures.build_big_binary_pdf(2, seed=i))
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    out = extract.extract_pdf_files_chunked(
        df, pages_per_chunk=50, big_file_bytes=10_000)
    plan = formatted_plan(out)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    python_maps = re.compile(r"MapIn(Arrow|Pandas)|FlatMapGroupsIn|EvalPython")
    assert len(python_maps.findall(tree.split("Exchange", 1)[1])) == 1, tree
    assert "LeftAnti" not in plan and "FlatMapGroupsInArrow" not in plan, tree
    assert out.count() == len(paths)
