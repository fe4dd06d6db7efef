"""Physical-plan assertions — the optimizer contract (SURVEY.md §4).

Not performance tests: these pin the PLAN SHAPE that makes the 100 TB case
work — predicate pushdown into the parquet scan, column pruning, broadcast
joins for dims, partial aggregation, TakeOrderedAndProject for top-k, and
exactly ONE exchange in the extract job.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ocrautomator_spark.queries import QUERIES
from ocrautomator_spark.spark.extract_job import flagship, run_extract
from ocrautomator_spark.spark.synth_job import synth_transcripts_df
from tests.conftest import SF_DIR


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(QUERIES["filter_pred"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:400], "shipdate range not pushed"


def test_column_pruning_in_read_schema(spark):
    plan = _plan(QUERIES["scan_project"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema
    # 4 of 11 lineitem columns — the scan must not read the rest
    assert read_schema.count(":") <= 5


def test_broadcast_join_is_broadcast(spark):
    plan = _plan(QUERIES["join_broadcast"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_has_partial_phase(spark):
    plan = _plan(QUERIES["agg_hash"](spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "partial_" in plan, "map-side (partial) aggregation missing"


def test_sort_limit_is_take_ordered(spark):
    plan = _plan(QUERIES["sort_limit"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, "global sort planned where top-k suffices"


def test_extract_job_has_exactly_one_exchange(spark):
    df = synth_transcripts_df(spark, 5)
    plan = _plan(run_extract(df, n_partitions=8))
    # exactly one hash exchange: the salted repartition (the synth generator's
    # own round-robin repartition of the id range is not a hash shuffle)
    n_exchanges = plan.count("Arguments: hashpartitioning")
    assert n_exchanges == 1, f"extract spine must hash-shuffle exactly once, saw {n_exchanges}"
    assert "REPARTITION_BY_NUM" in plan, "explicit partition count (AQE must not coalesce)"


def test_extract_default_partitions_one_per_core(spark, tmp_path):
    """With no explicit count, a parquet input is cut one partition per core
    (extract_partitions), not into the shuffle-partitions conf; the
    flagship's documents adapter gets the same count."""
    import re

    path = str(tmp_path / "in")
    synth_transcripts_df(spark, 5).write.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != cores
    # the adapter's turn_idx is the literal 0, so its salt folds to 0
    spine = re.compile(r"hashpartitioning\(conv_id#\d+, (?:pmod\(turn_idx#\d+, 16\)|0), (\d+)\), REPARTITION_BY_NUM")
    assert spine.findall(_plan(run_extract(spark.read.parquet(path)))) == [str(cores)]
    assert spine.findall(_plan(flagship(spark, SF_DIR))) == [str(cores)]


def test_extract_python_stage_reads_pruned_columns(spark):
    df = synth_transcripts_df(spark, 5).withColumn("junk", F.lit("x"))
    plan = _plan(run_extract(df, n_partitions=4))
    assert "junk" not in plan.split("MapInArrow")[1].split("Input")[0], "extra columns shipped to Python"


@pytest.mark.parametrize(
    "name",
    [
        "ann_cosine_topk",
        "ann_lsh_topk",
        "ann_lsh_multiprobe",
        "ann_ivf_topk",
        "ann_ivf_kmeans_topk",
        "ann_quantized_topk",
        "ann_pq_adc_topk",
        "ann_pq_sampled_topk",
    ],
)
def test_ann_topk_no_global_sort(spark, name):
    """Every single-query top-k ends in TakeOrderedAndProject, never a
    range-partitioned global sort of the corpus."""
    plan = _plan(QUERIES[name](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_salted_repartition_balances_skew(spark):
    """The north-star skew story, empirically: with salting, a 500-turn
    conversation spreads over many partitions; without, it lands on one."""
    convs = synth_transcripts_df(spark, 40)
    # without salt: partition purely by conv_id
    unsalted = convs.repartition(16, F.col("conv_id"))
    salted = run_extract(convs, n_partitions=16)  # salt buckets = 16

    def max_rows_per_partition(df):
        counts = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        return max(r["count"] for r in counts)

    total = convs.count()
    mx_unsalted = max_rows_per_partition(unsalted)
    mx_salted = max_rows_per_partition(salted.select("conv_id"))
    assert mx_salted < mx_unsalted, (
        f"salting must reduce the hottest partition: {mx_salted} !< {mx_unsalted} (total {total})"
    )
    assert mx_salted <= total / 16 * 2.5, "salted partitions should be near-balanced"


def test_dedup_embedding_candidates_are_equi_join(spark):
    """The candidate stage must be an equi-join on the LSH bucket — never a
    BroadcastNestedLoopJoin / cartesian on an inequality condition."""
    plan = _plan(QUERIES["dedup_embedding_cosine"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan


def test_dedup_exact_shuffles_fixed_width_key(spark):
    """The dedup shuffle must carry the md5 grouping key, not the payload:
    partial aggregation collapses to (key, min, count) before the exchange."""
    plan = _plan(QUERIES["dedup_exact"](spark, SF_DIR))
    assert "partial_" in plan, "map-side partial agg missing — shuffle would carry payloads"
    # the exchange hashes the md5 grouping expression, not the text column
    exch = plan.split("Arguments: hashpartitioning")[1].splitlines()[0]
    assert "text" not in exch


def test_conversation_family_reuses_one_exchange(spark):
    """The events→transcripts adapter windows over the conv_id attribute
    itself, so turn numbering + downstream per-conversation windows share ONE
    hashpartitioning exchange."""

    for name in ("conv_turn_gaps", "conv_merge_runs", "conv_response_latency", "conv_context_window"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        n = plan.count("Arguments: hashpartitioning")
        assert n == 1, f"{name}: expected 1 hash exchange, saw {n}"


def test_substring_dedup_plans_have_no_quadratic_join(spark):
    """Both substring-dedup entries must candidate-generate through the
    shingle-hash equi-join (pair view) or a pure aggregate (span view) —
    never a cartesian/BNLJ; and the span view must contain NO join between
    corpus-sized relations beyond the semi-join back to the kept hashes."""
    for name in ("dedup_substring_windows", "dedup_substring_spans", "dedup_substring_windows_rk", "dedup_substring_spans_rk", "dedup_substring_excise_rk"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Cartesian" not in plan, name


def test_substring_windows_h_exchange_serves_every_consumer(spark):
    """dedup_substring_windows: the pinned-count repartition on h is the only
    exchange that hashes on h — the (doc_id, h) distinct, the DF guard and
    both self-join sides add none of their own. The unexecuted plan carries
    one identical copy of it per consumer subtree; run at sf0.001, AQE runs
    two of them (the self-join's and the DF guard's under its broadcast)
    and reuses the rest."""
    plan = _plan(QUERIES["dedup_substring_windows"](spark, SF_DIR))
    on_h = re.findall(r"Arguments: hashpartitioning\(h#\d+, (\d+)\), (\w+)", plan)
    assert on_h, "no exchange on h"
    assert {kind for _, kind in on_h} == {"REPARTITION_BY_NUM"}, on_h
    assert len({n for n, _ in on_h}) == 1, on_h


def test_substring_windows_rk_checkpoint_drops_k_partitioning(spark):
    """dedup_substring_windows_rk repartitions on k before its
    localCheckpoint so that the DF guard and both self-join sides would need
    no re-shuffle. The plan does not show that: the checkpointed scan
    reports UnknownPartitioning, and the consumers hash on k again
    (ENSURE_REQUIREMENTS). This pins the shape as it is; a change that keeps
    the checkpoint's partitioning must flip both assertions."""
    plan = _plan(QUERIES["dedup_substring_windows_rk"](spark, SF_DIR))
    assert "ExistingRDD, UnknownPartitioning(0)" in plan
    on_k = re.findall(r"Arguments: hashpartitioning\(k#\d+L?, \d+\), (\w+)", plan)
    assert on_k and set(on_k) == {"ENSURE_REQUIREMENTS"}, on_k


def test_pq_adc_plan_shape(spark):
    """PQ/ADC: exactly one broadcast cross-join (the 1-row query vector —
    linear, sanctioned) and top-k via TakeOrderedAndProject, never a global
    sort of the corpus."""
    plan = _plan(QUERIES["ann_pq_adc_topk"](spark, SF_DIR))
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # cand + re-rank stages
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_shuffle_shards_single_exchange(spark):
    """The deterministic corpus shuffle must cost exactly ONE exchange (the
    shard key) — a global row_number would show a singlePartition exchange."""

    plan = _plan(QUERIES["curation_shuffle_shards"](spark, SF_DIR))
    # "Exchange (" counts tree nodes once; the formatted detail section
    # repeats the name without the node id
    assert plan.count("Exchange (") == 1, plan[:600]
    assert "SinglePartition" not in plan


def test_range_join_is_binned_equi_join(spark):
    """join_range_binned must plan a hash/sort-merge EQUI-join on the bin
    key — never the BroadcastNestedLoopJoin a raw interval predicate
    produces — with the exact range re-filter applied post-join."""

    plan = _plan(QUERIES["join_range_binned"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan
    # partial aggregation before the final group-by exchange
    assert "partial_" in plan


def test_pagerank_plan_shape(spark):
    """graph_pagerank_topk: per-iteration work is edge-join + partial-agg
    shuffles; the ONLY nested-loop allowed is the 1-row node-count
    broadcast, and top-k must be TakeOrderedAndProject, never a global
    sort."""

    plan = _plan(QUERIES["graph_pagerank_topk"](spark, SF_DIR))
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # 1-row nn broadcast only
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_" in plan
