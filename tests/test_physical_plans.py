"""Physical-plan assertions — the optimizer contract (SURVEY.md §4).

Not performance tests: these pin the PLAN SHAPE that makes the 100 TB case
work — predicate pushdown into the parquet scan, column pruning, broadcast
joins for dims, partial aggregation, TakeOrderedAndProject for top-k, and
exactly ONE exchange in the extract job.
"""

from __future__ import annotations

import contextlib
import io
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from ocrautomator_spark.queries import QUERIES, common
from ocrautomator_spark.queries.pipeline_ops import _rk_matched_windows
from ocrautomator_spark.spark.extract_job import flagship, run_extract
from ocrautomator_spark.spark.synth_job import synth_transcripts_df
from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _final_plan(df) -> str:
    """Run ``df`` and return AQE's final physical plan, one node per line
    with its arguments — the plan that actually ran, after stage reuse and
    re-optimization."""
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    assert adaptive.isFinalPlan()
    return adaptive.executedPlan().toString()


def _tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node) per line of a plan tree string."""
    rows = []
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        if node:
            rows.append((len(line) - len(node), node))
    return rows


def _stage_of(plan: str) -> list[tuple[str, str]]:
    """(enclosing query stage, node) per node of a final plan: the stage is
    the nearest ancestor ``*QueryStage`` line, or "" above every stage."""
    out, stack = [], []
    for depth, node in _tree(plan):
        while stack and stack[-1][0] >= depth:
            stack.pop()
        stages = [n for _, n in stack if "QueryStage" in n.split(" ")[0]]
        out.append((stages[-1] if stages else "", node))
        stack.append((depth, node))
    return out


def _subtree(plan: str, head: str) -> list[str]:
    """Nodes strictly below the first node that starts with ``head``."""
    rows = _tree(plan)
    for j, (depth, node) in enumerate(rows):
        if node.startswith(head):
            below = []
            for d, n in rows[j + 1:]:
                if d <= depth:
                    break
                below.append(n)
            return below
    raise AssertionError(f"no {head} in plan")


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


def _one_window_sort(final: str) -> None:
    """The plan's only Sort feeds its Window operators — the guard's one
    sort on the key — and nothing in it is broadcast."""
    nodes = [n for _, n in _tree(final)]
    sorts = [j for j, n in enumerate(nodes) if re.match(r"(\*\(\d+\) )?Sort ", n)]
    assert len(sorts) == 1 and nodes[sorts[0] - 1].startswith("Window "), final
    assert "BroadcastExchange " not in final, final


def test_substring_windows_h_exchange_serves_every_consumer(spark):
    """dedup_substring_windows: the pinned-count repartition on h is the only
    exchange that hashes on h — the (doc_id, h) distinct, the DF guard's
    window and the per-h pair lists add none of their own. Run at sf0.001,
    the md5 window scan (its Generate) runs in ONE shuffle stage, the guard
    sorts once, and nothing in the plan joins or broadcasts."""
    df = QUERIES["dedup_substring_windows"](spark, SF_DIR)
    plan = _plan(df)
    on_h = re.findall(r"Arguments: hashpartitioning\(h#\d+, (\d+)\), (\w+)", plan)
    assert on_h, "no exchange on h"
    assert {kind for _, kind in on_h} == {"REPARTITION_BY_NUM"}, on_h
    assert len({n for n, _ in on_h}) == 1, on_h

    final = _final_plan(df)
    md5_stages = [st for st, node in _stage_of(final) if re.match(r"(\*\(\d+\) )?Generate .*md5\(", node)]
    assert len(md5_stages) == 1 and md5_stages[0].startswith("ShuffleQueryStage"), md5_stages
    assert len(re.findall(r"Exchange hashpartitioning\(h#", final)) == 1, final
    assert "ReusedExchange" not in final, final
    on_h_aggs = re.findall(r"Aggregate\(keys=\[h#\d+\], functions=\[(\w+)", final)
    assert set(on_h_aggs) == {"partial_collect_list", "collect_list"}, "DF guard aggregates on h"
    assert not re.search(r"(SortMerge|BroadcastHash|ShuffledHash)Join ", final), final
    _one_window_sort(final)


def test_substring_windows_rk_scan_runs_once(spark):
    """dedup_substring_windows_rk needs no materialization barrier: the DF
    guard's window is the sampled keys' only consumer, so the pandas-UDF
    scan runs once, in front of the one exchange on k that the guard's sort
    and the per-k pair lists share."""
    final = _final_plan(QUERIES["dedup_substring_windows_rk"](spark, SF_DIR))
    assert "ExistingRDD" not in final
    assert final.count("ArrowEvalPython ") == 1, final
    assert len(re.findall(r"Exchange hashpartitioning\(k#\d+L?, \d+\)", final)) == 1, final
    assert "ReusedExchange" not in final, final
    _one_window_sort(final)


@pytest.mark.parametrize(
    "build",
    [
        lambda spark: QUERIES["dedup_minhash_lsh"](spark, SF_DIR),
        lambda spark: QUERIES["dedup_minhash_weighted"](spark, SF_DIR),
        lambda spark: QUERIES["dedup_simhash"](spark, SF_DIR),
        lambda spark: _rk_matched_windows(spark, SF_DIR),
    ],
    ids=["minhash_lsh", "minhash_weighted", "simhash", "rk_matched_windows"],
)
def test_guarded_key_stages_plan_no_checkpoint_or_broadcast(spark, build):
    """The LSH band stage and the Rabin-Karp match stage guard their keys
    with a window over one exchange: no checkpointed scan (ExistingRDD) and
    no broadcast anti-join or hub join."""
    final = _final_plan(build(spark))
    assert "ExistingRDD" not in final, final
    assert "BroadcastExchange" not in final, final
    assert "Window " in final, final


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

    df = QUERIES["join_range_binned"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan
    # partial aggregation before the final group-by exchange
    assert "partial_" in plan
    # the interval side is broadcast: no shuffle under the build, neither
    # planned nor run
    planned = df._jdf.queryExecution().executedPlan().toString()
    for tree in (planned, _final_plan(df)):
        below = _subtree(tree, "BroadcastExchange ")
        assert not [n for n in below if "Exchange " in n], below


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


# (registry entry, the key its stage exchange is pinned on)
PINNED = [
    ("conv_merge_runs", "conv_id"),
    ("events_sessionize", "user_id"),
    ("join_asof", "k"),
    ("win_rank", "o_custkey"),
    ("topk_per_group", "o_custkey"),
    ("join_range_binned", "bin"),  # the probe side only
    ("dedup_substring_windows", "h"),
]


@pytest.mark.parametrize("name,key", PINNED, ids=[p[0] for p in PINNED])
def test_pinned_exchange_count(spark, name, key):
    """Each keyed stage exchange is pinned at one partition per core."""
    found = re.findall(
        rf"hashpartitioning\({key}#\d+L?, (\d+)\), REPARTITION_BY_NUM", _plan(QUERIES[name](spark, SF_DIR))
    )
    assert found, f"no pinned exchange on {key}"
    assert {int(n) for n in found} == {spark.sparkContext.defaultParallelism}


def test_pinned_count_decided_in_one_module():
    """Only queries/common.py sizes an exchange by the core count."""
    qdir = pathlib.Path(common.__file__).parent
    offenders = [
        str(p.relative_to(qdir)) for p in sorted(qdir.rglob("*.py"))
        if p.name != "common.py" and "defaultParallelism" in p.read_text()
    ]
    assert offenders == []
