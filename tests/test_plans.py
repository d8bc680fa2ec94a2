"""Physical-plan quality tests: the declarative parts of the engine must
keep Catalyst's optimizations — column pruning and predicate pushdown reach
the parquet scan, small dimension joins broadcast, the kernel stages sit
directly on pruned scans (no accidental extra shuffles), and tier cascades
aggregate map-side before their single shuffle. (WholeStageCodegen spans
are only visible in finalized AQE plans, so codegen is implied by the
HashAggregate operators rather than asserted by name.)"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from matrixprofiler_spark.operators.rollup import tier_rollup, window_stats_chunked
from matrixprofiler_spark.operators.similarity import cosine_topk
from matrixprofiler_spark.sources.tokens import tokens_from_documents

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_prunes_columns(spark):
    """tier_rollup needs only doc_id/tokens/source -> ReadSchema must not
    include lang or n_chars."""
    tok = tokens_from_documents(spark, SF)
    plan = plan_of(tier_rollup(tok, {"1m": 60}))
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "lang" not in read_schema
    assert "n_chars" not in read_schema
    assert "text" in read_schema  # tokens derive from text


def test_filter_pushdown_to_scan(spark):
    """A source filter must reach the parquet scan as a pushed filter."""
    tok = tokens_from_documents(spark, SF).filter(F.col("source") == "src1")
    plan = plan_of(tier_rollup(tok, {"1m": 60}))
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "source" in pushed and "src1" in pushed


def test_no_shuffle_before_kernel(spark):
    """Docs are independent rows: the finest-rollup kernel must sit directly
    on the scan — zero Exchange operators in the plan unless salting is
    explicitly requested."""
    tok = tokens_from_documents(spark, SF)
    plan = plan_of(tier_rollup(tok, {"1m": 60}))
    assert "Exchange" not in plan


def _tree_nodes(plan: str) -> list[str]:
    """Node names of a formatted plan's operator tree (its first block)."""
    return [re.sub(r"^[\s:+-]*", "", line).rsplit(" (", 1)[0].strip()
            for line in plan.split("\n\n")[0].splitlines()[1:]]


def _assert_one_kernel_on_scan(df) -> None:
    """One MapInPandas fed straight from the scan: no Exchange (the
    fan-out merges input splits) and no aggregation."""
    nodes = _tree_nodes(plan_of(df))
    assert "Exchange" not in nodes
    assert nodes.count("MapInPandas") == 1
    assert not [n for n in nodes if "Aggregate" in n]


def test_tier_rollup_is_one_kernel(spark):
    """Every tier comes out of one Arrow kernel over the raw tokens, and
    the fanned-out plan coalesces the scan's splits instead of shuffling
    the token arrays, whatever tiers it emits."""
    tok = tokens_from_documents(spark, SF)
    _assert_one_kernel_on_scan(tier_rollup(tok, num_partitions=4))


def test_window_stats_chunked_is_one_kernel(spark):
    """The chunked window stats run as one Arrow kernel on the chunked
    scan, fanned out without a shuffle."""
    tok = tokens_from_documents(spark, SF)
    _assert_one_kernel_on_scan(window_stats_chunked(tok, 8, num_partitions=4))


def test_linear_kernels_build_without_jobs(spark, spark_jobs):
    """Building the fanned-out rollup and window stats runs no Spark job,
    even on a shuffled input (whose split count only a job would tell
    under AQE): the fan-out is a coalesce, not sized from that count."""
    tok = tokens_from_documents(spark, SF).repartition(3, "doc_id")
    _, n = spark_jobs("build_linear_kernels", lambda: (
        tier_rollup(tok, num_partitions=4),
        window_stats_chunked(tok, 8, num_partitions=4)))
    assert n == 0


def test_distributed_mp_builds_without_jobs(spark):
    """Building the tiled matrix profile runs no Spark job: its fan-out
    is one wave of task slots, not sized by an eager tile census."""
    from matrixprofiler_spark.operators.mp_ops import matrix_profile_distributed

    tok = tokens_from_documents(spark, SF)
    sc = spark.sparkContext
    group = "test_distributed_mp_builds_without_jobs"
    sc.setJobGroup(group, "build matrix_profile_distributed")
    try:
        matrix_profile_distributed(tok, 8, num_partitions=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def test_broadcast_join_for_small_query_side(spark):
    """cosine_topk broadcasts the tiny query set; the corpus must not be
    shuffled for the join."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(cosine_topk(emb, k=1, num_queries=5))
    assert "Broadcast" in plan


def test_whole_stage_codegen_in_cascade(spark):
    """The tier cascade aggregation is JVM-side with codegen (and partial
    map-side aggregation), not a Python round-trip."""
    from matrixprofiler_spark.operators.rollup import cascade_tier

    tok = tokens_from_documents(spark, SF)
    h1 = cascade_tier(tier_rollup(tok, {"1m": 60}), 60, 3600, "1h")
    plan = plan_of(h1)
    # map-side partial aggregation + exactly one shuffle on the group keys
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert plan.count("+- Exchange") == 1  # one shuffle operator in the tree


def test_srp_pairs_no_cartesian(spark):
    """The SRP candidate join must be an equi-join on bucket — never a
    cartesian/broadcast-nested-loop over the corpus."""
    from matrixprofiler_spark.operators.similarity import srp_pairs_above

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(srp_pairs_above(emb, 0.3, n_planes=4))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_distributed_mp_single_merge_shuffle(spark):
    """The tiled MP's only aggregation shuffle is the (doc, off) min-merge,
    and the tile self-join is an equi-join on doc_id (no cartesian)."""
    from matrixprofiler_spark.operators.mp_ops import matrix_profile_distributed
    from matrixprofiler_spark.sources.tokens import chars_from_documents

    chars = chars_from_documents(spark, SF, 256)
    plan = plan_of(matrix_profile_distributed(chars, 32, chunk_len=100))
    assert "CartesianProduct" not in plan
    # partial agg + final agg around one Exchange for the min-merge
    # (struct min aggregates via SortAggregate)
    aggs = plan.count("SortAggregate") + plan.count("HashAggregate")
    assert aggs >= 2
    assert "Join Inner" in plan or "HashJoin" in plan or "SortMergeJoin" in plan


def test_ngram_join_has_df_cap(spark):
    """The capped n-gram join's gram side must pass through the rarity
    semi-filter (an extra join with the DF aggregate) before the self
    equi-join — the hot-key hygiene the 100-TB plan requires."""
    from matrixprofiler_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    capped = plan_of(ngram_jaccard_pairs(docs, 3, 0.2, max_doc_freq=100))
    uncapped = plan_of(ngram_jaccard_pairs(docs, 3, 0.2))
    assert capped.count("HashAggregate") > uncapped.count("HashAggregate")


def test_decontamination_join_has_df_cap(spark):
    """The decontamination 5-gram join must route through the rare-gram
    semi-filter (doc-frequency aggregate + join) before eval x train —
    boilerplate grams are quadratic hot keys otherwise."""
    from matrixprofiler_spark.queries import q_decontamination

    plan = plan_of(q_decontamination(spark, SF))
    # the cap adds a count-per-gram aggregate feeding a semi-style join;
    # without it there is exactly one aggregate (the pair-count groupBy)
    # plus the top-1 window — assert the gram-frequency aggregate exists
    assert plan.count("HashAggregate") >= 4


def test_lsh_bucket_caps_in_plan(spark):
    """minhash/simhash candidate joins must pass through the bucket-size
    filter (count aggregate + join on the bucket keys) when max_bucket is
    set: a degenerate bucket is an uncapped quadratic key."""
    from matrixprofiler_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    capped = plan_of(minhash_lsh_pairs(docs, max_bucket=64))
    uncapped = plan_of(minhash_lsh_pairs(docs, max_bucket=None))
    assert capped.count("HashAggregate") > uncapped.count("HashAggregate")
    capped_s = plan_of(simhash_pairs(docs, max_bucket=64))
    uncapped_s = plan_of(simhash_pairs(docs, max_bucket=None))
    assert capped_s.count("HashAggregate") > uncapped_s.count("HashAggregate")


def _registry_names():
    from matrixprofiler_spark.queries import queries

    return list(queries())


# Deliberate, documented exceptions to the global lint. Each entry names
# the one banned node a face is ALLOWED to plan, with the scale argument.
PLAN_LINT_EXCEPTIONS = {
    # Brute-force exact top-k is DEFINED as scoring every corpus vector
    # against a bounded query set; the broadcast side is capped at
    # num_queries (20) rows, so the nested loop is one corpus scan x a
    # constant — the intended physical plan for the exact baseline. The
    # sub-quadratic scale paths are ann_ivf_topk / ann_srp_* (equi-joins).
    "ann_topk": "BroadcastNestedLoopJoin",
}


@pytest.mark.parametrize("name", _registry_names())
def test_registry_plan_lint(spark, name):
    """Global plan lint (whole registry): no query face may plan a
    CartesianProduct, a BroadcastNestedLoopJoin, or a row-at-a-time
    Python UDF (BatchEvalPython) anywhere in its tree — the three node
    kinds that break at corpus scale — except the explicitly justified
    entries in PLAN_LINT_EXCEPTIONS. Arrow-vectorized Python
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) is the
    sanctioned slow path and stays legal."""
    from matrixprofiler_spark.queries import queries

    df = queries()[name](spark, SF)
    plan = plan_of(df)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "BatchEvalPython"):
        if PLAN_LINT_EXCEPTIONS.get(name) == banned:
            continue
        assert banned not in plan, f"{name}: {banned} in physical plan"
