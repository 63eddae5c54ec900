"""Plan-shape assertions (SURVEY.md §5.4): the optimizations the reference
hand-codes must actually fire in Catalyst — filters pushed into scans,
broadcast joins where the reference replicates, no cartesian products,
whole-stage codegen on the hot paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from twitter_social_triangle_mapreduce_spark import registry
from twitter_social_triangle_mapreduce_spark.operators import graph
from twitter_social_triangle_mapreduce_spark.sources.io import edges_from_events

from conftest import SF_SMOKE


from twitter_social_triangle_mapreduce_spark.plans.explain import plan_of  # noqa: E402


# brute-force ANN scoring IS a broadcast cross product by design: the tiny
# query set broadcasts and each corpus partition streams against it — the
# correct plan for exact top-k (the LSH variant is the equi-join scale path)
# pagerank crosses a broadcast 1-row dangling-mass aggregate into each
# iteration's update; IVF scores the corpus against a broadcast handful of
# centroids — deliberate small-side broadcasts, not blowups
BNLJ_BY_DESIGN = {
    "ann_topk_bruteforce",
    # round 11: projected-space scoring is the same deliberate shape —
    # the tiny query set broadcasts against the (projected) corpus
    "ann_topk_projected",
    "pagerank",
    "ivf_cells",
    "ann_topk_ivf",
    "ann_topk_ivf2",
    "ivf_cells_trained",  # crossJoin of the 1-row centroid-struct agg
    # round 8: snapshot serving shares ann_topk_ivf's scoring tail —
    # the probed corpus partitions stream against the broadcast 1-row
    # centroid-struct agg / tiny query set, the same deliberate shape
    "ann_topk_snapshot",
    # round 12: the gate's score pipeline (doc_unigram_logprob) crosses
    # the vocabulary-sized per-token relation with the broadcast 1-row
    # corpus-total aggregate — the ivf_cells_trained class of 1-row
    # cross, never a blowup (the interrupted round-12 build rotated the
    # query into the driver tier without extending this allowlist)
    "unigram_logprob_gate",
}


def test_no_cartesian_anywhere(spark):
    for name, fn in registry.all_queries().items():
        plan = plan_of(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"
        if name not in BNLJ_BY_DESIGN:
            assert (
                "BroadcastNestedLoopJoin" not in plan
            ), f"{name} degenerates to BNLJ"


def test_triangle_replicated_is_broadcast_only(spark):
    """The replicated strategy must mirror the reference's zero-shuffle
    map-only design: both joins broadcast-hash, no sort-merge join."""
    plan = plan_of(registry.q_triangle_replicated(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # The probe side must never shuffle. Both joins being BHJ already
    # guarantees it (a broadcast hash join streams its probe input
    # in place — only SMJ/SHJ impose a hash exchange on it), so the
    # only hash exchange allowed in the whole plan is the CACHE-side
    # closing-edge distinct that runs before its broadcast — the
    # reference dedups the same relation driver-side via
    # ArrayList.contains (ReplicatedJoinDriver.java:103). Formatted
    # explain carries exchange args on "Arguments:" lines.
    hash_exchanges = [
        ln
        for ln in plan.splitlines()
        if ln.startswith("Arguments: hashpartitioning")
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert "hashpartitioning(src" in hash_exchanges[0]  # (src, dst) dedup


def test_ordered_triangle_closing_strategy_is_size_adaptive(spark):
    """The ordered strategy's closing join must pick its physical form from
    Catalyst's plan-time estimate (plans.strategy.build_side_mode):
    under the broadcast threshold the closing side broadcasts (the O(E^1.5)
    wedge side never exchanges); with broadcasting disabled the fallback
    must be a shuffled HASH join — never a sort-merge join, whose sort of
    the wedge side costs 2× at the 10M-edge probe (BASELINE.md)."""
    e = edges_from_events(spark, SF_SMOKE)
    plan = plan_of(graph.triangle_count_ordered(e, 50000))
    assert "BroadcastHashJoin" in plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(graph.triangle_count_ordered(e, 50000))
        # the wedge-closing join takes the hash-join fallback (other,
        # unhinted joins in the operator may legitimately fall to SMJ)
        assert "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_filter_pushdown_reaches_scan(spark):
    """The id-cutoff on the src endpoint (a direct parquet column upstream)
    must reach the scan as a pushed filter — the reference hand-codes this
    as filter-before-shuffle (SocialTriangle_RS.java:49)."""
    e = edges_from_events(spark, SF_SMOKE)
    plan = plan_of(graph.filter_edges(e, 150, strict=True))
    assert "PushedFilters" in plan
    assert "user_id" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    """The edges derivation must read only (user_id, event_id) from the
    6-column events parquet."""
    plan = plan_of(edges_from_events(spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "user_id" in read_schema and "event_id" in read_schema
    assert "props" not in read_schema and "event_type" not in read_schema


def test_wholestage_codegen_on_hot_path(spark):
    """AQE finalizes the physical plan at execution; the executed plan must
    run inside WholeStageCodegen spans (SURVEY.md §4 'what Spark supplies
    free' — asserted, not assumed)."""
    df = registry.q_social_triangle_rs(spark, SF_SMOKE)
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    # '* ' marks nodes inside a WholeStageCodegen span in formatted mode
    assert "* HashAggregate" in plan and "* Filter" in plan


def test_partial_aggregation_fires(spark):
    """Degree counting must partial-aggregate map-side (the reference's
    in-task combining, SURVEY.md §2.4 A4)."""
    e = edges_from_events(spark, SF_SMOKE)
    plan = plan_of(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    )
    assert "partial_count" in plan or "HashAggregate" in plan


def test_ann_bucketed_variants_are_hash_joins(spark):
    """The LSH scale path must candidate-join on signature EQUALITY — a
    hash join (broadcast or shuffled), never a nested-loop scan of the
    corpus per query. This is the difference between bucket-proportional
    and corpus-proportional per-query work at 100 TB."""
    # include_extra: embedding_near_dup_pairs rotated to the pytest
    # tier in round 10 but its plan shape stays pinned here
    for name in ("ann_topk_lsh", "embedding_near_dup_pairs"):
        plan = plan_of(
            registry.all_queries(include_extra=True)[name](spark, SF_SMOKE)
        )
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        ), name


def test_query_probe_cells_matches_ivf_internal_probes(spark):
    """The standalone ``query_probe_cells`` utility must produce the
    same (qid, cell) probe set that ``ann_topk_ivf`` derives internally
    from the shared ranked relation (the docstring's identity claim)."""
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        _centroid_ranked,
        query_probe_cells,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n_queries, nprobe = 5, 2
    standalone = sorted(
        map(tuple, query_probe_cells(emb, n_queries, nprobe).collect())
    )
    ranked = _centroid_ranked(emb)
    internal = sorted(
        map(
            tuple,
            ranked.where(
                (F.col("vec_id") < n_queries) & (F.col("rn") <= nprobe)
            )
            .select(F.col("vec_id").alias("qid"), F.col("cid").alias("qcell"))
            .collect(),
        )
    )
    assert standalone == internal and len(standalone) == n_queries * nprobe


def test_ann_norms_computed_prejoin(spark):
    """Norms must be attached once per side BEFORE the scoring join. In the
    optimized plan the topmost (post-join, per-pair) Project may contain
    the dot-product fold (``aggregate(zip_with...)`` — inherently per
    pair) but must NOT recompute the norm square-fold
    (``aggregate(transform...)``), which belongs in the per-side Projects
    below the join."""
    df = registry.all_queries()["ann_topk_bruteforce"](spark, SF_SMOKE)
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    scoring = [ln for ln in lines if "aggregate(zip_with" in ln]
    assert scoring, "expected a per-pair dot-product projection"
    for ln in scoring:
        assert "aggregate(transform" not in ln, "norm recomputed per pair"
    assert sum("aggregate(transform" in ln for ln in lines) == 2  # once/side


def test_ordered_semi_reduction_only_on_shuffle_arm(spark):
    """Round-4: the wedge-exchange semi-join reduction must appear ONLY
    on the SHUFFLE_HASH arm (on the broadcast arm the wedge side never
    exchanges, so the filter is pure overhead — and the small-scale plan
    stays byte-identical to round 3). Value identical on every arm."""
    e = edges_from_events(spark, SF_SMOKE)
    # broadcast arm (default at smoke scale): no semi filter
    plan = plan_of(graph.triangle_count_ordered(e, 50000))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" not in plan and "xxhash64" not in plan
    baseline = graph.triangle_count_ordered(e, 50000).collect()[0][0]

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # shuffle arm: semi reduction fires (keys fit their own cap)
        df = graph.triangle_count_ordered(e, 50000)
        plan = plan_of(df)
        assert "ShuffledHashJoin" in plan
        assert "LeftSemi" in plan and "xxhash64" in plan
        assert df.collect()[0][0] == baseline
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_trained_codebook_consumers_embed_a_constant_not_the_trainer(spark):
    """Round-6 verdict item 1: the registered trained-codebook queries
    must consume the MATERIALIZED codebook (a LocalRelation constant),
    never re-embed the training lineage — inline retraining re-ran the
    k−1 seeding scans plus every Lloyd round inside every consumer
    action (BENCH_r05: ann_topk_ivf 0.60 → 3.93 s). Markers: the
    seeding argmax is the only ``array_min`` in the package's
    similarity tier, and the Lloyd recentering is the only
    ``posexplode`` over (cell, pos); neither may appear in a consumer
    plan, while the codebook's LocalRelation must."""
    from twitter_social_triangle_mapreduce_spark.registry_ext import (
        q_ann_topk_ivf,
        q_ivf_cells_trained,
        q_semantic_dedup_clusters,
    )

    for q in (q_ann_topk_ivf, q_semantic_dedup_clusters, q_ivf_cells_trained):
        df = q(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "array_min" not in plan, q.__name__
        # Spark materializes small createDataFrame inputs as either a
        # LocalRelation or an RDD-backed leaf depending on the Arrow
        # conversion path — both are lineage-free constants
        assert "LocalRelation" in plan or "LogicalRDD" in plan, q.__name__
        # the Lloyd recentering aggregate keys on (cell, pos) after a
        # posexplode of member embeddings — absent from consumer plans
        assert "posexplode(embedding)" not in plan, q.__name__


def test_cluster_balanced_sample_rank_is_bucket_split(spark):
    """Round-6 self-review: the per-cell rank must run through the
    two-pass bucketed decomposition, never a window partitioned by
    ``cell`` alone — with k cells, a cell-only window sorts each
    cell's whole membership in ONE unsplittable task (k tasks for the
    corpus at 100 TB). The row_number window must key on
    (cell, __b) — the md5-prefix bucket — and the offsets relation
    must come back through a broadcast join."""
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        cluster_balanced_sample,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    df = cluster_balanced_sample(
        load_table(spark, SF_SMOKE, "embeddings"), per_cell=50
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    rn_windows = [
        line
        for line in plan.splitlines()
        if "row_number()" in line and "windowspecdefinition" in line
    ]
    assert rn_windows, "rank window missing"
    for line in rn_windows:
        assert "__b" in line.split("windowspecdefinition", 1)[1], (
            "rank window partitions by cell alone (unsplittable): "
            + line.strip()[:120]
        )
    # the bucket-offset fold joins back broadcast — its build side is
    # the k×256-row counts relation, never an exchange of the corpus
    assert "BroadcastHashJoin [cell" in plan


def test_top_spenders_rank_is_bucket_split(spark):
    """Constant-partition-window rule (SCALING.md): |regions| is a
    constant of the problem, so the per-customer rank must pre-reduce
    within (r_name, hash-bucket) — the only window over the full
    customer roster keys on the bucket column; the region-only window
    ranks the B·k pre-reduced candidates."""
    from twitter_social_triangle_mapreduce_spark.registry_ext import (
        q_top_spenders_region,
    )

    plan = (
        q_top_spenders_region(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    rn = [
        line
        for line in plan.splitlines()
        if "row_number()" in line and "windowspecdefinition" in line
    ]
    assert len(rn) == 2, plan
    # exactly one window keys on the bucket (the roster-sized one) and
    # one on r_name alone (the candidate-sized one)
    assert sum("__b" in line.split("windowspecdefinition", 1)[1] for line in rn) == 1


def test_cms_sketch_partial_aggregates_before_exchange(spark):
    """The Count–Min sketch's constant-shuffle property (measured at
    10M tokens in BASELINE.md) rests on the groupBy(row, col) partial-
    aggregating map-side — each task forwards ≤ depth×width counter
    rows. Pin the mechanism: a partial HashAggregate below the
    exchange, and exactly ONE exchange in the whole plan (the explode
    and digest projection are scan-side expressions, shuffle-free)."""
    plan = plan_of(
        registry.all_queries(include_extra=True)["token_count_sketch"](
            spark, SF_SMOKE
        )
    )
    assert "partial_count" in plan or "HashAggregate" in plan
    import re

    # formatted explain prints every node twice (tree + detail
    # section); count the detail headers for the true node count
    exchanges = re.findall(r"^\(\d+\) Exchange$", plan, re.M)
    assert len(exchanges) == 1, plan
