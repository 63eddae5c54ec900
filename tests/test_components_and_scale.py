"""Tests for iterative graph algorithms and the scale tools (salted join,
bucketed co-located join)."""

from __future__ import annotations

from pyspark.sql import functions as F

from twitter_social_triangle_mapreduce_spark.operators import components, skew
from twitter_social_triangle_mapreduce_spark.sources.io import edges_from_events

from conftest import SF_SMOKE, edges_df


CHAIN = [(i, i + 1) for i in range(1, 20)]  # a 20-vertex path


def _oracle_rows(rows, sql_of) -> list[tuple]:
    """Run an unrolled component oracle in DuckDB over inline edges."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
        if rows:
            con.executemany("INSERT INTO e VALUES (?, ?)", rows)
        return sorted(con.execute(sql_of("SELECT src, dst FROM e")).fetchall())
    finally:
        con.close()


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_connected_components_golden(spark):
    # two components {1,2,3,4} (via undirected edges) and {10,11}
    e = edges_df(spark, [(1, 2), (3, 2), (4, 3), (11, 10)])
    got = {
        r["v"]: r["component"]
        for r in components.connected_components(e).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_self_loop_and_dups(spark):
    e = edges_df(spark, [(5, 5), (7, 8), (7, 8)])
    got = {
        r["v"]: r["component"]
        for r in components.connected_components(e).collect()
    }
    assert got == {5: 5, 7: 7, 8: 7}


def test_reliable_checkpoint_mode_identical_results(spark, tmp_path):
    """``reliable=True`` (fault-tolerant rdd checkpoints — the production
    setting for long iterative jobs) must change only durability, never
    results — also on a 20-vertex path the 8-round bound cuts short,
    where the frontier probe on each checkpoint never reads empty."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    graphs = ((edges_from_events(spark, SF_SMOKE), 3), (edges_df(spark, CHAIN), 2))
    for e, k in graphs:
        assert _rows(components.connected_components(e)) == _rows(
            components.connected_components(e, reliable=True)
        )
        assert _rows(components.kcore(e, k=k)) == _rows(
            components.kcore(e, k=k, reliable=True)
        )


def test_cc_early_exit_never_cuts_an_unconverged_chain(spark):
    """A path longer than the round bound has not converged after 8
    rounds: every round changes a label, so early exit must not fire and
    the rows must equal the naive unrolled oracle's row for row (vertex v
    ends with label max(1, v - 8))."""
    got = _rows(components.connected_components(edges_df(spark, CHAIN), 8))
    want = _oracle_rows(
        CHAIN, lambda e: components.connected_components_oracle_sql(e, 8)
    )
    assert got == want
    assert got[-1] == (20, 12)


def test_kcore_early_exit_never_cuts_an_unconverged_peel(spark):
    """2-core peeling of a path removes its two ends each round, so after
    8 rounds only the middle survives — row-for-row the unrolled oracle's
    answer, which no premature stop can give."""
    got = _rows(components.kcore(edges_df(spark, CHAIN), k=2, iterations=8))
    want = _oracle_rows(
        CHAIN, lambda e: components.kcore_oracle_sql(e, k=2, iterations=8)
    )
    assert got == want == [(v,) for v in range(9, 13)]


def test_components_zero_rounds_and_empty_graph(spark):
    """``iterations=0`` returns the initial state (own labels, every
    vertex alive) and an empty edge set gives an empty result, both as
    the oracles do."""
    rows = [(1, 2), (3, 3)]
    e = edges_df(spark, rows)
    assert _rows(components.connected_components(e, 0)) == _oracle_rows(
        rows, lambda s: components.connected_components_oracle_sql(s, 0)
    ) == [(1, 1), (2, 2), (3, 3)]
    assert _rows(components.kcore(e, iterations=0)) == _oracle_rows(
        rows, lambda s: components.kcore_oracle_sql(s, iterations=0)
    ) == [(1,), (2,), (3,)]
    empty = edges_df(spark, [])
    assert _rows(components.connected_components(empty)) == _oracle_rows(
        [], components.connected_components_oracle_sql
    ) == []
    assert _rows(components.kcore(empty)) == _oracle_rows(
        [], components.kcore_oracle_sql
    ) == []


def test_cc_stops_at_its_fixed_point(spark):
    """Runtime pin: 1-2-3 plus 10-11 is labeled after 2 rounds and the
    3rd finds an empty frontier, so the default 8-round bound must run
    no more jobs than a 3-round bound — a slip back to fixed rounds runs
    five rounds more and fails here."""
    e = edges_df(spark, [(1, 2), (2, 3), (10, 11)])
    sc = spark.sparkContext

    def jobs_for(iterations: int, tag: str) -> tuple[int, list]:
        sc.setJobGroup(tag, "cc round probe")
        try:
            rows = _rows(components.connected_components(e, iterations))
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(tag)), rows

    j2, r2 = jobs_for(2, "cc_rounds_2")
    j3, r3 = jobs_for(3, "cc_rounds_3")
    j8, r8 = jobs_for(components.CC_ITERATIONS, "cc_rounds_8")
    assert r2 == r3 == r8 == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    assert j2 < j3  # a round costs jobs, so the pin can see one
    assert j8 <= j3


def test_bfs_levels_golden(spark):
    """1→2→3→1 cycle with a tail 3→4: hops from 1 are 0,1,2,3; the cycle
    must not relabel already-reached vertices (BFS invariant)."""
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    got = {r["v"]: r["hop"] for r in components.bfs_levels(e, source=1).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_levels_unreachable_and_bounded(spark):
    """Vertices beyond max_hops (or unreachable) are absent; the source
    itself is present even when isolated."""
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (9, 9)])
    got = {
        r["v"]: r["hop"]
        for r in components.bfs_levels(e, source=1, max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}
    lone = {r["v"]: r["hop"] for r in components.bfs_levels(e, source=7).collect()}
    assert lone == {7: 0}


def test_pagerank_against_independent_computation(spark):
    """Fixed-iteration PageRank vs a plain-Python reimplementation on the
    collected sf0.001 graph; float sums may differ in association order,
    so compare with a tight tolerance on the 1e9-scaled values."""
    edges = edges_from_events(spark, SF_SMOKE)
    got = {
        r["v"]: r["rank_e9"] for r in components.pagerank(edges).collect()
    }
    rows = [(r["src"], r["dst"]) for r in edges.collect()]
    verts = sorted({v for e in rows for v in e})
    n = len(verts)
    w: dict[tuple[int, int], int] = {}
    for s, d in rows:
        w[(s, d)] = w.get((s, d), 0) + 1
    ow: dict[int, int] = {}
    for (s, _), c in w.items():
        ow[s] = ow.get(s, 0) + c
    r = {v: 1.0 / n for v in verts}
    for _ in range(components.PR_ITERATIONS):
        contrib = {v: 0.0 for v in verts}
        for (s, d), c in w.items():
            contrib[d] += r[s] * c / ow[s]
        dangling = sum(r[v] for v in verts if v not in ow)
        r = {
            v: (1 - components.PR_DAMPING) / n
            + components.PR_DAMPING * (contrib[v] + dangling / n)
            for v in verts
        }
    assert set(got) == set(verts)
    for v in verts:
        assert abs(got[v] - int(1e9 * r[v])) <= 50, (v, got[v], 1e9 * r[v])
    # total rank mass conserved
    assert abs(sum(got.values()) / 1e9 - 1.0) < 1e-5


def test_salted_join_equals_plain_join(spark):
    """Salting must not change join semantics — including duplicate rows
    and a pathologically hot key."""
    left = edges_df(
        spark,
        [(1, i % 7) for i in range(500)]  # hot key src=1
        + [(2, 3), (2, 3), (5, 9)],
    ).withColumnRenamed("dst", "payload")
    right = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (4, "d")], "src long, tag string"
    )
    plain = left.join(right, on=["src"], how="inner")
    salted = skew.salted_inner_join(left, right, on=["src"], num_salts=8)
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing demonstration: two tables bucketed on the join key
    co-locate, so the sort-merge join needs no exchange on either side."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from twitter_social_triangle_mapreduce_spark.sources.io import (
            write_bucketed_table,
        )

        e = edges_from_events(spark, SF_SMOKE)
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        for name, df in (("b_edges", e), ("b_deg", deg)):
            write_bucketed_table(df, name, 8, ["src"])
        joined = spark.table("b_edges").join(spark.table("b_deg"), "src")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        # formatted-mode explain puts exchange args on "Arguments:"
        # lines — match those, not the simple-mode spelling, or the
        # assertion is vacuous
        assert "Arguments: hashpartitioning" not in plan
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        # and the result is right
        assert joined.count() == e.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        for name in ("b_edges", "b_deg"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_hll_sketch_rollup_lossless_merge_and_error_bound(spark):
    """The stored-sketch pattern must be exact under merging: unioning
    the daily sketches gives the SAME estimate as one direct pass (lossless
    at equal lgK), and the estimate tracks the true distinct count within
    HLL error (default lgK=12 → ~2.5% peak; assert a loose 5%)."""
    from pyspark.sql import functions as F

    from twitter_social_triangle_mapreduce_spark.operators.relational import (
        user_sketch_rollup,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    merged = {
        r["event_type"]: r["est_users"]
        for r in user_sketch_rollup(ev).collect()
    }
    direct = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert merged == direct  # union of partials == single pass
    for t, n in exact.items():
        assert abs(merged[t] - n) <= max(2, 0.05 * n), (t, merged[t], n)


def test_approx_percentiles_track_exact(spark):
    """The bounded-memory percentile sketch returns an actual data value
    within its RANK error (≤1/accuracy), unlike the interpolating exact
    percentile — so the right assertion is rank containment: the fraction
    of each group's values at or below the sketch's answer must bracket
    the requested quantile."""
    from twitter_social_triangle_mapreduce_spark.operators.relational import (
        value_percentiles_approx,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    approx = {
        r["event_type"]: (r["p50_e4"], r["p95_e4"])
        for r in value_percentiles_approx(ev).collect()
    }
    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    assert set(approx) == set(vals)
    for t, (a50, a95) in approx.items():
        xs = sorted(vals[t])
        n = len(xs)
        # discreteness: one rank = 1/n; allow one extra rank of slack
        slack = 1.5 / n
        for q, a in ((0.5, a50), (0.95, a95)):
            v = a / 10000.0
            at_or_below = sum(1 for x in xs if 10000 * x <= a + 1) / n
            below = sum(1 for x in xs if 10000 * x < a) / n
            assert below <= q + slack, (t, q, v, below)
            assert at_or_below >= q - slack, (t, q, v, at_or_below)
