"""Graph-analytic operator core: directed path-2 enumeration/cardinality and
directed-triangle counting.

The reference implements these as four hand-coded MapReduce programs
(``SocialTriangle_RS.java``, ``ReplicatedJoinDriver.java``,
``ExactCardinality.java``, ``ApproxCardinality.java``). Here they are three
parameterized operators over a single canonical ``edges(src BIGINT, dst
BIGINT)`` relation; the four programs become four configurations
(SURVEY.md §7 Phase 1).

Semantic fine print preserved exactly (SURVEY.md §2.7):

1. Directed triangles, ``/3`` not ``/6`` (``SocialTriangle_RS.java:242``).
2. X≠Z is excluded in the triangle pipeline (``SocialTriangle_RS.java:97``)
   but NOT in the path-2 cardinality (``ExactCardinality.java:75`` counts
   X→Y→X round-trips).
3. Duplicate edges multiply counts — no ``distinct`` anywhere in the
   multiplicity-bearing paths. The ONE exception: the replicated join's
   closing-edge test is ``ArrayList.contains`` (boolean existence,
   ``ReplicatedJoinDriver.java:103``), so the *third* hop is deduplicated
   while hops 1-2 keep multiplicity. ``triangle_count_broadcast`` keeps that
   asymmetry.
4. Self-loops flow through unfiltered.
5. Filter strictness/scope varies per program — parameters here.

Scale design (100 TB): the shuffle-side triangle count never enumerates
path-2 tuples. It first collapses the multigraph to per-(src,dst) edge
multiplicities (``groupBy(src,dst).count()`` — map-side partial agg shrinks
the shuffle to the number of DISTINCT edges), then works in the aggregated
algebra:

    paths(x,z)  = Σ_y  cnt(x→y) · cnt(y→z)        [x ≠ z]
    triangles   = ⌊ Σ_{x,z} paths(x,z) · cnt(z→x) / 3 ⌋

which is algebraically identical to enumerate-then-count (the reference's
Job-2 reducer already used the per-key ``m·n`` product,
``SocialTriangle_RS.java:180-182``) but keeps every shuffle proportional to
the distinct-edge count, not the path-2 count — the difference between
feasible and quadratic blow-up on power-law hubs. AQE skew-join splitting
handles residual hub skew at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: broadcast cap for the ordered triangle's closing-KEY set (the
#: semi-join reduction on the SHUFFLE_HASH arm — 8-byte hashes, one per
#: distinct support edge; a deliberately SEPARATE cap from
#: spark.sql.autoBroadcastJoinThreshold, because the key set is ~4×
#: narrower than the closing relation whose broadcast that threshold
#: rejected). Sized by measurement, not hope: the built
#: LongHashedRelation is a small multiple of Catalyst's raw estimate
#: plus driver + executor copies, and a 1 GiB cap let the 100M-edge
#: probe (keys est 1,067 MB) build a multi-GB broadcast that OOM'd an
#: 8g driver; 256 MiB keeps the 10M-edge regime firing (est 107 MB →
#: ~300 MB built) and degrades 100M+ to the plain unreduced exchange.
#: The estimate itself is an E-scale OVERESTIMATE for the projected
#: aggregate, so the guard errs toward skipping the filter — the arm
#: that only costs the exchange, never memory.
ORDERED_SEMI_MAX_KEY_BYTES = 256 * 2**20


def filter_edges(
    edges: DataFrame, max_id: int | None, strict: bool = True
) -> DataFrame:
    """Id-cutoff filter (P2/P3/P4 of SURVEY.md §2.2): keep an edge iff BOTH
    endpoints are below ``max_id`` (strict ``<``) or at most ``max_id``
    (non-strict ``<=``). ``max_id=None`` → no filter (ExactCardinality).

    Expressed as a plain predicate so Catalyst pushes it below joins and
    into the scan (the reference hand-codes this as filter-before-shuffle,
    ``SocialTriangle_RS.java:49``).
    """
    if max_id is None:
        return edges
    if strict:
        return edges.where((F.col("src") < max_id) & (F.col("dst") < max_id))
    return edges.where((F.col("src") <= max_id) & (F.col("dst") <= max_id))


def edge_multiplicities(edges: DataFrame) -> DataFrame:
    """Collapse the multigraph to ``(src, dst, cnt)`` — the aggregated form
    all counting queries work in. Map-side partial aggregation makes this
    the cheapest possible shuffle (distinct edges, not edge occurrences)."""
    return edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))


def path2(
    edges: DataFrame,
    max_id: int | None = None,
    strict: bool = True,
    exclude_closed: bool = True,
) -> DataFrame:
    """Enumerate directed length-2 paths ``(x, y, z)``: X→Y and Y→Z.

    The reference's Job 1 (J1, SURVEY.md §2.3): tag-multiplexed self-join on
    the middle node with a reducer cross product
    (``SocialTriangle_RS.java:39-106``). Here: a self equi-join on
    ``e1.dst == e2.src`` — Catalyst picks the join strategy; no manual
    tagging, no intermediate HDFS materialization (lineage replaces the
    Job-1 → Job-2 file handoff).

    ``exclude_closed=True`` applies the X≠Z rule (``SocialTriangle_RS.java:97``);
    pass ``False`` for ExactCardinality semantics where round-trips count.
    Duplicate edges yield duplicate paths (inner-join multiplicity — §2.7.3).
    """
    e = filter_edges(edges, max_id, strict)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    p = e1.join(e2, F.col("e1.dst") == F.col("e2.src"), "inner")
    if exclude_closed:
        p = p.where(F.col("e1.src") != F.col("e2.dst"))
    return p.select(
        F.col("e1.src").alias("x"),
        F.col("e1.dst").alias("y"),
        F.col("e2.dst").alias("z"),
    )


def path2_cardinality_per_node(
    edges: DataFrame, max_id: int | None = None, strict: bool = True
) -> DataFrame:
    """Per-node count of directed length-2 paths through that node:
    ``paths(y) = in_degree(y) * out_degree(y)`` — including X→Y→X
    round-trips (ExactCardinality semantics; ``ExactCardinality.java:59-81``
    writes exactly this ``node → m·n`` table, with rows for every node that
    appears at all, zero products included).

    ONE-EXCHANGE degree formulation (optimization round 12, guide §2.4
    "remove shuffles outright"): each edge generates its two
    (node, role) contributions scan-side — ``explode`` of a 2-element
    struct array, a codegen'd generator — and ONE groupBy(node) sums
    both degrees together (map-side partial agg reduces each task to
    its distinct-node rows, exactly as before). This replaces the
    previous two groupBy exchanges + full-outer join with a single
    exchange and no join: strictly fewer exchanged bytes (nodes
    appearing in both roles merge into one row per map task) and two
    fewer stages at any scale. The reference's "O"/"I" value-stream
    trick (A1, SURVEY.md §2.4) maps onto the role fields. Values and
    row set identical: a node appears iff it occurs as src or dst, with
    zero-valued other-role counts — the full-outer-join semantics.
    """
    e = filter_edges(edges, max_id, strict)
    contrib = e.select(
        F.explode(
            F.expr(
                "array(struct(src AS node, 1L AS o, 0L AS i),"
                " struct(dst AS node, 0L AS o, 1L AS i))"
            )
        ).alias("c")
    )
    return (
        contrib.groupBy(F.col("c.node").alias("node"))
        .agg(
            F.sum("c.i").alias("m"),
            F.sum("c.o").alias("n"),
        )
        .withColumn("paths", F.col("m") * F.col("n"))
    )


def path2_cardinality_total(
    edges: DataFrame, max_id: int | None = None, strict: bool = True
) -> DataFrame:
    """Global directed path-2 count ``Σ_y in(y)·out(y)`` as a 1-row
    DataFrame ``(total_paths BIGINT)`` — the reference's global counter
    (``ExactCardinality.java:78,105-109``; with ``max_id`` the
    ApproxCardinality variant, ``ApproxCardinality.java:24,46``)."""
    per_node = path2_cardinality_per_node(edges, max_id, strict)
    return per_node.agg(
        F.coalesce(F.sum("paths"), F.lit(0)).cast("long").alias("total_paths")
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """(out_degree, n_nodes) — the degree histogram, the first diagnostic
    run on any production graph (power-law tails are exactly the skew
    the `ordered` triangle strategy and the jaccard hub cap exist for).
    Two chained aggregates, both with map-side partials."""
    return (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_degree"))
        .groupBy("out_degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """1-row (n_edges, n_reciprocal, reciprocity_e6) — the fraction of
    DISTINCT directed edges whose reverse also exists (self-loops count
    as their own reverse, the standard convention). A fundamental
    directed-graph statistic (mutual-follow rate on a social graph).
    Shape: distinct once, one self-semi-join on the reversed key."""
    d = edges.select("src", "dst").distinct()
    rev = d.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = d.join(rev, ["src", "dst"], "left_semi")
    n = d.agg(F.count(F.lit(1)).alias("n_edges"))
    r = recip.agg(F.count(F.lit(1)).alias("n_reciprocal"))
    return (
        n.crossJoin(r)
        .withColumn(
            "reciprocity_e6",
            F.floor(1_000_000 * F.col("n_reciprocal") / F.col("n_edges"))
            .cast("long"),
        )
    )


RECIPROCITY_ORACLE_TEMPLATE = """
    WITH edges AS ({edges_sql}),
    d AS (SELECT DISTINCT src, dst FROM edges),
    r AS (SELECT COUNT(*) AS n_reciprocal FROM d
          WHERE EXISTS (SELECT 1 FROM d d2
                        WHERE d2.src = d.dst AND d2.dst = d.src)),
    n AS (SELECT COUNT(*) AS n_edges FROM d)
    SELECT n_edges, n_reciprocal,
           CAST(FLOOR(1000000 * n_reciprocal / n_edges) AS BIGINT)
               AS reciprocity_e6
    FROM n CROSS JOIN r
"""


def wedge_closure_per_node(edges: DataFrame) -> DataFrame:
    """(x, n_path2, n_closed, closure_e6) — per-source wedge closure: of
    the directed length-2 paths X→Y→Z (X≠Z, multiplicity semantics as in
    `path2`), the fraction closed by an EXISTING edge Z→X (edge
    existence, not multiplicity — the same closing-edge dedup the
    reference's replicated join applies, `ReplicatedJoinDriver.java`
    ``contains`` check). The local-clustering analog for the directed
    multigraph.

    Shape: the closing probe is a LEFT join against the DISTINCT edge
    set (at most one match per (z,x), so counts are preserved), then one
    aggregate per source. Path-2 tuples are materialized — this is the
    enumeration-tier analytics query (like `triangle_enum`/`path2_enum`);
    the pre-aggregated multiplicity algebra stays available for the
    scalar variants."""
    a = edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    b = edges.select(F.col("src").alias("y2"), F.col("dst").alias("z"))
    p = a.join(b, F.col("y") == F.col("y2")).where(
        F.col("x") != F.col("z")
    )
    closing = edges.select(
        F.col("src").alias("cz"), F.col("dst").alias("cx")
    ).distinct()
    flagged = p.join(
        closing,
        (F.col("z") == F.col("cz")) & (F.col("x") == F.col("cx")),
        "left",
    )
    return (
        flagged.groupBy("x")
        .agg(
            F.count(F.lit(1)).alias("n_path2"),
            F.sum(
                F.when(F.col("cz").isNotNull(), 1).otherwise(0)
            ).alias("n_closed"),
        )
        .withColumn(
            "closure_e6",
            F.floor(1_000_000 * F.col("n_closed") / F.col("n_path2"))
            .cast("long"),
        )
    )


def triangle_count_shuffle(
    edges: DataFrame, max_id: int | None = None, strict: bool = True
) -> DataFrame:
    """Directed-triangle count via repartition joins — the Spark-native
    re-expression of ``SocialTriangle_RS`` (J1+J2+J4, SURVEY.md §2.3).

    Fully pre-aggregated (see module docstring): collapse to edge
    multiplicities, join aggregated path counts with aggregated closing-edge
    counts, ``Σ m·n``, floor-divide by 3 (each directed triangle is found
    once per rotation — ``SocialTriangle_RS.java:238-242``).

    Multiplicity semantics are exact: a doubled edge doubles every triangle
    it participates in (§2.7.3), because counts multiply through the
    aggregated algebra. X=Z paths are excluded BEFORE closing
    (``SocialTriangle_RS.java:97``), which also rules out self-loop
    "triangles".

    Returns a 1-row DataFrame ``(triangles BIGINT)``.
    """
    e = filter_edges(edges, max_id, strict)
    ec = edge_multiplicities(e)
    paths = (
        ec.alias("e1")
        .join(ec.alias("e2"), F.col("e1.dst") == F.col("e2.src"), "inner")
        .where(F.col("e1.src") != F.col("e2.dst"))
        .select(
            F.col("e1.src").alias("x"),
            F.col("e2.dst").alias("z"),
            (F.col("e1.cnt") * F.col("e2.cnt")).alias("m"),
        )
    )
    # closing edge Z→X, keyed (x, z) — the reference's EdgesMapper key
    # reversal (`SocialTriangle_RS.java:139-150`: raw line (a,b) keyed (b,a)).
    # The per-(x,z) path stream joins closing directly — no intermediate
    # groupBy: when the distinct-edge set broadcasts (AQE decides), the
    # path stream never shuffles at all; when it doesn't, the final sum's
    # map-side partial aggregation plays the reference reducer's m·n
    # combining role. Measured 2.5x faster than an explicit pre-join
    # grouping on a 100k-edge power-law graph.
    closing = ec.select(
        F.col("dst").alias("x"), F.col("src").alias("z"), F.col("cnt").alias("n")
    )
    return (
        paths.join(closing, ["x", "z"], "inner")
        .agg(
            F.floor(
                F.coalesce(F.sum(F.col("m") * F.col("n")), F.lit(0)) / 3
            )
            .cast("long")
            .alias("triangles")
        )
    )


def triangle_enum(
    edges: DataFrame, max_id: int | None = None, strict: bool = True
) -> DataFrame:
    """Enumerate directed triangles as rows ``(x, y, z)``: X→Y→Z→X with
    X≠Z, one row per rotation per edge-multiplicity combination — the
    materialized form of what the reference only counts (its Job-2
    reducer emits no rows; ``SocialTriangle_RS.java`` ClosedTriangle).
    Row count = 3× the triangle counter."""
    p = path2(edges, max_id, strict)
    e = filter_edges(edges, max_id, strict)
    closing = e.select(F.col("dst").alias("x"), F.col("src").alias("z"))
    return p.join(closing, ["x", "z"], "inner").select("x", "y", "z")


def neighborhood_jaccard_pairs(
    edges: DataFrame, min_common: int = 3, max_neighbor_freq: int = 1000
) -> DataFrame:
    """(v_a, v_b, common, jaccard_e6) — similar-user detection: Jaccard
    similarity of out-neighbor SETS, via an inverted-index join on the
    shared neighbor (same scalable shape as the n-gram Jaccard: keyed on
    the neighbor id, never user×user). Integer floor(1e6·j) output.

    ``max_neighbor_freq`` drops hub neighbors followed by more than that
    many users before the pair join — one hub with in-degree d alone
    contributes O(d²) candidate pairs, so without the cap a celebrity node
    in a power-law graph makes the join quadratic (the same df-cap the
    n-gram Jaccard applies via ``max_doc_freq``, dedup.ngram_jaccard_pairs).
    Denominator set sizes stay UNCAPPED. The cap never binds on the
    testdata (max fan-in 462 at sf0.1), so oracle parity is unaffected —
    and the oracle applies the same cap anyway."""
    nb = edges.select("src", "dst").distinct()
    sizes = nb.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    hot = (
        nb.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("fanin"))
        .where(F.col("fanin") > max_neighbor_freq)
        .select("dst")
    )
    nbc = nb.join(F.broadcast(hot), "dst", "left_anti")
    pairs = (
        nbc.alias("a")
        .join(
            nbc.alias("b"),
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("v_a"), F.col("b.src").alias("v_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    return (
        pairs.join(
            sizes.withColumnRenamed("src", "v_a").withColumnRenamed("sz", "sz_a"),
            "v_a",
        )
        .join(
            sizes.withColumnRenamed("src", "v_b").withColumnRenamed("sz", "sz_b"),
            "v_b",
        )
        .select(
            "v_a",
            "v_b",
            "common",
            F.floor(
                1000000
                * F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            )
            .cast("long")
            .alias("jaccard_e6"),
        )
    )


def triangle_count_ordered(
    edges: DataFrame, max_id: int | None = None, strict: bool = True
) -> DataFrame:
    """Directed-triangle count via degree-ordered wedge enumeration — the
    hub-safe strategy for power-law graphs at scale.

    The shuffle strategy's cost is Σ_y distinct-in(y)·distinct-out(y),
    quadratic at hub middles. Here each triangle is enumerated exactly
    once, at its LOWEST-degree vertex, on the undirected support graph
    oriented low→high by (degree, id): wedge count is
    Σ_w C(outdeg⁺(w), 2) = O(E^1.5) regardless of skew (hubs rank last, so
    nothing enumerates their neighborhoods). Total wedges replace the
    hub-quadratic path join; every other step is linear.

    Reference-exact algebra (same value as ``triangle_count_shuffle``,
    golden-tested including duplicates/self-loops/2-cycles): with
    m_uv = multiplicity of u→v and l_y = multiplicity of the self-loop
    y→y, the reference's rotation counter equals

        3·Σ_{unordered {a,b,c}} (m_ab·m_bc·m_ca + m_ac·m_cb·m_ba)
      + 2·Σ_{unordered {a,b}}   m_ab·m_ba·(l_a + l_b)

    (the second term: a 2-cycle a↔b closed by a self-loop forms paths
    (x,y,y) and (y,y,x) but the (x,y,x) rotation is excluded by X≠Z, so
    those "triangles" are counted twice, not three times — hence the
    floor division matters). Result = floor(counter / 3).
    """
    e = filter_edges(edges, max_id, strict)
    ec = edge_multiplicities(e)
    loops = ec.where(F.col("src") == F.col("dst")).select(
        F.col("src").alias("lv"), F.col("cnt").alias("l")
    )
    # undirected support with both directed multiplicities, keyed a < b
    und = (
        ec.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.when(F.col("src") < F.col("dst"), F.col("cnt"))
            .otherwise(0)
            .alias("fwd"),
            F.when(F.col("src") > F.col("dst"), F.col("cnt"))
            .otherwise(0)
            .alias("rev"),
        )
        .groupBy("a", "b")
        .agg(
            F.sum("fwd").alias("m_ab"),  # a→b
            F.sum("rev").alias("m_ba"),  # b→a
        )
    )
    # distinct-neighbor degree on the support graph
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient low→high by (degree, id); carry both multiplicities as
    # (lo→hi, hi→lo)
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("d_b"))
    a_low = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_low, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_low, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(a_low, F.col("m_ab")).otherwise(F.col("m_ba")).alias("m_lh"),
            F.when(a_low, F.col("m_ba")).otherwise(F.col("m_ab")).alias("m_hl"),
        )
    )
    # wedges at the lowest-ranked vertex w: pairs (u, v) of its oriented
    # out-neighbors (u < v by id for a canonical pair), closed by the
    # support edge {u, v}. The per-pair triangle sum factors as
    #   Σ_w m_wu·m_uv·m_vw + m_wv·m_vu·m_uw
    #     = m_uv·(m_wu·m_vw) + m_vu·(m_wv·m_uw)   summed over w,
    # so each wedge row carries only the two PRE-MULTIPLIED products —
    # (u, v, p_fwd, p_rev), 4 longs instead of the naive 7 columns —
    # into the closing join, the ONE shuffle proportional to the wedge
    # count (O(E^1.5); everything else here is O(E)). The closing side
    # reuses ``und``'s (a, b) hash partitioning (alias-tracked through
    # the rename), so only the wedge side exchanges; AQE converts the
    # join to broadcast at runtime when the closing relation is small.
    # (A groupBy(u, v) pre-aggregation before the join was measured
    # SLOWER at 1M/10M edges: wedges/distinct-pair ≈ 1.7, so the extra
    # shuffle outweighed the dedup.)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo"))
        & (F.col("e1.hi") < F.col("e2.hi")),
        "inner",
    ).select(
        F.col("e1.hi").alias("u"),
        F.col("e2.hi").alias("v"),
        (F.col("e1.m_lh") * F.col("e2.m_hl")).alias("p_fwd"),  # m_wu·m_vw
        (F.col("e2.m_lh") * F.col("e1.m_hl")).alias("p_rev"),  # m_wv·m_uw
    )
    closing = und.select(
        F.col("a").alias("u"),
        F.col("b").alias("v"),
        F.col("m_ab").alias("m_uv"),
        F.col("m_ba").alias("m_vu"),
    )
    # Closing-side strategy: its (u, v) keys are UNIQUE (one row per
    # distinct support pair), so as a build side it is skew-free and
    # bounded by E/num_partitions rows. When Catalyst's plan-time estimate
    # says it fits the broadcast threshold, leave it unhinted and the
    # planner broadcasts — the O(E^1.5) wedge side then never exchanges at
    # all. Above the threshold, hint SHUFFLE_HASH so the fallback streams
    # the wedge side through a hash probe instead of SMJ-sorting it
    # (measured 2× at the 10M-edge probe, BASELINE.md).
    #
    # Semi-join reduction (SHUFFLE_HASH arm only, round 4): in a sparse
    # graph the overwhelming share of wedges have NO closing edge (10M
    # probe: ~1M closed of ~94M), so the (u, v) exchange mostly ships
    # rows the join immediately drops. Before the exchange, a LeftSemi
    # probe against the broadcast closing-KEY set — each distinct pair
    # hashed to ONE long, 8 bytes/key where the closing relation is 32 —
    # drops them map-side: the O(E^1.5) wedge exchange collapses to the
    # closed-wedge count (10M probe: total shuffle 5.9→3.1 GB, executor
    # time 1140→787 s, warm wall 39→27 s; Spark's own runtime bloom
    # cannot inject here — no scan under the application side). Hash
    # collisions only let extra rows REACH the exact join, never change
    # it. On the broadcast arm the filter is pure overhead (the wedge
    # side never exchanges) and is skipped — the small-scale plan is
    # byte-identical to round 3. The key-set broadcast is guarded by its
    # own (overestimating) size probe against ORDERED_SEMI_MAX_KEY_BYTES,
    # so at a scale where the keys stop fitting, the arm degrades to the
    # plain unreduced exchange — never a too-large broadcast. Both
    # choices are automatic; spark.sql.autoBroadcastJoinThreshold=-1
    # puts the closing join on the shuffle arm.
    from ..plans.strategy import build_side_mode, plan_size_estimate

    if build_side_mode(closing) == "as_is":
        closing_side = closing
    else:
        closing_side = closing.hint("shuffle_hash")
        keys = closing.select(F.xxhash64("u", "v").alias("__k"))
        est = plan_size_estimate(keys)
        if est is not None and 0 <= est <= ORDERED_SEMI_MAX_KEY_BYTES:
            wedges = wedges.join(
                F.broadcast(keys),
                F.xxhash64(F.col("u"), F.col("v")) == F.col("__k"),
                "left_semi",
            )
    tri_distinct = (
        wedges.join(closing_side, ["u", "v"], "inner")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("p_fwd") * F.col("m_uv")
                    + F.col("p_rev") * F.col("m_vu")
                ),
                F.lit(0),
            ).alias("s")
        )
    )
    la = loops.select(F.col("lv").alias("a"), F.col("l").alias("l_a"))
    lb = loops.select(F.col("lv").alias("b"), F.col("l").alias("l_b"))
    degen = (
        und.where((F.col("m_ab") > 0) & (F.col("m_ba") > 0))
        .join(la, "a", "left_outer")
        .join(lb, "b", "left_outer")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("m_ab")
                    * F.col("m_ba")
                    * (
                        F.coalesce(F.col("l_a"), F.lit(0))
                        + F.coalesce(F.col("l_b"), F.lit(0))
                    )
                ),
                F.lit(0),
            ).alias("s")
        )
    )
    counter = tri_distinct.select(
        (F.lit(3) * F.col("s")).alias("c")
    ).unionByName(degen.select((F.lit(2) * F.col("s")).alias("c")))
    return counter.agg(
        F.floor(F.coalesce(F.sum("c"), F.lit(0)) / 3)
        .cast("long")
        .alias("triangles")
    )


def triangle_count_broadcast(
    edges: DataFrame, max_id: int | None = None, strict: bool = False
) -> DataFrame:
    """Directed-triangle count via two chained broadcast-hash joins — the
    Spark-native re-expression of ``ReplicatedJoinDriver`` (J3).

    Faithful to the reference's physical AND semantic quirks:

    - The id filter applies to the broadcast (cache) side only
      (``ReplicatedJoinDriver.java:63``); the probe edge stream is
      unfiltered (§2.7.5). Default non-strict ``<=`` matches
      ``ReplicatedJoinDriver.java:31,63``.
    - Hop 2 (Y→t) keeps multiplicity (``ArrayList`` adjacency,
      ``ReplicatedJoinDriver.java:68-75``), but the closing-edge test is
      ``contains`` — boolean existence (``ReplicatedJoinDriver.java:103``)
      — so the third hop joins against DISTINCT filtered edges.
    - Count divided by 3 with integer division
      (``ReplicatedJoinDriver.java:152``).

    Both joins carry an explicit ``F.broadcast`` hint → a zero-shuffle,
    map-only plan, mirroring the reference's ``setNumReduceTasks(0)``. At
    100 TB the probe side streams through scan→BHJ→BHJ→partial-count within
    one stage; only the (small, filtered) broadcast side is collected.

    Returns a 1-row DataFrame ``(triangles BIGINT)``.
    """
    cache_side = filter_edges(edges, max_id, strict)
    closing = cache_side.select("src", "dst").dropDuplicates()
    hop = edges.alias("e1").join(
        F.broadcast(cache_side.alias("e2")),
        F.col("e1.dst") == F.col("e2.src"),
        "inner",
    )
    tri = hop.join(
        F.broadcast(closing.alias("e3")),
        (F.col("e2.dst") == F.col("e3.src"))
        & (F.col("e1.src") == F.col("e3.dst")),
        "inner",
    )
    return tri.agg(
        F.floor(F.count(F.lit(1)) / 3).cast("long").alias("triangles")
    )


def triangle_count(
    edges: DataFrame,
    max_id: int | None = None,
    strategy: str = "shuffle",
    strict: bool | None = None,
) -> DataFrame:
    """Strategy dispatch mirroring the reference's two whole-program join
    strategies (SURVEY.md §4): ``"shuffle"`` (reduce-side repartition join)
    or ``"broadcast"`` (replicated map-side join)."""
    if strategy == "shuffle":
        return triangle_count_shuffle(
            edges, max_id, True if strict is None else strict
        )
    if strategy == "broadcast":
        return triangle_count_broadcast(
            edges, max_id, False if strict is None else strict
        )
    if strategy == "ordered":
        return triangle_count_ordered(
            edges, max_id, True if strict is None else strict
        )
    raise ValueError(
        f"unknown strategy {strategy!r}; use 'shuffle', 'broadcast', or 'ordered'"
    )
