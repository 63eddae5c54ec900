"""Embedding-tier semantic dedup (similarity.semantic_dedup_clusters):
SemDeDup-shaped — IVF-cell-local thresholded cosine pairs closed into
clusters with canonical election. Registry oracle parity is covered by
the differential tier; these pin planted-cluster semantics and the
sub-quadratic candidate bound (the adversarial property mirroring the
MinHash-LSH one, round-3 verdict item 6)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from twitter_social_triangle_mapreduce_spark.operators import similarity

DIMS = 8


def _emb(spark, vectors):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<float>",
    )


def _planted(spark):
    """Two clusters of identical vectors + two orthogonal singletons.
    vec_ids: cluster A = {0,1,2}, cluster B = {3,4,5}, singles {6,7}."""
    a = [1.0, 0.2, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]
    b = [0.0, 0.0, 1.0, 0.3, 0.0, 0.1, 0.0, 0.0]
    s1 = [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]
    s2 = [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]
    return _emb(spark, [a, a, a, b, b, b, s1, s2])


def test_planted_clusters_and_canonicals(spark):
    out = similarity.semantic_dedup_clusters(_planted(spark), dims=DIMS)
    got = sorted(
        (r.vec_id, r.cluster_id, r.is_canonical) for r in out.collect()
    )
    assert got == [
        (0, 0, 1), (1, 0, 0), (2, 0, 0),
        (3, 3, 1), (4, 3, 0), (5, 3, 0),
        (6, 6, 1), (7, 7, 1),
    ]


def test_threshold_excludes_moderate_similarity(spark):
    """cos(a, c) ≈ 0.9439 (same hyperplane signature — verified against
    the md5-fixed coefficients, so the bucketing never prunes it) sits
    between the exercised thresholds: kept at 9000, pruned at the
    SemDeDup default 9500."""
    a = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    c = [1.0, 0.35, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    emb = _emb(spark, [a, c])
    lo = similarity.semantic_dedup_pairs(
        emb, min_sim_e4=9000, k_cells=1, dims=DIMS
    )
    hi = similarity.semantic_dedup_pairs(
        emb, min_sim_e4=9500, k_cells=1, dims=DIMS
    )
    assert [(r.vec_a, r.vec_b) for r in lo.collect()] == [(0, 1)]
    assert hi.count() == 0


def _cluster_corpus(spark, n_clusters, members, rng):
    """Near-dup-heavy corpus: every doc belongs to a near-dup cluster
    (base vector + tiny noise → within-cluster cosine ≈ 1)."""
    vecs = []
    for _ in range(n_clusters):
        base = rng.normal(size=DIMS)
        base /= np.linalg.norm(base)
        for _ in range(members):
            v = base + rng.normal(scale=0.01, size=DIMS)
            vecs.append(v)
    return _emb(spark, vecs)


def test_semantic_candidates_subquadratic_on_near_dup_heavy_corpus(spark):
    """Adversarial bound, mirroring the MinHash-LSH property test: on a
    corpus that is ALL near-duplicates, the (cell, sig)-keyed candidate
    set stays at within-cluster scale — far under vec×vec — and
    doubling the corpus ~doubles it rather than quadrupling."""
    members = 4
    rng = np.random.default_rng(7)
    counts = {}
    for n_clusters in (50, 100):
        emb = _cluster_corpus(spark, n_clusters, members, rng)
        pairs = similarity.semantic_dedup_pairs(
            emb, min_sim_e4=9500, k_cells=similarity.IVF_CELLS, dims=DIMS
        )
        n_vecs = n_clusters * members
        n_pairs = pairs.count()
        counts[n_clusters] = n_pairs
        within = n_clusters * members * (members - 1) // 2
        quadratic = n_vecs * (n_vecs - 1) // 2
        assert n_pairs <= 3 * within, (n_pairs, within)
        assert n_pairs < quadratic // 20, (n_pairs, quadratic)
    assert counts[100] <= 3 * counts[50], counts


def test_cluster_plan_has_no_cartesian_product(spark):
    out = similarity.semantic_dedup_clusters(_planted(spark), dims=DIMS)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Cartesian" not in plan


def test_canonical_survivors_cover_every_cluster(spark):
    """Dropping is_canonical=0 rows keeps exactly one representative per
    cluster — the training-pipeline consumption contract."""
    out = similarity.semantic_dedup_clusters(_planted(spark), dims=DIMS)
    canon = out.where(F.col("is_canonical") == 1)
    assert canon.count() == out.select("cluster_id").distinct().count()
    assert canon.select("cluster_id").distinct().count() == canon.count()


def test_kmeans_training_loop_descends_and_feeds_ivf(spark):
    """Iterating refine_centroids IS distributed k-means (round 4: the
    output previously had no consumer): the Lloyd objective under the
    trained codebook descends across chained rounds, and the trained
    centroids drive cell assignment / semantic dedup end to end."""
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        ivf_cells,
        refine_centroids,
        wcss,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    c1 = refine_centroids(emb)  # round 1 (from the default quantizer)
    c2 = refine_centroids(emb, centroids=c1)  # round 2 (trained input)
    w1 = wcss(emb, c1, assign_centroids=c1).collect()[0]["wcss"]
    w2 = wcss(emb, c2, assign_centroids=c2).collect()[0]["wcss"]
    assert w2 <= w1 + 1e-9, (w1, w2)
    # trained assignment covers every vector exactly once
    cells = ivf_cells(emb, centroids=c2)
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()
    # trained codebook flows through the dedup deliverable
    out = similarity.semantic_dedup_clusters(
        emb, min_sim_e4=2000, centroids=c2
    )
    assert out.count() == emb.count()


@pytest.mark.slow  # round-13 gate diet: probe-as-test
def test_trained_codebook_descends_from_seed_and_moves_assignments(spark):
    """Round-5 verdict item 1: ``train_ivf_centroids`` (deterministic
    farthest-point seed + exact-integer Lloyd rounds) must descend the
    Lloyd objective from the seeding through every round, and the
    trained assignment must actually differ from the first-k-vectors
    stand-in (a codebook that changes nothing would make the registered
    'trained' queries a relabeling)."""
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        _seed_centroids,
        ivf_cells,
        train_ivf_centroids,
        wcss,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    seeds = _seed_centroids(emb, 4)
    c1 = train_ivf_centroids(emb, rounds=1)
    c2 = train_ivf_centroids(emb, rounds=2)
    w0 = wcss(emb, seeds, assign_centroids=seeds).collect()[0]["wcss"]
    w1 = wcss(emb, c1, assign_centroids=c1).collect()[0]["wcss"]
    w2 = wcss(emb, c2, assign_centroids=c2).collect()[0]["wcss"]
    # strict descent seed→round1 (recentering must help); round1→round2
    # non-increase up to the 1e-6 mean-quantization grid
    assert w1 < w0, (w0, w1)
    assert w2 <= w1 * (1 + 1e-6), (w1, w2)
    untrained = {
        (r["vec_id"], r["cell"]) for r in ivf_cells(emb).collect()
    }
    trained = {
        (r["vec_id"], r["cell"])
        for r in ivf_cells(emb, centroids=c2).collect()
    }
    assert untrained != trained
    # training is deterministic: a second plan yields identical cells
    trained_again = {
        (r["vec_id"], r["cell"])
        for r in ivf_cells(
            emb, centroids=train_ivf_centroids(emb, rounds=2)
        ).collect()
    }
    assert trained == trained_again


def test_trained_codebook_beats_standin_on_clustered_data(spark):
    """The recall case FOR training (round-5 item 1): when the corpus
    has real cluster structure and the first-k-vectors stand-in seeds
    all land inside ONE cluster (ids carry no cluster information, so
    this is the generic failure, not an adversarial construction),
    k-means recovers one centroid per true cluster — farthest-point
    seeding guarantees the spread — and IVF recall@k goes to 1.0 while
    the stand-in merges true clusters into shared cells and loses the
    cross-cell neighbors. The isotropic sf0.1 testdata cannot show
    this (no structure to recover — see scripts/ivf_recall_probe.py
    and BASELINE.md for those confounded numbers)."""
    import random

    rng = random.Random(7)
    centers = [
        [10.0 if d == c else 0.0 for d in range(DIMS)] for c in range(4)
    ]
    vecs = []
    for i in range(120):
        c = 0 if i < 5 else i % 4  # first 5 (queries/seeds): cluster 0
        vecs.append(
            [x + rng.uniform(-0.5, 0.5) for x in centers[c]]
        )
    emb = _emb(spark, vecs)
    exact = {
        (r["qid"], r["nid"])
        for r in similarity.ann_topk_bruteforce(emb).collect()
    }

    def recall(df):
        got = {(r["qid"], r["nid"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    trained = similarity.train_ivf_centroids(emb)
    r_trained = recall(similarity.ann_topk_ivf(emb, centroids=trained))
    r_standin = recall(similarity.ann_topk_ivf(emb))
    assert r_trained == 1.0, r_trained
    assert r_trained > r_standin, (r_trained, r_standin)


def test_banded_embedding_lsh_recall_beats_single_signature(spark):
    """Round-5 verdict item 2: OR-amplified banding must recover near-dup
    pairs a single signature misses. 40 planted pairs at cosine ≈0.95 in
    16 dims (fixed seed — hyperplanes are md5-fixed, so recall here is a
    DETERMINISTIC number, re-measured identically every run): theory
    gives per-band hit p^8 ≈ 0.43 at θ≈17°, so bands=1 recalls ~0.43 and
    bands=3 ~1−(1−0.43)³ ≈ 0.81. Band 0 of the banded variant IS the
    single signature's 8 planes, so banded candidates are a SUPERSET —
    banding can only add recall, never lose it."""
    rng = np.random.default_rng(11)
    vecs = []
    truth = set()
    for i in range(40):
        v = rng.normal(size=16)
        d = rng.normal(size=16)
        d *= 0.30 * np.linalg.norm(v) / np.linalg.norm(d)
        w = v + d
        vecs.append(v)
        vecs.append(w)
        cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
        assert cos >= 0.94, cos  # the plant is a genuine near-dup
        truth.add((2 * i, 2 * i + 1))
    emb = _emb(spark, vecs)

    def recall(bands):
        got = {
            (r["vec_a"], r["vec_b"])
            for r in similarity.embedding_near_dup_pairs(
                emb, bands=bands, min_sim_e4=9000, dims=16
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r3 = recall(1), recall(3)
    assert r3 > r1, (r1, r3)
    assert r3 >= 0.6, r3
    # superset property: every single-signature pair survives banding
    p1 = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs(
            emb, bands=1, min_sim_e4=9000, dims=16
        ).collect()
    }
    p3 = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs(
            emb, bands=3, min_sim_e4=9000, dims=16
        ).collect()
    }
    assert p1 <= p3


def test_update_semantic_clusters_matches_batch(spark):
    """The semantic incremental fold: batch vectors joining existing
    clusters, bridging two clusters, and arriving as singletons must
    all land exactly where the from-scratch batch recompute puts them
    (the cluster-graph-collapse parity, semantic tier)."""
    a = [1.0, 0.2, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]
    b = [0.0, 0.0, 1.0, 0.3, 0.0, 0.1, 0.0, 0.0]
    s1 = [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]
    corpus = _emb(spark, [a, a, b, b, s1])  # ids 0..4
    new_vecs = [(5, a), (6, s1), (7, [0.0] * 7 + [1.0])]
    new = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in new_vecs],
        "vec_id long, embedding array<float>",
    )
    state0 = similarity.semantic_dedup_clusters(corpus, dims=DIMS)
    upd = similarity.update_semantic_clusters(
        state0, corpus, new, dims=DIMS
    )
    batch = similarity.semantic_dedup_clusters(
        corpus.unionByName(new), dims=DIMS
    )
    got = sorted(map(tuple, upd.collect()))
    assert got == sorted(map(tuple, batch.collect()))
    by_id = {v: c for v, c, _ in got}
    assert by_id[5] == 0   # joined the a-cluster
    assert by_id[6] == 4   # joined the s1 singleton -> cluster of id 4
    assert by_id[7] == 7   # fresh singleton


def test_localized_trainer_is_bit_identical_to_lazy_plan(spark):
    """Round-6 verdict item 1: ``train_ivf_centroids`` now materializes
    by default (eager per-stage runs against the codebook-so-far as a
    LocalRelation) — that must change WHEN stages run, never a value.
    The lazy arm is the oracle-shaped reference: the two codebooks must
    agree to the last bit, on every cid."""
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    lazy = {
        (r["cid"], tuple(r["centroid"]))
        for r in similarity.train_ivf_centroids(
            emb, rounds=2, localize=False
        ).collect()
    }
    local = {
        (r["cid"], tuple(r["centroid"]))
        for r in similarity.train_ivf_centroids(emb, rounds=2).collect()
    }
    assert lazy == local


def test_zero_norm_centroid_ranks_last_matching_duckdb_oracle(spark):
    """Round-6 ADVICE: a zero-norm centroid makes the ranking score a
    division by zero — three different behaviors before the guard:
    ANSI Spark crashes the assignment, non-ANSI Spark scores NaN (which
    the plain negated array_sort ranked LAST but the earlier row_number
    form ranked FIRST), and DuckDB — the correctness contract — returns
    NULL and ranks it LAST under ORDER BY s DESC. The engine now pins
    the oracle's semantics explicitly (cn = 0 → ranks last, no division
    executed). Cross-checked here against an ACTUAL DuckDB run of the
    oracle's ranking text on the same degenerate codebook."""
    import duckdb

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        _centroid_ranked,
        codebook_df,
        ivf_cells,
    )

    vecs = [[1.0] * DIMS, [0.5] * DIMS, [-1.0] * DIMS]
    cents_rows = [
        (0, [2.0] * DIMS),
        (1, [0.0] * DIMS),  # zero-norm: the degenerate centroid
        (2, [-1.0] * DIMS),
    ]
    emb = _emb(spark, vecs)
    cents = codebook_df(spark, cents_rows)
    got = sorted(
        (r["vec_id"], r["cid"], r["rn"])
        for r in _centroid_ranked(emb, 3, centroids=cents).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {list(map(float, v))})" for i, v in enumerate(vecs)
        )
        + ") t(vec_id, embedding)"
    )
    con.execute(
        "CREATE TABLE c AS SELECT * FROM (VALUES "
        + ", ".join(f"({cid}, {v})" for cid, v in cents_rows)
        + ") t(cid, ce)"
    )
    ref = sorted(
        map(
            tuple,
            con.execute(
                """
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cid ASC) AS rn
        FROM (SELECT vec_id, cid,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE)
                        * CAST(c.ce[i] AS DOUBLE)))
               / sqrt(list_sum(list_transform(c.ce,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS s
              FROM e CROSS JOIN c)
        ORDER BY vec_id, rn
        """
            ).fetchall(),
        )
    )
    assert got == ref
    # the degenerate centroid never wins an assignment
    cells = ivf_cells(emb, 3, centroids=cents).collect()
    assert all(r["cell"] != 1 for r in cells), cells


def test_kmeanspar_rounds_pinned():
    """The O(log k) scan-count contract: sampling rounds are
    ceil(log2 k) + 2 with a floor of 2 — pinned so a refactor cannot
    silently reintroduce per-center scans."""
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        kmeanspar_rounds,
    )

    assert kmeanspar_rounds(2) == 3
    assert kmeanspar_rounds(4) == 4
    assert kmeanspar_rounds(16) == 6
    assert kmeanspar_rounds(256) == 10
    assert kmeanspar_rounds(4096) == 14


@pytest.mark.slow  # round-13 gate diet: probe-as-test
def test_kmeanspar_seeder_quality_and_determinism(spark):
    """Round-6 verdict item 2: the k-means|| seeder must (a) be
    deterministic end to end (md5-ranked draws — two runs bit-equal),
    and (b) match the farthest-point seeder's quality on the clustered
    fixture: trained WCSS within tolerance, and one centroid per true
    cluster (both seeders must recover the planted structure)."""
    import random

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        train_ivf_centroids,
        wcss,
    )

    rng = random.Random(11)
    centers = [
        [10.0 if d == c else 0.0 for d in range(DIMS)] for c in range(4)
    ]
    vecs = [
        [x + rng.uniform(-0.5, 0.5) for x in centers[i % 4]]
        for i in range(160)
    ]
    emb = _emb(spark, vecs)
    far = train_ivf_centroids(emb, k=4, rounds=2)
    kmp = train_ivf_centroids(emb, k=4, rounds=2, seeder="kmeans||")
    kmp2 = train_ivf_centroids(emb, k=4, rounds=2, seeder="kmeans||")
    rows = lambda df: sorted(  # noqa: E731
        (r["cid"], tuple(r["centroid"])) for r in df.collect()
    )
    assert rows(kmp) == rows(kmp2)  # determinism
    w_far = wcss(emb, far, assign_centroids=far).collect()[0]["wcss"]
    w_kmp = wcss(emb, kmp, assign_centroids=kmp).collect()[0]["wcss"]
    assert w_kmp <= 1.3 * w_far, (w_kmp, w_far)
    # both recover the planted structure: each trained centroid's
    # dominant dimension is a distinct true-cluster axis
    doms = {max(range(DIMS), key=lambda d: v[d]) for _, v in rows(kmp)}
    assert doms == {0, 1, 2, 3}, doms


def test_kmeanspar_scan_count_sublinear_in_k(spark):
    """The whole point of kmeans|| at large k: seeding k=64 centers
    must run FAR fewer Spark jobs than the farthest-point seeder's
    k−1 corpus scans — bounded by the O(log k) round structure, not by
    k."""
    import random

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        _collect_kmeanspar_seeds,
        kmeanspar_rounds,
    )

    rng = random.Random(3)
    vecs = [[rng.uniform(-1, 1) for _ in range(DIMS)] for _ in range(512)]
    emb = _emb(spark, vecs)
    sc = spark.sparkContext

    def jobs_for(k: int, tag: str) -> int:
        sc.setJobGroup(tag, "scan-count probe")
        try:
            seeds = _collect_kmeanspar_seeds(emb, k)
        finally:
            sc.setJobGroup(None, None)
        assert len(seeds) == k
        assert len({v for _, v in seeds}) == k  # distinct centers
        return len(sc._jsc.sc().statusTracker().getJobIdsForGroup(tag))

    j16 = jobs_for(16, "kmpar_probe_16")
    j64 = jobs_for(64, "kmpar_probe_64")
    # Spark multiplies actions into several jobs (AQE query stages +
    # broadcast exchanges + the incremental-state persists), so pin the
    # STRUCTURE, not an absolute: job count is linear in the round
    # count (≤ ~8 per round + setup) and grows with Δrounds, NOT with
    # Δk — k went 16→64 (+48) while rounds went 6→8 (+2), so the job
    # delta must stay far under the +48 extra corpus scans the
    # farthest-point seeder would add
    r16, r64 = kmeanspar_rounds(16), kmeanspar_rounds(64)
    assert j64 <= 12 + 8 * r64, (j64, r64)
    assert j64 - j16 <= 8 * (r64 - r16) + 8, (j16, j64)
    assert j64 - j16 < 48, (j16, j64)  # sublinear in k, not 1 scan/center


@pytest.mark.slow  # round-13 gate diet: probe-as-test
def test_banded_candidates_stay_linear_with_scaled_bits(spark):
    """Round-6 verdict item 6 guard: with the band width scaled as
    log2(n / occupancy) — the documented 100 TB rule — doubling the
    clustered corpus must ~double the banded candidate set (per-vector
    candidates bounded), never quadruple it; and at FIXED bits the
    same doubling demonstrably super-doubles (the quadratic regime the
    rule exists to avoid). Uses the probe's own corpus generator and
    the operator's own candidate relation — no reimplementation."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from embedding_scale_probe import bits_for, clustered_embeddings

    counts = {}
    fixed = {}
    for n in (10_000, 20_000):
        emb = clustered_embeddings(spark, n)
        counts[n] = similarity.banded_lsh_candidates(
            emb, bits=bits_for(n)
        ).count()
        fixed[n] = similarity.banded_lsh_candidates(
            emb, bits=similarity.LSH_BITS
        ).count()
    # scaled bits: ~linear (allow 3x for bucket-skew wobble)
    assert counts[20_000] <= 3 * counts[10_000], counts
    # per-vector candidates bounded well under n
    assert counts[20_000] / 20_000 < 100, counts
    # fixed bits: the quadratic regime is real (>3x on doubling)
    assert fixed[20_000] > 3 * fixed[10_000], fixed


def test_codebook_parquet_roundtrip_is_bit_exact(spark, tmp_path):
    """save_codebook/load_codebook — the cross-session materialization:
    the loaded relation must carry the identical doubles and must be a
    lineage-free constant (no parquet scan in consumer plans)."""
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        collect_codebook,
        ivf_cells,
        load_codebook,
        save_codebook,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = collect_codebook(emb, rounds=1)
    path = str(tmp_path / "codebook")
    save_codebook(spark, rows, path)
    loaded = load_codebook(spark, path)
    got = sorted(
        (r["cid"], tuple(r["centroid"])) for r in loaded.collect()
    )
    assert got == sorted((c, tuple(v)) for c, v in rows)
    # consumer plan sees a constant, not a scan of the codebook file
    plan = (
        ivf_cells(emb, centroids=loaded)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Relation") - plan.count("LocalRelation") <= 1, plan
    assert "codebook" not in plan  # the saved path never re-scans


def test_codebook_load_is_order_insensitive_over_multifile_writes(
    spark, tmp_path
):
    """A cluster-written codebook is MULTI-file parquet with no file or
    row order guarantee (save_codebook's coalesce(1) is a convenience,
    not the contract) — load_codebook must reconstruct the identical
    cid-sorted constant from a 3-file, deliberately shuffled layout."""
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        codebook_df,
        collect_codebook,
        load_codebook,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = collect_codebook(emb, rounds=1)
    path = str(tmp_path / "cb_multifile")
    # write the same (cid, centroid) table shuffled across 3 files in
    # descending-cid order inside each — the adversarial cluster layout
    (
        codebook_df(spark, rows)
        .orderBy("cid", ascending=False)
        .repartition(3)
        .write.mode("overwrite")
        .parquet(path)
    )
    import glob

    assert len(glob.glob(f"{path}/part-*.parquet")) > 1
    got = [
        (r["cid"], tuple(r["centroid"]))
        for r in load_codebook(spark, path).collect()
    ]
    assert got == sorted((c, tuple(v)) for c, v in rows)


def test_quantized_index_build_rejects_degenerate_scale(spark, tmp_path):
    """write_ivf_index(quantize=True) over an all-zero corpus must
    raise at build time (the int8 grid would be x/0 for every query),
    and a float build over the same corpus still works."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        write_ivf_index,
    )

    zeros = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 3), d -> CAST(0.0 AS FLOAT))"
        ).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="degenerate|all-zero"):
        write_ivf_index(
            zeros, str(tmp_path / "zidx"), k_cells=2, quantize=True
        )
    write_ivf_index(zeros, str(tmp_path / "fidx"), k_cells=2)


def test_semantic_nprobe_default_is_plan_identical(spark):
    """nprobe=1 must be byte-identical to the pre-parameter operator —
    the registered query and its oracle are untouched by the round-6
    multi-probe addition."""
    emb = _planted(spark)
    p0 = (
        similarity.semantic_dedup_pairs(emb, dims=DIMS)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    p1 = (
        similarity.semantic_dedup_pairs(emb, dims=DIMS, nprobe=1)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    import re

    # normalize volatile expression ids AND lambda-variable counters
    # (x_33 vs x_37 — a session-global counter, not a plan difference)
    norm = lambda s: re.sub(  # noqa: E731
        r"_\d+", "_", re.sub(r"#\d+", "#", s)
    )
    assert norm(p0) == norm(p1)


def test_semantic_nprobe_recovers_cell_boundary_pairs(spark):
    """The recall case FOR multi-probe: a planted near-dup pair whose
    members quantize into DIFFERENT cells is invisible at nprobe=1
    (the cell-boundary loss the 1M probe measured at ~7-8%) and must
    be recovered at nprobe=2 when one member's second-nearest cell is
    the other's home; pairs found at nprobe=1 stay found (monotone)."""
    # two centroids on the x and y axes; the planted pair straddles the
    # diagonal boundary: one member just on the x side, one just on the
    # y side — cosine between them ≈ 0.9999. The dim-3 ballast keeps
    # every md5-fixed hyperplane projection far from zero with EQUAL
    # sign for both members (verified against the coefficients — the
    # same technique the threshold test uses), so the pair shares its
    # signature and the ONLY separator is the cell boundary.
    c_x = [1.0, 0.0] + [0.0] * (DIMS - 2)
    c_y = [0.0, 1.0] + [0.0] * (DIMS - 2)
    m1 = [1.0, 1.02, 0.0, 1.0] + [0.0] * (DIMS - 4)  # nearest y, 2nd x
    m2 = [1.02, 1.0, 0.0, 1.0] + [0.0] * (DIMS - 4)  # nearest x, 2nd y
    emb = _emb(spark, [m1, m2])
    cents = similarity.codebook_df(spark, [(0, c_x), (1, c_y)])
    kw = dict(min_sim_e4=9900, k_cells=2, dims=DIMS, centroids=cents)
    p1 = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.semantic_dedup_pairs(emb, **kw).collect()
    }
    p2 = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.semantic_dedup_pairs(
            emb, nprobe=2, **kw
        ).collect()
    }
    assert (0, 1) not in p1  # split across cells: invisible at nprobe=1
    assert (0, 1) in p2      # recovered by probing the second cell
    assert p1 <= p2          # monotone
    # and the clusters deliverable reflects the recovery
    cl = {
        r["vec_id"]: r["cluster_id"]
        for r in similarity.semantic_dedup_clusters(
            emb, nprobe=2, **kw
        ).collect()
    }
    assert cl[0] == cl[1] == 0


def test_lsh_bits_for_scale_rule():
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        LSH_BITS,
        lsh_bits_for,
    )

    assert lsh_bits_for(1000) == LSH_BITS          # floor at the default
    assert lsh_bits_for(20_000) == 11
    assert lsh_bits_for(100_000) == 13
    assert lsh_bits_for(1_000_000) == 16
    assert lsh_bits_for(100_000_000) == 23         # the 100 TB regime


def test_semantic_banded_signature_recovers_split_pairs(spark):
    """Round-6: the 100k probe measured the single 8-bit signature —
    not the cell boundary — as the dominant semantic recall loss (~6%
    of planted 0.9997-cosine pairs split on one plane; measured
    end-to-end: 46,560 → 49,934 of 50,000 planted clusters at
    nprobe=2, bands=3). Pin the mechanism on the deterministic
    clustered fixture with k_cells=1 (cells out of the picture):
    OR-banding must recover pairs the single signature splits, be a
    superset of the single-signature result, and reach near-total
    planted recall."""
    members = 2
    rng = np.random.default_rng(13)
    emb = _cluster_corpus(spark, 100, members, rng)  # 100 planted pairs

    def planted_found(bands):
        out = similarity.semantic_dedup_pairs(
            emb, min_sim_e4=9900, k_cells=1, dims=DIMS, bands=bands,
            nprobe=1,
        )
        return {
            (r["vec_a"], r["vec_b"])
            for r in out.collect()
            if r["vec_a"] // members == r["vec_b"] // members
        }

    one = planted_found(1)
    three = planted_found(3)
    assert one < three, (len(one), len(three))  # strict recovery
    assert len(three) >= 97, len(three)         # near-total recall
    # the single signature demonstrably loses a visible fraction
    assert len(one) <= len(three) - 2, (len(one), len(three))


@pytest.mark.slow  # non-default-knob parity fold (closing battery)
def test_update_semantic_clusters_parity_at_nondefault_knobs(spark):
    """Round-6 contract symmetry: a cluster state maintained with
    bands/nprobe must FOLD with the same knobs — the incremental
    update's candidate rule now mirrors the batch operator's
    (cell, band, band_key) rule in both directions, so incremental ==
    batch holds when the collisions exist ONLY because of the knobs.

    (a) bands=3 on the clustered corpus: within-cluster pairs split by
    the single signature still merge across the corpus/batch boundary;
    (b) nprobe=2 on the cell-boundary fixture: the straddling pair
    arrives split across corpus and batch and must still cluster."""
    members = 2
    rng = np.random.default_rng(29)
    vecs = []
    for _ in range(40):
        base = rng.normal(size=DIMS)
        base /= np.linalg.norm(base)
        for _ in range(members):
            vecs.append(base + rng.normal(scale=0.01, size=DIMS))
    emb = _emb(spark, vecs)
    corpus = emb.where("vec_id < 60")
    new = emb.where("vec_id >= 60")
    kw = dict(min_sim_e4=9900, k_cells=1, dims=DIMS, bands=3)
    state0 = similarity.semantic_dedup_clusters(corpus, **kw)
    upd = similarity.update_semantic_clusters(state0, corpus, new, **kw)
    batch = similarity.semantic_dedup_clusters(emb, **kw)
    assert sorted(map(tuple, upd.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # sanity: the parity is not vacuous — cross-boundary merges exist
    by_vec = {v: c for v, c, _ in map(tuple, batch.collect())}
    assert any(by_vec[i] == by_vec[i + 1] for i in range(60, 79, 2))

    # (b) the nprobe-only collision across the split
    c_x = [1.0, 0.0] + [0.0] * (DIMS - 2)
    c_y = [0.0, 1.0] + [0.0] * (DIMS - 2)
    m1 = [1.0, 1.02, 0.0, 1.0] + [0.0] * (DIMS - 4)
    m2 = [1.02, 1.0, 0.0, 1.0] + [0.0] * (DIMS - 4)
    pemb = _emb(spark, [m1, m2])
    cents = similarity.codebook_df(spark, [(0, c_x), (1, c_y)])
    pkw = dict(
        min_sim_e4=9900, k_cells=2, dims=DIMS, centroids=cents, nprobe=2
    )
    pcorpus = pemb.where("vec_id = 0")
    pnew = pemb.where("vec_id = 1")
    pstate = similarity.semantic_dedup_clusters(pcorpus, **pkw)
    pupd = similarity.update_semantic_clusters(
        pstate, pcorpus, pnew, **pkw
    )
    pbatch = similarity.semantic_dedup_clusters(pemb, **pkw)
    assert sorted(map(tuple, pupd.collect())) == sorted(
        map(tuple, pbatch.collect())
    )
    assert {c for _, c, _ in map(tuple, pupd.collect())} == {0}  # merged


def test_semantic_decontaminate_flags_planted_paraphrase(spark):
    """Embedding-tier decontamination (round 6): a train vector that is
    a near-duplicate of an eval vector (the paraphrase case n-gram
    screens miss) is flagged with the BEST eval match (max integer sim,
    ties toward the smaller eval id); unrelated train vectors pass
    untouched with null match columns."""
    e1 = [1.0, 0.1] + [0.0] * (DIMS - 2)
    e2 = [1.0, 0.12] + [0.0] * (DIMS - 2)   # slightly further from t1
    clean = [0.0] * (DIMS - 1) + [1.0]      # orthogonal
    t_leak = [1.0, 0.1] + [0.0] * (DIMS - 2)
    train = spark.createDataFrame(
        [(10, t_leak), (11, clean)],
        "vec_id long, embedding array<float>",
    )
    ev = spark.createDataFrame(
        [(0, e1), (1, e2)], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: (
            r["contaminated"], r["matched_eval_id"], r["sim_e4"]
        )
        for r in similarity.semantic_decontaminate(
            train, ev, min_sim_e4=9500, dims=DIMS
        ).collect()
    }
    assert set(got) == {10, 11}
    cont, match, sim = got[10]
    assert (cont, match) == (1, 0)  # exact twin (sim 1.0) beats e2
    assert sim == 10000
    assert got[11] == (0, None, None)
    # dropping contaminated rows is the pipeline consumption contract
    kept = similarity.semantic_decontaminate(
        train, ev, min_sim_e4=9500, dims=DIMS
    ).where(F.col("contaminated") == 0)
    assert [r["vec_id"] for r in kept.collect()] == [11]


def test_numpy_assignment_matches_exact_on_clear_margins(spark):
    """The trainer's large-k assignment arm (round 6): on data with
    clear decision margins (the planted clustered fixture — no
    near-ties for numpy ULPs to flip) the Arrow-batched numpy argmax
    must produce the IDENTICAL cell assignment as the oracle-exact HOF
    scoring, and a numpy-assigned training run must land on the same
    codebook as the exact one."""
    import random

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        _assign_cells_numpy,
        codebook_df,
        collect_codebook,
        ivf_cells,
    )

    rng = random.Random(5)
    centers = [
        [10.0 if d == c else 0.0 for d in range(DIMS)] for c in range(4)
    ]
    vecs = [
        [x + rng.uniform(-0.5, 0.5) for x in centers[i % 4]]
        for i in range(120)
    ]
    emb = _emb(spark, vecs)
    rows = collect_codebook(emb, k=4, rounds=1)
    exact = {
        (r["vec_id"], r["cell"])
        for r in ivf_cells(
            emb, 4, centroids=codebook_df(spark, rows)
        ).collect()
    }
    fast = {
        (r["vec_id"], r["cell"])
        for r in _assign_cells_numpy(emb, rows).collect()
    }
    assert exact == fast
    # end-to-end: numpy-assigned training == exact training here
    r_exact = collect_codebook(emb, k=4, rounds=2)
    r_fast = collect_codebook(emb, k=4, rounds=2, assign="numpy")
    assert [c for c, _ in r_exact] == [c for c, _ in r_fast]
    for (_, a), (_, b) in zip(r_exact, r_fast):
        assert a == b  # same members -> identical exact-integer means


def test_cluster_balanced_sample_caps_dominant_region(spark):
    """Diversity pruning (round 6): on a corpus where one semantic
    region dominates (80% of vectors in one cluster), the per-cell
    quota must bind on the dominant cell while sparse cells keep
    everything — the token budget cannot be crowded out by one topic.
    The kept set is deterministic (md5 rank) and every vector is
    labeled exactly once."""
    import random

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        cluster_balanced_sample,
        codebook_df,
    )

    rng = random.Random(17)
    dom = [10.0, 0.0] + [0.0] * (DIMS - 2)
    rare = [0.0, 10.0] + [0.0] * (DIMS - 2)
    vecs = [
        [x + rng.uniform(-0.5, 0.5) for x in (dom if i < 80 else rare)]
        for i in range(100)
    ]
    emb = _emb(spark, vecs)
    cents = codebook_df(spark, [(0, dom), (1, rare)])
    out = cluster_balanced_sample(
        emb, per_cell=25, k_cells=2, centroids=cents
    )
    rows = out.collect()
    assert len(rows) == 100  # every vector labeled exactly once
    assert len({r["vec_id"] for r in rows}) == 100
    kept = [(r["vec_id"], r["cell"]) for r in rows if r["keep"] == 1]
    by_cell = {}
    for _, c in kept:
        by_cell[c] = by_cell.get(c, 0) + 1
    assert by_cell[0] == 25  # quota binds on the dominant region
    assert by_cell[1] == 20  # sparse region keeps everything
    # deterministic: a second plan keeps the identical set
    again = {
        (r["vec_id"], r["cell"])
        for r in cluster_balanced_sample(
            emb, per_cell=25, k_cells=2, centroids=cents
        ).collect()
        if r["keep"] == 1
    }
    assert set(kept) == again


def test_cluster_sample_proximity_arms_select_prototypes_vs_boundary(spark):
    """rank_by='central' must keep each cell's nearest-to-centroid
    members and rank_by='outlying' its farthest, both exactly equal to
    the naive single-window spec (the bucketed top-k pre-reduction is
    invisible), with every vector labeled exactly once."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        _centroid_ranked,
        cluster_balanced_sample,
        codebook_df,
    )

    base = [10.0, 0.0] + [0.0] * (DIMS - 2)
    # members at graded angles from the centroid: index i mixes in more
    # of the second axis, so similarity decreases monotonically with i
    vecs = [
        [base[0], 0.4 * i] + [0.0] * (DIMS - 2) for i in range(40)
    ]
    emb = _emb(spark, vecs)
    cents = codebook_df(spark, [(0, base)])
    for arm in ("central", "outlying"):
        out = cluster_balanced_sample(
            emb, per_cell=10, k_cells=1, centroids=cents, rank_by=arm
        )
        rows = out.collect()
        assert len(rows) == 40
        kept = sorted(r["vec_id"] for r in rows if r["keep"] == 1)
        want = (
            list(range(10)) if arm == "central" else list(range(30, 40))
        )
        assert kept == want, (arm, kept)
        # naive spec parity on the same session (full cosine = s/qn)
        scored = _centroid_ranked(
            emb, 1, centroids=cents, keep_qnorm=True
        ).where(F.col("rn") == 1).select(
            "vec_id",
            F.floor(1_000_000 * F.col("s") / F.col("qn"))
            .cast("long")
            .alias("sim"),
        )
        order = (
            F.col("sim").desc() if arm == "central" else F.col("sim").asc()
        )
        w = Window.orderBy(order, F.col("vec_id").asc())
        naive = {
            r["vec_id"]
            for r in scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 10)
            .collect()
        }
        assert set(kept) == naive, arm


def test_ivf_index_at_rest_serves_pruned_parity(spark, tmp_path):
    """The materialized IVF index (round 6): write_ivf_index lays the
    corpus out hive-partitioned by cell next to its codebook, and
    ann_topk_indexed serves top-k FROM DISK with the cell filter
    derived at runtime (dynamic partition pruning on the vectors
    scan) — results must equal the in-memory ann_topk_ivf on the same
    corpus and stand-in codebook, at nprobe=1 and 2, and a re-written
    index must serve the identical answer (deterministic layout)."""
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        ann_topk_indexed,
        ann_topk_ivf,
        write_ivf_index,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivf_index")
    write_ivf_index(emb, idx)
    qs = emb.where("vec_id < 5")
    for nprobe in (1, 2):
        got = ann_topk_indexed(spark, idx, qs, k=3, nprobe=nprobe)
        rows = sorted(map(tuple, got.collect()))
        want = sorted(
            map(tuple, ann_topk_ivf(emb, 5, 3, nprobe).collect())
        )
        assert rows == want and len(rows) == 15, nprobe
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), (
            "vectors scan not partition-pruned at nprobe=%d" % nprobe
        )
    # overwrite recovery: re-running the writer serves identically
    write_ivf_index(emb, idx)
    again = sorted(
        map(
            tuple,
            ann_topk_indexed(spark, idx, qs, k=3, nprobe=1).collect(),
        )
    )
    assert again == sorted(
        map(tuple, ann_topk_ivf(emb, 5, 3, 1).collect())
    )


def test_quantized_ivf_index_serves_int_exact_results(spark, tmp_path):
    """quantize=True: the index stores TINYINT vectors + the pinned
    scale; serving must equal an independent in-test formulation of
    the same spec (quantize queries on the stored scale, exact-int64
    cosine within probed cells — computed here via posexplode+sum
    instead of the engine's HOF folds), the scan must still
    partition-prune, and the quantized vectors dir must be smaller on
    disk than the float one."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        ann_topk_indexed,
        write_ivf_index,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    fidx = str(tmp_path / "fidx")
    qidx = str(tmp_path / "qidx")
    write_ivf_index(emb, fidx)
    write_ivf_index(emb, qidx, quantize=True)

    def tree_size(p):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
        )

    assert tree_size(f"{qidx}/vectors") < tree_size(f"{fidx}/vectors")

    qs = emb.where("vec_id < 5")
    got = ann_topk_indexed(spark, qidx, qs, k=3, nprobe=1)
    plan_rows = sorted(map(tuple, got.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()

    # independent formulation: posexplode + groupBy sums, same spec
    scale = spark.read.parquet(f"{qidx}/scale").collect()[0]["scale"]
    vecs = spark.read.parquet(f"{qidx}/vectors")
    quant = (
        f"transform(embedding, x -> CAST(least(greatest("
        f"floor(CAST(x AS DOUBLE) / {scale!r} * 127 + 0.5),"
        f" -127), 127) AS BIGINT))"
    )
    # cells of the queries via the float codebook (nprobe=1)
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        ivf_cells,
        load_codebook,
    )

    cents = load_codebook(spark, f"{qidx}/codebook")
    qcells = ivf_cells(qs, centroids=cents).select(
        F.col("vec_id").alias("qid"), F.col("cell").alias("qcell")
    )
    qq = qs.select(
        F.col("vec_id").alias("qid"), F.expr(quant).alias("qe")
    ).join(qcells, "qid")
    pairs = qq.join(
        vecs.select(
            F.col("vec_id").alias("nid"),
            F.expr("transform(qemb, x -> CAST(x AS BIGINT))").alias("ce"),
            F.col("cell").alias("qcell"),
        ),
        "qcell",
    ).where(F.col("qid") != F.col("nid"))
    terms = pairs.select(
        "qid",
        "nid",
        F.posexplode(F.expr("zip_with(qe, ce, (x, y) -> struct(x, y))")),
    ).select(
        "qid",
        "nid",
        (F.col("col.x") * F.col("col.y")).alias("xy"),
        (F.col("col.x") * F.col("col.x")).alias("xx"),
        (F.col("col.y") * F.col("col.y")).alias("yy"),
    )
    sums = terms.groupBy("qid", "nid").agg(
        F.sum("xy").alias("dot"),
        F.sum("xx").alias("qn2"),
        F.sum("yy").alias("cn2"),
    )
    w = Window.partitionBy("qid").orderBy(
        (
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("cn2").cast("double"))
            )
        ).desc(),
        F.col("nid").asc(),
    )
    want = sorted(
        map(
            tuple,
            sums.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select(
                "qid",
                "nid",
                "rank",
                F.floor(
                    10000
                    * F.col("dot").cast("double")
                    / (
                        F.sqrt(F.col("qn2").cast("double"))
                        * F.sqrt(F.col("cn2").cast("double"))
                    )
                )
                .cast("long")
                .alias("sim_e4"),
            )
            .collect(),
        )
    )
    assert plan_rows == want and len(plan_rows) == 15


def test_default_bits_derive_from_corpus_count(spark):
    """Round-8 (r7 verdict item 1): ``bits=None`` — now the DEFAULT on
    every embedding-tier entry point — derives the band width from the
    corpus count via ``lsh_bits_for``, so a user calling
    ``semantic_dedup_clusters(emb)`` or ``banded_lsh_candidates(emb)``
    directly at 1M+ vectors no longer inherits the fixed width the 1M
    capstone probe measured as quadratic. Two pins: (a) above the
    floor the default is BIT-IDENTICAL to passing the derived width
    explicitly, and (b) at/below the floor the default is
    BIT-IDENTICAL to the old fixed ``LSH_BITS`` — which is why every
    testdata-scale oracle and bench digest is unchanged."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from embedding_scale_probe import clustered_embeddings

    # explicit bits never touches the relations — plan construction
    # stays action-free for callers that pin the width (the streaming
    # folds); a non-DataFrame sentinel would raise if counted
    assert similarity._resolve_bits(11, object()) == 11
    # (b) floor regime: the 8-vector planted corpus
    emb = _planted(spark)
    assert similarity._resolve_bits(None, emb) == similarity.LSH_BITS
    got = sorted(
        map(tuple, similarity.semantic_dedup_pairs(emb, dims=DIMS).collect())
    )
    want = sorted(
        map(
            tuple,
            similarity.semantic_dedup_pairs(
                emb, bits=similarity.LSH_BITS, dims=DIMS
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    # (a) above the floor: 10k clustered vectors -> derived width 10
    big = clustered_embeddings(spark, 10_000)
    derived = similarity.lsh_bits_for(10_000)
    assert derived > similarity.LSH_BITS
    n_default = similarity.banded_lsh_candidates(big).count()
    n_explicit = similarity.banded_lsh_candidates(big, bits=derived).count()
    assert n_default == n_explicit
    # per-vector candidate volume is occupancy-bounded, not quadratic
    assert n_default / 10_000 < 100, n_default


def test_decontaminate_default_bits_follow_train_side(spark):
    """``semantic_decontaminate(bits=None)`` sizes the band width from
    the TRAIN count (the dominant side of the cross-set join); at the
    floor the result is bit-identical to the old fixed default."""
    emb = _planted(spark)
    train = emb.where("vec_id % 4 <> 0")
    ev = emb.where("vec_id % 4 = 0")
    got = sorted(
        map(
            tuple,
            similarity.semantic_decontaminate(train, ev, dims=DIMS).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            similarity.semantic_decontaminate(
                train, ev, bits=similarity.LSH_BITS, dims=DIMS
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_resolve_bits_memoizes_sizing_count_per_relation(spark):
    """Round-9 (r8 verdict item 8): a composed pipeline calling
    several embedding-tier operators with the bits=None default over
    the SAME corpus must pay the ids-only sizing count ONCE per
    relation — the second defaulted resolve runs zero Spark jobs — while
    a DIFFERENT relation still counts (no false sharing), and an
    explicit bits runs no job at all."""
    import random

    from twitter_social_triangle_mapreduce_spark.operators import similarity

    rng = random.Random(9)
    emb = _emb(
        spark,
        [[rng.uniform(-1, 1) for _ in range(DIMS)] for _ in range(64)],
    )
    other = emb.where("vec_id % 2 = 0")
    similarity._SIZING_COUNT_MEMO.clear()
    sc = spark.sparkContext

    def jobs(tag, fn):
        sc.setJobGroup(tag, "resolve-bits probe")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(
            sc._jsc.sc().statusTracker().getJobIdsForGroup(tag)
        )

    b1, j1 = jobs("rbits_1", lambda: similarity._resolve_bits(None, emb))
    assert j1 >= 1  # first defaulted resolve counts the corpus
    b2, j2 = jobs("rbits_2", lambda: similarity._resolve_bits(None, emb))
    assert (b2, j2) == (b1, 0)  # memo hit: same width, ZERO jobs
    # a different relation is keyed separately (no false sharing)
    _, j4 = jobs("rbits_4", lambda: similarity._resolve_bits(None, other))
    assert j4 >= 1
    # explicit bits never launches a job
    b5, j5 = jobs("rbits_5", lambda: similarity._resolve_bits(11, emb))
    assert (b5, j5) == (11, 0)


def test_resolve_bits_memo_shares_across_independent_loads(spark, tmp_path):
    """The realistic composition shape: two operators each calling
    load-from-parquet on the same path build INDEPENDENT DataFrames
    with the same analyzed scan plan — the second defaulted resolve
    must hit the memo (zero jobs)."""
    import random

    from twitter_social_triangle_mapreduce_spark.operators import similarity

    rng = random.Random(10)
    path = str(tmp_path / "emb")
    # one part file: a 32-file dir makes spark.read.parquet launch a
    # parallel-listing job of its own, which this test must not count
    _emb(
        spark,
        [[rng.uniform(-1, 1) for _ in range(DIMS)] for _ in range(32)],
    ).coalesce(1).write.parquet(path)
    similarity._SIZING_COUNT_MEMO.clear()
    sc = spark.sparkContext

    def jobs(tag, fn):
        sc.setJobGroup(tag, "resolve-bits probe")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(
            sc._jsc.sc().statusTracker().getJobIdsForGroup(tag)
        )

    # explicit schema: schema INFERENCE is its own footer-reading job
    # at load time, which this test must not attribute to the resolve
    schema = "vec_id bigint, embedding array<float>"

    def load():
        return spark.read.schema(schema).parquet(path)

    b1, j1 = jobs("rbload_1", lambda: similarity._resolve_bits(None, load()))
    assert j1 >= 1
    b2, j2 = jobs("rbload_2", lambda: similarity._resolve_bits(None, load()))
    assert (b2, j2) == (b1, 0)


def test_fast_path_cell_assignment_with_no_centroids_under_ansi(spark):
    """Non-empty embeddings but an EMPTY centroid set — a trained
    codebook with no rows, or no vec_id below ``k_cells`` for the
    stand-in — leave the broadcast centroid array empty. Under ANSI the
    nearest-cell lookup must give NULL (no cell, so no pair), not fail
    with an out-of-bounds array index."""
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        planted = _planted(spark)
        no_codebook = spark.createDataFrame(
            [], "cid long, centroid array<float>"
        )
        assert similarity.semantic_dedup_pairs(
            planted, dims=DIMS, centroids=no_codebook
        ).collect() == []
        shifted = planted.withColumn(
            "vec_id", F.col("vec_id") + similarity.IVF_CELLS
        )
        assert similarity.semantic_dedup_pairs(shifted, dims=DIMS).collect() == []
    finally:
        spark.conf.set(key, prev)
