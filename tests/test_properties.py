"""Property-based tests (SURVEY.md §5.5) on random digraphs: invariance
under id relabeling, monotonicity under edge addition, and cross-operator
identities. Few examples per property (each runs Spark jobs), but each
random graph includes duplicates and self-loops by construction."""

from __future__ import annotations

import random

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from twitter_social_triangle_mapreduce_spark.operators import graph

from conftest import edges_df, scalar

SET = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

graphs = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=60,
)


@given(edges=graphs, seed=st.integers(0, 10**6))
@SET
def test_triangle_count_invariant_under_relabeling(spark, edges, seed):
    e = edges_df(spark, edges)
    base = scalar(graph.triangle_count_shuffle(e))
    ids = sorted({v for t in edges for v in t})
    rng = random.Random(seed)
    perm = dict(zip(ids, rng.sample(range(100, 100 + len(ids)), len(ids))))
    relabeled = edges_df(spark, [(perm[a], perm[b]) for a, b in edges])
    assert scalar(graph.triangle_count_shuffle(relabeled)) == base


@given(edges=graphs, extra=st.tuples(st.integers(0, 12), st.integers(0, 12)))
@SET
def test_triangle_count_monotone_under_edge_addition(spark, edges, extra):
    e = edges_df(spark, edges)
    e2 = edges_df(spark, edges + [extra])
    assert scalar(graph.triangle_count_shuffle(e2)) >= scalar(
        graph.triangle_count_shuffle(e)
    )


@given(edges=graphs)
@SET
def test_cardinality_equals_unfiltered_path2_row_count(spark, edges):
    """Cross-operator identity (SURVEY.md §5.2): the path-2 cardinality
    total equals the number of enumerated paths when X=Z round-trips are
    included."""
    e = edges_df(spark, edges)
    total = scalar(graph.path2_cardinality_total(e))
    enumerated = graph.path2(e, exclude_closed=False).count()
    assert total == enumerated


@given(edges=graphs)
@SET
def test_strategies_agree_without_selfloops_and_dups(spark, edges):
    clean = list({(a, b) for a, b in edges if a != b})
    e = edges_df(spark, clean)
    assert scalar(graph.triangle_count_shuffle(e)) == scalar(
        graph.triangle_count_broadcast(e)
    )


@given(edges=graphs)
@SET
def test_jaccard_cap_neutral_when_above_max_fanin(spark, edges):
    """A non-binding ``max_neighbor_freq`` must be a pure no-op: capped at
    any value ≥ the graph's max neighbor fan-in, the pair set equals the
    effectively-uncapped result (same convention the oracle relies on)."""
    e = edges_df(spark, edges)
    fanin = max(
        len({a for a, b in set(edges) if b == d})
        for d in {b for _, b in edges}
    )
    capped = sorted(
        map(
            tuple,
            graph.neighborhood_jaccard_pairs(
                e, min_common=1, max_neighbor_freq=fanin
            ).collect(),
        )
    )
    uncapped = sorted(
        map(
            tuple,
            graph.neighborhood_jaccard_pairs(
                e, min_common=1, max_neighbor_freq=10**9
            ).collect(),
        )
    )
    assert capped == uncapped


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-8, 8, allow_nan=False, width=32), min_size=6, max_size=6
        ),
        min_size=1,
        max_size=4,
    ),
    bits=st.integers(1, 8),
)
@SET
def test_lsh_signature_matches_python_reference(spark, vecs, bits):
    """The coefficient-array fold must reproduce the definitional
    signature (±1 md5-parity hyperplanes) for arbitrary vectors/widths."""
    import hashlib

    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        lsh_signature,
    )

    dims = 6
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: r["sig"] for r in lsh_signature(df, bits, dims).collect()}
    import struct

    for vid, vec in enumerate(vecs):
        sig = 0
        for b in range(bits):
            proj = 0.0
            for d in range(dims):
                nib = hashlib.md5(f"{b}#{d}".encode()).hexdigest()[0]
                coeff = (
                    1.0
                    if ("0123456789abcdef".index(nib) + 1) % 2 == 0
                    else -1.0
                )
                # float32 storage round-trip, then double math — same as Spark
                proj += coeff * struct.unpack("f", struct.pack("f", vec[d]))[0]
            if proj > 0:
                sig |= 1 << b
        assert got[vid] == sig, (vid, bits)


def _near_dup_corpus(spark, n_clusters: int, members: int = 4):
    """Adversarial near-dup-heavy corpus: ``n_clusters`` groups of
    ``members`` docs each; members share a 30-word base with ONE word
    swapped per member (3-shingle Jaccard ~ 0.8 — right of the (8,2)
    s-curve threshold 0.5), and clusters share no words at all."""
    rows = []
    for c in range(n_clusters):
        base = [f"w{c}_{i}" for i in range(30)]
        for m in range(members):
            ws = list(base)
            ws[(m * 7) % 30] = f"x{c}_{m}"
            rows.append((c * members + m, " ".join(ws)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_candidates_subquadratic_on_near_dup_heavy_corpus(spark):
    """The s-curve math documented at dedup.NUM_HASHES/BAND_SIZE, pinned
    empirically: on a corpus that is ALL near-duplicates (the collision-
    adversarial case), the band join's candidate set must stay at the
    within-cluster scale (linear in docs), nowhere near the quadratic
    doc×doc space — and doubling the corpus must ~double it, not
    quadruple it. Recall stays high (P(cand | j≈0.8) ≈ 0.98)."""
    from twitter_social_triangle_mapreduce_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    members = 4
    counts = {}
    for n_clusters in (100, 200):
        docs = _near_dup_corpus(spark, n_clusters, members)
        pairs = minhash_candidate_pairs(docs)
        n_docs = n_clusters * members
        n_pairs = pairs.count()
        counts[n_clusters] = n_pairs
        within = n_clusters * members * (members - 1) // 2
        quadratic = n_docs * (n_docs - 1) // 2
        # sub-quadratic: bounded by a small multiple of the true
        # near-dup pair count, far under doc×doc
        assert n_pairs <= 3 * within, (n_pairs, within)
        assert n_pairs < quadratic // 20, (n_pairs, quadratic)
        # recall: collisions find nearly all true within-cluster pairs
        same_cluster = pairs.where(
            (F.col("doc_a") / members).cast("long")
            == (F.col("doc_b") / members).cast("long")
        ).count()
        assert same_cluster >= int(0.8 * within), (same_cluster, within)
    # doubling the corpus ~doubles candidates (quadratic would be 4x)
    assert counts[200] <= 3 * counts[100], counts


# ---------------------------------------------------------------------------
# Passage-level dedup exactness (round 4): cut lists are EXACTLY the
# non-canonical duplicated-window occurrences — full coverage (every
# such occurrence inside a cut span) and no over-cutting (every cut
# position covered by some non-canonical duplicated window). Small
# alphabet forces heavy window collisions.
# ---------------------------------------------------------------------------

_pass_corpora = st.lists(
    st.lists(st.sampled_from("abc"), min_size=1, max_size=14).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=_pass_corpora)
@SET
def test_passage_cuts_cover_exactly_noncanonical_occurrences(spark, texts):
    from twitter_social_triangle_mapreduce_spark.operators import passages

    W = 3
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in passages.passage_cut_spans(docs, window=W).collect()
    }
    # independent reference: per-occurrence window table in Python
    occs = []  # (doc_id, start, window_text)
    for did, text in enumerate(texts):
        toks = text.split(" ")
        for s in range(1, len(toks) - W + 2):
            occs.append((did, s, " ".join(toks[s - 1 : s + W - 1])))
    by_win: dict[str, list] = {}
    for did, s, w in occs:
        by_win.setdefault(w, []).append((did, s))
    expect_cut = set()  # (doc_id, position) token positions to cut
    for w, lst in by_win.items():
        if len(lst) < 2:
            continue
        lst.sort()
        for did, s in lst[1:]:  # every non-canonical occurrence
            for pos in range(s, s + W):
                expect_cut.add((did, pos))
    got_cut = {
        (did, pos)
        for did, a, b in spans
        for pos in range(a, b + 1)
    }
    assert got_cut == expect_cut
    # spans are maximal (no two adjacent/overlapping spans per doc)
    per_doc: dict[int, list] = {}
    for did, a, b in spans:
        per_doc.setdefault(did, []).append((a, b))
    for lst in per_doc.values():
        lst.sort()
        for (a1, b1), (a2, b2) in zip(lst, lst[1:]):
            assert a2 > b1 + 1


@given(texts=_pass_corpora, split=st.integers(1, 7))
@SET
@pytest.mark.slow  # random-corpora parity fold (closing battery)
def test_incremental_passage_parity_on_random_corpora(spark, texts, split):
    """The incremental-screen parity theorem, property-tested: for ANY
    corpus and ANY id-threshold split (append-only invariant holds by
    construction), screening the batch against the corpus window index
    equals the full recompute restricted to batch docs."""
    from twitter_social_triangle_mapreduce_spark.operators import passages

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    corpus = docs.where(f"doc_id < {split}")
    batch = docs.where(f"doc_id >= {split}")
    inc = sorted(
        map(
            tuple,
            passages.incremental_passage_cuts(
                batch, passages.passage_windows(corpus, window=3), window=3
            ).collect(),
        )
    )
    full = sorted(
        map(
            tuple,
            passages.passage_cut_spans(docs, window=3)
            .where(f"doc_id >= {split}")
            .collect(),
        )
    )
    assert inc == full


_near_dup_texts = st.lists(
    st.sampled_from(
        [
            "alpha beta gamma delta epsilon zeta",
            "alpha beta gamma delta epsilon eta",
            "one two three four five six seven",
            "one two three four five six eight",
            "lorem ipsum dolor sit amet elit",
        ]
    ),
    min_size=2,
    max_size=8,
)


@given(texts=_near_dup_texts, split=st.integers(1, 6))
@SET
@pytest.mark.slow  # random-corpora parity fold (closing battery)
def test_incremental_cluster_parity_on_random_corpora(spark, texts, split):
    """The cluster-graph-collapse parity theorem, property-tested: for
    ANY corpus drawn from a near-dup-heavy pool and ANY split, folding
    the batch into the converged corpus state equals the batch
    recompute over everything."""
    from twitter_social_triangle_mapreduce_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "web", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    )
    corpus = docs.where(f"doc_id < {split}")
    batch = docs.where(f"doc_id >= {split}")
    if batch.count() == 0:
        return
    if corpus.count() == 0:
        return
    upd = dedup.update_near_dup_clusters(
        dedup.near_dup_clusters(corpus), dedup.minhash_bands(corpus), batch
    )
    bat = dedup.near_dup_clusters(docs)
    assert sorted(map(tuple, upd.collect())) == sorted(
        map(tuple, bat.collect())
    )
