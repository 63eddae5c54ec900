"""Deduplication operators over the ``documents`` table — the training-data
pipeline surface: exact (content-hash), MinHash+LSH near-dup, SimHash
fingerprints, and n-gram Jaccard pairs.

Portability contract: every hash is ``md5`` (identical lowercase hex in
Spark and DuckDB) and every ratio is emitted as ``floor(1e6 * a / b)``
BIGINT so the DuckDB oracle reproduces values bit-exactly (no float
round-half ambiguity).

Scale design: everything is expression-level (whole-stage codegen, no
Python UDFs). The LSH pipeline is the standard shingle → minhash →
band-bucket → bucket-join shape: candidate generation joins on
``(band, band_signature)`` — shuffle keyed on small hashes, never the
quadratic doc×doc space. At 100 TB the band join is the only shuffle whose
size depends on collision rate, which the (num_hashes, band_size) knobs
control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: word-level shingle width for MinHash / Jaccard
SHINGLE_N = 3
#: number of minhash permutations (md5 salt 0..NUM_HASHES-1)
NUM_HASHES = 8
#: rows per LSH band (NUM_HASHES/BAND_SIZE bands)
BAND_SIZE = 2

# ---------------------------------------------------------------------------
# The (NUM_HASHES, BAND_SIZE) s-curve — how the knobs control collisions
#
# With b = NUM_HASHES/BAND_SIZE bands of r = BAND_SIZE minhash rows each,
# a pair with shingle-Jaccard s collides in one band with probability s^r
# (all r minhashes agree), so
#
#     P(candidate | s) = 1 - (1 - s^r)^b
#
# an s-shaped curve whose inflection ("threshold") sits near
# t ≈ (1/b)^(1/r). The shipped (8, 2) → b=4, r=2 → t ≈ 0.5:
#
#     s        0.2    0.4    0.5    0.6    0.8    0.9
#     P(cand)  0.15   0.50   0.68   0.83   0.983  0.9996
#
# Tuning at 100 TB: the band-bucket join is the ONLY shuffle whose size
# depends on collision rate. Raising r sharpens the curve and cuts
# false-positive candidates exponentially (cost: more hashes for the
# same t, because b must grow as t^-r); raising b with fixed r shifts t
# left (more recall, more candidates). The candidate count is
# Σ_buckets C(|bucket|, 2): sub-quadratic as long as buckets stay small,
# which holds when distinct signatures ≫ docs-per-near-dup-cluster —
# pinned by the adversarial property test
# (tests/test_properties.py::test_lsh_candidates_subquadratic...).
# EXACT duplicates share every bucket by construction; dedup them FIRST
# (exact_dedup_groups) or bucket sizes grow with the duplication factor
# (the capstone pipeline's gate order does exactly this at the audit
# level; the 10× capstone probe measures the collision worst case).
# ---------------------------------------------------------------------------

#: hex chars per integer minhash: 7 → 28-bit values, so BAND_SIZE of them
#: pack into one signed BIGINT without overflow
MINHASH_HEX_CHARS = 7

#: conf key for the row-local minhash's long-document guard (round 13,
#: r12 verdict item 6): documents with MORE whitespace tokens than this
#: take the exploded/aggregated arm (streaming per-shingle rows) instead
#: of materializing the shingle + digest arrays in one row. ``0`` (the
#: default) keeps every document row-local — the right call on corpora
#: whose documents are bounded (every plan digest unchanged); production
#: corpora that cannot bound document length set e.g. ``1000000`` so a
#: pathological multi-MB document costs O(1) row memory instead of
#: O(doc_tokens) array cells. Values are identical on both arms (same
#: md5/substr/conv arithmetic — pinned by the parity property test).
MINHASH_MAX_ROW_LOCAL_TOKENS_CONF = "spark.graft.minhash.maxRowLocalTokens"


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Raise map-side parallelism before CPU-heavy per-row derivation
    (shingling, the 2-digest minhash fold) when the source provides far
    fewer splits than the cluster has slots — delegates to the shared
    Connect-safe implementation (``plans.strategy.spread_small_input``;
    no-op arms, the ``spark.graft.spreadSmallInput`` escape hatch, and
    the Connect fallback are documented and tested there)."""
    from ..plans.strategy import spread_small_input

    return spread_small_input(df)


def tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, tok) — whitespace tokenization, one row per occurrence.

    Deliberately NOT spread via ``_spread_small_input``: tokenization is
    cheap relative to the aggregation shuffle that always follows it, and
    the measured bench effect of a pre-spread here was negative (the
    extra exchange + stage latency outweighed the map parallelism —
    simhash 0.34→0.43 s, text_stats 0.34→0.44 s at sf0.1). The
    shingle pipeline IS spread: its per-row cost is ~n_words string
    builds plus two md5 digests per shingle, where the spread measured
    2.6× (``shingles``)."""
    return documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )


def shingles(
    documents: DataFrame, n: int = SHINGLE_N, spread: bool = True
) -> DataFrame:
    """(doc_id, sh) — overlapping word ``n``-shingles, one row per
    occurrence. Docs shorter than ``n`` words produce no shingles (the
    oracle applies the same guard). ``spread=False`` skips the
    small-input pre-spread for callers whose relation is known tiny by
    contract (an eval set) — the spread's per-task fixed cost exceeds
    the derivation there (optimization round 12)."""
    src = _spread_small_input(documents) if spread else documents
    ws = src.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).where(F.size("ws") >= n)
    return ws.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ws) - {n - 1}),"
                f" i -> array_join(slice(ws, i, {n}), ' '))"
            )
        ).alias("sh"),
    )


def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """Exact dedup via content hash: one row per distinct content with the
    canonical (minimum) doc_id and the duplicate count. The hash-groupBy
    shape scales to any corpus: shuffle keyed on the 128-bit digest —
    carried as 16-byte BINARY through the exchange (half the hex-string
    key bytes on a corpus-sized relation) and re-hexed only in the
    output projection (``lower(hex(...))`` == the md5 hex the oracle
    states)."""
    return (
        documents.select(
            "doc_id", F.unhex(F.md5(F.col("text"))).alias("__h")
        )
        .groupBy("__h")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.lower(F.hex("__h")).alias("content_hash"),
            "keep_doc_id",
            "n_copies",
        )
    )


def minhash_bands(documents: DataFrame) -> DataFrame:
    """(doc_id, band, bh) — the LSH band signatures.

    minhash_i(doc) = min over shingles of the first MINHASH_HEX_CHARS hex
    chars of md5(shingle || '#' || i) as a BIGINT (md5 is the random
    permutation; a 28-bit prefix min is an equally valid uniform minhash).
    The band value packs BAND_SIZE minhashes into one BIGINT
    (``m_hi * 16^7 + m_lo``) — integer-exact in both engines.

    ROW-LOCAL computation (optimization round 12, guide §2.4 "remove
    shuffles outright"): a document's shingles live in its own row, so
    all NUM_HASHES minhashes are per-row array expressions — the shingle
    array, its NUM_HASHES/4 digest arrays (one md5 yields four 28-bit
    hashes), and ``array_min`` over each digest's fixed-width hex
    substring. Fixed-width lowercase hex orders lexicographically AS
    numbers, so the min runs on the 7-char substrings and ``conv``
    parses once per DOCUMENT (the previous explode+groupBy form parsed
    per shingle occurrence: 8·|shingles| convs → 8·|docs|). This removes
    the corpus-token-sized shingle explode AND the groupBy(doc_id)
    exchange from the signature derivation entirely — the bands are a
    pure projection of the document scan (measured: 1.46 s → 1.12 s at
    2 cores on sf0.1 AND one less corpus exchange at any scale; values
    bit-identical — pinned by the unchanged oracle). The input is still
    pre-spread (``_spread_small_input``) because the per-row cost is
    ~n_words string builds plus 2 md5 digests per shingle — the
    CPU-heavy-derivation shape that needs map parallelism on few-split
    sources.

    Long-document guard (round 13 — ``MINHASH_MAX_ROW_LOCAL_TOKENS_CONF``):
    the row-local arm holds a document's shingle array plus NUM_HASHES/4
    digest arrays in ONE row — bounded by max document length, which is
    fine wherever documents are bounded, but a pathological multi-MB
    document would cost O(doc_tokens) strings of single-row memory where
    the old explode streamed. With the conf set to a positive token
    count, documents above it take the exploded+aggregated arm (per-
    shingle rows, groupBy(doc_id) min — the pre-round-12 shape) and the
    two arms union; values are identical (same md5/substr/conv
    arithmetic on both arms — parity-pinned by
    tests/test_properties.py::test_minhash_long_doc_guard_parity). The
    default 0 keeps the single-arm plan (digests unchanged)."""
    n = SHINGLE_N
    ws = (
        _spread_small_input(documents)
        .select("doc_id", F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= n)
    )
    try:
        max_tok = int(
            documents.sparkSession.conf.get(
                MINHASH_MAX_ROW_LOCAL_TOKENS_CONF, "0"
            )
            or "0"
        )
    except Exception:
        max_tok = 0
    if max_tok > 0:
        return _bands_row_local(
            ws.where(F.size("ws") <= max_tok)
        ).unionByName(_bands_exploded(ws.where(F.size("ws") > max_tok)))
    return _bands_row_local(ws)


def _pack_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, m0..m{NUM_HASHES-1}) → (doc_id, band, bh): pack BAND_SIZE
    28-bit minhashes per band into one BIGINT (integer-exact in both
    engines) — the shared tail of both minhash arms."""
    n_bands = NUM_HASHES // BAND_SIZE
    place = 16 ** MINHASH_HEX_CHARS
    stack = ", ".join(
        f"{b}L, "
        + " + ".join(
            f"m{b * BAND_SIZE + j} * {place ** (BAND_SIZE - 1 - j)}"
            for j in range(BAND_SIZE)
        )
        for b in range(n_bands)
    )
    return sig.select(
        "doc_id", F.expr(f"stack({n_bands}, {stack}) AS (band, bh)")
    )


def _bands_row_local(ws: DataFrame) -> DataFrame:
    """Row-local arm over a (doc_id, ws) relation (size(ws) ≥ SHINGLE_N
    pre-filtered): shingle array → digest arrays → array_min over
    fixed-width hex substrings (lexicographic == numeric), one ``conv``
    per document per hash."""
    n = SHINGLE_N
    # greatest(…, 1): keeps the sequence ascending/total even when a
    # downstream inferred predicate (isnotnull on a join key, generator
    # pruning) is pushed below the size(ws) >= n filter and CSE
    # evaluates this expression on rows the filter discards —
    # sequence(1, 0) is DESCENDING and slice(_, 0, _) ANSI-errors;
    # values on surviving rows are unchanged
    sh_arr = (
        f"transform(sequence(1, greatest(size(ws) - {n - 1}, 1)),"
        f" i -> array_join(slice(ws, i, {n}), ' '))"
    )
    staged = ws.withColumn("__sh", F.expr(sh_arr))
    for d in range(NUM_HASHES // 4):
        staged = staged.withColumn(
            f"__d{d}", F.expr(f"transform(__sh, s -> md5(concat(s, '#{d}')))")
        )
    mins = [
        f"CAST(conv(array_min(transform(__d{i // 4},"
        f" x -> substr(x, {1 + MINHASH_HEX_CHARS * (i % 4)},"
        f" {MINHASH_HEX_CHARS}))), 16, 10) AS BIGINT) AS m{i}"
        for i in range(NUM_HASHES)
    ]
    return _pack_bands(staged.selectExpr("doc_id", *mins))


def _bands_exploded(ws: DataFrame) -> DataFrame:
    """Exploded arm for documents too long to hold their shingle/digest
    arrays in one row: per-shingle rows (streamed by the generator, never
    materialized per doc), NUM_HASHES ``min`` expressions in one
    groupBy(doc_id) with map-side partial mins — the pre-round-12 shape,
    value-identical arithmetic."""
    n = SHINGLE_N
    sh = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(ws) - {n - 1}, 1)),"
                f" i -> array_join(slice(ws, i, {n}), ' '))"
            )
        ).alias("sh"),
    )
    longed = sh.select(
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(substr(md5(concat(sh, '#{i // 4}')),"
                f" {1 + MINHASH_HEX_CHARS * (i % 4)},"
                f" {MINHASH_HEX_CHARS}), 16, 10) AS BIGINT)"
            ).alias(f"l{i}")
            for i in range(NUM_HASHES)
        ],
    )
    sig = longed.groupBy("doc_id").agg(
        *[F.min(f"l{i}").alias(f"m{i}") for i in range(NUM_HASHES)]
    )
    return _pack_bands(sig)


def minhash_candidate_pairs(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b) — near-duplicate candidates: pairs sharing at least
    one LSH band bucket.

    Bucket-local pair generation instead of a band self-join: group by
    (band, signature), collect the bucket's doc ids, emit id combinations
    inside the group. One band-pipeline computation and ONE shuffle (the
    bucket groupBy) versus two computations + a join. Per-bucket memory is
    O(bucket size), and the pair fan-out is exactly the LSH collision set
    either way — bucket size is the (num_hashes, band_size) tuning knob."""
    b = minhash_bands(documents)
    buckets = (
        b.groupBy("band", "bh")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids)),"
                    " y -> struct(least(x, y) AS doc_a,"
                    " greatest(x, y) AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def simhash16(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 16-bit SimHash over token md5s.

    Bit j of the fingerprint is set iff Σ_tokens (±1 by bit j of the
    token's md5) is strictly positive. The 16 bits come from the first 4
    hex chars of the digest (4 bits each); all arithmetic is integer, so
    the oracle reproduces it exactly.

    Wide form: the 16 per-bit ±1 sums are 16 ``sum`` expressions in one
    groupBy(doc_id) over the token stream — no bit-index row explosion,
    one shuffle with map-side partial sums."""
    t = tokens(documents).withColumn("h4", F.substring(F.md5("tok"), 1, 4))

    def bit_sum(b: int):
        nibble = (
            f"instr('0123456789abcdef', substr(h4, {1 + b // 4}, 1)) - 1"
        )
        return F.sum(
            F.expr(f"(shiftright({nibble}, {b % 4}) % 2) * 2 - 1")
        ).alias(f"s{b}")

    per_bit = t.groupBy("doc_id").agg(*[bit_sum(b) for b in range(16)])
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    return per_bit.select(
        "doc_id", F.expr(f"CAST({fp} AS BIGINT)").alias("simhash")
    )


def ngram_jaccard_pairs(
    documents: DataFrame, min_common: int = 2, max_doc_freq: int = 1000
) -> DataFrame:
    """(doc_a, doc_b, common, jaccard_e6) — n-gram Jaccard similarity via
    an inverted-index join on distinct shingles (the scalable shape: join
    keyed on shingle, aggregate per pair; never doc×doc).

    ``max_doc_freq`` drops stop-shingles appearing in more than that many
    documents before the pair join — a df-k shingle alone contributes
    O(df²) candidate pairs, so without the cap one boilerplate phrase in a
    web corpus makes the join quadratic. (Standard prefix-filter practice;
    the cap never binds on the synthetic testdata, so oracle parity is
    unaffected — the oracle applies the same cap.)

    jaccard_e6 = floor(1e6 * |A∩B| / |A∪B|) — integer output, exact in
    both engines."""
    sh_all = shingles(documents).distinct()
    sizes = sh_all.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    hot = (
        sh_all.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_doc_freq)
        .select("sh")
    )
    sh = sh_all.join(F.broadcast(hot), "sh", "left_anti")
    pairs = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
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


#: upper bound on label-propagation rounds for near-dup clustering
#: (cluster diameters in LSH collision graphs are tiny, so the loop
#: usually stops at its fixed point well before it; the bound keeps the
#: result — and the unrolled SQL oracle — deterministic whether or not
#: converged)
NEAR_DUP_CC_ROUNDS = 6


def near_dup_clusters(
    documents: DataFrame, iterations: int = NEAR_DUP_CC_ROUNDS
) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) — the actual dedup DELIVERABLE:
    candidate pairs from LSH band collisions are closed transitively
    (connected components, min-label propagation) into clusters, and the
    lowest doc_id of each cluster is elected canonical. Downstream, a
    training pipeline keeps ``is_canonical = 1`` rows — one representative
    per near-duplicate group — instead of consuming raw pair lists.

    Singleton documents (no collisions) keep ``cluster_id = doc_id``.
    ``cluster_id`` is the min doc_id reachable within ``iterations``
    rounds — deterministic at any round count, and exactly mirrored by the
    unrolled oracle. CC runs at most ``iterations`` rounds and stops at
    the fixed point, with the same rows as ``iterations`` rounds (at
    sf0.1: after 3 of the 6 rounds, with 450, 8 and 0 labels changing).

    Scale: the CC iteration runs on the PAIR graph (collision survivors
    only — orders of magnitude smaller than the corpus); after its first
    round only the labels that changed are joined (one join + one
    aggregate per round, lineage truncated); the corpus itself is
    touched twice (band pipeline + final left join). No all-pairs stage
    anywhere. Reference analogy: the closure join of the triangle pipeline
    (SocialTriangle_RS.java) applied to the dedup domain."""
    from .components import connected_components

    pairs = minhash_candidate_pairs(documents)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(edges, iterations=iterations)
    docs = documents.select("doc_id")
    return (
        docs.join(cc, docs.doc_id == cc.v, "left_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
        .withColumn(
            "is_canonical",
            (F.col("doc_id") == F.col("cluster_id")).cast("long"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame, corpus_docs: DataFrame
) -> DataFrame:
    """(doc_id, n_dup_of, is_new) — near-dup screening of an INCOMING
    batch against the EXISTING corpus: every new document with the count
    of distinct existing documents it LSH-collides with, and
    ``is_new = 1`` when it collides with none (safe to ingest).

    This is the daily-ingest shape of dedup at 100 TB: the corpus's band
    signatures are computed ONCE and kept as a materialized relation
    (append new batches' bands after ingest — ``minhash_bands`` output
    is exactly that table); each incoming batch computes only ITS OWN
    signatures and equi-joins the index on (band, bh). The batch side is
    orders of magnitude smaller than the corpus, so the planner
    broadcasts it and the index is probed in place — per-batch cost is
    batch-sized, never corpus-sized, and the quadratic new×corpus
    comparison never exists. Docs too short to shingle produce no bands
    and are conservatively ``is_new = 1`` (nothing to collide on).

    Reference analogy: the replicated-join driver's cached side
    (ReplicatedJoinDriver.java:63) — a small relation probed against a
    big streamed one — applied to the dedup domain. Streaming twin:
    ``streaming.streams.streaming_dedup_against_corpus`` runs the same
    screen per micro-batch via ``foreachBatch`` (batch/streaming parity
    pinned in tests/test_streaming_dedup.py)."""
    nb = minhash_bands(new_docs).select(
        F.col("doc_id").alias("new_id"), "band", "bh"
    )
    cb = minhash_bands(corpus_docs).select(
        F.col("doc_id").alias("corpus_id"), "band", "bh"
    )
    hits = (
        nb.join(cb, ["band", "bh"])
        .select("new_id", "corpus_id")
        .distinct()
        .groupBy("new_id")
        .agg(F.count(F.lit(1)).alias("n_dup_of"))
    )
    return (
        new_docs.select("doc_id")
        .join(hits, new_docs.doc_id == hits.new_id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_dup_of"), F.lit(0)).alias("n_dup_of"),
        )
        .withColumn("is_new", (F.col("n_dup_of") == 0).cast("long"))
    )


def elect_canonicals(clusters: DataFrame, scores: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) — re-elect each cluster's
    canonical by QUALITY instead of the structural min-doc_id default:
    the member with the highest ``score`` wins (ties break toward the
    smaller doc_id, keeping the election total and deterministic).
    ``clusters`` is any (doc_id, cluster_id, ...) relation
    (``near_dup_clusters`` / ``semantic_dedup_clusters`` /
    ``update_near_dup_clusters`` output); ``scores`` is (doc_id, score)
    — token counts, stopword-density quality, model scores, anything
    orderable. Real pipelines keep the LONGEST or HIGHEST-QUALITY
    member of a near-dup cluster, not the one with the smallest id.

    The election is TOTAL over ``clusters`` regardless of score
    coverage (review finding): scores are LEFT-joined — a member
    without a score row ranks below every scored member (and an
    entirely unscored cluster falls back to the min-doc_id election) —
    and duplicate score rows per doc_id collapse to their max before
    joining, so the output always has exactly one row per cluster
    member and one canonical per cluster.

    Shape: one join keyed on doc_id plus one cluster-keyed arg-max
    aggregate (map-side combinable ``max`` over a (scored, score,
    -doc_id) struct — no per-cluster window over the corpus), and the
    winner relation joins back on cluster_id. Note ``cluster_id`` no
    longer equals the canonical's doc_id under re-election — it remains
    the structural min-label; only the ``is_canonical`` flag moves."""
    uniq = scores.select("doc_id", "score").groupBy("doc_id").agg(
        F.max("score").alias("score")
    )
    sc = clusters.select("doc_id", "cluster_id").join(uniq, "doc_id", "left")
    winners = sc.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("score").isNotNull().alias("scored"),
                F.col("score").alias("s"),
                (-F.col("doc_id")).alias("nid"),
            )
        ).alias("__w")
    ).select("cluster_id", (-F.col("__w.nid")).alias("__win_id"))
    return (
        sc.join(winners, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("__win_id")).cast("long").alias(
                "is_canonical"
            ),
        )
    )


def update_near_dup_clusters(
    state: DataFrame,
    corpus_bands: DataFrame,
    new_docs: DataFrame,
    iterations: int = NEAR_DUP_CC_ROUNDS,
) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) over corpus ∪ batch — the
    INCREMENTAL cluster-maintenance step ``incremental_dedup`` lacks
    (round-3 verdict: the batch screen existed but cluster/canonical
    state was rebuilt from scratch each run). Given a CONVERGED cluster
    ``state`` (``near_dup_clusters`` output or a previous update) and
    the materialized corpus band index, fold an incoming batch in
    without recomputing anything over the corpus text.

    Algorithm (the cluster-graph collapse): (1) the batch computes only
    ITS OWN band signatures; (2) collision edges with ≥1 new endpoint
    come from the band-index equi-join (batch side broadcast, same as
    ``incremental_dedup``); (3) endpoints map to CLUSTER LABELS (old
    docs → their cluster_id, new docs → own id), so the min-label
    propagation runs on the collapsed label graph — batch-sized, since
    a converged old cluster is one super-node — never on the corpus
    pair graph; (4) the resulting label remap applies back to the state
    relation with one equi-join and new docs append. Because old labels
    are the min doc_id of their (converged) cluster, the merged label
    is the global min doc_id — exactly what the batch recompute elects,
    so ``update == near_dup_clusters(corpus ∪ batch)`` at convergence
    (pinned by tests/test_incremental_mixture.py).

    Per-batch COMPUTE is batch-sized (shingling/minhash/CC all touch
    only batch-derived relations); the corpus-sized state relation —
    ~1000× smaller than the corpus text — is touched once, by the final
    remap join, whose build side (the remap) AQE sizes at runtime.
    Contract for the NEXT batch (same as ``incremental_dedup``): append
    ``minhash_bands(new_docs)`` to the band index after ingest; the
    streaming twin (``streaming.streams.streaming_cluster_maintenance``)
    does both under a versioned, idempotent snapshot."""
    nb = minhash_bands(new_docs)
    all_bands = corpus_bands.select("doc_id", "band", "bh").unionByName(
        nb.select("doc_id", "band", "bh")
    )
    hits = (
        nb.select(F.col("doc_id").alias("new_id"), "band", "bh")
        .join(
            all_bands.select(F.col("doc_id").alias("other_id"), "band", "bh"),
            ["band", "bh"],
        )
        .where(F.col("new_id") != F.col("other_id"))
        .select("new_id", "other_id")
        .distinct()
    )
    return _fold_collision_hits(state, new_docs.select("doc_id"), hits, iterations)


def _fold_collision_hits(
    state: DataFrame,
    new_ids: DataFrame,
    hits: DataFrame,
    iterations: int,
) -> DataFrame:
    """The cluster-graph collapse shared by the MinHash and semantic
    incremental folds: (new_id, other_id) collision hits map to cluster
    labels — BOTH endpoints: docs already in ``state`` → their
    cluster_id, genuinely-new docs → own id — min-label propagation runs
    on the batch-sized label graph, and the remap applies back with one
    state equi-join plus the new-doc append (re-ingest-guarded: a
    replayed id keeps its corpus assignment).

    The new_id endpoint MUST also map through state labels (round-5
    ADVICE): a batch that re-ingests a NON-LABEL member of an existing
    cluster would otherwise emit edges from its raw id — a vertex the
    remap join (keyed on cluster_id) can never match — silently dropping
    every transitive merge bridged by that doc (its old cluster never
    merges with the colliding one). With both sides label-mapped,
    re-ingested batches need not be id-disjoint from the corpus."""
    from .components import connected_components

    old_lbl = state.select(
        F.col("doc_id").alias("other_id"), F.col("cluster_id").alias("other_lbl")
    )
    new_side_lbl = state.select(
        F.col("doc_id").alias("new_id"), F.col("cluster_id").alias("new_lbl")
    )
    lbl_edges = (
        hits.join(old_lbl, "other_id", "left")
        .join(new_side_lbl, "new_id", "left")
        .select(
            F.coalesce(F.col("new_lbl"), F.col("new_id")).alias("src"),
            F.coalesce(F.col("other_lbl"), F.col("other_id")).alias("dst"),
        )
    )
    remap = connected_components(lbl_edges, iterations=iterations).select(
        F.col("v").alias("__lbl"), F.col("component").alias("__new_lbl")
    )
    corpus_part = (
        state.select("doc_id", "cluster_id")
        .join(remap, state.cluster_id == F.col("__lbl"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__new_lbl"), F.col("cluster_id")).alias(
                "cluster_id"
            ),
        )
    )
    new_part = (
        new_ids.select("doc_id")
        .join(state.select("doc_id"), "doc_id", "left_anti")
        .join(remap, new_ids.doc_id == F.col("__lbl"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__new_lbl"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    return corpus_part.unionByName(new_part).withColumn(
        "is_canonical",
        (F.col("doc_id") == F.col("cluster_id")).cast("long"),
    )


#: minimum token length for typo-pair mining (short strings are all
#: within distance 1 of each other — pure noise)
TYPO_MIN_LEN = 4


def token_typo_pairs(
    documents: DataFrame, min_len: int = TYPO_MIN_LEN
) -> DataFrame:
    """(tok_a, tok_b) — distinct vocabulary token pairs at Levenshtein
    distance EXACTLY 1 (tok_a < tok_b): the typo/variant-mining
    primitive behind fuzzy dedup and query normalization.

    Scale shape (FastSS deletion neighborhoods): every distance-1 pair
    — substitution, insertion, or deletion — shares at least one
    single-character-deletion variant, so candidates come from an
    equi-join on the exploded variant strings (|tok|+1 rows per
    vocabulary token, shuffle keyed on short strings), then the exact
    ``levenshtein`` check filters. The quadratic all-pairs comparison
    never happens; the oracle states it directly (affordable on the
    oracle's vocabulary)."""
    vocab = (
        tokens(documents)
        .select("tok")
        .where(F.length("tok") >= min_len)
        .distinct()
    )
    variants = vocab.select(
        "tok",
        F.explode(
            F.expr(
                "array_union(array(tok), transform(sequence(1, length(tok)),"
                " i -> concat(substring(tok, 1, i - 1),"
                " substring(tok, i + 1, length(tok) - i))))"
            )
        ).alias("v"),
    )
    a = variants.select(F.col("tok").alias("tok_a"), "v")
    b = variants.select(F.col("tok").alias("tok_b"), "v")
    return (
        a.join(b, "v")
        .where(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b")
        .distinct()
        .where(F.levenshtein("tok_a", "tok_b") == 1)
    )


def typo_pairs_oracle_sql(toks_sql: str, min_len: int = TYPO_MIN_LEN) -> str:
    """DuckDB twin of ``token_typo_pairs`` — the direct quadratic
    formulation over the (small) vocabulary."""
    return f"""
        WITH toks AS ({toks_sql}),
        vocab AS (SELECT DISTINCT tok FROM toks
                  WHERE length(tok) >= {min_len})
        SELECT a.tok AS tok_a, b.tok AS tok_b
        FROM vocab a JOIN vocab b ON a.tok < b.tok
        WHERE levenshtein(a.tok, b.tok) = 1
    """
