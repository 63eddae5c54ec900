"""Passage-level (substring) deduplication — the duplicate class that
document-granular MinHash cannot catch by construction: a boilerplate
paragraph repeated across otherwise-unique documents (cookie banners,
license headers, navigation chrome). Doc-level near-dup keeps both
documents; THIS operator excises the repeated span and keeps the unique
prose of each.

Semantics (the keep-first-occurrence policy of substring dedup, cf. the
"deduplicating training data" line of work): every ``window``-token
sliding window is fingerprinted; a window occurrence is CUT when an
identical window occurs anywhere else in the corpus at a smaller
(doc_id, start) — the single earliest occurrence survives as canonical.
Overlapping/adjacent cut windows merge into maximal spans per document,
and the applier removes those token ranges, reassembling the text.

Scale design — never doc×doc, never corpus-in-one-task:
- fingerprints are md5 of the window text (128-bit: a 100 TB corpus has
  ~1e13 windows, far below the birthday bound; a 60-bit prefix would
  already collide at ~1e9 and silently cut unique text);
- duplicate detection is ONE partial-agg groupBy keyed on the window
  hash (count + lexicographic-min canonical in the same aggregate),
  then an equi-join of occurrences back on the hash — shuffle keyed on
  hashes; mega-duplicated boilerplate keys are bounded by construction
  (key-unique build side: no join amplification; identical hot rows
  compress ~perfectly) plus an explicit skew-splittable exchange on
  the non-broadcast arm (see ``_noncanonical_cut_windows`` — measured,
  not assumed: BASELINE.md round 5);
- span merging windows per doc_id over that doc's CUT SPANS only
  (bounded by the doc's token count, not the corpus);
- the applier is a doc_id equi-join of the (collision-survivors-only)
  span relation plus a pure higher-order-function row expression — the
  corpus text itself is never exploded into per-token rows.

Portability contract: window fingerprints are the 16-byte BINARY md5
digest (``unhex`` of the hex digest — half the shuffled key bytes; the
DuckDB oracles keep the hex form because the fingerprint NEVER appears
in any compared output), spans are 1-based inclusive token indices
(integer-exact), so cut lists hash-match the oracle and the rewritten
text md5-matches it. Pre-round-4 indexes that materialized hex-string
fingerprints are auto-converted on read (``incremental_passage_cuts``).

Reference analogy: generalizes ``doc_rolling_hash``'s whole-document
fold (text.py) to per-window rows, using the same slice/array_join
machinery as ``corpus.chunk_documents`` and ``dedup.shingles``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.strategy import spread_small_input

#: sliding-window width in whitespace tokens. Real substring-dedup
#: pipelines use ~50-token thresholds; the testdata documents are short
#: synthetic prose (sf0.1: 10–100 tokens, mean 54), so the shipped
#: default keeps the operator exercised there. The knob changes cost
#: only linearly (windows stay one row per stride position regardless
#: of width; on long-doc corpora the windows relation is ~corpus tokens
#: for ANY width — see the W-cost curve in BASELINE.md, round 5).
PASSAGE_WINDOW = 8
#: env override for the REGISTERED doc_passage_cuts width (round-5
#: verdict item 6). An env var rather than a Spark conf deliberately:
#: the driver builds the Spark query and the DuckDB oracle SQL in
#: different sessions, and BOTH must see the same width — fingerprints
#: of different widths never match, so a one-sided override would not
#: fail loudly, it would silently diverge the comparison.
PASSAGE_WINDOW_ENV = "SPARK_GRAFT_PASSAGE_WINDOW"


def configured_window() -> int:
    """The registered-query window width: ``PASSAGE_WINDOW`` unless
    ``SPARK_GRAFT_PASSAGE_WINDOW`` overrides it (read at query/oracle
    BUILD time by both sides — see ``PASSAGE_WINDOW_ENV``)."""
    import os

    return int(os.environ.get(PASSAGE_WINDOW_ENV, PASSAGE_WINDOW))
#: stride between window starts. 1 = exact detection of every duplicated
#: ``window``-token substring; k>1 trades recall (duplicates shifted by
#: <k tokens can slip through) for a k× smaller fingerprint relation.
PASSAGE_STRIDE = 1

#: packed-canonical encoding (optimization round 13): the dup-keys
#: aggregate's canonical occurrence is carried as ONE BIGINT
#: ``doc_id · 2^24 + start`` instead of a (doc_id, start) struct —
#: numeric order == lexicographic order for non-negative doc_ids, the
#: fixed-width long keeps the aggregation in HashAggregate (a struct
#: min-buffer forces SortAggregate: both agg passes then SORT the
#: corpus-window relation by the 16-byte hash) and sheds the struct's
#: serialization overhead from the operator's dominant exchange
#: (measured at sf0.1: 8.57 → 7.27 MB/run, wall −15%). Bounds, guarded
#: crash-not-corrupt by ``_packed_occurrence``: 0 ≤ doc_id < 2^39
#: (5.5e11 documents) and start < 2^24 (16.7M tokens ≈ 100 MB of text
#: in ONE document); max packed value is exactly 2^63 − 1. Corpora that
#: genuinely exceed either bound set the conf to ``struct`` to restore
#: the unbounded struct arm (value-identical — parity-pinned).
PASSAGE_PACK_START_BITS = 24
PACKED_CANON_CONF = "spark.graft.passages.packedCanon"


def passage_windows(
    documents: DataFrame,
    window: int = PASSAGE_WINDOW,
    stride: int = PASSAGE_STRIDE,
    spread: bool = True,
) -> DataFrame:
    """(doc_id, start, wh) — one row per sliding window position:
    ``start`` the 1-based token index, ``wh`` the md5 of the
    space-joined ``window``-token slice as 16-byte BINARY (``unhex`` of
    the hex digest — half the shuffled key bytes of the hex string; the
    fingerprint relation is the corpus-token-sized one, so its row
    width is the dominant shuffle cost of the whole operator family).
    Docs shorter than ``window`` tokens produce no rows (nothing to
    deduplicate at this granularity).

    The windowing is a single ``transform(sequence(...))`` + explode —
    whole-stage-codegen expressions, no Python. Input is pre-spread
    (``plans.strategy.spread_small_input``) because the per-row cost is
    ~n_tokens md5 digests — the same CPU-heavy-derivation shape as the
    shingle pipeline. ``spread=False`` skips it for relations known
    tiny by contract (an eval set — optimization round 12)."""
    src = spread_small_input(documents) if spread else documents
    ws = (
        src
        .select("doc_id", F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= window)
    )
    return ws.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ws) - {window} + 1, {stride}),"
                f" s -> struct(s AS start,"
                f" unhex(md5(array_join(slice(ws, s, {window}), ' '))) AS wh))"
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.start").alias("start"), F.col("w.wh").alias("wh"))


def passage_cut_spans(
    documents: DataFrame,
    window: int = PASSAGE_WINDOW,
    stride: int = PASSAGE_STRIDE,
) -> DataFrame:
    """(doc_id, span_start, span_end) — the cut list: maximal merged
    1-based inclusive token spans covering every NON-CANONICAL occurrence
    of a duplicated window. The canonical (lexicographically smallest
    (doc_id, start)) occurrence of each window is never cut, so the
    content always survives somewhere.

    Shape: one groupBy(wh) computes count and the canonical occurrence
    together (both partial-agg combinable — ``min`` over a
    (doc_id, start) struct is the lexicographic arg-min); occurrences
    join back on wh (collision survivors only); island-merge per doc via
    a doc-partitioned window over cut spans (overlapping OR adjacent
    spans coalesce — removing both equals removing the union)."""
    wins = passage_windows(documents, window=window, stride=stride)
    return _merge_spans(_noncanonical_cut_windows(wins, window))


def _noncanonical_cut_windows(wins: DataFrame, window: int) -> DataFrame:
    """(doc_id, s, e) cut windows for every NON-CANONICAL occurrence of
    a duplicated fingerprint in ``wins`` — the keep-first core shared by
    the batch cut list and the incremental screen's batch-internal
    branch: one partial-agg-combinable groupBy(wh) for count +
    lexicographic-min canonical, occurrences joined back on the hash.

    Skew contract (round-5 verdict item 3, measured — see BASELINE.md):
    a mega-duplicated boilerplate window puts every one of its
    occurrences into ONE partition of the join-back's wins-side
    shuffle. Three things bound that task: the build side is KEY-UNIQUE
    (one canonical row per hash) so the join never amplifies output;
    the hot rows are identical 40-byte records that compress to almost
    nothing (measured: 17× record skew → ~4× bytes → <2× task
    runtime); and on the non-broadcast arm the build side gets an
    explicit round-robin exchange below — WITHOUT it, AQE's
    OptimizeSkewedJoin can never split the hot partition, because the
    rule only matches joins whose children are both bare
    EnsureRequirements shuffle stages, and the agg-aligned build
    pipeline (and even a REPARTITION_BY_COL exchange) fails that
    pattern. The extra exchange moves only the collision-keys relation
    (a small fraction of wins); ``spark.graft.passages.dupKeysStrategy``
    overrides the arm choice.

    Canonical encoding (round 13): the aggregate's canonical travels as
    the packed BIGINT of ``_packed_occurrence`` (HashAggregate instead
    of two corpus-window SORTs, a narrower exchange row — see
    ``PACKED_CANON_CONF`` for the bounds/escape hatch), and the probe
    side compares its own packed occurrence against it — identical
    non-canonical set (packing is strictly monotone in (doc_id, start)
    within the guarded bounds)."""
    from ..plans.strategy import build_side_mode

    packed = str(
        _conf_of(wins, PACKED_CANON_CONF, "packed") or "packed"
    ).lower() != "struct"
    if packed:
        dup_keys = (
            wins.groupBy("wh")
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.min(_packed_occurrence()).alias("__canon_p"),
            )
            .where(F.col("__cnt") > 1)
            .select("wh", "__canon_p")
        )
    else:
        dup_keys = (
            wins.groupBy("wh")
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.min(F.struct("doc_id", "start")).alias("__canon"),
            )
            .where(F.col("__cnt") > 1)
            .select("wh", "__canon")
        )
    mode = build_side_mode(
        dup_keys, conf_key="spark.graft.passages.dupKeysStrategy"
    )
    if mode == "broadcast":
        dup_keys = F.broadcast(dup_keys)
    elif mode == "shuffle_hash":
        try:
            n = int(
                dup_keys.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions", "200"
                )
                or "200"
            )
        except Exception:
            n = 200
        dup_keys = dup_keys.repartition(n)
    joined = wins.join(dup_keys, "wh")
    noncanon = (
        joined.where(_packed_occurrence() != F.col("__canon_p"))
        if packed
        else joined.where(
            ~(
                (F.col("doc_id") == F.col("__canon.doc_id"))
                & (F.col("start") == F.col("__canon.start"))
            )
        )
    )
    return noncanon.select(
        "doc_id",
        F.col("start").alias("s"),
        (F.col("start") + F.lit(window - 1)).alias("e"),
    )


def _conf_of(df: DataFrame, key: str, default: str | None) -> str | None:
    try:
        return df.sparkSession.conf.get(key, default)
    except Exception:
        return default


def _packed_occurrence():
    """(doc_id, start) packed into one BIGINT — ``doc_id · 2^24 + start``
    with a crash-not-corrupt bound guard (see ``PACKED_CANON_CONF``):
    numeric min == lexicographic (doc_id, start) min inside the bounds,
    and a corpus outside them fails LOUDLY instead of electing a wrong
    canonical (a silent wrong canonical would cut the wrong occurrence
    — the FAILFAST-reader stance applied to an encoding bound)."""
    place = 1 << PASSAGE_PACK_START_BITS
    return F.expr(
        f"CASE WHEN doc_id >= 0 AND doc_id < {1 << (63 - PASSAGE_PACK_START_BITS)}"
        f" AND start >= 0 AND start < {place}"
        f" THEN doc_id * {place} + start"
        f" ELSE CAST(raise_error(concat('passages: packed-canonical bounds"
        f" exceeded (doc_id ', CAST(doc_id AS STRING), ', start ',"
        f" CAST(start AS STRING), ') — set {PACKED_CANON_CONF}=struct'))"
        f" AS BIGINT) END"
    )


def _merge_spans(cuts: DataFrame) -> DataFrame:
    """Island-merge (doc_id, s, e) cut windows into maximal
    (doc_id, span_start, span_end) spans — overlapping OR adjacent
    coalesce. Windows per doc only over that doc's cut spans."""
    w_ord = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = cuts.withColumn(
        "__ni",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e + 1), 1
        ).otherwise(0),
    )
    isl = flagged.withColumn(
        "__isl",
        F.sum("__ni").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "__isl")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def decontaminate_passage_cuts(
    documents: DataFrame,
    eval_docs: DataFrame,
    window: int = PASSAGE_WINDOW,
    stride: int = PASSAGE_STRIDE,
) -> DataFrame:
    """(doc_id, span_start, span_end) — PASSAGE-LEVEL decontamination:
    cut spans covering EVERY training-window occurrence whose
    fingerprint appears anywhere in the eval set. Unlike
    ``corpus.decontaminate`` (which drops whole documents past an
    overlap threshold) this is the surgical variant — the contaminated
    span is excised and the rest of the document survives; and unlike
    the dedup cut lists there is NO canonical survivor: eval text must
    not remain anywhere in the training corpus.

    Scale shape: identical to ``incremental_passage_cuts`` with the
    eval set in the batch role — the (small, broadcast) eval
    fingerprint set probes the training windows via one LeftSemi whose
    build side is the eval hashes; the training corpus windows once
    (its own fingerprint derivation) and never joins eval text. Apply
    with ``apply_passage_cuts``."""
    tw = passage_windows(documents, window=window, stride=stride)
    ev = passage_windows(
        eval_docs, window=window, stride=stride, spread=False
    ).select("wh").distinct()
    cuts = (
        tw.join(F.broadcast(ev), "wh", "left_semi")
        .select(
            "doc_id",
            F.col("start").alias("s"),
            (F.col("start") + F.lit(window - 1)).alias("e"),
        )
    )
    return _merge_spans(cuts)


def incremental_passage_cuts(
    new_docs: DataFrame,
    corpus_windows: DataFrame,
    window: int = PASSAGE_WINDOW,
    stride: int = PASSAGE_STRIDE,
) -> DataFrame:
    """(doc_id, span_start, span_end) — cut lists for an INCOMING batch
    screened against the MATERIALIZED corpus window index
    (``passage_windows`` output, the same daily-ingest shape as
    ``dedup.incremental_dedup``'s band index): a batch window occurrence
    is cut when its fingerprint exists anywhere in the corpus (the
    corpus occurrence is canonical) or when it is a non-canonical
    occurrence within the batch itself.

    Per-batch cost is batch-sized: the batch computes only ITS OWN
    windows, and the index is probed in the ONLY direction Spark can
    keep shuffle-free — the batch's (small) fingerprint set REDUCES the
    index first (LeftSemi builds on the right side; the index streams
    through as a scan), and the surviving index hashes — at most
    |batch windows| — build back onto the batch windows. A semi/anti
    join with the index on the build side would instead hash-partition
    the whole corpus index per batch (LeftSemi/LeftAnti can only build
    right — review finding). Both batch-derived build sides are
    SIZE-GUARDED (round-5 ADVICE), not force-broadcast: a catch-up run
    feeding a corpus-scale "batch" degrades to a shuffled hash join
    instead of OOMing executors — the same
    ``plans.strategy.shuffle_hash_unless_broadcastable`` contract as
    every other build side in the repo.
    The corpus text is never re-fingerprinted and nothing corpus-sized
    shuffles. Contract for the next batch: append
    ``passage_windows(new_docs)`` to the index after ingest — built
    with the SAME ``window``/``stride`` as this screen: fingerprints of
    different window widths never match, so a mismatch silently screens
    nothing (a property-test run caught exactly this misuse).

    Parity (pinned by tests/test_passages.py): when every batch doc_id
    exceeds every corpus doc_id — the append-only ingest invariant —
    the result equals ``passage_cut_spans(corpus ∪ batch)`` restricted
    to batch docs (the lexicographic-min canonical is then always the
    corpus occurrence), which is exactly how its DuckDB oracle states
    it."""
    nw = passage_windows(new_docs, window=window, stride=stride)
    # legacy-index guard: an index materialized before the binary-
    # fingerprint switch carries hex STRING wh; a string-vs-binary join
    # would silently match NOTHING (review finding) — convert on read
    if dict(corpus_windows.dtypes).get("wh") == "string":
        corpus_windows = corpus_windows.withColumn(
            "wh", F.unhex(F.col("wh"))
        )
    from ..plans.strategy import build_side_mode

    batch_whs = nw.select("wh").distinct()
    # ONE size decision routes BOTH joins: idx_hits is a value-subset of
    # batch_whs by construction (the semi-join can only keep hashes the
    # batch presented), so "the batch's fingerprints fit the broadcast
    # threshold" bounds idx_hits too. Statistics come from new_docs (the
    # pre-explode relation — Catalyst cannot bound the window explode,
    # so batch_whs' own estimate is ~2^63 even for one doc) with an 8×
    # width factor: one window row is ≤ 40 B (16 B digest + two longs +
    # overhead) per ~6 B source token — ~5.3×, rounded up so the guard
    # errs toward the shuffle arm.
    mode = build_side_mode(batch_whs, stats_of=new_docs, scale=8.0)
    if mode in ("as_is", "broadcast"):
        batch_whs, hint = F.broadcast(batch_whs), F.broadcast
    else:
        batch_whs = batch_whs.hint("shuffle_hash")
        hint = lambda df: df.hint("shuffle_hash")  # noqa: E731
    idx_hits = (
        corpus_windows.select("wh")
        .join(batch_whs, "wh", "left_semi")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    marked = nw.join(hint(idx_hits), "wh", "left")
    corpus_hit = marked.where(F.col("__hit") == 1).select(
        "doc_id",
        F.col("start").alias("s"),
        (F.col("start") + F.lit(window - 1)).alias("e"),
    )
    batch_only = marked.where(F.col("__hit").isNull()).drop("__hit")
    batch_cut = _noncanonical_cut_windows(batch_only, window)
    return _merge_spans(corpus_hit.unionByName(batch_cut))


def dedup_passages(
    documents: DataFrame,
    window: int = PASSAGE_WINDOW,
    stride: int = PASSAGE_STRIDE,
) -> DataFrame:
    """(doc_id, text, n_spans_cut, n_tokens_cut) — the applier: documents
    with every cut span removed (tokens re-joined with single spaces).
    Documents with no cut spans pass through byte-identical with zero
    counters.

    The removal is one higher-order-function expression — an indexed
    ``filter`` over the token array testing span membership via
    ``exists`` against the doc's (small) merged-span array — so the
    corpus is never token-exploded; the only shuffles are the cut-list
    derivation and the doc_id equi-join of the span relation."""
    spans = passage_cut_spans(documents, window=window, stride=stride)
    return apply_passage_cuts(documents, spans)


def apply_passage_cuts(documents: DataFrame, spans: DataFrame) -> DataFrame:
    """The span applier split out of ``dedup_passages`` so incremental
    cut lists (``incremental_passage_cuts``) apply with the same
    machinery. ``spans`` is any (doc_id, span_start, span_end) relation
    with 1-based inclusive token indices."""
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans")
    )
    joined = documents.join(per_doc, "doc_id", "left")
    new_text = F.expr(
        "array_join(filter(split(text, ' '), (t, i) ->"
        " NOT exists(__spans, p -> i + 1 >= p.s AND i + 1 <= p.e)), ' ')"
    )
    n_cut = F.expr(
        "aggregate(__spans, 0L, (acc, p) -> acc + p.e - p.s + 1)"
    )
    return joined.select(
        "doc_id",
        F.when(F.col("__spans").isNull(), F.col("text"))
        .otherwise(new_text)
        .alias("text"),
        F.coalesce(F.size("__spans"), F.lit(0))
        .cast("long")
        .alias("n_spans_cut"),
        F.coalesce(n_cut, F.lit(0)).cast("long").alias("n_tokens_cut"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — identical window/canonical/merge algebra, stated with
# window functions (the single-node formulation). DuckDB list indices and
# the indexed-lambda parameter are 1-based; Spark's filter index is
# 0-based, hence the i+1 on the Spark side only.
# ---------------------------------------------------------------------------

def _windows_cte(
    window: int, stride: int, docs_sql: str, p: str = ""
) -> str:
    """The per-occurrence window-fingerprint CTEs over ``docs_sql``,
    name-prefixed with ``p`` so two corpora can be windowed in one
    statement. Final CTE: ``{p}wins(doc_id, s, wh)``."""
    return f"""
        {p}ws AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM ({docs_sql})),
        {p}starts AS (SELECT doc_id, ws,
                          unnest(range(1, len(ws) - {window} + 2, {stride}))
                              AS s
                   FROM {p}ws WHERE len(ws) >= {window}),
        {p}wins AS (SELECT doc_id, s,
                        md5(array_to_string(
                            list_slice(ws, s, s + {window} - 1), ' ')) AS wh
                 FROM {p}starts)
    """


#: the shared island-merge tail: consumes a ``cuts(doc_id, s, e)`` CTE
#: and defines ``spans(doc_id, span_start, span_end)`` — overlapping OR
#: adjacent cut windows coalesce, mirroring the Spark ``_merge_spans``
_MERGE_SPANS_SQL = """
        flagged AS (SELECT doc_id, s, e,
                           CASE WHEN max(e) OVER (
                                    PARTITION BY doc_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) IS NULL
                                 OR s > max(e) OVER (
                                    PARTITION BY doc_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) + 1
                                THEN 1 ELSE 0 END AS ni
                    FROM cuts),
        isl AS (SELECT doc_id, s, e,
                       SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                                     ROWS UNBOUNDED PRECEDING) AS isl
                FROM flagged),
        spans AS (SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
                  FROM isl GROUP BY doc_id, isl)
    """


def _cuts_cte(
    window: int, stride: int, docs_sql: str = "SELECT * FROM documents"
) -> str:
    return f"""
        {_windows_cte(window, stride, docs_sql)},
        dupw AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) > 1),
        ranked AS (SELECT w.doc_id, w.s,
                          row_number() OVER (PARTITION BY w.wh
                                             ORDER BY w.doc_id, w.s) AS rn
                   FROM wins w JOIN dupw USING (wh)),
        cuts AS (SELECT doc_id, s, s + {window} - 1 AS e
                 FROM ranked WHERE rn > 1),
        {_MERGE_SPANS_SQL}
    """


def passage_cuts_oracle_sql(
    window: int = PASSAGE_WINDOW,
    stride: int = PASSAGE_STRIDE,
    docs_sql: str = "SELECT * FROM documents",
) -> str:
    """DuckDB twin of ``passage_cut_spans`` — integer-exact."""
    return (
        "WITH "
        + _cuts_cte(window, stride, docs_sql)
        + "\nSELECT doc_id, span_start, span_end FROM spans"
    )


def decontam_passage_oracle_sql(
    train_sql: str,
    eval_sql: str,
    window: int = PASSAGE_WINDOW,
    stride: int = PASSAGE_STRIDE,
) -> str:
    """DuckDB twin of ``decontaminate_passage_cuts``."""
    return f"""
        WITH {_windows_cte(window, stride, train_sql)},
        {_windows_cte(window, stride, eval_sql, p="e")},
        evw AS (SELECT DISTINCT wh FROM ewins),
        cuts AS (SELECT t.doc_id, t.s, t.s + {window} - 1 AS e
                 FROM wins t JOIN evw USING (wh)),
        {_MERGE_SPANS_SQL}
        SELECT doc_id, span_start, span_end FROM spans
    """


def passage_dedup_oracle_sql(
    window: int = PASSAGE_WINDOW,
    stride: int = PASSAGE_STRIDE,
    docs_sql: str = "SELECT * FROM documents",
) -> str:
    """DuckDB twin of ``dedup_passages`` (full rewritten text)."""
    return (
        "WITH "
        + _cuts_cte(window, stride, docs_sql)
        + f"""
        , per_doc AS (SELECT doc_id,
                             list({{'s': span_start, 'e': span_end}}) AS sp,
                             COUNT(*) AS n_spans,
                             SUM(span_end - span_start + 1) AS n_toks
                      FROM spans GROUP BY doc_id)
        SELECT d.doc_id,
               -- COALESCE: DuckDB's array_to_string of an empty list is
               -- NULL where Spark's array_join is '' (fully-cut docs)
               CASE WHEN p.doc_id IS NULL THEN d.text
                    ELSE COALESCE(array_to_string(list_filter(
                         string_split(d.text, ' '),
                         (t, i) -> len(list_filter(p.sp,
                              q -> i >= q['s'] AND i <= q['e'])) = 0), ' '),
                         '')
               END AS text,
               CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans_cut,
               CAST(COALESCE(p.n_toks, 0) AS BIGINT) AS n_tokens_cut
        FROM ({docs_sql}) d LEFT JOIN per_doc p USING (doc_id)
    """
    )
