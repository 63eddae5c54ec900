"""Distributed BPE tokenizer training — the tokenizer-fitting step of
an LLM data pipeline, re-expressed Spark-first.

The reference corpus for this engine (SURVEY.md §2) has no tokenizer
tier; this extends the text family the same way the trained-IVF tier
extends similarity: an ORACLE-EXACT, deterministic, eager trainer whose
output is a small constant (the merge table) every consumer embeds.

Shape — the trainer never iterates over raw documents. Like every
production BPE trainer (subword-nmt, HuggingFace, SentencePiece), it
first collapses the corpus to the WORD FREQUENCY table (one
``groupBy(word)`` — vocabulary-sized, orders of magnitude smaller than
the corpus) and runs every merge round against that: pair counts are a
``posexplode`` of each distinct word's adjacent symbol pairs WEIGHTED
by the word's corpus count, the argmax is a 1-row aggregate, and the
merge applies to the word table as a row-local sequential fold
(``F.aggregate`` — greedy left-to-right, the standard BPE application
order). Per round: one vocabulary-scan aggregate + one vocabulary-scan
rewrite, both partial-aggregated map-side; the corpus is touched
exactly once, ever. The per-round word table is persisted and the
previous one released only after materialization (the
materialize-before-release rule the k-means trainer established —
without it every round re-folds the whole merge history from the raw
words).

Determinism: ties on pair count break lexicographically on (left,
right) ascending — no RNG, no partition-order dependence (counts are
exact integer sums), so the merge table is bit-identical on any
cluster size and against the pure-Python reference implementation in
the tests.

Scale: vocabulary at 100 TB is tens of millions of distinct words —
the word table shuffles once at build. From there the merge loop has
TWO arms behind a size gate (``LOCAL_MAX_WORDS``): the default
production path collects the vocabulary-sized table to the driver once
and runs every merge round in-process with incrementally-maintained
pair counts (the subword-nmt/HF shape — a 50k vocab is a driver loop,
not 50k sequential Spark jobs); the over-threshold fallback runs each
round as a vocab-scan aggregate + vocab-scan rewrite, both
partial-aggregated map-side, with materialize-before-release
persistence. Both arms are bit-identical by construction and pinned so
in tests. The corpus is touched exactly once, ever, on either arm; the
trained artifact is k rows the consumers embed as literals, never a
lineage."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: merge rounds for the registered queries — small enough that the
#: pytest reference unrolls instantly, large enough to exercise
#: merged-symbol-recombines-with-neighbor rounds
BPE_MERGES = 8

#: row-count gate of the driver-local merge loop: when the word-frequency
#: table (vocabulary-sized, NOT corpus-sized) has at most this many
#: rows, the trainer collects it once and runs every merge round
#: in-process (the subword-nmt shape) instead of one Spark job per
#: merge. The gate is a ROW count, not a plan estimate: the table is
#: already persisted and counted at this point, so the number is exact,
#: whereas Catalyst's post-aggregation sizeInBytes is only an upper
#: bound (``plans.strategy.plan_size_estimate``). 5M rows ≈ a few
#: hundred MB of driver heap — comfortable on any driver that can also
#: hold the heap/index structures, and far above real tokenizer-training
#: vocabularies (subword-nmt corpora collapse to low millions of
#: distinct words).
LOCAL_MAX_WORDS = 5_000_000

#: merge-count gate of the ENCODING arm (round 8, r7 verdict item 2 — the
#: same two-arm shape the trainer got): ``bpe_encode`` nests one HOF
#: fold per merge, so plan depth grows linearly with the merge count
#: and analysis/codegen time with it; above this many merges the call
#: routes to the Arrow-batched ``bpe_encode_pandas`` (plan depth 1,
#: identical greedy semantics — equivalence pinned across the
#: threshold in tests/test_bpe.py). The default is MEASURED, not
#: guessed (scripts/bpe_encode_gate_probe.py, sf0.01 documents, warm):
#: the SQL arm's per-row nested-fold cost grows ~linearly at
#: ~0.25 s/merge on this corpus (1 merge 0.91 s, 8 → 2.27 s, 64 →
#: 15.9 s, 256 → 59.7 s, 512 → 127 s) while the Arrow arm stays ~flat
#: — 0.36 s at 64 merges, 0.78 s at 512 with the per-task word memo —
#: so the crossover is already at 2–4 merges; the SQL arm earns its
#: keep only for trivial merge lists, where staying inside one
#: codegen'd JVM plan (no Python workers, no Arrow hop) still wins. A
#: real tokenizer's 30k-merge vocabulary MUST take the pandas arm.
SQL_MAX_MERGES = 4

#: end-of-word sentinel appended to every word's symbol sequence — the
#: classic BPE boundary marker: merges that absorb it produce
#: whole-word/suffix tokens and word boundaries survive decoding.
#: Chosen outside the testdata alphabet (plain lowercase words).
EOW = "</w>"


def word_symbol_table(documents: DataFrame) -> DataFrame:
    """(word, cnt, syms) — the word-frequency table with each distinct
    word exploded into its initial symbol sequence (characters + the
    end-of-word sentinel). One corpus pass; everything downstream is
    vocabulary-sized."""
    return (
        documents.select(
            F.explode(F.split("text", " ")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "word",
            "cnt",
            F.expr(
                "concat(filter(split(word, ''), x -> x <> ''),"
                f" array('{EOW}'))"
            ).alias("syms"),
        )
    )


def pair_counts(wtab: DataFrame) -> DataFrame:
    """(left, right, n) — corpus-weighted adjacent-symbol pair counts
    over the word table. ``n`` sums each word's occurrence count once
    per occurrence of the pair INSIDE the word (aab → (a,a) once and
    (a,b) once; aaa → (a,a) twice), matching the reference
    subword-nmt counting."""
    return (
        wtab.select(
            "cnt",
            # guard: Spark's sequence(1, 0) counts DOWN, so a
            # single-symbol word must emit an empty pair array
            F.explode(
                F.expr(
                    "if(size(syms) < 2, array(),"
                    " transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS left,"
                    " element_at(syms, i + 1) AS right)))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("n"))
    )


def _apply_merge_col(a: str, b: str):
    """Column rewriting ``syms`` with every adjacent (a, b) merged
    greedily left-to-right — the standard BPE application order: a
    sequential fold whose accumulator is the rewritten prefix, so an
    occurrence consumed by a merge cannot also start the next one
    (aaa under (a,a) → [aa, a]), while a merged symbol CAN combine
    with a later literal (the next round sees it). Built with the
    Python ``F.aggregate`` HOF so the symbols pass as proper literals
    (no SQL-string escaping of corpus-controlled text)."""
    merged = a + b
    return F.aggregate(
        "syms",
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _train_merges_local(
    word_cnts: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """In-process merge loop over the COLLECTED word-frequency table —
    the subword-nmt/HuggingFace trainer shape: the corpus was already
    collapsed to (word, cnt) by one distributed groupBy, and from here
    every merge round is driver-local, so a production 32k–50k-merge
    vocabulary costs zero Spark jobs instead of one sequential job (and
    driver round-trip) per merge.

    Exactly the distributed loop's semantics, maintained incrementally:

    * pair counts are exact integer sums weighted by word count, kept
      in a dict that is updated by fully re-counting each TOUCHED word
      (subtract its old adjacent pairs, greedy-rewrite, add the new
      ones) — identical by construction to the distributed arm's
      per-round recount, bit-equivalence pinned in tests/test_bpe.py;
    * the per-round argmax is a lazy max-heap keyed ``(-n, left,
      right)`` — Python tuple order gives max count then lexicographic
      (left, right) ascending, the same tie-break as the distributed
      ``orderBy``; entries are re-pushed when a touched pair's count
      changes and validated against the live dict on pop, so stale
      entries are skipped, never selected;
    * an inverted index pair → {word idx} bounds each round's rewrite
      work to the words actually containing the chosen pair (the
      distributed arm rescans the whole vocabulary every round).
    """
    import heapq
    from collections import defaultdict

    syms: list[list[str]] = [list(w) + [EOW] for w, _ in word_cnts]
    cnts = [c for _, c in word_cnts]
    pc: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, s in enumerate(syms):
        c = cnts[wi]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pc[p] += c
            where[p].add(wi)
    heap = [(-n, a, b) for (a, b), n in pc.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges and heap:
        nn, a, b = heapq.heappop(heap)
        n = -nn
        if pc.get((a, b), 0) != n:
            continue  # stale heap entry — the live count moved on
        merges.append((len(merges), a, b, n))
        merged = a + b
        touched: set[tuple[str, str]] = set()
        for wi in list(where[(a, b)]):
            s, c = syms[wi], cnts[wi]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] -= c
                if pc[p] <= 0:
                    del pc[p]
                where[p].discard(wi)
                touched.add(p)
            out: list[str] = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = merged
                else:
                    out.append(x)
            syms[wi] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pc[p] += c
                where[p].add(wi)
                touched.add(p)
        for p in touched:
            n2 = pc.get(p, 0)
            if n2 > 0:
                heapq.heappush(heap, (-n2, p[0], p[1]))
    return merges


def train_bpe_merges(
    documents: DataFrame,
    n_merges: int = BPE_MERGES,
    mode: str = "auto",
) -> list[tuple[int, str, str, int]]:
    """The trained merge table — ``[(rank, left, right, n), ...]`` in
    merge order, each row the pair chosen at that round and its count
    at selection time. Deterministic (exact integer counts,
    lexicographic tie-break), so bit-identical on any partitioning AND
    across both execution arms. Stops early if no pair remains (all
    words collapsed to single symbols).

    Two arms behind a size gate (``mode="auto"``):

    * **local** — when the word-frequency table fits
      ``LOCAL_MAX_WORDS`` rows (exact count, the table is
      persisted anyway), collect it ONCE and run the merge rounds
      in-process (``_train_merges_local``). This is what every
      production trainer does: the table is vocabulary-sized, so a 50k
      vocab costs one distributed groupBy + a driver loop, not ~50k
      sequential Spark jobs (~0.8 s of round-trip latency each —
      ~11 h of pure scheduling at ANY corpus size).
    * **distributed** — the over-threshold fallback: each round
      collects one argmax row and materializes the next word table,
      releasing the previous round's table only after the new one is
      materialized (the materialize-before-release rule the k-means
      trainer established). The greedy-fold REWRITE runs only on words
      actually containing the chosen pair adjacently (round 8, r7
      verdict item 6): a cheap adjacency guard wraps the fold in a
      per-row ``when``, so untouched words copy through unrewritten
      and per-round rewrite cost tracks touched words like the local
      arm's inverted index — on real vocabularies most words don't
      contain most pairs. (A filter+union split was measured SLOWER
      than the full rewrite — doubled scans and stages; the per-row
      guard is the right shape. scripts/bpe_distributed_touched_probe.)

    ``mode="local"``/``"distributed"`` force an arm (equivalence
    tests); ``"auto"`` takes the gate."""
    from pyspark.storagelevel import StorageLevel

    if mode not in ("auto", "local", "distributed"):
        raise ValueError(f"unknown BPE trainer mode: {mode!r}")

    wtab = word_symbol_table(documents).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_words = wtab.count()
    if mode == "local" or (mode == "auto" and n_words <= LOCAL_MAX_WORDS):
        try:
            rows = wtab.select("word", "cnt").collect()
        finally:
            wtab.unpersist()
        return _train_merges_local(
            [(r["word"], int(r["cnt"])) for r in rows], n_merges
        )
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(n_merges):
            best = (
                pair_counts(wtab)
                .orderBy(
                    F.col("n").desc(),
                    F.col("left").asc(),
                    F.col("right").asc(),
                )
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, n = best[0]["left"], best[0]["right"], int(best[0]["n"])
            merges.append((rank, a, b, n))
            # touched-word gate (round 8): a word is TOUCHED iff (a, b)
            # appear adjacent in syms — the cheap O(len) scan guards the
            # expensive greedy rewrite fold, which Catalyst's If
            # evaluates per row only when the guard is true, so
            # per-round rewrite cost tracks touched words (a
            # filter+union split was measured SLOWER — it doubles the
            # scan and the stage count; scripts/
            # bpe_distributed_touched_probe.py). Built with HOF lambdas
            # so the symbols pass as literals, never SQL-string
            # interpolation of corpus-controlled text.
            touched = F.array_contains(
                F.zip_with(
                    F.expr("slice(syms, 1, size(syms) - 1)"),
                    F.expr("slice(syms, 2, size(syms) - 1)"),
                    lambda x, y: (x == F.lit(a)) & (y == F.lit(b)),
                ),
                F.lit(True),
            )
            nxt = wtab.select(
                "word",
                "cnt",
                F.when(touched, _apply_merge_col(a, b))
                .otherwise(F.col("syms"))
                .alias("syms"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            nxt.count()  # materialize BEFORE releasing the parent
            wtab.unpersist()
            wtab = nxt
    finally:
        wtab.unpersist()
    return merges


def merge_table_df(spark, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """The trained merge table as a lineage-free local relation
    (rank, left, right, merged, n) — the consumable artifact, exactly
    like ``codebook_df`` for the IVF tier."""
    return spark.createDataFrame(
        [(r, a, b, a + b, n) for r, a, b, n in merges],
        "rank long, left string, right string, merged string, n long",
    )


def bpe_encode(
    documents: DataFrame, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """(doc_id, n_tokens, tokens) — every document encoded with the
    trained merges: split to words, each word to symbols + sentinel,
    then the merge folds applied IN RANK ORDER (one nested HOF per
    merge, all inside a single projection — plan depth grows with the
    merge count). Token counts against ``text_stats``' whitespace
    counts measure tokenizer fertility.

    Auto-gated (round 8): above ``SQL_MAX_MERGES`` merges (4 — the
    measured crossover, see the constant's note) the
    call routes to ``bpe_encode_pandas``, whose cost is ~flat in
    vocabulary size; at or below it the nested folds stay entirely
    inside one codegen'd JVM plan and beat the Arrow hop. Both arms
    are greedy-identical by construction and pinned equivalent across
    the threshold."""
    if len(merges) > SQL_MAX_MERGES:
        return bpe_encode_pandas(documents, merges)
    out = documents.select(
        "doc_id",
        F.expr(
            "transform(filter(split(text, ' '), w -> w <> ''),"
            " w -> concat(filter(split(w, ''), x -> x <> ''),"
            f" array('{EOW}')))"
        ).alias("__words"),
    )
    def _word_merge_fn(a: str, b: str, merged: str):
        # closure factory: PySpark introspects HOF lambda arity, so
        # captured values must not appear as default parameters
        def fn(syms):
            return F.aggregate(
                syms,
                F.expr("cast(array() as array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )

        return fn

    for _, a, b, _n in merges:
        out = out.select(
            "doc_id",
            F.transform("__words", _word_merge_fn(a, b, a + b)).alias(
                "__words"
            ),
        )
    return out.select(
        "doc_id",
        F.expr("flatten(__words)").alias("tokens"),
    ).select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        "tokens",
    )


def save_merges(
    spark, merges: list[tuple[int, str, str, int]], path: str
) -> None:
    """Persist a trained merge table as one-file parquet — the
    cross-session publication contract shared with ``save_codebook``:
    train once per corpus snapshot, publish next to the manifest,
    encode everywhere."""
    merge_table_df(spark, merges).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_merges(spark, path: str) -> list[tuple[int, str, str, int]]:
    """Load a ``save_merges`` table back into the plain rank-ordered
    list the trainer produces (strings round-trip parquet exactly, so
    a saved/loaded table encodes identically)."""
    return [
        (int(r["rank"]), r["left"], r["right"], int(r["n"]))
        for r in sorted(
            spark.read.parquet(path).collect(),
            key=lambda r: int(r["rank"]),
        )
    ]


def bpe_encode_pandas(
    documents: DataFrame, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """The large-vocabulary encoding arm: same (doc_id, n_tokens,
    tokens) contract as ``bpe_encode``, but the merge loop runs in an
    Arrow-batched ``mapInPandas`` — one Python pass per DOCUMENT
    instead of one plan operator per MERGE, so a 30k-merge production
    vocabulary costs plan-depth 1 (the SQL arm's nested folds grow
    linearly and are the right choice only for small merge lists).
    Greedy semantics identical by construction; equivalence against
    the SQL arm is pinned in tests. Self-contained closure (worker
    pickling).

    Per-word cost (round 9, r8 verdict item 2): the encode is
    PAIR-DRIVEN — a heap of the pairs actually PRESENT in the word,
    keyed (rank, position), merging the lowest-rank leftmost
    occurrence over a linked list of symbols and pushing only the two
    neighbor pairs each merge forms. ~O(len·log len) per distinct
    word, independent of vocabulary size — the previous full-table
    sweep paid O(merges × len) per distinct word (~30k sweeps/word at
    a production vocabulary). Still bit-equivalent to applying the
    table in rank order, each greedily left-to-right (the SQL arm):
    the trainer builds every merge's operands from characters and
    earlier merges only, so applying rank r can only form pairs of
    rank > r and the heap pops ranks in the sweep's order, with
    leftmost-first within a rank being exactly the greedy fold. The
    one escape hatch is symbol-STRING collision (two merges whose
    concatenations are the same string can, in principle, re-form an
    already-passed rank's pair); a rank-frontier guard skips those,
    which is precisely what the sweep — already past that rank —
    does."""
    import heapq

    rank_of = {(a, b): i for i, (_, a, b, _n) in enumerate(merges)}
    eow = EOW

    def encode_word(
        word: str,
        _heappush=heapq.heappush,
        _heappop=heapq.heappop,
        _heapify=heapq.heapify,
    ) -> list[str]:
        syms = [c for c in word] + [eow]
        n = len(syms)
        if n < 2:
            return syms
        nxt = list(range(1, n)) + [-1]
        prv = [-1] + list(range(n - 1))
        alive = [True] * n
        heap = [
            (r, i)
            for i in range(n - 1)
            if (r := rank_of.get((syms[i], syms[i + 1]))) is not None
        ]
        _heapify(heap)
        frontier = 0  # highest rank applied so far (sweep position)
        while heap:
            r, i = _heappop(heap)
            if not alive[i]:
                continue
            j = nxt[i]
            if j == -1 or rank_of.get((syms[i], syms[j])) != r:
                # stale: the pair at i changed since this entry was
                # pushed; its CURRENT pair, if mergeable, was pushed
                # at formation time, so dropping loses nothing
                continue
            if r < frontier:
                continue  # string-collision re-formed an already-
                # passed rank's pair — the rank-order sweep is past it
            frontier = r
            syms[i] = syms[i] + syms[j]
            alive[j] = False
            nxt[i] = nxt[j]
            if nxt[i] != -1:
                prv[nxt[i]] = i
            p, q = prv[i], nxt[i]
            if p != -1:
                rp = rank_of.get((syms[p], syms[i]))
                if rp is not None:
                    _heappush(heap, (rp, p))
            if q != -1:
                rq = rank_of.get((syms[i], syms[q]))
                if rq is not None:
                    _heappush(heap, (rq, i))
        return [s for s, a in zip(syms, alive) if a]

    def run(batches):
        import pandas as pd

        # per-task word memo (round 8): encode_word is pure and real
        # corpora repeat words heavily (Zipf), so each distinct word
        # pays the merge loop once per task instead of once per
        # occurrence. Memory is bounded by the task's DISTINCT words —
        # the same vocabulary scale the local trainer collects whole —
        # and the memo dies with the task.
        memo: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            out = memo.get(w)
            if out is None:
                out = encode_word(w)
                memo[w] = out
            return out

        for pdf in batches:
            toks = [
                [t for w in text.split(" ") if w != "" for t in enc(w)]
                for text in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": [len(t) for t in toks],
                    "tokens": toks,
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        run, "doc_id long, n_tokens long, tokens array<string>"
    )


def word_symbols_oracle_sql(
    src_sql: str = "SELECT * FROM documents",
) -> str:
    """DuckDB twin of ``word_symbol_table`` (symbols joined to one
    string — array hashing differs between engines; the JOINED form is
    the comparable value)."""
    return f"""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                   FROM ({src_sql})),
        t AS (SELECT word, COUNT(*) AS cnt FROM w
              WHERE word <> '' GROUP BY word)
        SELECT word, CAST(cnt AS BIGINT) AS cnt,
               concat(array_to_string(
                   list_filter(string_split(word, ''), x -> x <> ''),
                   ' '), ' {EOW}') AS syms_str
        FROM t
    """


def pair_counts_oracle_sql(
    src_sql: str = "SELECT * FROM documents",
) -> str:
    """DuckDB twin of the FIRST-round ``pair_counts`` (over initial
    character symbols — later rounds depend on trained merges, which
    the pytest reference covers)."""
    return f"""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                   FROM ({src_sql})),
        t AS (SELECT word, COUNT(*) AS cnt FROM w
              WHERE word <> '' GROUP BY word),
        s AS (SELECT cnt,
                     list_append(list_filter(string_split(word, ''),
                                             x -> x <> ''),
                                 '{EOW}') AS syms
              FROM t),
        p AS (SELECT cnt,
                     unnest(range(1, len(syms))) AS i, syms
              FROM s)
        SELECT syms[i] AS left, syms[i + 1] AS right,
               CAST(SUM(cnt) AS BIGINT) AS n
        FROM p GROUP BY syms[i], syms[i + 1]
    """
