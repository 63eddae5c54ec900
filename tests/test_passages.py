"""Passage-level (substring) dedup goldens: a planted boilerplate
passage repeated across otherwise-unique documents is excised from every
non-canonical occurrence while unique text survives byte-identical —
the duplicate class doc-granular MinHash cannot catch (round-3 verdict,
top next item)."""

from __future__ import annotations

import pyspark.sql.functions as F

from twitter_social_triangle_mapreduce_spark.operators import passages

#: an 8-token boilerplate passage (exactly PASSAGE_WINDOW long)
BOILER = "please accept cookies to continue using this website"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_passage_excised_from_two_docs_unique_survives(spark):
    """The passage appears in docs 1, 2, 3; doc 1 is canonical (smallest
    (doc_id, start)) and keeps it; docs 2 and 3 lose exactly the passage;
    doc 4 (unique prose only) passes through byte-identical."""
    d = _docs(
        spark,
        [
            (1, f"alpha beta gamma delta {BOILER}"),
            (2, f"{BOILER} epsilon zeta eta theta iota kappa"),
            (3, f"lambda mu {BOILER} nu xi omicron pi rho sigma"),
            (4, "tau upsilon phi chi psi omega one two three four"),
        ],
    )
    cuts = {
        r.doc_id: (r.span_start, r.span_end)
        for r in passages.passage_cut_spans(d).collect()
    }
    assert cuts == {2: (1, 8), 3: (3, 10)}
    out = {r.doc_id: r for r in passages.dedup_passages(d).collect()}
    assert out[1].text == f"alpha beta gamma delta {BOILER}"
    assert out[1].n_spans_cut == 0
    assert out[2].text == "epsilon zeta eta theta iota kappa"
    assert out[2].n_tokens_cut == 8
    assert out[3].text == "lambda mu nu xi omicron pi rho sigma"
    assert out[3].n_tokens_cut == 8
    assert out[4].text == "tau upsilon phi chi psi omega one two three four"
    assert out[4].n_spans_cut == 0


def test_within_doc_repeat_cuts_second_occurrence(spark):
    d = _docs(spark, [(7, f"{BOILER} interlude words here {BOILER}")])
    cuts = passages.passage_cut_spans(d).collect()
    assert [(r.doc_id, r.span_start, r.span_end) for r in cuts] == [
        (7, 12, 19)
    ]
    out = passages.dedup_passages(d).collect()[0]
    assert out.text == f"{BOILER} interlude words here"


def test_overlapping_cut_windows_merge_to_one_span(spark):
    """A 16-token duplicated passage produces 9 overlapping cut windows
    (stride 1) that must merge into ONE maximal span of 16 tokens."""
    long_p = f"{BOILER} and we store all your data forever period"  # 16 toks
    d = _docs(
        spark,
        [
            (1, f"intro words {long_p}"),
            (2, f"{long_p} closing remarks here now"),
        ],
    )
    cuts = passages.passage_cut_spans(d).collect()
    assert [(r.doc_id, r.span_start, r.span_end) for r in cuts] == [
        (2, 1, 16)
    ]
    out = {r.doc_id: r for r in passages.dedup_passages(d).collect()}
    assert out[2].n_spans_cut == 1 and out[2].n_tokens_cut == 16
    assert out[2].text == "closing remarks here now"


def test_short_docs_and_no_duplicates_pass_through(spark):
    d = _docs(
        spark,
        [
            (1, "too short"),
            (2, "completely unique prose with nine whole tokens here"),
        ],
    )
    assert passages.passage_cut_spans(d).count() == 0
    out = {r.doc_id: r.text for r in passages.dedup_passages(d).collect()}
    assert out == {
        1: "too short",
        2: "completely unique prose with nine whole tokens here",
    }


def test_fully_duplicated_doc_cuts_to_empty(spark):
    d = _docs(spark, [(1, BOILER), (2, BOILER)])
    out = {r.doc_id: r for r in passages.dedup_passages(d).collect()}
    assert out[1].text == BOILER  # canonical survives
    assert out[2].text == "" and out[2].n_tokens_cut == 8


def test_stride_trades_recall(spark):
    """stride=4: a duplicate whose alignment differs by <4 tokens can
    slip through — documented recall trade; the default stride 1 catches
    it."""
    d = _docs(
        spark,
        [
            (1, f"a b {BOILER}"),
            (2, f"x {BOILER} y z w v u t"),  # offset differs by 1
        ],
    )
    assert passages.passage_cut_spans(d, stride=1).count() == 1
    assert passages.passage_cut_spans(d, stride=4).count() == 0


def test_windows_relation_is_linear_in_tokens(spark):
    """The fingerprint relation is one row per stride position — never
    doc×doc: |windows| = Σ_docs (n_tokens - W + 1) exactly."""
    rows = [(i, " ".join(f"w{i}t{j}" for j in range(10 + i))) for i in range(5)]
    d = _docs(spark, rows)
    expect = sum((10 + i) - passages.PASSAGE_WINDOW + 1 for i in range(5))
    assert passages.passage_windows(d).count() == expect


def test_duplicate_join_is_keyed_on_window_hash(spark):
    """Plan shape: the occurrences-back join is an equi-join on wh (the
    shuffle is keyed on hashes), and no cartesian product exists
    anywhere in the cut-list plan."""
    d = _docs(spark, [(1, f"a b {BOILER}"), (2, f"{BOILER} c d e f g h")])
    plan = (
        passages.passage_cut_spans(d)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Join Inner" in plan and "wh" in plan
    assert "Cartesian" not in plan and "crossJoin" not in plan


def test_applier_does_not_token_explode_corpus(spark):
    """The applier's corpus branch must stay row-shaped: the only
    Generate (explode) nodes in the plan belong to the window-fingerprint
    derivation, and the final text rewrite is an expression — check that
    the plan joins documents to an AGGREGATED span relation on doc_id."""
    d = _docs(spark, [(1, f"a b {BOILER}"), (2, f"{BOILER} c d e f g h")])
    plan = (
        passages.dedup_passages(d)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "collect_list" in plan  # spans aggregated per doc…
    assert "Join LeftOuter" in plan  # …and joined back on doc_id


def test_incremental_cuts_match_batch_restricted(spark):
    """The parity theorem: under the append-only ingest invariant
    (every batch id > every corpus id), the incremental screen equals
    the full batch recompute restricted to batch docs."""
    rows = [
        (1, f"alpha beta gamma {BOILER}"),
        (2, "corpus unique prose with enough tokens to window here"),
        (10, f"{BOILER} epsilon zeta eta theta iota kappa"),  # corpus hit
        (11, "fresh batch material nothing shared with anyone at all"),
        (12, f"lambda mu {BOILER} nu xi omicron pi rho"),     # corpus hit
        (13, "repeated chunk of batch text goes right here now"),
        (14, "repeated chunk of batch text goes right here now"),  # batch dup
    ]
    corpus = _docs(spark, [r for r in rows if r[0] < 10])
    batch = _docs(spark, [r for r in rows if r[0] >= 10])
    inc = sorted(
        map(
            tuple,
            passages.incremental_passage_cuts(
                batch, passages.passage_windows(corpus)
            ).collect(),
        )
    )
    full = sorted(
        map(
            tuple,
            passages.passage_cut_spans(_docs(spark, rows))
            .where("doc_id >= 10")
            .collect(),
        )
    )
    assert inc == full and len(inc) >= 3
    # corpus hits cut in both batch docs; batch-internal dup cut once
    docs_cut = {d for d, _, _ in inc}
    assert {10, 12, 14} <= docs_cut and 11 not in docs_cut and 13 not in docs_cut


def test_incremental_cuts_apply_with_shared_applier(spark):
    batch = _docs(spark, [(10, f"{BOILER} epsilon zeta eta theta")])
    corpus = _docs(spark, [(1, f"intro {BOILER} outro words")])
    spans = passages.incremental_passage_cuts(
        batch, passages.passage_windows(corpus)
    )
    out = passages.apply_passage_cuts(batch, spans).collect()[0]
    assert out.text == "epsilon zeta eta theta"
    assert out.n_tokens_cut == 8


def test_incremental_probe_is_batch_sized(spark, tmp_path):
    """The corpus window index must be probed in place: the batch's
    broadcast fingerprint set reduces the index (which streams through
    as a plain scan), and the surviving hashes broadcast back — nothing
    index-sized shuffles, nothing is re-fingerprinted. The batch is
    parquet-backed like production ingest: the round-5 size guard reads
    the batch SCAN's statistics (the window explode makes the derived
    relation's own estimate unboundable), so a stat-less in-memory
    batch would take the documented safe (shuffle) arm instead."""
    corpus = _docs(spark, [(1, f"intro {BOILER} outro words")])
    bpath = str(tmp_path / "batch")
    _docs(spark, [(10, f"{BOILER} epsilon zeta eta theta")]).write.mode(
        "overwrite"
    ).parquet(bpath)
    batch = spark.read.parquet(bpath)
    idx = passages.passage_windows(corpus)
    # materialize the index (the daily-ingest contract) so the plan
    # over it is a plain scan, then screen the batch
    path = str(tmp_path / "winidx")
    idx.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    plan = (
        passages.incremental_passage_cuts(batch, stored)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the index-reduction direction (review finding): every LeftSemi
    # builds on the BROADCAST batch-fingerprint side while the index
    # parquet streams through as a scan; the hit-markers broadcast back.
    # LeftSemi/LeftAnti can only build right, so an anti join against
    # the index (the old shape) would hash-partition the whole index —
    # it must be gone.
    semi_lines = [ln for ln in plan.splitlines() if "Join LeftSemi" in ln]
    assert semi_lines and all(
        "rightHint=(strategy=broadcast)" in ln for ln in semi_lines
    ), semi_lines
    back_lines = [ln for ln in plan.splitlines() if "Join LeftOuter" in ln]
    assert back_lines and all(
        "rightHint=(strategy=broadcast)" in ln for ln in back_lines
    ), back_lines
    assert "LeftAnti" not in plan
    # the stored index contributes parquet scans only (its subtree has
    # no Generate — the index is never re-fingerprinted); window
    # explodes exist solely for the batch side
    assert "Relation [doc_id" in plan and "parquet" in plan
    assert "Generate" in plan

    # over-threshold batch (round-5 ADVICE): the SAME call degrades to
    # the shuffled-hash arm instead of a forced corpus-scale broadcast
    thresh_key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(thresh_key)
    try:
        spark.conf.set(thresh_key, "1")
        plan_big = (
            passages.incremental_passage_cuts(batch, stored)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
    finally:
        spark.conf.set(thresh_key, old)
    assert "strategy=broadcast" not in plan_big
    assert "strategy=shuffle_hash" in plan_big


def test_incremental_accepts_legacy_hex_string_index(spark):
    """Review finding: an index materialized before the binary-
    fingerprint switch (hex STRING wh) must be auto-converted on read —
    a string-vs-binary join would otherwise silently match nothing."""
    corpus = _docs(spark, [(1, f"intro {BOILER} outro words")])
    batch = _docs(spark, [(10, f"{BOILER} epsilon zeta eta theta")])
    legacy = passages.passage_windows(corpus).withColumn(
        "wh", F.lower(F.hex("wh"))
    )
    assert dict(legacy.dtypes)["wh"] == "string"
    cuts = passages.incremental_passage_cuts(batch, legacy).collect()
    assert [(r.doc_id, r.span_start, r.span_end) for r in cuts] == [
        (10, 1, 8)
    ]


def test_decontaminate_passage_cuts_excises_every_eval_overlap(spark):
    """Passage-level decontamination: EVERY occurrence of an eval
    window in the training docs is cut (no canonical survivor — eval
    text must not remain anywhere); clean text is untouched."""
    train = _docs(
        spark,
        [
            (1, f"alpha beta {BOILER} gamma delta"),
            (2, f"{BOILER} epsilon zeta eta theta iota"),
            (3, "totally clean training prose with no overlap at all"),
        ],
    )
    ev = _docs(spark, [(100, f"prefix words {BOILER} suffix words")])
    cuts = sorted(
        map(
            tuple,
            passages.decontaminate_passage_cuts(train, ev).collect(),
        )
    )
    # BOTH train occurrences cut (doc 1 at 3..10, doc 2 at 1..8)
    assert cuts == [(1, 3, 10), (2, 1, 8)]
    out = {
        r.doc_id: r.text
        for r in passages.apply_passage_cuts(
            train, passages.decontaminate_passage_cuts(train, ev)
        ).collect()
    }
    assert out[1] == "alpha beta gamma delta"
    assert out[2] == "epsilon zeta eta theta iota"
    assert out[3] == "totally clean training prose with no overlap at all"


def test_decontaminate_passage_eval_side_is_broadcast(spark):
    train = _docs(spark, [(1, f"alpha beta {BOILER} gamma delta")])
    ev = _docs(spark, [(100, BOILER)])
    plan = (
        passages.decontaminate_passage_cuts(train, ev)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    semi = [ln for ln in plan.splitlines() if "Join LeftSemi" in ln]
    assert semi and all(
        "rightHint=(strategy=broadcast)" in ln for ln in semi
    ), semi


def test_wide_window_parity_with_oracle_w50(spark):
    """Round-5 verdict item 6: the realistic W=50 width must agree with
    the DuckDB oracle exactly, same as the testdata-sized W=8 — the
    window/canonical/merge algebra is width-independent, but only a
    differential run proves the two engines' slice/digest paths agree
    at widths the testdata never exercises."""
    import duckdb
    import pandas as pd

    boiler50 = " ".join(f"tok{i:02d}" for i in range(50))
    rows = [
        (1, f"{boiler50} aa bb cc dd ee"),
        (2, f"xx yy {boiler50} zz"),
        (3, " ".join(f"uniq{i:02d}" for i in range(60))),
        (4, "short doc far below the window"),
    ]
    d = _docs(spark, rows)
    for w in (8, 50):
        got = sorted(
            map(tuple, passages.passage_cut_spans(d, window=w).collect())
        )
        con = duckdb.connect()
        con.register(
            "docs", pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        want = sorted(
            map(
                tuple,
                con.execute(
                    passages.passage_cuts_oracle_sql(
                        window=w, docs_sql="SELECT * FROM docs"
                    )
                ).fetchall(),
            )
        )
        con.close()
        assert got == want, (w, got, want)
    # at W=50, doc 2's full 50-token occurrence (canonical in doc 1) is
    # the only cut; W=8 additionally cuts nothing extra here but spans
    # differ in shape — sanity-pin the W=50 span
    w50 = {
        r.doc_id: (r.span_start, r.span_end)
        for r in passages.passage_cut_spans(d, window=50).collect()
    }
    assert w50 == {2: (3, 52)}


def test_registered_passage_width_env_knob(spark, monkeypatch):
    """The registered doc_passage_cuts width follows
    SPARK_GRAFT_PASSAGE_WINDOW, and the ORACLE generator reads the same
    variable — both sides move together or the driver comparison would
    silently diverge (mismatched widths match nothing)."""
    from twitter_social_triangle_mapreduce_spark import registry_ext

    from conftest import SF_SMOKE

    monkeypatch.setenv(passages.PASSAGE_WINDOW_ENV, "5")
    assert passages.configured_window() == 5
    via_registry = sorted(
        map(
            tuple,
            registry_ext.EXT_QUERIES["doc_passage_cuts"](
                spark, SF_SMOKE
            ).collect(),
        )
    )
    direct = sorted(
        map(
            tuple,
            passages.passage_cut_spans(
                __import__(
                    "twitter_social_triangle_mapreduce_spark.sources.io",
                    fromlist=["load_table"],
                ).load_table(spark, SF_SMOKE, "documents"),
                window=5,
            ).collect(),
        )
    )
    assert via_registry == direct
    sql = registry_ext.ext_oracles()["doc_passage_cuts"]
    assert "- 5 + 2" in sql and "s + 5 - 1" in sql  # width-5 CTE bodies
    monkeypatch.delenv(passages.PASSAGE_WINDOW_ENV)
    assert passages.configured_window() == passages.PASSAGE_WINDOW


def test_packed_canonical_parity_and_guard(spark):
    """Round 13: the packed-BIGINT canonical encoding (HashAggregate +
    narrower exchange) elects the lexicographic (doc_id, start)
    canonical, and an occurrence outside the documented pack bounds
    fails LOUDLY instead of electing a wrong canonical."""
    import pytest

    rows = [
        (7, "a b c d e f g h i j"),
        (3, "x y a b c d e f g h i j"),  # same 8-window at larger start
        (11, "a b c d e f g h i j"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    packed = sorted(map(tuple, passages.passage_cut_spans(docs).collect()))
    # the three shared windows start at 3, 4, 5 in doc 3 (the smallest
    # doc_id, so canonical despite the larger start) and at 1, 2, 3 in
    # docs 7 and 11, whose cut windows [1,8], [2,9], [3,10] merge
    assert packed == [(7, 1, 10), (11, 1, 10)]
    plan = (
        passages.passage_cut_spans(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan  # packed arm hash-aggregates
    # guard: a start beyond 2^24 must raise, not mis-elect
    bad = spark.createDataFrame(
        [(1, 1 << 25)], "doc_id long, start long"
    ).select("doc_id", "start", F.lit(bytearray(16)).alias("wh"))
    with pytest.raises(Exception, match="packed-canonical bounds"):
        bad.select(passages._packed_occurrence().alias("p")).collect()


def test_packed_canonical_guard_rejects_negative_start(spark):
    """A negative start would pack onto another document's occurrence
    ((1, -1) packs equal to (0, 2^24 - 1)) and elect a wrong canonical,
    so the guard must raise instead of packing."""
    import pytest

    bad = spark.createDataFrame([(1, -1)], "doc_id long, start long")
    with pytest.raises(Exception, match="packed-canonical bounds"):
        bad.select(passages._packed_occurrence().alias("p")).collect()
    ok = spark.createDataFrame([(1, 0)], "doc_id long, start long")
    assert ok.select(passages._packed_occurrence()).collect()[0][0] == 1 << 24
