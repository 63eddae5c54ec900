"""Distributed BPE trainer (operators/bpe.py): the trained merge table
and the encoder must match an independent pure-Python reference
implementation of classic word-frequency BPE bit-for-bit (the same
role the `_sig_reference` plays for LSH signatures — an oracle
stronger than SQL for an iterative trainer), stay deterministic under
repartitioning, and honor the greedy left-to-right application
semantics on adversarial repeats."""

from __future__ import annotations

from collections import Counter

import pytest

from twitter_social_triangle_mapreduce_spark.operators import bpe
from twitter_social_triangle_mapreduce_spark.sources.io import load_table

from conftest import SF_SMOKE


def _ref_train(texts, n_merges):
    """Classic BPE over the word-frequency table: max-count pair per
    round (ties: lexicographic min), greedy left-to-right rewrite."""
    words = Counter(w for t in texts for w in t.split(" ") if w)
    syms = {w: list(w) + [bpe.EOW] for w in words}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, cnt in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += cnt
        if not pc:
            break
        (a, b), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((rank, a, b, n))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    return merges, syms


def _ref_encode(text, syms):
    out = []
    for w in text.split(" "):
        if w:
            out.extend(syms[w])
    return out


def test_trainer_matches_reference_on_testdata(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    got = bpe.train_bpe_merges(docs, bpe.BPE_MERGES)
    want, _ = _ref_train(texts, bpe.BPE_MERGES)
    assert got == want
    assert len(got) == bpe.BPE_MERGES  # corpus large enough to fill


def test_encoder_matches_reference_and_compresses(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    rows = docs.select("doc_id", "text").collect()
    texts = [r["text"] for r in rows]
    merges, syms = _ref_train(texts, bpe.BPE_MERGES)
    enc = {
        r["doc_id"]: (r["n_tokens"], r["tokens"])
        for r in bpe.bpe_encode(docs, merges).collect()
    }
    n_chars = n_tokens = 0
    for r in rows:
        want = _ref_encode(r["text"], syms)
        assert enc[r["doc_id"]][1] == want, r["doc_id"]
        assert enc[r["doc_id"]][0] == len(want)
        n_chars += sum(len(w) + 1 for w in r["text"].split(" ") if w)
        n_tokens += len(want)
    # the merges actually compress relative to character tokens
    assert n_tokens < n_chars


def test_trainer_deterministic_under_repartition(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    a = bpe.train_bpe_merges(docs, 5)
    b = bpe.train_bpe_merges(docs.repartition(13), 5)
    assert a == b


def test_local_and_distributed_arms_bit_identical(spark):
    """The size-gated driver-local merge loop must produce the exact
    merge table of the distributed per-round loop — counts included —
    on testdata AND on an adversarial corpus that exercises overlap
    consumption, merged-symbol recombination, and count ties."""
    docs = load_table(spark, SF_SMOKE, "documents")
    loc = bpe.train_bpe_merges(docs, bpe.BPE_MERGES, mode="local")
    dist = bpe.train_bpe_merges(docs, bpe.BPE_MERGES, mode="distributed")
    assert loc == dist
    adversarial = spark.createDataFrame(
        [(1, "aaa aaa ab ba ba xyxy xyxyx"), (2, "zz zz yy yy a")],
        "doc_id long, text string",
    )
    loc = bpe.train_bpe_merges(adversarial, 12, mode="local")
    dist = bpe.train_bpe_merges(adversarial, 12, mode="distributed")
    assert loc == dist


def test_local_arm_matches_pure_reference_and_gate_is_conf_driven(
    spark, monkeypatch
):
    """The local arm's incremental pair-count maintenance must equal a
    full per-round recount (the pure reference), and the auto gate must
    honor ``bpe.LOCAL_MAX_WORDS`` (taking the distributed arm when the
    vocabulary exceeds it)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    want, _ = _ref_train(texts, bpe.BPE_MERGES)
    assert bpe.train_bpe_merges(docs, bpe.BPE_MERGES, mode="local") == want
    # gate: a 0-row threshold pushes auto onto the distributed arm
    monkeypatch.setattr(bpe, "LOCAL_MAX_WORDS", 0)
    assert bpe.train_bpe_merges(docs, 3) == want[:3]


@pytest.mark.slow  # round-13 gate diet: probe-as-test
def test_local_arm_trains_thousands_of_merges_fast():
    """The round-count gap the distributed loop has (one Spark job per
    merge) must be gone on the local arm: ≥2k merges over a synthetic
    100k-word vocabulary in seconds, no Spark session involved."""
    import random
    import time

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    vocab = {
        "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 12)))
        for _ in range(100_000)
    }
    word_cnts = [(w, rng.randint(1, 1000)) for w in sorted(vocab)]
    t0 = time.monotonic()
    merges = bpe._train_merges_local(word_cnts, 2000)
    dt = time.monotonic() - t0
    assert len(merges) == 2000
    assert dt < 60, f"local merge loop too slow: {dt:.1f}s"
    # spot-check exactness of the incremental counts vs a full recount
    # at the END state: replay the merges with the reference fold and
    # confirm the final pair universe has no pair counted differently
    syms = {w: list(w) + [bpe.EOW] for w, _ in word_cnts}
    cnts = dict(word_cnts)
    for _, a, b, _n in merges[:50]:
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    pc = Counter()
    for w, s in syms.items():
        for i in range(len(s) - 1):
            pc[(s[i], s[i + 1])] += cnts[w]
    replay = bpe._train_merges_local(
        [(w, c) for w, c in word_cnts], 51
    )
    a, b, n = replay[50][1], replay[50][2], replay[50][3]
    best = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert (a, b) == best[0] and n == best[1]


def test_greedy_overlap_and_merged_symbol_recombination(spark):
    """aaa under merge (a,a) must encode [aa, a</w>] — an occurrence
    consumed by a merge cannot start the next one — while a later
    round CAN merge the merged symbol with its neighbor (aa + a</w>);
    and the trainer must pick ties lexicographically."""
    docs = spark.createDataFrame(
        [(1, "aaa aaa ab")], "doc_id long, text string"
    )
    merges = bpe.train_bpe_merges(docs, 3)
    # round 0: (a,a) count 2·2=4 beats (a,b) 1 and sentinel pairs
    assert merges[0][1:3] == ("a", "a")
    ranks = [(m[1], m[2]) for m in merges]
    enc = {
        r["doc_id"]: r["tokens"]
        for r in bpe.bpe_encode(docs, merges[:1]).collect()
    }
    assert enc[1][:2] == ["aa", "a"]  # greedy left-to-right, no overlap
    # merged symbol recombines in a later round
    assert ("aa", f"a{bpe.EOW}") in ranks or ("aa", "a") in ranks


def test_empty_and_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bpe.train_bpe_merges(empty, 4) == []
    # single-char words: pairs exist only with the sentinel
    docs = spark.createDataFrame(
        [(1, "a a b")], "doc_id long, text string"
    )
    merges = bpe.train_bpe_merges(docs, 10)
    texts = ["a a b"]
    want, _ = _ref_train(texts, 10)
    assert merges == want


def test_pandas_encoding_arm_equals_sql_arm(spark, monkeypatch):
    """The Arrow-batched large-vocabulary encoder must produce the
    byte-identical encoding of the nested-fold SQL arm on testdata
    (the SQL arm is FORCED by raising the round-8 gate constant — at
    ``BPE_MERGES`` the auto-gate would route to pandas and the
    comparison would be vacuous)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    merges = bpe.train_bpe_merges(docs, bpe.BPE_MERGES)
    monkeypatch.setattr(bpe, "SQL_MAX_MERGES", 10**9)
    sql_arm = {
        r["doc_id"]: (r["n_tokens"], r["tokens"])
        for r in bpe.bpe_encode(docs, merges).collect()
    }
    pd_arm = {
        r["doc_id"]: (r["n_tokens"], list(r["tokens"]))
        for r in bpe.bpe_encode_pandas(docs, merges).collect()
    }
    assert {k: (n, list(t)) for k, (n, t) in sql_arm.items()} == pd_arm


@pytest.mark.slow  # perf-routing probe: trains at two merge counts to exercise the gate
def test_encode_auto_gate_routes_by_merge_count(spark, monkeypatch):
    """Round-8 (r7 verdict item 2): ``bpe_encode`` is two-armed like
    the trainer — above ``SQL_MAX_MERGES`` it must route to the
    Arrow-batched arm (MapInPandas in the plan), at or below it stay
    in the nested-fold JVM plan (no Python node); and the two arms
    must stay bit-equivalent ACROSS the threshold at a merge count
    well past it."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from bpe_encode_gate_probe import synthetic_merges

    docs = load_table(spark, SF_SMOKE, "documents")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    small = synthetic_merges(bpe.SQL_MAX_MERGES)
    big = synthetic_merges(200)
    assert "MapInPandas" not in plan_of(bpe.bpe_encode(docs, small))
    assert "MapInPandas" in plan_of(bpe.bpe_encode(docs, big))
    # the gate constant moves the threshold
    with monkeypatch.context() as m:
        m.setattr(bpe, "SQL_MAX_MERGES", 200)
        assert "MapInPandas" not in plan_of(bpe.bpe_encode(docs, big))
        forced_sql = {
            r["doc_id"]: (r["n_tokens"], list(r["tokens"]))
            for r in bpe.bpe_encode(docs, big).collect()
        }
    auto = {
        r["doc_id"]: (r["n_tokens"], list(r["tokens"]))
        for r in bpe.bpe_encode(docs, big).collect()
    }
    assert auto == forced_sql


def test_merge_table_roundtrips_parquet(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    merges = bpe.train_bpe_merges(docs, 5)
    p = str(tmp_path / "merges")
    bpe.save_merges(spark, merges, p)
    assert bpe.load_merges(spark, p) == merges


def test_tokenized_shards_pack_by_model_tokens(spark, tmp_path):
    """write_training_shards(bpe_merges=...): shard rows carry the
    encoded tokens array, every doc's stored token sequence equals the
    reference encoding, the pack budget counts MODEL tokens (start
    offsets are the prefix sums of encoded lengths in doc_id order),
    and the manifest stays contiguous."""
    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        shard_manifest,
        write_training_shards,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = docs.select("doc_id", "text").collect()
    texts = [r["text"] for r in rows]
    merges, syms = _ref_train(texts, bpe.BPE_MERGES)

    out = str(tmp_path / "tok_shards")
    write_training_shards(
        docs, out, budget=64, packs_per_shard=4, bpe_merges=merges
    )
    back = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(back) == {r["doc_id"] for r in rows}
    off = 0
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        want = _ref_encode(r["text"], syms)
        got = back[r["doc_id"]]
        assert list(got["tokens"]) == want, r["doc_id"]
        assert got["n_tokens"] == len(want)
        assert got["start_off"] == off  # prefix sums of MODEL tokens
        assert got["pack_id"] == off // 64
        off += len(want)
    man = sorted(map(tuple, shard_manifest(spark, out).collect()))
    prev_end = 0
    for _shard, _n, _tok, start, end in man:
        assert start == prev_end
        prev_end = end
    assert prev_end == off


def _sweep_encode(text, merges):
    """Pure-Python rank-order sweep — the SQL arm's exact semantics
    (each merge applied greedily left-to-right, in rank order), used
    as the reference the pair-driven heap encode must match."""
    out = []
    for w in text.split(" "):
        if not w:
            continue
        syms = list(w) + [bpe.EOW]
        for _, a, b, _n in merges:
            new = []
            for x in syms:
                if new and new[-1] == a and x == b:
                    new[-1] = a + b
                else:
                    new.append(x)
            syms = new
        out.extend(syms)
    return out


def test_pair_driven_encode_matches_sweep_on_adversarial_tables(
    spark, monkeypatch
):
    """Round-9 (r8 verdict item 2): the pandas arm's pair-driven heap
    encode must stay bit-equivalent to the rank-order sweep on the
    shapes where a heap path could plausibly diverge: overlapping
    repeats, merged-symbol recombination chains, and a symbol-STRING
    collision table — two merges concatenating to the same string, so
    a later merge re-forms an earlier rank's pair, which the
    rank-frontier guard must skip exactly as the sweep (already past
    that rank) does. The SQL arm is run alongside to anchor the pure
    reference itself."""
    cases = [
        # greedy overlap: aaa -> [aa, a]
        ("aaaa aaa aa a", [(0, "a", "a", 1)]),
        # merged symbol recombines with a later literal and itself
        (
            "abab ababc abc",
            [(0, "a", "b", 1), (1, "ab", "ab", 1), (2, "ab", "c", 1)],
        ),
        # string collision: r0+r4 both produce "abc"; on 'abcd' the
        # heap merges (b,c) then (a,bc) -> "abc", which re-forms the
        # rank-3 pair ("abc","d") AFTER rank 4 applied — the sweep is
        # past rank 3, so the guard must refuse the merge
        (
            "abcd xabc abcda",
            [
                (0, "b", "c", 1),
                (1, "a", "b", 1),
                (2, "ab", "c", 1),
                (3, "abc", "d", 1),
                (4, "a", "bc", 1),
            ],
        ),
        # sentinel-absorbing merges produce whole-word tokens
        ("dog dogs do", [(0, "o", "g", 1), (1, "og", bpe.EOW, 1), (2, "d", "og" + bpe.EOW, 1)]),
    ]
    monkeypatch.setattr(bpe, "SQL_MAX_MERGES", 10**9)  # force the SQL arm
    for text, merges in cases:
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        want = _sweep_encode(text, merges)
        got_pd = list(
            bpe.bpe_encode_pandas(docs, merges).collect()[0]["tokens"]
        )
        assert got_pd == want, (text, merges, got_pd, want)
        got_sql = list(bpe.bpe_encode(docs, merges).collect()[0]["tokens"])
        assert got_sql == want, (text, merges, got_sql, want)
