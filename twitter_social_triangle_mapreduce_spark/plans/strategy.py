"""Connect-safe join/partitioning strategy guards.

Two operators make plan-time physical decisions from session internals:
the ordered-triangle closing join probes Catalyst's optimized-plan size
estimate (``df._jdf`` — classic-only), and the shingle pipeline probes
the scan's split count (``df.rdd`` — classic-only). Neither internal
exists under Spark Connect, so every probe here is (1) gated on an
explicit capability check and (2) degrades to the SCALE-SAFE arm — a
shuffled hash join / a no-op — never silently to an over-threshold
broadcast or a corpus-wide repartition. The fallback arms are pinned by
tests (tests/test_strategy.py) so "which arm runs when the probe is
unavailable" is a stated contract, not an accident.

Every decision here is automatic: the engine picks the physical form
from the statistics it observes. The only session knob consulted is
Spark's own ``spark.sql.autoBroadcastJoinThreshold`` (``-1`` forces
every size-guarded build side onto the shuffle-hash arm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the spread's size-aware target: the minimum estimated plan bytes one
#: spread partition must carry for the repartition to be worth a task's
#: fixed cost (optimization round 12). A derivation task that would
#: receive less than this much source costs more in per-task setup
#: (agg hash-map + shuffle-writer init — measured ~0.1 s CPU per task)
#: than the derivation itself; spreading a 30 KB eval set across 32
#: slots burned ~4 CPU-s to parallelize 0.07 s of work. The target partition count becomes
#: min(defaultParallelism, est_bytes // SPREAD_MIN_BYTES_PER_TASK) — at
#: corpus scale the estimate saturates the parallelism term and the
#: behavior is unchanged. The unit is Catalyst's estimate, which for a
#: parquet scan is ON-DISK (compressed) bytes: 16 KiB of it is ~48 KiB
#: of decompressed text at a conservative 3× text-parquet ratio (the
#: round-13 calibration, est·3 // 48k == est // 16k exactly).
SPREAD_MIN_BYTES_PER_TASK = 16 * 1024


def parse_byte_conf(s: str) -> int:
    """Parse a Spark byte-string conf value ("67108864", "10m", "1.5gb",
    "-1" for disabled) into bytes; negative means disabled. Fractional
    values multiply BEFORE truncation ('1.5g' → 1610612736, not 2**30)."""
    s = s.strip().lower()
    for suf, mult in (
        ("tb", 2**40), ("gb", 2**30), ("mb", 2**20), ("kb", 2**10),
        ("t", 2**40), ("g", 2**30), ("m", 2**20), ("k", 2**10), ("b", 1),
    ):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * mult)
    return int(float(s))


def is_classic(df: DataFrame) -> bool:
    """True when ``df`` is a classic (JVM-local) DataFrame whose private
    plan internals (``_jdf``, ``.rdd``) exist. Spark Connect proxies live
    under ``pyspark.sql.connect`` and expose neither."""
    return not type(df).__module__.startswith("pyspark.sql.connect")


def _conf(df: DataFrame, key: str, default: str | None = None) -> str | None:
    try:
        return df.sparkSession.conf.get(key, default)
    except Exception:
        return default


def plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate, or ``None``
    when the session cannot expose it (Spark Connect, or any internals
    failure). Runs no job — plan-time statistics only. The estimate is an
    UPPER bound for post-aggregation relations (size propagates through
    aggregates un-reduced without CBO), so callers comparing it against a
    threshold err toward the non-broadcast arm."""
    if not is_classic(df):
        return None
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def scan_partition_count(df: DataFrame) -> int | None:
    """The physical partition count of ``df``'s current plan, or ``None``
    when unavailable (Spark Connect). Needs only plan resolution, not a
    job."""
    if not is_classic(df):
        return None
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return None


def build_side_mode(
    side: DataFrame,
    stats_of: DataFrame | None = None,
    scale: float = 1.0,
) -> str:
    """The decision behind ``shuffle_hash_unless_broadcastable``, exposed
    so operators can couple FURTHER plan choices to the same arm (the
    ordered triangle adds a semi-join reduction only on the shuffle arm):

    - ``"as_is"``        — Catalyst's own estimate fits the broadcast
      threshold; leave the side unhinted and the planner broadcasts.
    - ``"shuffle_hash"`` — the estimate is over the threshold, the
      threshold is disabled or unparseable, or statistics are
      unavailable (Spark Connect): the scale-safe arm (a missed
      broadcast costs one exchange; a wrong broadcast costs executor
      memory). This fallback is asserted by tests/test_strategy.py.

    ``stats_of`` + ``scale`` (round 5): a build side containing a
    Generate (explode) gets an effectively unbounded Catalyst estimate
    — the optimizer cannot bound an explode's multiplier, so ~7e18
    lands every such side on the shuffle arm even for a one-row input.
    Derivation-heavy build sides instead pass their PRE-DERIVATION
    relation (whose scan statistics are real) as ``stats_of`` and a
    documented row-width expansion factor as ``scale``; the broadcast
    arm then fires iff ``estimate(stats_of) · scale`` fits the
    threshold. Callers must pick ``scale`` as an upper bound of the
    derived/source byte ratio so the guard keeps erring toward the
    memory-safe side."""
    try:
        thresh = parse_byte_conf(
            _conf(side, "spark.sql.autoBroadcastJoinThreshold", "10485760")
            or "10485760"
        )
    except Exception:
        thresh = -1
    est = plan_size_estimate(side if stats_of is None else stats_of)
    if est is not None and 0 < thresh and 0 <= est * scale <= thresh:
        return "as_is"
    return "shuffle_hash"


def shuffle_hash_unless_broadcastable(
    side: DataFrame,
    stats_of: DataFrame | None = None,
    scale: float = 1.0,
) -> DataFrame:
    """Plan-time join-strategy guard for a build side whose keys are known
    unique (skew-free): return ``side`` unchanged when Catalyst's OWN size
    estimate already fits the broadcast threshold (the planner then picks
    a broadcast hash join — zero exchange on the big probe side),
    otherwise hint SHUFFLE_HASH so the non-broadcast fallback is a hash
    join that streams the probe side instead of a sort-merge join that
    would sort it. The decision is ``build_side_mode``'s.

    ``stats_of``/``scale`` forward to ``build_side_mode`` — see there
    (explode-bearing build sides must supply real statistics). When
    ``stats_of`` is supplied, the ``as_is`` arm applies an EXPLICIT
    broadcast hint (round-6 ADVICE): the whole point of the substitute
    statistics is that the planner cannot bound the derived side's own
    estimate, so returning it unhinted would leave Catalyst re-deriving
    the unbounded number and never actually broadcasting."""
    if build_side_mode(side, stats_of=stats_of, scale=scale) == "as_is":
        return F.broadcast(side) if stats_of is not None else side
    return side.hint("shuffle_hash")


def spread_small_input(df: DataFrame) -> DataFrame:
    """Raise map-side parallelism before CPU-heavy per-row derivation
    (shingling, multi-digest minhash folds) when the source provides far
    fewer splits than the cluster has slots — a sub-MB parquet file
    arrives as ONE partition and would hash single-threaded. No-op when
    the input is already parallel: at corpus scale the scan has plenty of
    splits and a round-robin repartition there would pointlessly shuffle
    the whole corpus. The shuffled bytes in the firing case are by
    construction small (few-splits input).

    A documented NO-OP under Spark Connect (no ``sparkContext`` for the
    slot count, and ``scan_partition_count`` returns None) — the safe
    arm: a Connect-backed cluster at real scale has many splits anyway.

    Size-aware target (optimization round 12): the spread width is
    capped so each partition carries at least
    ``SPREAD_MIN_BYTES_PER_TASK`` of estimated plan bytes — a
    sub-threshold relation spreads to fewer slots (or not at all)
    instead of paying ~0.1 s of fixed task setup per near-empty
    partition. Catalyst does NOT reduce the estimate through filters
    without CBO (errs toward spreading), and a parquet scan's estimate
    is compressed bytes (the constant's unit — see its note). An
    unavailable estimate keeps the full target."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df
    est = plan_size_estimate(df)
    if est is not None:
        target = max(1, min(target, est // SPREAD_MIN_BYTES_PER_TASK))
    n = scan_partition_count(df)
    if n is not None and n * 4 <= target:
        return df.repartition(target)
    return df
