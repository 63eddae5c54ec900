#!/usr/bin/env python
"""Measure the bpe_encode SQL-arm vs pandas-arm crossover (round 8,
r7 verdict item 2): the SQL arm nests one HOF fold per merge, so its
cost grows with plan depth (Catalyst analysis + codegen), while the
Arrow-batched pandas arm is flat in merge count. This probe times BOTH
arms at a ladder of merge counts over the sf0.01 documents table and
prints one JSON line per point — the measured crossover sets
``bpe.SQL_MAX_MERGES`` (the auto-gate threshold), the same
measure-don't-guess rule the trainer's ``bpe.LOCAL_MAX_WORDS`` gate
followed.

Merge tables beyond the trained ladder are synthetic ranked pairs over
the testdata alphabet — the ENCODER's cost is per-merge plan depth /
per-merge Python pass, not merge hit rate, so unmatched merges measure
the same machinery (verified: both arms agree bit-for-bit at every
point regardless).

Usage: python scripts/bpe_encode_gate_probe.py [n_merges ...]
(default 8 32 64 96 128 256 512; results in BASELINE.md)

Round 9 (r8 verdict item 2): the pandas arm's per-word encode is now
PAIR-DRIVEN (heap of present pairs), so its cost must stay flat to a
production 30k-merge vocabulary; points above ``SQL_ARM_MAX`` (512)
probe the pandas arm only — the SQL arm's ~0.25 s/merge line is
already measured and a 30k-merge nested-fold plan would take hours by
construction, not by surprise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from twitter_social_triangle_mapreduce_spark.session import get_spark  # noqa: E402
from twitter_social_triangle_mapreduce_spark.operators import bpe  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: largest merge count the SQL arm is probed at — its linear-in-plan-
#: depth cost is established (see module docstring); beyond this the
#: probe times the pandas arm alone
SQL_ARM_MAX = 512


def synthetic_merges(
    n: int, max_len: int = 12
) -> list[tuple[int, str, str, int]]:
    """Deterministic ranked merge table: lowercase bigrams first, then
    pairs of already-merged symbols in diagonal order — enough
    distinct ranked pairs for any probe ladder, each a
    structurally-valid merge. Merged-symbol length is capped at
    ``max_len`` (real vocabulary tokens are short; the previous
    unbounded cyclic picker compounded concatenations Fibonacci-style,
    so a 2048-entry table held near-gigabyte strings and the probe
    measured the allocator, not the encoder)."""
    out: list[tuple[int, str, str, int]] = []
    seen: set[tuple[str, str]] = set()
    syms = [chr(ord("a") + i) for i in range(26)]
    r = 0
    s = 0  # diagonal: enumerate index pairs (p, q) by p+q then p
    while len(out) < n:
        progressed = False
        for p in range(0, min(s, len(syms) - 1) + 1):
            q = s - p
            if q >= len(syms):
                continue
            a, b = syms[p], syms[q]
            if (a, b) in seen or len(a) + len(b) > max_len:
                continue
            seen.add((a, b))
            out.append((r, a, b, 1))
            syms.append(a + b)
            r += 1
            progressed = True
            if len(out) == n:
                break
        s += 1
        if s > 4 * (len(syms) + n) and not progressed:
            raise RuntimeError(f"exhausted synthetic pairs at {len(out)}")
    return out


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [8, 32, 64, 96, 128, 256, 512]
    spark = get_spark(
        app_name="bpe-encode-gate-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.persist().count()  # take the scan out of both arms' timing
    for n in sizes:
        merges = synthetic_merges(n)
        sql_s = sql_tok = None
        if n <= SQL_ARM_MAX:
            # force the SQL arm regardless of the gate (probe both)
            gate, bpe.SQL_MAX_MERGES = bpe.SQL_MAX_MERGES, 10**9
            try:
                t0 = time.time()
                sql_tok = bpe.bpe_encode(docs, merges).agg(
                    {"n_tokens": "sum"}
                ).collect()[0][0]
                sql_s = time.time() - t0
            finally:
                bpe.SQL_MAX_MERGES = gate
        t0 = time.time()
        pd_tok = bpe.bpe_encode_pandas(docs, merges).agg(
            {"n_tokens": "sum"}
        ).collect()[0][0]
        pd_s = time.time() - t0
        if sql_tok is not None:
            assert sql_tok == pd_tok, (n, sql_tok, pd_tok)
        print(
            json.dumps(
                {
                    "merges": n,
                    "sql_sec": round(sql_s, 3) if sql_s is not None else None,
                    "pandas_sec": round(pd_s, 3),
                    "total_tokens": int(pd_tok),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
