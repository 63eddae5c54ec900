#!/usr/bin/env python
"""Measure a REAL production-vocabulary BPE train (round 9, r8
verdict item 4): the local arm's ~15-min claim at 50k merges / 1M
distinct words was an extrapolation from the round-7 8k-merge point —
this probe runs one actual 32k-merge train over a ≥1M-distinct-word
corpus through the same decomposition ``train_bpe_merges(mode=
"local")`` executes, with each phase timed separately:

1. word-frequency table build (the ONE corpus-sized pass),
2. vocabulary collect (driver round-trip),
3. the in-process merge loop (``_train_merges_local`` — heap argmax +
   inverted-index touched-word rewrite, the subword-nmt shape).

Corpus: the scale probe's deterministic hash-drawn generator (word
text = base-26 letters of the vocab id). Memory is reported as the
driver process's peak RSS delta — the loop's index structures are the
sizing question for the ``bpe.LOCAL_MAX_WORDS`` gate.

Usage: python scripts/bpe_production_train_probe.py \
    [--n-words=10000000] [--vocab=1300000] [--merges=32000]
(flags take the = form only — anything else exits loudly instead of
silently launching the full default run; one JSON line; result
recorded in BASELINE.md)
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.storagelevel import StorageLevel  # noqa: E402

from bpe_scale_probe import synthetic_docs  # noqa: E402
from twitter_social_triangle_mapreduce_spark.operators import bpe  # noqa: E402
from twitter_social_triangle_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    n_words, vocab, merges = 10_000_000, 1_300_000, 32_000
    for a in sys.argv[1:]:
        if a.startswith("--n-words="):
            n_words = int(a.split("=", 1)[1])
        elif a.startswith("--vocab="):
            vocab = int(a.split("=", 1)[1])
        elif a.startswith("--merges="):
            merges = int(a.split("=", 1)[1])
        else:
            # a silently-ignored flag would launch the multi-minute
            # full default run instead of the requested one
            raise SystemExit(f"unknown argument {a!r} (use --flag=value)")
    spark = get_spark(
        app_name="bpe-production-train-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = synthetic_docs(spark, n_words, vocab)

    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    t0 = time.time()
    wtab = bpe.word_symbol_table(docs).persist(StorageLevel.MEMORY_AND_DISK)
    n_vocab = wtab.count()
    build_s = time.time() - t0

    t0 = time.time()
    rows = wtab.select("word", "cnt").collect()
    wtab.unpersist()
    collect_s = time.time() - t0

    t0 = time.time()
    table = bpe._train_merges_local(
        [(r["word"], int(r["cnt"])) for r in rows], merges
    )
    loop_s = time.time() - t0
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    assert len(table) == merges, len(table)

    print(
        json.dumps(
            {
                "n_words": n_words,
                "distinct_words": int(n_vocab),
                "merges": merges,
                "word_table_build_s": round(build_s, 1),
                "vocab_collect_s": round(collect_s, 1),
                "merge_loop_s": round(loop_s, 1),
                "per_merge_ms": round(1000 * loop_s / merges, 2),
                "total_s": round(build_s + collect_s + loop_s, 1),
                "driver_peak_rss_gb": round((rss1 - rss0) / 2**20, 2),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
