#!/usr/bin/env python
"""Capture `.explain("formatted")` for every declared query into
plans/<out_dir>/<query>_<tag>.txt.

Usage: python scripts/capture_plans.py <out_dir> <tag> <sf_dir>
  out_dir: directory under plans/ (e.g. r14)
  tag:     "before" / "after" (file suffix)

These files are the evidence base for the plan claims in the
OPTIMIZATION_r*.md records. Volatile ids are left as-is (the files are
for reading; digest comparison uses bench.py's normalizer)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from twitter_social_triangle_mapreduce_spark import registry  # noqa: E402
from twitter_social_triangle_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    out_dir = os.path.join(REPO, "plans", sys.argv[1])
    tag, sf_dir = sys.argv[2], sys.argv[3]
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="tstm-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")

    queries = dict(registry.all_queries(include_extra=True))
    for name, fn in sorted(queries.items()):
        try:
            df = fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure loudly, keep going
            txt = f"EXPLAIN FAILED: {e!r}\n"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(txt)
        print(f"ok {name}", flush=True)


if __name__ == "__main__":
    main()
