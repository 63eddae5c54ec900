#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload graph-follow --seed 1 --seconds 1 --trace 0

Run from the root of a checkout; workloads are ``graph-follow``,
``corpus-capstone`` and ``corpus-ingest`` (see ``workloads.py``). The loop
is closed with one client: one call at a time, on ``local[<cores>]``, in
this process. A run

1. generates the workload's inputs from ``--seed`` into ``.perfbench/``;
2. builds the Spark session once, JVM launch included, and ends the build
   with a one-task job, so the session is ready: ``setup_s``, what a
   one-shot caller of ``get_spark`` pays. One JVM launch per run is what
   the run's time allows;
3. runs the first pass in that fresh session, which is what a one-shot
   CLI run pays: ``cpu_s`` is its CPU seconds (this process, the JVM and
   the Python workers, from ``/proc``). Its wall time and items per
   wall second go to the report and the printed lines only: on a shared
   host the wall time of one 20-30 s pass per run can spread by more
   than a 25% bound from run to run, and its CPU seconds spread less
   (the report keeps the host's steal share per pass). Further passes run while
   ``--seconds`` have not passed; they are warm and only go to the
   report. Between passes the session's cache is cleared and each pass
   writes to a fresh shard directory and store root;
4. checks the first pass's outputs against independent references
   (DuckDB oracles, batch operators, shard invariants); every pass must
   match the first pass's output digest. ``failed``/``attempted`` count
   failed checks against calls plus checks.

With ``--trace 1`` the run makes two untraced passes, rebuilds the session
with the UI on, and makes traced passes: each call gets its own job group,
and stage metrics from the UI's REST API are attributed to its span. The
result then carries the per-layer metrics instead of the end-to-end ones;
``bench.trace_overhead`` is the traced over the untraced warm pass time
(the traced pass runs later, so the JVM is a little warmer for it),
and ``bench.peak_rss_mb`` the process tree's peak resident memory over
the untraced passes, sampled on a thread in traced runs only (the JVM's
heap growth makes it too noisy to bound).
Layers a workload does not call read 0. The full report (run context,
input properties, plan digests, checks, spans) is written to
``.perfbench/reports/``. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "twitter_social_triangle_mapreduce_spark"

TMP = os.path.join(ROOT, ".perfbench", "tmp")


END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

#: span names of the calls each workload makes, across all workloads
LAYERS = (
    "sources.io.read_edges_csv",
    "graph.path2_cardinality_total",
    "graph.triangle_count",
    "components.kcore",
    "components.connected_components",
    "corpus.prepare_training_corpus",
    "corpus.shard_manifest",
    "streams.fold_cluster_batch",
    "streams.fold_passage_batch",
    "streams.fold_pack_batch",
    "streams.compact_cluster_bands",
    "streams.compact_passage_cuts",
    "streams.compact_pack_rows",
    "streams.read_cluster_snapshot",
    "streams.read_passage_cuts",
    "streams.read_packed_corpus",
    "streams.maintenance_status",
    "streams.maintenance_check",
)
LAYER_STATS = {
    "wall_s": "s",
    "self_s": "s",
    "cpu_s": "s",
    "stages": "count",
    "tasks": "count",
    "shuffle_write_mb": "MB",
}
ENGINE_STATS = {
    "sched_wait_s": "s",
    "gc_s": "s",
    "spill_mb": "MB",
}
EXTRA_LAYER = {
    "bench.peak_rss_mb": "MB",
    "bench.pass.self_s": "s",
    "bench.trace_overhead": "ratio",
    "graph.triangle_count.records_per_triangle": "ratio",
    "dedup.candidate_yield": "ratio",
    "similarity.candidate_yield": "ratio",
    "streams.fold_s_p50": "s",
    "streams.fold_s_p90": "s",
    "streams.read_s": "s",
    "streams.store_bytes_per_input_byte": "ratio",
    "streams.compact.bytes_rewritten": "bytes",
    **{
        f"streams.{f}.{k}": u
        for f in ("fold_cluster_batch", "fold_passage_batch", "fold_pack_batch")
        for k, u in (("bytes_written", "bytes"), ("files_written", "count"))
    },
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_STATS.items()
    }
    units.update({f"engine.{k}": u for k, u in ENGINE_STATS.items()})
    units.update(EXTRA_LAYER)
    return units


def result_line(correct, attempted, failed, values, units) -> str:
    """The JSON result: every metric of ``units`` with its value."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(values[k]), "unit": u} for k, u in units.items()
        },
    })


def quantile(xs: list[float], q: float) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args, workdir: str) -> None:
        import workloads

        self.workdir = workdir
        self.pid = os.getpid()
        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(
                f"unknown workload {args.workload!r};"
                f" choose from {sorted(workloads.WORKLOADS)}"
            )
        self.wl = workloads.WORKLOADS[args.workload](
            args.seed, workloads.fresh_dir(os.path.join(workdir, "inputs"))
        )
        self.spark = None
        self.first_digest = None
        self.plans: dict = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.calls = 0

    # -- session ---------------------------------------------------------
    def build(self, ui: bool) -> float:
        from twitter_social_triangle_mapreduce_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temporary files inside the checkout; its
            # performance-data file would go to /tmp whatever the tmpdir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        }
        if ui:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.range(1).count()
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    # -- passes ----------------------------------------------------------
    def one_pass(self, tracer) -> dict:
        import procstat
        import workloads

        pass_dir = workloads.fresh_dir(os.path.join(self.workdir, "pass"))
        self.spark.catalog.clearCache()
        c0 = procstat.cpu_seconds(self.pid)
        h0 = procstat.host_jiffies()
        n0 = len(tracer.spans)
        with tracer.span("bench.pass"):
            out = self.wl.run_pass(self.spark, tracer, pass_dir)
        cpu = procstat.cpu_seconds(self.pid) - c0
        h1 = procstat.host_jiffies()
        pass_spans = tracer.spans[n0:]
        self.calls += len(pass_spans) - 1
        self.compare(out)
        return {
            "wall_s": pass_spans[0].wall_s,
            "cpu_s": cpu,
            "steal_share": (h1[0] - h0[0]) / max(h1[1] - h0[1], 1),
            "spans": pass_spans,
            "extra": dict(self.wl.extra),
            "out": out,
        }

    def compare(self, out) -> None:
        """Every pass must reproduce the first pass's outputs, which
        ``verify`` checks against the references."""
        if self.first_digest is None:
            self.first_digest = out
        elif out != self.first_digest:
            self.checks.append(("pass_digest", False, f"{out} vs first"))

    def passes(self, tracer, seconds, min_passes) -> list[dict]:
        """Passes until ``seconds`` have passed and at least ``min_passes``
        ran; the first pass's plan digests go to ``self.plans``."""
        import workloads

        out = []
        t0 = time.perf_counter()
        while len(out) < min_passes or time.perf_counter() - t0 < seconds:
            out.append(self.one_pass(tracer))
            if not self.plans:
                self.plans = {
                    k: workloads.plan_digest(df)
                    for k, df in self.wl.frames.items()
                }
        return out

    def context(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark_version": self.spark.version,
            "java_version": sc._jvm.System.getProperty("java.version"),
            "python_version": sys.version.split()[0],
        }


def run(args) -> int:
    import procstat
    import spans
    import workloads

    workdir = workloads.fresh_dir(
        os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    )
    phases = {}
    t0 = time.perf_counter()
    bench = None
    try:
        bench = Bench(args, workdir)
        phases["inputs_s"] = time.perf_counter() - t0
        setup_s = bench.build(ui=False)
        # the sampler shares the GIL with the calls it times, and only the
        # traced run reports memory
        rss = procstat.PeakRss(bench.pid) if args.trace else contextlib.nullcontext()
        with rss:
            plain = bench.passes(spans.Tracer(), args.seconds, 2 if args.trace else 1)
        cold = plain[0]
        e2e = {"setup_s": setup_s, "cpu_s": cold["cpu_s"]}
        wall = {
            "cold_run_s": cold["wall_s"],
            "items_per_s": bench.wl.items / cold["wall_s"],
        }
        traced, layer = [], {}
        if args.trace:
            bench.build(ui=True)
            tracer = spans.Tracer(bench.spark)
            bench.wl.measure_store = True
            traced = bench.passes(tracer, args.seconds, 1)
            for p in traced:
                tracer.attribute(bench.spark, p["spans"])
            layer = per_layer(bench, cold, plain[1:], traced)
            layer["bench.peak_rss_mb"] = rss.peak_mb
        t1 = time.perf_counter()
        bench.checks.extend(bench.wl.verify(bench.spark, plain[0]["out"]))
        phases["verify_s"] = time.perf_counter() - t1
        context = bench.context()
    finally:
        if bench is not None and bench.spark is not None:
            stop_jvm(bench.spark)
        shutil.rmtree(workdir, ignore_errors=True)
        phases["total_s"] = time.perf_counter() - t0

    failed = sum(1 for c in bench.checks if not c[1])
    attempted = bench.calls + len(bench.checks)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "context": context,
        "inputs": bench.wl.props,
        "plans": bench.plans,
        "items": f"{bench.wl.items} {bench.wl.item}",
        "phases": phases,
        "pass_wall_s": [p["wall_s"] for p in plain],
        "pass_cpu_s": [p["cpu_s"] for p in plain],
        "pass_steal_share": [p["steal_share"] for p in plain],
        "traced_pass_wall_s": [p["wall_s"] for p in traced],
        "checks": bench.checks,
        "fail_ratio": failed / attempted,
        "end_to_end": e2e,
        "wall": wall,
        "peak_rss_mb": rss.peak_mb if args.trace else None,
        "per_layer": layer,
        "spans": [
            {"name": s.name, "id": s.id, "parent": s.parent,
             "start": s.start, "end": s.end, **s.counts}
            for p in plain + traced for s in p["spans"]
        ],
    }
    os.makedirs(os.path.join(ROOT, ".perfbench", "reports"), exist_ok=True)
    path = os.path.join(
        ROOT, ".perfbench", "reports",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
    )
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)

    for k, v in context.items():
        print(f"context {k} = {v}")
    for k, v in bench.wl.props.items():
        print(f"input {k} = {v}")
    for name, ok, detail in bench.checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    print(f"fail_ratio = {failed}/{attempted} = {failed / attempted:.4f}")
    print(
        f"wall cold_run_s = {wall['cold_run_s']:.6g} s,"
        f" items_per_s = {wall['items_per_s']:.6g} 1/s,"
        f" host steal share {cold['steal_share']:.3f} (report only)"
    )
    units = per_layer_units() if args.trace else END_TO_END
    values = layer if args.trace else e2e
    for k, u in units.items():
        print(f"metric {k} = {values[k]:.6g} {u}")
    print(f"report {os.path.relpath(path, ROOT)}")
    print(result_line(failed == 0, attempted, failed, values, units), flush=True)
    return 0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM (and with
    it the Python workers it forked) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(bench, cold, warm, traced) -> dict:
    """Medians over the traced passes of each layer's figures; the ingest
    figures a user sees come from the untraced first pass, like the
    end-to-end metrics, and the tracing overhead compares traced with
    untraced warm passes."""
    import spans

    vals = {k: [] for k in per_layer_units()}
    for p in traced:
        ss = p["spans"]
        selfs = spans.self_times(ss)
        sums = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in LAYER_STATS}
        engine = dict.fromkeys(ENGINE_STATS, 0.0)
        for s in ss[1:]:
            if s.name in LAYERS:
                sums[f"{s.name}.wall_s"] += s.wall_s
                sums[f"{s.name}.self_s"] += selfs[s.id]
                for k in ("cpu_s", "stages", "tasks", "shuffle_write_mb"):
                    sums[f"{s.name}.{k}"] += s.counts.get(k, 0.0)
            for k in ENGINE_STATS:
                engine[k] += s.counts.get(k, 0.0)
        for k, v in sums.items():
            vals[k].append(v)
        for k, v in engine.items():
            vals[f"engine.{k}"].append(v)
        vals["bench.pass.self_s"].append(selfs[ss[0].id])
        tri = [s for s in ss if s.name == "graph.triangle_count"]
        found = p["extra"].get("triangles", 0)
        vals["graph.triangle_count.records_per_triangle"].append(
            sum(s.counts.get("records", 0.0) for s in tri) / found if found else 0.0
        )
        written = p["extra"].get("written", {})
        for f, (nbytes, nfiles) in written.items():
            vals[f"streams.{f}.bytes_written"].append(nbytes)
            vals[f"streams.{f}.files_written"].append(nfiles)
        vals["streams.compact.bytes_rewritten"].append(
            p["extra"].get("bytes_rewritten", 0)
        )
    folds = cold["extra"].get("fold_s", [])
    vals["streams.fold_s_p50"].append(statistics.median(folds) if folds else 0.0)
    vals["streams.fold_s_p90"].append(quantile(folds, 0.9))
    vals["streams.read_s"].append(cold["extra"].get("read_s", 0.0))
    vals["streams.store_bytes_per_input_byte"].append(
        cold["extra"].get("store_bytes", 0) / bench.wl.input_bytes
    )
    vals["bench.trace_overhead"].append(
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in warm)
    )
    pass_dir = os.path.join(bench.workdir, "pass")
    for k, v in bench.wl.yields(bench.spark, pass_dir).items():
        vals[k].append(v)
    return {k: statistics.median(v) if v else 0.0 for k, v in vals.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(
            f"perfbench: no {PACKAGE}/ package beside {HERE};"
            " run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # all temporary space inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".perfbench", "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
