"""The benchmark workloads.

Each workload generates its inputs from the seed into a work directory,
runs one pass (a fixed sequence of public calls into the program, each
inside a span and each ending in an action), and checks the pass's
outputs. ``run_pass`` returns the pass's output digest, which must be the
same on every pass; ``verify`` compares one pass's outputs against an
independent reference (DuckDB oracles, batch operators) once per run.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from twitter_social_triangle_mapreduce_spark import registry
from twitter_social_triangle_mapreduce_spark.operators import (
    components,
    corpus,
    dedup,
    graph,
    passages,
    similarity,
)
from twitter_social_triangle_mapreduce_spark.plans import parity
from twitter_social_triangle_mapreduce_spark.sources import io
from twitter_social_triangle_mapreduce_spark import streaming


def digest(df) -> tuple[int, int, int]:
    """Order-insensitive (rows, low, high) digest of a DataFrame: the
    sums of the two 32-bit halves of each row's xxhash64. Computing it
    is the action that completes a call."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(0xFFFFFFFF)),
        F.sum(F.shiftrightunsigned(h, 32)),
    ).first()
    return (int(row[0]), int(row[1] or 0), int(row[2] or 0))


def plan_digest(df) -> str:
    """8-hex digest of the optimized plan with volatile ids normalized."""
    import hashlib

    s = df._jdf.queryExecution().optimizedPlan().toString()
    for pat, rep in (
        (r"#\d+L?", "#"),
        (r"plan_id=\d+", "plan_id="),
        (r"\brdd_\d+\b", "rdd_"),
        (r"\[\d+\] at ", "[] at "),
        (r"/[^\s,\]]*perfbench[^\s,\]]*", "<path>"),
    ):
        s = re.sub(pat, rep, s)
    return hashlib.md5(s.encode()).hexdigest()[:8]


def tree_listing(root: str) -> dict[str, tuple[int, int]]:
    """path -> (bytes, mtime) of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _bytes(listing: dict) -> int:
    return sum(size for size, _ in listing.values())


class Workload:
    name = ""
    #: what ``items_per_s`` counts
    item = ""
    #: measure store bytes and files around each call (traced passes)
    measure_store = False

    def __init__(self, seed: int, workdir: str) -> None:
        self.props: dict = {}
        self.items = 0
        #: per-pass extra figures (fold times, store bytes) of the last pass
        self.extra: dict = {}
        #: the DataFrame each call of the last pass returned, by output key
        self.frames: dict = {}

    def run_pass(self, spark, tracer, pass_dir: str) -> dict:
        """One pass; returns its outputs (counts and digests)."""
        raise NotImplementedError

    def verify(self, spark, got: dict) -> list[tuple[str, bool, str]]:
        """(check, passed, detail) for one pass's outputs against an
        independent reference."""
        raise NotImplementedError

    def yields(self, spark, pass_dir: str) -> dict:
        """Useful-outcome-per-attempt ratios measured outside the passes."""
        return {}


class GraphFollow(Workload):
    """Seeded power-law follower graph; the paper's four queries plus
    the iterative k-core and connected-components operators."""

    name = "graph-follow"
    item = "edges"

    def __init__(self, seed: int, workdir: str) -> None:
        super().__init__(seed, workdir)
        src, dst, self.props = gen.power_law_graph(seed)
        self.csv = os.path.join(workdir, "edges.csv")
        np.savetxt(
            self.csv, np.column_stack([src, dst]), fmt="%d", delimiter=","
        )
        self.items = self.props["edges"]
        self.input_bytes = os.path.getsize(self.csv)
        # the reference cutoffs scaled to this id range, as parity.py
        # scales them to the testdata's [0, 200) id range
        scale = gen.GRAPH_USERS / 200
        self.cut = {
            "approx": int(parity.APPROX_MAX * scale),
            "rs": int(parity.TRIANGLE_RS_MAX * scale),
            "replicated": int(parity.REPLICATED_MAX * scale),
        }

    def _edges(self, spark):
        return io.read_edges_csv(spark, self.csv)

    def run_pass(self, spark, tracer, pass_dir):
        out = {}
        with tracer.span("sources.io.read_edges_csv"):
            edges = self._edges(spark)
            out["edges"] = edges.count()
        calls = [
            ("exact_paths", "graph.path2_cardinality_total",
             lambda e: graph.path2_cardinality_total(e)),
            ("approx_paths", "graph.path2_cardinality_total",
             lambda e: graph.path2_cardinality_total(
                 e, max_id=self.cut["approx"], strict=True)),
            ("triangles_shuffle", "graph.triangle_count",
             lambda e: graph.triangle_count(
                 e, max_id=self.cut["rs"], strategy="shuffle")),
            ("triangles_broadcast", "graph.triangle_count",
             lambda e: graph.triangle_count(
                 e, max_id=self.cut["replicated"], strategy="broadcast")),
            ("triangles_ordered", "graph.triangle_count",
             lambda e: graph.triangle_count(
                 e, max_id=self.cut["rs"], strategy="ordered")),
        ]
        for key, span, fn in calls:
            with tracer.span(span):
                df = fn(self._edges(spark))
                out[key] = int(df.first()[0])
            self.frames[key] = df
        for key, span, fn in (
            ("kcore", "components.kcore", components.kcore),
            ("components", "components.connected_components",
             components.connected_components),
        ):
            with tracer.span(span):
                df = fn(self._edges(spark))
                out[key] = digest(df)
            self.frames[key] = df
        self.extra = {"triangles": sum(
            out[k] for k in out if k.startswith("triangles_")
        )}
        return out

    def _oracles(self) -> dict[str, str]:
        read = (
            f"SELECT src, dst FROM read_csv('{self.csv}', header=false, "
            "columns={'src': 'BIGINT', 'dst': 'BIGINT'})"
        )
        subs = {
            "approx_paths": (f"< {parity.APPROX_MAX}", f"< {self.cut['approx']}"),
            "triangles_shuffle": (
                f"< {parity.TRIANGLE_RS_MAX}", f"< {self.cut['rs']}"),
            "triangles_ordered": (
                f"< {parity.TRIANGLE_RS_MAX}", f"< {self.cut['rs']}"),
            "triangles_broadcast": (
                f"<= {parity.REPLICATED_MAX}", f"<= {self.cut['replicated']}"),
        }
        names = {
            "exact_paths": "exact_cardinality",
            "approx_paths": "approx_cardinality",
            "triangles_shuffle": "social_triangle_rs",
            "triangles_broadcast": "triangle_replicated",
            "triangles_ordered": "social_triangle_ordered",
            "kcore": "kcore",
        }
        out = {}
        for key, reg in names.items():
            sql = registry.GRAPH_ORACLES[reg]
            if key in subs:
                old, new = subs[key]
                if old not in sql:
                    raise RuntimeError(f"oracle {reg} has no cutoff {old!r}")
                sql = sql.replace(old, new)
            if io.EDGES_FROM_EVENTS_SQL not in sql:
                raise RuntimeError(f"oracle {reg} does not read edges")
            out[key] = sql.replace(io.EDGES_FROM_EVENTS_SQL, read)
        out["components"] = components.connected_components_oracle_sql(read)
        return out

    def verify(self, spark, got):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        checks = [(
            "edges", got["edges"] == self.props["edges"],
            f"{got['edges']} vs {self.props['edges']}",
        )]
        schemas = {"kcore": "v long", "components": "v long, component long"}
        try:
            for key, sql in self._oracles().items():
                if key in schemas:
                    rows = con.execute(sql).fetchall()
                    want = digest(spark.createDataFrame(rows, schemas[key]))
                else:
                    want = con.execute(sql).fetchone()[0]
                checks.append((key, got[key] == want, f"{got[key]} vs {want}"))
        finally:
            con.close()
        return checks


def _write_parquet(path: str, rows: list[tuple], schema: pa.Schema) -> None:
    cols = list(zip(*rows))
    pq.write_table(
        pa.table([pa.array(c, t.type) for c, t in zip(cols, schema)], schema),
        path,
    )


DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EVAL_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
EMB_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
])


class _Corpus(Workload):
    item = "docs"

    def __init__(self, seed: int, workdir: str) -> None:
        super().__init__(seed, workdir)
        docs, evals, embs, self.props = gen.corpus(seed)
        self.items = self.props["docs"]
        self.input_bytes = self.props["input_bytes"]
        self.docs_path = os.path.join(workdir, "documents.parquet")
        self.eval_path = os.path.join(workdir, "eval.parquet")
        self.emb_path = os.path.join(workdir, "embeddings.parquet")
        _write_parquet(self.docs_path, docs, DOC_SCHEMA)
        _write_parquet(self.eval_path, evals, EVAL_SCHEMA)
        _write_parquet(self.emb_path, embs, EMB_SCHEMA)
        self._docs = docs

    def _near_dup_yield(self, spark, drops: int) -> float:
        pairs = dedup.minhash_candidate_pairs(spark.read.parquet(self.docs_path))
        n = pairs.count()
        return drops / n if n else 0.0


class CorpusCapstone(_Corpus):
    """The full corpus-preparation product path into training shards."""

    name = "corpus-capstone"

    def run_pass(self, spark, tracer, pass_dir):
        shards = os.path.join(pass_dir, "shards")
        with tracer.span("corpus.prepare_training_corpus"):
            audit = corpus.prepare_training_corpus(
                spark.read.parquet(self.docs_path),
                spark.read.parquet(self.eval_path),
                shards,
                cut_passages=True,
                embeddings=spark.read.parquet(self.emb_path),
            )
            h = F.xxhash64("doc_id", "verdict")
            rows = (
                audit.groupBy("verdict")
                .agg(F.count(F.lit(1)), F.sum(h.bitwiseAND(0xFFFFFFFF)))
                .collect()
            )
        self.frames["audit"] = audit
        audit.unpersist()
        with tracer.span("corpus.shard_manifest"):
            man = corpus.shard_manifest(spark, shards)
            manifest = [tuple(r) for r in man.collect()]
        self.frames["manifest"] = man
        verdicts = {r[0]: (int(r[1]), int(r[2])) for r in rows}
        self.extra = {"verdicts": {k: v[0] for k, v in verdicts.items()}}
        return {"audit": sorted(verdicts.items()), "manifest": manifest}

    def verify(self, spark, got):
        kept = dict(got["audit"]).get("kept", (0, 0))[0]
        manifest = got["manifest"]
        packed = sum(r[1] for r in manifest)
        gaps = [(a[0], b[0]) for a, b in zip(manifest, manifest[1:]) if a[4] != b[3]]
        return [
            ("kept_equals_packed", kept == packed, f"{kept} vs {packed}"),
            ("manifest_contiguous", bool(manifest) and not gaps, f"gaps {gaps[:3]}"),
        ]

    def yields(self, spark, pass_dir):
        verdicts = self.extra.get("verdicts", {})
        emb = spark.read.parquet(self.emb_path).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )
        bits = similarity.lsh_bits_for(self.items)
        pairs = similarity.semantic_dedup_pairs(emb, bits=bits).count()
        return {
            "dedup.candidate_yield": self._near_dup_yield(
                spark, verdicts.get("near_dup", 0)),
            "similarity.candidate_yield": (
                verdicts.get("semantic_dup", 0) / pairs if pairs else 0.0
            ),
        }


class CorpusIngest(_Corpus):
    """The same corpus arriving as micro-batches through the streaming
    stores: three folds per batch, compaction, read-back, maintenance."""

    name = "corpus-ingest"
    BATCHES = 2
    FOLDS = ("fold_cluster_batch", "fold_passage_batch", "fold_pack_batch")
    COMPACTS = ("compact_cluster_bands", "compact_passage_cuts", "compact_pack_rows")

    def __init__(self, seed: int, workdir: str) -> None:
        super().__init__(seed, workdir)
        self.batch_paths = []
        for i, part in enumerate(np.array_split(np.arange(len(self._docs)), self.BATCHES)):
            p = os.path.join(workdir, f"batch_{i}.parquet")
            _write_parquet(p, [self._docs[j] for j in part], DOC_SCHEMA)
            self.batch_paths.append(p)

    def run_pass(self, spark, tracer, pass_dir):
        root = os.path.join(pass_dir, "store")
        fold_s = []
        written = {f: [0, 0] for f in self.FOLDS}
        for i, path in enumerate(self.batch_paths):
            batch = spark.read.parquet(path)
            text = batch.select("doc_id", "text")
            t0 = time.perf_counter()
            for fold, df in zip(self.FOLDS, (batch, text, text)):
                before = tree_listing(root) if self.measure_store else {}
                with tracer.span(f"streams.{fold}"):
                    getattr(streaming, fold)(df, i, root)
                if self.measure_store:
                    after = tree_listing(root)
                    written[fold][0] += _bytes(after) - _bytes(before)
                    written[fold][1] += len(after) - len(before)
            fold_s.append(time.perf_counter() - t0)
        before = tree_listing(root) if self.measure_store else {}
        for comp in self.COMPACTS:
            with tracer.span(f"streams.{comp}"):
                getattr(streaming, comp)(spark, root)
        rewritten = sum(
            size for p, (size, mtime) in tree_listing(root).items()
            if before.get(p, (None, None))[1] != mtime
        ) if self.measure_store else 0
        store_bytes = _bytes(tree_listing(root))
        out = {}
        t0 = time.perf_counter()
        for key, reader in (
            ("clusters", "read_cluster_snapshot"),
            ("cuts", "read_passage_cuts"),
            ("packs", "read_packed_corpus"),
        ):
            with tracer.span(f"streams.{reader}"):
                df = getattr(streaming, reader)(spark, root)
                out[key] = digest(df)
            self.frames[key] = df
        read_s = time.perf_counter() - t0
        with tracer.span("streams.maintenance_status"):
            status = streaming.maintenance_status(spark, root).collect()
        with tracer.span("streams.maintenance_check"):
            findings = streaming.maintenance_check(spark, root).collect()
        out["errors"] = sorted(
            (r["component"], r["finding"]) for r in findings
            if r["severity"] == "error"
        )
        out["status_rows"] = len(status)
        self.extra = {
            "fold_s": fold_s,
            "read_s": read_s,
            "store_bytes": store_bytes,
            "written": written,
            "bytes_rewritten": rewritten,
        }
        return out

    def verify(self, spark, got):
        docs = spark.read.parquet(self.docs_path)
        want = {
            "clusters": digest(dedup.near_dup_clusters(docs)),
            "cuts": digest(passages.passage_cut_spans(docs.select("doc_id", "text"))),
            "packs": digest(corpus.pack_sequences(docs.select("doc_id", "text"))),
        }
        checks = [
            (k, got[k] == want[k], f"{got[k]} vs {want[k]}") for k in want
        ]
        checks.append(("maintenance_check", not got["errors"], str(got["errors"][:3])))
        return checks

    def yields(self, spark, pass_dir):
        root = os.path.join(pass_dir, "store")
        snap = streaming.read_cluster_snapshot(spark, root)
        drops = snap.where("is_canonical = 0").count()
        return {"dedup.candidate_yield": self._near_dup_yield(spark, drops)}


WORKLOADS = {w.name: w for w in (GraphFollow, CorpusCapstone, CorpusIngest)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
