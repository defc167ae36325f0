"""The benchmark's two workloads, driven through the engine's public API.

- `kgx_build`: the ORION product path. Per pass: split three overlapping
  source bundles from the TPC-H graph, normalize them, build the merged
  graph, write its derived graphs, meta-KG and sinks, and upsert a delta
  into a sharded bundle.
- `curation`: LLM-curation registry queries (construction-heavy), plus
  one relational registry query that carries the `plans.queries` layer.

A run makes one pass. A pass is a list of operations (a step or a
query). Each operation is a top-level span whose children are `build`
spans (the call that returns a DataFrame) and `exec` spans (forcing or
writing it), each charged to the engine module it calls into.
"""

from __future__ import annotations

import json
import os
import random
import time
import traceback
from contextlib import contextmanager

from pyspark.sql import functions as F

from perfbench import checks
from perfbench.tracing import PhaseRecorder

CURATION = {
    "dedup_minhash_lsh": "llm.dedup",
    "dedup_semdedup_prune": "llm.dedup",
    "documents_leakage_free_split": "llm.dedup",
    "documents_near_dup_history_probe": "llm.near_dup_history",
    "text_decontamination": "llm.dedup",
    "ann_ivf_topk_fixed": "llm.similarity",
    "graph_label_propagation": "operators.graphalgo",
    "graph_walk_skipgrams": "operators.graphalgo",
    "tpch_q21_sole_blame_supplier": "plans.queries",
}

GRAPH_SPEC = """
graphs:
  - graph_id: perfbench_kgx
    graph_name: benchmark composed build
    output_format: parquet
    sources:
      - source_id: src_a
        merge_strategy: default
      - source_id: src_b
        merge_strategy: default
      - source_id: src_qualified
        merge_strategy: connected_edge_subset
"""


class PassLog:
    """What one pass did: the wall time of each operation, in order, and
    the error of each operation that failed. A failed operation does not
    stop the pass."""

    def __init__(self):
        self.op_s: dict[str, float] = {}
        self.failures: dict[str, str] = {}

    @contextmanager
    def op(self, tracer, name: str):
        t = time.perf_counter()
        try:
            with tracer.span(name):
                yield
        except Exception:
            self.failures[name] = traceback.format_exc()[-2000:]
        finally:
            self.op_s[name] = time.perf_counter() - t


class QueryWorkload:
    """Registry queries in a seeded order, each forced by collecting its
    result to the driver. The results are hashed against the queries'
    DuckDB oracles after the pass."""

    def __init__(self, spark, data_dir: str, seed: int, queries: dict):
        from orion_spark.plans.queries import QUERIES

        self.spark, self.data_dir = spark, data_dir
        self.layer_of = queries
        self.order = list(queries)
        random.Random(seed).shuffle(self.order)
        self.fns = {q: QUERIES[q] for q in self.order}
        self.results: dict = {}
        self.digest = None

    def setup(self) -> None:
        """Queries read the base tables directly; nothing to derive."""

    def run_pass(self, tr) -> PassLog:
        log = PassLog()
        for q in self.order:
            layer = self.layer_of[q]
            with log.op(tr, q):
                with tr.span(f"{q}.build", layer, "build"):
                    df = self.fns[q](self.spark, self.data_dir)
                with tr.span(f"{q}.exec", layer, "exec"):
                    self.results[q] = df.toPandas()
        return log

    def check(self) -> dict[str, str]:
        """Compare the pass's results to the DuckDB oracles."""
        want = checks.oracle_hashes(self.data_dir, self.order)
        return {
            q: "result differs from its DuckDB oracle"
            for q, result in self.results.items()
            if checks.result_hash(result) != want[q]
        }

    def output_bytes(self) -> int:
        """Bytes written: none, the results go to the driver."""
        return 0


def _bucket(col: str, seed: int):
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(3))


class KgxBuild:
    """The composed KGX build. Inputs derived at set-up: the
    normalization map, the sharded edge bundle and the upsert delta. The
    pass writes everything under a fresh pass directory and upserts the
    delta into the sharded bundle."""

    N_SHARDS = 16

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        from orion_spark.plans.pipeline import parse_graph_spec

        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.inputs = os.path.join(work_dir, "inputs")
        self.pass_dir = os.path.join(work_dir, "pass")
        self.sharded = os.path.join(work_dir, "sharded")
        self.spec = parse_graph_spec(GRAPH_SPEC)[0]
        self.digest: str | None = None
        self.graph_path: str | None = None
        self.pass_start = 0.0

    def _path(self, *parts: str) -> str:
        return os.path.join(self.pass_dir, *parts)

    def setup(self) -> None:
        """Derive the normalization map (the TPC-H customer map plus an
        identity entry for every other node, so edges between any two
        nodes survive normalization), the sharded bundle and the delta,
        and create the empty pass directory."""
        from orion_spark.operators.merge import merge_edges
        from orion_spark.plans import tpch_graph as G
        from orion_spark.sinks.incremental import write_sharded_bundle

        spark, d = self.spark, self.data_dir
        cust = G.norm_map_df(spark, d)
        identity = G.nodes_df(spark, d).where(~F.col("id").startswith("CUST:")).select(
            F.col("id").alias("original_id"),
            F.array(F.col("id")).alias("normalized_ids"),
        )
        cust.unionByName(identity, allowMissingColumns=True).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.inputs, "norm_map"))

        merged = merge_edges(G.all_edges(spark, d).withColumn("_source_ordinal", F.lit(0)))
        write_sharded_bundle(merged, self.sharded, ["subject"], self.N_SHARDS)
        # about 1% of edges get a new publication; merged by key on upsert
        (
            G.all_edges(spark, d)
            .where(F.pmod(F.xxhash64("subject", "object", F.lit(self.seed)), F.lit(100)) == 0)
            .withColumn("publications", F.array(F.lit(f"PMID:perfbench-{self.seed}")))
            .write.mode("overwrite").parquet(os.path.join(self.inputs, "delta"))
        )
        os.makedirs(self.pass_dir)

    def run_pass(self, tr) -> PassLog:
        from orion_spark.operators import analyze, derive, normalize
        from orion_spark.plans import tpch_graph as G
        from orion_spark.plans.pipeline import build_graph
        from orion_spark.sinks.answercoalesce import write_ac_files
        from orion_spark.sinks.graph_csv import write_neo4j_csv
        from orion_spark.sinks.incremental import upsert_sharded_edges
        from orion_spark.sources.kgx import read_bundle, write_bundle

        spark, d, seed = self.spark, self.data_dir, self.seed
        log = PassLog()
        self.pass_start = time.time()
        raw = {s: self._path("raw", s) for s in ("src_a", "src_b", "src_qualified")}
        norm = {s: self._path("norm", s) for s in raw}

        with log.op(tr, "split_sources"):
            with tr.span("split_sources.build", "sources", "build"):
                nodes, edges = G.nodes_df(spark, d), G.all_edges(spark, d)
                parts = {
                    s: (
                        nodes.where(_bucket("id", seed).isin(*keep)),
                        edges.where(_bucket("subject", seed).isin(*keep)),
                    )
                    for s, keep in (("src_a", (0, 1)), ("src_b", (1, 2)))
                }
                parts["src_qualified"] = (
                    nodes.where(_bucket("id", seed) == 2),
                    G.lineitem_edges(spark, d).drop("_source_ordinal"),
                )
            with tr.span("split_sources.exec", "sources", "exec"):
                for s, (n, e) in parts.items():
                    write_bundle(n, e, raw[s])

        with log.op(tr, "normalize"):
            with tr.span("normalize.build", "operators.normalize", "build"):
                nmap = spark.read.parquet(os.path.join(self.inputs, "norm_map"))
                normed = {}
                for s, path in raw.items():
                    n, e = read_bundle(spark, path)
                    normed[s] = (
                        normalize.normalize_nodes(n, nmap),
                        normalize.normalize_edges(e, nmap),
                    )
            with tr.span("normalize.exec", "operators.normalize", "exec"):
                for s, (n, e) in normed.items():
                    write_bundle(n, e, norm[s])

        with log.op(tr, "build_graph"):
            with tr.span("build_graph", "plans.pipeline", "build"):
                self.graph_path = build_graph(
                    spark, self.spec, norm, self._path("storage"),
                    recorder=PhaseRecorder(tr),
                )

        with log.op(tr, "read_graph"):
            with tr.span("read_graph", "sources", "build"):
                gn, ge = read_bundle(spark, self.graph_path)

        with log.op(tr, "derive"):
            with tr.span("derive.build", "operators.derive", "build"):
                redundant = derive.redundant_edges(ge, G.closure_df(spark))
                collapsed = derive.collapse_qualifiers(ge)
            with tr.span("derive.exec", "operators.derive", "exec"):
                redundant.write.mode("overwrite").parquet(self._path("derived", "redundant"))
                collapsed.write.mode("overwrite").parquet(self._path("derived", "collapsed"))

        with log.op(tr, "meta_kg"):
            with tr.span("meta_kg.build", "operators.analyze", "build"):
                meta_edges = analyze.meta_kg_edges(ge, gn)
                meta_nodes = analyze.meta_kg_nodes(gn)
            with tr.span("meta_kg.exec", "operators.analyze", "exec"):
                meta = {
                    "edges": [r.asDict(recursive=True) for r in meta_edges.collect()],
                    "nodes": [r.asDict(recursive=True) for r in meta_nodes.collect()],
                }
                with open(self._path("meta_kg.json"), "w") as fh:
                    json.dump(meta, fh, default=str)

        with log.op(tr, "neo4j_csv"):
            with tr.span("neo4j_csv", "sinks.graph_csv", "exec"):
                write_neo4j_csv(gn, ge, self._path("neo4j"))

        with log.op(tr, "ac_files"):
            with tr.span("ac_files", "sinks.answercoalesce", "exec"):
                write_ac_files(gn, ge, self._path("answercoalesce"))

        with log.op(tr, "upsert"):
            with tr.span("upsert.build", "sinks.incremental", "build"):
                delta = spark.read.parquet(os.path.join(self.inputs, "delta"))
            with tr.span("upsert.exec", "sinks.incremental", "exec"):
                upsert_sharded_edges(spark, delta, self.sharded, n_shards=self.N_SHARDS)
        return log

    def check(self) -> dict[str, str]:
        """The built bundle's sidecar counts against a DuckDB recount of
        the normalized source bundles. Also records the bundle's content
        digest, which must be the same in every run of one seed."""
        from orion_spark.model import EDGE_CORE_COLUMNS, QUALIFIER_COLUMNS

        if self.graph_path is None:
            return {}
        norm = self._path("norm")
        expected = checks.merge_recount(
            [os.path.join(norm, "src_a"), os.path.join(norm, "src_b")],
            os.path.join(norm, "src_qualified"),
            list(EDGE_CORE_COLUMNS) + list(QUALIFIER_COLUMNS),
        )
        with open(os.path.join(self.graph_path, "graph-metadata.json")) as fh:
            meta = json.load(fh)
        got = (meta["node_count"], meta["edge_count"])
        self.digest = checks.bundle_digest(self.graph_path)
        if got != expected:
            return {"build_graph": f"sidecar counts {got} != recount {expected}"}
        return {}

    def output_bytes(self) -> int:
        """Bytes the pass wrote: everything under the pass directory and
        the shard files the upsert rewrote."""
        total = 0
        for root in (self.pass_dir, self.sharded):
            for dirpath, _, files in os.walk(root):
                for f in files:
                    st = os.stat(os.path.join(dirpath, f))
                    if root == self.pass_dir or st.st_mtime >= self.pass_start:
                        total += st.st_size
        return total


def make(name: str, spark, data_dir: str, work_dir: str, seed: int):
    if name == "kgx_build":
        return KgxBuild(spark, data_dir, work_dir, seed)
    return QueryWorkload(spark, data_dir, seed, CURATION)
