"""The benchmark's workloads: inputs, one timed pass, and output checks.

A workload object lives for one run. ``generate`` writes its inputs from
the seed, ``stage`` loads what a pass reuses into the session (both are
set-up), ``run_pass`` makes the calls into the program, each inside a
span, and ``checks`` verifies the outputs of the passes once, after the
timing is over. ``layer_extras`` are the per-layer numbers that come
from the outputs rather than from the event log.
"""

from __future__ import annotations

import glob
import os
import shutil
from functools import reduce

import numpy as np

import checks as C
import gen


HARNESS_SPAN = "harness"  # the benchmark's own work inside a pass, not a layer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _union(dfs):
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _csv_rows(path: str) -> int:
    """Data rows of a CSV sink directory (one header line per part file)."""
    rows = 0
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part) as fh:
            rows += max(sum(1 for _ in fh) - 1, 0)
    return rows


class FLPipeline:
    """The reference program: partition ETL, two-stage edge split,
    federated GraphSAGE rounds with fanout sampling, embeddings."""

    name = "fl_pipeline"
    spans = {  # span -> per-layer counters, in pass order
        "pipelines.merge_pipeline": ("wall_s", "jobs", "jobs_spread", "input_bytes",
                                     "driver_gap_s"),
        "graph.split.double_split": ("wall_s", "jobs", "jobs_spread", "stages", "tasks",
                                     "task_cpu_s", "shuffle_bytes", "driver_gap_s"),
        "ml.federated.federated_fit": ("wall_s", "jobs", "jobs_spread", "stages", "tasks",
                                       "task_cpu_s", "shuffle_bytes", "driver_gap_s",
                                       "round_wall_s", "auc"),
        "ml.federated.gen_embeddings": ("wall_s", "jobs", "jobs_spread", "driver_gap_s"),
        "pipelines.concat_embeddings_pipeline": ("wall_s", "jobs", "jobs_spread",
                                                 "driver_gap_s"),
    }
    # sized by the run budget, not by the reference's traffic: see README
    n_vertices, draws, parts, feature_dim = 240, 960, 4, 16
    rounds, fanouts, eval_fraction, layer_sizes = 2, [5, 5], 0.1, (10, 10)

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.store = os.path.join(work, "store")
        self.truth: dict = {}
        self.passes: list[dict] = []

    def generate(self) -> None:
        self.truth = gen.write_fl_store(
            self.store, self.n_vertices, self.draws, self.parts, self.feature_dim, self.seed
        )

    def stage(self, spark) -> None:
        """Nothing to stage: the pipeline's first stage scans the store."""

    def run_pass(self, spark, rec, pass_no: int, out: str) -> None:
        from pyspark.sql import functions as F

        from federated_gcn_spark.graph import Graph, double_split
        from federated_gcn_spark.ml.federated import federated_fit, gen_embeddings
        from federated_gcn_spark.plans.pipelines import (
            concat_embeddings_pipeline,
            merge_pipeline,
        )

        merge, split, fit, embed, concat = self.spans
        o: dict = {"out": out}
        with rec.span(merge, pass_no):
            merged = [
                merge_pipeline(
                    spark, **gen.store_paths(self.store, p),
                    out_nodes=os.path.join(out, f"nodes_{p}"),
                    out_edges=os.path.join(out, f"edges_{p}"),
                    feature_dim=self.feature_dim,
                )
                for p in range(self.parts)
            ]
        # the harness's glue between the stages: tag and union the
        # partitions, build the split's input and the training edges
        with rec.span(HARNESS_SPAN, pass_no):
            o["nodes"] = _union([n.withColumn("partition_id", F.lit(p))
                                 for p, (n, _) in enumerate(merged)]).localCheckpoint(eager=True)
            o["edges"] = _union([e.withColumn("partition_id", F.lit(p))
                                 for p, (_, e) in enumerate(merged)]).localCheckpoint(eager=True)
            graph = Graph(o["nodes"].select("id").distinct().localCheckpoint(eager=True),
                          o["edges"].select("src", "dst").distinct().localCheckpoint(eager=True))
        with rec.span(split, pass_no):
            ds = double_split(graph, seed=self.seed)
        o["split"] = {  # collected by the checks, after the timed passes
            "test_pos": ds.test.positives, "test_neg": ds.test.negatives,
            "train_pos": ds.train.positives, "train_neg": ds.train.negatives,
            "residual": ds.train.residual,
        }
        with rec.span(HARNESS_SPAN, pass_no):
            o["fit_edges"] = (
                o["edges"].join(ds.train.residual, ["src", "dst"], "left_semi")
                .localCheckpoint(eager=True)
            )
        with rec.span(fit, pass_no):
            o["weights"], o["history"] = federated_fit(
                spark, o["nodes"], o["fit_edges"], rounds=self.rounds,
                layer_sizes=self.layer_sizes, seed=self.seed,
                weights_sink=os.path.join(out, "weights"), fanouts=self.fanouts,
                eval_fraction=self.eval_fraction,
            )
        with rec.span(embed, pass_no):
            # gen_embeddings is lazy: the checkpoint runs the program's plan
            emb = gen_embeddings(
                spark, o["nodes"], o["fit_edges"], o["weights"], self.layer_sizes,
                seed=self.seed,
            ).localCheckpoint(eager=True)
        with rec.span(concat, pass_no):
            concat_embeddings_pipeline(
                [emb.where(F.col("partition_id") == p).select("id", "embedding")
                 for p in range(self.parts)],
                out_path=os.path.join(out, "embeddings.parquet"),
            )
        self.passes.append(o)

    def checks(self, spark) -> list[C.Check]:
        from pyspark.sql import functions as F

        last = self.passes[-1]
        out = last["out"]
        merged = []
        for p in range(self.parts):
            by_p = F.col("partition_id") == p
            merged.append({
                "nodes": last["nodes"].where(by_p).count(),
                "edges": last["edges"].where(by_p).count(),
                "csv_nodes": _csv_rows(os.path.join(out, f"nodes_{p}")),
                "csv_edges": _csv_rows(os.path.join(out, f"edges_{p}")),
            })
        split = {
            k: np.array([(r["src"], r["dst"]) for r in df.select("src", "dst").collect()],
                        dtype=np.int64).reshape(-1, 2)
            for k, df in last["split"].items()
        }
        sink: dict[int, list[np.ndarray]] = {}
        for r in spark.read.parquet(os.path.join(out, "weights")).collect():
            sink.setdefault(int(r["round"]), []).append(
                (int(r["layer"]), np.asarray(r["values"], dtype="float64").reshape(r["shape"])))
        sink = {k: [a for _, a in sorted(v, key=lambda t: t[0])] for k, v in sink.items()}
        emb = {
            int(r["id"]): np.asarray(r["embedding"], dtype="float64")
            for r in spark.read.parquet(os.path.join(out, "embeddings.parquet")).collect()
        }
        merge, split_span, fit, embed, _ = self.spans
        return [
            C.merge_check(self.truth["partitions"], merged, merge),
            C.split_check(self.truth["edges"], self.truth["vertices"], split, split_span),
            C.weights_identical_check([p["weights"] for p in self.passes], fit),
            C.weights_sink_check(sink, last["weights"], self.rounds, fit),
            C.embeddings_check(emb, self.truth["vertices"], self.layer_sizes[-1], embed),
        ]

    def layer_extras(self) -> dict[str, float]:
        hist = self.passes[-1]["history"]
        return {
            "ml.federated.federated_fit.round_wall_s":
                float(np.median([h["round_wall_s"] for h in hist])),
            "ml.federated.federated_fit.auc": float(hist[-1]["auc"]),
        }


GRAPH_COUNTERS = ("wall_s", "jobs", "jobs_spread", "supersteps", "jobs_per_superstep",
                  "task_cpu_s", "shuffle_bytes", "driver_gap_s")
# registered queries of the control mix: a salted join, a rollup over a
# four-way join, a range self-join, a window and a funnel. Each result
# is exact in doubles, so the check can compare bit for bit; queries
# that round a sum of doubles with more decimals than the rounding keeps
# (flagship_revenue, pricing_summary) depend on summation order, and
# their DuckDB oracle disagrees with itself on permuted rows for about
# one seed in five
QUERIES = ("salted_join_revenue", "rollup_revenue", "moving_median_revenue",
           "events_sessionize", "funnel_conversion")
QUERY_PREFIX = "plans."


class GraphFixpoint:
    """Five iterative graph operators on one staged Chung-Lu graph, each
    into the noop sink: driver actions per superstep, no pandas UDFs, no
    file scans. Then the control: registered queries over seeded
    star-schema tables, in an order the seed permutes, each into the noop
    sink, with no fixpoint loop and no training, so a graph or ML change
    should leave their spans flat."""

    name = "graph_fixpoint"
    graph_spans = (
        "graph.components.connected_components",
        "graph.pagerank.pagerank",
        "graph.kcore.core_numbers",
        "graph.labelprop.label_propagation",
        "graph.bfs.bfs_distances",
    )
    spans = dict.fromkeys(graph_spans, GRAPH_COUNTERS) | {
        QUERY_PREFIX + q: ("wall_s", "jobs", "jobs_spread") for q in QUERIES
    }
    n_vertices, draws = 200, 800
    pagerank_iterations, lpa_iterations = 5, 5
    orders = 3000  # rows of the orders table; lineitem has about four per order

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.path = os.path.join(work, "edges.txt")
        self.tables = os.path.join(work, "tables")
        self.queries = [QUERIES[i] for i in np.random.default_rng([seed, 11]).permutation(
            len(QUERIES))]
        self.edges = np.zeros((0, 2), dtype=np.int64)
        self.source = 0
        self.graph = None
        self.passes: list[dict] = []
        self.supersteps: dict[str, float] = {}

    def generate(self) -> None:
        self.edges = gen.write_chung_lu(self.path, self.n_vertices, self.draws, self.seed)
        # BFS from the highest-degree vertex (ties to the smallest id)
        self.source = int(np.argmax(np.bincount(self.edges.ravel())))
        gen.write_tables(self.tables, self.orders, self.seed)

    def stage(self, spark) -> None:
        from federated_gcn_spark.graph import Graph
        from federated_gcn_spark.sources.csv import read_raw_edges

        edges = read_raw_edges(spark, self.path).localCheckpoint(eager=True)
        g = Graph.from_edges(edges)
        self.graph = Graph(g.vertices.localCheckpoint(eager=True), edges)

    def run_pass(self, spark, rec, pass_no: int, out: str) -> None:
        from federated_gcn_spark.graph.bfs import bfs_distances
        from federated_gcn_spark.graph.components import connected_components
        from federated_gcn_spark.graph.kcore import core_numbers
        from federated_gcn_spark.graph.labelprop import label_propagation
        from federated_gcn_spark.graph.pagerank import pagerank
        from federated_gcn_spark.plans import QUERIES as REGISTERED

        g = self.graph
        calls = (
            lambda st: connected_components(g, stats=st),
            lambda st: pagerank(g, max_iterations=self.pagerank_iterations),
            lambda st: core_numbers(g, stats=st),
            lambda st: label_propagation(g, max_iterations=self.lpa_iterations),
            lambda st: bfs_distances(g, self.source),
        )
        o: dict = {}
        for name, call in zip(self.graph_spans, calls):
            stats: dict = {}
            with rec.span(name, pass_no):
                df = call(stats)
                _noop(df)
            o[name] = (df, stats)
        for q in self.queries:
            with rec.span(QUERY_PREFIX + q, pass_no):
                _noop(REGISTERED[q](spark, self.tables))
        self.passes.append(o)

    def checks(self, spark) -> list[C.Check]:
        def collect(pass_out: dict, span: str) -> dict:
            df, _ = pass_out[span]
            key, val = df.columns
            return {int(r[0]): r[1] for r in df.select(key, val).collect()}

        last = self.passes[-1]
        cc, pr, kc, lpa, bfs = self.graph_spans
        e = self.edges
        dist = collect(last, bfs)
        _, lpa_rounds = C.label_propagation_reference(e, self.lpa_iterations)
        self.supersteps = {
            cc: last[cc][1].get("iterations", 0),
            pr: self.pagerank_iterations,
            kc: last[kc][1].get("iterations", 0),
            lpa: lpa_rounds,
            # the frontier loop runs one hop past the farthest vertex
            bfs: (max(dist.values()) + 1) if dist else 0,
        }
        return [
            C.components_check(e, collect(last, cc), cc),
            C.pagerank_check(e, collect(last, pr), pr, iterations=self.pagerank_iterations),
            C.core_numbers_check(e, collect(last, kc), kc),
            C.label_propagation_check(e, collect(self.passes[0], lpa), collect(last, lpa),
                                      self.lpa_iterations, lpa),
            C.bfs_check(e, self.source, dist, bfs),
        ] + self.query_checks(spark)

    def query_checks(self, spark) -> list[C.Check]:
        """Each query run once more and compared with its DuckDB oracle
        over the same parquet files."""
        import duckdb

        from federated_gcn_spark.plans import ORACLE, QUERIES as REGISTERED

        con = duckdb.connect()
        for name in gen.TABLES:
            path = os.path.join(self.tables, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = []
        for q in QUERIES:
            df = REGISTERED[q](spark, self.tables)
            got = [tuple(r) for r in df.collect()]
            res = con.execute(ORACLE[q])
            out.append(C.oracle_check(got, df.columns, res.fetchall(),
                                      [d[0] for d in res.description], QUERY_PREFIX + q))
        con.close()
        return out

    def layer_extras(self) -> dict[str, float]:
        return {f"{span}.supersteps": float(n) for span, n in self.supersteps.items()}


WORKLOADS = {w.name: w for w in (FLPipeline, GraphFixpoint)}


def clear_outputs(work: str) -> None:
    """Remove earlier passes' sinks; the weights sink appends per round."""
    for path in glob.glob(os.path.join(work, "pass_*")):
        shutil.rmtree(path, ignore_errors=True)
