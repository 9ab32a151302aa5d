"""The benchmark's workloads: set-up, one timed pass, and its checks.

Each workload generates its inputs from the seed and writes them to
parquet during set-up; a pass reads only those tables and calls only the
package's public functions. Outputs are collected and checked against
refs.py after the timed section, never inside it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import refs
from kgraph_framework_spark import oracle
from kgraph_framework_spark.operators import knn_graph
from kgraph_framework_spark.operators.csr import pagerank_csr
from kgraph_framework_spark.operators.edges import union_graph
from kgraph_framework_spark.plans.components import connected_components
from kgraph_framework_spark.plans.labelprop import label_propagation
from kgraph_framework_spark.plans.pagerank import pagerank_auto
from kgraph_framework_spark.plans.pregel import release_state
from kgraph_framework_spark.plans.triangles import count_triangles
from kgraph_framework_spark.sources.transcripts import synthesize_transcripts
from kgraph_framework_spark.streaming.knn_maintain import (
    apply_embedding_batch,
    read_graph,
)


class Pass:
    """Timings, counts and outcome of one timed pass."""

    def __init__(self, cpu_clock, between):
        self.cpu_clock, self.between = cpu_clock, between
        self.wall = 0.0          # seconds inside the timed sections
        self.cpu = 0.0           # process-tree CPU seconds inside them
        self.check_s = 0.0       # seconds spent checking the outputs
        self.times: dict[str, float] = {}
        self.values: dict[str, float] = {}
        self.counts: dict[str, int] = {}
        self.step_s: dict[str, list[float]] = {}
        self.rounds: dict[str, list[dict]] = {}  # NN-descent round metrics
        self.ops: dict[str, bool] = {}   # operation -> succeeded and checked
        self.errors: list[str] = []

    def op(self, name: str, fn, tracer, **attrs):
        """Run one timed operation under a span; record its failure.
        ``between`` runs just after it, outside the timing."""
        t0, c0 = time.monotonic(), self.cpu_clock()
        try:
            with tracer.span(name, **attrs):
                out = fn()
        except Exception:
            self.ops[name] = False
            self.errors.append(f"{name} raised:\n{traceback.format_exc()}")
            raise
        finally:
            dt = time.monotonic() - t0
            self.wall += dt
            self.cpu += self.cpu_clock() - c0
            self.times[name] = dt
            self.between()
        self.ops[name] = True
        return out

    def check(self, name: str, ok: bool, what: str) -> None:
        if not ok:
            self.ops[name] = False
            self.errors.append(f"{name}: {what}")


def _median_excl_first(xs: list[float]) -> float:
    return statistics.median(xs[1:] if len(xs) > 1 else xs)


class GraphWorkload:
    """Transcripts -> union edge table -> PageRank (join engine, with
    parquet checkpoints) -> connected components -> label propagation ->
    a fixed-round PageRank on the CSR engine."""

    name = "graph"
    N_CONVS = 1000
    PR_TOL = 1e-5
    LP_ITERS = 2
    CSR_ITERS = 1

    def __init__(self, spark, work: str, seed: int, tracer, cpu_clock, between):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.cpu_clock, self.between = tracer, cpu_clock, between
        self.tx_path = os.path.join(work, "transcripts")

    def setup(self) -> None:
        synthesize_transcripts(self.spark, self.N_CONVS, self.seed).write.mode(
            "overwrite").parquet(self.tx_path)
        self.spark.read.parquet(self.tx_path).count()

    def run_pass(self, i: int) -> Pass:
        p, spark, tr = Pass(self.cpu_clock, self.between), self.spark, self.tracer
        tx = spark.read.parquet(self.tx_path)
        edges = union_graph(tx).persist()
        try:
            n_edges = p.op("operators.edges", edges.count, tr)
            pr = p.op("plans.pagerank", lambda: pagerank_auto(
                spark, edges, n_edges=n_edges, tol=self.PR_TOL,
                checkpoint_dir=os.path.join(self.work, f"ckpt-{i}")), tr)
            cc = p.op("plans.components",
                      lambda: connected_components(spark, edges), tr)
            lp = p.op("plans.labelprop", lambda: label_propagation(
                spark, edges, num_iters=self.LP_ITERS), tr)
            csr = p.op("operators.csr", lambda: pagerank_csr(
                spark, edges, num_iters=self.CSR_ITERS), tr)
        except Exception:
            edges.unpersist()
            return p

        results = {"pagerank": pr, "cc": cc, "lp": lp, "csr": csr}
        for key, res in results.items():
            p.counts[f"{key}.supersteps"] = res.supersteps
            p.step_s[key] = [m.seconds for m in res.metrics]
        p.counts["edges"] = n_edges
        for op, name in (("operators.edges", "edges_s"), ("plans.pagerank", "pagerank_s"),
                         ("plans.components", "cc_s"), ("plans.labelprop", "lp_s"),
                         ("operators.csr", "csr_pagerank_s")):
            p.values[name] = p.times[op]
        p.values["pagerank_edges_per_s"] = n_edges / _median_excl_first(
            p.step_s["pagerank"])
        t0 = time.monotonic()
        self._check(p, edges, results)
        p.check_s = time.monotonic() - t0
        edges.unpersist()
        for res in results.values():
            release_state(res.state)
        shutil.rmtree(os.path.join(self.work, f"ckpt-{i}"), ignore_errors=True)
        return p

    def _check(self, p: Pass, edges, results) -> None:
        e = edges.toPandas()
        src = e["src_vertex"].to_numpy(np.int64)
        dst = e["dst_vertex"].to_numpy(np.int64)
        w = e["weight"].to_numpy(np.float64)

        want = refs.derived_edges(pq.read_table(self.tx_path).to_pandas())
        by = {t: e[e["edge_type"] == t] for t in ("reply", "tool", "handoff")}
        got_reply = sorted(zip(by["reply"]["src_vertex"].tolist(),
                               by["reply"]["dst_vertex"].tolist()))
        got_handoff = sorted(zip(by["handoff"]["src_vertex"].tolist(),
                                 by["handoff"]["dst_vertex"].tolist(),
                                 by["handoff"]["weight"].tolist()))
        p.check("operators.edges",
                got_reply == want["reply"] and got_handoff == want["handoff"]
                and len(by["tool"]) == want["tool_edges"]
                and by["tool"]["weight"].sum() == want["tool_weight"]
                and len(e) == len(by["reply"]) + len(by["tool"]) + len(by["handoff"]),
                "edge table differs from the pandas derivation")

        verts = np.unique(np.concatenate([src, dst]))
        p.counts["vertices"] = len(verts)

        def state(res, col):
            s = res.state.toPandas().sort_values("vertex")
            return s["vertex"].to_numpy(np.int64), s[col].to_numpy()

        for key, op in (("pagerank", "plans.pagerank"), ("csr", "operators.csr")):
            v, score = state(results[key], "score")
            rv, rscore = refs.pagerank_np(src, dst, w, results[key].supersteps)
            p.check(op, np.array_equal(v, rv) and np.allclose(
                score, rscore, rtol=1e-6, atol=1e-12),
                f"scores differ from {results[key].supersteps} numpy power iterations")

        v, label = state(results["cc"], "label")
        rv, rlabel = refs.components_np(src, dst)
        p.check("plans.components", np.array_equal(v, rv)
                and np.array_equal(label.astype(np.int64), rlabel),
                "labels differ from union-find minimum ids")

        # the oracle keys vertices through float64; dense order-preserving
        # ranks keep its (weight desc, label asc) tie-break exact
        si, di = np.searchsorted(verts, src), np.searchsorted(verts, dst)
        sym = list(zip(np.r_[si, di].tolist(), np.r_[di, si].tolist(),
                       np.r_[w, w].tolist()))
        ref = oracle.label_propagation_ref(sym, self.LP_ITERS)
        v, label = state(results["lp"], "label")
        rlabel = verts[[ref[int(x)] for x in np.searchsorted(verts, v)]]
        p.check("plans.labelprop", np.array_equal(v, verts)
                and np.array_equal(label.astype(np.int64), rlabel),
                "labels differ from oracle.label_propagation_ref")

    def layer_metrics(self, tr, passes: list[Pass]) -> dict:
        """Per-layer metrics of the last pass, read from the trace."""
        p = passes[-1]
        last = _last_pass_spans(tr)
        m = dict(p.values)
        edges = tr.inclusive("operators.edges", last)
        m["edges.rows"] = p.counts.get("edges", 0)
        m["edges.busy_s"] = edges["run_s"]
        m["edges.shuffle_write_bytes"] = edges["shuffle_bytes"]

        steps = {k: p.step_s.get(k, []) for k in ("pagerank", "cc", "lp", "csr")}
        all_steps = sum(steps.values(), [])
        rs = tr.inclusive("plans.pregel.run_supersteps", last)
        m["pregel.supersteps"] = len(all_steps)
        m["pregel.step_s_p50"] = statistics.median(all_steps) if all_steps else 0.0
        m["pregel.step_s_max"] = max(all_steps, default=0.0)
        m["pregel.truncate_s"] = tr.inclusive("plans.pregel.truncate_state", last)["wall_s"]
        m["pregel.jobs_per_step"] = rs["jobs"] / max(len(all_steps), 1)
        m["pregel.tasks_per_step"] = rs["tasks"] / max(len(all_steps), 1)
        # a checkpointed run's wall outside its timed superstep bodies:
        # the parquet checkpoint and manifest writes, plus the initial cut
        ckpt = 0.0
        for s in tr.find("plans.pregel.run_supersteps", last):
            if s["attrs"].get("checkpoint"):
                ckpt += (s["end"] - s["start"]) - sum(s["attrs"]["step_s"])
        m["pregel.ckpt_write_s"] = ckpt

        def per_step(layer, key):
            u = tr.inclusive(layer, last)
            n = max(len(steps[key]), 1)
            return u, u["shuffle_bytes"] / n

        pr, m["pagerank.shuffle_bytes_per_step"] = per_step("plans.pagerank", "pagerank")
        m["pagerank.supersteps"] = p.counts.get("pagerank.supersteps", 0)
        m["pagerank.busy_ratio"] = pr["run_s"] / (
            pr["wall_s"] * self.spark.sparkContext.defaultParallelism)
        _, m["cc.shuffle_bytes_per_step"] = per_step("plans.components", "cc")
        m["cc.supersteps"] = p.counts.get("cc.supersteps", 0)
        m["cc.step_s_p50"] = statistics.median(steps["cc"]) if steps["cc"] else 0.0
        _, m["lp.shuffle_bytes_per_step"] = per_step("plans.labelprop", "lp")
        m["lp.step_s_p50"] = statistics.median(steps["lp"]) if steps["lp"] else 0.0
        _, m["csr.shuffle_bytes_per_step"] = per_step("operators.csr", "csr")
        m["csr.first_step_s"] = steps["csr"][0] if steps["csr"] else 0.0
        return m


class KnnStreamWorkload:
    """Streaming kNN-graph maintenance: a bootstrap batch (fused
    NN-descent and a base commit), a blocked NN-descent build of the same
    base vectors, incremental insert batches (greedy search + graph_add,
    a delta generation and a ledger commit; the last one triggers
    compaction), then read_graph and a triangle count over the
    maintained graph."""

    name = "knn-stream"
    DIM = 64
    K = 10
    N_BASE = 2000
    N_BATCHES = 1
    BATCH = 250
    N_QUERIES = 200
    BLOCKED_ITERS = 3

    def __init__(self, spark, work: str, seed: int, tracer, cpu_clock, between):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.cpu_clock, self.between = tracer, cpu_clock, between
        self.n_total = self.N_BASE + self.N_BATCHES * self.BATCH
        self.paths = [os.path.join(work, f"vectors-{b}.parquet")
                      for b in range(self.N_BATCHES + 1)]
        self.x = None
        self.nnd_metrics: list[list[dict]] = []
        # nn_descent runs inside apply_embedding_batch, which drops its
        # per-round metrics; keep them for the round counts
        orig = knn_graph.nn_descent

        def nn_descent(*args, **kwargs):
            graph, metrics = orig(*args, **kwargs)
            self.nnd_metrics.append(metrics)
            return graph, metrics

        knn_graph.nn_descent = nn_descent

    def setup(self) -> None:
        self.x = refs.hier_vectors(self.n_total, self.DIM, self.seed)
        bounds = [0] + [self.N_BASE + b * self.BATCH
                        for b in range(self.N_BATCHES + 1)]
        for path, lo, hi in zip(self.paths, bounds, bounds[1:]):
            refs.write_vectors(path, np.arange(lo, hi), self.x[lo:hi])
            self.spark.read.parquet(path).count()

    def run_pass(self, i: int) -> Pass:
        p, spark, tr = Pass(self.cpu_clock, self.between), self.spark, self.tracer
        wd = os.path.join(self.work, f"stream-{i}")
        n_before = len(self.nnd_metrics)
        batch_s = []
        try:
            p.op("streaming.knn_maintain.bootstrap", lambda: apply_embedding_batch(
                spark, spark.read.parquet(self.paths[0]), wd, k=self.K,
                batch_id=0, compact_after=self.N_BATCHES), tr, batch=0)
            boot = read_graph(spark, wd).toPandas()  # untimed snapshot
            n_fused = len(self.nnd_metrics)
            blocked = p.op("operators.knn_graph.blocked", lambda: knn_graph.nn_descent(
                spark, spark.read.parquet(self.paths[0]), k=self.K,
                max_iters=self.BLOCKED_ITERS, mode="blocked")[0].toPandas(), tr)
            for b in range(1, self.N_BATCHES + 1):
                p.op(f"streaming.knn_maintain.insert-{b}",
                     lambda b=b: apply_embedding_batch(
                         spark, spark.read.parquet(self.paths[b]), wd,
                         k=self.K, batch_id=b, compact_after=self.N_BATCHES),
                     tr, batch=b)
                batch_s.append(p.times[f"streaming.knn_maintain.insert-{b}"])
            graph = read_graph(spark, wd).persist()
            p.op("streaming.knn_maintain.read_graph", graph.count, tr)
            tri = p.op("plans.triangles", lambda: count_triangles(graph.select(
                F.col("src").alias("src_vertex"),
                F.col("dst").alias("dst_vertex"))), tr)
        except Exception:
            shutil.rmtree(wd, ignore_errors=True)
            return p

        boot_s = p.times["streaming.knn_maintain.bootstrap"]
        p.rounds = {"nnd": [r for r in self.nnd_metrics[n_before] if "superstep" in r],
                    "nnd_blocked": [r for r in self.nnd_metrics[n_fused]
                                    if "superstep" in r]}
        for key, rounds in p.rounds.items():
            p.counts[f"{key}.rounds"] = len(rounds)
            p.step_s[key] = [r["wall_sec"] for r in rounds]
        p.counts["vectors"] = self.n_total
        p.counts["triangles"] = tri
        rounds = p.rounds["nnd"]
        p.values["nnd.update_rate_last"] = rounds[-1]["update_rate"] if rounds else 0.0
        p.values["knn_bootstrap_s"] = boot_s
        p.values["knn_build_vecs_per_s"] = self.N_BASE / boot_s
        p.values["knn_blocked_s"] = p.times["operators.knn_graph.blocked"]
        p.values["knn_insert_batch_s_p50"] = statistics.median(batch_s)
        p.values["knn_insert_batch_s_max"] = max(batch_s)

        t0 = time.monotonic()
        g = graph.toPandas()
        graph.unpersist()
        self._check(p, boot, blocked, g, tri)
        p.check_s = time.monotonic() - t0
        shutil.rmtree(wd, ignore_errors=True)
        return p

    def _check(self, p: Pass, boot: pd.DataFrame, blocked: pd.DataFrame,
               g: pd.DataFrame, tri: int) -> None:
        base_q = np.linspace(0, self.N_BASE - 1, self.N_QUERIES).astype(np.int64)
        for op, key, graph in (("streaming.knn_maintain.bootstrap", "knn_recall", boot),
                               ("operators.knn_graph.blocked", "knn_blocked_recall",
                                blocked)):
            recall = refs.recall_at_k(graph, self.x[: self.N_BASE], base_q, self.K)
            p.values[key] = recall
            p.check(op, recall >= 0.9, f"recall@{self.K} {recall:.4f} below 0.9")

        # reported, not gated: inserted points are known to be found badly
        all_q = np.linspace(0, self.n_total - 1, self.N_QUERIES).astype(np.int64)
        p.values["knn_recall_after_insert"] = refs.recall_at_k(g, self.x, all_q, self.K)
        p.values["knn_recall_inserted"] = refs.recall_at_k(
            g, self.x, np.arange(self.N_BASE, self.n_total), self.K)

        defects = refs.graph_defects(g, self.x, self.K)
        p.check("streaming.knn_maintain.read_graph", not defects, "; ".join(defects))
        want = refs.triangles_np(g["src"].to_numpy(np.int64), g["dst"].to_numpy(np.int64))
        p.check("plans.triangles", tri == want,
                f"count_triangles {tri} != numpy count {want}")

    def layer_metrics(self, tr, passes: list[Pass]) -> dict:
        p = passes[-1]
        last = _last_pass_spans(tr)
        m = dict(p.values)
        # nnd.* read the fused bootstrap, nnd_blocked.* the blocked build
        for key, op in (("nnd", "streaming.knn_maintain.bootstrap"),
                        ("nnd_blocked", "operators.knn_graph.blocked")):
            within = set().union(*(tr.subtree(s["id"]) for s in tr.find(op, last)))
            nnd = tr.inclusive("operators.knn_graph.nn_descent", within)
            rounds = p.step_s.get(key, [])
            fresh = slots = 0
            for r in p.rounds.get(key, []):
                if r["update_rate"] > 0:
                    fresh += r["new_entries"]
                    slots += r["new_entries"] / r["update_rate"]
            m[f"{key}.rounds"] = p.counts.get(f"{key}.rounds", 0)
            m[f"{key}.round_s_p50"] = statistics.median(rounds) if rounds else 0.0
            m[f"{key}.useful_ratio"] = fresh / slots if slots else 0.0
            m[f"{key}.shuffle_bytes_per_round"] = (
                nnd["shuffle_bytes"] / max(len(rounds), 1))
            m[f"{key}.spill_bytes"] = nnd["spill_bytes"]
            m[f"{key}.gc_s"] = nnd["gc_s"]

        greedy = tr.inclusive("operators.knn_search.greedy_search", last)
        m["search.greedy_s"] = greedy["wall_s"]
        m["search.jobs_per_batch"] = greedy["jobs"] / max(greedy["calls"], 1)

        m["maintain.delta_write_s"] = sum(
            s["end"] - s["start"]
            for s in tr.find("streaming.knn_maintain.atomic_dir", last)
            if os.path.basename(s["attrs"]["path"]).startswith("delta-"))
        inserts = set()
        for s in tr.spans:
            if s["id"] in last and s["name"].startswith("streaming.knn_maintain.insert-"):
                inserts |= tr.subtree(s["id"])
        m["maintain.compaction_s"] = tr.inclusive(
            "streaming.knn_maintain.commit_base", inserts)["wall_s"]
        m["maintain.read_graph_s"] = p.times.get("streaming.knn_maintain.read_graph", 0.0)
        m["maintain.bytes_written"] = sum(
            tr.usage(tr.subtree(s["id"]))["output_bytes"]
            for s in tr.spans
            if s["id"] in last and s["name"].startswith("streaming.knn_maintain."))
        m["triangles.count"] = p.counts.get("triangles", 0)
        m["triangles.s"] = p.times.get("plans.triangles", 0.0)
        return m


def _last_pass_spans(tr) -> set[int]:
    """Ids of the spans recorded during the last pass."""
    marks = [s["id"] for s in tr.spans if s["name"] == "pass"]
    return set(range(marks[-1], len(tr.spans))) if marks else set(range(len(tr.spans)))


WORKLOADS = {w.name: w for w in (GraphWorkload, KnnStreamWorkload)}


def trace_layers(tracer) -> None:
    """Wrap the deeper layers' exported functions for the traced run."""
    from kgraph_framework_spark.operators import (
        csr, knn_search, nnd_blocked, nnd_fused)
    from kgraph_framework_spark.plans import pregel
    from kgraph_framework_spark.streaming import knn_maintain

    def step_s(result):
        return {"step_s": [m.seconds for m in result.metrics]}

    tracer.wrap(pregel, "run_supersteps", "plans.pregel.run_supersteps",
                on_call=lambda a, kw: {"checkpoint": bool(kw.get("checkpoint_dir"))},
                on_return=step_s)
    tracer.wrap(pregel, "truncate_state", "plans.pregel.truncate_state")
    tracer.wrap(csr, "build_csr_blocks", "operators.csr.build_csr_blocks")
    tracer.wrap(knn_graph, "nn_descent", "operators.knn_graph.nn_descent")
    tracer.wrap(nnd_fused, "nn_descent_fused", "operators.nnd_fused.nn_descent_fused")
    tracer.wrap(nnd_blocked, "nn_descent_blocked",
                "operators.nnd_blocked.nn_descent_blocked")
    tracer.wrap(knn_search, "greedy_search", "operators.knn_search.greedy_search")
    tracer.wrap(knn_search, "graph_add", "operators.knn_search.graph_add")
    tracer.wrap(knn_maintain, "read_graph", "streaming.knn_maintain.read_graph_call")
    # the delta-generation write and the compaction have no exported
    # function of their own; their module-level helpers are wrapped
    tracer.wrap(knn_maintain, "_atomic_dir", "streaming.knn_maintain.atomic_dir",
                on_call=lambda a, kw: {"path": a[1]})
    tracer.wrap(knn_maintain, "_commit_base", "streaming.knn_maintain.commit_base")
