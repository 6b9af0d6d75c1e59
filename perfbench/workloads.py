"""The two workloads. Each one writes its seeded input (``build``), loads it
(``load``), runs timed passes of public engine calls (``run_pass``) and
checks a pass's outputs against an independent computation (``check``).

Every engine call goes through ``Tracer.call`` with the action that
materializes its result, so a call's wall time is the work it caused.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from graph_partitioning_spark.graph import (
    build_vertex_dictionary,
    connected_components,
    extract_edges,
    extract_links,
    label_propagation,
    pagerank,
    triangle_count,
    undirect,
    weight_links,
)
from graph_partitioning_spark.graph.edges import symmetrize
from graph_partitioning_spark.graph.iterutil import release
from graph_partitioning_spark.partitioning import (
    FennelConfig,
    cut_metrics,
    fennel_partition,
    modular_initial,
    refine_boundary,
    waste,
)

from . import inputs, oracles
from .trace import TimedCheckpointManager


def _cached(df):
    df = df.persist()
    df.count()
    return df


def _counted(result):
    result[0].count()
    return result


class Workload:
    why = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.work, "input")

    def build(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def run_pass(self, tr, index: int) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def release(self, out: dict) -> None:
        for df in out["frames"]:
            release(df)

    def close(self) -> None:
        pass

    # shared checks ---------------------------------------------------------
    def _check_pagerank(self, ranks, src, dst, iters=None, tol=None) -> list[str]:
        ids, want, it = oracles.pagerank(src, dst, iters=iters, tol=tol)
        got = oracles.collect(ranks, "id")
        if not np.array_equal(got["id"].to_numpy(), ids):
            return ["pagerank: vertex set differs from the edge list's"]
        if not np.allclose(got["pagerank"].to_numpy(), want, rtol=1e-9, atol=1e-15):
            return [f"pagerank: ranks differ from power iteration ({it} supersteps)"]
        return []

    def _check_assignment(self, got: pd.DataFrame, src, dst, k) -> list[str]:
        errs = []
        if got["id"].duplicated().any():
            errs.append("fennel: a vertex is assigned twice")
        if not np.isin(np.unique(np.concatenate([src, dst])), got["id"].to_numpy()).all():
            errs.append("fennel: an edge endpoint is unassigned")
        if not got["partition"].between(0, k - 1).all():
            errs.append("fennel: partition id out of range")
        return errs


class CrawlPipeline(Workload):
    why = ("north-star path on a skewed web graph: Arrow HTML parse, url-to-id shuffle joins, "
           "FENNEL's web-scale shuffle path, cut metrics, fixed PageRank supersteps")
    N_PAGES = 8000
    K = 16
    PR_STEPS = 8
    FENNEL = FennelConfig(
        num_partitions=K, num_iterations=1, micro_batches=2, bucket_by="mod",
        inflow_cap_slack=0.1, broadcast_state_max=0,
    )

    def build(self):
        self.pages = inputs.Pages(self.N_PAGES, self.ctx.seed)
        self.pages.write(os.path.join(self.dir, "pages"), n_files=2 * self.ctx.cores)

    def load(self):
        # at this size Spark would broadcast the url->id joins; at crawl
        # scale they shuffle, so make them shuffle here too
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def run_pass(self, tr, index):
        pages = self.spark.read.parquet(os.path.join(self.dir, "pages"))
        weighted = tr.call("edges.extract_links", lambda: _cached(weight_links(extract_links(pages))))
        ingest = tr.last_wall
        verts = tr.call("edges.vertex_dict", lambda: _cached(build_vertex_dictionary(pages, links=weighted)))
        ingest += tr.last_wall
        edges = tr.call("edges.extract_edges", lambda: _cached(extract_edges(pages, verts, weighted=weighted)))
        ingest += tr.last_wall
        und = tr.call("edges.undirect", lambda: _cached(undirect(edges)))
        ingest += tr.last_wall
        initial = modular_initial(verts.select("id"), self.K)
        assign, _ = tr.call("fennel.partition", lambda: _counted(fennel_partition(und, self.FENNEL, initial=initial)))
        partition_s = tr.last_wall
        cm, w = tr.call("metrics.cut", lambda: (cut_metrics(und.select("src", "dst"), assign), waste(assign, self.K)))
        ranks, info = tr.call("pagerank.run", lambda: _counted(pagerank(edges, tol=0.0, max_iter=self.PR_STEPS)))
        return {
            "frames": [weighted, verts, edges, und, assign, ranks],
            "verts": verts, "edges": edges, "und": und, "assign": assign, "ranks": ranks,
            "cm": cm, "waste": w,
            "summary": (cm["cut_ratio"], w, info["n_edges"], info["iterations"]),
            "pr": [info], "partition_s": partition_s,
            "report": {
                "pages_per_s": (self.N_PAGES / ingest, "1/s"),
                "cut_ratio": (cm["cut_ratio"], "ratio"),
                "waste": (w, "ratio"),
            },
        }

    def check(self, out):
        p = self.pages
        order = np.argsort(np.array(p.urls))
        rank = np.empty(len(order), np.int64)
        rank[order] = np.arange(len(order))
        errs = []
        got_v = oracles.collect(out["verts"], "id")
        if got_v["url"].tolist() != sorted(p.urls) or not np.array_equal(got_v["id"], np.arange(len(p.urls))):
            errs.append("vertex_dict: ids are not the dense sorted-url order")
        want = (
            pd.DataFrame({"src": rank[p.src], "dst": rank[p.dst]})
            .value_counts().rename("weight").astype(float).reset_index()
            .sort_values(["src", "dst"]).reset_index(drop=True)
        )
        got_e = oracles.collect(out["edges"], "src", "dst")
        if not got_e[["src", "dst", "weight"]].equals(want):
            errs.append("extract_edges: edge table differs from the pages' hrefs")
        canon = (
            pd.DataFrame({"src": np.minimum(want.src, want.dst), "dst": np.maximum(want.src, want.dst), "weight": want.weight})
            .groupby(["src", "dst"], as_index=False)["weight"].sum()
        )
        got_u = oracles.collect(out["und"], "src", "dst")
        if not got_u[["src", "dst", "weight"]].equals(canon):
            errs.append("undirect: canonical edge list differs")
        src, dst = canon.src.to_numpy(), canon.dst.to_numpy()
        assign = oracles.collect(out["assign"], "id")
        errs += self._check_assignment(assign, src, dst, self.K)
        cut, wst = oracles.cut_and_waste(src, dst, assign.set_index("id")["partition"], self.K)
        if abs(cut - out["cm"]["cut_ratio"]) > 1e-12 or abs(wst - out["waste"]) > 1e-12:
            errs.append(f"metrics: cut/waste {out['cm']['cut_ratio']}/{out['waste']} != recomputed {cut}/{wst}")
        errs += self._check_pagerank(out["ranks"], want.src.to_numpy(), want.dst.to_numpy(), iters=self.PR_STEPS)
        return errs


class CopurchaseSmall(Workload):
    why = ("small dense graph: per-job driver overhead, PageRank prepare, CC/LPA/triangle loops, "
           "refinement, FENNEL's broadcast path resumed from a parquet checkpoint")
    N_ORDERS = 15000
    N_PARTS = 2500
    K = 8
    # the configurations of the engine's DuckDB gate queries refine_level,
    # labelprop4 and triangle_total, so their twins in oracle_sql() check
    # the outputs
    SWEEPS = 2
    LPA_ITERS = 4
    FENNEL_ITERS = 2
    BUCKETS = 2

    def _fennel(self, iterations):
        return FennelConfig(
            num_partitions=self.K, num_iterations=iterations, micro_batches=self.BUCKETS,
            bucket_by="mod", checkpoint_every=1,
        )

    def build(self):
        inputs.write_lineitem(self.dir, self.N_ORDERS, self.N_PARTS, self.ctx.seed)

    def load(self):
        import __spark_entry__ as entry

        self.entry = entry
        self.edges = entry.copurchase_edges(self.spark, self.dir)
        self.edges.count()
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{os.path.join(self.dir, 'lineitem.parquet')}'"
        )
        self.u_np = self.con.execute(
            "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) "
            "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM li a JOIN li b "
            "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        ).df()
        # a FENNEL run stopped after its first restream pass: its manifest
        # is where every timed pass resumes from; an uninterrupted run is
        # what each resumed one must equal
        self.stopped = TimedCheckpointManager(os.path.join(self.ctx.work, "checkpoints"), "stopped")
        stopped, _ = _counted(fennel_partition(self.edges, self._fennel(1), checkpointer=self.stopped))
        release(stopped)
        full, _ = fennel_partition(self.edges, self._fennel(self.FENNEL_ITERS))
        self.uninterrupted = oracles.collect(full, "id")
        release(full)

    def run_pass(self, tr, index):
        e = self.edges
        memo = set(self.entry._EDGE_CACHE)
        ranks, info = tr.call("pagerank.run", lambda: _counted(pagerank(symmetrize(e), tol=1e-6, max_iter=100)))
        pr_s = tr.last_wall
        comp, cinfo = tr.call("components.run", lambda: _counted(connected_components(e)))
        labels, _ = tr.call("labelprop.run", lambda: _counted(label_propagation(e, max_iter=self.LPA_ITERS)))
        tri = tr.call("triangles.run", lambda: triangle_count(e))
        ckpt = TimedCheckpointManager(self.stopped.base_dir, f"resumed-{index}")
        shutil.copy(self.stopped.latest_manifest_path(), ckpt.run_dir)
        assign, _ = tr.call("fennel.partition", lambda: _counted(
            fennel_partition(e, self._fennel(self.FENNEL_ITERS), checkpointer=ckpt)))
        resume_s = tr.last_wall
        ids = e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id"))).distinct()
        init = ids.select("id", (F.col("id") % self.K).cast("int").alias("partition"))
        refined, _ = tr.call("multilevel.refine", lambda: _counted(
            refine_boundary(e, init, k=self.K, slack=0.1, sweeps=self.SWEEPS)))
        return {
            "frames": [ranks, comp, labels, assign, refined],
            "memo": set(self.entry._EDGE_CACHE) - memo,
            "dir": ckpt.run_dir,
            "ranks": ranks, "comp": comp, "labels": labels, "tri": tri,
            "assign": assign, "refined": refined, "resumed_loads": ckpt.loads,
            "summary": (info["iterations"], cinfo["iterations"], tri),
            "pr": [info], "cc_iters": cinfo["iterations"],
            "partition_s": resume_s,
            "checkpoint": {
                "checkpoint.save_s": ckpt.save_s,
                "checkpoint.load_s": ckpt.load_s,
                "checkpoint.bytes": float(ckpt.bytes),
                "checkpoint.resume_s": resume_s,
            },
            "report": {
                "pagerank_tol1e-6_s": (pr_s, "s"),
                "resume_s": (resume_s, "s"),
                "checkpoint_mb": (ckpt.bytes / 1e6, "MB"),
            },
        }

    def release(self, out):
        super().release(out)
        shutil.rmtree(out["dir"], ignore_errors=True)
        # a memo the pass left in the entry module would serve the next
        # pass warm
        for key in out["memo"]:
            release(self.entry._EDGE_CACHE.pop(key, None))

    def check(self, out):
        u = self.u_np
        src, dst = u.src.to_numpy(), u.dst.to_numpy()
        errs = self._check_pagerank(
            out["ranks"], np.concatenate([src, dst]), np.concatenate([dst, src]), tol=1e-6
        )
        want = oracles.components(src, dst)
        got = oracles.collect(out["comp"], "id")
        if not (np.array_equal(got["id"], want.index) and np.array_equal(got["component"], want)):
            errs.append("components: differ from union-find")
        twins = self.entry.oracle_sql()
        want = self.con.execute(twins["labelprop4"] + " ORDER BY id").df()
        got = oracles.collect(out["labels"], "id")
        if not (np.array_equal(got["id"], want["id"]) and np.array_equal(got["label"], want["label"])):
            errs.append("labelprop: labels differ from the DuckDB twin")
        if out["tri"] != self.con.execute(twins["triangle_total"]).fetchone()[0]:
            errs.append("triangles: count differs from the DuckDB twin")
        if out["resumed_loads"] != 1:
            errs.append("fennel: the call did not resume from the stopped run's manifest")
        assign = oracles.collect(out["assign"], "id")
        errs += self._check_assignment(assign, src, dst, self.K)
        if not assign.equals(self.uninterrupted):
            errs.append("fennel: the resumed run differs from an uninterrupted one")
        want = self.con.execute(twins["refine_level"] + " ORDER BY id").df()
        got = oracles.collect(out["refined"], "id")
        if not (np.array_equal(got["id"], want["id"]) and np.array_equal(got["partition"], want["partition"])):
            errs.append("refine: assignment differs from the DuckDB twin")
        return errs

    def close(self):
        self.con.close()


WORKLOADS = {
    "crawl_pipeline": CrawlPipeline,
    "copurchase_small": CopurchaseSmall,
}
