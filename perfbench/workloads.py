"""The benchmark's three workloads: seeded inputs, one repeat, checks.

All three are closed loops -- one client, one Spark job at a time. Each
run measures one repeat, the first in its JVM, as the CLI runs a job --
never a mix of cold and warm repeats. The
seed picks a bijective relabelling ``k -> (a*k + b) mod n`` of vertex ids,
so every seed gives the same graph under a different id layout; each
check compares a label-invariant answer with the value pinned in
``PINNED`` (computed by ``oracle.py`` without Spark).

- ``pagerank``: FogPageRank, 10 fixed iterations, no checkpoint store, on
  the persisted F2 graph plus planted hubs whose out-degree exceeds
  ``graph.DEFAULT_HUB_CAP`` (engine scatter join, gather exchange, salted
  adjacency).
- ``connectivity``: engine ConnectedComponents to convergence, then
  ``algos.scc`` on the same hub-free F2 graph (many short iterations; job
  scheduling dominates).
- ``pages_e2e``: the CLI path. Seeded pages -> ``edges_from_pages``
  (unpersisted) -> FogPageRankMilli with a fresh checkpoint dir and
  lineage on, stopped at iteration 2 as if crashed, resumed by a second
  engine to iteration 14, then top-k.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fog_spark.algos import ConnectedComponents, FogPageRank, FogPageRankMilli
from fog_spark.algos.components import component_sizes
from fog_spark.algos.scc import scc, scc_sizes
from fog_spark.functions.extract import edges_from_pages
from fog_spark.plans.checkpoint import make_checkpoint_store
from fog_spark.plans.engine import RunResult, ScatterGatherEngine
from fog_spark.plans.materialize import Materializer
from fog_spark.sources.pages import generate_edges

from spans import Span, Tracer

SIZES = {
    "pagerank": {"docs": 300_000, "hubs": 2, "hub_degree": 101_000, "iters": 10, "topk": 10},
    "connectivity": {"docs": 2_000},
    "pages_e2e": {"docs": 5_000, "crash_iters": 2, "iters": 14, "topk": 10},
}

# label-invariant answers for SIZES, from `python3 perfbench/oracle.py`
PINNED = {
    "pagerank": {
        "edges": 1_251_997,
        "vertices": 299_959,
        "topk": [
            2964.16520935914, 2822.676447538979, 2760.3149780850654,
            2705.89184588303, 2561.421609400138, 2557.5943073424924,
            2467.797294856633, 2463.3883446282343, 2441.1787632982596,
            2425.5402368761097,
        ],
    },
    "connectivity": {
        "edges": 7_035,
        "components": 1,
        "largest_component": 1_999,
        "sccs": 297,
        "largest_scc": 1_703,
    },
    "pages_e2e": {
        "edges": 17_754,
        "vertices": 4_999,
        "rank_milli_sum": 21_356_834_014_829,
        "topk_milli": [
            18_255_204_435, 18_101_624_198, 17_548_466_479, 17_356_155_212, 16_497_097_696,
            16_374_951_610, 15_734_399_305, 15_680_550_153, 15_580_200_542, 15_452_691_635,
        ],
    },
}


@dataclass
class Rep:
    """One repeat of a workload: its timed wall and everything checked."""
    wall_s: float = 0.0
    n_edges: int = 0  # the engine's input edges
    checks: list[tuple[str, bool]] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def eq(self, name: str, got, want) -> None:
        self.checks.append((name, got == want))

    def close(self, name: str, got: list[float], want: list[float], rtol: float = 1e-6) -> None:
        ok = len(got) == len(want) and all(
            math.isclose(g, w, rel_tol=rtol, abs_tol=rtol) for g, w in zip(got, want)
        )
        self.checks.append((name, ok))


def relabelling(seed: int, n: int) -> tuple[int, int]:
    """(a, b) with gcd(a, n) == 1, so k -> (a*k + b) mod n is a bijection."""
    rng = random.Random(seed)
    while True:
        a = rng.randrange(1, n)
        if math.gcd(a, n) == 1:
            return a, rng.randrange(n)


def record_engine(sp: Span, res: RunResult, first_new: int) -> None:
    new = [h for h in res.history if h["iteration"] >= first_new]
    sp.info["iter_walls"] = [h["wall_time_ms"] / 1000 for h in new]
    sp.info["messages"] = [h["messages"] for h in new]


def topk(df: DataFrame, col: str, k: int) -> list:
    return [r[0] for r in df.orderBy(F.desc(col)).limit(k).select(col).collect()]


class Workload:
    name = "abstract"

    def __init__(self, spark: SparkSession, seed: int, workdir: str,
                 sizes: dict | None = None, pinned: dict | None = None):
        self.spark = spark
        self.size = (sizes or SIZES)[self.name]
        self.want = (pinned or PINNED)[self.name]
        self.n = self.size["docs"]
        self.a, self.b = relabelling(seed, self.n)
        self.workdir = workdir
        self.mat = Materializer(spark)
        self.inputs: list[DataFrame] = []

    def relabel(self, c):
        return F.pmod(c * F.lit(self.a) + F.lit(self.b), F.lit(self.n))

    def f2(self) -> DataFrame:
        """The F2 generator graph (``sources.pages``), relabelled."""
        e = generate_edges(self.spark, self.n)
        return e.select(self.relabel(F.col("src")).alias("src"), self.relabel(F.col("dst")).alias("dst"))

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self.inputs.append(df)
        return df

    def setup(self) -> int:
        """Materialise the inputs; returns the input edge count."""
        raise NotImplementedError

    def release(self) -> None:
        for df in self.inputs:
            df.unpersist(blocking=True)
        self.inputs = []

    def rep(self, tr: Tracer) -> Rep:
        raise NotImplementedError

    def layer_extras(self, rep: Rep) -> dict:
        """Per-layer numbers read outside the timed section (traced only)."""
        return {}

    def cleanup(self, rep: Rep) -> None:
        """Remove what one repeat left on disk."""


class PageRankWorkload(Workload):
    name = "pagerank"

    def setup(self) -> int:
        s = self.size
        i = F.col("id")
        j = F.pmod(i, F.lit(s["hubs"]))
        hubs = self.spark.range(0, s["hubs"] * s["hub_degree"], 1, 4).select(
            self.relabel(j * (self.n // s["hubs"])).alias("src"),
            self.relabel(F.pmod(F.expr(f"id div {s['hubs']}") * 97 + j * 31 + 1, F.lit(self.n))).alias("dst"),
        )
        self.edges = self.persist(self.f2().unionByName(hubs))
        self.n_edges = self.edges.count()
        return self.n_edges

    def rep(self, tr: Tracer) -> Rep:
        rep, s = Rep(), self.size
        t0 = time.monotonic()
        with tr.span("engine") as sp:
            res = ScatterGatherEngine(self.spark).run(FogPageRank(niters=s["iters"]), self.edges)
            record_engine(sp, res, 1)
        with tr.span("output"):
            top = topk(res.state, "rank", s["topk"])
            n_vert = res.state.count()
        rep.wall_s = time.monotonic() - t0
        rep.eq("input edges", self.n_edges, self.want["edges"])
        rep.eq("iterations", res.iterations, s["iters"])
        rep.eq("vertices", n_vert, self.want["vertices"])
        rep.close("top-k ranks", top, self.want["topk"])
        rep.n_edges = self.n_edges
        self.mat.free(res.state)
        return rep


class ConnectivityWorkload(Workload):
    name = "connectivity"

    def setup(self) -> int:
        self.edges = self.persist(self.f2())
        self.n_edges = self.edges.count()
        return self.n_edges

    def rep(self, tr: Tracer) -> Rep:
        rep = Rep()
        t0 = time.monotonic()
        with tr.span("engine") as sp:
            res = ScatterGatherEngine(self.spark).run(ConnectedComponents(), self.edges)
            record_engine(sp, res, 1)
        with tr.span("output"):
            n_cc, big_cc = component_sizes(res.state).agg(F.count("*"), F.max("size")).first()
        with tr.span("scc") as sp:
            rounds: list[float] = []
            labels = scc(self.edges, round_walls=rounds)
            sp.info["rounds"] = len(rounds)
        with tr.span("output"):
            n_scc, big_scc = scc_sizes(labels).agg(F.count("*"), F.max("size")).first()
        rep.wall_s = time.monotonic() - t0
        rep.eq("input edges", self.n_edges, self.want["edges"])
        rep.eq("cc converged", res.converged, True)
        rep.eq("components", n_cc, self.want["components"])
        rep.eq("largest component", big_cc, self.want["largest_component"])
        rep.eq("sccs", n_scc, self.want["sccs"])
        rep.eq("largest scc", big_scc, self.want["largest_scc"])
        rep.n_edges = self.n_edges
        self.mat.free(res.state)
        self.mat.free(labels)
        return rep


class PagesE2EWorkload(Workload):
    name = "pages_e2e"

    def setup(self) -> int:
        """Seeded pages whose anchors are the relabelled F2 edges, written
        as parquet -- the CLI's ``--format pages`` input."""
        n_sites = max(4, self.n // 100)

        def url(c):
            return F.concat(
                F.lit("https://site"), F.pmod(c, F.lit(n_sites)).cast("string"),
                F.lit(".example/p/"), c.cast("string"),
            )

        anchors = self.f2().groupBy("src").agg(
            F.array_join(
                F.transform(F.collect_list("dst"), lambda d: F.concat(F.lit('<a href="'), url(d), F.lit('">t</a>'))),
                "",
            ).alias("anchors")
        )
        ids = self.spark.range(0, self.n, 1, 4).select(self.relabel(F.col("id")).alias("k"))
        pages = ids.join(anchors, ids["k"] == anchors["src"], "left").select(
            url(F.col("k")).alias("url"),
            F.encode(F.concat(
                F.lit("<html><head><title>doc "), F.col("k").cast("string"),
                F.lit("</title></head><body>doc "), F.col("k").cast("string"), F.lit(" "),
                F.coalesce(F.col("anchors"), F.lit("")), F.lit("</body></html>"),
            ), "UTF-8").alias("html"),
        )
        self.pages_path = os.path.join(self.workdir, "pages.parquet")
        pages.write.mode("overwrite").parquet(self.pages_path)
        return self.want["edges"]

    def rep(self, tr: Tracer) -> Rep:
        rep, s = Rep(), self.size
        ckpt = os.path.join(self.workdir, "ckpt")
        run_id = "e2e"
        algo = FogPageRankMilli(niters=s["iters"])
        t0 = time.monotonic()
        pages = self.spark.read.parquet(self.pages_path)
        with tr.span("extract"):
            edges = edges_from_pages(pages)
            n_edges = edges.count()
        with tr.span("engine") as sp:
            crashed = ScatterGatherEngine(self.spark, checkpoint_dir=ckpt).run(
                algo, edges, max_iters=s["crash_iters"], run_id=run_id
            )
            record_engine(sp, crashed, 1)
        with tr.span("checkpoint"):
            store = make_checkpoint_store(self.spark, ckpt)
            latest = store.latest_complete(run_id, algo.name)
            n_saved = store.read_state(run_id, algo.name, latest).count()
        with tr.span("engine") as sp:
            res = ScatterGatherEngine(self.spark, checkpoint_dir=ckpt).run(
                algo, edges, max_iters=s["iters"], run_id=run_id
            )
            record_engine(sp, res, s["crash_iters"] + 1)
        with tr.span("output"):
            total, n_vert = res.state.agg(F.sum("rank_milli"), F.count("*")).first()
            top = topk(res.state, "rank_milli", s["topk"])
        rep.wall_s = time.monotonic() - t0
        rep.eq("extracted edges", n_edges, self.want["edges"])
        rep.eq("crash checkpoint iteration", latest, s["crash_iters"])
        rep.eq("checkpointed vertices", n_saved, self.want["vertices"])
        rep.eq("resumed iterations", res.iterations, s["iters"])
        rep.eq("vertices", n_vert, self.want["vertices"])
        rep.eq("rank_milli checksum", total, self.want["rank_milli_sum"])
        rep.eq("top-k rank_milli", top, self.want["topk_milli"])
        rep.n_edges = n_edges
        rep.extra.update(ckpt=ckpt, store=store, iters=s["iters"])
        return rep

    def layer_extras(self, rep: Rep) -> dict:
        ckpt = rep.extra["ckpt"]
        n_files, state_bytes = 0, 0
        for root, _, files in os.walk(ckpt):
            n_files += len(files)
            if os.sep + "iter=" in root:
                state_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {
            "checkpoint.bytes_per_iter": state_bytes / rep.extra["iters"],
            "checkpoint.files": n_files,
            "checkpoint.lineage_rows": rep.extra["store"].read_lineage().count(),
        }

    def cleanup(self, rep: Rep) -> None:
        shutil.rmtree(rep.extra["ckpt"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (PageRankWorkload, ConnectivityWorkload, PagesE2EWorkload)}
