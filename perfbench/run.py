"""Benchmark entry point.

    python3 perfbench/run.py --workload pagerank --seed 1 --seconds 12 --trace 0

Run from the repository root. Starts a local[4] Spark session, builds the
workload's seeded inputs several times (the median is the set-up time) and
runs one repeat of the workload, the first in its JVM: every run is a cold
run, like a CLI job, and no run mixes cold and warm repeats. ``--seconds``
is a floor the repeat is expected to exceed (a note goes to stderr if it
does not). The repeat's outputs are checked. A line with the repeat's wall,
steal % and load average goes to stdout; the last line is the result JSON.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces the
repeat and reports the per-layer metrics, the traced wall and the time the
tracer itself spent inside it. Spark's scratch space lives under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

from spans import Tracer, edges_per_s, engine_metrics, layer_totals

CORES = 4
SETUP_REPEATS = 3
WORK_DIR = ".perfbench_work"

END_TO_END = {"wall_s": "s", "setup_s": "s", "edges_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "sources.edges": "count",
    "extract.wall_s": "s",
    "extract.jobs": "count",
    "extract.busy_frac": "frac",
    "extract.shuffle_write_mb": "MB",
    "engine.setup_s": "s",
    "engine.iters": "count",
    "engine.iter_s_p50": "s",
    "engine.jobs_per_iter": "count",
    "engine.stages_per_iter": "count",
    "engine.shuffle_write_mb_per_iter": "MB",
    "engine.shuffle_read_mb_per_iter": "MB",
    "engine.spill_mb": "MB",
    "engine.gc_s": "s",
    "engine.busy_frac": "frac",
    "engine.driver_gap_s": "s",
    "engine.messages_per_iter": "count",
    "checkpoint.bytes_per_iter": "B",
    "checkpoint.files": "count",
    "checkpoint.lineage_rows": "count",
    "checkpoint.resume_s": "s",
    "materialize.leaked_rdds": "count",
    "scc.wall_s": "s",
    "scc.rounds": "count",
    "scc.jobs": "count",
    "scc.busy_frac": "frac",
    "scc.driver_gap_s": "s",
    "scc.shuffle_write_mb": "MB",
    "output.wall_s": "s",
    "output.jobs": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "noise.steal_pct": "%",
    "noise.load1": "count",
    "failed_frac": "frac",
}


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # one traced connectivity repeat runs ~1.5k stages; the status
        # store must still hold them when the repeat's spans are read
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
    }


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def layer_metrics(spans, cores: int) -> dict:
    by = defaultdict(list)
    for sp in spans:
        by[sp.name].append(sp)
    ex, sc, out = (layer_totals(by[name], cores) for name in ("extract", "scc", "output"))
    return {
        **{f"extract.{k}": ex[k] for k in ("wall_s", "jobs", "busy_frac", "shuffle_write_mb")},
        **engine_metrics(by["engine"], cores),
        "checkpoint.resume_s": sum(sp.wall_s for sp in by["checkpoint"]),
        **{f"scc.{k}": sc[k] for k in ("wall_s", "jobs", "busy_frac", "driver_gap_s", "shuffle_write_mb")},
        "scc.rounds": sum(sp.info["rounds"] for sp in by["scc"]),
        "output.wall_s": out["wall_s"],
        "output.jobs": out["jobs"],
    }


def run_rep(spark, wl, traced: bool, run_id: str) -> tuple[dict, list]:
    """The repeat plus its noise record; per-layer numbers when traced.
    Returns the record and the repeat's spans."""
    from workloads import Rep

    tr = Tracer(spark, run_id, traced)
    before = persistent_rdds(spark)
    tot0, steal0 = cpu_times()
    try:
        rep = wl.rep(tr)
        ok = True
    except Exception:
        traceback.print_exc(file=sys.stderr)
        rep, ok = Rep(checks=[("repeat raised", False)]), False
    tot1, steal1 = cpu_times()
    rec = {
        "traced": traced,
        "ok": ok,
        "wall_s": rep.wall_s,
        "edges_per_s": edges_per_s(tr.spans, rep.n_edges),
        "iter_walls": [w for sp in tr.spans if sp.name == "engine" for w in sp.info.get("iter_walls", [])],
        "steal_pct": 100 * (steal1 - steal0) / max(tot1 - tot0, 1),
        "load1": os.getloadavg()[0],
        "trace_overhead_s": tr.overhead_s,
        "checks": len(rep.checks),
        "failed": [name for name, good in rep.checks if not good],
    }
    layers = {}
    if traced and ok:
        tr.attach_spark_metrics()
        layers = {**layer_metrics(tr.spans, CORES), **wl.layer_extras(rep)}
    if ok:
        wl.cleanup(rep)
    rec["leaked_rdds"] = persistent_rdds(spark) - before
    print(json.dumps(rec), flush=True)
    return {**rec, "layers": layers}, tr.spans


def measure(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
            session_s: float, sizes: dict | None = None, pinned: dict | None = None) -> dict:
    """Set up one workload, run one repeat -- the first in this JVM -- and
    return the result object. A second repeat would run warm and mix two
    regimes, so ``seconds`` only has to be below the repeat's wall."""
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](spark, seed, work, sizes, pinned)
    gen = []
    for _ in range(SETUP_REPEATS):
        wl.release()
        t0 = time.monotonic()
        n_edges = wl.setup()
        gen.append(time.monotonic() - t0)
    rec, spans = run_rep(spark, wl, trace, f"{workload}-s{seed}")
    if rec["wall_s"] < seconds:
        print(f"perfbench: the repeat took {rec['wall_s']:.1f} s, less than --seconds", file=sys.stderr)
    failed = len(rec["failed"])
    if not trace:
        values = {
            "wall_s": rec["wall_s"],
            "setup_s": session_s + statistics.median(gen),
            "edges_per_s": rec["edges_per_s"],
            "peak_rss_mb": jvm_peak_rss_mb(spark),
        }
        units = END_TO_END
    else:
        values = {
            "session.start_s": session_s,
            "sources.gen_s": statistics.median(gen),
            "sources.edges": n_edges,
            **rec["layers"],
            "materialize.leaked_rdds": rec["leaked_rdds"],
            "trace.wall_s": rec["wall_s"],
            "trace.overhead_s": rec["trace_overhead_s"],
            "noise.steal_pct": rec["steal_pct"],
            "noise.load1": rec["load1"],
            "failed_frac": failed / rec["checks"],
        }
        units = PER_LAYER
        path = os.path.join(os.path.dirname(work), f"spans-{workload}-seed{seed}.json")
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in spans], f)
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    return {"correct": failed == 0, "attempted": rec["checks"], "failed": failed, "metrics": metrics}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def start_spark(workload: str, work: str):
    """(session, seconds to start it, counting the pyspark import)."""
    t0 = time.monotonic()
    from fog_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{workload}", cores=CORES, shuffle_partitions=CORES, extra_conf=spark_conf(work)
    )
    return spark, time.monotonic() - t0


def scratch_dir(root: str, tag: str) -> str:
    """A fresh per-process work dir under the checkout; Spark, the JVM and
    Python's tempfile all write there."""
    work = os.path.join(root, WORK_DIR, f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    return work


def repo_root() -> str:
    """The checkout root (the cwd), put on sys.path; exits 2 without fog_spark."""
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fog_spark", "__init__.py")):
        print("perfbench: run from the repository root (fog_spark/ not found)", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, root)
    return root


def main(argv: list[str] | None = None) -> int:
    root = repo_root()
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    work = scratch_dir(root, args.workload)
    try:
        spark, session_s = start_spark(args.workload, work)
        try:
            result = measure(spark, args.workload, args.seed, args.seconds, bool(args.trace), work, session_s)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
