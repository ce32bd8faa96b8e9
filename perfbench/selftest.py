"""Benchmark self-test at a tiny size.

    python3 perfbench/selftest.py

Run from the repository root. At tiny sizes, with answers recomputed by
``oracle.py``, it checks that:

1. every workload passes its checks, and every metric BENCHMARK.json names
   is emitted with its unit (end-to-end with tracing off, per-layer with
   tracing on), and nothing else is;
2. a deliberately wrong pinned answer is counted in ``failed_frac``.

Prints one line per problem and exits 1 if there is any.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys

from run import measure, repo_root, scratch_dir, start_spark, stop_spark

TINY = {
    "pagerank": {"docs": 400, "hubs": 1, "hub_degree": 101_000, "iters": 3, "topk": 5},
    "connectivity": {"docs": 300},
    "pages_e2e": {"docs": 300, "crash_iters": 2, "iters": 3, "topk": 5},
}


def check_metrics(res: dict, spec: list[dict], label: str) -> list[str]:
    got = res["metrics"]
    problems = [
        f"{label}: metric {m['name']} missing or unit {got.get(m['name'], {}).get('unit')!r} != {m['unit']!r}"
        for m in spec
        if got.get(m["name"], {}).get("unit") != m["unit"]
    ]
    problems += [f"{label}: metric {k} not in BENCHMARK.json" for k in set(got) - {m["name"] for m in spec}]
    if not res["correct"] or res["failed"]:
        problems.append(f"{label}: {res['failed']} of {res['attempted']} checks failed")
    return problems


def main() -> int:
    root = repo_root()
    from oracle import pinned_answers
    from workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    pinned = pinned_answers(TINY)
    work = scratch_dir(root, "selftest")
    problems: list[str] = []
    try:
        spark, session_s = start_spark("selftest", work)
        try:
            for name in WORKLOADS:
                for trace, spec in ((False, bench["end_to_end"]), (True, bench["per_layer"])):
                    res = measure(spark, name, 7, 0, trace, work, session_s, TINY, pinned)
                    problems += check_metrics(res, spec, f"{name} trace={int(trace)}")
            wrong = copy.deepcopy(pinned)
            wrong["connectivity"]["sccs"] += 1
            res = measure(spark, "connectivity", 8, 0, True, work, session_s, TINY, wrong)
            frac = res["metrics"]["failed_frac"]["value"]
            if res["correct"] or (res["failed"], res["attempted"]) != (1, 6) or abs(frac - 1 / 6) > 1e-9:
                problems.append(
                    f"wrong pinned scc count: failed={res['failed']} of {res['attempted']}, "
                    f"failed_frac={frac}, expected 1 of 6 connectivity checks"
                )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("selftest:", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
