#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (``workloads.TINY``).

    python3 perfbench/selftest.py

Checks that
  * every workload runs and passes its gates: the two in BENCHMARK.json
    untraced and traced, the other two as their companions;
  * every end-to-end and per-layer metric named in BENCHMARK.json is
    reported, with the unit given there, and every layer is reached;
  * a deliberately wrong expected count fails its gate and shows up in
    ``failed`` and ``ops_failed_ratio``.
Exits non-zero on the first failed check. Takes several minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run as bench_run

# counters that are legitimately 0 at the tiny size
MAY_BE_ZERO = {"spark.spill_mb"}


def check(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        sys.exit(1)


def one_run(workload: str, trace: int, heap: str, tamper=None) -> dict:
    import workloads as W

    args = argparse.Namespace(heap=heap, workload=workload, seed=7,
                              seconds=2.0, trace=trace)
    work = os.path.join(bench_run.ROOT, ".bench_work", f"selftest-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return bench_run.run(args, work, len(os.sched_getaffinity(0)),
                             sizes=W.TINY, tamper=tamper)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def units_match(result: dict, declared: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == want, f"{what}: every declared metric reported with its unit")


def main() -> int:
    sys.path.insert(0, bench_run.ROOT)  # workloads imports the package
    with open(os.path.join(bench_run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    heap = spec["command"][spec["command"].index("--heap") + 1]
    check({m["name"]: m["unit"] for m in spec["end_to_end"]}
          == bench_run.END_TO_END, "BENCHMARK.json end_to_end matches run.py")
    check({m["name"]: m["unit"] for m in spec["per_layer"]}
          == bench_run.PER_LAYER, "BENCHMARK.json per_layer matches run.py")

    reached = set()
    for w in (x["name"] for x in spec["workloads"]):
        res = one_run(w, 0, heap)
        check(res["correct"] and res["failed"] == 0, f"{w}: all gates pass")
        units_match(res, spec["end_to_end"], f"{w} trace 0")
        check(all(v["value"] > 0 for v in res["metrics"].values()),
              f"{w}: every end-to-end metric is non-zero")
        res = one_run(w, 1, heap)
        companion = bench_run.COMPANIONS[w]
        check(res["correct"] and res["failed"] == 0,
              f"{w} and its companion {companion}: all gates pass")
        units_match(res, spec["per_layer"], f"{w} trace 1")
        reached |= {k for k, v in res["metrics"].items() if v != 0}
    missing = set(bench_run.PER_LAYER) - reached - MAY_BE_ZERO
    check(not missing, f"every layer reached by some traced run {sorted(missing)}")

    def wrong_count_once(wl):
        """Check op 0 against a span_order count that is off by one."""
        gate = wl.check
        wl.expected["span_order"] += 1

        def check_once(k):
            try:
                return gate(k)
            finally:
                if k == 0:
                    wl.expected["span_order"] -= 1

        wl.check = check_once

    res = one_run("full_validate", 0, heap, tamper=wrong_count_once)
    check(res["failed"] == 1 and not res["correct"],
          f"a wrong expected count fails its gate ({res['failed']} of "
          f"{res['attempted']} ops failed)")
    with open(os.path.join(bench_run.ROOT, ".bench_out",
                           "full_validate-seed7-trace0.report.json")) as f:
        ratio = json.load(f)["ops_failed_ratio"]
    check(ratio > 0, f"ops_failed_ratio shows it ({ratio:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
