#!/usr/bin/env python3
"""Benchmark of the validation engine's four user actions.

    python3 perfbench/run.py --heap 2g --workload full_validate \\
        --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one Spark session at
local[nproc], one workload: set up (session, seeded inputs, state,
warm-up operations), then a closed loop — the next operation starts
only after the previous one returned and passed its correctness gate —
for ``--seconds``. The last stdout line is the JSON result; logs go to
stderr. ``--trace 1`` reports the per-layer metrics instead: after the
same closed loop it replays operations with a span around every layer
call and writes the spans to ``.bench_out/``. See ``NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "automatic_data_validator_spark"
WARMUP_OPS = 2
TRACED_ROUNDS = 2
COMPANION_ROUNDS = 1  # keeps a traced run well inside its time limit
# The traced run of a workload also replays its companion, so the
# layers only the companion reaches are measured too (NOTES.md).
COMPANIONS = {"full_validate": "incremental_delta",
              "neardup_dedup": "stream_neardup"}

END_TO_END = {
    "op_s_p50": "s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
    "out_files": "count",
    "out_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "validate.run_s": "s",
    "validate.slot_util": "ratio",
    "rules.row_rules_s": "s",
    "rules.input_scans": "ratio",
    "profile.fused_partials_s": "s",
    "profile.finalize_s": "s",
    "dedup.uniqueness_s": "s",
    "dedup.uniqueness_shuffle_mb": "MB",
    "dedup.uniqueness_task_skew": "ratio",
    "refcheck.referential_s": "s",
    "refcheck.shuffle_mb": "MB",
    "drift.report_s": "s",
    "drift.python_run_s": "s",
    "drift.python_mb_sent": "MB",
    "sources.write_s": "s",
    "sources.files": "count",
    "sources.mb": "MB",
    "incremental.delta_s": "s",
    "incremental.jobs": "count",
    "incremental.stages": "count",
    "incremental.tasks": "count",
    "incremental.delta_scans": "ratio",
    "incremental.state_files": "count",
    "incremental.state_mb": "MB",
    "dedup.minhash_s": "s",
    "dedup.python_start_s": "s",
    "dedup.python_init_s": "s",
    "dedup.python_run_s": "s",
    "dedup.python_mb_sent": "MB",
    "dedup.python_mb_returned": "MB",
    "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_ratio": "ratio",
    "dedup.verify_s": "s",
    "dedup.cc_s": "s",
    "dedup.corpus_scans": "ratio",
    "dedup.inc_neardup_s": "s",
    "streaming.batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--heap", required=True,
                    help="driver JVM heap, e.g. 2g; both sides of an A/B "
                         "must use the same value")
    ap.add_argument("--workload", required=True,
                    choices=["full_validate", "incremental_delta",
                             "neardup_dedup", "stream_neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def set_environment(work: str, heap: str, nproc: int) -> None:
    """Pin everything the JVM and Python workers read at launch: heap,
    core count, and every scratch directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp  # gettempdir() caches its first answer
    os.environ.update({
        "SPARK_DRIVER_MEM": heap,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # no hsperfdata in /tmp, JVM temp files under the run's directory
        "JDK_JAVA_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # local-mode Python workers import the package from PYTHONPATH
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
    })


def start_session(work: str, nproc: int):
    from automatic_data_validator_spark.session import get_spark

    return get_spark("perfbench", parallelism=nproc, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the counters scope by id; keep every job and SQL execution
        "spark.ui.retainedJobs": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })


def _descendants(pid: int) -> list[int]:
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out += kids
        todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and the Python workers it forked,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{k}") for k in kids):
        time.sleep(0.1)


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python driver."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return hwm(jvm_pid) + hwm(os.getpid())


def host_context(spark, nproc: int, heap: str) -> dict:
    import bench  # the repo's frozen harness; only its host probe is used

    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {
        "host_probe_units_per_s": bench.host_probe(nproc),
        "nproc": nproc,
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "heap": heap,
    }


def file_stats(roots: list[str]) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every file under ``roots``, skipping
    hidden checksum files."""
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                if not n.startswith("."):
                    st = os.stat(os.path.join(d, n))
                    out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or rewritten between two ``file_stats``."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)


class Loop:
    """Closed-loop operation runner: one operation in flight, each
    checked before the next is sent."""

    def __init__(self, wl):
        self.wl = wl
        self.k = 0
        self.attempted = self.failed = 0
        self.times: list[float] = []
        self.out: list[tuple[int, int]] = []

    def one(self, op_id: str | None = None) -> float | None:
        """Prepare, run (timed) and check operation k; returns its wall
        time, or None when it raised or failed its gate."""
        wl, k = self.wl, self.k
        self.k += 1
        self.attempted += 1
        try:
            wl.prepare(k)
            before = file_stats(wl.out_roots())
            op_id = op_id or f"op{k}"
            t0 = time.perf_counter()
            with wl.ctx.span(f"{wl.name}.op", op_id):
                wl.op(k, op_id)
            dt = time.perf_counter() - t0
            self.out.append(written(before, file_stats(wl.out_roots())))
            errors = wl.check(k)
        except Exception:
            log(f"{wl.name} op {k} raised:\n{traceback.format_exc()}")
            self.failed += 1
            return None
        if errors:
            log(f"{wl.name} op {k} failed its gate: {errors}")
            self.failed += 1
            return None
        return dt

    def run_for(self, seconds: float) -> None:
        end = time.perf_counter() + seconds
        while True:
            dt = self.one()
            if dt is not None:
                self.times.append(dt)
            if time.perf_counter() >= end:
                break


def end_to_end(loop: Loop, setup_s: float, rss_mb: float) -> dict:
    if not loop.times:
        raise RuntimeError("no operation succeeded")
    p50 = statistics.median(loop.times)
    return {
        "op_s_p50": p50,
        "docs_per_s": loop.wl.docs_per_op / p50,
        "setup_s": setup_s,
        "driver_peak_rss_mb": rss_mb,
        "out_files": statistics.median(f for f, _ in loop.out),
        "out_mb": statistics.median(b for _, b in loop.out) / 2**20,
    }


def round_metrics(tracer, r: dict, nproc: int) -> dict:
    """Per-layer metrics of one traced round, for the layers it reached."""
    spans = {s.name: s for s in tracer.spans if s.op_id == r["op_id"]}

    def sec(name):
        return spans[name].seconds if name in spans else 0.0

    def cnt(name, key):
        return spans[name].counters.get(key, 0.0) if name in spans else 0.0

    op = spans[f"{r['workload']}.op"]
    files, nbytes = r["out"]
    docs = r["docs"]
    m = {}
    if "validate.run_validation" in spans:
        run_s = sec("validate.run_validation")
        agg_s = sec("rules.per_partition_rule_aggregate")
        m.update({
            "validate.run_s": run_s,
            "validate.slot_util": cnt("validate.run_validation",
                                      "executor_run_s") / (run_s * nproc),
            "rules.row_rules_s": agg_s + sec("rules.violation_rows"),
            "rules.input_scans": cnt("validate.run_validation",
                                     "input_records") / docs,
            "profile.fused_partials_s": sec("profile.fused_aggregate") - agg_s,
            "profile.finalize_s": sec("profile.finalize_partial_profile"),
            "dedup.uniqueness_s": sec("dedup.uniqueness_check"),
            "dedup.uniqueness_shuffle_mb": cnt("dedup.uniqueness_check",
                                               "shuffle_mb"),
            "dedup.uniqueness_task_skew": cnt("dedup.uniqueness_check",
                                              "task_skew"),
            "refcheck.referential_s": sec("refcheck.referential_check"),
            "refcheck.shuffle_mb": cnt("refcheck.referential_check",
                                       "shuffle_mb"),
            "drift.report_s": sec("drift.drift_report"),
            "drift.python_run_s": cnt("drift.drift_report", "python_run_s"),
            "drift.python_mb_sent": cnt("drift.drift_report", "python_mb_sent"),
        })
    if "sources.write_outputs_parallel" in spans:
        m.update({"sources.write_s": sec("sources.write_outputs_parallel"),
                  "sources.files": files, "sources.mb": nbytes / 2**20})
    if "incremental.validate_incremental" in spans:
        name = "incremental.validate_incremental"
        m.update({
            "incremental.delta_s": sec(name),
            "incremental.jobs": cnt(name, "jobs"),
            "incremental.stages": cnt(name, "stages"),
            "incremental.tasks": cnt(name, "tasks"),
            "incremental.delta_scans": cnt(name, "input_records") / docs,
            "incremental.state_files": files,
            "incremental.state_mb": nbytes / 2**20,
        })
    if "dedup.minhash_signature" in spans:
        name = "dedup.minhash_signature"
        m.update({
            "dedup.minhash_s": sec(name),
            "dedup.python_start_s": cnt(name, "python_start_s"),
            "dedup.python_init_s": cnt(name, "python_init_s"),
            "dedup.python_run_s": cnt(name, "python_run_s"),
            "dedup.python_mb_sent": cnt(name, "python_mb_sent"),
            "dedup.python_mb_returned": cnt(name, "python_mb_returned"),
        })
    if "dedup.minhash_lsh_duplicates" in spans:
        cand = r["extra"]["candidates"]
        m.update({
            "dedup.candidates_s": sec("dedup.minhash_lsh_duplicates")
            - sec("dedup.minhash_signature"),
            "dedup.candidate_pairs": cand,
            "dedup.verified_ratio": r["extra"]["verified"] / max(cand, 1),
            "dedup.verify_s": sec("dedup.ngram_jaccard"),
            "dedup.cc_s": sec("dedup.dedup_keep_representatives"),
            "dedup.corpus_scans": op.counters["input_records"] / docs,
        })
    if "streaming.neardup_stream.batch" in spans:
        batch_s = sec("streaming.neardup_stream.batch")
        inc_s = sec("dedup.incremental_neardup")
        m.update({"streaming.batch_s": batch_s,
                  "dedup.inc_neardup_s": inc_s,
                  "streaming.trigger_overhead_s": batch_s - inc_s})
    return m


def traced_rounds(loop: Loop, n: int) -> list[dict]:
    """Run ``n`` operations with spans, each followed by its replay."""
    wl, rounds = loop.wl, []
    for _ in range(n):
        k = loop.k
        op_id = f"{wl.name}-traced{k}"
        if loop.one(op_id) is None:
            continue
        extra = wl.replay(k, op_id) or {}
        rounds.append({"op_id": op_id, "workload": wl.name, "docs": wl.docs_per_op,
                       "out": loop.out[-1], "extra": extra})
    if not rounds:
        raise RuntimeError(f"{wl.name}: no traced operation succeeded")
    return rounds


def _medians(per_round: list[dict]) -> dict:
    keys = {k for m in per_round for k in m}
    return {k: statistics.median(m[k] for m in per_round if k in m) for k in keys}


def per_layer(tracer, loop: Loop, rounds: list[dict], companion: list[dict],
              setup: dict, nproc: int) -> dict:
    """Every per-layer metric, each the median over the traced rounds.
    The workload's own rounds win over its companion's; a layer neither
    reached reads 0."""
    main = []
    for r in rounds:
        m = round_metrics(tracer, r, nproc)
        op = next(s for s in tracer.spans
                  if s.op_id == r["op_id"] and s.name == f"{r['workload']}.op")
        m["trace.overhead_s"] = op.seconds - statistics.median(loop.times)
        for key in ("jobs", "stages", "tasks", "shuffle_mb", "spill_mb",
                    "executor_run_s", "gc_s"):
            m[f"spark.{key}"] = op.counters[key]
        main.append(m)
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update(_medians([round_metrics(tracer, r, nproc) for r in companion]))
    values.update(_medians(main))
    values.update({"session.start_s": setup["start_s"],
                   "session.warmup_s": setup["warmup_s"]})
    return values


def run(args, work: str, nproc: int, sizes=None, tamper=None) -> dict:
    """One benchmark run; returns the result object. ``sizes`` and
    ``tamper`` (called with the workload after set-up) serve the
    self-test."""
    set_environment(work, args.heap, nproc)
    sys.path.insert(0, ROOT)  # the package and bench.py
    import workloads as W
    from counters import StatusStores, Tracer

    t0 = time.perf_counter()
    spark = start_session(work, nproc)
    loops = []
    try:
        start_s = time.perf_counter() - t0
        ctx = W.Context(spark, work, args.seed, sizes or W.DEFAULT)
        wl = W.WORKLOADS[args.workload](ctx)
        try:
            wl.setup()
            if tamper is not None:
                tamper(wl)
            loop = Loop(wl)
            loops.append(loop)
            t_warm = time.perf_counter()
            for _ in range(WARMUP_OPS):
                loop.one()
            warmup_s = time.perf_counter() - t_warm
            setup_s = time.perf_counter() - t0
            # after a fixed amount of work, so the figure does not grow
            # with the number of operations that fit in the window
            rss_mb = peak_rss_mb(spark)
            log(f"{wl.name}: set-up {setup_s:.2f} s (session {start_s:.2f} s, "
                f"warm-up {warmup_s:.2f} s)")
            loop.run_for(args.seconds)
            if args.trace:
                tracer = Tracer(StatusStores(spark))
                ctx.tracer = tracer
                rounds = traced_rounds(loop, TRACED_ROUNDS)
                companion = []
                if wl.name in COMPANIONS:
                    ctx.tracer = None
                    cwl = W.WORKLOADS[COMPANIONS[wl.name]](ctx)
                    try:
                        cwl.setup()
                        cloop = Loop(cwl)
                        loops.append(cloop)
                        cloop.one()  # warm-up
                        ctx.tracer = tracer
                        companion = traced_rounds(cloop, COMPANION_ROUNDS)
                    finally:
                        cwl.close()
                values = per_layer(tracer, loop, rounds, companion,
                                   {"start_s": start_s, "warmup_s": warmup_s},
                                   nproc)
                units = PER_LAYER
            else:
                values = end_to_end(loop, setup_s, rss_mb)
                units = END_TO_END
            host = host_context(spark, nproc, args.heap)
        finally:
            wl.close()
    finally:
        stop_session(spark)
    attempted = sum(lp.attempted for lp in loops)
    failed = sum(lp.failed for lp in loops)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "closed_loop": "1 client; the next op starts after the previous "
                       "one returned and passed its gate",
        "op_times_s": loop.times, "ops_attempted": attempted,
        "ops_failed": failed, "ops_failed_ratio": failed / attempted,
        "host": host, "metrics": values,
    }
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        tracer.write(os.path.join(out_dir, stem + ".spans.jsonl"))
    with open(os.path.join(out_dir, stem + ".report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for name, v in values.items():
        log(f"  {name:32s} {v:14.4f} {units[name]}")
    log(f"  {len(loop.times)} timed ops; {attempted} attempted, {failed} "
        f"failed (ops_failed_ratio {report['ops_failed_ratio']:.4f}); "
        f"host {json.dumps(host)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"perfbench: package {PACKAGE}/ not found under {ROOT}; "
            "run from a checkout of the repository")
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
