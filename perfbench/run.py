#!/usr/bin/env python3
"""Benchmark of the shipped batch job (``jobs/run_pipeline.py``).

Run from the root of a checkout::

    python3 perfbench/run.py --workload fresh_lowcard --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``fresh_lowcard``, ``fresh_hicard``,
``resume``.  ``--trace 0`` times the job and prints the end-to-end
metrics; ``--trace 1`` also runs one traced job and prints the
per-layer metrics instead.  Every job output is checked; the last line
of stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid

import host

WORKLOADS = {
    "fresh_lowcard": {"corpus": "lowcard", "turns": 100_000, "resume": False},
    "fresh_hicard": {"corpus": "hicard", "turns": 20_000, "resume": False},
    "resume": {"corpus": "lowcard", "turns": 100_000, "resume": True},
}

#: each job in a run is faster than the one before (the JVM is still
#: compiling), so the figures come from exactly the first this many
#: timed jobs: every commit is sampled at the same place on that curve
TIMED_JOBS = 2

END_TO_END = (
    ("turns_per_s", "turns/s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("routed_bytes_per_turn", "B/turn"),
    ("group_acc", "ratio"),
)


@contextlib.contextmanager
def clock(phases: dict, *keys: str):
    """Add the block's wall time to each of ``phases[key]``."""
    t = time.perf_counter()
    try:
        yield
    finally:
        for key in keys:
            phases[key] = phases.get(key, 0.0) + time.perf_counter() - t


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(args, root: str, work: str, drain_s: float, ticks0: dict) -> dict:
    from checks import Checker
    from gen import write_input
    import job

    wl = WORKLOADS[args.workload]
    n = wl["turns"]
    res = host.resources(work)
    # "excluded_s" is what setup_s leaves out: waiting for an earlier
    # run's JVM, input generation, building the resume state, checks
    phases = {"excluded_s": drain_s}
    input_dir = os.path.join(work, "input")
    truth = os.path.join(work, "truth.parquet")
    with clock(phases, "excluded_s", "gen_s"):
        write_input(wl["corpus"], n, args.seed, input_dir, truth)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    with clock(phases, "session_s"):
        spark = job.build_spark(root, work, res, event_log)
    runs: list[dict] = []  # one per checked job output

    def record(kind: str, out: str, wall: float | None, error: str | None = None) -> None:
        with clock(phases, "check_s"):
            fails, stats = ([error], {}) if error else checker.check(out)
        for f in fails:
            log(f"{kind} output check failed: {f}")
        runs.append({"kind": kind, "wall_s": wall, "ok": not fails, "fails": fails, **stats})
        shutil.rmtree(out, ignore_errors=True)

    layer = None
    try:
        cfg = job.pipeline_config(spark)
        with clock(phases, "worker_warm_s"):
            job.warm_workers(spark, res["slots"])
        with clock(phases, "excluded_s"):
            checker = Checker(input_dir, truth, wl["corpus"], cfg)
        # warm-up: one full job pass (on resume, the uninterrupted run
        # whose routed rows every resumed run must reproduce)
        warm = job.fresh_out(work, "warmup", None)
        with clock(phases, "warmup_job_s"):
            job.run_job(spark, input_dir, warm, cfg)
        state = None
        with clock(phases, "excluded_s"):
            record("reference" if wl["resume"] else "warmup", warm, None)
            if wl["resume"]:
                state = os.path.join(work, "state")
                job.build_partial_state(spark, input_dir, state, cfg)
        setup_wall_s = host.process_age_s() - phases["excluded_s"]
        setup_s = host.unstolen(setup_wall_s, ticks0, host.cpu_ticks())

        with clock(phases, "measure_s"), host.RssSampler(os.getpid()) as rss:
            # jobs past TIMED_JOBS fill --seconds; they are checked and
            # recorded, but enter no figure
            timed_s, jobs = 0.0, 0
            while jobs < TIMED_JOBS or timed_s < args.seconds:
                jobs += 1
                out = job.fresh_out(work, f"run{len(runs)}", state)
                if jobs <= TIMED_JOBS:
                    rss.active.set()
                ticks = host.cpu_ticks()
                t0 = time.perf_counter()
                error = None
                try:
                    job.run_job(spark, input_dir, out, cfg)
                except Exception as e:  # a failed run counts, the benchmark goes on
                    error = f"job raised {type(e).__name__}: {str(e)[:300]}"
                wall = time.perf_counter() - t0
                rss.active.clear()
                unstolen_s = host.unstolen(wall, ticks, host.cpu_ticks())
                timed_s += wall
                record("timed" if jobs <= TIMED_JOBS else "extra", out, wall, error)
                runs[-1]["unstolen_s"] = unstolen_s

        if args.trace:
            with clock(phases, "traced_s"):
                layer = traced(spark, work, input_dir, state, cfg, checker, runs)
    finally:
        with clock(phases, "stop_s"):
            job.stop_spark(spark)
    if layer is not None:
        import layers

        layer["metrics"] = layers.per_layer_metrics(
            layer["tracer"], event_log, layer["job"], layer["passes"], layer["stats"],
            layer["bracket_s"],
        )
    return {"n": n, "setup_s": setup_s, "setup_wall_s": setup_wall_s,
            "peak_rss_mb": rss.peak_kb / 1024, "peak_rss_kb": rss.peak_parts,
            "runs": runs, "layer": layer, "resources": res, "phases": phases}


def traced(spark, work, input_dir, state, cfg, checker, runs) -> dict:
    """One traced job, one untraced job right after it, and the layer
    passes.  Both outputs are checked and counted like any other.

    Jobs get faster along a run, so the traced job is compared with the
    mean of the untraced jobs on either side of it: the same place on
    that curve."""
    import job
    import layers
    from logparser_spark.plans import manifest as M
    from spans import Tracer

    out = job.fresh_out(work, "traced", state)
    todo = sorted(set(range(cfg.checkpoint_buckets)) - M.committed_buckets(spark, out))
    tracer = Tracer(spark.sparkContext, uuid.uuid4().hex[:12])
    before = runs[-1]["wall_s"]
    job_info = layers.traced_job(spark, tracer, input_dir, out, cfg)
    wall = tracer.total("pipeline") + tracer.total("aggregate.sink_window")
    fails, stats = checker.check(out)
    runs.append({"kind": "traced", "wall_s": wall, "ok": not fails, "fails": fails, **stats})
    for f in fails:
        log(f"traced output check failed: {f}")

    after_out = job.fresh_out(work, "after_trace", state)
    t0 = time.perf_counter()
    job.run_job(spark, input_dir, after_out, cfg)
    after = time.perf_counter() - t0
    fails, after_stats = checker.check(after_out)
    runs.append({"kind": "after_trace", "wall_s": after, "ok": not fails, "fails": fails,
                 **after_stats})
    for f in fails:
        log(f"after-trace output check failed: {f}")
    shutil.rmtree(after_out, ignore_errors=True)

    passes = layers.layer_passes(spark, tracer, input_dir, out, cfg, todo, work)
    shutil.rmtree(out, ignore_errors=True)
    return {"tracer": tracer, "job": job_info, "passes": passes, "stats": stats,
            "bracket_s": (before + after) / 2}


def summarize(args, r: dict, host_before: dict, host_after: dict) -> dict:
    n = r["n"]
    timed = [x for x in r["runs"] if x["kind"] == "timed"]
    good = [x for x in timed if x["ok"]]
    attempted = len(r["runs"])
    failed = sum(not x["ok"] for x in r["runs"])
    rates = [n / x["unstolen_s"] for x in good]
    wall_rates = [n / x["wall_s"] for x in good]

    def med(key):
        vals = [x[key] for x in good if key in x]
        return statistics.median(vals) if vals else float("nan")

    values = {
        "turns_per_s": statistics.median(rates) if rates else float("nan"),
        "setup_s": r["setup_s"],
        "peak_rss_mb": r["peak_rss_mb"],
        "routed_bytes_per_turn": med("routed_bytes_per_turn"),
        "group_acc": med("group_acc"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "turns": n, "host_before": host_before, "host_after": host_after,
        "resources": r["resources"], "phases_s": r["phases"],
        "peak_rss_kb_by_process": r["peak_rss_kb"],
        "setup_wall_s": r["setup_wall_s"],
        "samples": {
            "job_wall_s": [x["wall_s"] for x in timed],
            "turns_per_s": rates,
            "turns_per_wall_s": wall_rates,
            "runs": r["runs"],
        },
    }
    print(json.dumps({"record": record}))
    units = dict(END_TO_END)
    print(f"{args.workload} seed={args.seed} turns={n} timed runs={len(timed)}", flush=True)
    for name, unit in END_TO_END:
        spread = ""
        if name == "turns_per_s" and rates:
            spread = f"  (median of {len(rates)}, min {min(rates):.1f}, max {max(rates):.1f})"
        print(f"  {name:<24} {values[name]:>14.4f} {unit}{spread}")
    if wall_rates:
        print(f"  {'(turns per wall second)':<24} {statistics.median(wall_rates):>14.4f} turns/s"
              f"  setup wall {r['setup_wall_s']:.4f} s")
    print(f"  {'failed_pct':<24} {100.0 * failed / attempted:>14.4f} %  "
          f"({failed} of {attempted} checked runs failed)")
    if r["layer"] is not None:
        print(json.dumps({"spans": r["layer"]["tracer"].spans}))
        import layers

        metrics = {k: {"value": r["layer"]["metrics"][k], "unit": u} for k, u in layers.PER_LAYER}
        for k, u in layers.PER_LAYER:
            print(f"  {k:<30} {metrics[k]['value']:>16.4f} {u}")
    else:
        metrics = {k: {"value": values[k], "unit": units[k]} for k, _ in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "logparser_spark", "plans", "pipeline.py")):
        log(f"no logparser_spark package under {root}; run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    host_before = {"nproc": os.cpu_count(), "mem_total_kb": host.meminfo_kb()["MemTotal"],
                   "loadavg": host.loadavg(), "spark_jvms": host.spark_jvms()}
    ticks = host.cpu_ticks()
    host_before["jvm_drain_s"] = host.drain_jvms()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = run(args, root, work, host_before["jvm_drain_s"], ticks)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    spent = {k: v - ticks[k] for k, v in host.cpu_ticks().items()}
    host_after = {"loadavg": host.loadavg(), "spark_jvms": host.spark_jvms(),
                  "cpu_share": {k: v / max(sum(spent.values()), 1) for k, v in spent.items()}}
    print(json.dumps(summarize(args, r, host_before, host_after)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
