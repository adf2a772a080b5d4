#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Runs the shipped job once on a small ``lowcard`` input, checks the
output (it must pass), then checks two tampered copies: one with a
routed row dropped and one with a routed row's ``event_id`` swapped for
another template's.  Each tampered copy must fail and count into
``failed_pct``.  Run from the root of a checkout::

    python3 perfbench/selftest.py

Exits 0 when both tamperings are caught.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

import host


def _first_file(out: str) -> str:
    return sorted(glob.glob(f"{out}/routed/*/*/*.parquet"))[0]


def drop_row(out: str) -> None:
    path = _first_file(out)
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def swap_event_id(out: str) -> None:
    """Give one row the event_id of a row from another template."""
    files = sorted(glob.glob(f"{out}/routed/*/*/*.parquet"))
    t = pq.read_table(files[0])
    mine = t["event_id"][0].as_py()
    other = next(
        e for f in files[1:] for e in pq.read_table(f, columns=["event_id"])["event_id"].to_pylist()
        if e != mine
    )
    ids = t["event_id"].to_pylist()
    ids[0] = other
    idx = t.schema.get_field_index("event_id")
    t = t.set_column(idx, "event_id", pc.cast(ids, t.schema.field("event_id").type))
    pq.write_table(t, files[0])


def main() -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "logparser_spark", "plans", "pipeline.py")):
        print("run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import job
    from checks import Checker
    from gen import write_input

    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        res = host.resources(work)
        input_dir, truth = os.path.join(work, "input"), os.path.join(work, "truth.parquet")
        write_input("lowcard", 20_000, 7, input_dir, truth)
        spark = job.build_spark(root, work, res)
        try:
            cfg = job.pipeline_config(spark)
            good = job.fresh_out(work, "good", None)
            job.run_job(spark, input_dir, good, cfg)
        finally:
            job.stop_spark(spark)
        checker = Checker(input_dir, truth, "lowcard", cfg)
        verdicts = []
        for name, tamper in (("untouched", None), ("dropped row", drop_row),
                             ("swapped event_id", swap_event_id)):
            out = os.path.join(work, "out", name.replace(" ", "_"))
            shutil.copytree(good, out)
            if tamper:
                tamper(out)
            fails, _ = checker.check(out)
            verdicts.append((name, fails))
            print(f"{name}: {'FAIL' if fails else 'pass'}")
            for f in fails:
                print(f"  {f}")
        failed = sum(bool(f) for _, f in verdicts)
        print(f"failed_pct {100.0 * failed / len(verdicts):.4f} % ({failed} of {len(verdicts)})")
        caught = not verdicts[0][1] and all(f for _, f in verdicts[1:])
        print("self-test " + ("passed: both tamperings caught" if caught else "FAILED"))
        return 0 if caught else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
