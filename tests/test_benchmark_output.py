"""Loghub-style benchmark bank + reference-shape structured CSV output."""

from __future__ import annotations

import csv
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pytest

from logparser_spark.benchmark import (
    BENCHMARK_SETTINGS,
    evaluate_against_ground_truth,
    parse_log_file,
    run_benchmark,
)
from logparser_spark.drain import event_id_of
from logparser_spark.operators.structured_output import write_structured_csv
from logparser_spark.sources.logfile import compile_log_format


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("flags", [["--strategy", "drain", "--logsig-k", "3"],
                                   ["--strategy", "logsig"]])
def test_logsig_k_checked_at_parse_time(flags):
    """``--logsig-k`` belongs to logsig alone: a missing or stray one is a
    usage error from argparse, before any SparkSession starts."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_benchmark.py"),
         "--dataset", "HDFS", "--log-file", "unused.log", *flags],
        cwd=REPO, env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "--logsig-k is required with --strategy logsig and only there" in proc.stderr
    assert "SparkContext" not in proc.stderr


def test_settings_bank_formats_compile():
    for name, s in BENCHMARK_SETTINGS.items():
        headers, rx = compile_log_format(s.log_format)
        assert headers[-1] == "Content", name
        re.compile(rx)
        for r in s.rex:
            re.compile(r)
            assert "(?<" not in r, f"{name}: lookbehind breaks RE2 portability"
        assert 0 < s.st < 1 and 3 <= s.depth <= 8, name


def test_every_format_round_trips_a_sample_line():
    """For each dataset, synthesize a line from its own format string and
    assert the compiled regex splits it back into the declared headers."""
    samples = {
        "Date": "081109", "Time": "203518", "Pid": "145", "Level": "INFO",
        "Component": "dfs.DataNode", "Content": "sample content words here",
        "Process": "main", "Node": "node1", "Id": "42", "Label": "-",
        "Timestamp": "1131566461", "NodeRepeat": "node7", "Type": "RAS",
        "LogId": "8453", "State": "ok", "Flag": "1", "User": "root",
        "Month": "Jun", "Day": "14", "Location": "srv01", "Tid": "771",
        "Program": "prog.exe", "ADDR": "req-1", "Logrecord": "nova.log.1",
    }
    for name, s in BENCHMARK_SETTINGS.items():
        headers, rx = compile_log_format(s.log_format)
        line = s.log_format
        for h in headers:
            line = line.replace(f"<{h}>", samples[h], 1)
        m = re.match(rx, line)
        assert m, f"{name}: sample line failed its own format: {line!r}"
        assert m.group(len(headers)) == samples["Content"], name


def _write_synthetic_hdfs(d: str, n: int = 120) -> tuple[str, str]:
    """Deterministic HDFS-format dataset with 3 known event groups and a
    loghub-style ground-truth structured CSV."""
    contents = [
        lambda i: (
            f"Receiving block blk_-{160000 + i} src: /10.250.{i % 200}.102:54106 "
            f"dest: /10.250.{i % 200}.102:50010"
        ),
        lambda i: f"PacketResponder {i % 5} for block blk_-{160000 + i} terminating",
        lambda i: f"Verification succeeded for blk_-{160000 + i}",
    ]
    log_path = os.path.join(d, "HDFS_synth.log")
    gt_path = os.path.join(d, "HDFS_synth.log_structured.csv")
    with open(log_path, "w") as lf, open(gt_path, "w", newline="") as gf:
        w = csv.writer(gf)
        w.writerow(["LineId", "EventId"])
        for i in range(1, n + 1):
            k = i % 3
            lf.write(f"081109 2035{i % 60:02d} {i % 100} INFO dfs.DataNode: "
                     f"{contents[k](i)}\n")
            w.writerow([i, f"E{k}"])
    return log_path, gt_path


def test_benchmark_loop_on_synthetic_loghub_dataset(spark):
    d = tempfile.mkdtemp()
    try:
        log_path, gt_path = _write_synthetic_hdfs(d)
        metrics = run_benchmark(
            spark, [("HDFS", log_path, gt_path)], num_partitions=4
        ).first()
        assert metrics["dataset"] == "HDFS"
        assert metrics["n_lines"] == 120
        assert metrics["n_templates"] == 3
        assert metrics["precision"] == 1.0
        assert metrics["recall"] == 1.0
        assert metrics["f1"] == 1.0
        assert metrics["parsing_accuracy"] == 1.0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_benchmark_all_strategies_agree_on_clean_data(spark):
    """One metrics row per engine — every mining strategy the repo ships
    runs through the loghub-style harness and scores perfect F1 on the
    clean synthetic dataset (logsig takes its k input by design)."""
    from logparser_spark.logsig import LogSigParams

    d = tempfile.mkdtemp()
    try:
        log_path, gt_path = _write_synthetic_hdfs(d, n=60)
        strategies = (
            "drain", "spell", "iplom", "lenma", "ael",
            "logmine", "shiso", "lke", "logsig", "molfi",
        )
        for strategy in strategies:
            sp = LogSigParams(k=3) if strategy == "logsig" else None
            parsed = parse_log_file(
                spark, log_path, BENCHMARK_SETTINGS["HDFS"], 4, strategy,
                strategy_params=sp,
            )
            gt = spark.read.csv(gt_path, header=True, inferSchema=True)
            m = evaluate_against_ground_truth(parsed, gt).first()
            assert m["f1"] == 1.0, strategy
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_structured_csv_reference_shape(spark):
    d = tempfile.mkdtemp()
    try:
        log_path, _ = _write_synthetic_hdfs(d, n=12)
        parsed = parse_log_file(spark, log_path, BENCHMARK_SETTINGS["HDFS"], 4)
        s_path, t_path = write_structured_csv(parsed, d, "HDFS", single_file=True)

        with open(s_path, newline="") as f:
            rows = list(csv.DictReader(f))
        assert list(rows[0].keys()) == [
            "LineId", "Date", "Time", "Pid", "Level", "Component", "Content",
            "EventId", "EventTemplate", "ParameterList",
        ]
        assert [r["LineId"] for r in rows] == [str(i) for i in range(1, 13)]
        r1 = rows[0]  # line 1 → k=1 → PacketResponder
        assert r1["EventTemplate"] == "PacketResponder <*> for block <*> terminating"
        assert r1["EventId"] == event_id_of(r1["EventTemplate"])
        # the reference's str(list) rendering, quotes and all
        assert r1["ParameterList"] == "['1', 'blk_-160001']"
        empty_params = [r for r in rows if r["ParameterList"] == "[]"]
        assert not empty_params  # every synthetic line carries parameters

        with open(t_path, newline="") as f:
            trows = list(csv.DictReader(f))
        assert list(trows[0].keys()) == ["EventId", "EventTemplate", "Occurrences"]
        assert sum(int(r["Occurrences"]) for r in trows) == 12
        assert len(trows) == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)
