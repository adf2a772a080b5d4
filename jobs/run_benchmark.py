#!/usr/bin/env python
"""spark-submit entry point for the loghub-style benchmark loop
(reference ``benchmark/Drain_benchmark.py`` analog).

    spark-submit --master 'local[8]' --py-files dist/logparser_spark.zip \\
        jobs/run_benchmark.py --dataset HDFS --log-file /path/HDFS_2k.log \\
        [--ground-truth /path/HDFS_2k.log_structured.csv] \\
        [--out /tmp/bench_out] [--strategy drain|spell|iplom]

Prints one JSON line per dataset: line/template counts plus pair-counting
accuracy metrics when a ground truth is supplied; optionally writes the
reference-shape ``<name>_structured.csv`` / ``<name>_templates.csv``.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    from logparser_spark.strategies import STRATEGIES

    ap = argparse.ArgumentParser()
    ap.add_argument("--dataset", action="append", required=True,
                    help="dataset name from BENCHMARK_SETTINGS (repeatable)")
    ap.add_argument("--log-file", action="append", required=True,
                    help="raw log file for the matching --dataset (repeatable)")
    ap.add_argument("--ground-truth", action="append", default=[],
                    help="loghub structured CSV with LineId,EventId (repeatable; "
                         "'' to skip a position)")
    ap.add_argument("--out", help="also write <name>_structured/_templates.csv here")
    ap.add_argument("--strategy", default="drain", choices=STRATEGIES)
    ap.add_argument("--logsig-k", type=int, default=0,
                    help="event count k for --strategy logsig (required there)")
    ap.add_argument("--num-partitions", type=int, default=0)
    args = ap.parse_args()
    if len(args.dataset) != len(args.log_file):
        raise SystemExit("--dataset and --log-file counts must match")
    # a CLI flag only logsig has: checked before Spark starts
    if (args.strategy == "logsig") != bool(args.logsig_k):
        ap.error("--logsig-k is required with --strategy logsig and only there")

    from pyspark.sql import SparkSession

    from logparser_spark.benchmark import (
        BENCHMARK_SETTINGS,
        parse_log_file,
        run_benchmark,
    )
    from logparser_spark.operators.structured_output import write_structured_csv

    spark = SparkSession.builder.appName("logparser_spark_benchmark").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    nparts = args.num_partitions or spark.sparkContext.defaultParallelism * 2

    strategy_params = None
    if args.logsig_k:
        from logparser_spark.logsig import LogSigParams

        strategy_params = LogSigParams(k=args.logsig_k)

    gts = args.ground_truth + [""] * (len(args.dataset) - len(args.ground_truth))
    entries = [
        (d, lf, gt or None)
        for d, lf, gt in zip(args.dataset, args.log_file, gts)
    ]
    metrics = run_benchmark(spark, entries, nparts, args.strategy,
                            strategy_params=strategy_params)
    if args.out:
        for d, lf, _ in entries:
            parsed = parse_log_file(
                spark, lf, BENCHMARK_SETTINGS[d], nparts, args.strategy,
                strategy_params=strategy_params,
            )
            write_structured_csv(parsed, args.out, d, single_file=True)
    for row in metrics.collect():
        print(json.dumps(row.asDict()))
    spark.stop()


if __name__ == "__main__":
    main()
