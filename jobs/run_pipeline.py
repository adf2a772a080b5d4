#!/usr/bin/env python
"""spark-submit entry point for the full pipeline.

Cluster usage (north_rule):

    python scripts/make_pyfiles_zip.py                 # → dist/logparser_spark.zip
    spark-submit --py-files dist/logparser_spark.zip \\
        jobs/run_pipeline.py --input <table-or-parquet> --out <dir> \\
        [--resume] [--mine-sample-one-in 64]

Local smoke:

    spark-submit --master 'local[8]' --py-files dist/logparser_spark.zip \\
        jobs/run_pipeline.py --synthetic-turns 50000 --out /tmp/pipe_out
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    from logparser_spark.strategies import STRATEGIES

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="input transcripts table path (parquet/iceberg)")
    ap.add_argument("--synthetic-turns", type=int, default=0,
                    help="generate N synthetic turns instead of reading --input")
    ap.add_argument("--out", required=True)
    ap.add_argument("--mine-sample-one-in", type=int, default=1)
    ap.add_argument("--num-partitions", type=int, default=0)
    ap.add_argument("--checkpoint-buckets", type=int, default=0)
    ap.add_argument("--strategy", default="drain", choices=STRATEGIES)
    ap.add_argument("--stream", action="store_true",
                    help="continuous-ingest mode: the batch job's body per "
                         "micro-batch of --input (availableNow trigger); "
                         "templates freeze on the first run, and the "
                         "checkpoint under <out>/_ckpt plus the per-epoch "
                         "ledger make re-runs resume, not recompute")
    ap.add_argument("--stream-curation", action="store_true",
                    help="with --stream: also run the curation operators "
                         "(Gopher repetition stats + decontamination vs an "
                         "eval set sampled from the batch read) over the "
                         "turn-text stream via foreachBatch")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from logparser_spark.config import PipelineConfig
    from logparser_spark.plans.pipeline import aggregates_from_routed, run_pipeline
    from logparser_spark.sources.transcripts import transcripts_df

    spark = SparkSession.builder.appName("logparser_spark_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    defaults = PipelineConfig()
    cfg = PipelineConfig(
        num_partitions=args.num_partitions
        or spark.sparkContext.defaultParallelism * 2,
        checkpoint_buckets=args.checkpoint_buckets or defaults.checkpoint_buckets,
    )

    if args.synthetic_turns:
        transcripts = transcripts_df(spark, args.synthetic_turns,
                                     n_convs=max(args.synthetic_turns // 500, 8),
                                     skew_share_pct=20)
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        raise SystemExit("need --input or --synthetic-turns")

    agg_path = f"{args.out}/agg_sink_window"
    report = {}
    if args.stream:
        if not args.input:
            raise SystemExit("--stream needs --input (a parquet directory source)")
        from logparser_spark.streaming.stream import run_streaming_pipeline

        result = run_streaming_pipeline(
            spark, args.input, args.out, cfg, strategy=args.strategy,
            mine_sample_one_in=args.mine_sample_one_in,
        )
        report["mode"] = "stream"
        if args.stream_curation:
            from pyspark.sql import functions as F

            from logparser_spark.streaming.stream import (
                read_transcript_stream,
                streaming_curation_write,
            )

            # doc_id = stable per-turn key; eval set = a deterministic
            # 1-in-41 slice of the batch read (stands in for a real
            # benchmark table)
            doc_id = F.xxhash64("conv_id", "turn_idx")
            docs = read_transcript_stream(spark, args.input).select(
                doc_id.alias("doc_id"), "text"
            )
            bench = transcripts.filter(F.pmod(doc_id, F.lit(41)) == 0).select("text")
            cur_path = f"{args.out}/curated"
            streaming_curation_write(docs, bench, cur_path).awaitTermination()
            # guard: an all-empty-batch stream never creates the dir
            report["curated_rows"] = (
                spark.read.parquet(cur_path).count() if os.path.isdir(cur_path) else 0
            )
    else:
        result = run_pipeline(
            spark, transcripts, args.out, cfg,
            mine_sample_one_in=args.mine_sample_one_in, strategy=args.strategy,
        )
        swc, _twc = aggregates_from_routed(spark, result, cfg)
        swc.write.mode("overwrite").parquet(agg_path)
    print(
        json.dumps(
            {
                "run_id": result.run_id,
                "routed_rows": result.routed_rows,
                "n_templates": result.n_templates,
                "buckets_done": len(result.buckets_done),
                "buckets_skipped": len(result.buckets_skipped),
                "wall_sec": round(result.wall_sec, 2),
                "agg_path": agg_path,
                **report,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
