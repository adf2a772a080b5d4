"""Routing: deterministic sink assignment + one-pass fan-out write.

The reference writes one structured CSV per input file
(``outputResult`` ≈L202–235).  The graft fans rows out to **per-sink
tables by template/role** (north_star): ``sink_id = role × md5-bucket of
event_id``.  Scalability: one job, ``write.partitionBy('sink_id')`` — the
writer splits partitions into per-sink directories in a single pass
instead of k filtered jobs (SURVEY §4.3).  Unmatched/unparseable rows get
the dedicated ``dead`` sink (dead-letter policy, SURVEY §1.2) so counts
always reconcile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.functions.hashing import bucket_expr


def with_sink_id(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    cfg = cfg or PipelineConfig()
    # concat/lpad, not format_string: java.util.Formatter is ~µs/call and
    # this projection runs on every routed row (CLAUDE.md hot-path rule)
    bucket = bucket_expr("event_id", cfg.template_sink_buckets)
    ok = F.concat_ws(
        "-", F.col("role"), F.concat(F.lit("t"), F.lpad(bucket.cast("string"), 2, "0"))
    )
    sink = (
        F.when(~F.col("matched"), F.lit("dead")).otherwise(ok)
        if "matched" in df.columns
        else ok
    )
    return df.withColumn("sink_id", sink)


def commit_unit(df: DataFrame) -> str | None:
    """``ckpt_bucket`` (batch) or ``batch_id`` (stream epoch), the column
    the routed write partitions on and the ledger keys its rows by."""
    return next((c for c in ("ckpt_bucket", "batch_id") if c in df.columns), None)


def route_write(df: DataFrame, path: str, cfg: PipelineConfig | None = None) -> None:
    """One-pass fan-out write, partitioned by the frame's commit-unit
    column (``ckpt_bucket`` for the resumable batch job, ``batch_id`` for
    a streaming micro-batch) when it has one, and then ``sink_id``.

    An AQE REBALANCE on the partition columns clusters rows so each task
    writes ~1 directory instead of every task writing every directory —
    files scale with tasks, not tasks × sinks.  AQE's skew split carves
    an oversized sink across tasks by mapper ranges, so a dominant
    conversation cannot pin one write task, and small sinks coalesce
    together.  Overwrite is dynamic and scoped to this write: only the
    partitions written are replaced (so a re-run bucket or a replayed
    epoch rewrites its own directories), and the session conf is
    untouched.
    """
    cfg = cfg or PipelineConfig()
    if "sink_id" not in df.columns:
        df = with_sink_id(df, cfg)
    # masked is derived (re-computable from text); don't ship it through
    # the write-side shuffle or persist it to sinks
    if "masked" in df.columns:
        df = df.drop("masked")
    unit = commit_unit(df)
    parts = [unit, "sink_id"] if unit else ["sink_id"]
    (
        df.hint("rebalance", *parts)
        .write.format(cfg.sink_format)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .save(path)
    )
