"""Per-partition checkpoint manifest + template artifact.

North_rule: "resume exactly from per-partition checkpoints with lineage
and metrics emitted per partition".  Unit of checkpointing is a
deterministic md5 bucket of ``conv_id`` (``ckpt_bucket``) so the same row
always lands in the same bucket across runs and engines.

The streaming job checkpoints per epoch (``batch_id``) instead; the
ledger keys its rows by the commit-unit column the routed write
partitions on (:func:`~logparser_spark.operators.route.commit_unit`).

Layout under the pipeline output root::

    <out>/routed/ckpt_bucket=N/sink_id=S/*.parquet   (dynamic overwrite;
                                                      batch_id=N in a stream)
    <out>/_manifest/*.parquet                        (append-only ledger)
    <out>/_templates.json                            (frozen template set + strategy)

A unit is *committed* iff a manifest row exists for it.  The routed
write uses dynamic partition overwrite, so a bucket that was half-written
when a run died is cleanly replaced on resume, giving exactly-once
per-bucket semantics without a transactional table format.  (On a real
cluster the routed sink would be an Iceberg table and the manifest an
Iceberg snapshot tag — same protocol, different carrier.)

The template set is frozen at first successful mine (atomic
write-then-rename) and *reused* on resume: otherwise a resumed run could
mine a slightly different template set and route the remaining buckets
inconsistently.  The artifact records the strategy that mined it, so a
resume with another strategy fails instead of matching the frozen set
with another engine's matcher.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparser_spark.drain import Cluster
from logparser_spark.operators.route import commit_unit

#: ledger columns after the leading ``<unit> int`` commit-unit column
_METRICS_SCHEMA = (
    "run_id string, routed_rows long, dead_rows long, "
    "n_sinks int, n_events int, min_conv string, max_conv string, "
    "checksum long, wall_sec double, committed_at_epoch long"
)


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def read_manifest(spark: SparkSession, out_dir: str,
                  unit: str = "ckpt_bucket") -> DataFrame | None:
    """The ledger, keyed by ``unit`` (``batch_id`` for a stream's)."""
    path = _manifest_dir(out_dir)
    if not os.path.exists(path):
        return None
    try:
        return spark.read.schema(f"{unit} int, {_METRICS_SCHEMA}").parquet(path)
    except Exception:
        return None


def committed_buckets(spark: SparkSession, out_dir: str,
                      unit: str = "ckpt_bucket") -> set[int]:
    m = read_manifest(spark, out_dir, unit)
    if m is None:
        return set()
    return {r[unit] for r in m.select(unit).distinct().collect()}


def bucket_metrics(routed: DataFrame, run_id: str, wall_sec: float) -> DataFrame:
    """Per-unit lineage/metrics rows computed from the routed frame
    (call on the *read-back* data so the ledger describes what is truly
    on disk), keyed by its commit-unit column."""
    key = F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), "event_id")
    return routed.groupBy(commit_unit(routed)).agg(
        F.lit(run_id).alias("run_id"),
        F.count(F.lit(1)).alias("routed_rows"),
        F.sum(F.when(F.col("sink_id") == "dead", 1).otherwise(0)).alias("dead_rows"),
        F.countDistinct("sink_id").cast("int").alias("n_sinks"),
        F.countDistinct("event_id").cast("int").alias("n_events"),
        F.min("conv_id").alias("min_conv"),
        F.max("conv_id").alias("max_conv"),
        F.sum(F.crc32(key)).alias("checksum"),
        F.lit(float(wall_sec)).alias("wall_sec"),
        F.lit(int(time.time())).alias("committed_at_epoch"),
    )


def write_manifest_rows(metrics: DataFrame, out_dir: str) -> None:
    metrics.coalesce(1).write.mode("append").parquet(_manifest_dir(out_dir))


def save_templates(clusters: list[Cluster], out_dir: str, strategy: str) -> str:
    """Atomically freeze the mined template set and the strategy that
    mined it (idempotent)."""
    path = os.path.join(out_dir, "_templates.json")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    templates = sorted(
        ({"template": c.template, "count": c.count} for c in clusters),
        key=lambda d: d["template"],
    )
    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"strategy": strategy, "templates": templates}, f)
    os.replace(tmp, path)
    return path


def _read_templates(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, "_templates.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        payload = json.load(f)
    if not isinstance(payload, dict):
        raise ValueError(
            f"{path} records no strategy (written by an older version); "
            "remove the output directory and re-run"
        )
    return payload


def load_templates(out_dir: str) -> list[Cluster] | None:
    payload = _read_templates(out_dir)
    if payload is None:
        return None
    return [
        Cluster(tokens=d["template"].split(" "), count=d["count"])
        for d in payload["templates"]
    ]


def frozen_strategy(out_dir: str) -> str | None:
    """The strategy that mined the frozen template set (None when there
    is no frozen set)."""
    payload = _read_templates(out_dir)
    return None if payload is None else payload["strategy"]
