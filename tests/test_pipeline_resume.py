"""End-to-end pipeline + checkpoint/resume idempotency (SURVEY §5.2.4)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.plans.manifest import (
    committed_buckets,
    frozen_strategy,
    load_templates,
    read_manifest,
)
from logparser_spark.plans.pipeline import aggregates_from_routed, run_pipeline
from logparser_spark.sources.transcripts import transcripts_df

CFG = PipelineConfig(num_partitions=8, checkpoint_buckets=8)
N, CONVS, SKEW = 3000, 40, 30


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, N, CONVS, SKEW).cache()


def _routed_rows(spark, out):
    return (
        spark.read.parquet(f"{out}/routed")
        .select("conv_id", "turn_idx", "event_id", "sink_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def test_full_run_then_noop_resume(spark, tdf):
    out = tempfile.mkdtemp(prefix="pipe_full_")
    try:
        r1 = run_pipeline(spark, tdf, out, CFG)
        assert r1.routed_rows == N
        assert sorted(r1.buckets_done) == list(range(CFG.checkpoint_buckets))
        first = _routed_rows(spark, out)
        assert r1.routed_rows == len(first)  # observed count = on-disk count

        # resume over a complete output is a no-op and changes nothing
        r2 = run_pipeline(spark, tdf, out, CFG)
        assert r2.buckets_done == []
        assert r2.buckets_skipped == list(range(CFG.checkpoint_buckets))
        assert _routed_rows(spark, out).equals(first)
        assert r2.routed_rows == len(first)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_kill_and_resume_is_exact(spark, tdf):
    ref_out = tempfile.mkdtemp(prefix="pipe_ref_")
    out = tempfile.mkdtemp(prefix="pipe_kill_")
    try:
        r_ref = run_pipeline(spark, tdf, ref_out, CFG)
        want = _routed_rows(spark, ref_out)
        assert r_ref.routed_rows == len(want)

        # die after committing 3 of 8 buckets (output partially on disk)
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, tdf, out, CFG, fail_after_buckets=3)
        assert len(committed_buckets(spark, out)) == 3

        # resume: remaining buckets processed, template set reused
        r2 = run_pipeline(spark, tdf, out, CFG)
        assert len(r2.buckets_done) == 5
        # routed_rows counts the rows of the buckets this run wrote
        resumed = spark.read.parquet(f"{out}/routed").filter(
            F.col("ckpt_bucket").isin(r2.buckets_done)
        )
        assert r2.routed_rows == resumed.count()
        got = _routed_rows(spark, out)
        assert got.equals(want)              # byte-identical routed rows
        assert len(got) == N                 # no dupes, no losses
    finally:
        shutil.rmtree(ref_out, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_resume_with_another_strategy_fails(spark, tdf):
    """The frozen templates record the strategy that mined them: resuming
    a Spell run with Drain must fail, not match the Spell templates with
    Drain's matcher."""
    out = tempfile.mkdtemp(prefix="pipe_strategy_")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, tdf, out, CFG, fail_after_buckets=3, strategy="spell")
        with pytest.raises(ValueError, match="mined with strategy 'spell'"):
            run_pipeline(spark, tdf, out, CFG, strategy="drain")
        assert len(committed_buckets(spark, out)) == 3
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_templates_without_strategy_are_refused(spark, tdf):
    """A bare-list ``_templates.json`` (no recorded strategy) cannot be
    resumed unchecked: loading it, or resuming over it, raises."""
    out = tempfile.mkdtemp(prefix="pipe_bare_")
    try:
        with open(os.path.join(out, "_templates.json"), "w") as f:
            json.dump([{"template": "a <*>", "count": 2}], f)
        for read in (load_templates, frozen_strategy):
            with pytest.raises(ValueError, match="records no strategy"):
                read(out)
        with pytest.raises(ValueError, match="records no strategy"):
            run_pipeline(spark, tdf, out, CFG, strategy="drain")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_manifest_lineage_and_metrics(spark, tdf):
    out = tempfile.mkdtemp(prefix="pipe_manifest_")
    try:
        run_pipeline(spark, tdf, out, CFG)
        m = read_manifest(spark, out)
        rows = m.orderBy("ckpt_bucket").collect()
        assert [r["ckpt_bucket"] for r in rows] == list(range(CFG.checkpoint_buckets))
        assert sum(r["routed_rows"] for r in rows) == N
        for r in rows:
            assert r["checksum"] is not None and r["routed_rows"] > 0
            assert r["min_conv"] <= r["max_conv"]
            assert r["wall_sec"] > 0
        # aggregates over committed buckets reconcile with routed rows
        swc, twc = aggregates_from_routed(spark, run_pipeline(spark, tdf, out, CFG), CFG)
        assert twc.agg(F.sum("n_turns")).first()[0] == N
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_pipeline_leaves_session_overwrite_mode_alone(spark, tdf):
    """Dynamic partition overwrite is an option of the routed write, not
    a session setting left behind for the caller."""
    key = "spark.sql.sources.partitionOverwriteMode"
    out = tempfile.mkdtemp(prefix="pipe_conf_")
    spark.conf.set(key, "STATIC")
    try:
        cfg = PipelineConfig(num_partitions=4, checkpoint_buckets=2)
        assert run_pipeline(spark, tdf, out, cfg).routed_rows == N
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)
        shutil.rmtree(out, ignore_errors=True)
