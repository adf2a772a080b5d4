"""Physical-plan audits: the plans we claim are the plans Catalyst picks.

These guard the scale properties (SURVEY §4, docs/SCALE.md): predicate
pushdown and column pruning reach the parquet scan, enrichment joins stay
broadcast, aggregation is partial+final, and assignment adds no shuffle.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from logparser_spark.config import DrainParams, PipelineConfig
from logparser_spark.drain import Cluster
from logparser_spark.operators.aggregate import salted_agg
from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.enrich import enrich
from logparser_spark.sources.lookups import lkp_role_df, lkp_tool_df

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_returnflag").count()
    plan = _plan(q)
    assert "ReadSchema: struct<l_returnflag:string>" in plan


def test_enrich_is_broadcast_not_sortmerge(spark):
    t = spark.createDataFrame(
        [("c0", 0, "user", "x", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    e = enrich(t, lkp_role_df(spark), lkp_tool_df(spark))
    plan = _plan(e)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_lookup_dims_are_jvm_local_relations(spark):
    """The dims plan as ``LocalTableScan``, not ``Scan ExistingRDD`` over a
    Python RDD, so their broadcasts before the routed write run no Python
    tasks."""
    for dim in (lkp_role_df(spark), lkp_tool_df(spark)):
        plan = _plan(dim)
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
    even = F.col("id") % 2 == 0
    t = spark.range(4).select(
        F.when(even, "user").otherwise("tool").alias("role"),
        F.when(even, "exec").otherwise("db").alias("tool"),
    )
    plan = _plan(enrich(t, lkp_role_df(spark), lkp_tool_df(spark)))
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("LocalTableScan") == 2
    assert "ExistingRDD" not in plan


def test_simhash_is_exploded_rows_not_hof(spark):
    """VERDICT r2 #7: simhash fingerprints must run as exploded rows with
    plain sum aggregates (md5 inside whole-stage codegen, map-side
    partial combine) — not interpreted higher-order-function lambdas."""
    from logparser_spark.operators.dedup import simhash_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash_df(docs, "doc_id", "text"))
    for hof in ("aggregate(", "zip_with("):
        assert hof not in plan, f"HOF {hof} back in the simhash plan"
    assert "Generate explode" in plan
    # partial + final hash aggregation of the per-bit sums
    assert plan.count("HashAggregate") == 2


def test_salted_agg_has_partial_and_final_stages(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = salted_agg(ev.select(F.col("user_id"), "event_id"), ["user_id"], salt_buckets=4)
    plan = _plan(out)
    # four HashAggregates: partial+final for each of the two stages
    assert plan.count("HashAggregate") == 4


def test_assignment_adds_no_shuffle(spark):
    t = spark.createDataFrame(
        [("c0", 0, "user", "hello world", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    clusters = [Cluster(tokens=["hello", "<*>"])]
    a = assign_templates(t, clusters, DrainParams())
    plan = _plan(a)
    assert "Exchange" not in plan  # mask + pandas_udf + project only
    assert "ArrowEvalPython" in plan


def test_routed_projection_has_no_format_string(spark):
    from logparser_spark.operators.route import with_sink_id

    t = spark.createDataFrame(
        [("c0", 0, "user", "hello", "e1", True)],
        "conv_id string, turn_idx int, role string, text string, event_id string, matched boolean",
    )
    routed = with_sink_id(t)
    plan = _plan(routed)
    # java.util.Formatter in a per-row projection is the documented
    # hot-path anti-pattern (CLAUDE.md); concat/lpad replaces it
    assert "format_string" not in plan
    assert routed.filter(F.col("matched")).first()["sink_id"].startswith("user-t")


def test_whole_stage_codegen_covers_masking(spark):
    from logparser_spark.functions.masking import mask_expr

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select(mask_expr("text").alias("m"))
    plan = _plan(q)
    # "*(n)" prefixes mark WholeStageCodegen stages in this rendering
    assert plan.lstrip().startswith("*(1) Project [regexp_replace")


def test_ivf_candidates_join_is_not_cartesian(spark):
    """IVF probe->index candidate generation must be an equi-join on
    centroid_id; only the k-row centroid table may appear in broadcast
    nested loops (the documented argmin pattern)."""
    from logparser_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = ann_ivf_topk(emb, emb.filter("vec_id < 5"), n_centroids=8, n_probe=2)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    # candidate equi-join present as a real join (hash or sort-merge)
    assert "Join" in plan


def test_cms_sketch_join_is_broadcast(spark):
    """The grid-bounded sketch side of cms_estimate must broadcast."""
    from logparser_spark.operators.sketches import cms_estimate, cms_sketch

    ev = spark.read.parquet(f"{SF}/events.parquet")
    sk = cms_sketch(ev, "user_id", 4, 256)
    est = cms_estimate(ev.select("user_id").distinct(), sk, "user_id", 4, 256)
    plan = _plan(est)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_registers_partial_aggregate_no_python(spark):
    """The HLL register build must be a two-phase hash aggregate (map-side
    partial MAX before the shuffle — the constant-size-partial property
    the sketch exists for) built from native expressions: no Python
    evaluation anywhere in the plan."""
    from logparser_spark.operators.sketches import hll_distinct

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(hll_distinct(ev, ["event_type"], "user_id"))
    assert plan.count("HashAggregate") >= 4  # partial+final for both aggs
    assert "partial_max" in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_curation_narrow_ops_add_no_exchange(spark):
    """chunk_documents / pii_redact / weighted_sample are pure narrow
    pipelines: no Exchange anywhere, no Python evaluation — they extend
    the scan's stage and scale embarrassingly."""
    from logparser_spark.operators.curation import (
        chunk_documents,
        pii_redact,
        weighted_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for q in (
        chunk_documents(docs),
        pii_redact(docs),
        weighted_sample(docs.select("doc_id", F.length("text").alias("w")),
                        "w", 0.01),
    ):
        plan = _plan(q)
        assert "Exchange" not in plan
        assert "Python" not in plan


def test_route_write_plan_uses_rebalance(spark, tmp_path, monkeypatch):
    """The shipped job's one save is the routed write, and it plans an
    AQE REBALANCE on its partition columns (AQE splits oversized sinks /
    coalesces small ones at runtime), not a fixed hash repartition."""
    from pyspark.sql.readwriter import DataFrameWriter

    from logparser_spark.plans.pipeline import run_pipeline
    from logparser_spark.sources.transcripts import transcripts_df

    plans = []
    save = DataFrameWriter.save

    def spy(self, path=None, *args, **kwargs):
        plans.append((path, self._df._jdf.queryExecution().analyzed().toString()))
        return save(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", spy)
    cfg = PipelineConfig(num_partitions=4, checkpoint_buckets=2)
    run_pipeline(spark, transcripts_df(spark, 500, 10, 0), str(tmp_path), cfg)
    [(path, plan)] = plans
    assert path.endswith("/routed")
    assert re.search(r"RebalancePartitions \[ckpt_bucket#\d+, sink_id#\d+\]", plan), plan
    assert "RepartitionByExpression" not in plan, plan


def test_grouped_percentiles_preaggregates_before_window(spark):
    """VERDICT r3 #3: the per-group window must sort pre-aggregated
    (key, value) COUNT rows — bounded by the value domain — never the
    raw rows (a Zipf-head group's raw rows in one sort task is the
    skew-killer the rest of the repo salts away).

    Pinned shape: exchange #1 on (keys, value) feeding the hash
    aggregate (map-side partial combine spreads a hot key over all
    mappers), exchange #2 on keys feeding the window over the tiny
    distinct-value frame.  No row_number over raw rows anywhere."""
    from logparser_spark.operators.aggregate import grouped_percentiles

    ev = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_type", "CAST(round(value * 100) AS BIGINT) AS v"
    )
    q = grouped_percentiles(ev, ["event_type"], "v")
    plan = _plan(q)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "row_number" not in plan, plan
    # the window's sort consumes the aggregate, not the scan: the final
    # HashAggregate appears below the Window in the plan tree rendering
    win_pos = plan.index("Window")
    agg_after_window_text = plan[win_pos:]
    assert "HashAggregate" in agg_after_window_text, plan


def test_incremental_dedup_has_no_cartesian_or_nested_loop(spark):
    """The incremental-dedup admission plan must stay equi-join shaped
    end to end: band-bucket joins for candidates, shingle equi-join for
    verification, hash joins for the cluster/corpus semi/anti steps.
    A CartesianProduct or BroadcastNestedLoopJoin anywhere means the
    batch-vs-corpus guarantee (cost proportional to the batch, never
    corpus squared) silently degenerated."""
    from logparser_spark.operators.dedup import incremental_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1).limit(50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    plan = _plan(incremental_dedup(new, corpus, threshold=0.9))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_two_phase_over_minhash_tower_has_bounded_plan(spark):
    """incremental_dedup(strategy='two_phase') must truncate the
    minhash→LSH→Jaccard candidate tower before the star rounds: the
    pre-fix plan duplicated the tower ~100× into the final join and its
    mere EXPLAIN string OOM'd a 1 GiB spark-submit driver.  Pin the
    optimized-plan rendering to a sane size."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.dedup import incremental_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    kept = incremental_dedup(docs, corpus, threshold=0.99, strategy="two_phase")
    plan_str = kept._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan_str) < 200_000, len(plan_str)
