"""Salted-agg equivalence, enrichment joins, routing invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.operators.aggregate import salted_agg, sink_window_counts, turn_window_counts
from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.enrich import enrich
from logparser_spark.operators.mine import mine_templates
from logparser_spark.operators.route import with_sink_id
from logparser_spark.sources.lookups import lkp_role_df, lkp_tool_df
from logparser_spark.sources.transcripts import transcripts_df

CFG = PipelineConfig(num_partitions=8, salt_buckets=7)


@pytest.fixture(scope="module")
def routed(spark):
    # heavy skew: 60% of turns in one conversation
    tdf = transcripts_df(spark, 4000, 30, 60).cache()
    mined = mine_templates(tdf, CFG)
    assigned = assign_templates(tdf, mined, CFG.drain, with_params=False)
    enriched = enrich(assigned, lkp_role_df(spark), lkp_tool_df(spark))
    return with_sink_id(enriched, CFG).cache()


def test_route_write_sink_format_pluggable(spark, routed, tmp_path):
    """``cfg.sink_format`` is a real seam, not a constant: the same
    routed frame written as ORC (Spark's other built-in columnar
    format) round-trips row-identically with the parquet output — the
    construction an Iceberg/Delta writer would slot into on a cluster
    (SURVEY Appendix; no Iceberg jar in this sandbox)."""
    from logparser_spark.operators.route import route_write

    pq, orc = str(tmp_path / "pq"), str(tmp_path / "orc")
    route_write(routed, pq, CFG)
    route_write(routed, orc, PipelineConfig(
        num_partitions=8, salt_buckets=7, sink_format="orc"))
    a = spark.read.parquet(pq)
    b = spark.read.orc(orc)
    assert sorted(a.columns) == sorted(b.columns)
    cols = sorted(a.columns)
    assert a.select(*cols).exceptAll(b.select(*cols)).count() == 0
    assert b.select(*cols).exceptAll(a.select(*cols)).count() == 0


def test_salted_equals_naive_on_skew(spark, routed):
    naive = (
        routed.groupBy("conv_id", "event_id").count().withColumnRenamed("count", "n")
    )
    salted = salted_agg(routed, ["conv_id", "event_id"], salt_buckets=CFG.salt_buckets)
    assert naive.exceptAll(salted).count() == 0
    assert salted.exceptAll(naive).count() == 0


def test_salted_custom_aggs_equal_naive(spark, routed):
    base = routed.withColumn("v", F.length("text").cast("bigint"))
    naive = base.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("total"),
        F.max("v").alias("mx"),
        F.min("v").alias("mn"),
    )
    salted = salted_agg(
        base,
        ["conv_id"],
        aggs={
            "n": ("count", "sum"),
            "total": ("v", "sum", "sum"),
            "mx": ("v", "max", "max"),
            "mn": ("v", "min", "min"),
        },
        salt_buckets=CFG.salt_buckets,
    ).select("conv_id", "n", "total", "mx", "mn")
    naive = naive.select("conv_id", "n", "total", "mx", "mn")
    assert naive.exceptAll(salted).count() == 0
    assert salted.exceptAll(naive).count() == 0


def test_sink_window_counts_reconcile(spark, routed):
    swc = sink_window_counts(routed, CFG)
    assert swc.agg(F.sum("n_turns")).first()[0] == routed.count()
    twc = turn_window_counts(routed, CFG)
    assert twc.agg(F.sum("n_turns")).first()[0] == routed.count()
    # turn buckets are aligned multiples of the bucket width
    bad = twc.filter(F.pmod(F.col("turn_bucket"), F.lit(CFG.turn_bucket)) != 0)
    assert bad.count() == 0


def test_enrichment_left_join_semantics(spark, routed):
    # every role present in dims → no null role_group
    assert routed.filter("role_group IS NULL").count() == 0
    # non-tool turns have tool='' which is absent from lkp_tool → nulls kept
    assert routed.filter("tool = '' AND tool_family IS NOT NULL").count() == 0
    assert routed.filter("tool <> '' AND tool_family IS NULL").count() == 0


def test_enrich_plan_uses_broadcast_join(spark, routed):
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_routing_is_deterministic_function(spark, routed):
    # same (role, event_id) always → same sink_id
    n = routed.select("role", "event_id", "sink_id").distinct().count()
    assert n == routed.select("role", "event_id").distinct().count()


def test_matched_rows_never_route_dead(spark, routed):
    assert routed.filter("matched AND sink_id = 'dead'").count() == 0


# -- exact grouped percentiles -------------------------------------------------


def test_grouped_percentiles_matches_nearest_rank_numpy(spark):
    import math

    from logparser_spark.operators.aggregate import grouped_percentiles

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS v")
        .cache()
    )
    got = {
        (r["event_type"], r["pct"]): r["v"]
        for r in grouped_percentiles(ev, ["event_type"], "v").collect()
    }
    pdf = ev.toPandas()
    for etype, grp in pdf.groupby("event_type"):
        vals = sorted(grp["v"])
        for p in (0.5, 0.95, 0.99):
            expect = vals[math.ceil(p * len(vals)) - 1]
            assert got[(etype, f"p{round(p * 100)}")] == expect
    # long form: one row per (group, pct)
    assert len(got) == pdf["event_type"].nunique() * 3


def test_grouped_percentiles_duplicate_values_and_tiny_groups(spark):
    from logparser_spark.operators.aggregate import grouped_percentiles

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 7)], "g string, v long"
    )
    got = {
        (r["g"], r["pct"]): r["v"]
        for r in grouped_percentiles(df, ["g"], "v", ps=(0.5, 1.0)).collect()
    }
    # a: sorted [1,1,2] -> p50 = ceil(1.5)=rank2 -> 1, p100 = rank3 -> 2
    assert got[("a", "p50")] == 1 and got[("a", "p100")] == 2
    # singleton group: every percentile is the value
    assert got[("b", "p50")] == 7 and got[("b", "p100")] == 7
