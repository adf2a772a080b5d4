"""The traced run: one job with a span around each layer, then one
noop pass per fused layer so the fused write stage splits into self
times.

Spans wrap the module attributes ``run_pipeline`` calls, for the
duration of the traced call only.  ``pipeline.unattributed_s`` is what
the spans inside ``run_pipeline`` leave uncovered.
"""

from __future__ import annotations

import glob
import os
import pstats

from spans import busy_s, fold_event_log, merged, task_skew

PER_LAYER = (
    ("sources.scan_s", "s"),
    ("masking.self_s", "s"),
    ("masking.distinct_ratio", "ratio"),
    ("mine.wall_s", "s"),
    ("mine.driver_s", "s"),
    ("mine.collected_rows", "count"),
    ("mine.templates", "count"),
    ("mine.shuffle_bytes", "B"),
    ("mine.task_skew", "ratio"),
    ("assign.self_s", "s"),
    ("assign.python_s", "s"),
    ("assign.batch_distinct_ratio", "ratio"),
    ("assign.matched_share", "ratio"),
    ("enrich.self_s", "s"),
    ("route.self_s", "s"),
    ("route.shuffle_bytes", "B"),
    ("route.write_tasks", "count"),
    ("route.task_skew", "ratio"),
    ("route.files", "count"),
    ("route.sinks", "count"),
    ("route.dead_share", "ratio"),
    ("manifest.commit_s", "s"),
    ("manifest.committed_buckets_s", "s"),
    ("manifest.templates_io_s", "s"),
    ("pipeline.wall_s", "s"),
    ("pipeline.jobs", "count"),
    ("pipeline.stages", "count"),
    ("pipeline.tasks", "count"),
    ("pipeline.gc_s", "s"),
    ("pipeline.spill_bytes", "B"),
    ("pipeline.unattributed_s", "s"),
    ("pipeline.trace_overhead", "ratio"),
    ("aggregate.sink_window_s", "s"),
    ("aggregate.turn_window_s", "s"),
    ("aggregate.shuffle_bytes", "B"),
)

#: spans inside run_pipeline whose durations are attributed to a layer
_ATTRIBUTED = ("mine", "route.write", "manifest.commit",
               "manifest.committed_buckets", "manifest.templates_io")


def traced_job(spark, tracer, input_dir: str, out: str, cfg) -> dict:
    """The shipped job with spans around each layer call; returns the
    template rows the mine collected to the driver and the templates it
    kept (both 0 when the run reused frozen templates)."""
    import logparser_spark.operators.mine as mine_mod
    import logparser_spark.plans.pipeline as P
    from logparser_spark.plans import manifest as M
    from pyspark.sql.readwriter import DataFrameWriter

    collected = []
    patches: list = []
    merge = getattr(mine_mod, "merge_template_sets", None)
    if merge is not None:
        def counting_merge(pairs, *args, **kwargs):
            collected.append(sum(len(p) for p in pairs))
            return merge(pairs, *args, **kwargs)

        patches.append((mine_mod, "merge_template_sets", merge))
        mine_mod.merge_template_sets = counting_merge
    tracer.wrap(P, "mine_templates", "mine", patches)
    tracer.wrap(M, "committed_buckets", "manifest.committed_buckets", patches)
    tracer.wrap(M, "load_templates", "manifest.templates_io", patches)
    tracer.wrap(M, "save_templates", "manifest.templates_io", patches)
    tracer.wrap(M, "bucket_metrics", "manifest.commit", patches)
    tracer.wrap(M, "write_manifest_rows", "manifest.commit", patches)
    # the only DataFrameWriter.save in run_pipeline is the routed write
    tracer.wrap(DataFrameWriter, "save", "route.write", patches)
    try:
        with tracer.span("pipeline"):
            result = P.run_pipeline(spark, spark.read.parquet(input_dir), out, cfg)
    finally:
        tracer.unwrap(patches)
    with tracer.span("aggregate.sink_window"):
        swc, twc = P.aggregates_from_routed(spark, result, cfg)
        swc.write.mode("overwrite").parquet(os.path.join(out, "agg_sink_window"))
    # not written by the shipped job; timed for the layer table only
    with tracer.span("aggregate.turn_window"):
        twc.write.format("noop").mode("overwrite").save()
    mined = any(s["name"] == "mine" for s in tracer.spans)
    return {"collected_rows": sum(collected), "templates": result.n_templates if mined else 0}


def layer_passes(spark, tracer, input_dir: str, out: str, cfg, todo: list[int],
                 work_dir: str) -> dict:
    """Cumulative noop passes over the turns the traced job processed:
    scan, + mask, + assign, + enrich and sink id.  Then one assign pass
    under the UDF profiler and the distinct-text counts."""
    import pandas as pd
    from logparser_spark.functions.hashing import bucket_expr
    from logparser_spark.operators.assign import assign_templates
    from logparser_spark.operators.enrich import enrich
    from logparser_spark.operators.mine import with_masked
    from logparser_spark.operators.route import with_sink_id
    from logparser_spark.plans import manifest as M
    from logparser_spark.sources.lookups import lkp_role_df, lkp_tool_df
    from pyspark.sql import functions as F

    pending = (
        spark.read.parquet(input_dir)
        .withColumn("ckpt_bucket", bucket_expr("conv_id", cfg.checkpoint_buckets).cast("int"))
        .filter(F.col("ckpt_bucket").isin(todo))
    )
    clusters = M.load_templates(out)
    masked = with_masked(pending, cfg.drain)
    assigned = assign_templates(pending, clusters, cfg.drain)
    routed = with_sink_id(enrich(assigned, lkp_role_df(spark), lkp_tool_df(spark)), cfg)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    with tracer.span("sources.scan"):
        noop(pending)
    with tracer.span("masking.cum"):
        noop(masked)
    with tracer.span("assign.cum"):
        noop(assigned)
    with tracer.span("enrich.cum"):
        noop(routed.drop("masked"))

    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        with tracer.span("assign.profiled"):
            noop(assigned)
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    prof_dir = os.path.join(work_dir, "udf-profile")
    spark.profile.dump(prof_dir, type="perf")
    python_s = sum(pstats.Stats(p).total_tt for p in glob.glob(f"{prof_dir}/*.pstats"))

    with tracer.span("masking.distinct"):
        distinct, rows = masked.agg(F.countDistinct("masked"), F.count(F.lit(1))).first()

    def batch_uniques(batches):
        for b in batches:
            yield pd.DataFrame({"u": [b["masked"].nunique()], "n": [len(b)]})

    with tracer.span("assign.batches"):
        per_batch = masked.select("masked").mapInPandas(batch_uniques, "u long, n long").collect()
    return {
        "python_s": python_s,
        "distinct_ratio": distinct / max(rows, 1),
        "batch_distinct_ratio": sum(r["u"] for r in per_batch) / max(sum(r["n"] for r in per_batch), 1),
    }


def per_layer_metrics(tracer, event_log_dir: str, job: dict, passes: dict,
                      stats: dict, bracket_s: float) -> dict[str, float]:
    """``bracket_s`` is the mean wall time of the untraced jobs run just
    before and just after the traced one."""
    groups = fold_event_log(event_log_dir)
    t = tracer.total

    def grp(*names):
        return merged(groups, set(names))

    scan, mask_c, assign_c, enrich_c = (
        t("sources.scan"), t("masking.cum"), t("assign.cum"), t("enrich.cum"))
    mine_g = grp("mine")
    route_g = grp("route.write")
    pipe_g = grp(*tracer.subtree("pipeline"))
    agg_g = grp("aggregate.sink_window")
    wall = t("pipeline")
    traced_job_s = wall + t("aggregate.sink_window")
    m = {
        "sources.scan_s": scan,
        "masking.self_s": mask_c - scan,
        "masking.distinct_ratio": passes["distinct_ratio"],
        "mine.wall_s": t("mine"),
        "mine.driver_s": t("mine") - busy_s(mine_g["job_intervals"]) if t("mine") else 0.0,
        "mine.collected_rows": job["collected_rows"],
        "mine.templates": job["templates"],
        "mine.shuffle_bytes": mine_g["shuffle_bytes"],
        "mine.task_skew": task_skew(mine_g["stage_tasks"]),
        "assign.self_s": assign_c - mask_c,
        "assign.python_s": passes["python_s"],
        "assign.batch_distinct_ratio": passes["batch_distinct_ratio"],
        "assign.matched_share": 1.0 - stats["dead_share"],
        "enrich.self_s": enrich_c - assign_c,
        "route.self_s": t("route.write") - enrich_c,
        "route.shuffle_bytes": route_g["shuffle_bytes"],
        "route.write_tasks": len(route_g["stage_tasks"][-1]) if route_g["stage_tasks"] else 0,
        "route.task_skew": task_skew(route_g["stage_tasks"]),
        "route.files": stats["files"],
        "route.sinks": stats["sinks"],
        "route.dead_share": stats["dead_share"],
        "manifest.commit_s": t("manifest.commit"),
        "manifest.committed_buckets_s": t("manifest.committed_buckets"),
        "manifest.templates_io_s": t("manifest.templates_io"),
        "pipeline.wall_s": wall,
        "pipeline.jobs": pipe_g["jobs"],
        "pipeline.stages": pipe_g["stages"],
        "pipeline.tasks": pipe_g["tasks"],
        "pipeline.gc_s": pipe_g["gc_s"],
        "pipeline.spill_bytes": pipe_g["spill_bytes"],
        "pipeline.unattributed_s": wall - sum(t(n) for n in _ATTRIBUTED),
        "pipeline.trace_overhead": traced_job_s / bracket_s - 1.0,
        "aggregate.sink_window_s": t("aggregate.sink_window"),
        "aggregate.turn_window_s": t("aggregate.turn_window"),
        "aggregate.shuffle_bytes": agg_g["shuffle_bytes"],
    }
    return m
