"""End-to-end pipeline: parse → enrich → route → aggregate, resumable.

Lifecycle (SURVEY §3.4) — one Spark application, shuffles annotated::

    scan → mask (native regexp, codegen)           no shuffle
         → mine (mapInPandas per conv_id-hash part) shuffle #1 (mining only)
         → merge templates (driver, KBs)            collect (tiny)
         → assign (broadcast tree, Arrow batches)   no shuffle
         → enrich (broadcast joins)                 no shuffle
         → route  (REBALANCE(ckpt_bucket, sink_id)  shuffle #2 (write-side)
                   partitionBy fan-out write)
         → commit (manifest rows from a read-back)  one job; routed_rows is
                                                    observed on it, no re-count
         → aggregate (two-stage salted counts)      shuffles #3a/#3b

Resume: committed ckpt_buckets are skipped; the frozen template set is
reloaded so routed output across runs is byte-consistent.  The batch job
runs ``route_commit`` once over all pending buckets; the streaming job
(:func:`~logparser_spark.streaming.stream.run_streaming_pipeline`) runs
``frozen_templates`` once and ``route_commit`` per epoch.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.drain import Cluster
from logparser_spark.functions.hashing import bucket_expr
from logparser_spark.operators.aggregate import sink_window_counts, turn_window_counts
from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.enrich import enrich
from logparser_spark.operators.mine import mine_templates
from logparser_spark.operators.route import commit_unit, route_write
from logparser_spark.plans import manifest as M
from logparser_spark.sources.lookups import lkp_role_df, lkp_tool_df
from logparser_spark.strategies import check_strategy


@dataclass
class PipelineResult:
    out_dir: str
    run_id: str
    n_templates: int
    buckets_done: list[int] = field(default_factory=list)
    buckets_skipped: list[int] = field(default_factory=list)
    routed_rows: int = 0
    wall_sec: float = 0.0
    unit: str = "ckpt_bucket"  # commit-unit column of routed and the ledger

    @property
    def routed_path(self) -> str:
        return os.path.join(self.out_dir, "routed")


def frozen_templates(transcripts: DataFrame, out_dir: str, cfg: PipelineConfig,
                     strategy: str = "drain", mine_sample_one_in: int = 1) -> list[Cluster]:
    """The template set frozen in ``out_dir``: loaded from
    ``_templates.json``, or mined from ``transcripts`` and saved there on
    the first run.  A strategy other than the frozen one raises
    ``ValueError`` before any Spark job."""
    check_strategy(strategy)
    frozen = M.frozen_strategy(out_dir)
    if frozen is not None and frozen != strategy:
        raise ValueError(
            f"{out_dir} holds templates mined with strategy {frozen!r}; "
            f"resume it with strategy={frozen!r}, not {strategy!r}"
        )
    clusters = M.load_templates(out_dir)
    if clusters is None:
        clusters = mine_templates(
            transcripts, cfg, sample_one_in=mine_sample_one_in, strategy=strategy
        )
        M.save_templates(clusters, out_dir, strategy)
        clusters = M.load_templates(out_dir)  # canonical (sorted) form
    return clusters


def route_commit(routed: DataFrame, out_dir: str, cfg: PipelineConfig, run_id: str,
                 t0: float, units: list[int]) -> int:
    """Write ``routed`` through ``route_write`` into ``<out>/routed``,
    then commit ``units`` (values of its commit-unit column): one
    read-back of their rows on disk feeds the ledger rows, so the ledger
    describes what was written.  Returns the committed rows, observed on
    the ledger write rather than re-counted."""
    routed_path = os.path.join(out_dir, "routed")
    route_write(routed, routed_path, cfg)
    wall = time.time() - t0
    on_disk = routed.sparkSession.read.format(cfg.sink_format).load(routed_path).filter(
        F.col(commit_unit(routed)).isin([int(u) for u in units])
    )
    metrics = M.bucket_metrics(on_disk, run_id, wall)
    obs = Observation()
    M.write_manifest_rows(
        metrics.observe(obs, F.sum("routed_rows").alias("routed_rows")), out_dir
    )
    return obs.get["routed_rows"] or 0


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    lkp_role: DataFrame | None = None,
    lkp_tool: DataFrame | None = None,
    mine_sample_one_in: int = 1,
    fail_after_buckets: int | None = None,
    strategy: str = "drain",
) -> PipelineResult:
    """Run (or resume) the full pipeline into ``out_dir``.

    ``strategy`` selects the mining/matching engine (drain, spell,
    iplom, lenma, ael, logmine, shiso, lke, molfi, logsig); the
    frozen-template contract and resume protocol are engine-independent
    (templates are plain strings).  ``routed_rows`` counts the rows of
    the buckets this run wrote, or of the whole table when every bucket
    was already committed.
    A resume must use the strategy recorded with the frozen templates;
    another one raises ``ValueError`` before any Spark job.
    ``fail_after_buckets`` is a test hook: commit only the first k buckets'
    manifests then raise, simulating a mid-run death *after* partial
    output landed (SURVEY §5.2 resume test).
    """
    cfg = cfg or PipelineConfig()
    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    clusters = frozen_templates(transcripts, out_dir, cfg, strategy, mine_sample_one_in)
    if lkp_role is None:
        lkp_role = lkp_role_df(spark)
    if lkp_tool is None:
        lkp_tool = lkp_tool_df(spark)

    # -- resume bookkeeping -------------------------------------------------
    committed = M.committed_buckets(spark, out_dir)
    todo = sorted(set(range(cfg.checkpoint_buckets)) - committed)
    result = PipelineResult(
        out_dir=out_dir,
        run_id=run_id,
        n_templates=len(clusters),
        buckets_skipped=sorted(committed),
    )
    if not todo:
        result.routed_rows = (
            spark.read.format(cfg.sink_format).load(result.routed_path).count()
        )
        result.wall_sec = time.time() - t0
        return result

    # -- parse → enrich → route over uncommitted buckets, then commit -------
    bucketed = transcripts.withColumn(
        "ckpt_bucket", bucket_expr("conv_id", cfg.checkpoint_buckets).cast("int")
    )
    pending = bucketed.filter(F.col("ckpt_bucket").isin([int(b) for b in todo]))
    assigned = assign_templates(pending, clusters, cfg.drain, strategy=strategy)
    commit = todo if fail_after_buckets is None else todo[:fail_after_buckets]
    result.routed_rows = route_commit(
        enrich(assigned, lkp_role, lkp_tool), out_dir, cfg, run_id, t0, commit
    )
    result.buckets_done = list(commit)
    if len(commit) < len(todo):
        raise RuntimeError(
            f"injected failure after committing {len(commit)}/{len(todo)} buckets"
        )
    result.wall_sec = time.time() - t0
    return result


def aggregates_from_routed(spark: SparkSession, result: PipelineResult,
                           cfg: PipelineConfig | None = None) -> tuple[DataFrame, DataFrame]:
    """Final per-sink windowed aggregates over the committed routed table
    (the buckets ``result`` found committed or committed itself)."""
    cfg = cfg or PipelineConfig()
    routed = spark.read.format(cfg.sink_format).load(result.routed_path)
    committed = set(result.buckets_done) | set(result.buckets_skipped)
    routed = routed.filter(F.col(result.unit).isin([int(b) for b in committed]))
    return sink_window_counts(routed, cfg), turn_window_counts(routed, cfg)
