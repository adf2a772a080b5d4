"""The measured job and its Spark session.

``run_job`` is the shipped batch job of ``jobs/run_pipeline.py``:
``run_pipeline``, then ``aggregates_from_routed``, then the aggregate
parquet write, on a session that is already up.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time

import host

#: checkpoint buckets of the shipped job (``--checkpoint-buckets``)
CHECKPOINT_BUCKETS = 4


def build_spark(root: str, work_dir: str, res: dict, event_log_dir: str | None = None):
    """A ``local[slots]`` session sized from the host, all scratch space
    under ``work_dir``.  ``event_log_dir`` turns the event log on."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(res["local_dir"], exist_ok=True)
    # Python workers import logparser_spark from the checkout; the JVM
    # and the workers inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = res["local_dir"]
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{res['slots']}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{res['driver_heap_mb']}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", res["local_dir"])
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pipeline_config(spark):
    from logparser_spark.config import PipelineConfig

    # as jobs/run_pipeline.py: two partitions per task slot
    return PipelineConfig(
        num_partitions=spark.sparkContext.defaultParallelism * 2,
        checkpoint_buckets=CHECKPOINT_BUCKETS,
    )


def warm_workers(spark, slots: int) -> None:
    """Fork a Python worker on every slot and import the package there.

    Each task holds its slot for half a second, so every slot runs one
    at the same time."""
    import pandas as pd

    def hold(batches):
        import logparser_spark.operators.assign  # noqa: F401
        import logparser_spark.operators.mine  # noqa: F401

        n = sum(len(b) for b in batches)
        time.sleep(0.5)
        yield pd.DataFrame({"n": [n]})

    spark.range(0, slots * 10, 1, slots).mapInPandas(hold, "n long").collect()


def run_job(spark, input_dir: str, out_dir: str, cfg):
    """The shipped batch job; returns the ``PipelineResult``."""
    from logparser_spark.plans.pipeline import aggregates_from_routed, run_pipeline

    transcripts = spark.read.parquet(input_dir)
    result = run_pipeline(spark, transcripts, out_dir, cfg)
    swc, _twc = aggregates_from_routed(spark, result, cfg)
    swc.write.mode("overwrite").parquet(os.path.join(out_dir, "agg_sink_window"))
    return result


def build_partial_state(spark, input_dir: str, state_dir: str, cfg) -> None:
    """Output of a run that died after committing half the buckets."""
    from logparser_spark.plans.pipeline import run_pipeline

    half = cfg.checkpoint_buckets // 2
    try:
        run_pipeline(spark, spark.read.parquet(input_dir), state_dir, cfg,
                     fail_after_buckets=half)
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise RuntimeError("fail_after_buckets did not stop the run")


def fresh_out(work_dir: str, name: str, state_dir: str | None) -> str:
    """An empty output directory, or a copy of ``state_dir``."""
    out = os.path.join(work_dir, "out", name)
    shutil.rmtree(out, ignore_errors=True)
    if state_dir:
        shutil.copytree(state_dir, out)
    else:
        os.makedirs(os.path.dirname(out), exist_ok=True)
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and so every Python
    worker under it) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
