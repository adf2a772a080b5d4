"""Driver-fit guards for the batch mining kernels (VERDICT r2 #3 /
ADVICE r2 lke): a masking-miss corpus (unique masked texts stay
high-cardinality) must fail loudly or auto-sample — never silently
collect unbounded text sets to the driver."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.mine import mine_templates


def _masking_miss_corpus(spark, n=3000):
    """Texts whose only varying token is alphanumeric-mixed (md5 hex) —
    DEFAULT_REX masks none of it, so every row is a unique masked text."""
    return spark.range(n).select(
        F.concat(F.lit("conv"), F.pmod("id", F.lit(10)).cast("string")).alias(
            "conv_id"
        ),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("op token "), F.md5(F.col("id").cast("string"))).alias(
            "text"
        ),
    )


def test_batch_kernel_unique_cap_errors(spark):
    df = _masking_miss_corpus(spark)
    with pytest.raises(ValueError, match="unique_cap"):
        mine_templates(df, strategy="iplom", unique_cap=500)


def test_batch_kernel_unique_cap_auto_sample(spark):
    df = _masking_miss_corpus(spark)
    clusters = mine_templates(
        df, strategy="iplom", unique_cap=500, cap_action="sample"
    )
    # the escalated sample keeps a bounded subset of conv groups and the
    # fit still returns templates over it
    assert clusters
    assert sum(c.count for c in clusters) < 3000


def test_unknown_strategy_fails_before_falling_back_to_drain(spark):
    df = _masking_miss_corpus(spark, n=10)
    with pytest.raises(ValueError, match="unknown strategy 'Spell'.*'drain'"):
        mine_templates(df, strategy="Spell")
    with pytest.raises(ValueError, match="unknown strategy 'Spell'.*'drain'"):
        assign_templates(df, [], strategy="Spell")


def test_wrong_params_type_fails_before_any_job(spark):
    """A params object of another strategy's type raises TypeError up
    front; the frame raises on evaluation, so any Spark job (the batch
    cap pre-pass, the mine, the assign) would surface as a Spark error
    instead."""
    from logparser_spark.config import DrainParams
    from logparser_spark.logsig import LogSigParams
    from logparser_spark.spell import SpellParams

    df = spark.range(10).select(
        F.lit("c").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.raise_error(F.lit("no Spark job may run")).cast("string").alias("text"),
    )
    with pytest.raises(TypeError, match="'iplom' takes IPLoMParams, got SpellParams"):
        mine_templates(df, strategy="iplom", strategy_params=SpellParams())
    with pytest.raises(TypeError, match="'spell' takes SpellParams, got LogSigParams"):
        mine_templates(df, strategy="spell", strategy_params=LogSigParams())
    with pytest.raises(TypeError, match="not strategy_params \\(got SpellParams\\)"):
        assign_templates(df, [], strategy="drain", strategy_params=SpellParams()).collect()
    # Drain's one DrainParams source is cfg.drain / params (masking reads
    # it too), so even its own type is refused as strategy_params
    with pytest.raises(TypeError, match="not strategy_params \\(got DrainParams\\)"):
        mine_templates(df, strategy="drain", strategy_params=DrainParams(st=0.9))


def test_online_kernels_unaffected_by_cap(spark):
    # drain's collect is per-partition template SETS, not texts — the
    # guard must not fire for online kernels even on a miss corpus
    df = _masking_miss_corpus(spark, n=500)
    clusters = mine_templates(df, strategy="drain", unique_cap=10)
    assert sum(c.count for c in clusters) == 500


def test_lke_fit_guard():
    from logparser_spark.lke import LKEParams, lke_fit

    texts = {f"alpha beta{i} gamma": 1 for i in range(6)}
    with pytest.raises(ValueError, match="max_fit_texts"):
        lke_fit(texts, LKEParams(max_fit_texts=5))
    # at or below the cap the fit proceeds
    assert lke_fit(texts, LKEParams(max_fit_texts=6)).clusters
