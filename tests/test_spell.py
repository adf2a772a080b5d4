"""Spell (LCS) mining strategy: kernel semantics + distributed equality."""

from __future__ import annotations

import pytest

from logparser_spark.config import PipelineConfig
from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.mine import mine_templates
from logparser_spark.sources.transcripts import transcripts_df, transcripts_pdf
from logparser_spark.spell import (
    SpellMap,
    SpellParams,
    align_template,
    lcs,
    spell_parse_sequential,
)
from logparser_spark.strategies import merge_template_sets

HDFS_LINES = [
    "Receiving block blk_-160899 src: /10.250.19.102:54106 dest: /10.250.19.102:50010",
    "Receiving block blk_750348 src: /10.251.215.16:55695 dest: /10.251.215.16:50010",
    "Received block blk_358750 of size 67108864 from /10.251.42.84",
    "Received block blk_540200 of size 67108864 from /10.251.214.112",
    "Verification succeeded for blk_-498091",
    "Verification succeeded for blk_894016",
]


def test_lcs_basics():
    assert lcs(list("abcde"), list("ace")) == list("ace")
    assert lcs(["x"], ["y"]) == []
    assert align_template(["a", "c"], ["a", "b", "c", "d"]) == ["a", "<*>", "c", "<*>"]


def test_spell_kernel_groups_hdfs_lines():
    recs, clusters = spell_parse_sequential(HDFS_LINES)
    templates = sorted(c.template for c in clusters)
    assert templates == [
        "Received block <*> of size <*> from /<*>",
        "Receiving block <*> src: /<*> dest: /<*>",
        "Verification succeeded for <*>",
    ]
    assert recs[0]["event_id"] == recs[1]["event_id"]
    assert recs[2]["event_id"] == recs[3]["event_id"]


def test_spell_tau_rejects_dissimilar():
    smap = SpellMap()
    smap.add_message("alpha beta gamma delta".split())
    c = smap.add_message("one two three four".split())
    assert len(smap.clusters) == 2
    assert c.template == "one two three four"


def test_spell_merge_deterministic_and_count_conserving():
    _, clusters = spell_parse_sequential(HDFS_LINES)
    pairs = [(c.template, c.count) for c in clusters]
    merged_a = merge_template_sets([pairs], "spell")
    merged_b = merge_template_sets([list(reversed(pairs))], "spell")
    assert sorted(c.template for c in merged_a) == sorted(c.template for c in merged_b)
    assert sum(c.count for c in merged_a) == len(HDFS_LINES)


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, 2000, 30, 20).cache()


def test_distributed_spell_matches_sequential_oracle(spark, tdf):
    cfg = PipelineConfig(num_partitions=8)
    mined = mine_templates(tdf, cfg, strategy="spell")
    pdf = (
        transcripts_pdf(2000, 30, 20)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    recs, oracle_clusters = spell_parse_sequential(pdf["text"].tolist())
    assert sorted(c.template for c in mined) == sorted(
        c.template for c in oracle_clusters
    )
    assigned = assign_templates(tdf, mined, cfg.drain, with_params=False, strategy="spell")
    got = (
        assigned.select("conv_id", "turn_idx", "event_id", "matched")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    assert bool(got["matched"].all())
    assert got["event_id"].tolist() == [r["event_id"] for r in recs]


def test_spell_params_reach_kernel_merge_and_matcher(spark, tdf):
    """``strategy_params`` is not silently dropped: a looser ``tau``
    changes the mined set, and a stricter one changes what the matcher
    accepts."""
    cfg = PipelineConfig(num_partitions=8)
    loose = SpellParams(tau=0.3)
    mined = mine_templates(tdf, cfg, strategy="spell", strategy_params=loose)
    texts = (
        transcripts_pdf(2000, 30, 20)
        .sort_values(["conv_id", "turn_idx"], kind="stable")["text"]
        .tolist()
    )
    # the default-tau mine equals this oracle (test above)
    _, default_clusters = spell_parse_sequential(texts)
    assert sorted(c.template for c in mined) != sorted(
        c.template for c in default_clusters
    )

    def matched(params):
        return assign_templates(
            tdf, mined, cfg.drain, with_params=False, strategy="spell",
            strategy_params=params,
        ).filter("matched").count()

    assert matched(loose) == 2000
    assert matched(SpellParams(tau=0.9)) < 2000


def test_streaming_assign_uses_the_mining_strategy(spark, tdf, tmp_path):
    """The streaming job (run_streaming_pipeline, as run_pipeline.py
    --stream runs it) must match with the strategy that mined the
    clusters (Spell here), not the default Drain matcher.  Spell's <*>
    spans a variable number of tokens; the Drain matcher needs the
    template's token count, so it would leave the long-name turns dead."""
    from pyspark.sql import functions as F

    from logparser_spark.plans.manifest import frozen_strategy, load_templates
    from logparser_spark.streaming.stream import run_streaming_pipeline

    cfg = PipelineConfig(num_partitions=8)
    name = F.when(F.col("turn_idx") % 2 == 0, "alice").otherwise("bob van der berg")
    login = F.concat(F.lit("session opened for user "), name, F.lit(" by admin"))
    turns = tdf.withColumn(
        "text", F.when(F.col("turn_idx") % 5 == 0, login).otherwise(F.col("text"))
    )
    in_path, out = str(tmp_path / "in"), str(tmp_path / "out")
    turns.write.parquet(in_path)
    run_streaming_pipeline(spark, in_path, out, cfg, strategy="spell")
    assert frozen_strategy(out) == "spell"
    mined = load_templates(out)
    cols = ["conv_id", "turn_idx", "event_id", "matched"]
    got = spark.read.parquet(f"{out}/routed").select(*cols)
    want = assign_templates(turns, mined, cfg.drain, strategy="spell").select(*cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
