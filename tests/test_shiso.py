"""SHISO (char-class capacity-tree) mining strategy: kernel semantics +
distributed mine/assign equality vs the sequential oracle."""

from __future__ import annotations

import math

import pytest

from logparser_spark.config import PipelineConfig
from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.mine import mine_templates
from logparser_spark.shiso import (
    ShisoParams,
    ShisoTree,
    log_dist,
    shiso_parse_sequential,
    word_dist,
    word_vec,
)
from logparser_spark.sources.transcripts import transcripts_df, transcripts_pdf
from logparser_spark.strategies import merge_template_sets

HDFS_LINES = [
    "Receiving block blk_-160899 src: /10.250.19.102:54106 dest: /10.250.19.102:50010",
    "Receiving block blk_750348 src: /10.251.215.16:55695 dest: /10.251.215.16:50010",
    "Received block blk_358750 of size 67108864 from /10.251.42.84",
    "Received block blk_540200 of size 67108864 from /10.251.214.112",
    "Verification succeeded for blk_-498091",
    "Verification succeeded for blk_894016",
]


def test_shiso_kernel_groups_hdfs_lines():
    recs, clusters = shiso_parse_sequential(HDFS_LINES)
    assert sorted({c.template for c in clusters}) == [
        "Received block <*> of size <*> from /<*>",
        "Receiving block <*> src: /<*> dest: /<*>",
        "Verification succeeded for <*>",
    ]
    assert recs[0]["event_id"] == recs[1]["event_id"]
    assert sum(c.count for c in clusters) == len(HDFS_LINES)


def test_word_vec_and_distance_semantics():
    assert word_vec("ERROR") == (1.0, 0.0, 0.0, 0.0)
    assert word_vec("ab12") == (0.0, 0.5, 0.5, 0.0)
    assert word_dist("same", "same") == 0.0
    assert word_dist("anything", "<*>") == 0.0
    # same char-class composition still costs the mismatch floor
    assert word_dist("login", "logout") == pytest.approx(0.5)
    # cross-class mismatches cost more than same-class ones
    assert word_dist("abc", "ERROR") > word_dist("abc", "xyz")
    # different token counts never group
    assert log_dist(["a", "b"], ["a", "b", "c"]) == math.inf


def test_shiso_capacity_descend():
    # capacity 2: third distinct format descends instead of widening root
    p = ShisoParams(threshold=0.1, max_children=2)
    tree = ShisoTree(p)
    tree.add_message("alpha one".split())
    tree.add_message("beta two three".split())
    tree.add_message("gamma four".split())  # root full → descends
    assert len(tree.clusters) == 3
    assert tree.root.children[0].children or tree.root.children[1].children
    # re-adding an existing format joins its cluster wherever it lives
    c = tree.add_message("gamma four".split())
    assert c.count == 2


def test_shiso_format_update_wildcards_mismatches():
    tree = ShisoTree(ShisoParams(threshold=0.2))
    tree.add_message("job j1x done ok".split())
    c = tree.add_message("job j2y done ok".split())
    assert c.template == "job <*> done ok"
    assert len(tree.clusters) == 1


def test_shiso_merge_canonical():
    _, clusters = shiso_parse_sequential(HDFS_LINES)
    pairs = [(c.template, c.count) for c in clusters]
    a = merge_template_sets([pairs], "shiso")
    b = merge_template_sets([list(reversed(pairs))], "shiso")
    assert sorted(c.template for c in a) == sorted(c.template for c in b)
    assert sum(c.count for c in a) == len(HDFS_LINES)


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, 2000, 30, 20).cache()


def test_distributed_shiso_matches_sequential_oracle(spark, tdf):
    cfg = PipelineConfig(num_partitions=8)
    mined = mine_templates(tdf, cfg, strategy="shiso")
    pdf = (
        transcripts_pdf(2000, 30, 20)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    recs, oracle_clusters = shiso_parse_sequential(pdf["text"].tolist())
    # sets, not lists: the online tree can mint the same template string
    # in two branches; the canonical merge dedups it (same event_id)
    assert {c.template for c in mined} == {c.template for c in oracle_clusters}
    assigned = assign_templates(
        tdf, mined, cfg.drain, with_params=False, strategy="shiso"
    )
    got = (
        assigned.select("conv_id", "turn_idx", "event_id", "matched")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    assert bool(got["matched"].all())
    assert got["event_id"].tolist() == [r["event_id"] for r in recs]
