"""LKE (weighted-edit-distance + private-value splitting) mining
strategy: kernel semantics + distributed equality vs sequential oracle."""

from __future__ import annotations

import pytest

from logparser_spark.config import PipelineConfig
from logparser_spark.lke import (
    LKEParams,
    lke_fit,
    lke_parse_sequential,
    weighted_edit_dist,
)
from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.mine import mine_templates
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


def test_lke_kernel_groups_hdfs_lines():
    recs, clusters = lke_parse_sequential(HDFS_LINES)
    assert sorted(c.template for c in clusters) == [
        "Received block <*> of size <*> from /<*>",
        "Receiving block <*> src: /<*> dest: /<*>",
        "Verification succeeded for <*>",
    ]
    assert recs[4]["event_id"] == recs[5]["event_id"]
    assert sum(c.count for c in clusters) == len(HDFS_LINES)


def test_weighted_edit_distance_head_weighted():
    # a head substitution costs more than a tail substitution
    d_head = weighted_edit_dist("alpha b c d".split(), "OTHER b c d".split())
    d_tail = weighted_edit_dist("alpha b c d".split(), "alpha b c OTHER".split())
    assert d_head > d_tail
    assert weighted_edit_dist(["x"], ["x"]) == 0.0
    assert weighted_edit_dist([], ["x"]) == pytest.approx(1.0)


def test_lke_private_value_splitting():
    # 'ok'/'failed' (2 values over 6 texts, ≤ split_threshold) is an
    # enum discriminator → split; the 6-distinct id column is a free
    # parameter → wildcard
    w = {}
    for i in range(6):
        w[f"job j{i}x {'ok' if i % 2 else 'failed'}"] = 1
    m = lke_fit(w)
    assert sorted(c.template for c in m.clusters) == [
        "job <*> failed",
        "job <*> ok",
    ]


def test_lke_free_parameter_not_split():
    # every text has a distinct value at the last column → free
    # parameter, a single wildcarded template
    w = {f"task done t{i}q": 1 for i in range(6)}
    m = lke_fit(w)
    assert [c.template for c in m.clusters] == ["task done <*>"]


def test_lke_fit_order_free_and_merge_canonical():
    recs, clusters = lke_parse_sequential(HDFS_LINES)
    w = {}
    for r in recs:
        w[r["masked"]] = w.get(r["masked"], 0) + 1
    a = lke_fit(w)
    b = lke_fit(dict(reversed(list(w.items()))))
    assert [(c.template, c.count) for c in a.clusters] == [
        (c.template, c.count) for c in b.clusters
    ]
    pairs = [(c.template, c.count) for c in clusters]
    assert sorted(c.template for c in merge_template_sets([pairs], "lke")) == sorted(
        c.template for c in merge_template_sets([list(reversed(pairs))], "lke")
    )


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, 2000, 30, 20).cache()


def test_distributed_lke_matches_sequential_oracle(spark, tdf):
    cfg = PipelineConfig(num_partitions=8)
    mined = mine_templates(tdf, cfg, strategy="lke")
    pdf = (
        transcripts_pdf(2000, 30, 20)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    recs, oracle_clusters = lke_parse_sequential(pdf["text"].tolist())
    assert sorted(c.template for c in mined) == sorted(
        c.template for c in oracle_clusters
    )
    assigned = assign_templates(tdf, mined, cfg.drain, with_params=False, strategy="lke")
    got = (
        assigned.select("conv_id", "turn_idx", "event_id", "matched")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    assert bool(got["matched"].all())
    assert got["event_id"].tolist() == [r["event_id"] for r in recs]
