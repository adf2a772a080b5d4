"""LenMa (length-vector) and AEL (bin-and-reconcile) mining strategies:
kernel semantics + distributed mine/assign equality vs sequential oracle."""

from __future__ import annotations

import pytest

from logparser_spark.ael import AELParams, ael_fit, ael_parse_sequential
from logparser_spark.config import PipelineConfig
from logparser_spark.lenma import (
    LenMaMap,
    LenMaParams,
    lenma_parse_sequential,
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

EXPECTED_TEMPLATES = [
    "Received block <*> of size <*> from /<*>",
    "Receiving block <*> src: /<*> dest: /<*>",
    "Verification succeeded for <*>",
]


# -- LenMa kernel ------------------------------------------------------------


def test_lenma_kernel_groups_hdfs_lines():
    recs, clusters = lenma_parse_sequential(HDFS_LINES)
    assert sorted(c.template for c in clusters) == EXPECTED_TEMPLATES
    assert recs[0]["event_id"] == recs[1]["event_id"]
    assert sum(c.count for c in clusters) == len(HDFS_LINES)


def test_lenma_token_count_and_constant_gates():
    m = LenMaMap(LenMaParams(threshold=0.9))
    m.add_message("send alpha".split())
    # cosine over 2-dim length vectors is always ≈1; the positional
    # constant gate must keep zero-overlap messages apart
    c2 = m.add_message("recv b".split())
    assert len(m.clusters) == 2 and c2.template == "recv b"
    # shares the constant "send" at position 0 and near-equal lengths →
    # joins, differing position wildcarded
    c3 = m.add_message("send gamma".split())
    assert c3 is m.clusters[0]
    assert c3.template == "send <*>"
    # different token count never matches
    c4 = m.add_message("send alpha now".split())
    assert c4.template == "send alpha now" and len(m.clusters) == 3


def test_lenma_wildcard_positions_score_perfect():
    m = LenMaMap(LenMaParams(threshold=0.95))
    m.add_message("connect node0001 ok".split())
    m.add_message("connect node0002 ok".split())  # → connect <*> ok
    # a much shorter parameter should still join through the wildcard
    c = m.add_message("connect n7 ok".split())
    assert c.template == "connect <*> ok"
    assert len(m.clusters) == 1


def test_lenma_merge_canonical():
    _, clusters = lenma_parse_sequential(HDFS_LINES)
    pairs = [(c.template, c.count) for c in clusters]
    a = merge_template_sets([pairs], "lenma")
    b = merge_template_sets([list(reversed(pairs))], "lenma")
    assert sorted(c.template for c in a) == sorted(c.template for c in b)
    assert sum(c.count for c in a) == len(HDFS_LINES)


# -- AEL kernel --------------------------------------------------------------


def test_ael_kernel_groups_hdfs_lines():
    recs, clusters = ael_parse_sequential(HDFS_LINES)
    assert sorted(c.template for c in clusters) == EXPECTED_TEMPLATES
    assert recs[4]["event_id"] == recs[5]["event_id"]
    assert sum(c.count for c in clusters) == len(HDFS_LINES)


def test_ael_bins_by_token_and_wildcard_count():
    # same token count but different masked-token counts → never merged
    m = ael_fit({"get <*> done": 2, "put stuff done": 3})
    assert sorted(c.template for c in m.clusters) == ["get <*> done", "put stuff done"]


def test_ael_merge_pct_boundary():
    # 1 differing position of 4 = 0.25 ≤ 0.3 → merge
    m = ael_fit({"job a done ok": 1, "job b done ok": 1})
    assert [c.template for c in m.clusters] == ["job <*> done ok"]
    # 2 differing of 4 = 0.5 > 0.3 → stay separate
    m2 = ael_fit({"job a done ok": 1, "job b failed ok": 1})
    assert len(m2.clusters) == 2
    # custom threshold admits the merge
    m3 = ael_fit({"job a done ok": 1, "job b failed ok": 1}, AELParams(merge_pct=0.5))
    assert [c.template for c in m3.clusters] == ["job <*> <*> ok"]


def test_ael_fit_order_free_and_merge_canonical():
    recs, clusters = ael_parse_sequential(HDFS_LINES)
    w = {}
    for r in recs:
        w[r["masked"]] = w.get(r["masked"], 0) + 1
    a = ael_fit(w)
    b = ael_fit(dict(reversed(list(w.items()))))
    assert [(c.template, c.count) for c in a.clusters] == [
        (c.template, c.count) for c in b.clusters
    ]
    pairs = [(c.template, c.count) for c in clusters]
    assert sorted(c.template for c in merge_template_sets([pairs], "ael")) == sorted(
        c.template for c in merge_template_sets([list(reversed(pairs))], "ael")
    )


# -- distributed equality ----------------------------------------------------


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, 2000, 30, 20).cache()


@pytest.mark.parametrize("strategy,oracle", [
    ("lenma", lenma_parse_sequential),
    ("ael", ael_parse_sequential),
])
def test_distributed_matches_sequential_oracle(spark, tdf, strategy, oracle):
    cfg = PipelineConfig(num_partitions=8)
    mined = mine_templates(tdf, cfg, strategy=strategy)
    pdf = (
        transcripts_pdf(2000, 30, 20)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    recs, oracle_clusters = oracle(pdf["text"].tolist())
    assert sorted(c.template for c in mined) == sorted(
        c.template for c in oracle_clusters
    )
    assigned = assign_templates(
        tdf, mined, cfg.drain, with_params=False, strategy=strategy
    )
    got = (
        assigned.select("conv_id", "turn_idx", "event_id", "matched")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    assert bool(got["matched"].all())
    assert got["event_id"].tolist() == [r["event_id"] for r in recs]
