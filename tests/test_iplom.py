"""IPLoM (iterative partitioning) mining strategy: kernel step semantics +
distributed mine/assign equality against the sequential oracle."""

from __future__ import annotations

import pytest

from logparser_spark.config import PipelineConfig
from logparser_spark.iplom import (
    IPLoMParams,
    iplom_fit,
    iplom_parse_sequential,
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


def test_iplom_kernel_groups_hdfs_lines():
    recs, clusters = iplom_parse_sequential(HDFS_LINES)
    assert sorted(c.template for c in clusters) == [
        "Received block <*> of size <*> from /<*>",
        "Receiving block <*> src: /<*> dest: /<*>",
        "Verification succeeded for <*>",
    ]
    assert recs[0]["event_id"] == recs[1]["event_id"]
    assert recs[2]["event_id"] == recs[3]["event_id"]
    assert recs[4]["event_id"] == recs[5]["event_id"]
    assert sum(c.count for c in clusters) == len(HDFS_LINES)


def test_step1_partitions_by_token_count():
    m = iplom_fit({"a b": 1, "c d": 1, "x y z": 1, "p q r": 1})
    lens = sorted(len(c.tokens) for c in m.clusters)
    assert all(ln in (2, 3) for ln in lens)
    # no template mixes the two length groups
    assert {len(c.tokens) for c in m.clusters} == {2, 3}


def test_step2_splits_on_lowest_cardinality_position():
    # position 0 has cardinality 2 (OPEN/CLOSE), position 1 has 4 → the
    # step-2 split must be on position 0, giving one template per verb
    m = iplom_fit(
        {"OPEN f1": 1, "OPEN f2": 1, "OPEN f3": 1, "CLOSE g1": 1, "CLOSE g2": 1}
    )
    assert sorted(c.template for c in m.clusters) == ["CLOSE <*>", "OPEN <*>"]


def test_step3_goodness_skips_good_partitions():
    # 3 of 4 positions constant → goodness 0.75 ≥ ct → no further split,
    # single template with one wildcard
    m = iplom_fit({"job done in 5s": 1, "job done in 7s": 1, "job done in 9s": 1})
    assert [c.template for c in m.clusters] == ["job done in <*>"]


def test_step3_one_to_one_bijection_splits():
    # low goodness (0 of 2 constant); positions map 1-1 (get↔a, put↔b)
    # → split on P1, two fully-constant templates
    m = iplom_fit({"get a": 2, "put b": 3}, IPLoMParams(ct=0.9))
    assert sorted((c.template, c.count) for c in m.clusters) == [
        ("get a", 2),
        ("put b", 3),
    ]


def test_step3_one_to_many_variable_side_never_explodes():
    # each user (cardinality 2) co-occurs with 4 distinct session ids
    # (cardinality 8 across the partition): a 1-M mapping whose M-side
    # ratio 8/8 never passes the constants test per user → the session-id
    # position must end up wildcarded, never one template per session id
    w = {}
    for u in ("alice", "bob"):
        for i in range(4):
            w[f"login {u} s{i}"] = 1
    m = iplom_fit(w)
    assert all("s0" not in c.template for c in m.clusters)
    assert sum(c.count for c in m.clusters) == 8


def test_fit_is_order_free_and_merge_is_canonical():
    recs, clusters = iplom_parse_sequential(HDFS_LINES)
    w = {}
    for r in recs:
        w[r["masked"]] = w.get(r["masked"], 0) + 1
    a = iplom_fit(w)
    b = iplom_fit(dict(reversed(list(w.items()))))
    assert [(c.template, c.count) for c in a.clusters] == [
        (c.template, c.count) for c in b.clusters
    ]
    pairs = [(c.template, c.count) for c in clusters]
    merged_a = merge_template_sets([pairs], "iplom")
    merged_b = merge_template_sets([list(reversed(pairs))], "iplom")
    assert [(c.template, c.count) for c in merged_a] == [
        (c.template, c.count) for c in merged_b
    ]
    assert sum(c.count for c in merged_a) == len(HDFS_LINES)


def test_empty_and_single_token_messages():
    m = iplom_fit({"": 1, "one": 2, "two": 1})
    assert sum(c.count for c in m.clusters) == 4
    assert m.membership[""] == ""


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, 2000, 30, 20).cache()


def test_iplom_matcher_most_specific_rule():
    """Assignment semantics when a text is compatible with several mined
    templates: the most-specific (most constant positions) wins, full
    ties to the lexicographically-smallest — defined behavior, not fit
    membership (see IPLoMMatcher docstring)."""
    from logparser_spark.drain import event_id_of
    from logparser_spark.matchers import IPLoMMatcher

    import numpy as np

    templates = sorted(
        ["send <*> to <*>", "send pkt to <*>", "recv <*> to <*>", "recv <*> to here"]
    )
    m = IPLoMMatcher(templates, IPLoMParams(), with_params=False)
    got = m.match_unique(np.array(["send pkt to host", "recv x to here", "other msg"]))
    # 'send pkt to host' fits both send-templates → 2-constant one wins
    assert got[0] == ("send pkt to <*>", event_id_of("send pkt to <*>"), True)
    assert got[1] == ("recv <*> to here", event_id_of("recv <*> to here"), True)
    # incompatible text falls through unmatched (dead-letter semantics)
    assert got[2][2] is False


def test_distributed_iplom_matches_sequential_oracle(spark, tdf):
    cfg = PipelineConfig(num_partitions=8)
    mined = mine_templates(tdf, cfg, strategy="iplom")
    pdf = (
        transcripts_pdf(2000, 30, 20)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    recs, oracle_clusters = iplom_parse_sequential(pdf["text"].tolist())
    assert sorted(c.template for c in mined) == sorted(
        c.template for c in oracle_clusters
    )
    assigned = assign_templates(tdf, mined, cfg.drain, with_params=False, strategy="iplom")
    got = (
        assigned.select("conv_id", "turn_idx", "event_id", "matched")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    assert bool(got["matched"].all())
    # row-wise equality with the sequential fit's membership holds on
    # this corpus because every masked text is compatible with exactly
    # ONE mined template; where templates overlap, the matcher's defined
    # most-specific rule applies instead (see
    # test_iplom_matcher_most_specific_rule)
    assert got["event_id"].tolist() == [r["event_id"] for r in recs]
