"""LogSig (message-signature clustering) mining strategy: kernel
semantics + distributed equality vs the sequential oracle.  LogSig is
the one engine that takes the event count k as input (paper design)."""

from __future__ import annotations

import pytest

from logparser_spark.config import PipelineConfig
from logparser_spark.logsig import (
    LogSigParams,
    logsig_fit,
    logsig_parse_sequential,
    term_pairs,
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

K = 20  # the transcripts bank's event count


def test_logsig_kernel_groups_hdfs_lines():
    recs, clusters = logsig_parse_sequential(HDFS_LINES, LogSigParams(k=3))
    # signatures keep majority terms (each distinct term once); the three
    # groups separate cleanly
    assert len(clusters) == 3
    assert {recs[0]["event_id"], recs[2]["event_id"], recs[4]["event_id"]} == {
        recs[1]["event_id"], recs[3]["event_id"], recs[5]["event_id"]
    }
    assert any(c.template.startswith("Verification succeeded") for c in clusters)
    assert sum(c.count for c in clusters) == len(HDFS_LINES)


def test_term_pairs():
    assert term_pairs(("a", "b", "c")) == frozenset(
        {("a", "b"), ("a", "c"), ("b", "c")}
    )
    assert term_pairs(("x",)) == frozenset()


def test_logsig_k_bounds_groups():
    w = {f"event {chr(97 + i)} fired": 1 for i in range(6)}
    m2 = logsig_fit(w, LogSigParams(k=2))
    m6 = logsig_fit(w, LogSigParams(k=6))
    assert len(m2.clusters) <= 2
    assert sum(c.count for c in m2.clusters) == 6
    assert sum(c.count for c in m6.clusters) == 6


def test_logsig_fit_order_free():
    recs, _ = logsig_parse_sequential(HDFS_LINES, LogSigParams(k=3))
    w = {}
    for r in recs:
        w[r["masked"]] = w.get(r["masked"], 0) + 1
    a = logsig_fit(w, LogSigParams(k=3))
    b = logsig_fit(dict(reversed(list(w.items()))), LogSigParams(k=3))
    assert [(c.template, c.count) for c in a.clusters] == [
        (c.template, c.count) for c in b.clusters
    ]


def test_logsig_merge_canonical():
    _, clusters = logsig_parse_sequential(HDFS_LINES, LogSigParams(k=3))
    pairs = [(c.template, c.count) for c in clusters]
    a = merge_template_sets([pairs], "logsig", LogSigParams(k=3))
    b = merge_template_sets([list(reversed(pairs))], "logsig", LogSigParams(k=3))
    assert sorted(c.template for c in a) == sorted(c.template for c in b)
    assert sum(c.count for c in a) == len(HDFS_LINES)


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, 2000, 30, 20).cache()


def test_distributed_logsig_matches_sequential_oracle(spark, tdf):
    cfg = PipelineConfig(num_partitions=8)
    params = LogSigParams(k=K)
    mined = mine_templates(tdf, cfg, strategy="logsig", strategy_params=params)
    pdf = (
        transcripts_pdf(2000, 30, 20)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    recs, oracle_clusters = logsig_parse_sequential(pdf["text"].tolist(), params)
    assert sorted(c.template for c in mined) == sorted(
        c.template for c in oracle_clusters
    )
    assigned = assign_templates(
        tdf, mined, cfg.drain, with_params=False, strategy="logsig"
    )
    got = (
        assigned.select("conv_id", "turn_idx", "event_id", "matched")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    assert bool(got["matched"].all())
    # subsequence matcher + overlap fallback reproduce kernel membership
    assert got["event_id"].tolist() == [r["event_id"] for r in recs]
