"""Unit tests for the sequential Drain kernel (the oracle itself)."""

from __future__ import annotations

from logparser_spark.config import DrainParams
from logparser_spark.drain import (
    DrainTree,
    compile_rex,
    event_id_of,
    extract_parameters,
    mask_text,
    parse_sequential,
    tokenize,
)
from logparser_spark.strategies import merge_template_sets

HDFS_LINES = [
    "Receiving block blk_-1608999687919862906 src: /10.250.19.102:54106 dest: /10.250.19.102:50010",
    "Receiving block blk_7503483334202473044 src: /10.251.215.16:55695 dest: /10.251.215.16:50010",
    "Received block blk_3587508140051953248 of size 67108864 from /10.251.42.84",
    "Received block blk_5402003568334525940 of size 67108864 from /10.251.214.112",
    "Verification succeeded for blk_-4980916519894289629",
    "Verification succeeded for blk_8940166767429810181",
    "Deleting block blk_1781953582215836701 file /mnt/hadoop/dfs/data/current/subdir34/blk_1781953582215836701",
    "Deleting block blk_-7342515201747358281 file /mnt/hadoop/dfs/data/current/subdir0/blk_-7342515201747358281",
]


def test_masking():
    pats = compile_rex(DrainParams().rex)
    assert (
        mask_text("Received block blk_358 of size 67108864 from 10.251.42.84:50010", pats)
        == "Received block <*> of size <*> from <*>"
    )
    assert mask_text("payload 0xdeadBEEF shard 7", pats) == "payload <*> shard <*>"
    # digits glued to letters are NOT masked (word-boundary rule) — the
    # tree's digit-collapse handles them instead
    assert mask_text("user u42 logged in", pats) == "user u42 logged in"


def test_mining_groups_hdfs_like_lines():
    recs, clusters = parse_sequential(HDFS_LINES)
    templates = sorted({c.template for c in clusters})
    assert templates == [
        "Deleting block <*> file <*>",
        "Received block <*> of size <*> from /<*>",
        "Receiving block <*> src: /<*> dest: /<*>",
        "Verification succeeded for <*>",
    ]
    # same line shape → same event_id
    assert recs[0]["event_id"] == recs[1]["event_id"]
    assert recs[2]["event_id"] == recs[3]["event_id"]
    assert recs[0]["event_id"] != recs[2]["event_id"]


def test_event_id_scheme():
    assert event_id_of("Received block <*> of size <*> from <*>") == event_id_of(
        "Received block <*> of size <*> from <*>"
    )
    assert len(event_id_of("x")) == 8
    import hashlib

    assert event_id_of("abc") == hashlib.md5(b"abc").hexdigest()[:8]


def test_parameter_extraction_from_raw():
    template = "Received block <*> of size <*> from /<*>"
    raw = "Received block blk_3587508140051953248 of size 67108864 from /10.251.42.84"
    assert extract_parameters(raw, template) == [
        "blk_3587508140051953248",
        "67108864",
        "10.251.42.84",
    ]


def test_parameter_regex_short_angle_normalization():
    # reference quirk: any short <...> token is treated as a wildcard
    template = "cpu <5> at <*> pct"
    assert extract_parameters("cpu 5 at 93 pct", template) == ["5", "93"]


def test_template_generalization():
    recs, clusters = parse_sequential(
        ["job alpha finished ok", "job beta finished ok", "job gamma finished ok"]
    )
    assert len(clusters) == 1
    assert clusters[0].template == "job <*> finished ok"
    # all rows get the FINAL template (reference assigns at outputResult time)
    assert {r["template"] for r in recs} == {"job <*> finished ok"}


def test_similarity_threshold_splits():
    # < st=0.4 similarity → separate clusters
    recs, clusters = parse_sequential(["alpha beta gamma delta", "one two three four"])
    assert len(clusters) == 2


def test_merge_template_sets_deterministic():
    sets_a = [[("job <*> finished ok", 3), ("disk full on node12", 1)]]
    sets_b = [[("disk full on node12", 1), ("job <*> finished ok", 3)]]
    ta = sorted(c.template for c in merge_template_sets(sets_a))
    tb = sorted(c.template for c in merge_template_sets(sets_b))
    assert ta == tb
    # overlapping templates merge/generalize rather than duplicate
    merged = merge_template_sets(
        [[("job alpha finished ok", 2)], [("job beta finished ok", 5)]]
    )
    assert [c.template for c in merged] == ["job <*> finished ok"]
    assert merged[0].count == 7


def test_tree_maxchild_overflow():
    params = DrainParams(max_children=3)
    tree = DrainTree(params)
    for i in range(10):
        tree.add_message(tokenize(f"w{chr(97 + i)} start end"))
    # overflow tokens went down the <*> branch; tree still answers searches
    assert tree.search(tokenize("wa start end")) is not None
