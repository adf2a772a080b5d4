"""Property-based tests (hypothesis) for kernel invariants — SURVEY §5.2.5.

Pure-Python (no Spark session): masking idempotence, event-id stability,
template self-matching, merge determinism under permutation.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from logparser_spark.config import DrainParams
from logparser_spark.drain import (
    DrainTree,
    compile_rex,
    event_id_of,
    mask_text,
    parse_sequential,
    tokenize,
)
from logparser_spark.strategies import merge_template_sets

PATTERNS = compile_rex(DrainParams().rex)

# word-ish tokens + loghub-style parameter shapes
token = st.one_of(
    st.sampled_from(["alpha", "beta", "load", "done", "error", "ok", "x1y"]),
    st.integers(0, 10**9).map(str),
    st.integers(0, 10**7).map(lambda n: f"blk_{n}"),
    st.tuples(st.integers(0, 255), st.integers(0, 255)).map(
        lambda t: f"10.0.{t[0]}.{t[1]}"
    ),
    st.integers(0, 2**31).map(lambda n: f"0x{n:x}"),
)
line = st.lists(token, min_size=1, max_size=12).map(" ".join)


@given(line)
@settings(max_examples=200, deadline=None, derandomize=True)
def test_masking_is_idempotent(text):
    once = mask_text(text, PATTERNS)
    assert mask_text(once, PATTERNS) == once


@given(line)
@settings(max_examples=100, deadline=None, derandomize=True)
def test_masking_preserves_token_count(text):
    # each regex matches within single whitespace-delimited tokens
    assert len(tokenize(mask_text(text, PATTERNS))) == len(tokenize(text))


@given(st.lists(line, min_size=1, max_size=40))
@settings(max_examples=50, deadline=None, derandomize=True)
def test_assignment_matcher_agrees_with_oracle(lines):
    """The distributed assignment matcher (U3 semantics, pure-python API)
    reproduces the oracle's per-line event ids given the oracle's final
    template set — including the all-wildcard-template edge where
    similarity search can't match and the exact-template fallback kicks
    in."""
    import numpy as np

    from logparser_spark.matchers import DrainMatcher

    recs, clusters = parse_sequential(lines)
    matcher = DrainMatcher(sorted(c.template for c in clusters), DrainParams(), False)
    masked = np.array([mask_text(t, PATTERNS) for t in lines], dtype=object)
    results = matcher.match_unique(masked)
    for rec, (tpl, eid, matched) in zip(recs, results):
        assert matched, (rec, tpl)
        assert eid == rec["event_id"]


# parameter-extraction edge shapes: regex metacharacters, short ``<..>``
# tokens (normalized to ``<*>`` by the param regex) and runs of spaces,
# leading and trailing ones included (captured, then stripped)
param_token = st.one_of(
    token,
    st.sampled_from(["a.b", "(x)", "[y]", "$z", "^", "a+b*", "\\d", "?", "|",
                     "{1}", "<id>", "<ab>", "<*>", "<toolong>"]),
)
spaces = st.sampled_from(["", " ", "  ", "   "])


def _spaced(parts) -> str:
    lead, toks = parts
    body = "".join(t + (sep or " ") for t, sep in toks[:-1])
    last, trail = toks[-1]
    return lead + body + last + trail


spaced_line = st.tuples(
    spaces, st.lists(st.tuples(param_token, spaces), min_size=1, max_size=10)
).map(_spaced)


@given(st.lists(spaced_line, min_size=1, max_size=40))
@settings(max_examples=60, deadline=None, derandomize=True)
def test_batch_params_equal_rowwise_extract(lines):
    """``_match_batch`` with parameters gives, per row, exactly the
    row-wise reference extraction for matched rows and ``[]`` otherwise;
    a null text comes back unmatched with no parameters."""
    import pandas as pd

    from logparser_spark.drain import extract_parameters
    from logparser_spark.matchers import DrainMatcher
    from logparser_spark.operators.assign import _match_batch

    _recs, clusters = parse_sequential(lines)
    # a template outside the batch leaves some rows unmatched
    templates = sorted({c.template for c in clusters} - {clusters[0].template})
    matcher = DrainMatcher(templates, DrainParams(), True)
    texts = pd.Series([*lines, None], dtype=object)
    masked = pd.Series([mask_text(t, PATTERNS) for t in lines] + [None], dtype=object)
    out = _match_batch(matcher, masked, texts)
    assert out.index.equals(masked.index)
    for text, row in zip(texts, out.itertuples(index=False)):
        if row.matched:
            assert row.parameters == extract_parameters(text, row.template)
        else:
            assert row.parameters == []
    assert not out["matched"].iloc[-1]
    assert out["template"].iloc[-1] is None


@given(st.lists(line, min_size=1, max_size=30), st.randoms())
@settings(max_examples=50, deadline=None, derandomize=True)
def test_merge_is_permutation_invariant(lines, rnd):
    _, clusters = parse_sequential(lines)
    pairs = [(c.template, c.count) for c in clusters]
    shuffled = list(pairs)
    rnd.shuffle(shuffled)
    a = sorted(c.template for c in merge_template_sets([pairs]))
    b = sorted(c.template for c in merge_template_sets([shuffled]))
    assert a == b


@given(st.lists(line, min_size=2, max_size=30))
@settings(max_examples=50, deadline=None, derandomize=True)
def test_counts_conserved_through_merge(lines):
    _, clusters = parse_sequential(lines)
    merged = merge_template_sets([[(c.template, c.count) for c in clusters]])
    assert sum(c.count for c in merged) == len(lines)


# -- r2 kernels: batch fits are order-free, count-conserving, total ----------


def _weights_from(lines):
    w = {}
    for t in lines:
        m = mask_text(t, PATTERNS)
        w[m] = w.get(m, 0) + 1
    return w


@given(st.lists(line, min_size=1, max_size=30))
@settings(max_examples=50, deadline=None, derandomize=True)
def test_batch_kernels_invariants(lines):
    from logparser_spark.ael import ael_fit
    from logparser_spark.iplom import iplom_fit
    from logparser_spark.logmine import logmine_fit

    w = _weights_from(lines)
    rev = dict(reversed(list(w.items())))
    for fit in (iplom_fit, ael_fit, logmine_fit):
        m = fit(w)
        # counts conserved
        assert sum(c.count for c in m.clusters) == len(lines)
        # membership total: every unique masked text is assigned
        assert set(m.membership) == set(w)
        # pure function of the set: insertion order never matters
        m2 = fit(rev)
        assert [(c.template, c.count) for c in m.clusters] == [
            (c.template, c.count) for c in m2.clusters
        ]


@given(st.lists(line, min_size=1, max_size=30))
@settings(max_examples=50, deadline=None, derandomize=True)
def test_fixed_length_kernels_membership_compatible(lines):
    """IPLoM/AEL templates are fixed-length wildcarded token lists: the
    assigned template must have the text's token count and agree on every
    non-wildcard position (the invariant the shared constant-position
    matcher relies on)."""
    from logparser_spark.ael import ael_fit
    from logparser_spark.config import WILDCARD
    from logparser_spark.iplom import iplom_fit

    w = _weights_from(lines)
    for fit in (iplom_fit, ael_fit):
        m = fit(w)
        for text, tpl in m.membership.items():
            toks = text.split() or [""]
            tt = tpl.split(" ") if tpl else [""]
            assert len(tt) == len(toks)
            assert all(a == WILDCARD or a == b for a, b in zip(tt, toks))


@given(st.lists(line, min_size=1, max_size=25))
@settings(max_examples=50, deadline=None, derandomize=True)
def test_lenma_online_count_conservation(lines):
    from logparser_spark.lenma import LenMaMap

    lmap = LenMaMap()
    for t in lines:
        lmap.add_message(mask_text(t, PATTERNS).split() or [""])
    assert sum(c.count for c in lmap.clusters) == len(lines)
    # templates keep their token count through wildcarding
    for c in lmap.clusters:
        assert len(c.tokens) == len(c.lengths)


_px = st.integers(min_value=0, max_value=255)


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([1, 3, 4]),
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_png_roundtrip_property(h, w, ch, rnd):
    """encode_png → decode_png is identity for every 8-bit shape the
    codec claims (grey/RGB/RGBA, any dims ≥ 1)."""
    import numpy as np

    from logparser_spark.operators.multimodal import decode_png, encode_png

    px = np.frombuffer(
        bytes(rnd.getrandbits(8) for _ in range(h * w * ch)), dtype=np.uint8
    ).reshape((h, w) if ch == 1 else (h, w, ch))
    got = decode_png(encode_png(px))
    assert got.shape == px.shape and (got == px).all()


@given(st.lists(st.text(min_size=0, max_size=30), min_size=0, max_size=50))
@settings(max_examples=40, deadline=None, derandomize=True)
def test_hll_python_reference_register_bounds(values):
    """ρ ∈ [1, 41], bucket ∈ [0, 255], and the register table is
    insensitive to value order and duplication (set semantics)."""
    import hashlib

    def regs_of(vals):
        regs = {}
        for v in vals:
            hx = hashlib.md5(str(v).encode()).hexdigest()
            b = int(hx[:2], 16)
            st_ = hx[2:12].lstrip("0")
            rho = (
                41
                if not st_
                else 4 * (10 - len(st_))
                + {"1": 3, "2": 2, "3": 2}.get(
                    st_[0], 1 if st_[0] in "4567" else 0
                )
                + 1
            )
            regs[b] = max(regs.get(b, 0), rho)
        return regs

    a = regs_of(values)
    b = regs_of(list(reversed(values)) + values)  # reorder + duplicate
    assert a == b
    assert all(0 <= k <= 255 and 1 <= v <= 41 for k, v in a.items())
