"""IPLoM: iterative partitioning log mining (third mining strategy).

From-scratch implementation of the published algorithm (Makanju, Zincir-
Heywood & Milios, *"Clustering Event Logs Using Iterative Partitioning"*,
KDD 2009, and the TKDE 2012 journal version; reference analog
``logparser/IPLoM/IPLoM.py`` ≈L80–420).  IPLoM is an *offline batch*
clusterer — it hierarchically partitions the whole message set:

* **Step 1** — partition by token count.
* **Step 2** — split each partition by the token at the position with the
  lowest cardinality of unique tokens (constants live there).
* **Step 3** — partition by search-for-bijection: unless the partition is
  already "good" (cluster-goodness ≥ ``ct``), pick the two token
  positions whose cardinality equals the most frequent cardinality > 1,
  classify the mapping between their token sets (1-1 / 1-M / M-1 / M-M)
  and split on the side the mapping designates; for the M side the
  ``lower_bound``/``upper_bound`` ratio test decides whether its values
  are variables (don't split there) or constants (do).
* **Step 4** — each leaf partition's template keeps a position's token if
  it is constant within the leaf, else masks it ``<*>``.

Where the paper leaves a choice open, the choice is documented inline;
the sequential :func:`iplom_parse_sequential` oracle *defines* the graft
semantics, and the distributed mine path is tested equal to it.

Batch nature matters for the distributed scheme: the result is a pure
function of the weighted *set* of unique masked texts (order-free), so
per-Spark-partition fits are deterministic regardless of row order, and
the canonical merge re-fits the kernel over the union of per-partition
template sets (wildcards participate as ordinary tokens, so equal-shape
templates unify).

The ``iplom`` entry of the strategy table
(:mod:`logparser_spark.strategies`) pairs :func:`iplom_fit` (fit over
weighted uniques) with the read-only
:class:`logparser_spark.matchers.IPLoMMatcher`.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass, field

from logparser_spark.config import WILDCARD
from logparser_spark.drain import Cluster

Part = list[tuple[tuple[str, ...], int]]  # [(tokens, weight)]


@dataclass(frozen=True)
class IPLoMParams:
    ct: float = 0.35          # cluster-goodness threshold (skip step 3)
    lower_bound: float = 0.25  # M-side ratio below → values are variables
    upper_bound: float = 0.9   # M-side ratio above → values are constants


def _cardinalities(part: Part) -> list[int]:
    n = len(part[0][0])
    return [len({toks[p] for toks, _ in part}) for p in range(n)]


def _split_by(part: Part, pos: int) -> list[Part]:
    children: dict[str, Part] = defaultdict(list)
    for toks, w in part:
        children[toks[pos]].append((toks, w))
    # deterministic child order: by split-token value
    return [children[k] for k in sorted(children)]


def _step2(part: Part) -> list[Part]:
    """Split by the lowest-cardinality token position (leftmost tie)."""
    if not part[0][0]:
        return [part]
    cards = _cardinalities(part)
    pos = min(range(len(cards)), key=lambda p: (cards[p], p))
    return _split_by(part, pos)


def _mapping_sides(part: Part, p1: int, p2: int) -> tuple[bool, bool]:
    """(forward_is_1, backward_is_1) for the P1→P2 token mapping."""
    fwd: dict[str, set[str]] = defaultdict(set)
    bwd: dict[str, set[str]] = defaultdict(set)
    for toks, _ in part:
        fwd[toks[p1]].add(toks[p2])
        bwd[toks[p2]].add(toks[p1])
    return (
        all(len(v) == 1 for v in fwd.values()),
        all(len(v) == 1 for v in bwd.values()),
    )


def _m_side_is_constant(part: Part, m_pos: int, params: IPLoMParams) -> bool | None:
    """Ratio test on the M side: |unique tokens| / weighted lines.

    ≤ lower_bound → variables (False); ≥ upper_bound → constants (True);
    in between → None (paper leaves it heuristic; we treat as variables —
    the conservative split that never explodes a variable-valued position
    into per-value partitions).
    """
    uniq = len({toks[m_pos] for toks, _ in part})
    lines = sum(w for _, w in part)
    ratio = uniq / lines if lines else 0.0
    if ratio <= params.lower_bound:
        return False
    if ratio >= params.upper_bound:
        return True
    return None


def _step3(part: Part, params: IPLoMParams) -> list[Part]:
    length = len(part[0][0])
    if length < 2:
        return [part]
    cards = _cardinalities(part)
    n_const = sum(1 for c in cards if c == 1)
    if n_const / length >= params.ct:  # cluster goodness: already good
        return [part]
    ctr = Counter(c for c in cards if c > 1)
    if not ctr:
        return [part]
    # mode of the >1 cardinalities; tie → the smaller cardinality
    mode = sorted(ctr.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    with_mode = [p for p, c in enumerate(cards) if c == mode]
    if len(with_mode) >= 2:
        p1, p2 = with_mode[0], with_mode[1]
    else:
        others = [p for p, c in enumerate(cards) if c > 1 and p != with_mode[0]]
        if not others:
            return [part]
        p1, p2 = sorted((with_mode[0], others[0]))
    fwd1, bwd1 = _mapping_sides(part, p1, p2)
    if fwd1 and bwd1:  # 1-1
        split_pos = p1
    elif bwd1 and not fwd1:  # 1-M: one P1 value → many P2 values
        const = _m_side_is_constant(part, p2, params)
        split_pos = p2 if const else p1
    elif fwd1 and not bwd1:  # M-1
        const = _m_side_is_constant(part, p1, params)
        split_pos = p1 if const else p2
    else:  # M-M: split on the lower-cardinality side (tie → p1)
        split_pos = p1 if cards[p1] <= cards[p2] else p2
    return _split_by(part, split_pos)


def _leaf_template(part: Part) -> list[str]:
    toks0 = part[0][0]
    if not toks0:
        return [""]
    cards = _cardinalities(part)
    return [toks0[p] if cards[p] == 1 else WILDCARD for p in range(len(toks0))]


@dataclass
class IPLoMModel:
    params: IPLoMParams
    clusters: list[Cluster] = field(default_factory=list)
    membership: dict[str, str] = field(default_factory=dict)  # masked → template


def iplom_fit(weighted_texts: dict[str, int], params: IPLoMParams | None = None) -> IPLoMModel:
    """Fit IPLoM over a weighted set of unique masked texts.

    Pure function of the input dict (iteration order never matters — every
    split enumerates children in sorted token order), so per-Spark-
    partition fits are reproducible and mergeable.
    """
    params = params or IPLoMParams()
    model = IPLoMModel(params)
    by_len: dict[int, Part] = defaultdict(list)
    toks_of: dict[str, tuple[str, ...]] = {}
    for text in sorted(weighted_texts):
        toks = tuple(text.split()) or ("",)
        toks_of[text] = toks
        by_len[len(toks)].append((toks, int(weighted_texts[text])))

    templates: dict[str, int] = {}
    leaf_of: dict[tuple[str, ...], str] = {}
    for length in sorted(by_len):
        for p2 in _step2(by_len[length]):
            for leaf in _step3(p2, params):
                tpl = " ".join(_leaf_template(leaf))
                templates[tpl] = templates.get(tpl, 0) + sum(w for _, w in leaf)
                for toks, _ in leaf:
                    leaf_of[toks] = tpl
    model.clusters = [
        Cluster(tokens=t.split(" ") if t else [""], count=c)
        for t, c in sorted(templates.items())
    ]
    model.membership = {text: leaf_of[toks_of[text]] for text in weighted_texts}
    return model


def iplom_parse_sequential(texts, params: IPLoMParams | None = None):
    """Sequential oracle parse (mask → tokenize → batch IPLoM fit →
    per-row leaf membership), mirroring ``spell_parse_sequential``."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text

    patterns = compile_rex(DrainParams().rex)
    masked = [mask_text(t, patterns) for t in texts]
    weights: dict[str, int] = {}
    for m in masked:
        weights[m] = weights.get(m, 0) + 1
    model = iplom_fit(weights, params)
    out = [
        {
            "masked": m,
            "template": model.membership[m],
            "event_id": event_id_of(model.membership[m]),
        }
        for m in masked
    ]
    return out, model.clusters
