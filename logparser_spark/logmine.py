"""LogMine: distance-clustering pattern mining (sixth mining strategy).

From-scratch implementation of the published algorithm (Hamooni, Debnath,
Xu, Zhang, Jiang & Mueen, *"LogMine: Fast Pattern Recognition for Log
Analytics"*, CIKM 2016; reference analog ``logparser/LogMine/LogMine.py``).
Level-1 of the hierarchy:

* **cluster** — one-pass friends clustering: a message joins the first
  cluster whose *representative* (first member) is within ``max_dist``,
  where dist(a, b) = 1 − |positional matches| / max(|a|, |b|) (unit
  match score k1 = k2 = 1, the paper's defaults);
* **pattern** — each cluster's template is the fold of pairwise
  alignment merges over its members: LCS-aligned constants survive,
  skipped tokens become ``<*>``, consecutive gaps collapse (the same
  alignment family the paper's merge uses).

Documented graft choices: messages are processed in sorted order (the
kernel is a pure function of the unique-text set — batch like IPLoM/AEL,
so the distributed miner ships deduped texts and fits once globally);
the paper's multi-level hierarchy (relaxing max_dist per level) is
exposed as ``levels``/``relax`` but level 1 is the gated default.

Assignment uses the same distance rule against the mined patterns
(wildcards score as matches, most-similar pattern wins, ties to the
lexicographically-smallest template).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from logparser_spark.config import WILDCARD
from logparser_spark.drain import Cluster
from logparser_spark.spell import lcs


@dataclass(frozen=True)
class LogMineParams:
    max_dist: float = 0.3
    levels: int = 1
    relax: float = 1.5  # max_dist multiplier per additional level


def logmine_dist(a: list[str], b: list[str]) -> float:
    """1 − positional-match fraction over the longer sequence; a
    wildcard in either sequence matches any token."""
    m = sum(
        1
        for x, y in zip(a, b)
        if x == y or x == WILDCARD or y == WILDCARD
    )
    denom = max(len(a), len(b), 1)
    return 1.0 - m / denom


def merge_pair(a: list[str], b: list[str]) -> list[str]:
    """Alignment merge: LCS constants survive; non-aligned tokens become
    ``<*>``; consecutive gaps collapse to one wildcard."""
    common = lcs(a, b)
    out: list[str] = []
    i = j = k = 0
    while i < len(a) or j < len(b):
        if k < len(common) and i < len(a) and j < len(b) and a[i] == common[k] and b[j] == common[k]:
            out.append(common[k])
            i += 1
            j += 1
            k += 1
            continue
        moved = False
        if i < len(a) and (k >= len(common) or a[i] != common[k]):
            i += 1
            moved = True
        if j < len(b) and (k >= len(common) or b[j] != common[k]):
            j += 1
            moved = True
        if not moved:  # both sides sit on the next common token mismatch-free
            i += 1
            j += 1
        if not out or out[-1] != WILDCARD:
            out.append(WILDCARD)
    return out


@dataclass
class LogMineModel:
    params: LogMineParams
    clusters: list[Cluster] = field(default_factory=list)
    membership: dict[str, str] = field(default_factory=dict)


def logmine_fit(
    weighted_texts: dict[str, int], params: LogMineParams | None = None
) -> LogMineModel:
    """Fit over a weighted unique-text set (sorted order → order-free)."""
    params = params or LogMineParams()
    model = LogMineModel(params)
    # level 1: cluster raw texts against first-member representatives
    groups: list[tuple[list[str], list[str]]] = []  # (representative, members)
    for text in sorted(weighted_texts):
        toks = text.split() or [""]
        for rep, members in groups:
            if logmine_dist(rep, toks) <= params.max_dist:
                members.append(text)
                break
        else:
            groups.append((toks, [text]))

    # optional higher levels: re-cluster level-1 patterns with relaxed
    # distance, folding member lists together
    level_groups = groups
    d = params.max_dist
    for _ in range(1, params.levels):
        d *= params.relax
        patterns = []
        for rep, members in level_groups:
            folded = None
            for m in sorted(members):
                t = m.split() or [""]
                folded = t if folded is None else merge_pair(folded, t)
            patterns.append((folded, members))
        merged: list[tuple[list[str], list[str]]] = []
        for pat, members in patterns:
            for rep, mem2 in merged:
                if logmine_dist(rep, pat) <= d:
                    mem2.extend(members)
                    break
            else:
                merged.append((pat, list(members)))
        level_groups = merged

    templates: dict[str, int] = {}
    for _rep, members in level_groups:
        folded = None
        for m in sorted(members):
            t = m.split() or [""]
            folded = t if folded is None else merge_pair(folded, t)
        tpl = " ".join(folded)
        w = sum(weighted_texts[m] for m in members)
        templates[tpl] = templates.get(tpl, 0) + w
        for m in members:
            model.membership[m] = tpl
    model.clusters = [
        Cluster(tokens=t.split(" ") if t else [""], count=c)
        for t, c in sorted(templates.items())
    ]
    return model


def logmine_parse_sequential(texts, params: LogMineParams | None = None):
    """Sequential oracle parse (mask → batch LogMine fit → membership)."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text

    patterns = compile_rex(DrainParams().rex)
    masked = [mask_text(t, patterns) for t in texts]
    weights: dict[str, int] = {}
    for m in masked:
        weights[m] = weights.get(m, 0) + 1
    model = logmine_fit(weights, params)
    out = [
        {
            "masked": m,
            "template": model.membership[m],
            "event_id": event_id_of(model.membership[m]),
        }
        for m in masked
    ]
    return out, model.clusters
