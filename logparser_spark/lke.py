"""LKE: weighted-edit-distance clustering + private-value splitting
(eighth mining strategy).

From-scratch implementation of the published algorithm (Fu, Lou, Wang &
Li, *"Execution Anomaly Detection in Distributed Systems through
Unstructured Log Analysis"*, ICDM 2009; reference analog
``logparser/LKE/LKE.py``).  Two phases:

* **cluster** — log keys group by weighted edit distance: edit
  operations cost more near the head of the message (the paper's
  observation that leading words carry the event type).  Clusters are
  the connected components of the ≤-threshold graph over unique texts —
  a batch, order-free construction.
* **split** — within a cluster, a non-constant token position whose
  distinct-value count is small (≤ ``split_threshold``) is a *private
  value* (an enum-like discriminator, not a free parameter): the cluster
  splits per value, recursively, leftmost-first.  Remaining non-constant
  positions become ``<*>``.

Documented graft choices: position weight w(i) = 1/(i+1), distance
normalized by the larger sequence's total weight; single-link components
(the paper's hierarchical clustering with a distance threshold has the
same ≤-threshold reachability semantics); splitting also requires the
value count to be strictly below the cluster's text count (a position
where every text differs is a free parameter, never a discriminator).

Batch kernel like IPLoM/AEL/LogMine: the distributed miner ships deduped
texts and the single global fit IS the sequential oracle.  Templates are
fixed-length wildcarded token lists, so assignment reuses the
constant-position matcher.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from logparser_spark.config import WILDCARD
from logparser_spark.drain import Cluster


@dataclass(frozen=True)
class LKEParams:
    threshold: float = 0.3     # max normalized weighted edit distance
    split_threshold: int = 3   # max distinct values of a private-value column
    #: hard guard on the O(n² pairs × L² DP) single global fit: LKE's
    #: clustering is inherently all-pairs over unique masked texts, so a
    #: masking-miss corpus (high unique cardinality) must fail loudly at
    #: the fit, not stall the driver.  Mitigations, in order: extend
    #: ``rex``, mine with ``sample_one_in``, or raise this consciously.
    max_fit_texts: int = 10_000


def _w(i: int) -> float:
    return 1.0 / (i + 1)


def weighted_edit_dist(a: list[str], b: list[str]) -> float:
    """Positionally-weighted edit distance, normalized to [0, 1] by the
    heavier sequence's total weight."""
    la, lb = len(a), len(b)
    dp = [[0.0] * (lb + 1) for _ in range(la + 1)]
    for i in range(1, la + 1):
        dp[i][0] = dp[i - 1][0] + _w(i - 1)
    for j in range(1, lb + 1):
        dp[0][j] = dp[0][j - 1] + _w(j - 1)
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            sub = 0.0 if a[i - 1] == b[j - 1] else _w(max(i, j) - 1)
            dp[i][j] = min(
                dp[i - 1][j - 1] + sub,
                dp[i - 1][j] + _w(i - 1),
                dp[i][j - 1] + _w(j - 1),
            )
    denom = max(sum(_w(i) for i in range(la)), sum(_w(j) for j in range(lb)), 1e-12)
    return dp[la][lb] / denom


@dataclass
class LKEModel:
    params: LKEParams
    clusters: list[Cluster] = field(default_factory=list)
    membership: dict[str, str] = field(default_factory=dict)


def _split(group: list[tuple[tuple[str, ...], int]], params: LKEParams):
    """Recursive private-value splitting; yields leaf groups."""
    toks0 = group[0][0]
    n_texts = len(group)
    for p in range(len(toks0)):
        values = {t[p] for t, _ in group}
        if 1 < len(values) <= params.split_threshold and len(values) < n_texts:
            by_val: dict[str, list] = defaultdict(list)
            for t, w in group:
                by_val[t[p]].append((t, w))
            for v in sorted(by_val):
                yield from _split(by_val[v], params)
            return
    yield group


def lke_fit(weighted_texts: dict[str, int], params: LKEParams | None = None) -> LKEModel:
    """Fit over a weighted unique-text set (order-free: components of an
    undirected threshold graph, splits enumerate sorted values)."""
    params = params or LKEParams()
    model = LKEModel(params)
    texts = sorted(weighted_texts)
    if len(texts) > params.max_fit_texts:
        raise ValueError(
            f"lke_fit: {len(texts):,} unique texts exceed "
            f"max_fit_texts={params.max_fit_texts:,} — the all-pairs "
            "weighted-edit-distance fit is O(n²·L²) on the driver. "
            "Extend masking rex, mine with sample_one_in, or raise "
            "LKEParams.max_fit_texts deliberately."
        )
    toks = {t: tuple(t.split()) or ("",) for t in texts}

    # connected components of the ≤-threshold graph (union-find)
    parent = list(range(len(texts)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def min_length_cost(la: int, lb: int) -> float:
        """Cheapest possible distance for a length mismatch alone:
        tail-position insertions — a sound lower bound used to skip the
        quadratic DP for hopeless pairs."""
        lo, hi = sorted((la, lb))
        extra = sum(_w(i) for i in range(lo, hi))
        denom = max(sum(_w(i) for i in range(hi)), 1e-12)
        return extra / denom

    for i in range(len(texts)):
        ti = list(toks[texts[i]])
        for j in range(i + 1, len(texts)):
            ri, rj = find(i), find(j)
            if ri == rj:
                continue
            tj = list(toks[texts[j]])
            if min_length_cost(len(ti), len(tj)) > params.threshold:
                continue
            if weighted_edit_dist(ti, tj) <= params.threshold:
                parent[max(ri, rj)] = min(ri, rj)

    comps: dict[int, list[tuple[tuple[str, ...], int]]] = defaultdict(list)
    member_of: dict[tuple[str, ...], str] = {}
    for i, t in enumerate(texts):
        comps[find(i)].append((toks[t], weighted_texts[t]))

    templates: dict[str, int] = {}
    for root in sorted(comps):
        # splitting requires aligned positions; mixed-length components
        # (possible via edit-distance chaining) split by length first
        by_len: dict[int, list] = defaultdict(list)
        for t, w in comps[root]:
            by_len[len(t)].append((t, w))
        for length in sorted(by_len):
            for leaf in _split(by_len[length], params):
                cards = [
                    len({t[p] for t, _ in leaf}) for p in range(length)
                ]
                tpl_tokens = [
                    leaf[0][0][p] if cards[p] == 1 else WILDCARD
                    for p in range(length)
                ]
                tpl = " ".join(tpl_tokens)
                w_sum = sum(w for _, w in leaf)
                templates[tpl] = templates.get(tpl, 0) + w_sum
                for t, _ in leaf:
                    member_of[t] = tpl

    model.clusters = [
        Cluster(tokens=t.split(" ") if t else [""], count=c)
        for t, c in sorted(templates.items())
    ]
    model.membership = {t: member_of[toks[t]] for t in texts}
    return model


def lke_parse_sequential(texts, params: LKEParams | None = None):
    """Sequential oracle parse (mask → batch LKE fit → membership)."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text

    patterns = compile_rex(DrainParams().rex)
    masked = [mask_text(t, patterns) for t in texts]
    weights: dict[str, int] = {}
    for m in masked:
        weights[m] = weights.get(m, 0) + 1
    model = lke_fit(weights, params)
    out = [
        {
            "masked": m,
            "template": model.membership[m],
            "event_id": event_id_of(model.membership[m]),
        }
        for m in masked
    ]
    return out, model.clusters
