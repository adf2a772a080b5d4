"""LogSig: message-signature clustering (ninth mining strategy).

From-scratch implementation of the published algorithm (Tang, Li &
Perng, *"LogSig: Generating System Events from Raw Textual Logs"*, CIKM
2011; reference analog ``logparser/LogSig/LogSig.py``).  LogSig is the
one engine in the family that takes the number of event types ``k`` as
input (the paper's design):

* each message maps to its set of ordered **term pairs** (ti, tj, i<j);
* messages are partitioned into ``k`` groups and iteratively reassigned:
  a message's value in a group is the number of its term pairs that are
  *common* there (supported by more than half the group's weight), and
  each sweep moves every message to its argmax group until a fixpoint;
* each group's **signature** is the sequence of terms supported by more
  than half the group's weight, ordered by their mean position.

Documented graft choices (the sequential oracle defines semantics):
deterministic round-robin initialization over sorted unique texts,
sweeps in sorted order, ties keep the current group (then lowest group
index); supports are weighted by text multiplicity; sweeps cap at 100.
Batch kernel: a pure function of the weighted unique-text set, so the
distributed miner ships deduped texts and one global fit IS the
sequential result (IPLoM/AEL/LKE scheme).

Signatures are term SEQUENCES, not fixed-length wildcarded templates —
assignment matches the signature whose terms form an ordered subsequence
of the message, most terms first (ties to the lexicographically-smallest
signature), mirroring how the paper's signatures describe events.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass, field

from logparser_spark.drain import Cluster


@dataclass(frozen=True)
class LogSigParams:
    k: int = 20
    max_sweeps: int = 100


def term_pairs(toks: tuple[str, ...]) -> frozenset[tuple[str, str]]:
    return frozenset(
        (toks[i], toks[j]) for i in range(len(toks)) for j in range(i + 1, len(toks))
    )


@dataclass
class LogSigModel:
    params: LogSigParams
    clusters: list[Cluster] = field(default_factory=list)
    membership: dict[str, str] = field(default_factory=dict)


class _Group:
    __slots__ = ("weight", "support")

    def __init__(self) -> None:
        self.weight = 0
        self.support: Counter = Counter()

    def add(self, pairs: frozenset, w: int) -> None:
        self.weight += w
        for p in pairs:
            self.support[p] += w

    def remove(self, pairs: frozenset, w: int) -> None:
        self.weight -= w
        for p in pairs:
            self.support[p] -= w

    def value(self, pairs: frozenset, w: int) -> int:
        """Number of the message's pairs common in this group WITH the
        message counted in (the paper's potential delta evaluates the
        group as if the message were a member)."""
        total = self.weight + w
        half = total / 2.0
        return sum(1 for p in pairs if self.support[p] + w > half)


def logsig_fit(
    weighted_texts: dict[str, int], params: LogSigParams | None = None
) -> LogSigModel:
    params = params or LogSigParams()
    model = LogSigModel(params)
    texts = sorted(weighted_texts)
    toks = {t: tuple(t.split()) or ("",) for t in texts}
    pairs = {t: term_pairs(toks[t]) for t in texts}
    k = max(1, min(params.k, len(texts)))

    # contiguous-block init over the sorted texts: alphabetical order
    # clusters shared prefixes, so blocks seed near-coherent groups —
    # round-robin init scatters every family across all k groups and the
    # local search then converges to merged-family optima (observed)
    assign: dict[str, int] = {
        t: i * k // len(texts) for i, t in enumerate(texts)
    }
    groups = [_Group() for _ in range(k)]
    for t in texts:
        groups[assign[t]].add(pairs[t], weighted_texts[t])

    for _ in range(params.max_sweeps):
        moved = False
        for t in texts:
            w = weighted_texts[t]
            cur = assign[t]
            groups[cur].remove(pairs[t], w)
            best, best_v = cur, groups[cur].value(pairs[t], w)
            for g in range(k):
                if g == cur:
                    continue
                v = groups[g].value(pairs[t], w)
                if v > best_v:  # strict → current group (then lowest) wins ties
                    best, best_v = g, v
            groups[best].add(pairs[t], w)
            if best != cur:
                assign[t] = best
                moved = True
        if not moved:
            break

    # signatures: terms supported by > half the group's weight, ordered
    # by weighted mean position
    members: dict[int, list[str]] = defaultdict(list)
    for t in texts:
        members[assign[t]].append(t)
    templates: dict[str, int] = {}
    for g in sorted(members):
        grp = members[g]
        total_w = sum(weighted_texts[t] for t in grp)
        support: Counter = Counter()
        pos_sum: dict[str, float] = defaultdict(float)
        for t in grp:
            w = weighted_texts[t]
            seen = set()
            for i, tok in enumerate(toks[t]):
                if tok in seen:
                    continue
                seen.add(tok)
                support[tok] += w
                pos_sum[tok] += w * i
        sig = [
            tok
            for tok in sorted(
                support, key=lambda x: (pos_sum[x] / support[x], x)
            )
            if support[tok] * 2 > total_w
        ]
        tpl = " ".join(sig) if sig else ""
        templates[tpl] = templates.get(tpl, 0) + total_w
        for t in grp:
            model.membership[t] = tpl
    model.clusters = [
        Cluster(tokens=t.split(" ") if t else [""], count=c)
        for t, c in sorted(templates.items())
    ]
    return model


def logsig_parse_sequential(texts, params: LogSigParams | None = None):
    """Sequential oracle parse (mask → batch LogSig fit → membership)."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text

    patterns = compile_rex(DrainParams().rex)
    masked = [mask_text(t, patterns) for t in texts]
    weights: dict[str, int] = {}
    for m in masked:
        weights[m] = weights.get(m, 0) + 1
    model = logsig_fit(weights, params)
    out = [
        {
            "masked": m,
            "template": model.membership[m],
            "event_id": event_id_of(model.membership[m]),
        }
        for m in masked
    ]
    return out, model.clusters
