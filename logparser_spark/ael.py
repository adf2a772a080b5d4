"""AEL: abstraction of execution logs by bin-and-reconcile (fifth
mining strategy).

From-scratch implementation of the published algorithm (Jiang, Hassan,
Flora & Hamann, *"Abstracting Execution Logs to Execution Events for
Enterprise Applications"*, QSIC 2008; reference analog
``logparser/AEL/AEL.py``).  Pipeline:

* **anonymize** — dynamic values are masked; in this engine that is the
  shared P1 ``rex`` masking pass (``key=value`` and numeric/ip/id tokens
  become ``<*>`` before the kernel sees them).
* **categorize** — messages bin by (token count, masked-token count):
  only same-shape messages can describe the same event.
* **reconcile** — within a bin, a message merges into an existing event
  when the fraction of differing token positions is ≤ ``merge_pct``;
  differing positions become ``<*>``.

Batch kernel like IPLoM: the fit consumes the weighted unique-text set
in sorted order, so the result is a pure function of the input set
(order-free) — per-Spark-partition fits are deterministic and the
canonical merge re-fits over the union of per-partition template sets.
AEL templates are fixed-length wildcarded token lists, so assignment
reuses the IPLoM constant-position matcher.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from logparser_spark.config import WILDCARD
from logparser_spark.drain import Cluster


@dataclass(frozen=True)
class AELParams:
    merge_pct: float = 0.3  # max fraction of differing positions to merge


@dataclass
class AELModel:
    params: AELParams
    clusters: list[Cluster] = field(default_factory=list)
    membership: dict[str, str] = field(default_factory=dict)  # masked → template


def ael_fit(weighted_texts: dict[str, int], params: AELParams | None = None) -> AELModel:
    """Fit AEL over a weighted set of unique masked texts (order-free:
    texts are processed in sorted order within each bin)."""
    params = params or AELParams()
    model = AELModel(params)
    bins: dict[tuple[int, int], list[str]] = defaultdict(list)
    toks_of: dict[str, list[str]] = {}
    for text in sorted(weighted_texts):
        toks = text.split() or [""]
        toks_of[text] = toks
        wc = sum(1 for t in toks if t == WILDCARD)
        bins[(len(toks), wc)].append(text)

    templates: dict[str, int] = {}
    for key in sorted(bins):
        length = key[0]
        events: list[tuple[list[str], int, list[str]]] = []  # (tokens, n, members)
        for text in bins[key]:
            toks = toks_of[text]
            merged = False
            for ev in events:
                diff = [i for i, (a, b) in enumerate(zip(ev[0], toks)) if a != b]
                if len(diff) <= params.merge_pct * length:
                    for i in diff:
                        ev[0][i] = WILDCARD
                    ev[2].append(text)
                    merged = True
                    break
            if not merged:
                events.append((list(toks), 0, [text]))
        for ev_tokens, _, members in events:
            tpl = " ".join(ev_tokens)
            w = sum(weighted_texts[m] for m in members)
            templates[tpl] = templates.get(tpl, 0) + w
            for m in members:
                model.membership[m] = tpl
    model.clusters = [
        Cluster(tokens=t.split(" ") if t else [""], count=c)
        for t, c in sorted(templates.items())
    ]
    return model


def ael_parse_sequential(texts, params: AELParams | None = None):
    """Sequential oracle parse (mask → batch AEL fit → leaf membership)."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text

    patterns = compile_rex(DrainParams().rex)
    masked = [mask_text(t, patterns) for t in texts]
    weights: dict[str, int] = {}
    for m in masked:
        weights[m] = weights.get(m, 0) + 1
    model = ael_fit(weights, params)
    out = [
        {
            "masked": m,
            "template": model.membership[m],
            "event_id": event_id_of(model.membership[m]),
        }
        for m in masked
    ]
    return out, model.clusters
