"""SHISO: incremental format mining over a capacity-bounded tree
(seventh mining strategy).

From-scratch implementation of the published algorithm (Mizutani,
*"Incremental Mining of System Log Format"*, IEEE SCC 2013; reference
analog ``logparser/SHISO/SHISO.py``).  Core mechanisms:

* **word vectors** — each word maps to a character-class composition
  vector (upper, lower, digit, other counts, length-normalized); word
  distance for unequal words is a mismatch floor plus the scaled
  Euclidean distance of these vectors (0 for equal words and wildcard
  positions).  The class term makes ``e4a2b`` closer to ``f1c9d`` (both
  lowercase+digit ids) than to ``ERROR``; the floor keeps distinct
  same-class words from being free (see :func:`word_dist`).
* **log distance** — mean word distance over aligned positions; logs of
  different token counts never group (distance ∞).
* **capacity-c tree** — a new log walks the tree: at each node it joins
  the most-similar child's cluster when the distance ≤ ``threshold``;
  otherwise it becomes a new child while the node has capacity
  (< ``max_children``), else it descends into the most-similar child
  and retries — SHISO's incremental structure, which bounds per-message
  comparisons to c·depth instead of |clusters|.
* **format update** — on join, positions whose tokens differ become
  ``<*>``.

Documented graft choices (the sequential oracle defines semantics):
descent ties resolve to the earliest child; when every child has a
different token count (distance ∞) and the node is full, descent falls
to the child with the closest token count (then earliest).  Mirrors the
``add_message``/``search``/``clusters`` surface so mine/merge/assign
plug in unchanged (online strategy, Spell/LenMa-style canonical merge).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from logparser_spark.config import WILDCARD
from logparser_spark.drain import Cluster


@dataclass(frozen=True)
class ShisoParams:
    threshold: float = 0.15    # max mean word distance to join a cluster
    max_children: int = 4      # node capacity c
    mismatch_floor: float = 0.5  # base distance for ANY unequal word pair


def word_vec(w: str) -> tuple[float, float, float, float]:
    """Length-normalized character-class composition of a word."""
    if not w:
        return (0.0, 0.0, 0.0, 0.0)
    up = lo = di = ot = 0
    for ch in w:
        if ch.isupper():
            up += 1
        elif ch.islower():
            lo += 1
        elif ch.isdigit():
            di += 1
        else:
            ot += 1
    n = len(w)
    return (up / n, lo / n, di / n, ot / n)


def word_dist(a: str, b: str, floor: float = 0.5) -> float:
    """0 for equal words / wildcards; otherwise ``floor`` plus the scaled
    char-class distance.  The floor matters: pure composition vectors
    make every all-lowercase word identical, which collapses distinct
    same-length formats into all-wildcard templates (observed on the
    transcripts fixture) — unequal words must always cost something,
    with the class distance grading HOW different they are on top."""
    if a == b or a == WILDCARD or b == WILDCARD:
        return 0.0
    va, vb = word_vec(a), word_vec(b)
    cls = math.sqrt(sum((x - y) ** 2 for x, y in zip(va, vb))) / math.sqrt(2.0)
    return floor + (1.0 - floor) * cls


def log_dist(fmt: list[str], toks: list[str], floor: float = 0.5) -> float:
    if len(fmt) != len(toks):
        return math.inf
    if not fmt:
        return 0.0
    return sum(word_dist(a, b, floor) for a, b in zip(fmt, toks)) / len(fmt)


@dataclass
class _Node:
    cluster: Cluster | None = None
    children: list["_Node"] = field(default_factory=list)


class ShisoTree:
    """Incremental capacity-bounded format tree (DrainTree-compatible
    surface)."""

    def __init__(self, params: ShisoParams | None = None):
        self.params = params or ShisoParams()
        self.root = _Node()
        self.clusters: list[Cluster] = []

    def _best_child(self, node: _Node, toks: list[str]) -> tuple[_Node | None, float]:
        best, best_d = None, math.inf
        for ch in node.children:
            d = log_dist(ch.cluster.tokens, toks, self.params.mismatch_floor)
            if d < best_d:  # strict → earliest child wins ties
                best, best_d = ch, d
        return best, best_d

    def _descend_fallback(self, node: _Node, toks: list[str]) -> _Node:
        """All children are length-mismatched and the node is full:
        descend the closest token count (then earliest)."""
        return min(
            node.children,
            key=lambda ch: abs(len(ch.cluster.tokens) - len(toks)),
        )

    def add_message(self, tokens: list[str]) -> Cluster:
        toks = list(tokens) if tokens else [""]
        node = self.root
        while True:
            best, d = self._best_child(node, toks)
            if best is not None and d <= self.params.threshold:
                c = best.cluster
                c.count += 1
                for i, t in enumerate(toks):
                    if c.tokens[i] != t:
                        c.tokens[i] = WILDCARD
                return c
            if len(node.children) < self.params.max_children:
                cluster = Cluster(tokens=toks, count=1)
                self.clusters.append(cluster)
                node.children.append(_Node(cluster=cluster))
                return cluster
            node = best if best is not None and d < math.inf else self._descend_fallback(node, toks)

    def search(self, tokens: list[str]) -> Cluster | None:
        toks = list(tokens) if tokens else [""]
        node = self.root
        while node.children:
            best, d = self._best_child(node, toks)
            if best is not None and d <= self.params.threshold:
                return best.cluster
            if best is None or d == math.inf:
                node = self._descend_fallback(node, toks)
            else:
                node = best
        return None


def shiso_parse_sequential(texts, params: ShisoParams | None = None):
    """Sequential oracle parse (mask → tokenize → online SHISO)."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text, tokenize

    patterns = compile_rex(DrainParams().rex)
    tree = ShisoTree(params)
    rows = []
    for text in texts:
        masked = mask_text(text, patterns)
        rows.append((masked, tree.add_message(tokenize(masked))))
    out = [
        {
            "masked": masked,
            "template": c.template,
            "event_id": event_id_of(c.template),
        }
        for masked, c in rows
    ]
    return out, tree.clusters
