"""LenMa: word-length-vector clustering (fourth mining strategy).

From-scratch implementation of the published algorithm (Shima, *"Length
Matters: Clustering System Log Messages using Length of Words"*, 2016;
reference analog ``logparser/LenMa/LenMa.py``).  Core semantics: a
message can only join a cluster with the same token count; the match
score is the cosine similarity between the cluster's word-length vector
and the message's word-length vector; on join, positions whose tokens
differ become ``<*>`` in the template and the length vector is updated to
the joining message's lengths at those positions (so the vector tracks
the most recent parameter widths, the paper's update rule).

Documented graft choices (the sequential oracle defines semantics):

* wildcard positions score as a perfect length match (the cluster's
  stored length at a ``<*>`` position is the last seen parameter's
  length; treating it as equal to the incoming length keeps parameter
  width drift from eroding similarity);
* a candidate must share ≥1 positionally-identical non-wildcard token
  with the message (the paper's practical refinement for short
  messages, where cosine over 1–3-dim length vectors is always ≈1 and
  would merge unrelated events — same spirit as Spell's
  constant-intersection gate);
* ties between clusters above the threshold resolve to the earliest
  cluster (first-wins, matching the online insertion order);
* empty messages form their own singleton cluster.

Mirrors the ``add_message``/``search``/``clusters`` surface of
:class:`logparser_spark.spell.SpellMap` so mine/merge/assign plug in
unchanged.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from logparser_spark.config import WILDCARD


@dataclass(frozen=True)
class LenMaParams:
    threshold: float = 0.9


@dataclass
class LenMaCluster:
    tokens: list[str]
    lengths: list[int]
    count: int = 0

    @property
    def template(self) -> str:
        return " ".join(self.tokens)


def _cosine(a: list[int], b: list[int]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    if na == 0.0 or nb == 0.0:
        return 1.0 if na == nb else 0.0
    return dot / (na * nb)


class LenMaMap:
    """Online length-vector cluster map (DrainTree-compatible surface)."""

    def __init__(self, params: LenMaParams | None = None):
        self.params = params or LenMaParams()
        self.clusters: list[LenMaCluster] = []

    def _score(self, c: LenMaCluster, lengths: list[int]) -> float:
        # wildcard positions count as a perfect length match
        eff = [
            m if c.tokens[i] == WILDCARD else c.lengths[i]
            for i, m in enumerate(lengths)
        ]
        return _cosine(eff, lengths)

    def _best(self, tokens: list[str]) -> LenMaCluster | None:
        lengths = [len(t) for t in tokens]
        best, best_s = None, -1.0
        for c in self.clusters:
            if len(c.tokens) != len(tokens):
                continue
            # short-message guard: at least one constant must line up
            if not any(
                a == b and a != WILDCARD for a, b in zip(c.tokens, tokens)
            ):
                continue
            s = self._score(c, lengths)
            if s > best_s:  # strictly greater → first-wins on ties
                best, best_s = c, s
        if best is not None and best_s >= self.params.threshold:
            return best
        return None

    def search(self, tokens: list[str]) -> LenMaCluster | None:
        return self._best(tokens)

    def add_message(self, tokens: list[str]) -> LenMaCluster:
        if not tokens:
            tokens = [""]
        hit = self._best(tokens)
        if hit is None:
            c = LenMaCluster(
                tokens=list(tokens), lengths=[len(t) for t in tokens], count=1
            )
            self.clusters.append(c)
            return c
        hit.count += 1
        for i, tok in enumerate(tokens):
            if hit.tokens[i] != tok:
                hit.tokens[i] = WILDCARD
                hit.lengths[i] = len(tok)
        return hit


def lenma_parse_sequential(texts, params: LenMaParams | None = None):
    """Sequential oracle parse (mask → tokenize → online LenMa)."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text, tokenize

    patterns = compile_rex(DrainParams().rex)
    lmap = LenMaMap(params)
    rows = []
    for text in texts:
        masked = mask_text(text, patterns)
        rows.append((masked, lmap.add_message(tokenize(masked))))
    out = [
        {
            "masked": masked,
            "template": c.template,
            "event_id": event_id_of(c.template),
        }
        for masked, c in rows
    ]
    return out, lmap.clusters
