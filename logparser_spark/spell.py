"""Spell: LCS-based streaming log parsing (second mining strategy).

From-scratch implementation of the published algorithm (Du & Li,
*"Spell: Streaming Parsing of System Event Logs"*, ICDM 2016; reference
analog ``logparser/Spell/Spell.py`` — ``LCSObject`` ≈L12–17, ``LCS``/
``getTemplate``/match loop ≈L60–200).  Core semantics: a message joins
the cluster whose template shares the longest common subsequence of
*constant* tokens, provided ``|LCS| ≥ tau · |message|``; the cluster's
template becomes the alignment of the LCS against the message, gaps
masked ``<*>``.  The reference's prefix-tree / simple-loop pre-matches
are pure accelerations and are not replicated; the LCS decision rule —
which defines the output — is.

Mirrors the :class:`logparser_spark.drain.DrainTree` surface
(``add_message`` / ``search`` / ``clusters``) so the distributed
mine→merge→assign scheme runs it as the ``spell`` entry of the strategy
table (:mod:`logparser_spark.strategies`).
"""

from __future__ import annotations

from dataclasses import dataclass

from logparser_spark.config import WILDCARD
from logparser_spark.drain import Cluster


@dataclass(frozen=True)
class SpellParams:
    tau: float = 0.5


def lcs(a: list[str], b: list[str]) -> list[str]:
    """Classic O(|a|·|b|) longest-common-subsequence (token lists)."""
    la, lb = len(a), len(b)
    dp = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la - 1, -1, -1):
        for j in range(lb - 1, -1, -1):
            if a[i] == b[j]:
                dp[i][j] = dp[i + 1][j + 1] + 1
            else:
                dp[i][j] = max(dp[i + 1][j], dp[i][j + 1])
    out: list[str] = []
    i = j = 0
    while i < la and j < lb:
        if a[i] == b[j]:
            out.append(a[i])
            i += 1
            j += 1
        elif dp[i + 1][j] >= dp[i][j + 1]:
            i += 1
        else:
            j += 1
    return out


def align_template(common: list[str], seq: list[str]) -> list[str]:
    """Message tokens aligned against the LCS; non-LCS positions → <*>,
    consecutive gaps collapsed (Spell's ``getTemplate`` behavior)."""
    out: list[str] = []
    k = 0
    for tok in seq:
        if k < len(common) and tok == common[k]:
            out.append(tok)
            k += 1
        elif not out or out[-1] != WILDCARD:
            out.append(WILDCARD)
    return out


def _constants(tokens: list[str]) -> list[str]:
    return [t for t in tokens if t != WILDCARD]


class SpellMap:
    """Online LCS cluster map with the DrainTree-compatible surface."""

    def __init__(self, params: SpellParams | None = None):
        self.params = params or SpellParams()
        self.clusters: list[Cluster] = []

    def _best(self, tokens: list[str]) -> tuple[Cluster | None, list[str]]:
        consts = _constants(tokens)
        const_set = set(consts)
        best, best_lcs = None, []
        for c in self.clusters:
            c_consts = _constants(c.tokens)
            # cheap upper bound prune before the quadratic LCS
            if len(c_consts) <= len(best_lcs):
                continue
            if not const_set.intersection(c_consts):
                continue
            common = lcs(consts, c_consts)
            if len(common) > len(best_lcs):
                best, best_lcs = c, common
        if best is not None and len(best_lcs) >= self.params.tau * len(tokens):
            return best, best_lcs
        return None, []

    def search(self, tokens: list[str]) -> Cluster | None:
        hit, _ = self._best(tokens)
        return hit

    def add_message(self, tokens: list[str]) -> Cluster:
        if not tokens:
            tokens = [""]
        hit, common = self._best(tokens)
        if hit is None:
            cluster = Cluster(tokens=list(tokens), count=1)
            self.clusters.append(cluster)
            return cluster
        hit.count += 1
        merged = align_template(common, tokens)
        if merged != hit.tokens:
            hit.tokens = merged
        return hit


def spell_parse_sequential(texts, params: SpellParams | None = None):
    """Sequential oracle parse (mask → tokenize → online Spell)."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text, tokenize

    patterns = compile_rex(DrainParams().rex)
    smap = SpellMap(params)
    rows = []
    for text in texts:
        masked = mask_text(text, patterns)
        rows.append((masked, smap.add_message(tokenize(masked))))
    out = [
        {
            "masked": masked,
            "template": c.template,
            "event_id": event_id_of(c.template),
        }
        for masked, c in rows
    ]
    return out, smap.clusters
