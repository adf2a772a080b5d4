"""Read-only template matchers, one per mining strategy's decision rule.

A matcher is built from a fixed, sorted template list and maps unique
masked texts to ``(template, event_id, matched)``.  Every matcher takes
``(templates, params, with_params)``, so :mod:`logparser_spark.strategies`
can name it in the strategy table and
:func:`logparser_spark.operators.assign.assign_templates` can build any
of them from one lookup.  Matchers that have no tunable rule ignore
``params``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from logparser_spark.drain import (
    Cluster,
    DrainTree,
    event_id_of,
    template_to_param_regex,
)
from logparser_spark.lenma import LenMaCluster, LenMaMap
from logparser_spark.logmine import logmine_dist
from logparser_spark.shiso import log_dist
from logparser_spark.spell import SpellMap


class BaseMatcher:
    """Shared matcher plumbing: memoization + per-row parameter
    extraction.  Subclasses implement ``match_one`` (one token list →
    template or None) or override ``match_unique`` (vectorized)."""

    def __init__(self, templates: list[str], params, with_params: bool):
        self.params = params
        self.with_params = with_params
        # exact-template fallback: a text whose masked form IS a mined
        # template always counts as matched, even when similarity search
        # can't reach it (e.g. all-wildcard templates score sim=0)
        self.template_set = frozenset(templates)
        self.memo: dict[str, tuple[str, str, bool]] = {}
        self.param_rx: dict[str, object] = {}

    def result(self, template: str | None, text: str) -> tuple[str, str, bool]:
        """(template, event_id, matched) for a hit, else the text itself
        with the exact-template fallback."""
        if template is not None:
            return (template, event_id_of(template), True)
        return (text, event_id_of(text), text in self.template_set)

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        """Match an array of unique masked texts; returns per-unique
        (template, event_id, matched)."""
        return [self.result(self.match_one(u.split() or [""]), u) for u in uniques]

    def regex_for(self, template: str):
        """Compiled parameter regex per template (None → no parameters)."""
        if template not in self.param_rx:
            self.param_rx[template] = template_to_param_regex(template)
        return self.param_rx[template]

    def extract_params(self, texts: pd.Series, codes: np.ndarray, rows: list) -> list:
        """Per-row parameters in one pass over the batch: each unique
        text's template regex is resolved once, then each row runs one
        ``search`` of its text and strips the groups (reference
        semantics — groups are the ``<*>`` positions of the final
        template).  ``rows`` holds (template, event_id, matched) per
        factorize code.  Unmatched rows, parameter-less templates and
        null texts give ``[]``."""
        if not self.with_params:
            return [[] for _ in range(len(codes))]
        rx_of_code = np.array(
            [self.regex_for(tpl) if ok else None for tpl, _, ok in rows], dtype=object
        )
        out = []
        for text, rx in zip(texts, rx_of_code.take(codes)):
            m = rx.search(text) if rx is not None and isinstance(text, str) else None
            out.append([g.strip() for g in m.groups()] if m else [])
        return out


class DrainMatcher(BaseMatcher):
    """Read-only matcher over a fixed Drain template set.

    Matching is vectorized: rows group by their tree-leaf key (token
    count + the leading tokens the fixed-depth descent consumes), and
    each group's token matrix is compared against the leaf's few
    candidate templates with numpy — exact ``fastMatch`` semantics
    (similarity over non-wildcard positions, wildcard-count tie-break,
    first-cluster-wins on full ties) without per-row Python.
    """

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, params, with_params)
        self.tree = DrainTree(params)
        for t in templates:
            self.tree.insert(Cluster(tokens=t.split(" ")))
        # leaf-node id → precomputed candidate arrays
        self._leaf_cache: dict[int, tuple] = {}

    def _leaf_arrays(self, node) -> tuple:
        key = id(node)
        hit = self._leaf_cache.get(key)
        if hit is None:
            tpls = []
            for c in node.clusters:
                toks = np.array(c.tokens, dtype=object)
                wild = toks == "<*>"
                tpls.append((toks, wild, int(wild.sum()), c.template))
            hit = self._leaf_cache[key] = tuple(tpls)
        return hit

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        tok_lists = [u.split() or [""] for u in uniques]
        pfx = self.tree.prefix_len
        groups: dict[tuple, list[int]] = {}
        for i, toks in enumerate(tok_lists):
            groups.setdefault((len(toks), *toks[:pfx]), []).append(i)

        results: list[tuple[str, str, bool] | None] = [None] * len(uniques)
        st = self.params.st
        for key, idxs in groups.items():
            length = key[0]
            node = self.tree.resolve_leaf(tok_lists[idxs[0]])
            cands = self._leaf_arrays(node) if node is not None else ()
            if not cands:
                for i in idxs:
                    results[i] = self.result(None, uniques[i])
                continue
            mat = np.array([tok_lists[i] for i in idxs], dtype=object)  # [n, L]
            n = len(idxs)
            best_sim = np.full(n, -1.0)
            best_np = np.full(n, -1)
            best_j = np.full(n, -1)
            for j, (toks, wild, n_wild, _tpl) in enumerate(cands):
                if len(toks) != length:
                    continue
                eq = mat == toks  # broadcast compare [n, L]
                if n_wild:
                    eq = eq & ~wild
                sim = eq.sum(axis=1) / length
                upd = (sim > best_sim) | ((sim == best_sim) & (n_wild > best_np))
                best_j[upd] = j
                best_sim[upd] = sim[upd]
                best_np[upd] = n_wild
            for pos, i in enumerate(idxs):
                hit = best_j[pos] >= 0 and best_sim[pos] >= st
                results[i] = self.result(cands[best_j[pos]][3] if hit else None, uniques[i])
        return results  # type: ignore[return-value]


class SpellMatcher(BaseMatcher):
    """Read-only LCS matcher over a fixed Spell template set (memoized
    per unique text; LCS decision rule of :mod:`logparser_spark.spell`)."""

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, params, with_params)
        self.smap = SpellMap(params)
        self.smap.clusters.extend(Cluster(tokens=t.split(" ")) for t in templates)

    def match_one(self, toks: list[str]) -> str | None:
        hit = self.smap.search(toks)
        return hit.template if hit is not None else None


class LenMaMatcher(BaseMatcher):
    """Read-only length-vector matcher over a fixed LenMa template set
    (memoized per unique text; cosine decision rule of
    :mod:`logparser_spark.lenma`)."""

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, params, with_params)
        self.lmap = LenMaMap(params)
        for t in templates:
            toks = t.split(" ")
            self.lmap.clusters.append(
                LenMaCluster(tokens=toks, lengths=[len(x) for x in toks])
            )

    def match_one(self, toks: list[str]) -> str | None:
        hit = self.lmap.search(toks)
        return hit.template if hit is not None else None


class ShisoMatcher(BaseMatcher):
    """Read-only SHISO matcher: the mining DISTANCE RULE applied against
    the final template list (min mean word distance ≤ threshold; ties to
    the lexicographically-smallest template).  The capacity tree only
    accelerates online mining — a read-only walk can diverge from a
    text's true cluster branch (texts differ from their templates at
    parameter positions), while the flat rule is exact and memoized per
    unique text over a small template list."""

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, params, with_params)
        self.tpl_tokens = [(t.split(" "), t) for t in templates]

    def match_one(self, toks: list[str]) -> str | None:
        best, best_d = None, None
        for tpl_toks, tpl in self.tpl_tokens:  # sorted → tie = smallest
            d = log_dist(tpl_toks, toks, self.params.mismatch_floor)
            if best_d is None or d < best_d:
                best, best_d = tpl, d
        return best if best is not None and best_d <= self.params.threshold else None


class LogSigMatcher(BaseMatcher):
    """Read-only LogSig matcher: signatures are majority-term sequences,
    so a text matches the signature whose terms form an ordered
    subsequence of its tokens, most terms first; texts containing no
    full signature (minority group members whose group signature carries
    another member's terms) fall back to maximum term overlap.  Both
    rules tie to the lexicographically-smallest signature."""

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, params, with_params)
        self.sigs = [(t.split(" "), set(t.split(" ")), t) for t in templates]

    @staticmethod
    def _is_subseq(sig: list[str], toks: list[str]) -> bool:
        it = iter(toks)
        return all(s in it for s in sig)

    def match_one(self, toks: list[str]) -> str | None:
        tok_set = set(toks)
        best, best_n = None, -1
        for sig, sig_set, tpl in self.sigs:
            if len(sig) > best_n and sig_set <= tok_set and self._is_subseq(sig, toks):
                best, best_n = tpl, len(sig)
        if best is None:
            for sig, sig_set, tpl in self.sigs:
                n = len(sig_set & tok_set)
                if n > best_n:
                    best, best_n = tpl, n
            if best_n <= 0:
                best = None
        return best


class LogMineMatcher(BaseMatcher):
    """Read-only LogMine matcher: the mining distance applied
    template-vs-text (wildcards match anything); the most-similar pattern
    within ``max_dist`` wins, ties to the lexicographically-smallest
    template (templates arrive sorted)."""

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, params, with_params)
        self.tpl_tokens = [(t.split(" "), t) for t in templates]

    def match_one(self, toks: list[str]) -> str | None:
        best, best_d = None, None
        for tpl_toks, tpl in self.tpl_tokens:
            d = logmine_dist(tpl_toks, toks)
            if best_d is None or d < best_d:
                best, best_d = tpl, d
        return best if best is not None and best_d <= self.params.max_dist else None


class IPLoMMatcher(BaseMatcher):
    """Read-only matcher over a fixed IPLoM (or AEL/LKE/MoLFI — same
    fixed-length wildcarded shape) template set.

    IPLoM templates are fixed-length with ``<*>`` at non-constant
    positions; a text belongs to a leaf iff it agrees with the template on
    every constant position.  When several same-length templates are
    compatible, the most specific (most constants) wins; full ties fall to
    the lexicographically-smallest template (templates arrive sorted from
    ``assign_templates``).  Vectorized like :class:`DrainMatcher`: rows
    group by token count and compare against each candidate with one
    numpy broadcast.

    **Defined semantics (ADVICE r2):** most-specific-compatible is the
    assignment rule, by definition — not a reconstruction of the batch
    fit's leaf membership.  At 10^12-turn scale assignment must handle
    texts the (sampled) fit never saw, so a membership map cannot be the
    contract; the rule is deterministic, text-local, and coincides with
    fit membership whenever a text is compatible with exactly one mined
    template (true on the synthetic corpus — pinned by
    ``test_distributed_iplom_matches_sequential_oracle``).  The
    ambiguous-overlap case is pinned by
    ``test_iplom_matcher_most_specific_rule``.
    """

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, params, with_params)
        self.by_len: dict[int, list[tuple]] = {}
        for t in templates:  # sorted order preserved for tie-breaks
            toks = np.array(t.split(" "), dtype=object)
            wild = toks == "<*>"
            self.by_len.setdefault(len(toks), []).append(
                (toks, wild, int((~wild).sum()), t)
            )

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        tok_lists = [u.split() or [""] for u in uniques]
        groups: dict[int, list[int]] = {}
        for i, toks in enumerate(tok_lists):
            groups.setdefault(len(toks), []).append(i)
        results: list[tuple[str, str, bool] | None] = [None] * len(uniques)
        for length, idxs in groups.items():
            cands = self.by_len.get(length, [])
            mat = np.array([tok_lists[i] for i in idxs], dtype=object)
            n = len(idxs)
            best_score = np.full(n, -1)
            best_tpl: list[str | None] = [None] * n
            for toks, wild, n_const, tpl in cands:
                ok = ((mat == toks) | wild).all(axis=1)
                upd = ok & (n_const > best_score)
                for pos in np.flatnonzero(upd):
                    best_tpl[pos] = tpl
                best_score[upd] = n_const
            for pos, i in enumerate(idxs):
                results[i] = self.result(best_tpl[pos], uniques[i])
        return results  # type: ignore[return-value]
