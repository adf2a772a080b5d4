"""Template assignment (U3 in SURVEY §2.10): broadcast + vectorized match.

Assignment is a *pure function* of the final template set: each turn's
masked text is matched through a read-only Drain tree rebuilt from the
broadcast template list (same ``treeSearch``/``fastMatch`` semantics as the
reference, ≈L55–88/L167–187) — no generalization happens here, so the
operation is embarrassingly parallel, order-insensitive, and deterministic.

Vectorization: within each Arrow batch, masked texts are factorized and
each *unique* text is matched once; ``template``/``event_id``/``matched``
are a numpy take of the per-unique results by the factorize codes.  A
worker-global memo cache persists matches across batches, so hot
templates cost one tree walk per executor, not per row.  Parameter
extraction is one pass over the batch: each unique text's template
regex is resolved once (compiled once per template — reference
``get_parameter_list`` quirks preserved, see
:func:`logparser_spark.drain.template_to_param_regex`), then every row
runs one ``search`` of its raw text and strips the groups.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logparser_spark.config import DrainParams
from logparser_spark.drain import (
    Cluster,
    DrainTree,
    event_id_of,
    template_to_param_regex,
)
from logparser_spark.operators.mine import check_strategy, with_masked

ASSIGN_FIELDS = [
    T.StructField("masked", T.StringType()),
    T.StructField("template", T.StringType()),
    T.StructField("event_id", T.StringType()),
    T.StructField("parameters", T.ArrayType(T.StringType())),
    T.StructField("matched", T.BooleanType()),
]


class _BaseMatcher:
    """Shared matcher plumbing: memoization + per-row parameter
    extraction. Subclasses implement ``match_unique``."""

    def __init__(self, templates: list[str], with_params: bool):
        self.with_params = with_params
        # exact-template fallback: a text whose masked form IS a mined
        # template always counts as matched, even when similarity search
        # can't reach it (e.g. all-wildcard templates score sim=0)
        self.template_set = frozenset(templates)
        self.memo: dict[str, tuple[str, str, bool]] = {}
        self.param_rx: dict[str, object] = {}

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


class _Matcher(_BaseMatcher):
    """Read-only matcher over a fixed template set.

    Matching is vectorized: rows group by their tree-leaf key (token
    count + the leading tokens the fixed-depth descent consumes), and
    each group's token matrix is compared against the leaf's few
    candidate templates with numpy — exact ``fastMatch`` semantics
    (similarity over non-wildcard positions, wildcard-count tie-break,
    first-cluster-wins on full ties) without per-row Python.
    """

    def __init__(self, templates: list[str], params: DrainParams, with_params: bool):
        super().__init__(templates, with_params)
        self.params = params
        self.tree = DrainTree(params)
        for t in templates:
            self.tree.insert(Cluster(tokens=t.split(" ") if t else [""]))
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
        """Match an array of unique masked texts; returns per-unique
        (template, event_id, matched)."""
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
                    t = uniques[i]
                    results[i] = (t, event_id_of(t), t in self.template_set)
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
                if best_j[pos] >= 0 and best_sim[pos] >= st:
                    tpl = cands[best_j[pos]][3]
                    results[i] = (tpl, event_id_of(tpl), True)
                else:
                    t = uniques[i]
                    results[i] = (t, event_id_of(t), t in self.template_set)
        return results  # type: ignore[return-value]


class _SpellMatcher(_BaseMatcher):
    """Read-only LCS matcher over a fixed Spell template set (memoized
    per unique text; LCS decision rule of :mod:`logparser_spark.spell`)."""

    def __init__(self, templates: list[str], tau: float, with_params: bool):
        super().__init__(templates, with_params)
        from logparser_spark.spell import SpellCluster, SpellMap, SpellParams

        self.smap = SpellMap(SpellParams(tau))
        for t in templates:
            self.smap.clusters.append(
                SpellCluster(tokens=t.split(" ") if t else [""])
            )

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        out = []
        for u in uniques:
            hit = self.smap.search(u.split() or [""])
            if hit is not None:
                out.append((hit.template, event_id_of(hit.template), True))
            else:
                out.append((u, event_id_of(u), u in self.template_set))
        return out


class _LenMaMatcher(_BaseMatcher):
    """Read-only length-vector matcher over a fixed LenMa template set
    (memoized per unique text; cosine decision rule of
    :mod:`logparser_spark.lenma`)."""

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, with_params)
        from logparser_spark.lenma import LenMaCluster, LenMaMap

        self.lmap = LenMaMap(params)
        for t in templates:
            toks = t.split(" ") if t else [""]
            self.lmap.clusters.append(
                LenMaCluster(tokens=toks, lengths=[len(x) for x in toks])
            )

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        out = []
        for u in uniques:
            hit = self.lmap.search(u.split() or [""])
            if hit is not None:
                out.append((hit.template, event_id_of(hit.template), True))
            else:
                out.append((u, event_id_of(u), u in self.template_set))
        return out


class _ShisoMatcher(_BaseMatcher):
    """Read-only SHISO matcher: the mining DISTANCE RULE applied against
    the final template list (min mean word distance ≤ threshold; ties to
    the lexicographically-smallest template).  The capacity tree only
    accelerates online mining — a read-only walk can diverge from a
    text's true cluster branch (texts differ from their templates at
    parameter positions), while the flat rule is exact and memoized per
    unique text over a small template list."""

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, with_params)
        from logparser_spark.shiso import ShisoParams

        self.params = params or ShisoParams()
        self.tpl_tokens = [(t.split(" ") if t else [""], t) for t in templates]

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        from logparser_spark.shiso import log_dist

        floor = self.params.mismatch_floor
        out = []
        for u in uniques:
            toks = u.split() or [""]
            best, best_d = None, None
            for tpl_toks, tpl in self.tpl_tokens:  # sorted → tie = smallest
                d = log_dist(tpl_toks, toks, floor)
                if best_d is None or d < best_d:
                    best, best_d = tpl, d
            if best is not None and best_d <= self.params.threshold:
                out.append((best, event_id_of(best), True))
            else:
                out.append((u, event_id_of(u), u in self.template_set))
        return out


class _LogSigMatcher(_BaseMatcher):
    """Read-only LogSig matcher: signatures are majority-term sequences,
    so a text matches the signature whose terms form an ordered
    subsequence of its tokens, most terms first; texts containing no
    full signature (minority group members whose group signature carries
    another member's terms) fall back to maximum term overlap.  Both
    rules tie to the lexicographically-smallest signature."""

    def __init__(self, templates: list[str], with_params: bool):
        super().__init__(templates, with_params)
        self.sigs = [
            (t.split(" ") if t else [""], set(t.split(" ") if t else [""]), t)
            for t in templates
        ]

    @staticmethod
    def _is_subseq(sig: list[str], toks: list[str]) -> bool:
        it = iter(toks)
        return all(s in it for s in sig)

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        out = []
        for u in uniques:
            toks = u.split() or [""]
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
            if best is not None:
                out.append((best, event_id_of(best), True))
            else:
                out.append((u, event_id_of(u), u in self.template_set))
        return out


class _LogMineMatcher(_BaseMatcher):
    """Read-only LogMine matcher: the mining distance applied
    template-vs-text (wildcards match anything); the most-similar pattern
    within ``max_dist`` wins, ties to the lexicographically-smallest
    template (templates arrive sorted)."""

    def __init__(self, templates: list[str], params, with_params: bool):
        super().__init__(templates, with_params)
        from logparser_spark.logmine import LogMineParams

        self.params = params or LogMineParams()
        self.tpl_tokens = [
            (t.split(" ") if t else [""], t) for t in templates
        ]

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        from logparser_spark.logmine import logmine_dist

        out = []
        for u in uniques:
            toks = u.split() or [""]
            best, best_d = None, None
            for tpl_toks, tpl in self.tpl_tokens:
                d = logmine_dist(tpl_toks, toks)
                if best_d is None or d < best_d:
                    best, best_d = tpl, d
            if best is not None and best_d <= self.params.max_dist:
                out.append((best, event_id_of(best), True))
            else:
                out.append((u, event_id_of(u), u in self.template_set))
        return out


class _IPLoMMatcher(_BaseMatcher):
    """Read-only matcher over a fixed IPLoM (or AEL/LKE — same
    fixed-length wildcarded shape) template set.

    IPLoM templates are fixed-length with ``<*>`` at non-constant
    positions; a text belongs to a leaf iff it agrees with the template on
    every constant position.  When several same-length templates are
    compatible, the most specific (most constants) wins; full ties fall to
    the lexicographically-smallest template (templates arrive sorted from
    ``assign_templates``).  Vectorized like :class:`_Matcher`: rows group
    by token count and compare against each candidate with one numpy
    broadcast.

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

    def __init__(self, templates: list[str], with_params: bool):
        super().__init__(templates, with_params)
        self.by_len: dict[int, list[tuple]] = {}
        for t in templates:  # sorted order preserved for tie-breaks
            toks = np.array(t.split(" ") if t else [""], dtype=object)
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
                tpl = best_tpl[pos]
                if tpl is not None:
                    results[i] = (tpl, event_id_of(tpl), True)
                else:
                    t = uniques[i]
                    results[i] = (t, event_id_of(t), t in self.template_set)
        return results  # type: ignore[return-value]


# worker-global cache: one matcher per (templates identity, params) per worker
_MATCHER_CACHE: dict[tuple, _BaseMatcher] = {}


def _match_batch(matcher: _Matcher, masked: pd.Series, text: pd.Series) -> pd.DataFrame:
    codes, uniques = pd.factorize(masked)
    uniques = np.asarray(uniques, dtype=object)
    memo = matcher.memo
    missing = [i for i, u in enumerate(uniques) if u not in memo]
    if missing:
        fresh = matcher.match_unique(uniques[missing])
        for i, res in zip(missing, fresh):
            if len(memo) < 1_000_000:  # bound executor memory
                memo[uniques[i]] = res
    results = [memo.get(u) for u in uniques]
    if any(r is None for r in results):  # memo overflow path
        idx = [i for i, r in enumerate(results) if r is None]
        for i, res in zip(idx, matcher.match_unique(uniques[idx])):
            results[i] = res
    # per-unique columns plus a trailing unmatched sentinel that code -1
    # (null masked text) takes; each per-row column is one numpy take
    rows = results + [(None, None, False)]
    template = np.array([r[0] for r in rows], dtype=object)
    event_id = np.array([r[1] for r in rows], dtype=object)
    matched = np.array([r[2] for r in rows], dtype=bool)
    return pd.DataFrame(
        {
            "template": template.take(codes),
            "event_id": event_id.take(codes),
            "parameters": matcher.extract_params(text, codes, rows),
            "matched": matched.take(codes),
        },
        index=masked.index,
    )


def assign_templates(
    df: DataFrame,
    clusters: list,
    params: DrainParams | None = None,
    with_params: bool = True,
    strategy: str = "drain",
    tau: float = 0.5,
    strategy_params=None,
) -> DataFrame:
    """Attach ``masked, template, event_id, parameters, matched`` columns.

    Implemented as a scalar Arrow pandas_udf over (masked, text) returning
    a struct — passthrough columns never cross the JVM↔Python boundary,
    so Arrow traffic is just the two string columns in and the assignment
    struct out. ``strategy`` selects the matching engine: ``drain``
    (fixed-depth tree), ``spell`` (LCS), ``lenma`` (length-vector
    cosine), or ``iplom``/``ael`` (constant-position compatibility,
    most-specific wins).
    """
    check_strategy(strategy)
    params = params or DrainParams()
    if "masked" not in df.columns:
        df = with_masked(df, params)
    templates = sorted(c.template for c in clusters)
    import hashlib

    token = hashlib.md5("\n".join(templates).encode("utf-8")).hexdigest()
    bc = df.sparkSession.sparkContext.broadcast(templates)
    wp = with_params

    sp = strategy_params

    @F.pandas_udf(T.StructType(ASSIGN_FIELDS[1:]))  # template..matched
    def assign_udf(masked: pd.Series, text: pd.Series) -> pd.DataFrame:
        key = (token, strategy, tau, params, sp, wp)
        matcher = _MATCHER_CACHE.get(key)
        if matcher is None:
            if strategy == "spell":
                matcher = _SpellMatcher(bc.value, tau, wp)
            elif strategy == "lenma":
                matcher = _LenMaMatcher(bc.value, sp, wp)
            elif strategy == "logmine":
                matcher = _LogMineMatcher(bc.value, sp, wp)
            elif strategy == "shiso":
                matcher = _ShisoMatcher(bc.value, sp, wp)
            elif strategy == "logsig":
                matcher = _LogSigMatcher(bc.value, wp)
            elif strategy in ("iplom", "ael", "lke", "molfi"):
                matcher = _IPLoMMatcher(bc.value, wp)
            else:
                matcher = _Matcher(bc.value, params, wp)
            if len(_MATCHER_CACHE) > 8:
                _MATCHER_CACHE.clear()
            _MATCHER_CACHE[key] = matcher
        return _match_batch(matcher, masked, text)

    out = df.withColumn("_assign", assign_udf(F.col("masked"), F.col("text")))
    return out.select(
        *[c for c in df.columns],
        F.col("_assign.template").alias("template"),
        F.col("_assign.event_id").alias("event_id"),
        F.col("_assign.parameters").alias("parameters"),
        F.col("_assign.matched").alias("matched"),
    )
