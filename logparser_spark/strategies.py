"""The strategy table: how each template miner mines, merges and matches.

Every strategy name resolves to one :class:`Strategy` record, and the
batch miner (:mod:`logparser_spark.operators.mine`), the matcher
(:mod:`logparser_spark.operators.assign`, which the streaming twin
reuses) and the ``--strategy`` choices of the jobs all read it — so a
strategy's kernel, merge and matcher cannot drift apart.

Two kinds of strategy:

* **online** (drain, spell, lenma, shiso) — a sequential kernel
  (``add_message``/``search``/``clusters``) mines each Spark partition;
  the driver merges the per-partition template sets by re-inserting
  them into a fresh kernel in canonical ``(-count, template)`` order, so
  the result is independent of partition enumeration order (SURVEY §7.3
  determinism mitigation (a)).
* **batch** (iplom, ael, logmine, lke, logsig, molfi) — the fit is a
  pure function of the weighted unique-text set, so partitions ship
  their deduped texts and the driver runs the one global fit: the
  distributed result IS the sequential one.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

from logparser_spark.ael import AELParams, ael_fit
from logparser_spark.config import DrainParams
from logparser_spark.drain import DrainTree
from logparser_spark.iplom import IPLoMParams, iplom_fit
from logparser_spark.lenma import LenMaMap, LenMaParams
from logparser_spark.lke import LKEParams, lke_fit
from logparser_spark.logmine import LogMineParams, logmine_fit
from logparser_spark.logsig import LogSigParams, logsig_fit
from logparser_spark.matchers import (
    DrainMatcher,
    IPLoMMatcher,
    LenMaMatcher,
    LogMineMatcher,
    LogSigMatcher,
    ShisoMatcher,
    SpellMatcher,
)
from logparser_spark.molfi import MoLFIParams, molfi_fit
from logparser_spark.shiso import ShisoParams, ShisoTree
from logparser_spark.spell import SpellMap, SpellParams


@dataclass(frozen=True)
class Strategy:
    """One mining strategy: its params type, its online ``kernel`` class
    or batch ``fit`` function, and its read-only matcher class."""

    name: str
    params_type: type
    matcher: type
    kernel: type | None = None
    fit: Callable | None = None

    @property
    def batch(self) -> bool:
        return self.fit is not None

    def check_params(self, params):
        """``params`` when it is this strategy's type (TypeError
        otherwise), the defaults when None."""
        if params is None:
            return self.params_type()
        if not isinstance(params, self.params_type):
            raise TypeError(
                f"strategy {self.name!r} takes {self.params_type.__name__}, "
                f"got {type(params).__name__}"
            )
        return params

    def resolve_params(self, strategy_params, drain: DrainParams):
        """The params ``mine_templates``/``assign_templates`` hand the
        kernel and matcher.  Drain's are always ``drain``, the DrainParams
        masking reads too, so it takes no ``strategy_params``."""
        if self.params_type is DrainParams:
            if strategy_params is not None:
                raise TypeError(
                    "strategy 'drain' takes its DrainParams from cfg.drain / "
                    f"params, not strategy_params (got {type(strategy_params).__name__})"
                )
            return drain
        return self.check_params(strategy_params)

    def fold(self, params, weighted: Iterable[tuple[list[str], int]]) -> list:
        """Online kernels: insert weighted token lists, in the given
        order, into a fresh kernel; returns its clusters."""
        kernel = self.kernel(params)
        for tokens, count in weighted:
            kernel.add_message(tokens).count += count - 1
        return kernel.clusters


_TABLE = {
    s.name: s
    for s in (
        Strategy("drain", DrainParams, DrainMatcher, kernel=DrainTree),
        Strategy("spell", SpellParams, SpellMatcher, kernel=SpellMap),
        Strategy("lenma", LenMaParams, LenMaMatcher, kernel=LenMaMap),
        Strategy("shiso", ShisoParams, ShisoMatcher, kernel=ShisoTree),
        Strategy("iplom", IPLoMParams, IPLoMMatcher, fit=iplom_fit),
        Strategy("ael", AELParams, IPLoMMatcher, fit=ael_fit),
        Strategy("logmine", LogMineParams, LogMineMatcher, fit=logmine_fit),
        Strategy("lke", LKEParams, IPLoMMatcher, fit=lke_fit),
        Strategy("logsig", LogSigParams, LogSigMatcher, fit=logsig_fit),
        Strategy("molfi", MoLFIParams, IPLoMMatcher, fit=molfi_fit),
    )
}

#: every strategy ``mine_templates`` / ``assign_templates`` accept
STRATEGIES = tuple(_TABLE)
#: strategies whose mine ships per-partition unique TEXTS to the driver,
#: so the driver-side volume is bounded by the corpus' unique-masked-text
#: cardinality and must be guarded (see ``mine_templates``' ``unique_cap``)
BATCH_STRATEGIES = tuple(n for n, s in _TABLE.items() if s.batch)


def check_strategy(name: str) -> Strategy:
    """The record for ``name``; fails on an unknown name before any Spark
    job runs."""
    if name not in _TABLE:
        raise ValueError(f"unknown strategy {name!r}; expected one of {STRATEGIES}")
    return _TABLE[name]


def merge_template_sets(
    template_sets: Iterable[Iterable[tuple[str, int]]],
    strategy: str = "drain",
    params=None,
) -> list:
    """Merge per-partition ``(template, count)`` sets into one global set.

    Batch strategies fit once over the summed weights; online strategies
    re-insert the templates into a fresh kernel in canonical
    ``(-count, template)`` order, so the result does not depend on the
    order of the sets or of their pairs."""
    s = check_strategy(strategy)
    params = s.check_params(params)
    flat: dict[str, int] = {}
    for ts in template_sets:
        for template, count in ts:
            flat[template] = flat.get(template, 0) + int(count)
    if s.batch:
        return s.fit(flat, params).clusters
    ordered = sorted(flat.items(), key=lambda kv: (-kv[1], kv[0]))
    return s.fold(params, ((t.split(" "), c) for t, c in ordered))
