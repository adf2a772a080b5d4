"""Template assignment (U3 in SURVEY §2.10): broadcast + vectorized match.

Assignment is a *pure function* of the final template set: each turn's
masked text is matched by the read-only matcher of the strategy that
mined the set (:mod:`logparser_spark.matchers`; for Drain a tree rebuilt
from the broadcast template list, same ``treeSearch``/``fastMatch``
semantics as the reference, ≈L55–88/L167–187) — no generalization
happens here, so the operation is embarrassingly parallel,
order-insensitive, and deterministic.

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logparser_spark.config import DrainParams
from logparser_spark.matchers import BaseMatcher
from logparser_spark.operators.mine import with_masked
from logparser_spark.strategies import check_strategy

ASSIGN_FIELDS = [
    T.StructField("masked", T.StringType()),
    T.StructField("template", T.StringType()),
    T.StructField("event_id", T.StringType()),
    T.StructField("parameters", T.ArrayType(T.StringType())),
    T.StructField("matched", T.BooleanType()),
]

# worker-global cache: one matcher per (templates identity, params) per worker
_MATCHER_CACHE: dict[tuple, BaseMatcher] = {}


def _match_batch(matcher: BaseMatcher, masked: pd.Series, text: pd.Series) -> pd.DataFrame:
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
    strategy_params=None,
) -> DataFrame:
    """Attach ``masked, template, event_id, parameters, matched`` columns.

    Implemented as a scalar Arrow pandas_udf over (masked, text) returning
    a struct — passthrough columns never cross the JVM↔Python boundary,
    so Arrow traffic is just the two string columns in and the assignment
    struct out. ``strategy`` names the strategy that mined ``clusters``
    (any of :data:`logparser_spark.strategies.STRATEGIES`); its table
    record supplies the matcher — drain (fixed-depth tree), spell (LCS),
    lenma (length-vector cosine), shiso (mean word distance), logmine
    (pattern distance), logsig (signature subsequence), or
    iplom/ael/lke/molfi (constant-position compatibility, most-specific
    wins).  ``strategy_params`` reaches the matcher as it reaches the
    miner; Drain matches with ``params`` and takes no
    ``strategy_params``.  A params object of another strategy's type
    raises ``TypeError`` before any Spark job.
    """
    params = params or DrainParams()
    s = check_strategy(strategy)
    matcher_params = s.resolve_params(strategy_params, params)
    if "masked" not in df.columns:
        df = with_masked(df, params)
    templates = sorted(c.template for c in clusters)
    import hashlib

    token = hashlib.md5("\n".join(templates).encode("utf-8")).hexdigest()
    bc = df.sparkSession.sparkContext.broadcast(templates)
    wp = with_params

    @F.pandas_udf(T.StructType(ASSIGN_FIELDS[1:]))  # template..matched
    def assign_udf(masked: pd.Series, text: pd.Series) -> pd.DataFrame:
        key = (token, strategy, matcher_params, wp)
        matcher = _MATCHER_CACHE.get(key)
        if matcher is None:
            matcher = s.matcher(bc.value, matcher_params, wp)
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
