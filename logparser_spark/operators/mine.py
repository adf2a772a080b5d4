"""Distributed template mining (U2 in SURVEY §2.10): mine → merge.

The reference's parser is an *online, sequential* loop over every line
(``Drain/Drain.py`` ``parse`` ≈L254–290).  At 10^12 turns that cannot run
on one node, so the graft splits it:

1. **mask** — native ``regexp_replace`` chain (no Python).
2. **partition-local mine** — each partition (conversations co-located by
   ``conv_id`` hash, rows sorted by ``(conv_id, turn_idx)`` for
   determinism) runs the sequential Drain kernel over its Arrow batches
   inside ``mapInPandas`` and emits only its tiny template set.
3. **driver merge** — template sets are KBs; they are merged into one
   global set by :func:`logparser_spark.strategies.merge_template_sets`
   (canonical-order re-insertion into a fresh kernel for online
   strategies, one global fit over the shipped texts for batch ones),
   which makes the result independent of partition enumeration order.

The strategy name is looked up once in the strategy table
(:mod:`logparser_spark.strategies`); its record supplies the kernel,
the merge and the params type.

Per-row Python exists only *inside* the mining batch operator where the
algorithm is inherently sequential, and is bounded: identical masked texts
are deduplicated per batch before touching the tree, so tree inserts are
O(unique texts), not O(rows).  At full scale mining runs on a bounded
deterministic sample (``sample_one_in``) and assignment runs everywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparser_spark.config import DrainParams, PipelineConfig
from logparser_spark.functions.hashing import bucket_expr
from logparser_spark.functions.masking import mask_expr
from logparser_spark.strategies import Strategy, check_strategy, merge_template_sets


def with_masked(df: DataFrame, params: DrainParams) -> DataFrame:
    """Attach the masked text column (pure native expressions)."""
    return df.withColumn("masked", mask_expr("text", params.rex))


def _mine_partition(strategy: Strategy, params):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # dedup across the whole partition, preserving first-seen order;
        # per-batch factorize + bincount is vectorized (no per-row Python)
        seen: dict[str, int] = {}
        for pdf in batches:
            codes, uniques = pd.factorize(pdf["masked"])
            counts = np.bincount(codes, minlength=len(uniques))
            for text, cnt in zip(uniques, counts):
                seen[text] = seen.get(text, 0) + int(cnt)
        if strategy.batch:
            # batch algorithms are pure functions of the weighted unique-
            # text SET: emit the partition's deduped texts and let the
            # driver run the one global fit over the union — distributed
            # output is then EXACTLY the sequential fit, not a
            # merge-of-fits approximation (AEL's (len, n_wildcard)
            # binning isn't even closed under re-fitting templates).
            # Collected volume is unique masked texts (KBs–MBs: masking
            # collapses parameters), and the scale path mines on a
            # sample_one_in subset anyway.
            yield pd.DataFrame({"template": list(seen), "count": list(seen.values())})
            return
        clusters = strategy.fold(params, ((t.split(), c) for t, c in seen.items()))
        yield pd.DataFrame(
            {
                "template": [c.template for c in clusters],
                "count": [c.count for c in clusters],
            }
        )

    return fn


def mine_templates(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    sample_one_in: int = 1,
    strategy: str = "drain",
    partition_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    strategy_params=None,
    unique_cap: int | None = 500_000,
    cap_action: str = "error",
) -> list:
    """Mine the global template set from a (already masked or raw) frame.

    ``sample_one_in > 1`` mines on a deterministic md5-bucket sample of
    ``partition_col`` groups (whole groups, so per-group ordering is
    preserved) — the scale path for 100 TB inputs where the template
    universe saturates long before the data does.  ``partition_col`` /
    ``order_cols`` default to the transcripts keys; log-file inputs use
    ``("LineId",)``.

    ``unique_cap`` guards the ``BATCH_STRATEGIES`` driver fit: those
    kernels collect the corpus' weighted unique masked TEXTS, which is
    KB–MB sized when masking collapses parameters but unbounded when
    masking *misses* (high-cardinality alphabetic ids, say).  Before
    collecting, the unique-text cardinality is estimated distributively
    (``approx_count_distinct``, one cheap pre-pass) and when it exceeds
    the cap the mine either fails loudly (``cap_action='error'``, the
    default — silently OOMing the driver is never acceptable) or
    auto-escalates ``sample_one_in`` proportionally
    (``cap_action='sample'``) and mines the reduced sample.  ``None``
    disables the guard.  Online kernels (drain/spell/lenma/shiso) need
    no guard — they collect per-partition *template sets*, which their
    trees compress regardless of input cardinality.

    ``strategy_params`` (the strategy's params type, checked before any
    Spark job) reaches the partition kernel and the driver merge; when
    omitted the strategy's defaults apply.  Drain always mines with
    ``cfg.drain`` and takes no ``strategy_params``.
    """
    cfg = cfg or PipelineConfig()
    params = cfg.drain
    s = check_strategy(strategy)
    kernel_params = s.resolve_params(strategy_params, params)
    if "masked" not in df.columns:
        df = with_masked(df, params)
    src = df
    if sample_one_in > 1:
        src = src.filter(bucket_expr(partition_col, sample_one_in) == 0)
    if s.batch and unique_cap is not None:
        # cap_action='sample' RE-VERIFIES after each escalation: the
        # filter drops whole partition_col groups, and when unique-text
        # cardinality is not proportional to group count (one giant
        # group holding most of the distinct texts) a single
        # proportional escalation can land above the cap — which would
        # defeat the guard and collect the over-cap set anyway.  Bounded
        # escalation attempts, then loud failure.
        import math

        for attempt in range(3 if cap_action == "sample" else 1):
            est = src.agg(
                F.approx_count_distinct("masked", 0.02).alias("n")
            ).first()["n"]
            if est <= unique_cap:
                break
            if cap_action == "sample" and attempt < 2:
                factor = max(math.ceil(est / unique_cap), 2)
                sample_one_in *= factor
                src = src.filter(bucket_expr(partition_col, sample_one_in) == 0)
                continue
            raise ValueError(
                f"mine_templates[{strategy}]: ~{est:,} unique masked texts "
                f"exceed unique_cap={unique_cap:,} — the batch-kernel "
                "driver fit would collect them all"
                + (
                    f" (still over cap after escalating the sample to "
                    f"one-in-{sample_one_in})"
                    if cap_action == "sample"
                    else ""
                )
                + ". Masking likely misses this corpus' parameters: "
                "extend rex or raise sample_one_in"
                + (
                    ""
                    if cap_action == "sample"
                    else ", or pass cap_action='sample' to auto-escalate"
                )
                + " (unique_cap=None to override)."
            )
    cols = list(dict.fromkeys([*order_cols, "masked"]))
    # Skew guard: partitioning by conv alone puts a dominant conversation
    # (Zipf head) in ONE task, and that straggler becomes the stage time
    # once cores ≫ partitions-per-wave. Long groups are split into
    # ``chunk_turns``-sized chunks (still internally ordered by
    # order_cols), which is safe because mining is canonicalized by the
    # driver merge — per-partition template sets, not row order, define
    # the result.
    chunk_turns = 1024
    part_keys = [F.col(partition_col)]
    if len(order_cols) > 1:
        part_keys.append(F.floor(F.col(order_cols[-1]) / chunk_turns))
    part = (
        src.select(*cols)
        .repartition(cfg.num_partitions, *part_keys)
        .sortWithinPartitions(*order_cols)
    )
    rows = part.mapInPandas(
        _mine_partition(s, kernel_params), "template string, count long"
    ).collect()
    pairs = [[(r["template"], r["count"]) for r in rows]]
    return merge_template_sets(pairs, strategy, kernel_params)
