"""Structured Streaming variant of the pipeline, plus streaming twins of
the sketch, ranking, sessionization, curation and dedup operators.

The reference is batch-only; this is the graft's continuous-ingest mode.
:func:`run_streaming_pipeline` is the batch job's body per epoch: the
batch job's frozen templates, then ONE query whose ``foreachBatch``
routes and commits each assigned, enriched micro-batch as commit unit
``batch_id=<epoch>`` (``route_write``, one read-back, one ledger row;
a ``foreachBatch`` frame is a batch plan, so AQE's REBALANCE applies).
An epoch is committed iff its ledger row exists, so a replayed committed
epoch is skipped and an uncommitted one overwrites its own partitions.
The windowed counts are the batch ``sink_window_counts`` over the
committed epochs: late turns are counted, not dropped behind a watermark.

Tested with ``trigger(availableNow=True)`` over a parquet directory —
same code path a Kafka/files source would take.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.functions.text import tokens_expr
from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.enrich import enrich
from logparser_spark.plans import manifest as M
from logparser_spark.plans.pipeline import (
    PipelineResult,
    aggregates_from_routed,
    frozen_templates,
    route_commit,
)
from logparser_spark.sources.lookups import lkp_role_df, lkp_tool_df

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)


def _per_epoch(stream: DataFrame, fn, checkpoint: str):
    """Start one availableNow query running ``fn(batch_df, epoch)`` on
    each micro-batch."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _require_utc(stream: DataFrame, name: str) -> None:
    """The pandas state functions below turn naive session-local
    timestamps into epoch ms, which is only right in a UTC session."""
    tz = stream.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            f"{name} needs spark.sql.session.timeZone=UTC (session has {tz!r}): "
            "its event-time timeouts would be off by the zone's offset"
        )


def streaming_sessionize(
    stream: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization with
    ``applyInPandasWithState`` (event-time timeout).

    Batch sessionization (:func:`logparser_spark.operators.sessions.
    sessionize`) is a window over the full history; continuous ingest
    needs bounded state instead: per key we hold ONE open session
    (start, last_ts, count).  Within a micro-batch, events are sorted by
    event time and a gap > ``gap_minutes`` closes the current session
    (emitted immediately); the final open session is kept in state with
    an event-time timeout at ``last_ts + gap``, so the watermark passing
    that point flushes it in a later batch with no event required.
    Cross-batch late arrivals (above the watermark) merge into the open
    session by extending its bounds (``min(start)``/``max(end)``) —
    never shrinking them; a late event more than a gap before the open
    session's start is emitted as its own closed singleton session.
    Output rows are CLOSED sessions only: (key, session_start,
    session_end, n_events).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _require_utc(stream, "streaming_sessionize")
    gap_ms = gap_minutes * 60 * 1000
    out_schema = (
        f"{key_col} string, session_start timestamp, session_end timestamp, "
        "n_events long"
    )
    state_schema = "start_ms long, last_ms long, n long"

    def fn(key, pdfs, state: GroupState):
        k = key[0]

        def emit(start_ms: int, end_ms: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    key_col: [k],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(end_ms, unit="ms")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield emit(start_ms, last_ms, n)
            return

        ts_ms = pd.concat([pdf[ts_col] for pdf in pdfs]).sort_values()
        ts_ms = (ts_ms.astype("int64") // 1_000_000).tolist()
        if state.exists:
            start_ms, last_ms, n = state.get
        else:
            start_ms = last_ms = None
            n = 0
        for t in ts_ms:
            if last_ms is None:
                start_ms, last_ms, n = t, t, 1
            elif t - last_ms > gap_ms:
                yield emit(start_ms, last_ms, n)
                start_ms, last_ms, n = t, t, 1
            elif start_ms - t > gap_ms:
                # late arrival (above the watermark, so admitted) more
                # than a gap BEFORE the open session: it can never join
                # it — emit as its own already-closed session.  State
                # holds only (start, last, n), not member timestamps, so
                # a same-batch bridge back to it is not reconstructable;
                # this is the bounded-state approximation.
                yield emit(t, t, 1)
            else:
                # merge into the open session without ever moving its
                # boundaries the wrong way: a late event must not shrink
                # session_end (that would also mis-set the event-time
                # timeout) and may extend the session backwards
                start_ms = min(start_ms, t)
                last_ms = max(last_ms, t)
                n += 1
        state.update((start_ms, last_ms, n))
        # the timeout must sit beyond the current watermark (Spark
        # enforces it); a session already older than the watermark is
        # flushed at the very next trigger
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_ms + gap_ms, wm + 1))

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_streaming_pipeline(
    spark: SparkSession,
    in_path: str,
    out: str,
    cfg: PipelineConfig | None = None,
    strategy: str = "drain",
    mine_sample_one_in: int = 1,
) -> PipelineResult:
    """Run (or resume) the batch job's body per epoch over the parquet
    directory ``in_path`` into ``out``: frozen templates, then one
    availableNow query (checkpoint ``<out>/_ckpt``) that assigns and
    enriches the stream and routes and commits each epoch, then
    ``<out>/agg_sink_window`` over the committed epochs.

    A strategy other than the frozen one raises ``ValueError`` before
    any query starts.  ``routed_rows`` is summed from the ledger, so it
    counts every committed epoch, this run's and earlier ones.
    """
    cfg = cfg or PipelineConfig()
    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    clusters = frozen_templates(
        spark.read.schema(TRANSCRIPT_SCHEMA).parquet(in_path),
        out, cfg, strategy, mine_sample_one_in,
    )
    committed = M.committed_buckets(spark, out, unit="batch_id")
    result = PipelineResult(
        out_dir=out, run_id=run_id, n_templates=len(clusters),
        buckets_skipped=sorted(committed), unit="batch_id",
    )
    assigned = assign_templates(
        read_transcript_stream(spark, in_path), clusters, cfg.drain, strategy=strategy
    )
    routed = enrich(assigned, lkp_role_df(spark), lkp_tool_df(spark))

    def _epoch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed:  # a replay of an epoch already committed
            return
        route_commit(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            out, cfg, run_id, t0, [batch_id],
        )
        result.buckets_done.append(batch_id)

    _per_epoch(routed, _epoch, f"{out}/_ckpt").awaitTermination()
    ledger = M.read_manifest(spark, out, unit="batch_id")
    result.routed_rows = ledger.agg(F.sum("routed_rows")).first()[0] or 0
    swc, _twc = aggregates_from_routed(spark, result, cfg)
    swc.write.mode("overwrite").parquet(f"{out}/agg_sink_window")
    result.wall_sec = time.time() - t0
    return result


def streaming_cms_cells(
    stream: DataFrame,
    key_col: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Per-event-time-window count-min sketch cells over a stream:
    (win_start, row, col, cnt).

    The CMS is mergeable by cell-wise addition, which is exactly what a
    watermarked streaming groupBy does across micro-batches — so the
    sketch state per window is the GRID (≤ depth·width rows), constant
    regardless of stream volume or key cardinality, and a finalized
    window's cells equal the batch :func:`~logparser_spark.operators.
    sketches.cms_sketch` over that window's rows (pinned by test).
    Heavy-hitter extraction then runs as a batch read of the emitted
    cells joined with candidate keys.
    """
    from logparser_spark.operators.sketches import _cms_col

    k = F.col(key_col).cast("string")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"), _cms_col(k, i, width).alias("col")
                )
                for i in range(depth)
            ]
        )
    ).alias("_c")
    return (
        stream.withWatermark("ts", watermark)
        .select("ts", cells)
        .groupBy(
            F.window("ts", window_duration),
            F.col("_c.row").alias("row"),
            F.col("_c.col").alias("col"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("win_start"), "row", "col", "cnt")
    )


def streaming_hll_cells(
    stream: DataFrame,
    value_col: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    log2m: int = 8,
) -> DataFrame:
    """Per-event-time-window HyperLogLog registers over a stream:
    (win_start, bucket, r).

    HLL registers merge by cell-wise MAX, which is exactly what a
    watermarked streaming ``groupBy(window, bucket).max(rho)`` computes
    across micro-batches — so distinct-count state per window is at most
    ``m = 2^log2m`` rows regardless of stream volume or cardinality, and
    a finalized window's registers equal the batch
    :func:`~logparser_spark.operators.sketches.hll_registers` over that
    window's rows (pinned by test).  The estimate is then a batch read
    of the emitted registers through the same estimator arithmetic.
    """
    from logparser_spark.operators.sketches import hll_cols

    bucket, rho = hll_cols(value_col, log2m)
    return (
        stream.withWatermark("ts", watermark)
        .select("ts", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(F.window("ts", window_duration), "bucket")
        .agg(F.max("rho").alias("r"))
        .select(F.col("window.start").alias("win_start"), "bucket", "r")
    )


def streaming_curation_write(
    docs_stream: DataFrame,
    bench: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
):
    """Micro-batch curation: per-doc Gopher repetition stats + benchmark
    decontamination flags over a document STREAM.

    Both operators are doc-local (each doc's text arrives whole in one
    row), so the batch implementations apply to every micro-batch
    unchanged via ``foreachBatch`` — the standard Spark pattern for
    composing batch relational operators into Structured Streaming
    without re-deriving streaming-safe plans.  ``bench`` is a static
    frame (stream-static composition); its distinct n-grams are tiny by
    construction (an eval set).

    Exactly-once: each micro-batch overwrites its own
    ``batch_id=<epoch>`` partition directory, so a replayed epoch (the
    at-least-once case ``foreachBatch`` documents) rewrites the same
    files instead of appending duplicates — the idempotent-sink
    construction.  Readers get all rows via partition discovery on
    ``path``.
    """
    from logparser_spark.operators.curation import decontaminate
    from logparser_spark.operators.textstats import ngram_repetition

    def _curate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rep = ngram_repetition(batch_df, id_col, text_col)
        dec = decontaminate(
            batch_df.select(id_col, text_col),
            bench,
            id_col,
            text_col,
            n=n,
            min_overlap=min_overlap,
        )
        rep.join(dec, id_col).write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return _per_epoch(docs_stream, _curate, f"{path}_ckpt")


def streaming_quantile_cells(
    stream: DataFrame,
    keys: list[str],
    value_col: str,
    id_col: str,
    window_minutes: int = 60,
    watermark: str = "2 hours",
    k: int = 256,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-event-time-window bottom-k quantile-sketch cells over a
    stream: (win_start, *keys, rk, value) — the streaming twin of
    :func:`~logparser_spark.operators.sketches.quantile_sample`.

    The bottom-k sample merges by construction (bottom-k of a union ⊆
    union of bottom-k's), but unlike CMS/HLL it is not a plain
    cell-wise SQL aggregate — the merge is "keep the k smallest md5
    ranks", so this is the custom-stateful case:
    ``applyInPandasWithState`` keyed by (window, *keys) holds EXACTLY
    the current bottom-k (rank, value) pairs per group — state bounded
    at k rows per (window, key) regardless of stream volume — and an
    event-time timeout at window-end + watermark emits the finalized
    sample once, in append semantics like the CMS/HLL twins.  A
    finalized window's cells equal the batch ``quantile_sample`` over
    that window's rows (pinned by test); quantile extraction is then a
    batch read of the cells through the same exact-integer nearest-rank
    arithmetic.  Ranks are the same engine-portable md5 construction as
    the batch sketch, so streaming and batch pick IDENTICAL sample rows.
    """
    import hashlib

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _require_utc(stream, "streaming_quantile_cells")
    win_ms = window_minutes * 60 * 1000
    key_schema = ", ".join(f"{c} string" for c in keys)
    out_schema = (
        "win_start timestamp"
        + (", " + key_schema if keys else "")
        + ", rk string, value double"
    )
    state_schema = "rks array<string>, vals array<double>"

    def fn(key, pdfs, state: GroupState):
        win_start = key[0]
        kvals = key[1:]

        def emit(rks, vals) -> pd.DataFrame:
            out = {"win_start": [win_start] * len(rks)}
            for c, v in zip(keys, kvals):
                out[c] = [v] * len(rks)
            out["rk"] = list(rks)
            out["value"] = list(vals)
            return pd.DataFrame(out)

        if state.hasTimedOut:
            rks, vals = state.get
            state.remove()
            yield emit(rks, vals)
            return

        pairs = []
        if state.exists:
            rks, vals = state.get
            pairs = list(zip(rks, vals))
        for pdf in pdfs:
            ids = pdf["_id"]
            vv = pdf["_val"]
            ok = ids.notna() & vv.notna()
            for i, v in zip(ids[ok], vv[ok]):
                pairs.append(
                    (hashlib.md5(str(i).encode("utf-8")).hexdigest(), float(v))
                )
        pairs.sort()
        pairs = pairs[:k]
        state.update(([p[0] for p in pairs], [p[1] for p in pairs]))
        wm = state.getCurrentWatermarkMs()
        # naive-ts → epoch ms, same convention as streaming_sessionize
        win_end_ms = int(pd.Timestamp(win_start).value // 1_000_000) + win_ms
        state.setTimeoutTimestamp(max(win_end_ms, wm + 1))

    src = stream.withWatermark(ts_col, watermark).select(
        F.window(ts_col, f"{window_minutes} minutes")["start"].alias("win_start"),
        *[F.col(c).cast("string").alias(c) for c in keys],
        F.col(id_col).cast("string").alias("_id"),
        F.col(value_col).cast("double").alias("_val"),
        # the watermarked event-time column must survive projection for
        # the analyzer to allow EventTimeTimeout; fn never reads it
        F.col(ts_col),
    )
    return src.groupBy("win_start", *keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_bm25_cells(
    stream: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_minutes: int = 60,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    n_shards: int = 4,
) -> DataFrame:
    """Per-event-time-window BM25 corpus-statistic cells over a document
    stream — the streaming twin of
    :func:`~logparser_spark.operators.ranking.bm25_scores`.

    BM25's corpus statistics (N, total token count, per-term df) are
    window-global, so unlike CMS/HLL this is not a per-key SQL
    aggregate: ``applyInPandasWithState`` keyed by (window, shard)
    accumulates INTEGER counts only — two scalars plus the matched
    (doc, term, tf, dl) rows for documents sharing ≥ 1 seed term.  The
    seed terms are the ``tokens_expr`` tokens of the static ``queries``
    frame's ``query`` column, the tokenization the finalizer applies;
    pass the SAME ``queries`` frame to ``bm25_topk_from_cells``, or its
    terms missing here have no cells and silently score 0.
    Zero-overlap documents bump the two counters and are forgotten (the
    decontaminate lesson in streaming form): state ∝ the batch
    operator's post-join row count, not stream volume.  ``n_shards``
    md5-splits each window's state across tasks so a hot window never
    lands on one executor; shard partials merge exactly (disjoint doc
    sets ⇒ df/N/token sums add).

    At window-end + watermark each shard emits its matched rows plus
    ONE sentinel stats row (term NULL, carrying the shard's n_docs /
    total_tokens) in append semantics.  Scoring is a batch read of the
    cells through
    :func:`~logparser_spark.operators.ranking.bm25_topk_from_cells`,
    which recomputes df by counting matched rows and reuses the batch
    operator's exact JVM expressions — so streaming == batch EXACTLY
    per finalized window (the python side never touches a float).

    Stream contract: each row is one WHOLE document (a doc never splits
    across micro-batches).  Python tokenization mirrors ``tokens_expr``
    exactly: tokens are maximal runs of non-ASCII-whitespace, because
    Java regex ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]`` — NOT
    ``str.split()``, whose unicode whitespace (e.g. ``\\u00a0``) would
    split tokens the JVM keeps whole.
    """
    import re

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _require_utc(stream, "streaming_bm25_cells")
    win_ms = window_minutes * 60 * 1000
    qset = frozenset(
        r[0]
        for r in queries.select(F.explode(tokens_expr("query")))
        .distinct()
        .collect()
    )
    tok_re = re.compile(r"[^ \t\n\x0b\f\r]+")
    out_schema = (
        "win_start timestamp, shard int, doc_id string, term string, "
        "tf bigint, dl bigint, n_docs bigint, total_tokens bigint"
    )
    state_schema = (
        "n_docs bigint, total_tokens bigint, m_doc array<string>, "
        "m_term array<string>, m_tf array<bigint>, m_dl array<bigint>"
    )

    def fn(key, pdfs, state: GroupState):
        win_start, shard = key

        if state.hasTimedOut:
            n_docs, total_tokens, m_doc, m_term, m_tf, m_dl = state.get
            state.remove()
            n = len(m_doc)
            yield pd.DataFrame(
                {
                    "win_start": [win_start] * (n + 1),
                    "shard": [shard] * (n + 1),
                    "doc_id": [None, *m_doc],
                    "term": [None, *m_term],
                    "tf": [0, *m_tf],
                    "dl": [0, *m_dl],
                    "n_docs": [n_docs] + [0] * n,
                    "total_tokens": [total_tokens] + [0] * n,
                }
            )
            return

        n_docs, total_tokens = 0, 0
        m_doc: list[str] = []
        m_term: list[str] = []
        m_tf: list[int] = []
        m_dl: list[int] = []
        if state.exists:
            n_docs, total_tokens, sd, st, sf, sl = state.get
            m_doc, m_term, m_tf, m_dl = list(sd), list(st), list(sf), list(sl)
        for pdf in pdfs:
            for doc, text in zip(pdf["_id"], pdf["_text"]):
                toks = tok_re.findall(text) if isinstance(text, str) else []
                n_docs += 1
                dl = len(toks)
                total_tokens += dl
                cnt: dict[str, int] = {}
                for t in toks:
                    if t in qset:
                        cnt[t] = cnt.get(t, 0) + 1
                for t, c in cnt.items():
                    m_doc.append(str(doc))
                    m_term.append(t)
                    m_tf.append(c)
                    m_dl.append(dl)
        state.update((n_docs, total_tokens, m_doc, m_term, m_tf, m_dl))
        wm = state.getCurrentWatermarkMs()
        win_end_ms = int(pd.Timestamp(win_start).value // 1_000_000) + win_ms
        state.setTimeoutTimestamp(max(win_end_ms, wm + 1))

    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint"),
        F.lit(n_shards),
    ).cast("int")
    src = stream.withWatermark(ts_col, watermark).select(
        F.window(ts_col, f"{window_minutes} minutes")["start"].alias("win_start"),
        shard.alias("shard"),
        F.col(id_col).cast("string").alias("_id"),
        F.col(text_col).alias("_text"),
        # the watermarked event-time column must survive projection for
        # the analyzer to allow EventTimeTimeout; fn never reads it
        F.col(ts_col),
    )
    return src.groupBy("win_start", "shard").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_incremental_dedup_write(
    docs_stream: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **dedup_kw,
):
    """Continuous-ingest near-dup admission control: each micro-batch is
    deduped against everything ALREADY ADMITTED (and against itself) via
    :func:`~logparser_spark.operators.dedup.incremental_dedup`, and its
    survivors join the canonical corpus as that epoch's partition
    (per-epoch overwrite, not an append) — the streaming form
    of the per-crawl/per-delivery dedup a training-data pipeline runs at
    ingest.

    The corpus IS the sink: admitted docs land in ``batch_id=<epoch>``
    partition dirs, and each epoch's corpus view is the partitions with
    ``batch_id < epoch`` (partition-pruned read, so a replayed epoch
    never scans its own or later output).  Bounding the view by the
    CURRENT epoch is what makes replay exactly idempotent: without it, a
    replayed epoch N would find its own previously-written survivors in
    the corpus and reject every one of them as a duplicate of itself.
    With the bound, the replay sees the identical prior-corpus view,
    recomputes the identical survivor set, and overwrites its own
    partition — the same idempotent-sink construction as
    :func:`streaming_curation_write`.

    Scale: corpus×corpus pairs never materialize (incremental_dedup's
    contract) — per-epoch cost ∝ batch size and bucket overlap, plus a
    column-pruned parquet scan of the admitted corpus to re-derive its
    minhash bands.  A deployment that out-grows the re-scan persists the
    band table alongside the corpus and unions it in; not done here so
    the sink stays a single self-describing format.  Ids must be
    globally unique across all batches (the operator's contract).
    """

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        from logparser_spark.operators.dedup import incremental_dedup

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        new = batch_df.select(id_col, text_col)
        try:
            corpus = (
                spark.read.parquet(path)
                .filter(F.col("batch_id") < F.lit(batch_id))
                .select(id_col, text_col)
            )
        except AnalysisException as e:
            # only the first epoch's missing corpus dir means "empty
            # corpus"; any other analysis error (a foreign file at the
            # path, a schema without the text column) fails the query
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            corpus = spark.createDataFrame([], new.schema)
        admitted = incremental_dedup(
            new, corpus, id_col=id_col, text_col=text_col, **dedup_kw
        )
        admitted.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return _per_epoch(docs_stream, _admit, f"{path}_ckpt")
