"""Raw-logfile source (S1/S2), grouping-accuracy evaluator (A6), and the
Structured Streaming pipeline variant."""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from collections import Counter
from types import SimpleNamespace

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.operators.evaluate import grouping_accuracy, grouping_accuracy_sql
from logparser_spark.operators.mine import mine_templates
from logparser_spark.sources.logfile import compile_log_format, read_log_file
from logparser_spark.sources.transcripts import transcripts_df
from logparser_spark.plans.manifest import read_manifest
from logparser_spark.plans.pipeline import aggregates_from_routed, run_pipeline
from logparser_spark.streaming.stream import TRANSCRIPT_SCHEMA, run_streaming_pipeline

LOG_FORMAT = "<Date> <Time> <Pid> <Level> <Component>: <Content>"
LINES = [
    "081109 203518 143 INFO dfs.DataNode$DataXceiver: Receiving block blk_-1608999687919862906 src: /10.250.19.102:54106",
    "081109 203518 35 INFO dfs.FSNamesystem: BLOCK* NameSystem.allocateBlock: /mnt/hadoop/x.jar. blk_-1608999687919862906",
    "081109 204005 35 INFO dfs.FSNamesystem: BLOCK* NameSystem.addStoredBlock: blockMap updated",
    "this line does not match the format",
]


def test_compile_log_format():
    headers, rx = compile_log_format(LOG_FORMAT)
    assert headers == ["Date", "Time", "Pid", "Level", "Component", "Content"]
    import re

    m = re.match(rx, LINES[0])
    assert m and m.group(1) == "081109" and m.group(4) == "INFO"
    assert m.group(6).startswith("Receiving block")


def test_read_log_file(spark):
    d = tempfile.mkdtemp()
    try:
        path = os.path.join(d, "test.log")
        with open(path, "w") as f:
            f.write("\n".join(LINES) + "\n")
        df = read_log_file(spark, path, LOG_FORMAT)
        rows = df.orderBy("LineId").collect()
        assert [r["LineId"] for r in rows] == [1, 2, 3, 4]
        assert rows[0]["Level"] == "INFO"
        assert rows[0]["Content"].startswith("Receiving block")
        # unmatched line flagged, not dropped (dead-letter policy)
        assert [r["_corrupt"] for r in rows] == [False, False, False, True]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_line_id_scale_safe_across_splits(spark):
    """LineId must equal the 1-based file line number with the input split
    into many partitions, and the plan must not single-partition-sort the
    data (r1 finding: global row_number window)."""
    d = tempfile.mkdtemp()
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        path = os.path.join(d, "big.log")
        n = 5000
        with open(path, "w") as f:
            for i in range(1, n + 1):
                f.write(f"081109 203518 {i} INFO dfs.Comp: line number {i} payload\n")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        # the input scan really is split (the output partitioning is
        # AQE-coalesced and says nothing about the scan)
        assert spark.read.text(path).rdd.getNumPartitions() > 4
        df = read_log_file(spark, path, LOG_FORMAT)
        rows = df.select("LineId", "Pid").collect()
        assert len(rows) == n
        assert all(int(r["Pid"]) == r["LineId"] for r in rows)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the row_number window is partitioned by the input split — the
        # only SinglePartition exchange allowed is over the KB-sized
        # per-partition counts relation (below the broadcast offsets join)
        import re as _re

        for wline in [ln for ln in plan.splitlines() if "row_number()" in ln]:
            assert "windowspecdefinition(_file" in wline, wline
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        shutil.rmtree(d, ignore_errors=True)


def test_line_id_multi_file_directory(spark):
    """Directory input: LineId numbers the path-sorted concatenation of
    the files, regardless of Spark packing splits by size DESC (a larger
    later-named file must not grab the first ids)."""
    d = tempfile.mkdtemp()
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # a.log is SMALL, b.log is LARGE and split into several
        # partitions: size-desc packing puts b's splits first, so a
        # partition-id-only offset scheme would misnumber a.log.
        # c.log sorts AFTER the large file (path order a < b < c while
        # size order is b > a > c) and is small enough to be packed
        # into the same partition as other small files.
        sizes = {"a.log": 7, "b.log": 4000, "c.log": 5}
        for name, n in sizes.items():
            with open(os.path.join(d, name), "w") as f:
                for i in range(1, n + 1):
                    f.write(
                        f"081109 203518 {i} INFO dfs.Comp: f={name} line {i} pay\n"
                    )
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        df = read_log_file(spark, d, LOG_FORMAT)
        rows = df.select("LineId", "Pid", "Content").collect()
        assert len(rows) == sum(sizes.values())
        expected = {}  # LineId -> (file, in-file line)
        lid = 1
        for name in sorted(sizes):  # path-sorted concatenation
            for i in range(1, sizes[name] + 1):
                expected[lid] = (name, i)
                lid += 1
        for r in rows:
            name, i = expected[r["LineId"]]
            assert int(r["Pid"]) == i, (r["LineId"], name, i, r["Pid"])
            assert f"f={name} " in r["Content"], (r["LineId"], r["Content"])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        shutil.rmtree(d, ignore_errors=True)


def test_grouping_accuracy_perfect_and_known(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")], "gt string, pred string"
    )
    r = grouping_accuracy(df, "gt", "pred").first()
    assert (r["precision"], r["recall"], r["f1"], r["parsing_accuracy"]) == (1.0, 1.0, 1.0, 1.0)

    # one line of group b mis-assigned into x
    df2 = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("b", "y")],
        "gt string, pred string",
    )
    r2 = grouping_accuracy(df2, "gt", "pred").first()
    # gt pairs: C(2,2)+C(3,2)=1+3=4 ; pred pairs: C(3,2)+C(2,2)=4 ;
    # true pairs: (a,x):1 + (b,y):1 = 2
    assert r2["precision"] == 0.5 and r2["recall"] == 0.5
    assert r2["parsing_accuracy"] == 0.0


def test_grouping_accuracy_matches_sql_twin(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("c", "z")],
        "gt string, pred string",
    )
    got = grouping_accuracy(df, "gt", "pred").toPandas()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (gt VARCHAR, pred VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", df.collect())
    want = con.execute(grouping_accuracy_sql("t", "gt", "pred")).df()
    assert got.to_dict("records") == want.to_dict("records")


def test_streaming_sessionize_stateful(spark):
    """applyInPandasWithState sessionizer: in-batch gap closures emit
    immediately; open sessions survive in state and flush via event-time
    timeout when a later batch advances the watermark."""
    from datetime import datetime, timedelta

    from logparser_spark.streaming.stream import streaming_sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows1 = [
        ("A", t0),
        ("A", t0 + timedelta(minutes=10)),   # same session
        ("A", t0 + timedelta(minutes=50)),   # 40 min gap → closes s1
        ("A", t0 + timedelta(minutes=60)),   # same session as 50m
        ("B", t0 + timedelta(minutes=5)),    # single-event open session
    ]
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        spark.createDataFrame(rows1, "conv_id string, ts timestamp").coalesce(1) \
            .write.mode("append").parquet(in_path)

        def run_once():
            stream = spark.readStream.schema("conv_id string, ts timestamp").parquet(in_path)
            q = (
                streaming_sessionize(stream, gap_minutes=30, watermark="1 minute")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                (r["conv_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in spark.read.parquet(out_path).collect()
            }

        got1 = run_once()
        # the in-batch gap closure emits A's first session; availableNow
        # then fires a timer batch at watermark t0+59m, which flushes
        # B's session (timeout t0+35m) but not A's open one (t0+90m)
        assert got1 == {
            ("A", t0, t0 + timedelta(minutes=10), 2),
            ("B", t0 + timedelta(minutes=5), t0 + timedelta(minutes=5), 1),
        }

        # a far-future event advances the watermark past both open
        # sessions' timeouts → they flush without any event of their own
        spark.createDataFrame(
            [("C", t0 + timedelta(hours=12))], "conv_id string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(in_path)
        got2 = run_once()
        assert got2 == {
            ("A", t0, t0 + timedelta(minutes=10), 2),
            ("A", t0 + timedelta(minutes=50), t0 + timedelta(minutes=60), 2),
            ("B", t0 + timedelta(minutes=5), t0 + timedelta(minutes=5), 1),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_sessionize_late_arrivals(spark):
    """Cross-batch late events (above the watermark) must merge into the
    open session by extending its bounds — never shrinking session_end or
    mis-setting the event-time timeout; a late event more than a gap
    before the session start closes as its own singleton."""
    from datetime import datetime, timedelta

    from logparser_spark.streaming.stream import streaming_sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    m = lambda mins: t0 + timedelta(minutes=mins)  # noqa: E731
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))

        def run_once():
            stream = spark.readStream.schema("conv_id string, ts timestamp").parquet(in_path)
            q = (
                streaming_sessionize(stream, gap_minutes=30, watermark="2 hours")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                (r["conv_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in spark.read.parquet(out_path).collect()
            }

        # batch 1: open session A = [40m, 60m], n=2
        spark.createDataFrame(
            [("A", m(40)), ("A", m(60))], "conv_id string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(in_path)
        assert run_once() == set()

        # batch 2, all LATE (watermark after batch 1 is far in the past):
        #  t0      → 40m ahead of session start, beyond the 30m gap →
        #            closed singleton
        #  t0+35m  → within a gap before start → extends session backwards
        #  t0+50m  → inside the session span → merges, bounds unchanged
        spark.createDataFrame(
            [("A", m(0)), ("A", m(35)), ("A", m(50))],
            "conv_id string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(in_path)
        got2 = run_once()
        assert got2 == {("A", m(0), m(0), 1)}

        # batch 3: far-future event advances the watermark past A's
        # timeout (60m + 30m) → the merged open session flushes with the
        # extended bounds and all four merged events counted
        spark.createDataFrame(
            [("C", t0 + timedelta(hours=12))], "conv_id string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(in_path)
        got3 = run_once()
        assert got3 == {("A", m(0), m(0), 1), ("A", m(35), m(60), 4)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_sessionize_closed_match_batch(spark):
    """Closed streaming sessions equal the batch sessionize summary minus
    each key's final (still-open) session."""
    from datetime import datetime, timedelta

    from logparser_spark.operators.sessions import sessionize
    from logparser_spark.streaming.stream import streaming_sessionize

    t0 = datetime(2024, 1, 1)
    rows = []
    for k in range(6):
        t = t0 + timedelta(minutes=7 * k)
        for i in range(20):
            gap = 45 if (i * (k + 3)) % 5 == 0 and i else (i * (k + 1)) % 9
            t = t + timedelta(minutes=gap)
            rows.append((f"c{k}", t))
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")

    batch = (
        sessionize(df, "conv_id", "ts", 30)
        .groupBy("conv_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    bp = batch.toPandas()
    # expected emissions: every session except a conv's final one whose
    # event-time timeout (end + gap) is still beyond the final watermark
    # (availableNow ends with a timer batch at max_ts - watermark_delay)
    wm = bp["session_end"].max() - pd.Timedelta(minutes=1)
    last_idx = set(bp.groupby("conv_id")["session_id"].idxmax())
    closed_batch = {
        (r.conv_id, r.session_start, r.session_end, r.n_events)
        for r in bp.itertuples()
        if not (
            r.Index in last_idx
            and r.session_end + pd.Timedelta(minutes=30) > wm
        )
    }

    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        df.coalesce(1).write.parquet(in_path)
        stream = spark.readStream.schema("conv_id string, ts timestamp").parquet(in_path)
        q = (
            streaming_sessionize(stream, gap_minutes=30, watermark="1 minute")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["conv_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.read.parquet(out_path).collect()
        }
        assert got == closed_batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _stream_two_deliveries(spark, d: str, strategy: str) -> SimpleNamespace:
    """Two deliveries through the shipped streaming job
    (``run_streaming_pipeline``, as ``jobs/run_pipeline.py --stream``
    runs it): turns before ``turn_idx`` 250, then the rest, each ingested
    by its own availableNow run (epochs 0 and 1).  Records every
    ``DataFrameWriter.save`` with its analyzed plan, the run index of
    every started query, and ``_templates.json`` after each run."""
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming import DataStreamWriter

    # 5 conversations → ~8 h of event time: many 1 h windows, and the
    # last ones hold turns a 2 h watermark would never have closed
    tdf = transcripts_df(spark, 2000, 5, 0)
    s = SimpleNamespace(
        cfg=PipelineConfig(num_partitions=4), dir=d, strategy=strategy,
        deliveries=[tdf.filter("turn_idx < 250"), tdf.filter("turn_idx >= 250")],
        in_path=os.path.join(d, "in"), out=os.path.join(d, "out"),
        saves=[], starts=[], results=[], frozen=[],
    )
    save, start = DataFrameWriter.save, DataStreamWriter.start

    def spy_save(self, path=None, *args, **kwargs):
        s.saves.append((path, self._df._jdf.queryExecution().analyzed().toString()))
        return save(self, path, *args, **kwargs)

    def spy_start(self, *args, **kwargs):
        s.starts.append(len(s.results))
        return start(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "save", spy_save)
        mp.setattr(DataStreamWriter, "start", spy_start)
        for part in s.deliveries:
            part.write.mode("append").parquet(s.in_path)
            s.results.append(run_streaming_pipeline(
                spark, s.in_path, s.out, s.cfg, strategy=strategy))
            with open(os.path.join(s.out, "_templates.json"), "rb") as f:
                s.frozen.append(f.read())
    return s


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    return _stream_two_deliveries(spark, str(tmp_path_factory.mktemp("stream")), "drain")


def _rows(df) -> Counter:  # repr: the rows hold array columns, unhashable as tuples
    return Counter(map(repr, df.select(*sorted(df.columns)).collect()))


def _assert_stream_equals_batch(spark, s) -> None:
    """The streamed ``routed`` minus ``batch_id`` == the batch job's
    ``routed`` minus ``ckpt_bucket`` row for row (parameters and enrich
    columns included), and the stream's ``agg_sink_window`` == the batch
    job's, with the batch run reusing the stream's frozen templates."""
    b_out = os.path.join(s.dir, "bout")
    os.makedirs(b_out)
    shutil.copy(os.path.join(s.out, "_templates.json"), b_out)
    static = spark.read.parquet(s.in_path)
    result = run_pipeline(spark, static, b_out, s.cfg, strategy=s.strategy)
    got = spark.read.parquet(f"{s.out}/routed").drop("batch_id")
    assert {"parameters", "role_group", "tool_family"} <= set(got.columns)
    assert _rows(got) == _rows(spark.read.parquet(f"{b_out}/routed").drop("ckpt_bucket"))
    assert got.filter(F.size("parameters") > 0).count() > 0
    assert s.results[-1].routed_rows == got.count() == 2000

    swc, _twc = aggregates_from_routed(spark, result, s.cfg)
    agg = spark.read.parquet(f"{s.out}/agg_sink_window")
    assert _rows(agg) == _rows(swc)
    # late data is counted: the window holding the last turn is there,
    # though no watermark ever passed its end
    last = static.agg(F.max("ts").alias("ts")).select(F.window("ts", "1 hour")["start"])
    assert agg.agg(F.max("win_start")).first()[0] == last.first()[0]


def test_streaming_pipeline_matches_batch(spark, streamed):
    _assert_stream_equals_batch(spark, streamed)


def test_streaming_pipeline_matches_batch_kernel_strategy(spark, tmp_path):
    """The same for a batch-kernel strategy (fit once at the driver)."""
    _assert_stream_equals_batch(spark, _stream_two_deliveries(spark, str(tmp_path), "iplom"))


def test_streaming_templates_freeze_on_the_first_run(spark, streamed):
    """The second delivery reuses the first run's template set byte for
    byte; another strategy is refused before any query starts."""
    s = streamed
    assert s.frozen[0] == s.frozen[1]
    with pytest.raises(ValueError, match="strategy 'drain'"):
        run_streaming_pipeline(spark, s.in_path, s.out, s.cfg, strategy="spell")
    assert not spark.streams.active


def test_streaming_route_write_matches_batch_and_resumes(spark, streamed):
    """Each epoch lands in its own ``batch_id=N/sink_id=S`` dirs with one
    ledger row and holds exactly its delivery's turns (the second run
    re-ingested nothing).  A replayed last epoch is skipped when its
    ledger row exists, and rewritten with the same rows when not."""
    import glob

    s = streamed
    routed = f"{s.out}/routed"

    def layout():
        return {
            f"{e}/{n}": set(os.listdir(f"{routed}/{e}/{n}"))
            for e in os.listdir(routed) if e.startswith("batch_id=")
            for n in os.listdir(f"{routed}/{e}") if n.startswith("sink_id=")
        }

    def ledger():
        m = read_manifest(spark, s.out, unit="batch_id")
        return sorted(map(tuple, m.select("batch_id", "routed_rows").collect()))

    def replay_last_epoch():
        os.remove(f"{s.out}/_ckpt/commits/1")
        # the local checksum FS keeps a .crc sidecar; a stale one makes
        # the replayed commit's rename fail
        os.remove(f"{s.out}/_ckpt/commits/.1.crc")
        return run_streaming_pipeline(spark, s.in_path, s.out, s.cfg)

    keys = ["batch_id", "conv_id", "turn_idx"]
    want = [(e, *r) for e, p in enumerate(s.deliveries) for r in p.select(*keys[1:]).collect()]
    assert sorted(map(tuple, spark.read.parquet(routed).select(*keys).collect())) == sorted(want)
    assert ledger() == [(0, s.deliveries[0].count()), (1, s.deliveries[1].count())]
    assert [r.buckets_done for r in s.results] == [[0], [1]]

    before, rows, ledger_before = layout(), _rows(spark.read.parquet(routed)), ledger()
    r = replay_last_epoch()
    assert (r.buckets_done, r.buckets_skipped) == ([], [0, 1])
    assert (layout(), _rows(spark.read.parquet(routed)), ledger()) == (before, rows, ledger_before)

    [f] = [f for f in glob.glob(f"{s.out}/_manifest/*.parquet")
           if pd.read_parquet(f)["batch_id"].tolist() == [1]]
    os.remove(f)
    os.remove(os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc"))
    assert replay_last_epoch().buckets_done == [1]
    after = layout()
    assert after.keys() == before.keys()
    for d, files in after.items():
        # the replayed epoch really ran: its files were replaced, not added to
        assert files == before[d] if d.startswith("batch_id=0") else files.isdisjoint(before[d])
    assert (_rows(spark.read.parquet(routed)), ledger()) == (rows, ledger_before)


def test_streaming_route_write_plans_rebalance(streamed):
    """Each run starts one streaming query, and every micro-batch writes
    through route_write: one save per epoch into ``<out>/routed``,
    planned as an AQE REBALANCE on (batch_id, sink_id), not a fixed hash
    repartition."""
    assert streamed.starts == [0, 1]
    assert [p for p, _ in streamed.saves] == [f"{streamed.out}/routed"] * 2
    for _, plan in streamed.saves:
        assert re.search(r"RebalancePartitions \[batch_id#\d+, sink_id#\d+\]", plan), plan
        assert "RepartitionByExpression" not in plan, plan


def test_streaming_cms_cells_equal_batch_sketch(spark):
    """A finalized window's streaming CMS cells == the batch sketch over
    that window's rows (cell-wise mergeability across micro-batches)."""
    from logparser_spark.operators.sketches import cms_sketch
    from logparser_spark.sources.transcripts import transcripts_df
    from logparser_spark.streaming.stream import streaming_cms_cells

    tdf = transcripts_df(spark, 3000, 30, 0)
    d = tempfile.mkdtemp()
    in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
    tdf.coalesce(2).write.parquet(in_path)
    stream = spark.readStream.schema(tdf.schema).parquet(in_path)
    q = (
        streaming_cms_cells(stream, "role", "1 hour", "0 seconds", 4, 64)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out_path)
    static = spark.read.parquet(in_path)
    # batch twin: the same grid per window, built by the batch operator
    from pyspark.sql import functions as FF

    from datetime import timedelta

    all_wins = sorted(r["w"] for r in static.select(
        FF.window("ts", "1 hour")["start"].alias("w")).distinct().collect())
    max_ts = static.agg(FF.max("ts")).first()[0]
    # append mode emits a window only once the watermark passes its END;
    # the tail window holding max_ts never finalizes in availableNow
    finalized = [w for w in all_wins if w + timedelta(hours=1) <= max_ts]
    emitted = sorted(r["w"] for r in got.select(
        FF.col("win_start").alias("w")).distinct().collect())
    assert emitted == finalized and finalized
    for w in finalized:
        rows = static.filter(FF.window("ts", "1 hour")["start"] == w)
        want = {
            (r["row"], r["col"], r["cnt"])
            for r in cms_sketch(rows, "role", 4, 64).collect()
        }
        have = {
            (r["row"], r["col"], r["cnt"])
            for r in got.filter(FF.col("win_start") == w).collect()
        }
        assert have == want, w
    # grid bound: per window at most depth*width cells
    per_win = got.groupBy("win_start").count().collect()
    assert all(r["count"] <= 4 * 64 for r in per_win)


def test_streaming_hll_cells_equal_batch_registers(spark):
    """A finalized window's streaming HLL registers == the batch
    register table over that window's rows (cell-wise MAX mergeability
    across micro-batches), and state is register-bounded per window."""
    from datetime import timedelta

    from logparser_spark.operators.sketches import hll_registers
    from logparser_spark.sources.transcripts import transcripts_df
    from logparser_spark.streaming.stream import streaming_hll_cells

    tdf = transcripts_df(spark, 3000, 30, 0)
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        tdf.coalesce(2).write.parquet(in_path)
        stream = spark.readStream.schema(tdf.schema).parquet(in_path)
        q = (
            streaming_hll_cells(stream, "conv_id", "1 hour", "0 seconds", log2m=8)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.read.parquet(out_path)
        static = spark.read.parquet(in_path)
        max_ts = static.agg(F.max("ts")).first()[0]
        all_wins = sorted(
            r["w"]
            for r in static.select(
                F.window("ts", "1 hour")["start"].alias("w")
            ).distinct().collect()
        )
        finalized = [w for w in all_wins if w + timedelta(hours=1) <= max_ts]
        emitted = sorted(
            r["w"] for r in got.select(F.col("win_start").alias("w"))
            .distinct().collect()
        )
        assert emitted == finalized and finalized
        for w in finalized:
            rows = static.filter(F.window("ts", "1 hour")["start"] == w)
            want = {
                (r["bucket"], r["r"])
                for r in hll_registers(rows, [], "conv_id", 8).collect()
            }
            have = {
                (r["bucket"], r["r"])
                for r in got.filter(F.col("win_start") == w).collect()
            }
            assert have == want, w
        per_win = got.groupBy("win_start").count().collect()
        assert all(r["count"] <= 256 for r in per_win)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_curation_matches_batch(spark):
    """Curation operators (repetition_filter + decontaminate) compose in
    micro-batch mode: the streamed per-doc stats equal the batch result
    row-for-row, and a checkpoint-restart over the unchanged source adds
    nothing (idempotent per-epoch sink)."""
    from logparser_spark.operators.curation import decontaminate
    from logparser_spark.operators.textstats import ngram_repetition
    from logparser_spark.streaming.stream import streaming_curation_write

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 41 == 0).select("text")
    d = tempfile.mkdtemp()
    try:
        in_path, out_path = os.path.join(d, "in"), os.path.join(d, "out")
        # several input files => several micro-batch-visible splits
        docs.repartition(4).write.parquet(in_path)

        stream = spark.readStream.schema("doc_id long, text string").parquet(in_path)
        q = streaming_curation_write(stream, bench, out_path)
        q.awaitTermination(120)

        got = spark.read.parquet(out_path).drop("batch_id")
        want = ngram_repetition(docs).join(
            decontaminate(docs, bench, "doc_id", "text"), "doc_id"
        )
        assert sorted(got.columns) == sorted(want.columns)
        cols = sorted(got.columns)
        assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
        assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0

        # restart over unchanged source: no duplicate rows
        n = got.count()
        q2 = streaming_curation_write(
            spark.readStream.schema("doc_id long, text string").parquet(in_path),
            bench,
            out_path,
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(out_path).count() == n
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_quantile_cells_equal_batch_sample(spark):
    """A finalized window's streaming bottom-k cells == the batch
    quantile_sample over that window's rows (bottom-k-of-union
    mergeability via applyInPandasWithState), state bounded at k rows
    per (window, key), and a checkpoint restart emits nothing new."""
    from datetime import timedelta

    from logparser_spark.operators.sketches import quantile_sample
    from logparser_spark.sources.transcripts import transcripts_df
    from logparser_spark.streaming.stream import streaming_quantile_cells

    K = 16
    tdf = transcripts_df(spark, 3000, 30, 0).withColumn(
        "turn_uid", F.concat_ws(":", "conv_id", "turn_idx")
    ).withColumn("text_len", F.length("text"))
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        tdf.coalesce(2).write.parquet(in_path)
        stream = spark.readStream.schema(tdf.schema).parquet(in_path)

        def run():
            q = (
                streaming_quantile_cells(
                    spark.readStream.schema(tdf.schema).parquet(in_path),
                    ["role"], "text_len", "turn_uid",
                    window_minutes=60, watermark="0 seconds", k=K,
                )
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run()
        got = spark.read.parquet(out_path)
        static = spark.read.parquet(in_path)
        max_ts = static.agg(F.max("ts")).first()[0]
        all_wins = sorted(
            r["w"]
            for r in static.select(
                F.window("ts", "1 hour")["start"].alias("w")
            ).distinct().collect()
        )
        finalized = [w for w in all_wins if w + timedelta(hours=1) <= max_ts]
        emitted = sorted(
            r["win_start"]
            for r in got.select("win_start").distinct().collect()
        )
        assert emitted == finalized and finalized
        for w in finalized:
            rows = static.filter(F.window("ts", "1 hour")["start"] == w)
            want = {
                (r["role"], r["_rk"], float(r["value"]))
                for r in quantile_sample(
                    rows, ["role"], "text_len", "turn_uid", K
                ).collect()
            }
            have = {
                (r["role"], r["rk"], float(r["value"]))
                for r in got.filter(F.col("win_start") == w).collect()
            }
            assert have == want, w
        # state/output bound: at most k cells per (window, key)
        per = got.groupBy("win_start", "role").count().collect()
        assert all(r["count"] <= K for r in per)
        # restart over the unchanged source: append-mode emits nothing new
        n = got.count()
        run()
        assert spark.read.parquet(out_path).count() == n
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_bm25_cells_equal_batch_topk(spark):
    """A finalized window's streaming BM25 cells, finalized through
    bm25_topk_from_cells, equal batch bm25_topk over that window's
    documents EXACTLY (integer micro-scores, identical JVM float
    exprs), shard partials merge transparently, and a checkpoint
    restart emits nothing new."""
    from datetime import timedelta

    from logparser_spark.operators.ranking import bm25_topk, bm25_topk_from_cells
    from logparser_spark.sources.transcripts import transcripts_df
    from logparser_spark.streaming.stream import streaming_bm25_cells

    K = 7
    queries = spark.createDataFrame(
        [("q_cache", "cache miss shard"), ("q_err", "error block terminating")],
        "query_id string, query string",
    )
    tdf = transcripts_df(spark, 3000, 30, 0).withColumn(
        "turn_uid", F.concat_ws(":", "conv_id", "turn_idx")
    )
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        tdf.coalesce(2).write.parquet(in_path)

        def run():
            q = (
                streaming_bm25_cells(
                    spark.readStream.schema(tdf.schema).parquet(in_path),
                    queries,
                    id_col="turn_uid",
                    text_col="text",
                    window_minutes=60,
                    watermark="0 seconds",
                    n_shards=3,
                )
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run()
        cells = spark.read.parquet(out_path)
        static = spark.read.parquet(in_path)
        max_ts = static.agg(F.max("ts")).first()[0]
        all_wins = sorted(
            r["w"]
            for r in static.select(
                F.window("ts", "1 hour")["start"].alias("w")
            ).distinct().collect()
        )
        finalized = [w for w in all_wins if w + timedelta(hours=1) <= max_ts]
        emitted = sorted(
            r["win_start"] for r in cells.select("win_start").distinct().collect()
        )
        assert emitted == finalized and finalized

        got = bm25_topk_from_cells(cells, queries, k=K, id_col="doc_id")
        for w in finalized:
            rows = static.filter(F.window("ts", "1 hour")["start"] == w)
            want = {
                (r["query_id"], r["turn_uid"], r["score_micro"], r["rank"])
                for r in bm25_topk(
                    rows, queries, k=K, id_col="turn_uid"
                ).collect()
            }
            have = {
                (r["query_id"], r["doc_id"], r["score_micro"], r["rank"])
                for r in got.filter(F.col("win_start") == w).collect()
            }
            assert have == want and want, w
        # sentinel accounting: per-window n_docs sums to the window's size
        for w in finalized:
            n = static.filter(F.window("ts", "1 hour")["start"] == w).count()
            s = cells.filter(F.col("win_start") == w).agg(
                F.sum("n_docs")
            ).first()[0]
            assert s == n, (w, s, n)
        # restart over the unchanged source: append-mode emits nothing new
        n = cells.count()
        run()
        assert spark.read.parquet(out_path).count() == n
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_incremental_dedup_grows_canonical_corpus(spark):
    """Per-delivery ingest dedup: each epoch's admitted set equals batch
    incremental_dedup against the corpus accumulated from the prior
    epochs (exact sequential-oracle equality), cross-epoch and in-epoch
    duplicates are rejected, and a checkpoint restart over the unchanged
    source leaves the corpus byte-identical."""
    from logparser_spark.operators.dedup import incremental_dedup
    from logparser_spark.streaming.stream import streaming_incremental_dedup_write

    schema = "doc_id bigint, text string"
    novel = [
        "the quick brown fox jumps over the lazy dog tonight",
        "pack my box with five dozen liquor jugs right now",
        "sphinx of black quartz judge my vow said the king",
        "completely novel payload about spark adaptive shuffles",
        "yet more fresh text never seen before anywhere at all",
    ]
    deliveries = [
        # epoch 0: in-batch twins (1, 2) resolve to keeper 1
        [(1, novel[0]), (2, novel[0]), (3, novel[1])],
        # epoch 1: 10 duplicates the admitted 1; 11 is new
        [(10, novel[0]), (11, novel[2])],
        # epoch 2: 20 duplicates epoch-1's 11; 21/22 in-batch twins; 23 new
        [(20, novel[2]), (21, novel[3]), (22, novel[3]), (23, novel[4])],
    ]
    d = tempfile.mkdtemp()
    try:
        in_path, out_path = os.path.join(d, "in"), os.path.join(d, "out")

        def run():
            q = streaming_incremental_dedup_write(
                spark.readStream.schema(schema).parquet(in_path),
                out_path,
                threshold=0.9,
            )
            q.awaitTermination(180)

        corpus_rows: list[tuple] = []
        for epoch, rows in enumerate(deliveries):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(in_path)
            run()
            # sequential batch oracle over the corpus-so-far
            oracle_corpus = (
                spark.createDataFrame(corpus_rows, schema)
                if corpus_rows
                else spark.createDataFrame([], schema)
            )
            want = sorted(
                (r["doc_id"], r["text"])
                for r in incremental_dedup(
                    spark.createDataFrame(rows, schema),
                    oracle_corpus,
                    threshold=0.9,
                ).collect()
            )
            got = sorted(
                (r["doc_id"], r["text"])
                for r in spark.read.parquet(out_path)
                .filter(F.col("batch_id") == epoch)
                .select("doc_id", "text")
                .collect()
            )
            assert got == want, (epoch, got, want)
            corpus_rows.extend(want)

        final = sorted(
            r["doc_id"] for r in spark.read.parquet(out_path).collect()
        )
        assert final == [1, 3, 11, 21, 23]

        # restart over the unchanged source: corpus unchanged
        run()
        again = sorted(
            r["doc_id"] for r in spark.read.parquet(out_path).collect()
        )
        assert again == final

        # true at-least-once REPLAY (crash between write and commit):
        # drop the last epoch's commit marker so Spark reprocesses it —
        # the replayed epoch's output already sits in the corpus, and
        # the batch_id < epoch bound must keep it from rejecting its own
        # survivors as duplicates of themselves
        os.remove(os.path.join(out_path + "_ckpt", "commits", "2"))
        # the local checksum FS keeps a .crc sidecar; a stale one makes
        # the replayed commit's rename fail, which a real crash between
        # write and commit would never leave behind
        os.remove(os.path.join(out_path + "_ckpt", "commits", ".2.crc"))
        run()
        replayed = sorted(
            r["doc_id"] for r in spark.read.parquet(out_path).collect()
        )
        assert replayed == final
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_dedup_fails_on_a_foreign_corpus(spark):
    """Only a missing corpus dir means "first epoch, empty corpus": a
    parquet file at the corpus path without the text column fails the
    query instead of admitting every doc against an empty corpus."""
    from pyspark.errors import StreamingQueryException

    from logparser_spark.streaming.stream import streaming_incremental_dedup_write

    schema = "doc_id bigint, text string"
    d = tempfile.mkdtemp()
    try:
        in_path, out_path = os.path.join(d, "in"), os.path.join(d, "out")
        spark.createDataFrame([(1, "some text here")], schema).write.parquet(in_path)
        spark.createDataFrame([(99,)], "doc_id bigint").write.parquet(out_path)
        q = streaming_incremental_dedup_write(
            spark.readStream.schema(schema).parquet(in_path), out_path
        )
        with pytest.raises(StreamingQueryException, match="UNRESOLVED_COLUMN"):
            q.awaitTermination(180)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stateful_twins_refuse_a_non_utc_session(spark, tmp_path):
    """The pandas state functions compute epoch ms from naive
    session-local timestamps: outside a UTC session they raise before
    any query starts."""
    from logparser_spark.streaming.stream import (
        streaming_bm25_cells,
        streaming_quantile_cells,
        streaming_sessionize,
    )

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(str(tmp_path))
    queries = spark.createDataFrame([("q", "cache")], "query_id string, query string")
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="timeZone=UTC"):
            streaming_sessionize(stream)
        with pytest.raises(ValueError, match="timeZone=UTC"):
            streaming_quantile_cells(stream, ["role"], "turn_idx", "conv_id")
        with pytest.raises(ValueError, match="timeZone=UTC"):
            streaming_bm25_cells(stream, queries, id_col="conv_id")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert not spark.streams.active
