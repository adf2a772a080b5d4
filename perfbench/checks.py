"""Output checks of one job run, computed with DuckDB outside Spark.

Every check reads what the job left on disk.  A run passes only if all
of them hold; the caller counts a failing run into ``failed_pct``.
"""

from __future__ import annotations

import os

import duckdb

from logparser_spark.drain import event_id_of
from logparser_spark.functions.hashing import py_bucket
from logparser_spark.oracle_twin import EXPECTED_TEMPLATES


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Checker:
    """Checks for the job outputs of one benchmark run.

    The first checked output is the reference: the routed rows and the
    per-sink window counts of every later output must equal it.  On
    ``resume`` the first output is the uninterrupted run."""

    def __init__(self, input_dir: str, truth_path: str, corpus: str, cfg):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(
            f"CREATE VIEW input AS SELECT * FROM read_parquet('{input_dir}/*.parquet')"
        )
        self.con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{truth_path}')")
        self.n = self.con.execute("SELECT count(*) FROM input").fetchone()[0]
        self.buckets = cfg.checkpoint_buckets
        self.oracle = corpus == "lowcard"
        if self.oracle:
            self.con.execute("CREATE TABLE tpl (tpl INTEGER, event_id VARCHAR, bucket INTEGER)")
            self.con.executemany(
                "INSERT INTO tpl VALUES (?, ?, ?)",
                [
                    (i, event_id_of(t), py_bucket(event_id_of(t), cfg.template_sink_buckets))
                    for i, t in enumerate(EXPECTED_TEMPLATES)
                ],
            )
            # the generator's ground truth pushed through the sink and
            # window rules: what every turn's routed row must say
            self.con.execute(
                """
                CREATE TABLE expected AS
                SELECT conv_id, turn_idx, event_id,
                       role || '-t' || lpad(CAST(bucket AS VARCHAR), 2, '0') AS sink_id,
                       (epoch(ts)::BIGINT // 3600) * 3600 AS win_s
                FROM input JOIN truth USING (conv_id, turn_idx) JOIN tpl USING (tpl)
                """
            )
        self.ref_routed: str | None = None
        self.ref_windows: str | None = None

    def _views(self, out: str) -> None:
        self.con.execute(
            "CREATE OR REPLACE VIEW routed AS SELECT conv_id, turn_idx, event_id, sink_id "
            f"FROM read_parquet('{out}/routed/*/*/*.parquet', hive_partitioning = true)"
        )
        self.con.execute(
            "CREATE OR REPLACE VIEW manifest AS SELECT * FROM "
            f"read_parquet('{out}/_manifest/*.parquet')"
        )
        self.con.execute(
            "CREATE OR REPLACE VIEW windows AS SELECT sink_id, "
            "epoch(win_start)::BIGINT AS win_s, event_id, n_turns FROM "
            f"read_parquet('{out}/agg_sink_window/*.parquet')"
        )

    def _one(self, sql: str):
        return self.con.execute(sql).fetchone()

    def digests(self, out: str) -> tuple[str, str]:
        """(routed rows, per-sink window counts) digests of an output."""
        self._views(out)
        routed = self._one(
            "SELECT md5(string_agg(concat_ws('|', conv_id, turn_idx, event_id, sink_id), ',' "
            "ORDER BY conv_id, turn_idx)) FROM routed"
        )[0]
        windows = self._one(
            "SELECT md5(string_agg(concat_ws('|', sink_id, win_s, event_id, n_turns), ',' "
            "ORDER BY sink_id, win_s, event_id)) FROM windows"
        )[0]
        return routed, windows

    def check(self, out: str) -> tuple[list[str], dict]:
        """(failed check messages, output stats) for one job output."""
        fails: list[str] = []
        try:
            routed_d, windows_d = self.digests(out)
        except duckdb.Error as e:
            return [f"output unreadable: {e}"], {}
        n = self.n
        rows, keys, missing = self._one(
            "SELECT (SELECT count(*) FROM routed), "
            "(SELECT count(DISTINCT (conv_id, turn_idx)) FROM routed), "
            "(SELECT count(*) FROM input ANTI JOIN routed USING (conv_id, turn_idx))"
        )
        if not rows == keys == n or missing:
            fails.append(
                f"routed exactly once: {rows} rows, {keys} distinct turns, "
                f"{missing} input turns missing, {n} input turns"
            )
        m_rows, m_buckets, m_lo, m_hi, m_sum = self._one(
            "SELECT count(*), count(DISTINCT ckpt_bucket), min(ckpt_bucket), "
            "max(ckpt_bucket), sum(routed_rows) FROM manifest"
        )
        if not (m_rows == m_buckets == self.buckets and m_lo == 0
                and m_hi == self.buckets - 1 and m_sum == n):
            fails.append(
                f"manifest: {m_rows} rows over {m_buckets} buckets summing to "
                f"{m_sum} routed rows; want {self.buckets} buckets summing to {n}"
            )
        agg = self._one("SELECT sum(n_turns) FROM windows")[0]
        if agg != n:
            fails.append(f"aggregate n_turns sum {agg} != {n} input turns")
        if self.ref_routed is None:
            self.ref_routed, self.ref_windows = routed_d, windows_d
        if routed_d != self.ref_routed:
            fails.append("routed (conv_id, turn_idx, event_id, sink_id) rows differ from the reference run")
        if windows_d != self.ref_windows:
            fails.append("per-sink window counts differ from the reference run")
        if self.oracle:
            bad_rows = self._one(
                "SELECT count(*) FROM (SELECT conv_id, turn_idx, event_id, sink_id FROM expected "
                "EXCEPT ALL SELECT * FROM routed)"
            )[0]
            if bad_rows:
                fails.append(f"{bad_rows} routed rows differ from the ground-truth oracle")
            bad_windows = self._one(
                "SELECT count(*) FROM ((SELECT sink_id, win_s, event_id, count(*) AS n_turns "
                "FROM expected GROUP BY ALL EXCEPT ALL SELECT * FROM windows) UNION ALL "
                "(SELECT * FROM windows EXCEPT ALL SELECT sink_id, win_s, event_id, count(*) "
                "FROM expected GROUP BY ALL))"
            )[0]
            if bad_windows:
                fails.append(f"{bad_windows} per-sink window counts differ from the DuckDB oracle")
        stats = self.stats(out, rows)
        return fails, stats

    def stats(self, out: str, rows: int) -> dict:
        dead, sinks = self._one(
            "SELECT count(*) FILTER (WHERE sink_id = 'dead'), count(DISTINCT sink_id) FROM routed"
        )
        acc = self._one(
            """
            WITH j AS (SELECT t.tpl AS g, r.event_id AS p
                       FROM routed r JOIN truth t USING (conv_id, turn_idx)),
                 joint AS (SELECT g, p, count(*) AS n FROM j GROUP BY g, p),
                 gs AS (SELECT g, sum(n) AS gn FROM joint GROUP BY g),
                 ps AS (SELECT p, sum(n) AS pn FROM joint GROUP BY p)
            SELECT sum(n) FILTER (WHERE n = gn AND n = pn) / (SELECT count(*) FROM j)
            FROM joint JOIN gs USING (g) JOIN ps USING (p)
            """
        )[0]
        routed_dir = os.path.join(out, "routed")
        files = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(routed_dir) for f in fs
        )
        return {
            "routed_bytes_per_turn": dir_bytes(routed_dir) / self.n,
            "group_acc": float(acc or 0.0),
            "dead_share": dead / max(rows, 1),
            "sinks": sinks,
            "files": files,
        }
