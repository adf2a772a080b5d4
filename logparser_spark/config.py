"""Configuration dataclasses for the pipeline.

Default Drain parameters follow the published defaults of the reference
toolkit (``Drain/Drain.py`` LogParser.__init__: depth=4, st=0.4,
maxChild=100) and the benchmark-style masking regex lists
(``benchmark/Drain_benchmark.py`` benchmark_settings).
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: Masking regexes applied before mining (P1 "preprocess"): substrings
#: matching any of these are replaced by the wildcard token ``<*>``.
#: Order matters — IPs before bare numbers so ``10.0.0.1`` masks as one
#: token, not four.  These are the classic loghub-style patterns.
#: Patterns are kept portable across Python ``re``, Java regex (Spark)
#: and RE2 (DuckDB oracle): no lookbehind/lookahead.
DEFAULT_REX: tuple[str, ...] = (
    r"blk_-?\d+",                       # HDFS block ids
    r"\d+\.\d+\.\d+\.\d+(:\d+)?",       # IPv4 (+optional port)
    r"0x[0-9a-fA-F]+",                  # hex literals
    r"\b\d+\b",                         # standalone integers
)

WILDCARD = "<*>"


@dataclass(frozen=True)
class DrainParams:
    """Parameters of the fixed-depth prefix-tree template miner."""

    depth: int = 4          # total tree depth (incl. root + length layers)
    st: float = 0.4         # similarity threshold for cluster match
    max_children: int = 100  # max children per internal node
    rex: tuple[str, ...] = DEFAULT_REX
    param_str: str = WILDCARD


@dataclass(frozen=True)
class PipelineConfig:
    """End-to-end pipeline configuration."""

    drain: DrainParams = field(default_factory=DrainParams)
    #: number of hash partitions on conv_id before mining / aggregation
    num_partitions: int = 32
    #: salt buckets for the two-stage skew-proof aggregate
    salt_buckets: int = 16
    #: number of sink buckets derived from template id (route fan-out is
    #: sink_id = role × template-bucket)
    template_sink_buckets: int = 8
    #: event-time tumbling window size for aggregates
    window_duration: str = "1 hour"
    #: turn-index tumbling bucket width for (conv_id, turn_idx) windows
    turn_bucket: int = 10
    #: resume-checkpoint buckets (per-partition manifest granularity)
    checkpoint_buckets: int = 16
    #: output format for sinks — a real seam: write AND read-back both go
    #: through it ("orc" round-trip is pinned by test; "iceberg" on a
    #: real cluster with the runtime jar on the classpath)
    sink_format: str = "parquet"
