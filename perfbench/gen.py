"""Seeded input generators for the benchmark workloads.

Both generators emit the transcripts shape the shipped job reads
(``conv_id, turn_idx, role, text, tool, ts``) plus a ground-truth table
``(conv_id, turn_idx, tpl)`` that never reaches the job.  The same seed
gives the same rows, byte for byte.

* ``lowcard`` is the repo's transcript shape: the 20-line message bank of
  ``logparser_spark.sources.transcripts`` with seeded parameters the
  default masking rules mostly catch, so only ~5 % of masked texts are
  distinct.  Its true templates are ``oracle_twin.EXPECTED_TEMPLATES``.
* ``hicard`` draws several hundred message shapes whose parameters are
  mostly alphanumeric ids and paths the masking rules miss, so most
  masked texts are distinct and the Python kernels see nearly every row.

Conversation layout follows ``jobs/run_pipeline.py --synthetic-turns``:
``max(n // 500, 8)`` conversations, and 20 % of all turns sit in
``conv000000`` (key skew).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from logparser_spark.sources.transcripts import (
    EPOCH_2024,
    ROLES,
    TEMPLATE_BANK,
    TOOLS,
    _format_args,
)

SKEW_SHARE_PCT = 20
INPUT_FILES = 8

HICARD_SHAPES = 400
# slot kinds: the first two survive masking (letters glued to digits),
# the last three are masked to <*>
_UNMASKED = ("aid", "path")
_MASKED = ("int", "hex", "ip")


def _layout(n: int, rng: np.random.Generator):
    """Conversation keys, timestamps, roles and tools for ``n`` turns."""
    n_convs = max(n // 500, 8)
    t = np.arange(n, dtype=np.int64)
    skew_cut = n * SKEW_SHARE_PCT // 100
    rest = t - skew_cut
    conv = np.where(t < skew_cut, 0, 1 + rest % (n_convs - 1))
    turn_idx = np.where(t < skew_cut, t, rest // (n_convs - 1))
    role_i = rng.integers(0, len(ROLES), n)
    tool_i = rng.integers(0, len(TOOLS), n)
    roles = np.array(ROLES, dtype=object)[role_i]
    tools = np.where(role_i == 3, np.array(TOOLS, dtype=object)[tool_i], "")
    ts = (EPOCH_2024 + turn_idx * 60 + conv % 37).astype("datetime64[s]")
    conv_id = np.array([f"conv{c:06d}" for c in conv], dtype=object)
    return conv_id, turn_idx.astype(np.int32), roles, tools, ts


def _lowcard_texts(n: int, rng: np.random.Generator, tools: np.ndarray):
    """Texts from the repo's message bank with seeded parameters; the
    bank's own argument mapping places them."""
    tpl = rng.integers(0, len(TEMPLATE_BANK), n)
    p = np.stack([
        rng.integers(0, 10_000_000, n),
        rng.integers(0, 100_000, n),
        rng.integers(0, 200, n),
        rng.integers(0, 250, n),
        rng.integers(0, 1000, n),
    ], axis=1).tolist()
    texts = np.array(
        [TEMPLATE_BANK[k] % _format_args(k, tool, tuple(ps))
         for k, tool, ps in zip(tpl.tolist(), tools.tolist(), p)],
        dtype=object,
    )
    return texts, tpl


def _word(rng: np.random.Generator) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return "".join(letters[i] for i in rng.integers(0, 26, int(rng.integers(3, 10))))


def hicard_shapes(seed: int) -> list[list[tuple[str, str]]]:
    """``HICARD_SHAPES`` message shapes: lists of (kind, word) slots.

    Every shape opens with its own constant word.  Four in five shapes
    carry at least one unmasked slot, so their masked texts stay
    distinct per row."""
    rng = np.random.default_rng([seed, 1])
    vocab = list(dict.fromkeys(_word(rng) for _ in range(4 * HICARD_SHAPES)))
    shapes = []
    for s in range(HICARD_SHAPES):
        slots = [("const", f"{vocab[s]}{_word(rng)}")]
        for _ in range(int(rng.integers(7, 15))):
            if rng.random() < 0.35:
                slots.append((_MASKED[int(rng.integers(0, 3))], ""))
            else:
                slots.append(("const", vocab[int(rng.integers(HICARD_SHAPES, len(vocab)))]))
        if s % 5:
            pos = int(rng.integers(1, len(slots)))
            slots[pos] = (_UNMASKED[s % 2], _word(rng))
        shapes.append(slots)
    return shapes


def _slot_values(kind: str, word: str, m: int, rng: np.random.Generator) -> list[str]:
    if kind == "const":
        return [word] * m
    v = rng.integers(0, 1_000_000, m)
    if kind == "aid":
        return [f"{word}{x}x" for x in v.tolist()]
    if kind == "path":
        w = rng.integers(0, 1000, m)
        return [f"/srv/{word}{a}/part{b}.log" for a, b in zip(v.tolist(), w.tolist())]
    if kind == "int":
        return [str(x) for x in v.tolist()]
    if kind == "hex":
        return [f"0x{x:x}" for x in v.tolist()]
    a, b = rng.integers(0, 256, m), rng.integers(0, 256, m)
    return [f"10.{x}.{y}.{z % 256}" for x, y, z in zip(a.tolist(), b.tolist(), v.tolist())]


def _hicard_texts(n: int, rng: np.random.Generator, seed: int):
    shapes = hicard_shapes(seed)
    tpl = rng.integers(0, len(shapes), n)
    texts = np.empty(n, dtype=object)
    for k, slots in enumerate(shapes):
        rows = np.flatnonzero(tpl == k)
        cols = [_slot_values(kind, word, len(rows), rng) for kind, word in slots]
        texts[rows] = [" ".join(parts) for parts in zip(*cols)]
    return texts, tpl


def generate(kind: str, n: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """(input table, ground-truth table) for ``n`` turns of ``kind``."""
    rng = np.random.default_rng([seed, 0])
    conv_id, turn_idx, roles, tools, ts = _layout(n, rng)
    if kind == "lowcard":
        texts, tpl = _lowcard_texts(n, rng, tools)
    elif kind == "hicard":
        texts, tpl = _hicard_texts(n, rng, seed)
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    data = pa.table(
        {
            "conv_id": pa.array(conv_id, pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array(ts, pa.timestamp("s")).cast(pa.timestamp("us", tz="UTC")),
        }
    )
    truth = pa.table(
        {
            "conv_id": data["conv_id"],
            "turn_idx": data["turn_idx"],
            "tpl": pa.array(tpl.astype(np.int32), pa.int32()),
        }
    )
    return data, truth


def write_input(kind: str, n: int, seed: int, input_dir: str, truth_path: str) -> None:
    """Write the input as ``INPUT_FILES`` parquet files plus the truth file."""
    data, truth = generate(kind, n, seed)
    os.makedirs(input_dir, exist_ok=True)
    step = -(-n // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(data.slice(i * step, step), os.path.join(input_dir, f"part-{i:02d}.parquet"))
    pq.write_table(truth, truth_path)
