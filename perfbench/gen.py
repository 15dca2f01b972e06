"""Seeded benchmark inputs, written as parquet files.

The generator is deliberately independent of the package's own synthetic
data module: a later change there must not change what the benchmark
measures. Every function is a pure function of its arguments (the seed
included), so the same seed always yields byte-identical tables.

Input properties the engine's cost depends on, and how they are set here:

* conversation sizes are Zipf-distributed (a=1.6, 3..400 turns), plus one
  mega-conversation (conversation 0) that drives task skew in the
  per-conversation stages and spans the whole window;
* about 2% of turns are dropped (never the first), so ``turn_idx`` has gaps
  for gap-fill to densify;
* about 0.5% of turns are token spikes (150-400 words) and about 30% of
  assistant turns are tool calls; 1.5% of texts are null;
* inter-turn gaps switch between a bursty (~3 s) and an idle (~240 s) regime,
  and conversation starts are uniform over ``span_days``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = np.datetime64("2024-03-01T00:00:00", "us")

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us"), nullable=False),
    ]
)

_WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu read write merge split load store fetch parse "
    "plan build check retry commit".split()
)
_TOOLS = np.array(["search", "shell", "python", "browser", "editor", "sql"])


def conv_id(i: int) -> str:
    return f"c{i:07d}"


def _conv_sizes(rng: np.random.Generator, turns: int, mega_turns: int) -> np.ndarray:
    """Zipf sizes after the mega-conversation, as many conversations as it
    takes to reach ``turns`` in total (so every seed has nearly the same
    size)."""
    zipf = np.minimum(rng.zipf(1.6, size=turns) + 2, 400).astype(np.int64)
    n = int(np.searchsorted(np.cumsum(zipf), turns - mega_turns)) + 1
    return np.concatenate([[mega_turns], zipf[:n]])


def transcripts(seed: int, turns: int, mega_turns: int, span_days: int) -> pd.DataFrame:
    """About ``turns`` raw ``(conv_id, turn_idx, role, text, tool, ts)``
    rows (before the 2% turn drop), sorted by (conv_id, turn_idx)."""
    rng = np.random.default_rng(np.random.PCG64([seed, 1]))
    sizes = _conv_sizes(rng, turns, mega_turns)
    n_convs = len(sizes)
    n = int(sizes.sum())
    conv = np.repeat(np.arange(n_convs), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn = np.arange(n) - np.repeat(starts, sizes)

    # regime-switching gaps, restarted at every conversation's first turn
    switch = rng.random(n) < 0.06
    regime = (np.cumsum(switch) + np.repeat(rng.integers(0, 2, n_convs), sizes)) % 2
    gap_s = np.where(regime == 0, rng.exponential(3.0, n), rng.exponential(240.0, n))
    gap_s = np.maximum(gap_s, 0.001)
    gap_s[starts] = 0.0
    offs = np.cumsum(gap_s)
    offs -= np.repeat(offs[starts], sizes)
    # the mega-conversation starts at the window start and its timeline is
    # scaled to 90% of the window, so every seed covers the same days
    mega = slice(0, sizes[0])
    offs[mega] *= 0.9 * span_days * 86400 / max(offs[sizes[0] - 1], 1.0)
    t0 = rng.integers(0, span_days * 86400, n_convs).astype(np.float64)
    t0[0] = 0.0
    ts = BASE_TS + ((np.repeat(t0, sizes) + offs) * 1e6).astype("timedelta64[us]")

    role = np.where(turn % 2 == 0, "user", "assistant").astype(object)
    n_words = rng.integers(1, 40, n)
    spike = rng.random(n) < 0.005
    n_words[spike] = rng.integers(150, 400, int(spike.sum()))
    words = _WORDS[rng.integers(0, len(_WORDS), int(n_words.sum()))].tolist()
    ends = np.cumsum(n_words)
    text = np.array(
        [" ".join(words[s:e]) for s, e in zip(ends - n_words, ends)], dtype=object
    )
    text[rng.random(n) < 0.015] = None
    tool = np.full(n, None, dtype=object)
    is_tool = (turn % 2 == 1) & (rng.random(n) < 0.3)
    tool[is_tool] = _TOOLS[rng.integers(0, len(_TOOLS), int(is_tool.sum()))]

    keep = (rng.random(n) >= 0.02) | (turn == 0)
    ids = np.array([conv_id(i) for i in range(n_convs)], dtype=object)
    return pd.DataFrame(
        {
            "conv_id": ids[conv[keep]],
            "turn_idx": turn[keep].astype(np.int32),
            "role": role[keep],
            "text": text[keep],
            "tool": tool[keep],
            "ts": ts[keep],
        }
    )


def late_delta(base: pd.DataFrame, seed: int, frac: float = 0.01) -> pd.DataFrame:
    """Late and corrected turns for about ``frac`` of the conversations, in
    the backfill delta schema; the mega-conversation is included for odd
    seeds. Per chosen conversation: one existing turn gets a new text, and
    one to three turns arrive after its last turn."""
    rng = np.random.default_rng(np.random.PCG64([seed, 2]))
    ids = base["conv_id"].unique()
    k = max(1, int(len(ids) * frac))
    chosen = set(rng.choice(ids[1:], size=min(k, len(ids) - 1), replace=False))
    if seed % 2:
        chosen.add(ids[0])
    sub = base[base["conv_id"].isin(chosen)]
    corrected = sub.groupby("conv_id").nth(1).copy()
    corrected["text"] = "corrected " + corrected["text"].fillna("") + " after review"
    last = sub.groupby("conv_id").tail(1)
    late = []
    for j in range(3):
        part = last[rng.random(len(last)) < (1.0, 0.6, 0.3)[j]].copy()
        part["turn_idx"] = part["turn_idx"] + 1 + j
        part["role"] = np.where(part["turn_idx"] % 2 == 0, "user", "assistant")
        part["text"] = "late turn " + part["conv_id"]
        part["tool"] = None
        part["ts"] = part["ts"] + pd.to_timedelta(90 * (j + 1), unit="s")
        late.append(part)
    out = pd.concat([corrected, *late], ignore_index=True)
    out = out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return out.drop_duplicates(["conv_id", "turn_idx"], keep="first")


def arrival_slices(
    base: pd.DataFrame, seed: int, n_files: int, rows_per_file: int, late_rows: int
) -> list[pd.DataFrame]:
    """Contiguous event-time slices of the newest rows, one per arrival file.
    ``late_rows`` rows of each slice are held back and delivered two files
    later, so they fall behind the streaming watermark."""
    rng = np.random.default_rng(np.random.PCG64([seed, 3]))
    tail = base.sort_values(["ts", "conv_id", "turn_idx"]).tail(n_files * rows_per_file)
    slices = [
        tail.iloc[i * rows_per_file : (i + 1) * rows_per_file] for i in range(n_files)
    ]
    out = [s.copy() for s in slices]
    for i in range(n_files - 2):
        held = slices[i].iloc[rng.choice(len(slices[i]), late_rows, replace=False)]
        out[i] = out[i].drop(index=held.index)
        out[i + 2] = pd.concat([out[i + 2], held])
    return [o.reset_index(drop=True) for o in out]


def write(df: pd.DataFrame, path: str) -> int:
    """Write one parquet file with microsecond timestamps; returns its size
    in bytes."""
    table = pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False)
    pq.write_table(table, path)
    return os.path.getsize(path)
