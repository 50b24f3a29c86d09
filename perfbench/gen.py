"""Seeded transcript generator for the benchmark.

Writes three parquet tables that follow the engine's transcript schema
(``conv_id, turn_idx, role, text, tool, ts``) plus ``ts_ms`` and a
2-decimal ``value``:

- ``turns``: one row per conversation turn;
- ``updates``: sparse point-in-time rows (``conv_id, ts_ms, cfg,
  weight``) for LAST JOIN and WINDOW UNION.

Guarantees the DuckDB oracle relies on: ``ts_ms`` is strictly
increasing within each conversation (steps of at least one second), and
every ``updates`` row sits 1-999 ms before a turn, so it never ties a
turn's or another update's timestamp. Values carry two decimals, so a
sum rounded to three decimals is the same on any summation order.

Inputs are cached on disk by (shape, seed, size): generation never runs
inside a timed or set-up phase.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_BASE_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
UPDATE_SHARE = 1 / 7            # turns preceded by an `updates` row
ROLES = np.array(["user", "assistant", "tool"])
# Spark DDL of the two tables, so registering them needs no schema scan
TURNS_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
                "tool string, ts timestamp, ts_ms bigint, value double")
UPDATES_SCHEMA = "conv_id string, ts_ms bigint, cfg string, weight double"
TOOLS = np.array(["search", "browser", "python", "shell"])


@dataclass(frozen=True)
class Shape:
    """Conversation shape: how many turns, how they spread over
    conversations, and how much text repeats."""
    name: str
    turns: int            # total turns (approximate: sizes are rounded)
    mean_turns: float     # mean turns per conversation
    skew: float           # lognormal sigma of conversation sizes
    dup_share: float      # share of turns whose text is an edited copy


SHAPES = {
    "long": Shape("long", turns=12_000, mean_turns=500, skew=0.8,
                  dup_share=0.05),
    "short": Shape("short", turns=2_500, mean_turns=10, skew=0.5,
                   dup_share=0.05),
}


def scaled(shape: Shape, factor: float) -> Shape:
    """The same shape with ``factor`` times the turns (tiny self-test
    inputs keep turns-per-conversation and skew)."""
    return Shape(shape.name, max(int(shape.turns * factor),
                                 int(shape.mean_turns * 4)),
                 shape.mean_turns, shape.skew, shape.dup_share)


def _conv_sizes(shape: Shape) -> np.ndarray:
    """Conversation sizes at evenly spaced quantiles of a lognormal with
    sigma ``skew``, scaled to ``mean_turns``. They are the same for
    every seed, so a seed changes the contents but not how work splits
    over conversations (and partitions), which keeps runs comparable."""
    from statistics import NormalDist
    n_convs = max(1, round(shape.turns / shape.mean_turns))
    z = [NormalDist().inv_cdf((i + 0.5) / n_convs) for i in range(n_convs)]
    raw = np.exp(shape.skew * np.array(z))
    sizes = np.maximum(2, np.round(raw / raw.mean() * shape.mean_turns))
    return sizes.astype(np.int64)


def _vocab(rng: np.random.Generator, n: int = 4000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def _texts(rng: np.random.Generator, conv_of: np.ndarray, n: int,
           dup_share: float) -> tuple[list[str], int]:
    """Turn texts; ``dup_share`` of them copy an earlier turn (a retry in
    the same conversation, or repeated tool output from any earlier
    turn) with one or two tokens edited. Returns (texts, n_duplicates)."""
    vocab = _vocab(rng)
    # Zipf-like word frequencies: common words recur across turns, as in
    # real transcripts, while most 3-token shingles stay rare
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** 0.8)
    cdf /= cdf[-1]

    def words(k: int) -> list[str]:
        return list(vocab[np.searchsorted(cdf, rng.random(k))])

    lens = rng.integers(8, 40, n)
    is_dup = rng.random(n) < dup_share
    is_dup[0] = False
    fresh = iter(np.split(vocab[np.searchsorted(
        cdf, rng.random(int(lens[~is_dup].sum())))],
        np.cumsum(lens[~is_dup])[:-1]))
    conv_start = np.maximum.accumulate(
        np.where(np.r_[True, conv_of[1:] != conv_of[:-1]], np.arange(n), 0))
    toks: list[list[str]] = []
    for i in range(n):
        if not is_dup[i]:
            toks.append(list(next(fresh)))
            continue
        start = int(conv_start[i])
        src = int(rng.integers(start, i)) if i > start and rng.random() < 0.5 \
            else int(rng.integers(0, i))
        t = list(toks[src])
        for w in words(int(rng.integers(1, 3))):
            t[int(rng.integers(0, len(t)))] = w
        toks.append(t)
    return [" ".join(t) for t in toks], int(is_dup.sum())


def generate(shape: Shape, seed: int, out_dir: str) -> dict:
    """Write turns/updates parquet under ``out_dir``; return facts."""
    rng = np.random.default_rng([seed, sum(map(ord, shape.name))])
    sizes = _conv_sizes(shape)
    n = int(sizes.sum())
    conv_of = np.repeat(np.arange(len(sizes)), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn_idx = (np.arange(n) - np.repeat(starts, sizes)).astype(np.int32)
    # steps of 1-600 s plus sub-second jitter: strictly increasing ts
    step = rng.integers(1, 600, n) * 1000 + rng.integers(0, 1000, n)
    step[turn_idx == 0] = 0
    conv_start = rng.integers(0, 86_400_000, len(sizes))
    ts_ms = TS_BASE_MS + conv_start[conv_of] + \
        _cumsum_by_group(step, sizes)
    value = np.round(rng.uniform(0, 100, n), 2)
    role = ROLES[(turn_idx + conv_of) % 3]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), n)],
                    None)
    texts, n_dup = _texts(rng, conv_of, n, shape.dup_share)
    conv_id = np.char.add("c", conv_of.astype(str))

    turns = pa.table({
        "conv_id": pa.array(conv_id, pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts_ms, pa.timestamp("ms", tz="UTC")),
        "ts_ms": pa.array(ts_ms, pa.int64()),
        "value": pa.array(value, pa.float64()),
    })
    upd = rng.random(n) < UPDATE_SHARE
    u_idx = np.nonzero(upd)[0]
    u_ts = ts_ms[u_idx] - rng.integers(1, 1000, len(u_idx))
    updates = pa.table({
        "conv_id": pa.array(conv_id[u_idx], pa.string()),
        "ts_ms": pa.array(u_ts, pa.int64()),
        "cfg": pa.array(np.char.add("cfg", u_idx.astype(str)), pa.string()),
        "weight": pa.array(np.round(rng.uniform(-50, 50, len(u_idx)), 2),
                           pa.float64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in (("turns", turns), ("updates", updates)):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "shape": asdict(shape), "seed": seed, "turns": n,
        "conversations": int(len(sizes)),
        "mean_turns_per_conv": round(n / len(sizes), 2),
        "max_turns_per_conv": int(sizes.max()),
        "updates": int(len(u_idx)),
        "dup_turns": n_dup, "dup_share": round(n_dup / n, 4),
    }


def _cumsum_by_group(x: np.ndarray, sizes: np.ndarray) -> np.ndarray:
    c = np.cumsum(x)
    ends = np.cumsum(sizes)
    base = np.concatenate([[0], c[ends[:-1] - 1]])
    return c - np.repeat(base, sizes)


def cached(shape: Shape, seed: int, cache_root: str) -> tuple[str, dict]:
    """Input directory for (shape, seed, size), generated on first use."""
    d = os.path.join(cache_root, f"{shape.name}-{shape.turns}-{seed}")
    meta = os.path.join(d, "facts.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return d, json.load(f)
    shutil.rmtree(d + ".tmp", ignore_errors=True)
    facts = generate(shape, seed, d + ".tmp")
    with open(os.path.join(d + ".tmp", "facts.json"), "w") as f:
        json.dump(facts, f)
    os.replace(d + ".tmp", d)
    return d, facts
