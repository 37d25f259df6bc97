"""Deterministic synthetic transcript + change-feed generator
(FIXTURES.md §1-3). Seeded numpy only — no wall-clock, no external
data. Produces pandas DataFrames (Arrow-convertible to Spark).

The reference consumed a real MARC file; we synthesize the equivalent
change feed: a WAL of insert/update/delete mutations over
(conv_id, turn_idx)-keyed transcript turns, in LSN order, with fixture
variants exercising each engine behavior (FIXTURES.md §2).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

EPOCH = pd.Timestamp("2026-01-01 00:00:00")
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "python", "browser", "calculator", "none"])
WORDS = np.array(
    "the quick brown fox jumps over lazy dog alpha beta gamma delta "
    "query table join merge stream batch commit offset schema column "
    "model turn reply tool call result answer question context token".split()
)


def _text(rng: np.random.Generator, n_words_lo: int = 4, n_words_hi: int = 16) -> str:
    n = int(rng.integers(n_words_lo, n_words_hi))
    return " ".join(rng.choice(WORDS, size=n))


def gen_transcripts(n_convs: int = 50, max_turns: int = 12, seed: int = 42) -> pd.DataFrame:
    """Initial lake-table state: complete conversations."""
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_convs):
        conv = f"conv-{c:06d}"
        n_turns = int(rng.integers(1, max_turns + 1))
        for t in range(n_turns):
            rows.append(
                {
                    "conv_id": conv,
                    "turn_idx": t,
                    "role": str(rng.choice(ROLES)),
                    "text": _text(rng),
                    "tool": str(rng.choice(TOOLS)),
                    "ts": EPOCH + pd.Timedelta(minutes=c * 60 + t),
                    "lsn": -1,
                }
            )
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["lsn"] = df["lsn"].astype("int64")
    return df


def gen_changes(
    variant: str = "basic",
    n_events: int = 1000,
    n_convs: int = 50,
    max_turns: int = 12,
    seed: int = 42,
) -> pd.DataFrame:
    """WAL change feed, LSN-ordered. Variants per FIXTURES.md §2:

    - basic: inserts only, unique keys
    - upsert: multiple U per key, shuffled within the feed (max-LSN wins)
    - delete: I→U→D→I sequences per key
    - dup-replay: a batch appended twice verbatim (idempotence)
    - skew: 2 hot conv_ids carry ~50% of events (Zipf-ish)
    - evolve: second half adds additive column tool_meta
    """
    # crc32, not hash(): str hashes are salted per process, so the same
    # seed would give a different feed in every run
    rng = np.random.default_rng(seed + zlib.crc32(variant.encode()) % 1_000_003)
    rows = []
    lsn = 0

    def emit(op, conv, turn, **payload):
        nonlocal lsn
        lsn += 1
        rows.append(
            {
                "op": op,
                "lsn": lsn,
                "commit_ts": EPOCH + pd.Timedelta(seconds=lsn),
                "conv_id": conv,
                "turn_idx": turn,
                "role": payload.get("role"),
                "text": payload.get("text"),
                "tool": payload.get("tool"),
                "ts": payload.get("ts"),
            }
        )

    def payload(conv_i, turn):
        return dict(
            role=str(rng.choice(ROLES)),
            text=_text(rng),
            tool=str(rng.choice(TOOLS)),
            ts=EPOCH + pd.Timedelta(minutes=conv_i * 60 + turn),
        )

    if variant == "basic":
        # unique new keys, inserts only
        for i in range(n_events):
            conv_i = n_convs + i // max_turns
            turn = i % max_turns
            emit("I", f"conv-{conv_i:06d}", turn, **payload(conv_i, turn))
    elif variant in ("upsert", "skew"):
        if variant == "skew":
            # 2 hot conversations take ~50% of events
            hot = rng.integers(0, n_convs, size=2)
            conv_pool = np.where(
                rng.random(n_events) < 0.5,
                rng.choice(hot, size=n_events),
                rng.integers(0, n_convs, size=n_events),
            )
        else:
            conv_pool = rng.integers(0, n_convs, size=n_events)
        for i in range(n_events):
            conv_i = int(conv_pool[i])
            turn = int(rng.integers(0, max_turns))
            op = "I" if rng.random() < 0.3 else "U"
            emit(op, f"conv-{conv_i:06d}", turn, **payload(conv_i, turn))
        # shuffle intra-feed order but keep lsn values (out-of-order arrival)
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
    elif variant == "delete":
        for i in range(n_events // 4):
            conv_i = int(rng.integers(0, n_convs))
            turn = int(rng.integers(0, max_turns))
            key = (f"conv-{conv_i:06d}", turn)
            emit("I", *key, **payload(conv_i, turn))
            emit("U", *key, **payload(conv_i, turn))
            emit("D", *key)
            if rng.random() < 0.5:
                emit("I", *key, **payload(conv_i, turn))
    elif variant == "dup-replay":
        base = gen_changes("upsert", n_events=n_events // 2, n_convs=n_convs, max_turns=max_turns, seed=seed)
        return pd.concat([base, base], ignore_index=True)
    elif variant == "evolve":
        base = gen_changes("upsert", n_events=n_events, n_convs=n_convs, max_turns=max_turns, seed=seed)
        half = len(base) // 2
        meta = pd.Series([None] * len(base), dtype=object)
        meta.iloc[half:] = [f"meta-{i}" for i in range(len(base) - half)]
        base["tool_meta"] = meta
        return base
    else:
        raise ValueError(f"unknown variant: {variant}")

    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["lsn"] = df["lsn"].astype("int64")
    return df
