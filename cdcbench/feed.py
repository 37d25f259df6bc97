"""Seeded inputs for the CDC benchmark: the initial table and the
change-feed chunks, one chunk per micro-batch.

Everything derives from ``numpy.random.default_rng([seed, workload id])``.
Python's ``hash()`` is salted per process, so nothing here may depend
on it: the same seed must stage byte-identical feed files in any process.

Text design. The fuzzy gate compares ``normalize_text`` of both sides
with ``token_sort_ratio`` (pass iff ratio >= 50). A single synthetic
vocabulary cannot put unrelated texts reliably below 50: tokens share
letters, and sorted token lists align. So table texts and light edits
draw words over the letters a-m, and unrelated replacements draw words
over n-z. Only spaces are shared, which keeps unrelated pairs near 15.
A light edit swaps one word in six for a different word of the same
length: the unchanged words bound the ratio from below (about 85), and
at least one changed character per swapped word keeps it at or below 97.
Words are at least three letters long, so none is a stop word that
``normalize_text`` drops.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

EPOCH = pd.Timestamp("2026-01-01")
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "python", "browser", "calculator", "none"])
MAX_WORDS = 64
# window-keyed workload: conversations per batch, and how far the window slides per batch
WINDOW, STEP = 8, 2
HOT = 2  # conversations of the window that carry half its events
ORDER_LEN = 512  # enough conversations for (ORDER_LEN - WINDOW) / STEP batches

# Edit classes of an update against the row it targets, and the route the
# gate gives each: identical -> "updated", light -> "fuzzy-updated",
# unrelated -> "unmodified". NO_CLASS marks inserts, deletes and every
# event of a workload without the gate.
IDENTICAL, LIGHT, UNRELATED, NO_CLASS = 0, 1, 2, -1
CLASS_NAMES = {IDENTICAL: "identical", LIGHT: "light", UNRELATED: "unrelated"}

FEED_COLUMNS = [
    "op", "lsn", "commit_ts", "conv_id", "turn_idx", "role", "text", "tool", "ts",
]


@dataclass(frozen=True)
class Workload:
    name: str
    wid: int  # mixed into the seed, so workloads never share inputs
    keys: str  # "uniform" (one event per key) or "window" (sliding hot window)
    sink: str  # "cow" or "mor"
    fuzzy_gate: bool
    audit: str
    base_convs: int
    base_turns: int  # turns per conversation in the initial table
    turn_slots: int  # turns a conversation can reach (inserts fill the rest)
    batch_events: int
    warmup_batches: int  # full-size batches, enough for batch times to flatten
    nominal_batch_s: float  # sizes the timed backlog from --seconds
    text_chars: int  # texts are cut to at most this many characters
    n_buckets: int = 32


WORKLOADS = {
    w.name: w
    for w in (
        # Uniform keys, one event per key per batch: 75% updates of
        # existing rows (a third each identical / light edit / unrelated),
        # 20% inserts into new conversations, 5% deletes. Texts near the
        # gate's 256-character comparison window.
        Workload(
            name="gated_reconcile", wid=1, keys="uniform", sink="cow", fuzzy_gate=True,
            audit="fields", base_convs=4_000, base_turns=8, turn_slots=8,
            batch_events=9_600, warmup_batches=1,
            nominal_batch_s=5.0,
            text_chars=255,
        ),
        # A sliding window of 8 conversations per batch (advancing by two
        # per batch); the two newest carry half the events. Turn slots
        # beyond the initial turns make some events inserts.
        Workload(
            name="trickle_mor_hotkeys", wid=2, keys="window", sink="mor", fuzzy_gate=False,
            audit="full", base_convs=4_000, base_turns=12, turn_slots=14,
            batch_events=10_000, warmup_batches=2,
            nominal_batch_s=3.0,
            text_chars=64,
        ),
    )
}


def _vocab(letters: str, n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    alphabet = np.array(list(letters))
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(3, 8))
        words.add("".join(rng.choice(alphabet, size=k)))
    return np.array(sorted(words, key=lambda w: (len(w), w)))


# Fixed vocabularies (constant seeds): part of the benchmark definition.
TABLE_VOCAB = _vocab("abcdefghijklm", 4096, seed=1)
FOREIGN_VOCAB = _vocab("nopqrstuvwxyz", 4096, seed=2)


def _by_length(vocab: np.ndarray):
    lens = np.char.str_len(vocab)
    first = {int(k): int(np.argmax(lens == k)) for k in np.unique(lens)}
    count = {int(k): int((lens == k).sum()) for k in np.unique(lens)}
    start = np.array([first[int(k)] for k in lens])
    size = np.array([count[int(k)] for k in lens])
    return lens, start, size


_LENS, _LEN_START, _LEN_SIZE = _by_length(TABLE_VOCAB)
_FOREIGN_LENS = np.char.str_len(FOREIGN_VOCAB)


def conv_name(conv: int) -> str:
    return f"conv-{conv:07d}"


class FeedGenerator:
    """Builds the initial table and then each chunk in order. It tracks
    which keys exist and each row's current words, because an update's
    edit class is defined against the text the row holds when the batch
    is applied."""

    def __init__(self, workload: Workload, seed: int, conv_buckets: np.ndarray | None = None):
        """``conv_buckets[c]`` is the sink bucket of base conversation
        ``c``; the window-keyed workload needs it to keep the
        conversations of each window in distinct buckets."""
        self.w = workload
        self.seed = seed
        self.rng = np.random.default_rng([seed, workload.wid])
        self.lsn = 0
        self.batches_made = 0
        n_keys = workload.base_convs * workload.turn_slots
        self.exists = np.zeros(n_keys, dtype=bool)
        self.words = np.zeros((n_keys, MAX_WORDS), dtype=np.int32)
        self.nwords = np.zeros(n_keys, dtype=np.int32)
        self.next_conv = workload.base_convs
        if workload.keys == "window":
            self.conv_order = self._window_order(conv_buckets)

    def _window_order(self, conv_buckets: np.ndarray) -> np.ndarray:
        """The order in which conversations become active (window keys): a
        random order in which every WINDOW consecutive conversations sit
        in distinct buckets, so each batch touches exactly WINDOW buckets
        whatever the seed."""
        order: list[int] = []
        pool = list(self.rng.permutation(self.w.base_convs)[:ORDER_LEN * 4])
        while len(order) < ORDER_LEN:
            recent = {conv_buckets[c] for c in order[-(WINDOW - 1):]}
            i = next(i for i, c in enumerate(pool) if conv_buckets[c] not in recent)
            order.append(pool.pop(i))
        return np.array(order)

    # -- keys -------------------------------------------------------------
    def _grow(self, n_keys: int) -> None:
        if n_keys <= len(self.exists):
            return
        extra = max(n_keys, 2 * len(self.exists)) - len(self.exists)
        self.exists = np.concatenate([self.exists, np.zeros(extra, dtype=bool)])
        self.words = np.concatenate(
            [self.words, np.zeros((extra, MAX_WORDS), dtype=np.int32)]
        )
        self.nwords = np.concatenate([self.nwords, np.zeros(extra, dtype=np.int32)])

    def _key_frame(self, keys: np.ndarray) -> dict:
        conv = keys // self.w.turn_slots
        return {
            "conv_id": [conv_name(int(c)) for c in conv],
            "turn_idx": (keys % self.w.turn_slots).astype("int32"),
            "role": ROLES[keys % len(ROLES)],
            "tool": TOOLS[(keys // len(ROLES)) % len(TOOLS)],
        }

    # -- texts ------------------------------------------------------------
    def _draw_words(self, rng, n: int, lens: np.ndarray, vocab_size: int):
        ids = rng.integers(0, vocab_size, size=(n, MAX_WORDS))
        # cumulative length including one separating space per word
        cum = np.cumsum(lens[ids] + 1, axis=1) - 1
        nwords = (cum <= self.w.text_chars).sum(axis=1)
        return ids.astype(np.int32), nwords.astype(np.int32)

    @staticmethod
    def _render(vocab: np.ndarray, ids: np.ndarray, nwords: np.ndarray) -> np.ndarray:
        """Join the first ``nwords[i]`` words of each row with spaces
        (Arrow kernels: a Python join per row costs seconds per batch)."""
        used = np.arange(ids.shape[1])[None, :] < nwords[:, None]
        offsets = np.concatenate([[0], np.cumsum(nwords)]).astype(np.int32)
        words = pa.array(vocab).take(pa.array(ids[used]))
        lists = pa.ListArray.from_arrays(pa.array(offsets), words)
        return pc.binary_join(lists, " ").to_numpy(zero_copy_only=False)

    @staticmethod
    def _light_edit(rng, ids: np.ndarray, nwords: np.ndarray) -> np.ndarray:
        """Replace one word in six (at least one) with a different word of
        the same length, at distinct positions."""
        out = ids.copy()
        for i in range(len(out)):
            k = int(nwords[i])
            pos = rng.choice(k, size=max(1, k // 6), replace=False)
            old = out[i, pos]
            shift = rng.integers(1, _LEN_SIZE[old])  # never 0: a new word
            out[i, pos] = _LEN_START[old] + (old - _LEN_START[old] + shift) % _LEN_SIZE[old]
        return out

    # -- the initial table -------------------------------------------------
    def base_table(self) -> pd.DataFrame:
        w = self.w
        convs = np.arange(w.base_convs)
        keys = (convs[:, None] * w.turn_slots + np.arange(w.base_turns)[None, :]).ravel()
        ids, nwords = self._draw_words(self.rng, len(keys), _LENS, len(TABLE_VOCAB))
        self.exists[keys] = True
        self.words[keys], self.nwords[keys] = ids, nwords
        df = pd.DataFrame(self._key_frame(keys))
        df["text"] = self._render(TABLE_VOCAB, ids, nwords)
        # microseconds: Spark rejects parquet's nanosecond timestamps
        df["ts"] = (EPOCH + pd.to_timedelta(keys, unit="s")).astype("datetime64[us]")
        df["lsn"] = np.int64(-1)
        return df[["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]]

    # -- chunks -------------------------------------------------------------
    def next_chunk(self, n_events: int | None = None) -> pd.DataFrame:
        """The next micro-batch of ``n_events`` (default: the workload's
        batch size) change events, LSN-ordered, with an extra
        ``edit_class`` column the benchmark keeps for its replay (it is
        not part of the staged feed)."""
        n_events = n_events or self.w.batch_events
        if self.w.keys == "uniform":
            keys, ops, classes, texts = self._uniform_batch(n_events)
        else:
            keys, ops, classes, texts = self._window_batch(n_events)
        n = len(keys)
        lsn = np.arange(self.lsn + 1, self.lsn + n + 1, dtype=np.int64)
        self.lsn += n
        self.batches_made += 1
        df = pd.DataFrame(self._key_frame(keys))
        deleted = ops == "D"
        df["text"] = texts
        df.loc[deleted, ["role", "text", "tool"]] = None
        df["op"] = ops
        df["lsn"] = lsn
        df["commit_ts"] = (EPOCH + pd.to_timedelta(lsn, unit="ms")).astype("datetime64[us]")
        df["ts"] = df["commit_ts"].where(~deleted)
        df["edit_class"] = classes.astype(np.int8)
        return df[FEED_COLUMNS + ["edit_class"]]

    def _uniform_batch(self, n: int):
        w, rng = self.w, self.rng
        n_upd = n * 75 // 100
        n_del = n * 5 // 100
        n_ins = n - n_upd - n_del
        live = np.flatnonzero(self.exists)
        picked = rng.choice(live, size=n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        n_new_convs = -(-n_ins // w.turn_slots)
        first = self.next_conv
        self.next_conv += n_new_convs
        self._grow(self.next_conv * w.turn_slots)
        ins = first * w.turn_slots + np.arange(n_ins)

        classes = rng.permutation(np.arange(n_upd) % 3)
        new_ids = self.words[upd].copy()
        new_n = self.nwords[upd].copy()
        light = classes == LIGHT
        new_ids[light] = self._light_edit(rng, new_ids[light], new_n[light])
        texts = np.empty(n_upd, dtype=object)
        same = classes != UNRELATED
        texts[same] = self._render(TABLE_VOCAB, new_ids[same], new_n[same])
        f_ids, f_n = self._draw_words(rng, int((~same).sum()), _FOREIGN_LENS, len(FOREIGN_VOCAB))
        texts[~same] = self._render(FOREIGN_VOCAB, f_ids, f_n)
        ins_ids, ins_n = self._draw_words(rng, n_ins, _LENS, len(TABLE_VOCAB))

        # the row state after the gate: unrelated updates are rejected
        self.words[upd[same]], self.nwords[upd[same]] = new_ids[same], new_n[same]
        self.exists[dele] = False
        self.exists[ins] = True
        self.words[ins], self.nwords[ins] = ins_ids, ins_n

        keys = np.concatenate([upd, ins, dele])
        ops = np.array(["U"] * n_upd + ["I"] * n_ins + ["D"] * n_del)
        cls = np.concatenate([classes, np.full(n_ins + n_del, NO_CLASS)])
        all_texts = np.concatenate(
            [texts, self._render(TABLE_VOCAB, ins_ids, ins_n), np.full(n_del, None)]
        )
        order = rng.permutation(len(keys))  # keys arrive interleaved
        return keys[order], ops[order], cls[order], all_texts[order]

    def _window_batch(self, n: int):
        w, rng = self.w, self.rng
        b = self.batches_made
        window = self.conv_order[STEP * b : STEP * b + WINDOW]
        hot, cold = window[-HOT:], window[:-HOT]  # the newest are hot
        is_hot = rng.random(n) < 0.5
        conv = np.where(is_hot, rng.choice(hot, size=n), rng.choice(cold, size=n))
        turn = rng.integers(0, w.turn_slots, size=n)
        keys = conv * w.turn_slots + turn
        ops = rng.choice(np.array(["U", "I", "D"]), size=n, p=[0.85, 0.10, 0.05])
        ids, nwords = self._draw_words(rng, n, _LENS, len(TABLE_VOCAB))
        texts = self._render(TABLE_VOCAB, ids, nwords)
        return keys, ops, np.full(n, NO_CLASS), texts

    def class_samples(self, per_class: int = 64) -> pd.DataFrame:
        """Fresh (old text, new text, class) pairs built exactly as the
        chunks build them, for checking the ratio bands of each class. Uses
        its own random stream, so calling it never changes the feed."""
        rng = np.random.default_rng([self.seed, self.w.wid, 1])
        live = np.flatnonzero(self.exists)
        keys = rng.choice(live, size=3 * per_class, replace=False)
        ids, n = self.words[keys], self.nwords[keys]
        old = self._render(TABLE_VOCAB, ids, n)
        classes = np.repeat([IDENTICAL, LIGHT, UNRELATED], per_class)
        new = list(old[:per_class])
        new += list(self._render(
            TABLE_VOCAB,
            self._light_edit(rng, ids[per_class : 2 * per_class], n[per_class : 2 * per_class]),
            n[per_class : 2 * per_class],
        ))
        f_ids, f_n = self._draw_words(rng, per_class, _FOREIGN_LENS, len(FOREIGN_VOCAB))
        new += list(self._render(FOREIGN_VOCAB, f_ids, f_n))
        return pd.DataFrame({"old": old, "new": new, "edit_class": classes})
