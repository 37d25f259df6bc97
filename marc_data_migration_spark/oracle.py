"""Single-threaded pandas replay oracle (SURVEY.md §5 item 2).

This is the trusted ~40-line re-implementation of the reference's
sequential record loop (record_update.py:182-254): apply every change
in LSN order, one at a time, with the same field-level merge semantics
as the engine. The distributed engine's final state must equal this,
byte-for-byte on ``text`` under ORDER BY (conv_id, turn_idx).
"""

from __future__ import annotations

import pandas as pd

from .schemas import CHANGE_META, KEY_COLS


def replay(
    base: pd.DataFrame,
    changes: pd.DataFrame,
    strategy: str = "replace_and_add",
) -> pd.DataFrame:
    """Sequential replay: sort by lsn, apply per key, last-write-wins,
    honor deletes. ``strategy``:

    - replace_and_add: non-null change fields overwrite; absent/null
      fields preserve existing (reference M2, record_update.py:870-876);
      unmatched keys insert.
    - replace_only: same merge but unmatched keys are dropped
      (reference M3, record_update.py:878-887).
    """
    payload = [c for c in changes.columns if c not in CHANGE_META and c not in KEY_COLS]
    state: dict[tuple, dict] = {}
    for _, row in base.iterrows():
        k = (row["conv_id"], int(row["turn_idx"]))
        state[k] = row.to_dict()

    # Batch compaction: only the max-LSN change per key matters (the
    # north_star dedup rule; the reference likewise fully reprocesses a
    # later duplicate rather than field-merging successive versions).
    changes = (
        changes.sort_values("lsn", kind="stable")
        .groupby(KEY_COLS, as_index=False, sort=False)
        .tail(1)
    )
    for _, ch in changes.sort_values("lsn", kind="stable").iterrows():
        k = (ch["conv_id"], int(ch["turn_idx"]))
        cur = state.get(k)
        if cur is not None and ch["lsn"] <= cur.get("lsn", -1):
            continue  # idempotence guard: stale/duplicate LSN is a no-op
        if ch["op"] == "D":
            state.pop(k, None)
            continue
        if cur is None:
            if strategy == "replace_only":
                continue
            cur = {"conv_id": k[0], "turn_idx": k[1]}
        new = dict(cur)
        for c in payload:
            v = ch[c]
            if v is not None and not (isinstance(v, float) and pd.isna(v)) and v is not pd.NaT:
                new[c] = v
            else:
                new.setdefault(c, None)
        new["lsn"] = ch["lsn"]
        state[k] = new

    cols = KEY_COLS + [c for c in payload] + ["lsn"]
    if not state:
        return pd.DataFrame(columns=cols)
    out = pd.DataFrame(list(state.values()))
    for c in cols:
        if c not in out.columns:
            out[c] = None
    out = out[cols].sort_values(KEY_COLS, kind="stable").reset_index(drop=True)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    out["lsn"] = out["lsn"].astype("int64")
    return out
