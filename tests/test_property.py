"""Property tests (SURVEY.md §5 item 4): for arbitrary small change
feeds over a tiny key space — every I/U/D interleaving hypothesis can
produce — the distributed apply equals the sequential pandas replay.
Fixed-seed variants (tests/test_merge_oracle.py) pin the realistic
shapes; this net catches interleavings nobody thought to write down.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from marc_data_migration_spark import oracle
from marc_data_migration_spark.operators.merge import apply_changes
from marc_data_migration_spark.schemas import KEY_COLS

EPOCH = pd.Timestamp("2026-01-01")


def _base_pdf() -> pd.DataFrame:
    rows = [
        {
            "conv_id": f"conv-{c}",
            "turn_idx": t,
            "role": "user",
            "text": f"base-{c}-{t}",
            "tool": "none",
            "ts": EPOCH,
            "lsn": 0,
        }
        for c in range(2)
        for t in range(3)
    ]
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["lsn"] = pdf["lsn"].astype("int64")
    return pdf


def _changes_pdf(events: list[tuple[str, int, int]]) -> pd.DataFrame:
    rows = []
    for i, (op, c, t) in enumerate(events):
        is_del = op == "D"
        rows.append(
            {
                "op": op,
                "lsn": i + 1,
                "commit_ts": EPOCH + pd.Timedelta(seconds=i),
                "conv_id": f"conv-{c}",
                "turn_idx": t,
                "role": None if is_del else "assistant",
                "text": None if is_del else f"t{i}",
                "tool": None if is_del else "x",
                "ts": pd.NaT if is_del else EPOCH + pd.Timedelta(seconds=i),
            }
        )
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["lsn"] = pdf["lsn"].astype("int64")
    return pdf


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["I", "U", "D"]),
            st.integers(0, 3),  # conv-2/3 never exist in base: insert paths
            st.integers(0, 2),
        ),
        min_size=1,
        max_size=25,
    ),
    strategy=st.sampled_from(["replace_and_add", "replace_only"]),
    salt_buckets=st.sampled_from([0, 3]),
)
def test_random_feed_matches_oracle(spark, events, strategy, salt_buckets):
    base_pdf = _base_pdf()
    ch_pdf = _changes_pdf(events)
    res = apply_changes(
        spark.createDataFrame(base_pdf),
        spark.createDataFrame(ch_pdf),
        strategy=strategy,
        salt_buckets=salt_buckets,
    )
    got = res.final.orderBy(*KEY_COLS).toPandas()
    want = oracle.replay(base_pdf, ch_pdf, strategy=strategy)
    assert list(zip(got.conv_id, got.turn_idx)) == list(zip(want.conv_id, want.turn_idx))
    assert got.text.fillna("<N>").tolist() == want.text.fillna("<N>").tolist()
    assert got.lsn.tolist() == want.lsn.tolist()
    assert got.role.fillna("<N>").tolist() == want.role.fillna("<N>").tolist()
    assert got.tool.fillna("<N>").tolist() == want.tool.fillna("<N>").tolist()


# ---------------------------------------------------------------------------
# fuzzy_ratio_pairs oracle derivation: the registry query's band check
# (entry_queries.q_fuzzy_pairs) rests on two mathematical claims that
# the corpus pairs alone can't falsify exhaustively. Property-pin both
# over arbitrary unicode text:
#   (1) idempotence — full_process / truncate / token-sort applied to
#       an already token-sorted processed string is the identity, so
#       the UDF scoring (sa, sb) equals scoring the original texts;
#   (2) the InDel sandwich — lev <= InDel <= 2*lev rearranged onto the
#       rounded ratio: 100*(T-2*lev)/T - 0.51 <= ratio*1 <=
#       100*(T-lev)/T + 0.51 (as r*t vs 100*(t-2*lev) +/- 0.51*t).
# ---------------------------------------------------------------------------


def _tok_sort_py(text: str) -> str:
    from marc_data_migration_spark.functions.similarity import (
        MAX_CMP_CHARS,
        full_process,
    )

    return " ".join(sorted(full_process(text)[:MAX_CMP_CHARS].split()))


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


@given(st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_tok_sort_pipeline_idempotent(text):
    s = _tok_sort_py(text)
    assert _tok_sort_py(s) == s


@given(st.text(max_size=120), st.text(max_size=120))
@settings(max_examples=300, deadline=None)
def test_ratio_indel_band(a, b):
    from marc_data_migration_spark.functions.similarity import token_sort_ratio_py

    sa, sb = _tok_sort_py(a), _tok_sort_py(b)
    r = token_sort_ratio_py(sa, sb)
    lev = _lev(sa, sb)
    t = len(sa) + len(sb)
    assert 100.0 * (t - 2 * lev) - 0.51 * t <= r * t <= 100.0 * (t - lev) + 0.51 * t


def _naive_bpe_schedule(word_counts, n_merges):
    """Recount-per-round reference for the merge schedule (the exact
    argmax + (count desc, a asc, b asc) tie-break _fit_local claims)."""
    words = dict(word_counts)
    out = []
    for _ in range(n_merges):
        pc = {}
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + n
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((a, b, c))
        new = {}
        for syms, n in words.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            new[key] = new.get(key, 0) + n
        words = new
    return out


@given(
    st.dictionaries(
        st.text(alphabet="ab", min_size=1, max_size=8),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=20),
)
@settings(max_examples=300, deadline=None)
def test_bpe_local_schedule_matches_naive(word_counts, n_merges):
    """_fit_local's lazy-heap + incremental pair maintenance must equal
    the recount-per-round reference on ARBITRARY word tables — two-char
    alphabet maximizes consecutive-run ('banana') and tie-break cases,
    and n_merges routinely exhausts the pair space."""
    from marc_data_migration_spark.functions.bpe import _fit_local

    got = _fit_local(list(word_counts.items()), n_merges)
    want = _naive_bpe_schedule(
        {tuple(w): n for w, n in word_counts.items()}, n_merges
    )
    assert got == want


_px = st.tuples(
    st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
)


def _grid(max_w: int = 5, max_h: int = 4):
    return st.integers(1, max_w).flatmap(
        lambda w: st.lists(
            st.lists(_px, min_size=w, max_size=w), min_size=1, max_size=max_h
        )
    )


@given(_grid())
@settings(max_examples=200, deadline=None)
def test_bmp_roundtrip_property(grid):
    """Arbitrary small grids — odd widths exercise every stride-padding
    case the fixed-example tests can miss."""
    from marc_data_migration_spark.operators.codecs import decode_bmp, encode_bmp

    assert decode_bmp(encode_bmp(grid)) == (len(grid[0]), len(grid), grid)


@given(_grid())
@settings(max_examples=200, deadline=None)
def test_ppm_roundtrip_property(grid):
    from marc_data_migration_spark.operators.codecs import decode_ppm, encode_ppm

    assert decode_ppm(encode_ppm(grid)) == (len(grid[0]), len(grid), grid)


@given(
    st.integers(1, 2).flatmap(
        lambda ch: st.lists(
            st.tuples(*([st.integers(-32768, 32767)] * ch)),
            min_size=1,
            max_size=64,
        )
    ),
    st.integers(1, 48000),
)
@settings(max_examples=200, deadline=None)
def test_wav_roundtrip_property(frames, rate):
    from marc_data_migration_spark.operators.codecs import decode_wav, encode_wav

    assert decode_wav(encode_wav(frames, rate)) == (rate, len(frames[0]), frames)


@given(st.lists(_grid(3, 3), min_size=1, max_size=3), st.integers(1, 60))
@settings(max_examples=100, deadline=None)
def test_avi_roundtrip_property(frames, fps):
    from marc_data_migration_spark.operators.codecs import decode_avi, encode_avi

    sized = [f for f in frames if (len(f), len(f[0])) == (len(frames[0]), len(frames[0][0]))]
    got_fps, w, h, got = decode_avi(encode_avi(sized, fps))
    assert (w, h, got) == (len(sized[0][0]), len(sized[0]), sized)
    assert abs(got_fps - 1_000_000 / (1_000_000 // fps)) < 1e-9
