"""Normalized-text similarity — operators F3/A4 (SURVEY.md §2.6, §2.4).

The reference gates its field-level merge on fuzzywuzzy
``token_sort_ratio`` (fuzzy_match.py:21,38) with thresholds 100 /
fuzzy_match_ratio (record_update.py:352-443). fuzzywuzzy is not a
sandbox dependency, so we pin our own implementation:

- ``full_process``: lowercase, non-alphanumeric → space, trim
  (fuzzywuzzy.utils.full_process semantics).
- ``_blocks_ratio``: int(round(100 * 2*LCS / (len_a + len_b))) — the
  InDel (substitution-cost-2 Levenshtein) ratio, exactly what
  python-Levenshtein's ``ratio`` computes for fuzzywuzzy. LCS length
  is computed with the Crochemore/Hyyrö bit-parallel algorithm over
  Python big-ints: O(len_a · len_b / 64) word ops at C speed,
  verified against the O(nm) DP (tests).
- ``token_sort_ratio``: that ratio over the space-joined sorted token
  lists of the processed strings.

Exposed to Spark as Arrow-vectorized pandas UDFs (batched transfer,
per-pair compute — there is no Catalyst built-in for edit ratio).
The Jaccard audit metric (A4, utils.py:244-254) IS expressible with
built-ins and stays JVM-side.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NON_ALNUM = re.compile(r"[^0-9a-zA-Z]+")

# The reference compares *titles* (245$a$b — short strings), never whole
# records (utils.py:118-152). We bound the comparison window the same
# way: similarity is computed on the first MAX_CMP_CHARS normalized
# chars, keeping per-row CPU O(MAX_CMP_CHARS²) instead of O(doc²) —
# a hard requirement at 10^10-event scale.
MAX_CMP_CHARS = 256


def full_process(s: str | None) -> str:
    if s is None:
        return ""
    return _NON_ALNUM.sub(" ", s).lower().strip()


def lcs_len(a: str, b: str) -> int:
    """Bit-parallel LCS length (Crochemore et al. 2001): one big-int
    column vector, one add/or/and per text char."""
    if not a or not b:
        return 0
    masks: dict[str, int] = {}
    bit = 1
    for ch in a:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    ones = bit - 1
    v = ones
    for ch in b:
        mb = masks.get(ch, 0)
        u = v & mb
        v = ((v + u) | (v & ~mb)) & ones
    return len(a) - bin(v).count("1")


def _blocks_ratio(a: str, b: str) -> int:
    if a == b:
        return 100 if a else 0
    if not a or not b:
        return 0
    return int(round(200.0 * lcs_len(a, b) / (len(a) + len(b))))


def token_sort_ratio_py(a: str | None, b: str | None) -> int:
    sa = " ".join(sorted(full_process(a)[:MAX_CMP_CHARS].split()))
    sb = " ".join(sorted(full_process(b)[:MAX_CMP_CHARS].split()))
    return _blocks_ratio(sa, sb)


@F.pandas_udf(T.IntegerType())
def token_sort_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [token_sort_ratio_py(x, y) for x, y in zip(a, b)], dtype="int32"
    )


def jaccard_tokens(a: Column | str, b: Column | str) -> Column:
    """A4: word-set Jaccard similarity, pure built-ins (JVM-side):
    |tokens(a) ∩ tokens(b)| / |tokens(a) ∪ tokens(b)| (utils.py:244-254)."""
    ca = F.split(F.col(a) if isinstance(a, str) else a, r"\s+")
    cb = F.split(F.col(b) if isinstance(b, str) else b, r"\s+")
    inter = F.size(F.array_intersect(ca, cb))
    union = F.size(F.array_union(ca, cb))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
