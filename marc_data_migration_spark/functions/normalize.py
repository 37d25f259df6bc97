"""Text normalization + key extraction — operators F1/F2/F6, P1-P3
(SURVEY.md §2.2, §2.6). Pure Catalyst expressions (regexp_replace /
rlike / coalesce) — no Python in the hot path, fully codegen'd and
pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference punctuation class (utils.py:155-173), kept verbatim.
PUNCT_CLASS = r"[.,/#!$%^&*;:{}\[\]=\-_`~()]"
# Reference removed short stop-words between spaces (utils.py:176-178).
# The reference's regex `\s[the|of|a|an|of|p|n]\s` is a char-class bug;
# we implement the intended alternation (documented deviation — our
# engine pins its own semantics via unit tests).
STOPWORD_RE = r"(?i)\s(the|of|a|an|p|n)\s"


def normalize_text(col: Column | str) -> Column:
    """Lowercase, strip punctuation to spaces, drop short stop-words,
    collapse whitespace, trim — the comparison key for fuzzy matching
    (reference utils.py:155-178)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    c = F.regexp_replace(c, PUNCT_CLASS, " ")
    c = F.regexp_replace(c, STOPWORD_RE, " ")
    c = F.regexp_replace(c, r"\s{2,}", " ")
    return F.trim(c)


# --- key extraction (P1/P2/P3) ---------------------------------------
# The reference extracts a numeric OCLC id from prefixed strings:
# 001 values like 'ocm12345678 ' / 'on9876' (utils.py:31-67) and 035$a
# values like '(OCoLC)ocm12345678' (utils.py:79-115). Our analogue
# extracts a numeric record key from a prefixed source string.

_PREFIX_RE = r"(?i)^(ocolc|ocn|ocm|on)+"
_LABEL_RE = r"(?i)\(ocolc\)"
_TRAILING_JUNK_RE = r"\W+\d+$"


def extract_key_001(col: Column | str) -> Column:
    """P1: strip vendor prefixes + trailing junk from a control value;
    null unless the remainder is purely numeric (utils.py:31-67)."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    c = F.regexp_replace(c, _TRAILING_JUNK_RE, "")
    c = F.regexp_replace(c, _PREFIX_RE, "")
    c = F.trim(c)
    return F.when(c.rlike(r"^\d+$"), c)


def extract_key_035(col: Column | str) -> Column:
    """P2: strip the '(OCoLC)' label then prefixes; numeric-validate
    (utils.py:79-115)."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    c = F.when(c.rlike(_LABEL_RE), F.regexp_replace(c, _LABEL_RE, ""))
    c = F.regexp_replace(F.trim(c), _PREFIX_RE, "")
    c = F.trim(c)
    return F.when(c.rlike(r"^\d+$"), c)


def key_with_precedence(col_035: Column, col_001: Column) -> Column:
    """P3: the 035-derived key wins over the 001-derived key
    (record_update.py:207-218)."""
    return F.coalesce(col_035, col_001)


def key_source(col_035: Column, col_001: Column) -> Column:
    """P3 provenance column: which field supplied the key ('035'|'001',
    null if neither). The reference tracks this implicitly — the
    001-only path arms ``do_fuzzy_001_test`` which changes downstream
    routing (record_update.py:207-218)."""
    return F.when(col_035.isNotNull(), F.lit("035")).when(
        col_001.isNotNull(), F.lit("001")
    )


def fuzzy_001_flag(col_035: Column, col_001: Column) -> Column:
    """P3 flag: 1 when the key came from 001 with no 035 confirmation —
    the condition that arms the reference's fuzzy-001 title test
    (record_update.py:207-218). INT for driver hash parity."""
    return (col_035.isNull() & col_001.isNotNull()).cast("int")
