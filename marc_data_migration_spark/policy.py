"""Pluggable transform policies — the reference's ``UpdatePolicy``
surface (SURVEY.md §2.8) reborn as DataFrame-native hooks.

The reference loads a policy class by dotted module path at runtime
(record_update.py:132-134) with contract: ``execute(record, id)``,
``conditional_move_tags()``, ``is_online(record)``, ``set_local_id``
(plugins/sample/sample_policy.py:2-56). Here a policy contributes
*Column expressions / DataFrame transforms* that run inside the batch
plan — whole-stage-codegen'd, not per-record Python:

- ``transform(df)``          — arbitrary post-merge DataFrame transform
  (reference ``execute``, applied after field replacement,
  record_update.py:475-477);
- ``conditional_moves()``    — [(src_col, dst_col)] moved only when the
  incoming change provides no value for src (operator M9,
  record_update.py:654-670);
- ``is_online(df)``          — boolean Column (operator P8,
  pnca_policy.py:71-96);
- ``local_id(df)``           — deterministic surrogate id Column
  (operator W2; the reference's global counter pnca_policy.py:25 is
  order-dependent and forbidden distributed — hash surrogate instead,
  documented deviation per SURVEY.md §4 risk 4).

``load_policy`` keeps the reference's dotted-path dynamic loading.
"""

from __future__ import annotations

from importlib import import_module
from typing import Protocol

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Analogue of STREAMING VIDEO / EBOOK / ONLINE PERIODICAL markers in
# 900$a (pnca_policy.py:87-93): tool values that mark an online turn.
ONLINE_TOOLS = ("browser", "search")


class TransformPolicy(Protocol):
    def transform(self, df: DataFrame) -> DataFrame: ...

    def conditional_moves(self) -> list[tuple[str, str]]: ...

    def is_online(self, df: DataFrame) -> Column: ...

    def local_id(self, df: DataFrame) -> Column: ...

    def analyze_type(self, df: DataFrame) -> Column: ...


def load_policy(dotted: str) -> TransformPolicy:
    """Reference-style dynamic plugin load:
    ``getattr(import_module(plugin), 'UpdatePolicy')``."""
    mod, _, cls = dotted.rpartition(".")
    return getattr(import_module(mod), cls)()


def apply_conditional_moves(
    df: DataFrame, moves: list[tuple[str, str]], provided: dict[str, Column]
) -> DataFrame:
    """M9: move src→dst only where the authoritative side provided no
    replacement for src (record_update.py:654-670): dst takes src's old
    value, src takes the provided value or null."""
    for src, dst in moves:
        has_new = provided[src].isNotNull() if src in provided else F.lit(False)
        df = df.withColumn(f"_{dst}_new", F.when(~has_new, F.col(src)).otherwise(F.col(dst) if dst in df.columns else F.lit(None)))
        df = df.withColumn(src, F.when(has_new, provided[src]))
        df = df.withColumn(dst, F.col(f"_{dst}_new")).drop(f"_{dst}_new")
    return df


class DefaultPolicy:
    """No-op policy (the reference's sample_policy)."""

    def transform(self, df: DataFrame) -> DataFrame:
        return df

    def conditional_moves(self) -> list[tuple[str, str]]:
        return []

    def is_online(self, df: DataFrame) -> Column:
        return F.coalesce(F.lower(F.col("tool")).isin(*ONLINE_TOOLS), F.lit(False))

    def local_id(self, df: DataFrame) -> Column:
        return F.xxhash64("conv_id", "turn_idx")

    def analyze_type(self, df: DataFrame) -> Column:
        """Type-consistency audit hook (reference ``analyze_type``,
        pnca_policy.py:131-172): a label Column flagging rows whose
        declared type is not corroborated by their description, null
        when consistent. Default: nothing flagged."""
        return F.lit(None).cast("string")


# Location-map analogue of pnca/location_mapper.py:9-54: a literal
# code→location dim applied by broadcast join / map lookup (J4).
TOOL_LOCATIONS: dict[str, str] = {
    "search": "web",
    "browser": "web",
    "python": "sandbox",
    "calculator": "sandbox",
    "none": "chat",
}


class TranscriptPolicy(DefaultPolicy):
    """The PNCA-policy-equivalent transform pack (M8-M15) over the
    transcript schema, every rule a Catalyst expression:

    - M11 local-field tagging (pnca_policy.py:269-279): mark rows whose
      text carries a local marker;
    - M12 subfield derive (pnca_policy.py:281-313): parse 'Inventory:
      mm/dd/yyyy' pipe-items out of text into a yyyymmdd column (F7/F8);
    - M13 location derivation (pnca_policy.py:315-396): J4 map lookup
      tool→location with prefix-rule fallback;
    - M15 field deletion (pnca_policy.py:225-234): null out noise tool
      values;
    - W2 local id: deterministic hash surrogate.
    """

    NOISE_TOOLS = ("deprecated", "legacy")

    def analyze_type(self, df: DataFrame) -> Column:
        """Mat-type analysis analogue (pnca_policy.py:131-172): the
        reference cross-checks the call number against the 300$a
        physical description and logs rows where the declared carrier
        isn't corroborated ('video' call number but no
        videocassette/videorecording in 300$a, etc.). Here the declared
        ``tool`` is cross-checked against the ``text`` payload; the
        label names the inconsistency class, null = consistent. Pure
        Catalyst — a whole-stage-codegen'd when-cascade."""
        tool = F.lower(F.coalesce(F.col("tool"), F.lit("")))
        text = F.lower(F.coalesce(F.col("text"), F.lit("")))
        return (
            F.when(
                tool.contains("video") & ~text.contains("video"),
                F.lit("video-undescribed"),
            )
            .when(
                tool.isin("browser", "search") & ~text.contains("http"),
                F.lit("web-no-url"),
            )
            .when(
                (tool == "calculator") & ~text.rlike("[0-9]"),
                F.lit("calc-no-number"),
            )
        )

    def conditional_moves(self) -> list[tuple[str, str]]:
        # analogue of 500→591 / 505→590 moves (pnca_policy.py:54-69)
        return [("tool", "tool_orig")]

    def transform(self, df: DataFrame) -> DataFrame:
        loc_map = F.create_map(
            *[F.lit(x) for kv in TOOL_LOCATIONS.items() for x in kv]
        )
        inv = F.regexp_extract(F.col("text"), r"Inventory:(\d{2})/(\d{2})/(\d{4})", 0)
        inv_date = F.when(
            inv != "",
            F.concat(
                F.regexp_extract(F.col("text"), r"Inventory:(\d{2})/(\d{2})/(\d{4})", 3),
                F.regexp_extract(F.col("text"), r"Inventory:(\d{2})/(\d{2})/(\d{4})", 1),
                F.regexp_extract(F.col("text"), r"Inventory:(\d{2})/(\d{2})/(\d{4})", 2),
            ),
        )
        out = (
            df.withColumn("is_local", F.col("text").contains("[local]"))
            .withColumn("inventory_date", inv_date)
            .withColumn(
                "location",
                F.coalesce(
                    loc_map[F.lower(F.col("tool"))],
                    # prefix rule fallback (location_mapper.py:66-108)
                    F.when(F.lower(F.col("tool")).startswith("web"), F.lit("web")),
                    F.lit("chat"),
                ),
            )
            .withColumn(
                "tool",
                F.when(F.lower(F.col("tool")).isin(*self.NOISE_TOOLS), F.lit(None)).otherwise(
                    F.col("tool")
                ),
            )
        )
        return out
