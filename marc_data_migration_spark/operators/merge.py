"""MERGE-apply — the engine core (operators M1-M16, J1, J5, F4;
SURVEY.md §2.7). One declarative pass:

    changes ──max-LSN dedup (W1)──┐
                                  ├─ full-outer equi-join on key (J1)
    target  ──────────────────────┘
        → optional fuzzy gate (J5/F3: pandas-UDF token_sort_ratio
          between incoming and existing text, thresholds 100/τ —
          reference record_update.py:352-443)
        → per-column field-level merge (M2 replace_and_add /
          M3 replace_only — record_update.py:870-887)
        → delete handling (op='D'), LSN idempotence guard
        → route + conflict columns (F4) for the routed sinks and
          lineage metrics.

Everything except the similarity UDF stays in Catalyst expressions
(whole-stage codegen); the join is a plain equi-join Catalyst plans as
broadcast or sort-merge depending on side sizes, and AQE rewrites it
at runtime for skew.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_text
from ..functions.similarity import token_sort_ratio
from ..schemas import KEY_COLS
from .dedup import latest_per_key

CHANGE_META = {"op", "lsn", "commit_ts"}


@dataclass
class MergeResult:
    final: DataFrame  # post-merge target table state
    routed: DataFrame  # one row per deduped change: key, op, lsn, route, conflict
    bad: DataFrame  # quarantined malformed changes (reference S8 'bad' sink)
    delta: DataFrame  # changed rows only: merged values for applied
    # upserts + 'D' markers, the write set of a merge-on-read sink —
    # O(batch) rows instead of O(touched partitions)
    cached: DataFrame | None = None  # persisted join (persist_join=True);
    # caller unpersists after consuming final/routed
    field_diffs: DataFrame | None = None  # per-field old→new audit rows
    # (field_audit=True) — reference fields-audit log, record_update.py:626-641

    def unpersist(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()


def is_bad():
    """The quarantine predicate: a null key or LSN, or an op outside
    I/U/D. It must never be NULL: a NULL predicate fails BOTH
    ``filter(p)`` and ``filter(~p)``, and ``~isin(...)`` is NULL for a
    null op, hence the explicit ``op IS NULL`` disjunct. So
    ``when(~is_bad(), x)`` is NULL exactly on the bad rows."""
    return (
        F.col("conv_id").isNull()
        | F.col("turn_idx").isNull()
        | F.col("lsn").isNull()
        | F.col("op").isNull()
        | ~F.col("op").isin("I", "U", "D")
    )


def split_bad(changes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad): the reference's bad-record split (record_update.py:243-252)."""
    return changes.filter(~is_bad()), changes.filter(is_bad())


def salted(changes: DataFrame, salt_buckets: int) -> DataFrame:
    """Spread a hot key's changes over ``salt_buckets`` tasks by (conv_id,
    salt) for the dedup's partial aggregation; 0 leaves them as they are."""
    if not salt_buckets:
        return changes
    salt = F.pmod(F.xxhash64("lsn"), F.lit(salt_buckets))
    return changes.repartition(salt_buckets, F.col("conv_id"), salt)


def gate_ratio(candidate, incoming_text, existing_text):
    """The fuzzy gate's score (J5/F3): token_sort_ratio of the normalized
    incoming vs existing text. Only rows where ``candidate`` holds get a
    real score (the rest score 0), so callers mask by ``candidate``.

    Catalyst extracts Python UDFs into an unconditional ArrowEvalPython
    node — a `when(candidate, udf(...))` wrapper does NOT stop the UDF
    running on every row (verified via executedPlan). So the *inputs*
    are gated instead: null text for non-candidate rows costs one null
    per row over Arrow and short-circuits in Python, and the LCS compute
    only runs on genuine candidates."""
    return token_sort_ratio(
        F.when(candidate, normalize_text(F.coalesce(incoming_text, F.lit("")))),
        F.when(candidate, normalize_text(F.coalesce(existing_text, F.lit("")))),
    )


def passes_gate(ratio, fuzzy_threshold: int, require_perfect_match: bool):
    """The gate's pass test (reference thresholds 100 / τ,
    record_update.py:352-443): ``ratio == 100`` under perfect-match,
    else ``ratio >= fuzzy_threshold``."""
    return ratio == 100 if require_perfect_match else ratio >= fuzzy_threshold


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    strategy: str = "replace_and_add",
    dedup_method: str = "agg",
    fuzzy_gate: bool = False,
    fuzzy_threshold: int = 50,
    require_perfect_match: bool = False,
    persist_join: bool = False,
    field_audit: bool = False,
    salt_buckets: int = 0,
) -> MergeResult:
    """Apply a change batch to the target table state, returning the
    new state plus routing/quarantine side outputs.

    Semantics (pinned by tests against the pandas replay oracle):
    - per key, only the max-LSN change in the batch matters (W1);
    - a change is *fresh* iff its LSN exceeds the target row's LSN —
      replaying a batch is a no-op (exactly-once idempotence);
    - I/U merge field-level: non-null change columns overwrite, null
      change columns preserve target values (M2); columns present only
      in the change feed extend the schema additively; columns present
      only in the target survive untouched (M9 never-clobber);
    - replace_only drops unmatched inserts (M3);
    - D deletes the row iff fresh;
    - with ``fuzzy_gate``, matched updates must pass the similarity
      threshold on normalized text or they are rejected as conflicts
      (reference fuzzy-match-failed path, record_update.py:352-443);
    - with ``field_audit``, ``MergeResult.field_diffs`` carries one row
      per (key, field) an applied matched update actually changed —
      (conv_id, turn_idx, lsn, field, old_value, new_value) — the
      analogue of the reference's fields-audit log of (tag, original,
      replacement) pairs (record_update.py:626-641, wired :712,:742).
      Values are strings; timestamps surface as epoch-microsecond
      strings so the audit is engine-portable.
    """
    good, bad = split_bad(changes)
    latest = latest_per_key(salted(good, salt_buckets), method=dedup_method)

    t_payload = [c for c in base.columns if c not in KEY_COLS and c != "lsn"]
    c_payload = [c for c in latest.columns if c not in KEY_COLS and c not in CHANGE_META]
    all_payload = list(dict.fromkeys(t_payload + c_payload))  # ordered union

    t = base.select(
        *[F.col(k).alias(f"t_{k}") for k in KEY_COLS],
        F.col("lsn").alias("t_lsn"),
        *[F.col(c).alias(f"t_{c}") for c in t_payload],
    )
    c = latest.select(
        *[F.col(k).alias(f"c_{k}") for k in KEY_COLS],
        F.col("lsn").alias("c_lsn"),
        F.col("op").alias("c_op"),
        *[F.col(x).alias(f"c_{x}") for x in c_payload],
    )
    cond = [t[f"t_{k}"] == c[f"c_{k}"] for k in KEY_COLS]
    j = t.join(c, cond, "full_outer")

    has_t = F.col("t_lsn").isNotNull()
    has_c = F.col("c_lsn").isNotNull()
    fresh = has_c & (~has_t | (F.col("c_lsn") > F.col("t_lsn")))
    matched_update = fresh & has_t & (F.col("c_op") != "D")

    if fuzzy_gate:
        ratio = gate_ratio(matched_update, F.col("c_text"), F.col("t_text"))
        j = j.withColumn("_ratio", F.when(matched_update, ratio))
        gate_ok = passes_gate(F.col("_ratio"), fuzzy_threshold, require_perfect_match)
        gate_ok = ~matched_update | F.coalesce(gate_ok, F.lit(True))
    else:
        j = j.withColumn("_ratio", F.lit(None).cast("int"))
        gate_ok = F.lit(True)

    is_insert = fresh & ~has_t & (F.col("c_op") != "D")
    if strategy == "replace_only":
        insert_ok = F.lit(False)  # M3: update-without-insert
    elif strategy == "replace_and_add":
        insert_ok = F.lit(True)  # M2: add fields/rows not present
    else:
        raise ValueError(f"unknown strategy: {strategy}")

    apply_update = matched_update & gate_ok
    apply_insert = is_insert & insert_ok
    applied = apply_update | apply_insert
    deleted = fresh & has_t & (F.col("c_op") == "D")

    route = (
        F.when(deleted, F.lit("deleted"))
        .when(has_c & (F.col("c_op") == "D") & ~has_t, F.lit("delete-noop"))
        .when(has_c & ~fresh, F.lit("stale"))
        .when(matched_update & ~gate_ok, F.lit("unmodified"))
        .when(apply_update & fuzzy_gate & (F.col("_ratio") < 100), F.lit("fuzzy-updated"))
        .when(apply_update, F.lit("updated"))
        .when(apply_insert, F.lit("non-updated"))
        .when(is_insert & ~insert_ok, F.lit("skipped-insert"))
    )
    # With persist_join the expensive dedup+join+gate runs ONCE; final,
    # routed, delta and lineage all project from the cache instead of
    # re-executing the plan (one merge evaluation per micro-batch).
    j = j.withColumn("_route", route).withColumn(
        "_conflict", (matched_update & ~gate_ok).cast("int")
    )
    if persist_join:
        j = j.persist()

    field_diffs = None
    if field_audit:
        c_types = dict(latest.dtypes)
        t_types = dict(base.dtypes)

        def _ser(col, dtype):
            # epoch-µs strings for timestamps: engine-portable and
            # comparable; everything else casts to string directly
            if dtype.startswith("timestamp"):
                return F.unix_micros(col.cast("timestamp")).cast("string")
            return col.cast("string")

        entries = []
        for col in c_payload:
            old = (
                _ser(F.col(f"t_{col}"), t_types.get(col, c_types[col]))
                if col in t_payload
                else F.lit(None).cast("string")
            )
            entries.append(
                F.struct(
                    F.lit(col).alias("field"),
                    old.alias("old_value"),
                    _ser(F.col(f"c_{col}"), c_types[col]).alias("new_value"),
                )
            )
        # explode over a literal-width array: one pass over the applied
        # matched updates, no shuffle — row count ≤ |updates| × n_cols
        field_diffs = (
            j.filter(apply_update)  # matched, fresh, gate-passed updates
            .select(
                *[F.col(f"c_{k}").alias(k) for k in KEY_COLS],
                F.col("c_lsn").alias("lsn"),
                F.explode(F.array(*entries)).alias("d"),
            )
            # a null change column preserves the target (M9), so only
            # non-null, value-differing fields are audited as replaced
            .filter(
                F.col("d.new_value").isNotNull()
                & ~F.col("d.new_value").eqNullSafe(F.col("d.old_value"))
            )
            .select(*KEY_COLS, "lsn", "d.field", "d.old_value", "d.new_value")
        )

    merged_cols = []
    for col in all_payload:
        c_col = F.col(f"c_{col}") if col in c_payload else F.lit(None)
        t_col = F.col(f"t_{col}") if col in t_payload else F.lit(None)
        merged_cols.append(
            F.when(applied, F.coalesce(c_col, t_col)).otherwise(t_col).alias(col)
        )

    final = (
        j.filter(~deleted & (has_t | applied))
        .select(
            *[F.coalesce(F.col(f"c_{k}"), F.col(f"t_{k}")).alias(k) for k in KEY_COLS],
            *merged_cols,
            F.when(applied, F.col("c_lsn")).otherwise(F.col("t_lsn")).alias("lsn"),
        )
    )

    # The write set of a merge-on-read sink: only rows the batch actually
    # changed — merged values for applied upserts plus delete markers.
    # Rejected/stale/noop rows emit nothing, so a replay of an
    # already-applied batch produces an EMPTY delta.
    delta = j.filter(applied | deleted).select(
        *[F.col(f"c_{k}").alias(k) for k in KEY_COLS],
        *merged_cols,
        F.col("c_lsn").alias("lsn"),
        F.when(deleted, F.lit("D")).otherwise(F.lit("U")).alias("_op"),
    )

    routed = j.filter(has_c).select(
        *[F.col(f"c_{k}").alias(k) for k in KEY_COLS],
        F.col("c_op").alias("op"),
        F.col("c_lsn").alias("lsn"),
        F.col("_route").alias("route"),
        F.col("_conflict").alias("conflict"),
        F.col("_ratio").alias("ratio"),
    )
    return MergeResult(
        final=final,
        routed=routed,
        bad=bad,
        delta=delta,
        cached=j if persist_join else None,
        field_diffs=field_diffs,
    )
