"""Independent replay of the staged feed in DuckDB — the benchmark's
correctness oracle.

Per batch: keep the max-LSN change per key, join it to the replayed
table, decide each key's route, then apply deletes, updates and inserts.
The fuzzy gate's outcome comes from the generator's edit class of the
change, never from a similarity function: identical -> "updated",
light edit -> "fuzzy-updated", unrelated -> "unmodified".
"""

from __future__ import annotations

import duckdb
import pandas as pd

from feed import IDENTICAL, LIGHT, UNRELATED

TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]
APPLIED = ("updated", "fuzzy-updated", "non-updated", "deleted")

# The same order-independent fingerprint is computed by Spark over
# sink.read(): the sum of a 60-bit md5 prefix of each row's
# (conv_id, turn_idx, lsn, text), plus the row count.
FINGERPRINT_SQL = """
SELECT count(*) AS n,
       coalesce(sum(('0x' || substr(md5(concat_ws('|', conv_id,
           CAST(turn_idx AS VARCHAR), CAST(lsn AS VARCHAR), text)), 1, 15)
           )::UBIGINT::HUGEINT), 0)::VARCHAR AS fp
FROM state
"""


class Replay:
    def __init__(self, base: pd.DataFrame, fuzzy_gate: bool):
        self.con = duckdb.connect()
        self.fuzzy_gate = fuzzy_gate
        self.con.register("base_df", base[TABLE_COLS])
        self.con.execute("CREATE TABLE state AS SELECT * FROM base_df")
        self.con.unregister("base_df")

    def apply(self, chunk: pd.DataFrame) -> dict[str, int]:
        """Apply one batch; return its route counts."""
        con = self.con
        con.register("chunk_df", chunk)
        con.execute(
            """
            CREATE OR REPLACE TEMP TABLE c AS
            SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
                FROM chunk_df) WHERE rn = 1
            """
        )
        con.unregister("chunk_df")
        con.execute(
            f"""
            CREATE OR REPLACE TEMP TABLE r AS
            SELECT c.*, CASE
                WHEN c.op = 'D' AND t.lsn IS NOT NULL AND c.lsn > t.lsn THEN 'deleted'
                WHEN c.op = 'D' AND t.lsn IS NULL THEN 'delete-noop'
                WHEN t.lsn IS NOT NULL AND c.lsn <= t.lsn THEN 'stale'
                WHEN t.lsn IS NULL THEN 'non-updated'
                WHEN NOT {self.fuzzy_gate} THEN 'updated'
                WHEN c.edit_class = {IDENTICAL} THEN 'updated'
                WHEN c.edit_class = {LIGHT} THEN 'fuzzy-updated'
                WHEN c.edit_class = {UNRELATED} THEN 'unmodified'
                ELSE 'unclassified' END AS route
            FROM c LEFT JOIN state t USING (conv_id, turn_idx)
            """
        )
        con.execute(
            """
            DELETE FROM state USING r WHERE r.route = 'deleted'
              AND state.conv_id = r.conv_id AND state.turn_idx = r.turn_idx
            """
        )
        con.execute(
            """
            UPDATE state SET role = coalesce(r.role, state.role),
                text = coalesce(r.text, state.text),
                tool = coalesce(r.tool, state.tool),
                ts = coalesce(r.ts, state.ts), lsn = r.lsn
            FROM r WHERE r.route IN ('updated', 'fuzzy-updated')
              AND state.conv_id = r.conv_id AND state.turn_idx = r.turn_idx
            """
        )
        con.execute(
            """
            INSERT INTO state SELECT conv_id, turn_idx, role, text, tool, ts, lsn
            FROM r WHERE route = 'non-updated'
            """
        )
        rows = con.execute("SELECT route, count(*) FROM r GROUP BY route").fetchall()
        return {route: int(n) for route, n in rows}

    def fingerprint(self) -> tuple[int, str]:
        n, fp = self.con.execute(FINGERPRINT_SQL).fetchone()
        return int(n), fp

    def close(self) -> None:
        self.con.close()


def lineage_counts(routes: dict[str, int]) -> dict[str, int]:
    """The lineage ledger's per-batch totals implied by route counts."""
    return {
        "rows_applied": sum(routes.get(r, 0) for r in APPLIED),
        "rows_inserted": routes.get("non-updated", 0),
        "rows_updated": routes.get("updated", 0) + routes.get("fuzzy-updated", 0),
        "rows_deleted": routes.get("deleted", 0),
        "conflict_count": routes.get("unmodified", 0),
    }
