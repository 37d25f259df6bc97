"""Driver-contract queries + DuckDB oracles (__spark_entry__).

Each SURVEY.md §2 operator gets a (spark_fn, oracle_sql) pair over the
driver's read-only testdata tables. The CDC operators run on a change
feed derived *deterministically* from the `events` table (no external
data): event_id→lsn, user_id→conv_id, event_type→op/role/tool — so the
Spark engine path and the DuckDB SQL compute the same ground truth.

Conventions for driver hash-match parity:
- every computed column aliased identically in Spark and SQL;
- timestamps surfaced as epoch microseconds (bigint) — Spark and
  DuckDB stringify raw timestamps differently;
- doubles rounded to 4 decimals on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.normalize import (
    extract_key_001,
    extract_key_035,
    fuzzy_001_flag,
    key_source,
    key_with_precedence,
    normalize_text,
)
from .functions.similarity import jaccard_tokens, token_sort_ratio
from .operators.dedup import latest_per_key
from .operators.merge import apply_changes

# ---------------------------------------------------------------------
# CDC feed derivation (shared by engine side and oracle side)
# ---------------------------------------------------------------------


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Match scan parallelism to the cluster when the source cannot be
    split (guide §6): the driver's testdata tables are single-file,
    single-ROW-GROUP parquet (documents at sf1.0: 50k rows, 1 row
    group), so ``maxPartitionBytes``/``minPartitionNum`` cannot help —
    byte-range splits beyond the row group read nothing, and every map
    pipeline over the table (normalize chains, shingling, the 8-seed
    md5 minhash, the CDC feed derivation, partial aggregations) ran on
    ONE productive task out of 32 (measured: minhash signature stage
    21 s at sf1.0, ~17 s of it single-task md5). One cheap round-robin
    exchange of the raw rows right after the scan spreads that work.
    Adaptive, not a local[32] constant: the target is
    ``defaultParallelism`` and the exchange is SKIPPED whenever the
    scan already yields at least that many partitions — at real scale
    (many files / row groups) this is a no-op."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _events(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """``spread=False`` for consumers whose downstream work per row is
    too light to amortize the exchange (measured at sf1.0:
    windowed_metrics — one minute-bucket partial agg — went 0.5 s →
    1.6 s WITH the spread; the CDC merge family went 3.8 s → 2.2 s
    with it)."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _spread(spark, df) if spread else df


def changes_from_events(events: DataFrame) -> DataFrame:
    """events → WAL change feed: lsn=event_id, key=(user conv, event_id%20),
    op: error→D, signup→I, else U; D rows carry null payload."""
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
    )
    role = (
        F.when(F.col("event_type") == "view", "user")
        .when(F.col("event_type") == "click", "assistant")
        .when(F.col("event_type") == "purchase", "tool")
        .when(F.col("event_type") == "signup", "system")
    )
    is_del = F.col("event_type") == "error"
    return events.select(
        op.alias("op"),
        F.col("event_id").alias("lsn"),
        F.col("ts").alias("commit_ts"),
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.col("event_id") % 20).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.when(~is_del, F.col("props")).alias("text"),
        F.when(~is_del, F.col("event_type")).alias("tool"),
        F.when(~is_del, F.col("ts")).alias("ts"),
    )


def base_from_events(events: DataFrame) -> DataFrame:
    """Initial lake state: a quarter of the feed, deduped per key by max
    lsn. The filter uses (event_id div 20) so it is independent of
    turn_idx = event_id % 20 — base keys must also receive non-base
    changes or the matched-update MERGE path is never exercised."""
    ch = changes_from_events(events.filter(F.expr("(event_id div 20) % 4 = 0")))
    latest = latest_per_key(ch.filter(F.col("op") != "D"))
    return latest.select("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn")


# The same derivation in DuckDB SQL (CTE prefix reused by CDC oracles).
CDC_CTES = """
WITH changes AS (
  SELECT
    CASE WHEN event_type = 'error' THEN 'D'
         WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
    event_id AS lsn,
    ts AS commit_ts,
    'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
    CAST(event_id % 20 AS INT) AS turn_idx,
    CASE WHEN event_type = 'view' THEN 'user'
         WHEN event_type = 'click' THEN 'assistant'
         WHEN event_type = 'purchase' THEN 'tool'
         WHEN event_type = 'signup' THEN 'system' END AS role,
    CASE WHEN event_type <> 'error' THEN props END AS text,
    CASE WHEN event_type <> 'error' THEN event_type END AS tool,
    CASE WHEN event_type <> 'error' THEN ts END AS ts
  FROM events
),
base AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, lsn FROM (
    SELECT c.*, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
    FROM changes c
    WHERE (lsn // 20) % 4 = 0 AND op <> 'D'
  ) WHERE rn = 1
),
latest AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
    FROM changes c
  ) WHERE rn = 1
)
"""

# ---------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _us(col):
    # testdata parquet timestamps load as TIMESTAMP_NTZ; with the session
    # pinned to UTC the cast is identity and matches DuckDB's epoch_us.
    return F.unix_micros(F.col(col).cast("timestamp")).alias(f"{col}_us")


# -- EP1 flagship: full CDC MERGE apply (W1+J1+M1-M3+F4) ---------------


@query(
    "cdc_apply",
    CDC_CTES
    + """
, merged AS (
  SELECT
    coalesce(c.conv_id, t.conv_id) AS conv_id,
    coalesce(c.turn_idx, t.turn_idx) AS turn_idx,
    c.lsn IS NOT NULL AND (t.lsn IS NULL OR c.lsn > t.lsn) AS fresh,
    t.lsn IS NOT NULL AS has_t,
    c.op AS op,
    CASE WHEN fresh AND c.op <> 'D' THEN coalesce(c.role, t.role) ELSE t.role END AS role,
    CASE WHEN fresh AND c.op <> 'D' THEN coalesce(c.text, t.text) ELSE t.text END AS text,
    CASE WHEN fresh AND c.op <> 'D' THEN coalesce(c.tool, t.tool) ELSE t.tool END AS tool,
    CASE WHEN fresh AND c.op <> 'D' THEN coalesce(c.ts, t.ts) ELSE t.ts END AS ts,
    CASE WHEN fresh AND c.op <> 'D' THEN c.lsn ELSE t.lsn END AS lsn
  FROM base t FULL OUTER JOIN latest c
    ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
)
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us, lsn
FROM merged
WHERE NOT (fresh AND has_t AND op = 'D')
  AND (has_t OR (fresh AND op <> 'D'))
""",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    res = apply_changes(base_from_events(ev), changes_from_events(ev))
    return res.final.select(
        "conv_id", "turn_idx", "role", "text", "tool", _us("ts"), "lsn"
    )


# -- W1: max-LSN dedup window ------------------------------------------


@query(
    "cdc_dedup_max_lsn",
    CDC_CTES
    + """
SELECT conv_id, turn_idx, op, lsn, text, epoch_us(commit_ts) AS commit_ts_us
FROM latest
""",
)
def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_from_events(_events(spark, sf_dir))
    return latest_per_key(ch).select(
        "conv_id", "turn_idx", "op", "lsn", "text", _us("commit_ts")
    )


# -- A1: duplicate-key aggregation (GROUP BY HAVING count>1) -----------


@query(
    "cdc_dup_keys",
    CDC_CTES
    + """
SELECT conv_id, turn_idx, count(*) AS n_versions, max(lsn) AS max_lsn
FROM changes GROUP BY conv_id, turn_idx HAVING count(*) > 1
""",
)
def q_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_from_events(_events(spark, sf_dir))
    return (
        ch.groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n_versions"), F.max("lsn").alias("max_lsn"))
        .filter(F.col("n_versions") > 1)
    )


# -- F4/A2: routing + run-summary counters -----------------------------


@query(
    "cdc_route_counts",
    CDC_CTES
    + """
SELECT route, count(*) AS n FROM (
  SELECT CASE
    WHEN c.op = 'D' AND t.lsn IS NOT NULL AND c.lsn > t.lsn THEN 'deleted'
    WHEN c.op = 'D' AND t.lsn IS NULL THEN 'delete-noop'
    WHEN t.lsn IS NOT NULL AND c.lsn <= t.lsn THEN 'stale'
    WHEN t.lsn IS NOT NULL THEN 'updated'
    ELSE 'non-updated' END AS route
  FROM latest c LEFT JOIN base t
    ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
) GROUP BY route
""",
)
def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    res = apply_changes(base_from_events(ev), changes_from_events(ev))
    return res.routed.groupBy("route").agg(F.count("*").alias("n"))


# -- J1: lookup join -----------------------------------------------------


@query(
    "cdc_lookup_join",
    CDC_CTES
    + """
SELECT c.op AS op, t.lsn IS NOT NULL AS matched, count(*) AS n,
       round(avg(CAST(c.lsn AS DOUBLE)), 4) AS avg_lsn
FROM latest c LEFT JOIN base t
  ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
GROUP BY c.op, t.lsn IS NOT NULL
""",
)
def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    base = base_from_events(ev)
    latest = latest_per_key(changes_from_events(ev))
    t = base.select(
        F.col("conv_id").alias("t_conv_id"),
        F.col("turn_idx").alias("t_turn_idx"),
        F.col("lsn").alias("t_lsn"),
    )
    j = latest.join(
        t,
        (latest.conv_id == t.t_conv_id) & (latest.turn_idx == t.t_turn_idx),
        "left_outer",
    )
    return (
        j.groupBy("op", F.col("t_lsn").isNotNull().alias("matched"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.col("lsn").cast("double")), 4).alias("avg_lsn"),
        )
    )


# -- P1-P3: key extraction ----------------------------------------------


@query(
    "key_extraction",
    """
WITH raw AS (
  SELECT event_id,
    CASE event_id % 5
      WHEN 0 THEN 'ocm' || CAST(event_id AS VARCHAR)
      WHEN 1 THEN 'x' || CAST(event_id AS VARCHAR)
      WHEN 2 THEN 'on' || CAST(event_id AS VARCHAR) || '  '
      WHEN 3 THEN CAST(event_id AS VARCHAR)
      ELSE 'junk' || CAST(event_id AS VARCHAR) END AS f001,
    CASE WHEN event_id % 3 = 0
         THEN '(OCoLC)ocn' || CAST(event_id AS VARCHAR) END AS f035
  FROM events
),
extracted AS (
  SELECT event_id,
    CASE WHEN regexp_full_match(k001, '\\d+') THEN k001 END AS key_001,
    CASE WHEN regexp_full_match(k035, '\\d+') THEN k035 END AS key_035
  FROM (
    SELECT event_id,
      trim(regexp_replace(regexp_replace(trim(f001), '\\W+\\d+$', '', 'g'),
                          '(?i)^(ocolc|ocn|ocm|on)+', '', 'g')) AS k001,
      trim(regexp_replace(
        trim(CASE WHEN regexp_matches(f035, '(?i)\\(ocolc\\)')
                  THEN regexp_replace(f035, '(?i)\\(ocolc\\)', '', 'g') END),
        '(?i)^(ocolc|ocn|ocm|on)+', '', 'g')) AS k035
    FROM raw
  )
)
SELECT event_id, coalesce(key_035, key_001) AS key,
  CASE WHEN key_035 IS NOT NULL THEN '035'
       WHEN key_001 IS NOT NULL THEN '001' END AS key_source,
  CAST(CASE WHEN key_035 IS NULL AND key_001 IS NOT NULL THEN 1 ELSE 0 END AS INT)
    AS fuzzy_001_test
FROM extracted WHERE coalesce(key_035, key_001) IS NOT NULL
""",
)
def q_key_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    f001 = (
        F.when(eid % 5 == 0, F.concat(F.lit("ocm"), eid.cast("string")))
        .when(eid % 5 == 1, F.concat(F.lit("x"), eid.cast("string")))
        .when(eid % 5 == 2, F.concat(F.lit("on"), eid.cast("string"), F.lit("  ")))
        .when(eid % 5 == 3, eid.cast("string"))
        .otherwise(F.concat(F.lit("junk"), eid.cast("string")))
    )
    f035 = F.when(eid % 3 == 0, F.concat(F.lit("(OCoLC)ocn"), eid.cast("string")))
    k035, k001 = extract_key_035(f035), extract_key_001(f001)
    return ev.select(
        "event_id",
        key_with_precedence(k035, k001).alias("key"),
        key_source(k035, k001).alias("key_source"),
        fuzzy_001_flag(k035, k001).alias("fuzzy_001_test"),
    ).filter(F.col("key").isNotNull())


# -- F1/F2: normalization ------------------------------------------------


@query(
    "normalize_text",
    """
SELECT doc_id,
  trim(regexp_replace(
    regexp_replace(
      regexp_replace(lower(text), '[.,/#!$%^&*;:{}\\[\\]=\\-_`~()]', ' ', 'g'),
      '(?i)\\s(the|of|a|an|p|n)\\s', ' ', 'g'),
    '\\s{2,}', ' ', 'g')) AS norm
FROM documents
""",
)
def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select("doc_id", normalize_text("text").alias("norm"))


# -- A4: jaccard similarity (adjacent-doc pairs) --------------------------


@query(
    "jaccard_pairs",
    """
SELECT a.doc_id AS doc_id,
  round(CAST(len(list_distinct(list_intersect(string_split_regex(a.text, '\\s+'),
                                              string_split_regex(b.text, '\\s+')))) AS DOUBLE)
        / len(list_distinct(list_concat(string_split_regex(a.text, '\\s+'),
                                        string_split_regex(b.text, '\\s+')))), 4) AS jaccard
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
""",
)
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    a = docs.select(F.col("doc_id"), F.col("text").alias("a_text"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("b_text"))
    return a.join(b, "doc_id").select(
        "doc_id", F.round(jaccard_tokens("a_text", "b_text"), 4).alias("jaccard")
    )


# -- TPC-H Q1-style agg (headline scan+agg) -------------------------------


# Money as integer cents: per-row double ops are bit-identical across
# engines, but multi-row double SUM order is not — at sf0.1 the
# accumulated reorder error exceeds any fixed rounding. Integer sums
# are exact and hash identically.
@query(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_c,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unspread: filter + partial agg per row is lighter than a spread
    # exchange of the full lineitem width (sf0.1 gate flagged the
    # spread form 0.42 s -> 0.64 s; partial agg already collapses each
    # scan task's output to a handful of group rows)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("sum_qty_c"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "sum_base_price_c"
            ),
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast(
                    "bigint"
                )
            ).alias("sum_disc_price_c"),
            F.count("*").alias("count_order"),
        )
    )


# -- W-topk: top-3 orders per customer segment ----------------------------


@query(
    "topk_orders_per_segment",
    """
SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
    row_number() OVER (PARTITION BY c.c_mktsegment
                       ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
) WHERE rn <= 3
""",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _spread(spark, spark.read.parquet(f"{sf_dir}/orders.parquet"))
    c = _spread(spark, spark.read.parquet(f"{sf_dir}/customer.parquet"))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )


# -- P8/A5: online classifier + conditional tallies -----------------------


@query(
    "online_classifier_counts",
    """
SELECT CAST(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END AS INT) AS is_online,
       count(*) AS n,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY 1
""",
)
def q_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.col("event_type").isin("click", "view").cast("int").alias("is_online")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        )
    )


# -- exact dedup (hash-groupBy) -------------------------------------------


@query(
    "exact_dedup",
    """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unspread: one md5 + partial agg per row is lighter than the
    # spread exchange of the text column (0.28 s -> 0.44 s with it)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


# ---------------------------------------------------------------------
# Training-data pipeline ops: dedup family, similarity search, text
# analysis (SURVEY.md build-plan step 8 + task-mandated ops)
# ---------------------------------------------------------------------

from .functions.text_analysis import (  # noqa: E402
    BPE_RE,
    EN_STOPWORDS,
    LANG_MARKERS,
    fingerprint,
    lang_id,
    n_bpe_tokens,
    n_tokens,
    quality_features,
)
from .operators.similarity_search import cosine_topk, lsh_ann_topk  # noqa: E402
from .operators.text_dedup import (  # noqa: E402
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_banded_pairs,
)


def _norm_sql(x: str) -> str:
    """DuckDB mirror of functions.normalize.normalize_text."""
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"lower({x}), '[.,/#!$%^&*;:{{}}\\[\\]=\\-_`~()]', ' ', 'g'),"
        " '(?i)\\s(the|of|a|an|p|n)\\s', ' ', 'g'),"
        " '\\s{2,}', ' ', 'g'))"
    )


# -- J5/F3: fuzzy similarity scores (pandas UDF). The InDel ratio has
#    no SQL analogue, so the oracle-checkable surface is DERIVED:
#    (1) `lev` — Levenshtein over the SAME token-sorted processed
#        strings the UDF scores, computed JVM-side and replayed
#        exactly by DuckDB's levenshtein() (a hard cross-engine value
#        pinning the whole normalize→full_process→truncate→token-sort
#        pipeline);
#    (2) `t_len` — the summed processed lengths (the ratio's
#        denominator), also exact;
#    (3) `ratio_band_ok` — the sandwich invariant lev ≤ InDel ≤ 2·lev
#        rearranged onto the UDF's rounded ratio
#        (100·(T−2·lev)/T − 0.5 ≤ ratio ≤ 100·(T−lev)/T + 0.5, slack
#        0.51 for float fuzz), which the oracle pins to TRUE. A wrong
#        UDF score lands outside the band and hash-fails the row; the
#        exact score itself stays pinned by the DP-replay unit tests
#        (tests/test_fuzzy_gate.py). ------------------------------------


def _tok_sort_sql(x: str) -> str:
    """Token-sorted full_process(normalize(x)) truncated at the UDF's
    MAX_CMP_CHARS — the exact string token_sort_ratio scores."""
    fp = (
        f"trim(lower(regexp_replace({_norm_sql(x)}, '[^0-9a-zA-Z]+', ' ', 'g')))"
    )
    return (
        "array_to_string(list_sort(list_filter(string_split("
        f"substr({fp}, 1, 256), ' '), t -> t <> '')), ' ')"
    )


def _tok_sort_col(col):
    """Spark mirror of _tok_sort_sql (JVM-side, no UDF)."""
    fp = F.trim(
        F.lower(F.regexp_replace(normalize_text(col), "[^0-9a-zA-Z]+", " "))
    )
    toks = F.filter(F.split(F.substring(fp, 1, 256), " "), lambda t: t != F.lit(""))
    return F.array_join(F.array_sort(toks), " ")


@query(
    "fuzzy_ratio_pairs",
    f"""
WITH pr AS (
  SELECT a.doc_id, a.text AS a_text, b.text AS b_text
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
), s AS (
  SELECT doc_id, {_tok_sort_sql('a_text')} AS sa, {_tok_sort_sql('b_text')} AS sb
  FROM pr
)
SELECT doc_id,
       CAST(levenshtein(sa, sb) AS BIGINT) AS lev,
       CAST(length(sa) + length(sb) AS BIGINT) AS t_len,
       TRUE AS ratio_band_ok
FROM s
""",
)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r06 shape: ONE token-sort chain evaluation per DOC, not per pair
    # side. The old form self-joined raw docs on doc_id+1 and computed
    # the chain for both join sides — every doc paid the 4-regex chain
    # twice (once as pair-left, once as pair-right). Now the chain runs
    # once per doc behind a Generate barrier, and consecutive pairs
    # come from lead() inside doc_id-div-B blocks: a doc on a block
    # boundary (doc_id % B == 0) is DUPLICATED into the previous block
    # purely to serve as that block's last lead, so every (i, i+1)
    # pair is produced exactly once and the window never becomes the
    # single global-order partition. The pair set and all values are
    # identical to the join form (lead+filter on lead_id == doc_id+1
    # handles id gaps the same way the equi-join did); the oracle SQL
    # is untouched. The second barrier (UDF + levenshtein + lengths)
    # is unchanged — without barriers, projection collapse inlined the
    # chains/levenshtein into every reference (6.2 s vs 3.1 s at
    # sf0.1, PLANS.md §Projection-collapse). The explicit
    # repartition(n, _blk) keeps AQE from coalescing the slim window
    # shuffle back to one task (the lev+UDF layer must stay parallel).
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    B = 256
    n_par = spark.sparkContext.defaultParallelism
    s0 = docs.select(
        "doc_id",
        F.explode(
            F.array(F.struct(_tok_sort_col("text").alias("s")))
        ).alias("_t"),
    ).select("doc_id", F.col("_t.s").alias("s"))
    blk = F.expr(f"doc_id div {B}")
    rows = s0.select(
        "doc_id",
        "s",
        F.explode(
            F.when(
                F.pmod(F.col("doc_id"), F.lit(B)) == 0, F.array(blk, blk - 1)
            ).otherwise(F.array(blk))
        ).alias("_blk"),
    ).repartition(n_par, "_blk")
    w = Window.partitionBy("_blk").orderBy("doc_id")
    l1 = (
        rows.select(
            "doc_id",
            F.col("s").alias("sa"),
            F.lead("s").over(w).alias("sb"),
            F.lead("doc_id").over(w).alias("_nid"),
        )
        .filter(F.col("_nid") == F.col("doc_id") + 1)
        .select("doc_id", F.struct("sa", "sb").alias("s"))
    )
    l2 = l1.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    token_sort_ratio(F.col("s.sa"), F.col("s.sb")).alias("ratio"),
                    F.levenshtein("s.sa", "s.sb").cast("bigint").alias("lev"),
                    (F.length("s.sa") + F.length("s.sb")).cast("bigint").alias("t"),
                )
            )
        ).alias("m"),
    )
    r, t, lev = F.col("m.ratio").cast("double"), F.col("m.t"), F.col("m.lev")
    band = (
        (r * t >= 100.0 * (t - 2 * lev) - 0.51 * t)
        & (r * t <= 100.0 * (t - lev) + 0.51 * t)
    )
    return l2.select(
        "doc_id",
        lev.alias("lev"),
        t.alias("t_len"),
        # coalesce: NULL text makes the band indeterminate (sa/sb NULL
        # -> t/lev/ratio NULL); the assertion is then vacuous, and the
        # oracle's constant TRUE must be matched, not a NULL.
        F.coalesce(F.when(t == 0, r == 0.0).otherwise(band), F.lit(True)).alias(
            "ratio_band_ok"
        ),
    )



def _md5int_sql(x: str) -> str:
    return f"CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"


def _fingerprint_sql(norm: str) -> str:
    """DuckDB mirror of text_analysis.fingerprint over an already
    normalized expression — the cross-engine document identity; keep
    every oracle on this single definition."""
    return (
        "md5(array_to_string(list_sort(list_distinct(\n"
        f"    string_split({norm}, ' '))), ' '))"
    )


def _hyperplane_bucket_sql(planes: list[list[float]], col: str = "embedding") -> str:
    """DuckDB mirror of similarity_search.hyperplane_bucket: the SAME
    literal plane components (deterministic LCG, 6-decimal rounding)
    so decimal→double parsing is bit-identical across engines."""
    v = f"list_transform({col}, x -> CAST(x AS DOUBLE))"
    terms = [
        f"CASE WHEN list_inner_product({v}, "
        f"[{', '.join(repr(x) for x in plane)}]) > 0 THEN {2 ** i} ELSE 0 END"
        for i, plane in enumerate(planes)
    ]
    return "(" + "\n   + ".join(terms) + ")"


def _lsh_planes(n: int, seed: int = 7) -> list[list[float]]:
    from .operators.similarity_search import random_planes

    return random_planes(n, 64, seed=seed)


_SHINGLE_CTES = f"""
WITH norm AS (
  SELECT doc_id, string_split({_norm_sql('text')}, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(w) >= 3
           THEN list_distinct([array_to_string(w[i:i+2], ' ')
                               for i in generate_series(1, len(w)-2)])
           ELSE [] END) AS sh
    FROM norm
  )
)
"""


@query(
    "minhash_signatures",
    _SHINGLE_CTES
    + f"""
SELECT doc_id, seed, min({_md5int_sql("sh || '#' || CAST(seed AS VARCHAR)")}) AS minhash
FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed)
GROUP BY doc_id, seed
""",
)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return minhash_signatures(docs)


@query(
    "minhash_lsh_pairs",
    _SHINGLE_CTES
    + f"""
, sig AS (
  SELECT doc_id, seed, min({_md5int_sql("sh || '#' || CAST(seed AS VARCHAR)")}) AS minhash
  FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed)
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         {_md5int_sql("string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)")} AS bh
  FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
""",
)
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return lsh_candidate_pairs(minhash_signatures(docs))


@query(
    "simhash_16",
    f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split({_norm_sql('text')}, ' ')) AS tok FROM documents)
),
bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN ({_md5int_sql('tok')} >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM toks, (SELECT unnest(generate_series(0, 15)) AS bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return simhash(docs)


@query(
    "ngram_neardup_pairs",
    _SHINGLE_CTES
    + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
rare AS (
  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh) WHERE df <= 20
),
idx AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh),
shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
  FROM idx x JOIN idx y ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b,
  round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
FROM shared JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5
""",
)
def q_ngram_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # df_max=20 exercises the document-frequency cap the operator needs
    # at corpus scale (a shingle in m docs emits m² candidate rows);
    # sizes still count every shingle, so jaccard only underestimates
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return ngram_jaccard_pairs(docs, threshold=0.5, df_max=20)


@query(
    "embedding_cosine_topk",
    """
WITH q AS (
  SELECT vec_id AS q, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
scored AS (
  SELECT q.q, c.vec_id,
    round(list_inner_product(qv, cv)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))), 4) AS score
  FROM q, c WHERE q.q <> c.vec_id
)
SELECT q, vec_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY score DESC, vec_id) AS rn FROM scored
) WHERE rn <= 3
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return cosine_topk(emb, emb.filter(F.col("vec_id") % 100 == 0))


@query(
    "lsh_ann_topk",
    """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
    """
    + _hyperplane_bucket_sql(_lsh_planes(4))
    + """ AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS q, c.vec_id,
    round(list_inner_product(q.v, c.v)
          / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))), 4) AS score
  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id % 100 = 0
)
SELECT q, vec_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY score DESC, vec_id) AS rn FROM scored
) WHERE rn <= 3
""",
)
def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return lsh_ann_topk(emb, emb.filter(F.col("vec_id") % 100 == 0))


_LANG_SCORE_SQL = ", ".join(
    "len(list_filter(string_split(lower(text), ' '), t -> list_contains(["
    + ", ".join(f"'{m}'" for m in markers)
    + f"], t))) AS s_{lang}"
    for lang, markers in LANG_MARKERS.items()
)
_LANG_CASE_SQL = (
    "CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'unknown' "
    + " ".join(
        f"WHEN s_{lang} = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    + " END"
)


@query(
    "lang_id",
    f"""
SELECT doc_id, {_LANG_CASE_SQL} AS pred_lang
FROM (SELECT doc_id, {_LANG_SCORE_SQL} FROM documents)
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text_analysis import tokens

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    toked = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("_toks")
    )
    return toked.select(
        "doc_id", lang_id("_toks", toks=F.col("_toks")).alias("pred_lang")
    )


@query(
    "text_quality",
    f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\\s+') AS wr,
         string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(wr) AS BIGINT) AS n_tokens,
  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4) AS punct_ratio,
  round(CAST(len(list_filter(w,
                             tk -> list_contains([{", ".join(f"'{s}'" for s in EN_STOPWORDS)}], tk))) AS DOUBLE)
        / greatest(len(wr), 1), 4) AS stopword_ratio,
  round(CAST(length(text) - len(wr) + 1 AS DOUBLE)
        / greatest(len(wr), 1), 4) AS avg_token_len,
  round(CAST(len(list_distinct(w)) AS DOUBLE) / greatest(len(wr), 1), 4)
    AS frac_unique_tokens,
  round(CAST(coalesce(list_max(list_transform(list_distinct(w),
                  d -> len(list_filter(w, x -> x = d)))), 0) AS DOUBLE)
        / greatest(len(wr), 1), 4) AS top_token_ratio
FROM t
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    feats = quality_features("text")
    return docs.select("doc_id", *[feats[k].alias(k) for k in feats])


@query(
    "token_counts",
    f"""
SELECT doc_id,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS n_bpe_tokens
FROM documents
""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select(
        "doc_id",
        n_tokens("text").cast("long").alias("n_ws_tokens"),
        n_bpe_tokens("text").cast("long").alias("n_bpe_tokens"),
    )


@query(
    "doc_fingerprint",
    f"""
SELECT doc_id,
  {_fingerprint_sql(_norm_sql('text'))} AS fp
FROM documents
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select("doc_id", fingerprint(normalize_text("text")).alias("fp"))


# -- Winnowed passage-level dup pairs (Schleimer–Wilkerson–Aiken local
#    fingerprinting): docs embedding the same ≥(w+k-1)-word span are
#    paired even when doc-level similarity is low. Planted: every 40th
#    doc spawns a copy (+10^6) of its FIRST 25 words plus 30 junk
#    tokens — low whole-doc jaccard, one long shared passage. The
#    oracle replays shingle-hash → window-min selection → inverted-
#    index join as DuckDB list comprehensions. ---------------------------

_PASSAGE_JUNK = " " + " ".join(f"zq{i}" for i in range(30))


@query(
    "passage_dup_pairs",
    f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(string_split(text, ' ')[1:25], ' ') || '{_PASSAGE_JUNK}' AS text
  FROM documents WHERE doc_id % 40 = 0
),
norm AS (
  SELECT doc_id, string_split({_norm_sql('text')}, ' ') AS wd FROM corpus
),
hs AS (
  SELECT doc_id,
         CASE WHEN len(wd) >= 4
              THEN [{_md5int_sql("array_to_string(wd[i:i+3], ' ')")}
                    for i in generate_series(1, len(wd)-3)]
              ELSE [] END AS hs
  FROM norm
),
sel AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4
              THEN list_distinct([list_min(hs[i:i+3])
                                  for i in generate_series(1, len(hs)-3)])
              ELSE list_distinct(hs) END AS sel
  FROM hs
),
fps AS (SELECT DISTINCT doc_id, unnest(sel) AS fp FROM sel),
rare AS (
  SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY fp) WHERE df <= 1000
),
idx AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)
SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared_fps
FROM idx x JOIN idx y ON x.fp = y.fp AND x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id HAVING count(*) >= 2
""",
)
def q_passage_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_dedup import shared_passage_pairs

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 25)),
            F.lit(_PASSAGE_JUNK),
        ).alias("text"),
    )
    return shared_passage_pairs(docs.unionByName(planted))


# -- Cross-split exact contamination: the exact-duplicate complement of
#    the n-gram decontam_overlap — a doc whose fingerprint appears in
#    more than one train/val/test split leaks training content into
#    eval. Composes doc_fingerprint × hash_split; planted copies
#    (doc_id+10^6, every 20th doc — the synthetic corpus has no natural
#    exact dups) land in hash-independent splits, so a deterministic
#    fraction crosses the train boundary. Scale shape: fingerprint +
#    split are projections; the only shuffle is the groupBy(fp) whose
#    map-side partial agg collapses per-partition duplicates. ---------


@query(
    "split_contamination",
    f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
),
d AS (
  SELECT doc_id,
         {_fingerprint_sql(_norm_sql('text'))} AS fp,
         CASE
           WHEN {_md5int_sql("'split#' || CAST(doc_id AS VARCHAR)")} % 10000 < 9000 THEN 'train'
           WHEN {_md5int_sql("'split#' || CAST(doc_id AS VARCHAR)")} % 10000 < 9500 THEN 'val'
           ELSE 'test'
         END AS split
  FROM corpus
)
SELECT fp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
       array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
FROM d GROUP BY fp HAVING count(DISTINCT split) > 1
""",
)
def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import hash_split

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    d = docs.unionByName(planted).select(
        fingerprint(normalize_text("text")).alias("fp"),
        hash_split("doc_id").alias("split"),
    )
    return (
        d.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("split").cast("bigint").alias("n_splits"),
            F.concat_ws(",", F.sort_array(F.collect_set("split"))).alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


# -- J3: mismatch comparison join (equi-join + inequality residual) ------


@query(
    "mismatch_join",
    CDC_CTES
    + """
SELECT c.conv_id, c.turn_idx, c.role AS incoming_role, t.role AS existing_role
FROM latest c JOIN base t
  ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
WHERE c.role IS NOT NULL AND t.role IS NOT NULL AND c.role <> t.role
""",
)
def q_mismatch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    base = base_from_events(ev).select(
        F.col("conv_id").alias("t_conv_id"),
        F.col("turn_idx").alias("t_turn_idx"),
        F.col("role").alias("existing_role"),
    )
    latest = latest_per_key(changes_from_events(ev))
    j = latest.join(
        base,
        (latest.conv_id == base.t_conv_id) & (latest.turn_idx == base.t_turn_idx),
    )
    return j.filter(
        F.col("role").isNotNull()
        & F.col("existing_role").isNotNull()
        & (F.col("role") != F.col("existing_role"))
    ).select("conv_id", "turn_idx", F.col("role").alias("incoming_role"), "existing_role")


# -- A6: duplicate-field report (convs with >1 'system' turn) ------------


@query(
    "dup_role_report",
    CDC_CTES
    + """
SELECT conv_id, count(*) AS n_system_turns
FROM latest WHERE role = 'system'
GROUP BY conv_id HAVING count(*) > 1
""",
)
def q_dup_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = latest_per_key(changes_from_events(_events(spark, sf_dir)))
    return (
        latest.filter(F.col("role") == "system")
        .groupBy("conv_id")
        .agg(F.count("*").alias("n_system_turns"))
        .filter(F.col("n_system_turns") > 1)
    )


# -- multimodal plumbing (real default codec + byte-level stand-in
#    for the audio/video kinds this container can't decode) --------------

from .operators.multimodal import (  # noqa: E402
    decode_media,
    fake_decode,
    frame_sample,
    synthesize_image_media,
    synthesize_media,
)


@query(
    "media_decode_features",
    """
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(8 + doc_id % 5 AS BIGINT) AS w,
         CAST(6 + doc_id % 4 AS BIGINT) AS h
  FROM documents
),
xs AS (SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
xy AS (SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs)
SELECT media_id,
       CASE WHEN media_id % 3 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
       CAST(CASE WHEN media_id % 3 = 0
            THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h
            ELSE 54 + (3 * w + (4 - (3 * w) % 4) % 4) * h END AS BIGINT) AS n_bytes,
       w AS width, h AS height,
       CAST(sum((7 * x + 13 * y + 31 * media_id) % 256) AS BIGINT) AS sum_r,
       CAST(sum((11 * x + 17 * y + media_id) % 256) AS BIGINT) AS sum_g,
       CAST(sum((5 * x + 3 * y + 23 * media_id) % 256) AS BIGINT) AS sum_b
FROM xy
GROUP BY 1, 2, 3, 4, 5
""",
)
def q_media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, oracle-pinned: planted deterministic bitmaps
    (BMP with PPM every 3rd row — synthesize_image_media's pixel
    arithmetic) are encoded executor-side, parsed back by the default
    pure-python codec (operators/codecs.py), and the decoded dims +
    exact per-channel pixel sums + container byte size must equal the
    oracle's closed-form replay of the same arithmetic. A wrong stride
    pad, BGR order, row direction, or header size changes the output."""
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id")
    feats = decode_media(synthesize_image_media(docs))
    n = F.col("feat")[0] * F.col("feat")[1]
    return feats.select(
        "media_id",
        F.when(F.col("media_id") % 3 == 0, "ppm").otherwise("bmp").alias("fmt"),
        "n_bytes",
        F.col("feat")[0].cast("bigint").alias("width"),
        F.col("feat")[1].cast("bigint").alias("height"),
        F.round(F.col("feat")[2] * n).cast("bigint").alias("sum_r"),
        F.round(F.col("feat")[3] * n).cast("bigint").alias("sum_g"),
        F.round(F.col("feat")[4] * n).cast("bigint").alias("sum_b"),
    )


@query(
    "media_decode_compressed",
    """
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(8 + doc_id % 5 AS BIGINT) AS w,
         CAST(6 + doc_id % 4 AS BIGINT) AS h
  FROM documents
),
xs AS (SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
xy AS (SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs)
SELECT media_id,
       CASE CAST(media_id % 3 AS INT)
            WHEN 0 THEN 'ppm' WHEN 1 THEN 'png' ELSE 'bmp' END AS fmt,
       w AS width, h AS height,
       CAST(sum((7 * x + 13 * y + 31 * media_id) % 256) AS BIGINT) AS sum_r,
       CAST(sum((11 * x + 17 * y + media_id) % 256) AS BIGINT) AS sum_g,
       CAST(sum((5 * x + 3 * y + 23 * media_id) % 256) AS BIGINT) AS sum_b
FROM xy
GROUP BY 1, 2, 3, 4
""",
)
def q_media_decode_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED media decode, oracle-pinned: like
    media_decode_features but with the ``media_id % 3 == 1`` rows
    planted as real zlib-compressed PNG (per-row filter type cycling
    all five — synthesize_image_media's include_png mode), so the
    inflate + scanline-unfilter path runs distributed under the same
    closed-form pixel-sum oracle. Container byte size is excluded: a
    DEFLATE stream has no closed form, which is exactly why this is a
    separate query instead of a flag on media_decode_features."""
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id")
    feats = decode_media(synthesize_image_media(docs, include_png=True))
    n = F.col("feat")[0] * F.col("feat")[1]
    return feats.select(
        "media_id",
        F.when(F.col("media_id") % 3 == 0, "ppm")
        .when(F.col("media_id") % 3 == 1, "png")
        .otherwise("bmp")
        .alias("fmt"),
        F.col("feat")[0].cast("bigint").alias("width"),
        F.col("feat")[1].cast("bigint").alias("height"),
        F.round(F.col("feat")[2] * n).cast("bigint").alias("sum_r"),
        F.round(F.col("feat")[3] * n).cast("bigint").alias("sum_g"),
        F.round(F.col("feat")[4] * n).cast("bigint").alias("sum_b"),
    )


@query(
    "multimodal_features",
    """
SELECT doc_id AS media_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS payload_md5,
  round(CAST(octet_length(encode(text)) AS DOUBLE), 4) AS f_len,
  round(CAST(ord(substring(text, 1, 1)) AS DOUBLE), 4) AS f_first
FROM documents
""",
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    feats = decode_media(synthesize_media(docs), codec=fake_decode)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "payload_md5",
        F.round(F.element_at("feat", 1), 4).alias("f_len"),
        F.round(F.element_at("feat", 2), 4).alias("f_first"),
    )


@query(
    "frame_sample_counts",
    """
SELECT doc_id AS media_id,
  CAST(greatest(CAST(octet_length(encode(text)) // 128 AS INT), 1) AS BIGINT) AS n_frames
FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
""",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    media = synthesize_media(docs)
    return (
        frame_sample(media, every_n_bytes=128)
        .groupBy("media_id")
        .agg(F.count("*").alias("n_frames"))
    )


# -- A3: per-field replacement counts (field_replacement_count.py:1-67;
#    increments record_update.py:712,:742,:684) — how many applied
#    matched updates actually changed each payload column -----------------


@query(
    "field_change_counts",
    CDC_CTES
    + """
, upd AS (
  SELECT c.role AS c_role, t.role AS t_role, c.text AS c_text, t.text AS t_text,
         c.tool AS c_tool, t.tool AS t_tool, c.ts AS c_ts, t.ts AS t_ts
  FROM latest c JOIN base t
    ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
  WHERE c.op <> 'D' AND c.lsn > t.lsn
), counts AS (
  SELECT
    CAST(sum(CASE WHEN c_role IS NOT NULL AND c_role IS DISTINCT FROM t_role THEN 1 ELSE 0 END) AS BIGINT) AS role,
    CAST(sum(CASE WHEN c_text IS NOT NULL AND c_text IS DISTINCT FROM t_text THEN 1 ELSE 0 END) AS BIGINT) AS text,
    CAST(sum(CASE WHEN c_tool IS NOT NULL AND c_tool IS DISTINCT FROM t_tool THEN 1 ELSE 0 END) AS BIGINT) AS tool,
    CAST(sum(CASE WHEN c_ts IS NOT NULL AND c_ts IS DISTINCT FROM t_ts THEN 1 ELSE 0 END) AS BIGINT) AS ts
  FROM upd
)
SELECT 'role' AS field, role AS n_changed FROM counts
UNION ALL SELECT 'text', text FROM counts
UNION ALL SELECT 'tool', tool FROM counts
UNION ALL SELECT 'ts', ts FROM counts
""",
)
def q_field_change_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    base = base_from_events(ev)
    latest = latest_per_key(changes_from_events(ev))
    t = base.select(
        F.col("conv_id").alias("t_conv_id"),
        F.col("turn_idx").alias("t_turn_idx"),
        F.col("lsn").alias("t_lsn"),
        *[F.col(c).alias(f"t_{c}") for c in ["role", "text", "tool", "ts"]],
    )
    j = latest.join(
        t,
        (latest.conv_id == t.t_conv_id) & (latest.turn_idx == t.t_turn_idx),
    ).filter((F.col("op") != "D") & (F.col("lsn") > F.col("t_lsn")))

    def changed(c: str):
        # a null change column preserves the target (M9 never-clobber),
        # so only non-null, value-differing columns count as replaced
        return F.sum(
            (
                F.col(c).isNotNull() & ~F.col(c).eqNullSafe(F.col(f"t_{c}"))
            ).cast("bigint")
        ).alias(c)

    agg = j.agg(changed("role"), changed("text"), changed("tool"), changed("ts"))
    return agg.select(
        F.expr(
            "stack(4, 'role', role, 'text', text, 'tool', tool, 'ts', ts)"
            " AS (field, n_changed)"
        )
    )


# -- S10 fields-audit log: per-field old→new diff rows for every
#    applied matched update (record_update.py:626-641 writes
#    (tag, original, replacement); wired :712,:742). The detail table
#    field_change_counts aggregates — one explode over the merge join,
#    no extra shuffle --------------------------------------------------------


@query(
    "field_audit_diffs",
    CDC_CTES
    + """
, upd AS (
  SELECT c.conv_id, c.turn_idx, c.lsn,
         c.role AS c_role, t.role AS t_role,
         c.text AS c_text, t.text AS t_text,
         c.tool AS c_tool, t.tool AS t_tool,
         CAST(epoch_us(c.ts) AS VARCHAR) AS c_ts,
         CAST(epoch_us(t.ts) AS VARCHAR) AS t_ts
  FROM latest c JOIN base t
    ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
  WHERE c.op <> 'D' AND c.lsn > t.lsn
)
SELECT conv_id, turn_idx, lsn, field, old_value, new_value FROM (
  SELECT conv_id, turn_idx, lsn, 'role' AS field, t_role AS old_value, c_role AS new_value FROM upd
  UNION ALL SELECT conv_id, turn_idx, lsn, 'text', t_text, c_text FROM upd
  UNION ALL SELECT conv_id, turn_idx, lsn, 'tool', t_tool, c_tool FROM upd
  UNION ALL SELECT conv_id, turn_idx, lsn, 'ts', t_ts, c_ts FROM upd
) WHERE new_value IS NOT NULL AND new_value IS DISTINCT FROM old_value
""",
)
def q_field_audit_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    res = apply_changes(
        base_from_events(ev), changes_from_events(ev), field_audit=True
    )
    return res.field_diffs


# -- A1 join-back: duplicate-group member detail (reports.py:39-62 —
#    the reference re-fetches the member records per duplicate group
#    and projects their payload fields) --------------------------------------


@query(
    "dup_group_members",
    CDC_CTES
    + """
, dups AS (
  SELECT conv_id, turn_idx, count(*) AS n_versions
  FROM changes GROUP BY conv_id, turn_idx HAVING count(*) > 1
)
SELECT c.conv_id, c.turn_idx, d.n_versions, c.lsn, c.op, c.role, c.text
FROM changes c
JOIN dups d ON c.conv_id = d.conv_id AND c.turn_idx = d.turn_idx
""",
)
def q_dup_group_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_from_events(_events(spark, sf_dir))
    dups = (
        ch.groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n_versions"))
        .filter(F.col("n_versions") > 1)
    )
    # group-key join back to the feed: the dedup groupBy and this join
    # hash-partition on the same keys, so the Exchange is reused — one
    # shuffle of the feed total (verified via explain; no broadcast
    # needed, the dup-key side can be a large fraction of keys)
    return ch.join(dups, ["conv_id", "turn_idx"]).select(
        "conv_id", "turn_idx", "n_versions", "lsn", "op", "role", "text"
    )


# -- policy analyze_type: declared-type vs content consistency audit
#    (pnca_policy.py:131-172 — call number cross-checked against 300$a;
#    here tool cross-checked against text), tallied per mismatch class
#    like print_online_record_counts (pnca_policy.py:118-129) -------------


@query(
    "mat_type_analysis",
    """
WITH t AS (
  SELECT CASE event_id % 4
    WHEN 0 THEN 'video-player' WHEN 1 THEN 'browser'
    WHEN 2 THEN 'calculator' ELSE 'none' END AS tool,
    props AS text
  FROM events
)
SELECT mismatch, count(*) AS n FROM (
  SELECT CASE
    WHEN contains(lower(coalesce(tool,'')), 'video')
         AND NOT contains(lower(coalesce(text,'')), 'video') THEN 'video-undescribed'
    WHEN lower(coalesce(tool,'')) IN ('browser','search')
         AND NOT contains(lower(coalesce(text,'')), 'http') THEN 'web-no-url'
    WHEN lower(coalesce(tool,'')) = 'calculator'
         AND NOT regexp_matches(lower(coalesce(text,'')), '[0-9]') THEN 'calc-no-number'
  END AS mismatch FROM t
) WHERE mismatch IS NOT NULL GROUP BY mismatch
""",
)
def q_mat_type_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .policy import TranscriptPolicy

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    t = ev.select(
        F.when(eid % 4 == 0, "video-player")
        .when(eid % 4 == 1, "browser")
        .when(eid % 4 == 2, "calculator")
        .otherwise("none")
        .alias("tool"),
        F.col("props").alias("text"),
    )
    flagged = t.withColumn("mismatch", TranscriptPolicy().analyze_type(t))
    return (
        flagged.filter(F.col("mismatch").isNotNull())
        .groupBy("mismatch")
        .agg(F.count("*").alias("n"))
    )


# -- J4: broadcast dict/map lookup join + prefix-rule cascade
#    (location_mapper.py:9-54 literal map, :66-108 prefix rules;
#    applied pnca_policy.py:315-380) --------------------------------------


@query(
    "map_lookup_location",
    """
SELECT location, count(*) AS n FROM (
  SELECT coalesce(
    m.loc,
    CASE WHEN CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) < 30 THEN 'stacks-low'
         WHEN CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) < 70 THEN 'stacks-mid'
         ELSE 'stacks-high' END
  ) AS location
  FROM events e
  LEFT JOIN (VALUES ('purchase', 'acq'), ('signup', 'reg')) AS m(event_type, loc)
    ON e.event_type = m.event_type
) GROUP BY location
""",
)
def q_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    dim = spark.createDataFrame(
        [("purchase", "acq"), ("signup", "reg")], ["event_type", "loc"]
    )
    k = F.regexp_extract(F.col("props"), '"k": (\\d+)', 1).cast("int")
    prefix_loc = (
        F.when(k < 30, "stacks-low").when(k < 70, "stacks-mid").otherwise("stacks-high")
    )
    return (
        ev.join(F.broadcast(dim), "event_type", "left")
        .select(F.coalesce(F.col("loc"), prefix_loc).alias("location"))
        .groupBy("location")
        .agg(F.count("*").alias("n"))
    )


# -- F7/F8: pipe-list parsing + date reformat (pnca_policy.py:281-298
#    split 852$1 on '|', match ^Inventory/^Fund/^Policy:LIB; :296-298
#    MM/DD/YYYY → yyyymmdd). The pipe list is composed deterministically
#    from event columns, then parsed back with split/filter/transform ---


@query(
    "pipe_parse_derive",
    """
SELECT event_id,
       strftime(ts, '%Y%m%d') AS inv_date,
       'PNCA ' || event_type AS fund,
       'PNOCIRC' AS circ
FROM events WHERE event_type IN ('purchase', 'signup')
""",
)
def q_pipe_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("event_type").isin("purchase", "signup"))
    raw = F.concat(
        F.lit("Inventory:"),
        F.date_format("ts", "MM/dd/yyyy"),
        F.lit("|Fund:"),
        F.col("event_type"),
        F.lit("|Policy:LIB"),
    )
    parts = F.split(raw, "\\|")
    inv = F.element_at(F.filter(parts, lambda x: x.rlike("^Inventory")), 1)
    pat = r"Inventory:(\d{2})/(\d{2})/(\d{4})"
    inv_date = F.concat(
        F.regexp_extract(inv, pat, 3),
        F.regexp_extract(inv, pat, 1),
        F.regexp_extract(inv, pat, 2),
    )
    fund_item = F.element_at(F.filter(parts, lambda x: x.rlike("^Fund")), 1)
    fund = F.concat(F.lit("PNCA "), F.regexp_replace(fund_item, "^Fund:", ""))
    circ = F.when(
        F.exists(parts, lambda x: x == F.lit("Policy:LIB")), F.lit("PNOCIRC")
    )
    return ev.select(
        "event_id",
        inv_date.alias("inv_date"),
        fund.alias("fund"),
        circ.alias("circ"),
    )


# -- W2: deterministic local-id assignment for unmatched records
#    (pnca_policy.py:25,:174-223 — order-dependent global counter,
#    replaced by a hash surrogate; deviation documented SURVEY.md §7) ----


@query(
    "local_id_assign",
    CDC_CTES
    + f"""
SELECT c.conv_id, c.turn_idx,
       {_md5int_sql("c.conv_id || ':' || CAST(c.turn_idx AS VARCHAR)")} AS local_id,
       'PNCA' AS id_source
FROM latest c LEFT JOIN base t
  ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
WHERE t.conv_id IS NULL AND c.op <> 'D'
""",
)
def q_local_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text_analysis import md5int

    ev = _events(spark, sf_dir)
    base = base_from_events(ev).select(
        F.col("conv_id").alias("t_conv_id"), F.col("turn_idx").alias("t_turn_idx")
    )
    latest = latest_per_key(changes_from_events(ev)).filter(F.col("op") != "D")
    unmatched = latest.join(
        base,
        (latest.conv_id == base.t_conv_id) & (latest.turn_idx == base.t_turn_idx),
        "left_anti",
    )
    return unmatched.select(
        "conv_id",
        "turn_idx",
        md5int(
            F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string"))
        ).alias("local_id"),
        F.lit("PNCA").alias("id_source"),
    )


# -- J2: existence/duplicate join (check_duplicates.py:18-21,:52-57 —
#    for each input key, probe the cache and report keys hit more than
#    once). Spark shape: left-semi join against the base state + A1
#    group-having on the change feed ------------------------------------


@query(
    "exists_dup_keys",
    CDC_CTES
    + """
SELECT c.conv_id, c.turn_idx, count(*) AS n_changes
FROM changes c
WHERE EXISTS (
  SELECT 1 FROM base t
  WHERE t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
)
GROUP BY c.conv_id, c.turn_idx
HAVING count(*) > 1
""",
)
def q_exists_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    ch = changes_from_events(ev)
    base = base_from_events(ev).select("conv_id", "turn_idx")
    return (
        ch.join(base, ["conv_id", "turn_idx"], "left_semi")
        .groupBy("conv_id", "turn_idx")
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .filter(F.col("n_changes") > 1)
    )


# -- M3: replace_only strategy (record_update.py:878-887 — update
#    existing rows only, never insert unmatched). Same MERGE core as
#    cdc_apply with insert_ok=False --------------------------------------


@query(
    "cdc_apply_replace_only",
    CDC_CTES
    + """
, merged AS (
  SELECT
    coalesce(c.conv_id, t.conv_id) AS conv_id,
    coalesce(c.turn_idx, t.turn_idx) AS turn_idx,
    c.lsn IS NOT NULL AND (t.lsn IS NULL OR c.lsn > t.lsn) AS fresh,
    t.lsn IS NOT NULL AS has_t,
    c.op AS op,
    CASE WHEN fresh AND c.op <> 'D' THEN coalesce(c.role, t.role) ELSE t.role END AS role,
    CASE WHEN fresh AND c.op <> 'D' THEN coalesce(c.text, t.text) ELSE t.text END AS text,
    CASE WHEN fresh AND c.op <> 'D' THEN coalesce(c.tool, t.tool) ELSE t.tool END AS tool,
    CASE WHEN fresh AND c.op <> 'D' THEN coalesce(c.ts, t.ts) ELSE t.ts END AS ts,
    CASE WHEN fresh AND c.op <> 'D' THEN c.lsn ELSE t.lsn END AS lsn
  FROM base t FULL OUTER JOIN latest c
    ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
)
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us, lsn
FROM merged
WHERE has_t AND NOT (fresh AND op = 'D')
""",
)
def q_cdc_apply_replace_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    res = apply_changes(
        base_from_events(ev), changes_from_events(ev), strategy="replace_only"
    )
    return res.final.select(
        "conv_id", "turn_idx", "role", "text", "tool", _us("ts"), "lsn"
    )


# -- M8/M9: field move + conditional move (record_update.py:643-684,
#    :654-670 — move tag A→B only when the lookup provides no
#    replacement for A; preserve-local-data-on-no-overwrite) -------------


@query(
    "conditional_move",
    CDC_CTES
    + """
SELECT t.conv_id, t.turn_idx,
       CASE WHEN c.tool IS NULL THEN t.tool END AS tool_legacy,
       coalesce(c.tool, t.tool) AS tool
FROM base t JOIN latest c
  ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
WHERE c.op <> 'D'
""",
)
def q_conditional_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    base = base_from_events(ev).select(
        "conv_id", "turn_idx", F.col("tool").alias("t_tool")
    )
    latest = latest_per_key(changes_from_events(ev)).filter(F.col("op") != "D")
    j = base.join(
        latest.select("conv_id", "turn_idx", F.col("tool").alias("c_tool")),
        ["conv_id", "turn_idx"],
    )
    return j.select(
        "conv_id",
        "turn_idx",
        F.when(F.col("c_tool").isNull(), F.col("t_tool")).alias("tool_legacy"),
        F.coalesce("c_tool", "t_tool").alias("tool"),
    )


# -- W3: ordered field insertion / stable turn ordering
#    (record_update.py:710,:683 add_ordered_field; BASELINE.json
#    invariant "per-turn text equality under stable turn ordering") ------


@query(
    "conv_turns_ordered",
    CDC_CTES
    + """
SELECT conv_id,
       count(*) AS n_turns,
       string_agg(text, '|' ORDER BY turn_idx) AS turns
FROM latest WHERE op <> 'D'
GROUP BY conv_id
""",
)
def q_conv_turns_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = latest_per_key(changes_from_events(_events(spark, sf_dir)))
    return (
        latest.filter(F.col("op") != "D")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda x: x.text,
                ),
                "|",
            ).alias("turns"),
        )
    )


# -- S11: JSON record serialization (reports.py:104-105
#    record.as_json() → Postgres). Spark to_json omits null fields and
#    DuckDB renders them, so the serialized struct is all-non-null ------


@query(
    "json_serialize",
    CDC_CTES
    + """
SELECT conv_id, turn_idx,
       to_json(struct_pack(
         conv_id := conv_id, turn_idx := turn_idx,
         role := role, tool := tool))::VARCHAR AS rec_json
FROM latest WHERE op <> 'D'
""",
)
def q_json_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = latest_per_key(changes_from_events(_events(spark, sf_dir)))
    return latest.filter(F.col("op") != "D").select(
        "conv_id",
        "turn_idx",
        F.to_json(F.struct("conv_id", "turn_idx", "role", "tool")).alias("rec_json"),
    )


# -- P9/P10: control-vs-data and 1xx-family tag classifiers
#    (record_update.py:837-841 `^00` regex; :595-612 `^1\\d{2}`) over a
#    synthetic 3-digit tag derived from event_id ------------------------


@query(
    "tag_classify",
    """
SELECT event_id,
       lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') AS tag,
       CAST(lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') LIKE '00%' AS INT) AS is_control,
       CAST(regexp_matches(lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0'), '^1[0-9]{2}$') AS INT) AS is_main_entry
FROM events
""",
)
def q_tag_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    tag = F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0")
    return ev.select(
        "event_id",
        tag.alias("tag"),
        tag.startswith("00").cast("int").alias("is_control"),
        tag.rlike(r"^1\d{2}$").cast("int").alias("is_main_entry"),
    )


# gap-sessionization CTEs shared by the conv_sessions and range-join
# oracles (3600s gap, floor-seconds rule — must match sessionize_batch)
_SESSION_CTES = """
, seq AS (
  SELECT conv_id, commit_ts,
         CASE WHEN epoch_us(commit_ts) // 1000000
                 - lag(epoch_us(commit_ts) // 1000000)
                   OVER (PARTITION BY conv_id ORDER BY commit_ts) > 3600
              THEN 1 ELSE 0 END AS new_s
  FROM changes
), tagged AS (
  SELECT conv_id, commit_ts,
         sum(new_s) OVER (PARTITION BY conv_id ORDER BY commit_ts
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM seq
)"""


# -- Stateful sessionization, batch form (streaming/stateful.py — the
#    applyInPandasWithState operator's window-composition analogue;
#    property-tested equal in tests/test_stateful.py) -------------------


@query(
    "conv_sessions",
    CDC_CTES
    + _SESSION_CTES
    + """
SELECT conv_id,
       epoch_us(min(commit_ts)) AS session_start_us,
       epoch_us(max(commit_ts)) AS session_end_us,
       count(*) AS n_events
FROM tagged GROUP BY conv_id, sess
""",
)
def q_conv_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import sessionize_batch

    # spread=False: the sessionization window re-shuffles on conv_id
    # immediately, so a spread exchange upstream is pure extra
    ch = changes_from_events(_events(spark, sf_dir, spread=False))
    return sessionize_batch(ch, gap_seconds=3600).select(
        "conv_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("session_end_us"),
        "n_events",
    )


# -- F3 perfect-match path with a real SQL oracle (fuzzy_match.py:38
#    perfect path; record_update.py:360 `ratio == 100` gate).
#    token_sort_ratio==100 ⇔ equal non-empty sorted-token strings —
#    PROVIDED no truncation/rounding ambiguity: the InDel ratio rounds
#    to 100 for ~1-char diffs over 256 chars, so the pair strings are
#    built ≤200 normalized chars (the UDF's 256-char cap is then a
#    no-op) and the "different" partner differs by a whole 20-char
#    token (ratio ≤ ~95, far from the rounding edge). Even doc_ids get
#    a token-reversed partner (same multiset → exactly 100) -------------


@query(
    "fuzzy_perfect_pairs",
    """
WITH d AS (
  SELECT doc_id,
         trim(substr(trim(lower(regexp_replace(text, '[^0-9a-zA-Z]+', ' ', 'g'))), 1, 200)) AS ta
  FROM documents
), p AS (
  SELECT doc_id, ta,
         CASE WHEN doc_id % 2 = 0
              THEN array_to_string(list_reverse(string_split(ta, ' ')), ' ')
              ELSE ta || ' zzqxzzqxzzqxzzqxzzqx' END AS tb
  FROM d
)
SELECT doc_id,
       CAST(ta <> '' AND
            array_to_string(list_sort(string_split(ta, ' ')), ' ')
              = array_to_string(list_sort(string_split(tb, ' ')), ' ')
            AS INT) AS perfect
FROM p
""",
)
def q_fuzzy_perfect_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    proc = F.trim(F.lower(F.regexp_replace(F.col("text"), "[^0-9a-zA-Z]+", " ")))
    ta = F.trim(F.substring(proc, 1, 200))
    tb = F.when(
        F.col("doc_id") % 2 == 0,
        F.array_join(F.reverse(F.split(ta, " ")), " "),
    ).otherwise(F.concat(ta, F.lit(" zzqxzzqxzzqxzzqxzzqx")))
    return docs.select(
        "doc_id",
        (token_sort_ratio(ta, tb) == 100).cast("int").alias("perfect"),
    )


# -- EP1 with the similarity gate ON, oracle-checked end-to-end:
#    require_perfect_match (reference -pm flag, record_update.py:360)
#    makes the gate ratio==100, which for short transcript texts is
#    exactly "normalized sorted-token strings equal and non-empty" —
#    so THE fuzzy-gated MERGE itself gets a DuckDB oracle. Matched
#    updates failing the gate keep the target row (route 'unmodified');
#    deletes and inserts are not gated (merge.py apply_changes) ---------

_SNORM_SQL = """array_to_string(list_sort(string_split(
  trim(lower(regexp_replace(
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(coalesce({x}, '')), '[.,/#!$%^&*;:{{}}\\[\\]=\\-_`~()]', ' ', 'g'),
      '(?i)\\s(the|of|a|an|p|n)\\s', ' ', 'g'),
    '\\s{{2,}}', ' ', 'g')),
  '[^0-9a-zA-Z]+', ' ', 'g'))), ' ')), ' ')"""


@query(
    "cdc_apply_perfect_gate",
    CDC_CTES
    + f"""
, merged AS (
  SELECT
    coalesce(c.conv_id, t.conv_id) AS conv_id,
    coalesce(c.turn_idx, t.turn_idx) AS turn_idx,
    c.lsn IS NOT NULL AND (t.lsn IS NULL OR c.lsn > t.lsn) AS fresh,
    t.lsn IS NOT NULL AS has_t,
    c.op AS op,
    {_SNORM_SQL.format(x='c.text')} AS sc,
    {_SNORM_SQL.format(x='t.text')} AS st,
    c.role AS c_role, t.role AS t_role,
    c.text AS c_text, t.text AS t_text,
    c.tool AS c_tool, t.tool AS t_tool,
    c.ts AS c_ts, t.ts AS t_ts,
    c.lsn AS c_lsn, t.lsn AS t_lsn
  FROM base t FULL OUTER JOIN latest c
    ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
), flagged AS (
  SELECT *,
    fresh AND has_t AND op <> 'D' AS matched_update,
    (fresh AND has_t AND op <> 'D' AND sc <> '' AND sc = st)
      OR (fresh AND NOT has_t AND op <> 'D') AS applied,
    fresh AND has_t AND op = 'D' AS deleted
  FROM merged
)
SELECT conv_id, turn_idx,
       CASE WHEN applied THEN coalesce(c_role, t_role) ELSE t_role END AS role,
       CASE WHEN applied THEN coalesce(c_text, t_text) ELSE t_text END AS text,
       CASE WHEN applied THEN coalesce(c_tool, t_tool) ELSE t_tool END AS tool,
       epoch_us(CASE WHEN applied THEN coalesce(c_ts, t_ts) ELSE t_ts END) AS ts_us,
       CASE WHEN applied THEN c_lsn ELSE t_lsn END AS lsn
FROM flagged
WHERE NOT deleted AND (has_t OR applied)
""",
)
def q_cdc_apply_perfect_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    res = apply_changes(
        base_from_events(ev),
        changes_from_events(ev),
        fuzzy_gate=True,
        require_perfect_match=True,
    )
    return res.final.select(
        "conv_id", "turn_idx", "role", "text", "tool", _us("ts"), "lsn"
    )


# -- embedding-cosine near-dup (dedup family over vectors; brief item).
#    Random embeddings have no natural near-dups (max pairwise cosine
#    <0.8 at sf0.01), so every 50th vector is planted as an exact copy
#    under vec_id+10^7 — deterministically, identically on both the
#    engine and oracle sides — and must be recovered through the
#    sign-LSH bucket join (operators/similarity_search.py) --------------


@query(
    "embedding_neardup_pairs",
    """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id % 50 = 0
), e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
    """
    + _hyperplane_bucket_sql(_lsh_planes(4))
    + """ AS bucket
  FROM corpus
), scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(list_inner_product(a.v, b.v)
          / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 4) AS score
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, score FROM scored WHERE score >= 0.95
""",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity_search import embedding_neardup_pairs

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    # bits pinned (count-free static plan) so the oracle SQL can embed
    # the same 4 hyperplanes; bits=None auto-scales from corpus count
    # (unit-tested at two corpus sizes in test_functions)
    return embedding_neardup_pairs(
        emb.unionByName(planted), threshold=0.95, bits=4, seed=7
    )


# -- A2 as continuous windowed metrics (plans/lineage.py
#    windowed_change_metrics — tumbling event-time window; on a stream
#    the same expression runs under a watermark, tests/test_streaming) --


@query(
    "windowed_metrics",
    CDC_CTES
    + """
SELECT epoch_us(date_trunc('minute', commit_ts)) AS window_start_us,
       count(*) AS n_changes,
       CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
       CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
       CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
       min(lsn) AS lsn_min,
       max(lsn) AS lsn_max
FROM changes
GROUP BY 1
""",
)
def q_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.lineage import windowed_change_metrics

    # spread=False: one minute-bucket partial agg per row is too light
    # to amortize the spread exchange (0.5 s -> 1.6 s with it, sf1.0)
    ch = changes_from_events(_events(spark, sf_dir, spread=False))
    return windowed_change_metrics(ch, "1 minute").select(
        F.unix_micros(F.col("window_start").cast("timestamp")).alias(
            "window_start_us"
        ),
        "n_changes",
        "n_inserts",
        "n_updates",
        "n_deletes",
        "lsn_min",
        "lsn_max",
    )


# -- multi-table LSH ANN (similarity_search.lsh_multitable_ann_topk):
#    the recall lever over the single-table variant. Round 2 moves the
#    hash family from component-slice signs (degenerate on anisotropic
#    real embeddings, table count capped at dim/bits) to random
#    hyperplanes: one LCG stream of L·bits planes, sliced per table,
#    the same literals embedded in the DuckDB oracle. Measured recall@3
#    on the (worst-case, random) test embeddings: L=4 → 0.47, L=8 →
#    0.72, L=16 → 0.92 — matching 1-(1-p)^L theory, p ≈ 0.14/table.
#    Oracle = bucket rows per table UNION ALL'd, one distinct bucket
#    self-join ----------------------------------------------------------

_MT_TABLES = 8
_MT_PLANES = _lsh_planes(_MT_TABLES * 4)
_MT_BUCKETS = "\nUNION ALL\n".join(
    f"SELECT vec_id, {t} AS t,\n"
    + _hyperplane_bucket_sql(_MT_PLANES[t * 4:(t + 1) * 4])
    + " AS bk FROM embeddings"
    for t in range(_MT_TABLES)
)


@query(
    "lsh_multitable_ann_topk",
    f"""
WITH b AS (
{_MT_BUCKETS}
), cand AS (
  SELECT DISTINCT q.vec_id AS q, c.vec_id AS cand
  FROM b q JOIN b c ON q.t = c.t AND q.bk = c.bk
  WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
), e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT cand.q, cand.cand AS vec_id,
    round(list_inner_product(qq.v, cc.v)
          / (sqrt(list_inner_product(qq.v, qq.v)) * sqrt(list_inner_product(cc.v, cc.v))), 4) AS score
  FROM cand JOIN e qq ON qq.vec_id = cand.q JOIN e cc ON cc.vec_id = cand.cand
)
SELECT q, vec_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY score DESC, vec_id) AS rn FROM scored
) WHERE rn <= 3
""",
)
def q_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity_search import lsh_multitable_ann_topk

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return lsh_multitable_ann_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=3, bits=4, n_tables=_MT_TABLES
    )


# -- IVF ANN (similarity_search.ivf_ann_topk): the coarse-quantizer
#    scale path — argmax-cell index over 16 LCG-literal centroid
#    directions, queries probe their best 4 cells (probe cost ≈ 1/4 of
#    corpus, tunable per query without rebuilding the index). Oracle
#    ranks the same struct list with a window over UNNEST ---------------


def _ivf_cell_structs(centroids: list[list[float]], col: str = "embedding") -> str:
    """DuckDB mirror of similarity_search._cell_scores: the same
    centroid literals; ORDER BY s DESC, i replaces the negi field."""
    v = f"list_transform({col}, x -> CAST(x AS DOUBLE))"
    items = ",\n    ".join(
        f"{{'s': list_inner_product({v}, [{', '.join(repr(x) for x in c)}]), 'i': {i}}}"
        for i, c in enumerate(centroids)
    )
    return f"[{items}]"


@query(
    "ivf_ann_topk",
    """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
    """
    + _ivf_cell_structs(_lsh_planes(16, seed=11))
    + """ AS cs
  FROM embeddings
), ranked AS (
  SELECT vec_id, v, u.i AS cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY u.s DESC, u.i) AS rn
  FROM e, UNNEST(cs) AS t(u)
), cells AS (
  SELECT vec_id, v, cell FROM ranked WHERE rn = 1
), qcells AS (
  SELECT vec_id AS q, v AS qv, cell FROM ranked
  WHERE vec_id % 100 = 0 AND rn <= 4
), scored AS (
  SELECT qcells.q, cells.vec_id,
    round(list_inner_product(qv, v)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 4) AS score
  FROM qcells JOIN cells ON cells.cell = qcells.cell AND cells.vec_id <> qcells.q
)
SELECT q, vec_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY score DESC, vec_id) AS rn FROM scored
) WHERE rn <= 3
""",
)
def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity_search import ivf_ann_topk

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return ivf_ann_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=3, n_cells=16, nprobe=4
    )


# -- salted (time-sharded two-phase) sessionization — same output
#    contract as conv_sessions, skew-broken for hot conversations
#    (streaming/stateful.py sessionize_batch_salted; property-tested
#    equal to the plain window in tests/test_stateful.py) ----------------


@query("conv_sessions_salted", ORACLES["conv_sessions"])
def q_conv_sessions_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import sessionize_batch_salted

    ch = changes_from_events(_events(spark, sf_dir, spread=False))
    return sessionize_batch_salted(ch, gap_seconds=3600, shard_seconds=86400).select(
        "conv_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("session_end_us"),
        "n_events",
    )


# -- multimodal resize plumbing (operators/multimodal.py resize_media —
#    mapInPandas binary→binary with metadata update; the byte transform
#    is the documented stub, the Spark contract is real) ----------------


@query(
    "media_resize",
    """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(64 AS BIGINT) AS n_bytes,
       CAST(64 AS VARCHAR) AS resized_bytes
FROM documents
""",
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import fake_resize, resize_media, synthesize_media

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    media = synthesize_media(docs)
    resized = resize_media(media, target_bytes=64, resizer=fake_resize)
    return resized.select(
        "media_id",
        "kind",
        F.length("payload").cast("long").alias("n_bytes"),
        F.col("meta")["resized_bytes"].alias("resized_bytes"),
    )


# -- SimHash duplicate clusters (dedup-family companion to simhash_16:
#    equal 16-bit signatures = hamming-0 near-dup groups; banded
#    hamming-k probing composes the same way MinHash banding does) ------


@query(
    "simhash_dup_clusters",
    f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split({_norm_sql('text')}, ' ')) AS tok FROM documents)
),
bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN ({_md5int_sql('tok')} >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM toks, (SELECT unnest(generate_series(0, 15)) AS bit)
  GROUP BY doc_id, bit
),
sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT simhash, count(*) AS n_docs, min(doc_id) AS exemplar
FROM sigs GROUP BY simhash HAVING count(*) > 1
""",
)
def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return (
        simhash(docs)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("exemplar"))
        .filter(F.col("n_docs") > 1)
    )


# -- Banded hamming-≤k SimHash pairs: the tolerance step hamming-0
#    clustering lacks. 48-bit signatures over 3-word SHINGLE features
#    (token features converge on the tiny shared synthetic vocabulary:
#    65k false "pairs" at 16 bits, measured); 4 bands of 12 bits;
#    pigeonhole guarantees every hamming-≤3 pair shares a whole band,
#    so the band equi-join is a full-recall candidate generator; exact
#    bit_count(xor) verifies. Planted append-two-token copies
#    (doc_id+10^6, every 25th doc) prove the TOLERANCE: their
#    signatures differ by 1-3 bits — invisible to equal-signature
#    grouping, caught here. The oracle replays planting, signature and
#    banding as plain arithmetic — both engines compute the identical
#    integers. -----------------------------------------------------------


@query(
    "simhash_banded_pairs",
    f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' xq1 xq2' AS text
  FROM documents WHERE doc_id % 25 = 0
),
norm AS (
  SELECT doc_id, string_split({_norm_sql('text')}, ' ') AS w FROM base
),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(w) >= 3
           THEN list_distinct([array_to_string(w[i:i+2], ' ')
                               for i in generate_series(1, len(w)-2)])
           ELSE [] END) AS sh
    FROM norm
  )
),
bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN ({_md5int_sql('sh')} >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM sh, (SELECT unnest(generate_series(0, 47)) AS bit)
  GROUP BY doc_id, bit
),
sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 12)) & 4095 AS bv
  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band)
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM banded x
JOIN banded y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
""",
)
def q_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xq1 xq2")).alias("text"),
    )
    return simhash_banded_pairs(docs.unionByName(planted))


# -- W1 via the salted two-phase window, checked against the SAME
#    oracle as the agg form (operators/dedup.py salted_window — the
#    skew-breaking variant; property-tested equal in
#    tests/test_merge_oracle.py, here proven against SQL too) -----------


@query("cdc_dedup_salted", ORACLES["cdc_dedup_max_lsn"])
def q_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_from_events(_events(spark, sf_dir))
    return latest_per_key(ch, method="salted_window").select(
        "conv_id", "turn_idx", "op", "lsn", "text", _us("commit_ts")
    )


# -- as-of join (operators/asof.py — CDC enrichment: the dimension
#    version in effect at each event's timestamp; DuckDB's native
#    ASOF JOIN is the oracle). Dimension = signup events per user ------


@query(
    "asof_plan_lookup",
    """
WITH dim AS (
  -- tie-free by construction (asof.py precondition): one version per
  -- (user_id, ts), latest event_id wins
  SELECT user_id, ts, arg_max(props, event_id) AS plan
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT e.event_id,
       e.user_id,
       epoch_us(e.ts) AS ts_us,
       epoch_us(d.ts) AS r_ts_us,
       d.plan AS r_plan
FROM events e
ASOF LEFT JOIN dim d ON e.user_id = d.user_id AND e.ts >= d.ts
""",
)
def q_asof_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join

    ev = _events(spark, sf_dir)
    left = ev.select("event_id", "user_id", "ts")
    dim = latest_per_key(
        ev.filter(F.col("event_type") == "signup").select(
            "user_id", "ts", "event_id", F.col("props").alias("plan")
        ),
        key_cols=["user_id", "ts"],
        order_col="event_id",
    ).drop("event_id")
    out = asof_join(left, dim, key_cols=["user_id"], ts_col="ts")
    return out.select(
        "event_id",
        "user_id",
        _us("ts"),
        F.unix_micros(F.col("r_ts").cast("timestamp")).alias("r_ts_us"),
        "r_plan",
    )


# -- range (interval) join: events into their containing session
#    interval — equi-join on conv_id with a BETWEEN residual (Catalyst
#    plans the equi part as the join key; the per-conversation range
#    filter is a residual predicate, never a cross join). Self-check
#    built in: the per-session joined count must equal the session's
#    own n_events ------------------------------------------------------


@query(
    "range_join_session_events",
    CDC_CTES
    + _SESSION_CTES
    + """
, sess AS (
  SELECT conv_id,
         min(commit_ts) AS session_start,
         max(commit_ts) AS session_end,
         count(*) AS n_events
  FROM tagged GROUP BY conv_id, sess
)
SELECT s.conv_id,
       epoch_us(s.session_start) AS session_start_us,
       s.n_events,
       count(*) AS n_joined
FROM changes c JOIN sess s
  ON c.conv_id = s.conv_id
 AND c.commit_ts BETWEEN s.session_start AND s.session_end
GROUP BY s.conv_id, s.session_start, s.n_events
""",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import sessionize_batch

    ch = changes_from_events(_events(spark, sf_dir)).select("conv_id", "commit_ts")
    # sessions derive from ch — rename to break the self-join lineage
    sess = sessionize_batch(ch, gap_seconds=3600).select(
        F.col("conv_id").alias("s_conv_id"),
        F.col("session_start"),
        F.col("session_end"),
        F.col("n_events"),
    )
    j = ch.join(
        sess,
        (F.col("conv_id") == F.col("s_conv_id"))
        & F.col("commit_ts").between(F.col("session_start"), F.col("session_end")),
    )
    return (
        j.groupBy("s_conv_id", "session_start", "n_events")
        .agg(F.count(F.lit(1)).alias("n_joined"))
        .select(
            F.col("s_conv_id").alias("conv_id"),
            F.unix_micros(F.col("session_start").cast("timestamp")).alias(
                "session_start_us"
            ),
            "n_events",
            "n_joined",
        )
    )


# -- ROLLUP aggregation (OLAP-surface completeness: the reference has
#    no grouping sets — SURVEY §2.4 — but the engine exposes Catalyst's
#    built-in rollup; null group levels surfaced as '<all>') ------------


@query(
    "rollup_route_metrics",
    CDC_CTES
    + """
SELECT coalesce(op, '<all>') AS op,
       coalesce(role, '<all>') AS role,
       count(*) AS n,
       max(lsn) AS max_lsn
FROM changes
GROUP BY ROLLUP (op, role)
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_from_events(_events(spark, sf_dir))
    return (
        ch.rollup("op", "role")
        .agg(F.count(F.lit(1)).alias("n"), F.max("lsn").alias("max_lsn"))
        .select(
            F.coalesce("op", F.lit("<all>")).alias("op"),
            F.coalesce("role", F.lit("<all>")).alias("role"),
            "n",
            "max_lsn",
        )
    )


# -- exact interpolated percentiles (Spark `percentile` == DuckDB
#    `quantile_cont`, verified to 4dp) ----------------------------------


@query(
    "value_percentiles",
    """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


# -- set operations (EXCEPT / INTERSECT — completes the relational
#    surface; the reference's only set op is the jaccard intersection,
#    SURVEY §2.4): base keys never touched by the change feed, and the
#    touched overlap --------------------------------------------------


@query(
    "keys_new_in_feed",
    CDC_CTES
    + """
SELECT conv_id, turn_idx FROM changes
EXCEPT
SELECT conv_id, turn_idx FROM base
""",
)
def q_keys_new_in_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    base = base_from_events(ev).select("conv_id", "turn_idx")
    ch = changes_from_events(ev).select("conv_id", "turn_idx")
    return ch.subtract(base)  # EXCEPT DISTINCT semantics, matches SQL


@query(
    "keys_touched_overlap",
    CDC_CTES
    + """
SELECT conv_id, turn_idx FROM base
INTERSECT
SELECT conv_id, turn_idx FROM changes
""",
)
def q_keys_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    base = base_from_events(ev).select("conv_id", "turn_idx")
    ch = changes_from_events(ev).select("conv_id", "turn_idx")
    return base.intersect(ch)


# -- HLL sketch: approximate distinct conversations per op (the brief's
#    sketch family). The estimate itself can't value-hash against an
#    exact engine, so the oracle-checkable surface is DERIVED: the
#    exact distinct count (replayed by DuckDB) plus the accuracy
#    assertion |hll − exact| ≤ 5%·exact as a boolean column the oracle
#    pins to TRUE — Spark's HLL is deterministic for fixed data, so a
#    drifted sketch flips the column and hash-fails the driver row.
#    The same ±5% bound is also pinned at rsd=0.02 by
#    tests/test_functions.py::test_hll_accuracy. ------------------------


@query(
    "approx_distinct_convs",
    CDC_CTES
    + """
SELECT op,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS exact_convs,
       TRUE AS hll_within_5pct
FROM changes
GROUP BY op
""",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_from_events(_events(spark, sf_dir))
    agg = ch.groupBy("op").agg(
        F.approx_count_distinct("conv_id", rsd=0.02).alias("approx_convs"),
        F.count_distinct("conv_id").cast("bigint").alias("exact_convs"),
    )
    return agg.select(
        "op",
        "exact_convs",
        (
            F.abs(F.col("approx_convs") - F.col("exact_convs"))
            <= 0.05 * F.col("exact_convs")
        ).alias("hll_within_5pct"),
    )


# -- dedup decision step: LSH emits near-dup PAIRS; what a pipeline
#    keeps is one representative per transitive group, so the pairs
#    close into connected components (component = min reachable id —
#    operators/text_dedup.connected_components, iterative label
#    propagation, 2 shuffles/round on slim (id,label) rows). Oracle:
#    DuckDB recursive CTE over the same banded-LSH pair graph ----------


@query(
    "dedup_components",
    _SHINGLE_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, sig AS (
  SELECT doc_id, seed, min({_md5int_sql("sh || '#' || CAST(seed AS VARCHAR)")}) AS minhash
  FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed)
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         {_md5int_sql("string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)")} AS bh
  FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)
),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
),
reach AS (
  SELECT src AS id, src AS comp FROM edges
  UNION
  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id
""",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_dedup import connected_components

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


# -- deterministic train/val/test split (functions/sampling.hash_split):
#    stable under corpus growth (hash-bucketed, not order-sampled), so
#    adding documents never moves an existing one between splits --------


@query(
    "hash_split_assign",
    """
SELECT doc_id,
  CASE
    WHEN CAST(('0x' || substring(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 9000 THEN 'train'
    WHEN CAST(('0x' || substring(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 9500 THEN 'val'
    ELSE 'test'
  END AS split
FROM documents
""",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import hash_split

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select("doc_id", hash_split("doc_id").alias("split"))


# -- per-stratum representation cap (functions/sampling.stratified_cap):
#    at most `quota` docs per predicted language, deterministic order —
#    Spark 4 plans the row_number()<=q filter as a map-side partial
#    WindowGroupLimit, so a hot stratum never funnels through one task --


@query(
    "stratified_cap_by_lang",
    f"""
SELECT doc_id, pred_lang FROM (
  SELECT doc_id, pred_lang,
         row_number() OVER (PARTITION BY pred_lang ORDER BY doc_id) AS rn
  FROM (
    SELECT doc_id, {_LANG_CASE_SQL} AS pred_lang
    FROM (SELECT doc_id, {_LANG_SCORE_SQL} FROM documents)
  )
) WHERE rn <= 40
""",
)
def q_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import stratified_cap
    from .functions.text_analysis import tokens

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    toked = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
    labeled = toked.select(
        "doc_id", lang_id("_toks", toks=F.col("_toks")).alias("pred_lang")
    )
    return stratified_cap(labeled, "pred_lang", "doc_id", quota=40)


# -- multi-table embedding near-dup: the recall lever on the dedup
#    side (per-pair recall 1-(1-(1-θ/π)^bits)^L — one bits=4 table
#    catches ~0.69 of θ≤18° pairs, two ~0.90). Same planted corpus as
#    embedding_neardup_pairs; candidates union over two plane slices
#    of the seed-7 LCG stream, slim rows carry the join+distinct -------


def _neardup_mt_buckets() -> str:
    planes = _lsh_planes(8)
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS t,\n"
        + _hyperplane_bucket_sql(planes[t * 4:(t + 1) * 4])
        + " AS bk FROM corpus"
        for t in range(2)
    )


@query(
    "embedding_neardup_multitable",
    """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id % 50 = 0
), b AS (
"""
    + _neardup_mt_buckets()
    + """
), cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM b x JOIN b y ON x.t = y.t AND x.bk = y.bk AND x.vec_id < y.vec_id
), e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM corpus
)
SELECT id_a, id_b, score FROM (
  SELECT id_a, id_b,
    round(list_inner_product(va.v, vb.v)
          / (sqrt(list_inner_product(va.v, va.v)) * sqrt(list_inner_product(vb.v, vb.v))), 4) AS score
  FROM cand JOIN e va ON va.vec_id = cand.id_a JOIN e vb ON vb.vec_id = cand.id_b
) WHERE score >= 0.95
""",
)
def q_embedding_neardup_mt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity_search import embedding_neardup_pairs

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    return embedding_neardup_pairs(
        emb.unionByName(planted), threshold=0.95, bits=4, seed=7, n_tables=2
    )


# -- flagship corpus-curation composition: quality gate → near-dup
#    loser removal (CC representatives survive) → language ID →
#    per-language representation cap. One oracle mirrors the WHOLE
#    pipeline — the point is that the operators compose: every stage
#    is the already-oracle-checked building block, chained ------------

_CURATION_SHINGLES = _SHINGLE_CTES.replace("FROM documents", "FROM good").replace(
    "WITH ",
    """WITH RECURSIVE good AS (
  SELECT doc_id, text FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 30
),
""",
    1,
)


@query(
    "corpus_curation",
    _CURATION_SHINGLES
    + f"""
, sig AS (
  SELECT doc_id, seed, min({_md5int_sql("sh || '#' || CAST(seed AS VARCHAR)")}) AS minhash
  FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed)
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         {_md5int_sql("string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)")} AS bh
  FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)
),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
),
reach AS (
  SELECT src AS id, src AS comp FROM edges
  UNION
  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
losers AS (
  SELECT id FROM (SELECT id, min(comp) AS comp FROM reach GROUP BY id) WHERE id <> comp
),
kept AS (
  SELECT doc_id, text FROM good WHERE doc_id NOT IN (SELECT id FROM losers)
),
labeled AS (
  SELECT doc_id, {_LANG_CASE_SQL} AS pred_lang
  FROM (SELECT doc_id, {_LANG_SCORE_SQL} FROM kept)
)
SELECT doc_id, pred_lang FROM (
  SELECT doc_id, pred_lang,
         row_number() OVER (PARTITION BY pred_lang ORDER BY doc_id) AS rn
  FROM labeled
) WHERE rn <= 50
""",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import stratified_cap
    from .functions.text_analysis import quality_features, tokens
    from .operators.text_dedup import connected_components

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    good = docs.filter(quality_features("text")["n_tokens"] >= 30)
    pairs = lsh_candidate_pairs(minhash_signatures(good))
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    kept = good.join(losers, "doc_id", "left_anti")
    toked = kept.select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
    labeled = toked.select(
        "doc_id", lang_id("_toks", toks=F.col("_toks")).alias("pred_lang")
    )
    return stratified_cap(labeled, "pred_lang", "doc_id", quota=50)


# -- PII redaction (training-data hygiene) ----------------------------

# PII is PLANTED deterministically (the synthetic corpus contains
# none): every doc gets an email + phone + IP appended, every 7th an
# SSN-shaped id. The oracle rebuilds the identical augmented text and
# chains the very same regex rules (PII_RULES — Java/RE2-portable
# syntax) in the same order.
_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || CASE WHEN doc_id % 7 = 0"
    " THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " ELSE '' END"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'"
)


def _pii_redact_sql(expr: str) -> str:
    from .functions.text_analysis import PII_RULES

    for _, pat, repl in PII_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


def _pii_flags_sql() -> str:
    from .functions.text_analysis import PII_RULES

    return ", ".join(
        f"CAST(regexp_matches(t, '{pat}') AS INT) AS has_{name}"
        for name, pat, _ in PII_RULES
    )


@query(
    "pii_redaction",
    f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
SELECT doc_id, {_pii_redact_sql('t')} AS clean_text, {_pii_flags_sql()}
FROM aug
""",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text_analysis import pii_flags, redact_pii

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        F.lit(" call +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1"),
    )
    d = docs.select("doc_id", aug.alias("_aug"))
    flags = pii_flags("_aug")
    return d.select(
        "doc_id",
        redact_pii("_aug").alias("clean_text"),
        *[flags[k].alias(k) for k in flags],
    )


# -- decontamination: benchmark k-gram overlap ------------------------


@query(
    "decontam_overlap",
    f"""
WITH cnorm AS (
  SELECT doc_id, string_split({_norm_sql('text')}, ' ') AS w FROM documents
),
csh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(w) >= 8
           THEN list_distinct([array_to_string(w[i:i+7], ' ')
                               for i in generate_series(1, len(w)-7)])
           ELSE [] END) AS sh
    FROM cnorm
  )
),
benchtext AS (
  SELECT doc_id AS bench_id,
         array_to_string(string_split_regex(trim(text), '\\s+')[1:12], ' ') AS text
  FROM documents WHERE doc_id % 50 = 0
),
bnorm AS (
  SELECT bench_id, string_split({_norm_sql('text')}, ' ') AS w FROM benchtext
),
bsh AS (
  SELECT DISTINCT bench_id, sh FROM (
    SELECT bench_id, unnest(
      CASE WHEN len(w) >= 8
           THEN list_distinct([array_to_string(w[i:i+7], ' ')
                               for i in generate_series(1, len(w)-7)])
           ELSE [] END) AS sh
    FROM bnorm
  )
)
SELECT c.doc_id,
       count(DISTINCT b.bench_id) AS n_bench_docs,
       count(DISTINCT c.sh) AS n_shared_shingles
FROM csh c JOIN bsh b ON c.sh = b.sh
GROUP BY c.doc_id
""",
)
def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark = the first 12 tokens of every 50th doc (a leaked eval
    prompt); contaminated docs are exactly those sharing an 8-gram."""
    from .operators.text_dedup import decontaminate

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 12)).alias(
            "text"
        ),
    )
    return decontaminate(docs, bench, k=8)


# -- sequence packing (context-window batch prep) ---------------------


@query(
    "pack_contexts",
    f"""
WITH t AS (
  SELECT doc_id,
         CAST({_md5int_sql("'pack#' || CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
         len(string_split_regex(trim(text), '\\s+')) AS nt
  FROM documents
),
c AS (
  SELECT doc_id, shard, nt,
         sum(nt) OVER (PARTITION BY shard ORDER BY doc_id) - nt AS start
  FROM t
)
SELECT doc_id, shard,
       CAST(floor(start / 512) AS BIGINT) AS ctx_idx,
       CAST(start % 512 AS BIGINT) AS ctx_offset,
       CAST(nt AS BIGINT) AS n_tokens
FROM c
""",
)
def q_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import pack_contexts
    from .functions.text_analysis import n_tokens

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    d = docs.select("doc_id", n_tokens("text").alias("nt"))
    return pack_contexts(d, "nt", ctx_size=512, n_shards=8)


# -- corpus_to_contexts: the TRAINING-PREP composed flagship (the
#    mirror of corpus_curation, which proves the cleaning stages):
#    quality gate → temperature rebalance (p^0.5 over language strata,
#    NULL-lang docs forming their own stratum) → deterministic
#    train/val/test hash split → train slice → sequence packing into
#    512-token contexts. ONE DuckDB oracle replays all four stages, so
#    the stage BOUNDARIES are proven — each stage's output is the
#    next's input, the composition a real pipeline runs. Every decision
#    is a deterministic md5-bucket projection, so the only shuffles in
#    the whole pipeline are the tiny stratum dim and the n_shards
#    packing windows. -----------------------------------------------------


@query(
    "corpus_to_contexts",
    f"""
WITH d AS (
  SELECT doc_id, coalesce(lang, '<null>') AS lk,
         len(string_split_regex(trim(text), '\\s+')) AS nt
  FROM documents
),
good AS (SELECT * FROM d WHERE nt >= 30),
lc AS (
  SELECT lk, count(*) AS n_l, pow(count(*), 0.5) AS w_l
  FROM good GROUP BY lk
),
tot AS (SELECT sum(w_l) AS s FROM lc),
kept AS (
  SELECT doc_id, nt FROM (
    SELECT g.doc_id, g.nt,
           round(least(1.0, 250 * lc.w_l / (tot.s * lc.n_l)), 6) AS p,
           {_md5int_sql("'temp#' || CAST(doc_id AS VARCHAR)")} % 10000 AS u
    FROM good g JOIN lc USING (lk) CROSS JOIN tot
  ) WHERE u < p * 10000
),
train AS (
  SELECT doc_id, nt FROM kept
  WHERE {_md5int_sql("'split#' || CAST(doc_id AS VARCHAR)")} % 10000 < 9000
),
t AS (
  SELECT doc_id,
         CAST({_md5int_sql("'pack#' || CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
         nt
  FROM train
),
c AS (
  SELECT doc_id, shard, nt,
         sum(nt) OVER (PARTITION BY shard ORDER BY doc_id) - nt AS start
  FROM t
)
SELECT doc_id, shard,
       CAST(floor(start / 512) AS BIGINT) AS ctx_idx,
       CAST(start % 512 AS BIGINT) AS ctx_offset,
       CAST(nt AS BIGINT) AS n_tokens
FROM c
""",
)
def q_corpus_to_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import hash_split, pack_contexts, temperature_keep
    from .functions.text_analysis import n_tokens

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select(
        "doc_id", "lang", n_tokens("text").alias("nt")
    )
    good = docs.filter(F.col("nt") >= 30)
    kept = temperature_keep(good, lang_col="lang", budget=250)
    train = kept.filter(hash_split("doc_id") == "train")
    return pack_contexts(train.select("doc_id", "nt"), "nt", ctx_size=512, n_shards=8)


# -- temperature-based stratum rebalancing (sampling.temperature_keep):
#    the p^alpha multilingual sampler — stratum stats are a tiny
#    broadcast dim, the keep decision a deterministic md5-bucket
#    projection; probabilities rounded to 6 decimals both sides so a
#    last-ulp pow() difference can't flip a keep decision ---------------


@query(
    "temperature_sample",
    f"""
WITH d AS (
  -- NULL-lang docs form their own stratum, mirroring the Spark side's
  -- coalesce-to-'<null>' key: a raw USING(lang) join would silently
  -- drop them (NULL never equi-joins)
  SELECT doc_id, lang, coalesce(lang, '<null>') AS lk FROM documents
), lc AS (
  SELECT lk, count(*) AS n_l, pow(count(*), 0.5) AS w_l
  FROM d GROUP BY lk
), tot AS (SELECT sum(w_l) AS s FROM lc)
SELECT doc_id, lang, round(p, 4) AS keep_prob FROM (
  SELECT d.doc_id, d.lang,
         round(least(1.0, 250 * lc.w_l / (tot.s * lc.n_l)), 6) AS p,
         {_md5int_sql("'temp#' || CAST(doc_id AS VARCHAR)")} % 10000 AS u
  FROM d JOIN lc USING (lk) CROSS JOIN tot
) WHERE u < p * 10000
""",
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import temperature_keep

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return temperature_keep(docs, alpha=0.5, budget=250).select(
        "doc_id", "lang", "keep_prob"
    )


# -- top-k n-gram vocabulary (text_analysis.top_ngrams): corpus
#    frequency profile — map-side partial agg per distinct gram,
#    TakeOrderedAndProject top-k, gram-lexicographic tie-break so the
#    rank-k cut is engine-deterministic ---------------------------------


@query(
    "vocab_top_ngrams",
    f"""
WITH norm AS (
  SELECT string_split({_norm_sql('text')}, ' ') AS w FROM documents
), grams AS (
  SELECT unnest(
    CASE WHEN len(w) >= 2
         THEN [array_to_string(w[i:i+1], ' ') for i in generate_series(1, len(w)-1)]
         ELSE [] END) AS ngram
  FROM norm
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n
FROM grams GROUP BY ngram
ORDER BY n DESC, ngram LIMIT 20
""",
)
def q_vocab_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text_analysis import top_ngrams

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return top_ngrams(docs, n=2, k_top=20)


# -- distributed k-means (operators/clustering.py): Lloyd's iterations
#    as Spark aggs — assignment is a no-shuffle projection over centroid
#    literals, the update shuffles only O(tasks*k*dim) partial means.
#    Every updated coordinate is rounded to 6 decimals, so the oracle
#    replays the SAME training schedule as unrolled CTEs and arrives at
#    digit-identical centroids: rounding re-synchronizes both engines
#    each iteration, float summation-order drift cannot compound --------


_KM_DIST = (
    "list_inner_product(e.v, e.v) - 2 * list_inner_product(e.v, c.c)"
    " + list_inner_product(c.c, c.c)"
)


def _km_block_ctes(
    src: str, prefix: str, k: int, n_iter: int, dim: int, seed: int
) -> list[str]:
    """Generalized form of _kmeans_ctes's iteration blocks: the same
    LCG-literal init / expanded-form distances / 6-decimal mean
    rounding / empty-cell coalesce, reading vectors from CTE ``src``
    and emitting {prefix}c0, {prefix}a1..{prefix}c{n_iter}."""
    from .operators.similarity_search import random_planes

    init = "\n  UNION ALL ".join(
        f"SELECT {i} AS cell, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]) AS c"
        for i, c in enumerate(random_planes(k, dim, seed))
    )
    parts = [f"{prefix}c0 AS (\n  {init}\n)"]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""{prefix}a{i} AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, e.v, c.cell, {_KM_DIST} AS d
          FROM {src} e CROSS JOIN {prefix}c{i - 1} c)
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""{prefix}m{i} AS (
  SELECT cell, list(m ORDER BY pos) AS c FROM (
    SELECT a.cell, t.pos, round(avg(a.v[CAST(t.pos AS INT) + 1]), 6) AS m
    FROM {prefix}a{i} a, range({dim}) t(pos)
    GROUP BY a.cell, t.pos
  ) GROUP BY cell
)"""
        )
        parts.append(
            f"""{prefix}c{i} AS (
  SELECT p.cell, coalesce(m.c, p.c) AS c
  FROM {prefix}c{i - 1} p LEFT JOIN {prefix}m{i} m ON m.cell = p.cell
)"""
        )
    return parts


def _kmeans_ctes(k: int = 8, n_iter: int = 3, dim: int = 64, seed: int = 19) -> str:
    """DuckDB mirror of clustering.kmeans_fit: the same LCG-literal
    init, the same expanded-form distances, the same 6-decimal rounding
    after each mean update, empty cells coalescing to the previous
    centroid. Produces CTEs e, c0, a1..aN, m1..mN, c1..cN — the ``e``
    source plus one _km_block_ctes schedule (the template exists once;
    this is just the full-vector instantiation)."""
    parts = [
        "e AS (\n  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v FROM embeddings\n)",
    ]
    parts += _km_block_ctes("e", "", k, n_iter, dim, seed)
    return "WITH " + ",\n".join(parts)


@query(
    "kmeans_cells",
    _kmeans_ctes(k=8, n_iter=3, dim=64, seed=19)
    + f""",
af AS (
  SELECT vec_id, cell, d FROM (
    SELECT vec_id, cell, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, c.cell, {_KM_DIST} AS d FROM e CROSS JOIN c3 c)
  ) WHERE rn = 1
)
SELECT af.cell, count(*) AS n_members,
       round(sqrt(list_inner_product(c.c, c.c)), 4) AS centroid_norm,
       round(sum(af.d), 2) AS inertia
FROM af JOIN c3 c ON c.cell = af.cell
GROUP BY af.cell, c.c
""",
)
def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import kmeans_cells

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return kmeans_cells(emb, k=8, n_iter=3, dim=64, seed=19)


# -- trained-centroid IVF ANN (clustering.ivf_trained_topk): the
#    data-adapted coarse quantizer — k-means centroids slot into the
#    IVF probe as literals, exactly the upgrade ivf_ann_topk's docstring
#    promises. Plan shape unchanged: assignment is a projection, probe
#    is a BroadcastHashJoin on cell, corpus never re-shuffles -----------


@query(
    "ivf_trained_topk",
    _kmeans_ctes(k=8, n_iter=3, dim=64, seed=19)
    + f""",
cc AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, e.v, c.cell, {_KM_DIST} AS d FROM e CROSS JOIN c3 c)
  ) WHERE rn = 1
),
cq AS (
  SELECT vec_id AS q, v AS qv, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, e.v, c.cell, {_KM_DIST} AS d
          FROM e CROSS JOIN c3 c WHERE e.vec_id % 100 = 0)
  ) WHERE rn <= 4
),
scored AS (
  SELECT cq.q, cc.vec_id,
    round(list_inner_product(qv, v)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 4) AS score
  FROM cq JOIN cc ON cc.cell = cq.cell AND cc.vec_id <> cq.q
)
SELECT q, vec_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY score DESC, vec_id) AS rn FROM scored
) WHERE rn <= 3
""",
)
def q_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import ivf_trained_topk, kmeans_fit

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    cents = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    return ivf_trained_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), cents, k=3, nprobe=4
    )


# -- SemDeDup-style semantic near-dup pruning (clustering.
#    semantic_neardup_pairs): trained-cell restriction turns the n²
#    pair space into Σ|cell|² ≈ n·(n/k); identical vectors always share
#    a cell, boundary-straddling near-dups are the documented recall
#    trade (the hyperplane-bucket family covers the other side) --------


@query(
    "semantic_neardup_pairs",
    _kmeans_ctes(k=8, n_iter=3, dim=64, seed=19)
    + f""",
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id % 50 = 0
), e2 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM corpus
), cells AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e2.vec_id, e2.v, c.cell, {_KM_DIST.replace('e.', 'e2.')} AS d
          FROM e2 CROSS JOIN c3 c)
  ) WHERE rn = 1
)
SELECT id_a, id_b, cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(list_inner_product(a.v, b.v)
          / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 4) AS cos
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
) WHERE cos >= 0.4
""",
)
def q_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroids train on the RAW corpus; the planted exact copies
    (every 50th vector under vec_id+10^7 — the embedding_neardup
    planting convention) only join the assignment/pairing stage, so
    the model is plant-independent and each copy must land in its
    original's cell and surface at cos=1. Threshold 0.4 keeps natural
    within-cell pairs in the result too (synthetic random vectors top
    out near cos 0.51 — real-embedding semantic dedup runs 0.9+)."""
    from .operators.clustering import kmeans_fit, semantic_neardup_pairs

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    return semantic_neardup_pairs(emb.unionByName(planted), cents, threshold=0.4)


# -- per-language quality-threshold calibration: exact interpolated
#    percentiles of the quality features per stratum — how a pipeline
#    derives its filter thresholds FROM the corpus distribution instead
#    of hard-coding them (one partial-agg shuffle; percentile is exact,
#    matching DuckDB quantile_cont as value_percentiles established) ----


@query(
    "quality_calibration",
    f"""
WITH t AS (
  SELECT lang,
         len(string_split_regex(trim(text), '\\s+')) AS nt,
         round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                        tk -> list_contains([{", ".join(f"'{s}'" for s in EN_STOPWORDS)}], tk))) AS DOUBLE)
               / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS sr
  FROM documents
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  round(quantile_cont(nt, 0.25), 4) AS p25_tokens,
  round(quantile_cont(nt, 0.5), 4) AS p50_tokens,
  round(quantile_cont(sr, 0.25), 4) AS p25_stopword
FROM t GROUP BY lang
""",
)
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text_analysis import quality_features

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    feats = quality_features("text")
    d = docs.select(
        "lang",
        feats["n_tokens"].alias("nt"),
        feats["stopword_ratio"].alias("sr"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(nt, 0.25)"), 4).alias("p25_tokens"),
        F.round(F.expr("percentile(nt, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(sr, 0.25)"), 4).alias("p25_stopword"),
    )


# -- corpus mixture report: per (source, lang) doc/token counts and the
#    doc share of the whole corpus — the report a pipeline reads before
#    setting mixing weights. Shares ride a single-partition window over
#    the already-aggregated (source×lang) rows, not the corpus ----------


@query(
    "source_mix_report",
    """
SELECT source, lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens,
  round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 4) AS doc_share
FROM documents GROUP BY source, lang
""",
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text_analysis import n_tokens

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens("text")).cast("bigint").alias("n_tokens"),
    )
    # single-partition window over the aggregated (source, lang) dim —
    # the bench-log "WindowExec: No Partition Defined" warning comes
    # from here and is DELIBERATE: input is ≤ |sources|×|langs| rows,
    # never the corpus (the alternative scalar cross join plans as a
    # BroadcastNestedLoopJoin)
    total = F.sum("n_docs").over(Window.partitionBy())
    return agg.withColumn(
        "doc_share", F.round(F.col("n_docs").cast("double") / total, 4)
    )


# -- first-seen dedup, batch form (streaming/dedup_stream.py
#    first_seen_batch — the oracle-checkable analogue of the TTL-state
#    streaming operator): earliest (ts, id) row per normalized-text
#    fingerprint. Duplicates planted at a LATER synthetic ts must lose
#    to their originals -------------------------------------------------


@query(
    "first_seen_docs",
    f"""
WITH corpus AS (
  SELECT doc_id, text, CAST(doc_id % 97 AS BIGINT) AS ts FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, CAST(500 AS BIGINT) AS ts
  FROM documents WHERE doc_id % 25 = 0
), fp AS (
  SELECT doc_id, ts,
    {_fingerprint_sql(_norm_sql('text'))} AS fingerprint
  FROM corpus
)
SELECT fingerprint, doc_id, ts AS first_ts FROM (
  SELECT fingerprint, doc_id, ts,
         row_number() OVER (PARTITION BY fingerprint ORDER BY ts, doc_id) AS rn
  FROM fp
) WHERE rn = 1
""",
)
def q_first_seen_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.dedup_stream import first_seen_batch

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    base = docs.withColumn("ts", (F.col("doc_id") % 97).cast("long"))
    dups = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .withColumn("ts", F.lit(500).cast("long"))
    )
    return first_seen_batch(base.unionByName(dups))


# -- bigram-LM document scoring (text_analysis.lm_doc_scores): the
#    CCNet/KenLM pretraining quality stage — add-alpha bigram model
#    trained on the corpus itself (a curated reference corpus slots in
#    with the identical plan), each doc scored by mean bigram
#    log-probability + perplexity. LM broadcasts; corpus shuffles once
#    on doc_id for the mean ---------------------------------------------


@query(
    "lm_doc_perplexity",
    f"""
WITH dw AS (
  SELECT doc_id, string_split({_norm_sql('text')}, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 2
         THEN [array_to_string(w[i:i+1], ' ') for i in generate_series(1, len(w)-1)]
         ELSE [] END) AS ngram
  FROM dw
), big AS (
  SELECT ngram, count(*) AS c_big FROM grams GROUP BY ngram
), ctx AS (
  SELECT split_part(ngram, ' ', 1) AS w1, count(*) AS c_ctx FROM grams GROUP BY 1
), voc AS (
  SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM dw)
), lm AS (
  SELECT b.ngram, ln((b.c_big + 0.5) / (c.c_ctx + 0.5 * voc.v)) AS logp
  FROM big b JOIN ctx c ON c.w1 = split_part(b.ngram, ' ', 1) CROSS JOIN voc
), per_doc AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(lm.logp), 4) AS avg_logp
  FROM grams g JOIN lm USING (ngram) GROUP BY g.doc_id
)
SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 2) AS ppl FROM per_doc
""",
)
def q_lm_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text_analysis import lm_doc_scores

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    return lm_doc_scores(docs)


# -- IVF-PQ ANN (clustering.pq_fit/pq_codes/ivfpq_topk): trained coarse
#    cells restrict candidates, PQ codes + ADC lookup tables score them
#    — the corpus side of the probe is the slim (id, cell, m codes)
#    frame, never the vectors. The oracle replays BOTH training
#    schedules (coarse k-means + m per-subspace codebooks) as unrolled
#    CTEs — 6-decimal rounding re-syncs engines per iteration, so
#    codes, tables and ADC sums are digit-identical ---------------------


def _ivfpq_sql(
    m: int = 4,
    k_codes: int = 8,
    pq_iter: int = 2,
    dim: int = 64,
    pq_seed: int = 41,
    nprobe: int = 4,
    k_top: int = 3,
    rerank_r: int | None = None,
) -> str:
    sub = dim // m
    parts: list[str] = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f"s{j} AS (\n  SELECT vec_id, v[{lo}:{hi}] AS v FROM e\n)")
        parts += _km_block_ctes(f"s{j}", f"p{j}", k_codes, pq_iter, sub, pq_seed + j)
        parts.append(
            f"""cd{j} AS (
  SELECT vec_id, cell AS code FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, c.cell, {_KM_DIST} AS d
          FROM s{j} e CROSS JOIN p{j}c{pq_iter} c)
  ) WHERE rn = 1
)"""
        )
    code_sel = ", ".join(f"cd{j}.code AS code{j}" for j in range(m))
    code_join = " ".join(f"JOIN cd{j} USING (vec_id)" for j in range(m))
    cb_join = "\n  ".join(
        f"JOIN p{j}c{pq_iter} cb{j} ON cb{j}.cell = cd.code{j}" for j in range(m)
    )
    terms = "\n      + ".join(
        f"(list_inner_product(qv[{j * sub + 1}:{(j + 1) * sub}], qv[{j * sub + 1}:{(j + 1) * sub}])"
        f" - 2 * list_inner_product(qv[{j * sub + 1}:{(j + 1) * sub}], cb{j}.c)"
        f" + list_inner_product(cb{j}.c, cb{j}.c))"
        for j in range(m)
    )
    return (
        _kmeans_ctes(k=8, n_iter=3, dim=dim, seed=19)
        + ",\n"
        + ",\n".join(parts)
        + f""",
cc AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, c.cell, {_KM_DIST} AS d FROM e CROSS JOIN c3 c)
  ) WHERE rn = 1
),
codes AS (
  SELECT cc.vec_id, cc.cell, {code_sel}
  FROM cc {code_join}
),
cq AS (
  SELECT vec_id AS q, v AS qv, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, e.v, c.cell, {_KM_DIST} AS d
          FROM e CROSS JOIN c3 c WHERE e.vec_id % 100 = 0)
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT cq.q, cd.vec_id,
    round({terms}, 4) AS adc
  FROM cq JOIN codes cd ON cd.cell = cq.cell AND cd.vec_id <> cq.q
  {cb_join}
)
{_ivfpq_tail(k_top, rerank_r)}
"""
    )


def _ivfpq_tail(k_top: int, rerank_r: int | None) -> str:
    """Final select of the IVF-PQ oracle: plain ADC top-k, or — when
    rerank_r is set — ADC top-R survivors re-scored with the EXACT
    expanded-form squared L2 distance (the same <c,c> - 2<q,c> + <q,q>
    term order the Spark side sums), rounded to 4 before the final
    (d2, id) rank, mirroring clustering.ivfpq_rerank_topk."""
    adc_rank = (
        "SELECT *, row_number() OVER (PARTITION BY q ORDER BY adc, vec_id) AS rn"
        " FROM scored"
    )
    if rerank_r is None:
        return f"SELECT q, vec_id, adc FROM (\n  {adc_rank}\n) WHERE rn <= {k_top}"
    return f""", topr AS (
  SELECT q, vec_id FROM ({adc_rank}) WHERE rn <= {rerank_r}
),
rr AS (
  SELECT t.q, t.vec_id,
         round(list_inner_product(cand.v, cand.v)
               - 2 * list_inner_product(qq.qv, cand.v)
               + list_inner_product(qq.qv, qq.qv), 4) AS d2
  FROM topr t
  JOIN e cand ON cand.vec_id = t.vec_id
  JOIN (SELECT vec_id AS q, v AS qv FROM e WHERE vec_id % 100 = 0) qq ON qq.q = t.q
)
SELECT q, vec_id, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY d2, vec_id) AS rn FROM rr
) WHERE rn <= {k_top}"""


@query("ivfpq_ann_topk", _ivfpq_sql())
def q_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import ivfpq_topk, kmeans_fit, pq_fit

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    coarse = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    books = pq_fit(emb, m=4, k=8, n_iter=2, dim=64, seed=41)
    return ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") % 100 == 0),
        coarse,
        books,
        k=3,
        nprobe=4,
    )


@query("ivfpq_rerank_topk", _ivfpq_sql(rerank_r=10))
def q_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC nominates R=10 survivors per query, exact squared-L2 decides
    the top-3 — the production IVF-PQ refinement (quantization error
    decides who is NOMINATED, never who WINS). The oracle replays both
    training schedules AND the two-stage rank."""
    from .operators.clustering import ivfpq_rerank_topk, kmeans_fit, pq_fit

    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    coarse = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    books = pq_fit(emb, m=4, k=8, n_iter=2, dim=64, seed=41)
    return ivfpq_rerank_topk(
        emb,
        emb.filter(F.col("vec_id") % 100 == 0),
        coarse,
        books,
        k=3,
        r=10,
        nprobe=4,
    )


# -- fuzzy decontamination (text_dedup.fuzzy_decontaminate): the
#    Jaccard-overlap complement of decontam_overlap's exact long-
#    shingle hit — benchmark = a 40-token excerpt of every 50th doc (a
#    truncated eval prompt breaks most 8-grams but keeps high 3-gram
#    Jaccard vs its source). Benchmark shingles broadcast; corpus
#    never shuffles for the probe. ----------------------------------------

_FUZZY_DECONTAM_JAC = (
    "round(CAST(s.n_shared AS DOUBLE) / (na.n_a + nb.n_b - s.n_shared), 4)"
)


@query(
    "fuzzy_decontam_pairs",
    f"""
WITH cnorm AS (
  SELECT doc_id, string_split({_norm_sql('text')}, ' ') AS w FROM documents
),
csh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 3
         THEN list_distinct([array_to_string(w[i:i+2], ' ')
                             for i in generate_series(1, len(w)-2)])
         ELSE [] END) AS sh
  FROM cnorm
),
benchtext AS (
  SELECT doc_id AS bench_id,
         array_to_string(string_split_regex(trim(text), '\\s+')[1:40], ' ') AS text
  FROM documents WHERE doc_id % 50 = 0
),
bnorm AS (
  SELECT bench_id, string_split({_norm_sql('text')}, ' ') AS w FROM benchtext
),
bsh AS (
  SELECT bench_id, unnest(
    CASE WHEN len(w) >= 3
         THEN list_distinct([array_to_string(w[i:i+2], ' ')
                             for i in generate_series(1, len(w)-2)])
         ELSE [] END) AS sh
  FROM bnorm
),
shared AS (
  SELECT c.doc_id, b.bench_id, count(*) AS n_shared
  FROM csh c JOIN bsh b USING (sh) GROUP BY c.doc_id, b.bench_id
),
na AS (SELECT doc_id, count(*) AS n_a FROM csh GROUP BY doc_id),
nb AS (SELECT bench_id, count(*) AS n_b FROM bsh GROUP BY bench_id)
SELECT doc_id, bench_id, {_FUZZY_DECONTAM_JAC} AS jaccard
FROM shared s JOIN na USING (doc_id) JOIN nb USING (bench_id)
WHERE {_FUZZY_DECONTAM_JAC} >= 0.2
""",
)
def q_fuzzy_decontam_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark = the first 40 tokens of every 50th doc; a corpus doc
    is flagged per bench doc at 3-gram Jaccard ≥ 0.2 — truncation that
    defeats the exact 8-gram pass still trips this one."""
    from .operators.text_dedup import fuzzy_decontaminate

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 40)).alias(
            "text"
        ),
    )
    return fuzzy_decontaminate(docs, bench, k=3, threshold=0.2)


# -- weighted sampling without replacement (sampling.weighted_sample):
#    Efraimidis–Spirakis A-Res with a stable hashed uniform — the
#    deterministic, append-stable, engine-auditable form of "sample n
#    docs proportional to length". --------------------------------------


@query(
    "weighted_sample_docs",
    f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         ({_md5int_sql("'wsample#' || CAST(doc_id AS VARCHAR)")} % 1000000 + 0.5)
           / 1000000.0 AS u
  FROM documents
)
SELECT doc_id, n_tokens, round(pow(u, 1.0 / n_tokens), 8) AS skey
FROM d WHERE n_tokens > 0
ORDER BY skey DESC, doc_id
LIMIT 100
""",
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import weighted_sample
    from .functions.text_analysis import n_tokens

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    d = docs.select("doc_id", n_tokens("text").cast("bigint").alias("n_tokens"))
    return weighted_sample(d, "n_tokens", n=100)


# -- distributed BPE training (functions/bpe.py): tokenizer
#    construction as the kmeans-style driver-model / cluster-data
#    split. The oracle replays the ENTIRE training schedule — per
#    round: pair counts over the symbolized word table, deterministic
#    argmax, double-bar literal replace — as unrolled CTEs, then the
#    vocabulary derivation, so every learned rule is proven. ------------


def _bpe_ctes(n_merges: int = 6) -> str:
    parts = [
        f"""wc AS (
  SELECT w, count(*) AS n FROM (
    SELECT unnest(string_split({_norm_sql('text')}, ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
)""",
        """s0 AS (
  SELECT w, n, '||' || regexp_replace(w, '(.)', '\\1||', 'g') AS sym FROM wc
)""",
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS (
  SELECT p[1] AS a, p[2] AS b, sum(n) AS c FROM (
    SELECT n, unnest(CASE WHEN len(t) >= 2
         THEN [[t[i], t[i+1]] for i in generate_series(1, len(t)-1)]
         ELSE [] END) AS p
    FROM (SELECT n, list_filter(string_split(sym, '||'), x -> x <> '') AS t
          FROM s{r - 1})
  ) GROUP BY 1, 2
)"""
        )
        parts.append(f"m{r} AS (SELECT a, b FROM p{r} ORDER BY c DESC, a, b LIMIT 1)")
        # LEFT JOIN ON TRUE, not CROSS JOIN: when the pair space is
        # exhausted before n_merges, m{r} is empty — the engine's
        # bpe_fit stops early and keeps the last state, so the oracle
        # must pass sym through unchanged rather than zero the table.
        parts.append(
            f"""s{r} AS (
  SELECT w, n,
         CASE WHEN m.a IS NULL THEN sym
              ELSE replace(sym, '|' || m.a || '||' || m.b || '|',
                           '|' || m.a || m.b || '|') END AS sym
  FROM s{r - 1} LEFT JOIN m{r} m ON TRUE
)"""
        )
    return "WITH " + ",\n".join(parts)


def _bpe_sql(n_merges: int = 6, k_top: int = 30) -> str:
    return (
        _bpe_ctes(n_merges)
        + f"""
SELECT symbol, CAST(sum(n) AS BIGINT) AS n FROM (
  SELECT n, unnest(list_filter(string_split(sym, '||'), x -> x <> '')) AS symbol
  FROM s{n_merges}
) GROUP BY symbol ORDER BY n DESC, symbol LIMIT {k_top}"""
    )


@query("bpe_vocab_topk", _bpe_sql(n_merges=6, k_top=30))
def q_bpe_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six learned merges over the corpus word table, then the top-30
    subword vocabulary — a wrong rule in ANY round changes the output,
    so the whole schedule is oracle-pinned."""
    from .functions.bpe import bpe_vocab

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    return bpe_vocab(docs, n_merges=6, k_top=30)


@query(
    "bpe_doc_token_counts",
    _bpe_ctes(6)
    + f""",
wsub AS (
  SELECT w,
         CAST(len(list_filter(string_split(sym, '||'), x -> x <> '')) AS BIGINT)
           AS n_sub
  FROM s6
),
dt AS (
  SELECT doc_id, unnest(string_split({_norm_sql('text')}, ' ')) AS w FROM documents
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords
FROM (SELECT * FROM dt WHERE w <> '') JOIN wsub USING (w)
GROUP BY doc_id
""",
)
def q_bpe_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-by-vocabulary-lookup: per-doc subword budgets under the
    six learned merges — the token accounting a training run sizes
    against."""
    from .functions.bpe import bpe_doc_token_counts

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    return bpe_doc_token_counts(docs, n_merges=6)


# -- overlapping document chunking (text_analysis.chunk_documents):
#    the embedding/RAG windowing stage — fixed-stride overlapping
#    windows over the normalized token stream, map-only (no Exchange
#    in the plan). -----------------------------------------------------


@query(
    "chunk_docs",
    f"""
WITH d AS (
  SELECT doc_id, list_filter(string_split({_norm_sql('text')}, ' '), x -> x <> '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(CASE WHEN len(t) >= 1
       THEN [j for j in generate_series(0, (len(t)-1)//24)]
       ELSE [] END) AS i
  FROM d
),
ch AS (
  SELECT doc_id, i, t[(i*24+1):least(i*24+32, len(t))] AS sl FROM idx
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(i*24 + 1 AS INT) AS start_tok,
       CAST(len(sl) AS INT) AS n_chunk_tokens,
       array_to_string(sl, ' ') AS chunk_text
FROM ch
""",
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token windows at stride 24 (8-token overlap) over every
    document — the chunk table an embedding pass vectorizes."""
    from .functions.text_analysis import chunk_documents

    docs = _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")
    return chunk_documents(docs, window=32, stride=24)


# -- Johnson–Lindenstrauss projected IVF ANN (similarity_search.
#    rp_project + clustering.kmeans_fit/probe_topk): project 64→16
#    dims with deterministic LCG planes, train the coarse quantizer
#    IN the reduced space, probe there — every downstream byte 4×
#    smaller. The oracle replays projection (same plane literals),
#    the reduced-space k-means schedule, and the probe. ------------------


def _rp_ivf_sql(
    out_dim: int = 16,
    in_dim: int = 64,
    rp_seed: int = 73,
    k: int = 8,
    n_iter: int = 2,
    km_seed: int = 29,
    nprobe: int = 4,
    k_top: int = 3,
) -> str:
    from .operators.similarity_search import random_planes

    planes = random_planes(out_dim, in_dim, rp_seed)
    proj = ",\n    ".join(
        f"list_inner_product(v, CAST([{', '.join(repr(x) for x in p)}] AS DOUBLE[]))"
        for p in planes
    )
    blocks = _km_block_ctes("ep", "r", k, n_iter, out_dim, km_seed)
    return (
        f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ep AS (
  SELECT vec_id, [{proj}] AS v FROM e
),
"""
        + ",\n".join(blocks)
        + f""",
cc AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, e.v, c.cell, {_KM_DIST} AS d FROM ep e CROSS JOIN rc{n_iter} c)
  ) WHERE rn = 1
),
cq AS (
  SELECT vec_id AS q, v AS qv, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT e.vec_id, e.v, c.cell, {_KM_DIST} AS d
          FROM ep e CROSS JOIN rc{n_iter} c WHERE e.vec_id % 100 = 0)
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT cq.q, cc.vec_id,
    round(list_inner_product(qv, v)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 4) AS score
  FROM cq JOIN cc ON cc.cell = cq.cell AND cc.vec_id <> cq.q
)
SELECT q, vec_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY score DESC, vec_id) AS rn FROM scored
) WHERE rn <= {k_top}
"""
    )


@query("rp_ivf_topk", _rp_ivf_sql())
def q_rp_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduced-space ANN: JL-project, train the quantizer in 16 dims,
    probe in 16 dims — cosine scored on the PROJECTED vectors (the
    reduced space IS the index's geometry; exact re-rank in the
    original space composes like ivfpq_rerank_topk)."""
    from .operators.clustering import argmin_cell, cell_rank, kmeans_fit
    from .operators.similarity_search import probe_topk, random_planes, rp_project

    planes = random_planes(16, 64, 73)
    emb = _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    proj = rp_project(emb, planes)
    cents = kmeans_fit(proj, "rv", k=8, n_iter=2, dim=16, seed=29)
    c = proj.select(
        "vec_id",
        F.col("rv").alias("cv"),
        argmin_cell(F.col("rv"), cents).alias("cell"),
    )
    q = rp_project(emb.filter(F.col("vec_id") % 100 == 0), planes)
    q = q.select(
        F.col("vec_id").alias("q"),
        F.col("rv").alias("qv"),
        F.explode(F.slice(cell_rank(F.col("rv"), cents), 1, 4)).alias("pr"),
    ).select("q", "qv", F.col("pr")["i"].alias("cell"))
    return probe_topk(c, q, 3, "vec_id")


# ---------------------------------------------------------------------
# Curated driver proof-window ordering
# ---------------------------------------------------------------------
# The correctness driver records the FIRST 50 entries of queries()
# iteration order. The registry has more queries than slots, so the
# window is a curated budget: every §2-core operator proof plus every
# PREVIOUSLY-SHIPPED not-yet-driver-proven query sits inside the first
# 50; queries whose operator is transitively proven by another
# in-window query (and which already hold a green row in
# CORRECTNESS_r01/r02) rotate to the tail. A query introduced in the
# CURRENT round may start in the tail when the window is full of
# higher-priority proofs (pack_contexts in r03 — local-gate green at
# sf0.01 and sf0.1, rotates into the window next round). The rotation
# is documented in README.md §correctness.
QUERY_ORDER: list[str] = [
    # EP1 flagship + CDC core (W1/J1/M1-M16/F4/S8/S10)
    "cdc_apply",
    "cdc_dedup_max_lsn",
    "cdc_dedup_salted",
    "cdc_dup_keys",
    "cdc_route_counts",
    "cdc_lookup_join",
    "cdc_apply_replace_only",
    "cdc_apply_perfect_gate",
    "field_audit_diffs",
    "local_id_assign",
    "conv_sessions",
    # OLAP / window / set ops
    "asof_plan_lookup",
    "range_join_session_events",
    "rollup_route_metrics",
    "keys_new_in_feed",
    # r05: the two formerly rows-only queries, reworked with real
    # derived oracles (HLL ±5% assertion; levenshtein cross-check +
    # InDel sandwich band) — new oracle forms, so they take window
    # slots for first attestation (displacing value_percentiles and
    # quality_calibration, both r03/r04 driver-green; percentile and
    # calibration shapes stay pinned by rollup_route_metrics and
    # text_quality in-window).
    "approx_distinct_convs",
    "fuzzy_ratio_pairs",
    # LLM-pipeline: dedup family
    "exact_dedup",
    "minhash_lsh_pairs",
    "ngram_neardup_pairs",
    "simhash_banded_pairs",
    "passage_dup_pairs",
    # new r05: real-codec decode proofs — media_decode_features (BMP/
    # PPM + closed-form container sizes) and media_decode_compressed
    # (same pixel oracle with the id%3==1 rows as real zlib PNG; no
    # n_bytes column — DEFLATE size has no closed form). Both are
    # new-in-r05, never driver-proven, so both sit in-window; the
    # second slot comes from lsh_multitable_ann_topk (r04 driver-green;
    # the multi-table LSH bucket-join shape stays pinned in-window by
    # embedding_neardup_multitable, which runs the same banding).
    "media_decode_features",
    "media_decode_compressed",
    # LLM-pipeline: similarity search / clustering
    "ivf_ann_topk",
    "kmeans_cells",
    "ivf_trained_topk",
    "semantic_neardup_pairs",
    "embedding_neardup_multitable",
    # LLM-pipeline: text analysis / sampling / composed flagships
    "split_contamination",
    "text_quality",
    "pii_redaction",
    "decontam_overlap",
    "hash_split_assign",
    "stratified_cap_by_lang",
    "temperature_sample",
    "vocab_top_ngrams",
    "pack_contexts",
    "source_mix_report",
    "corpus_to_contexts",
    "corpus_curation",
    # r05 rotation IN: every r04 local-gate-only query takes a window
    # slot for its first driver attestation, plus cdc_dedup_salted (the
    # north-star skew path, back in-window for a current-round row).
    "lm_doc_perplexity",
    "ivfpq_ann_topk",
    "ivfpq_rerank_topk",
    "fuzzy_decontam_pairs",
    "weighted_sample_docs",
    "bpe_vocab_topk",
    "bpe_doc_token_counts",
    "chunk_docs",
    "rp_ivf_topk",
    # ---- rotation tail (slot 51+): operators transitively proven by an
    # in-window query; each holds a green driver row from a prior round
    # (per-query last-proven round table: README §"Correctness proof
    # window & rotation") and re-passes the local gate at HEAD each
    # round. r04 rotation: pack_contexts / quality_calibration /
    # source_mix_report / first_seen_docs promoted into the window
    # (shipped r03 with local-gate proofs only) plus the new
    # simhash_banded_pairs; displaced — approx_distinct_convs (an HLL
    # estimate has no hash oracle by definition: err:no_oracle in
    # r01-r03, ±5%-pinned by test_functions instead, the slot proved
    # nothing), cdc_dedup_salted (r01+r03 green; W1 pinned in-window by
    # cdc_dedup_max_lsn against the SAME oracle + property-tested
    # equal), exists_dup_keys (r01+r03 green; J2 semi-join shape pinned
    # by the in-window merge family), mat_type_analysis (r01+r03 green;
    # §2.8 plugin hooks pinned by test_policy), simhash_dup_clusters
    # (r01+r02+r03 green; the signature family now pinned in-window by
    # simhash_banded_pairs, which computes the identical fingerprints
    # plus banding), conv_turns_ordered (r01+r02+r03 green; W3 held the
    # longest streak in the registry — displaced for corpus_to_contexts).
    # Earlier rotations (r03): embedding_cosine_topk and
    # topk_orders_per_segment (covered by the ANN family and the
    # stratified-cap WindowGroupLimit), embedding_neardup_pairs (the
    # multitable variant runs a superset of its path),
    # multimodal_features (media_resize and frame_sample_counts pin the
    # mapInPandas plumbing from the tail), windowed_metrics (A2 counters
    # pinned by cdc_route_counts + rollup_route_metrics),
    # fuzzy_perfect_pairs (F3 perfect path pinned by
    # cdc_apply_perfect_gate), dup_group_members (A1 pinned by
    # cdc_dup_keys).
    # Mid-r04 rotation: split_contamination and passage_dup_pairs
    # (introduced this round, never driver-proven) moved INTO the
    # window, displacing dedup_components and lang_id — both r01-r03
    # green AND transitively pinned in-window by corpus_curation, whose
    # end-to-end oracle replays the connected-components contraction
    # and the lang-marker scoring verbatim.
    # r05 rotation OUT (making room for the nine r04 local-gate-only
    # queries + cdc_dedup_salted): ten multi-round-green queries whose
    # operators stay pinned in-window or by pinned tests —
    # normalize_text + key_extraction (F1/F2/F5/F6/P1-P3/P7: the
    # normalize→key path runs inside in-window cdc_apply;
    # test_normalize_text pins the regex semantics), pipe_parse_derive
    # + conditional_move + map_lookup_location (F7-F9/M8-M9/M11-M13/J4:
    # test_policy replays each transform against golden frames),
    # online_classifier_counts (P8/A5: routing pinned by in-window
    # cdc_route_counts), mismatch_join (J3: comparison-join shape under
    # in-window cdc_lookup_join), dup_role_report (A6: r02-r04 green),
    # field_change_counts (A3: the groupBy rollup of in-window
    # field_audit_diffs, same audit source), keys_touched_overlap
    # (semi-join twin of in-window keys_new_in_feed over the same
    # key sets).
    # Mid-r05: lsh_multitable_ann_topk (r04 driver-green) rotated out
    # to make room for media_decode_compressed; its multi-table LSH
    # banding stays pinned in-window by embedding_neardup_multitable.
    "lsh_multitable_ann_topk",
    "first_seen_docs",
    "normalize_text",
    "key_extraction",
    "pipe_parse_derive",
    "conditional_move",
    "map_lookup_location",
    "online_classifier_counts",
    "mismatch_join",
    "dup_role_report",
    "field_change_counts",
    "keys_touched_overlap",
    "dedup_components",
    "lang_id",
    "value_percentiles",
    "quality_calibration",
    "exists_dup_keys",
    "mat_type_analysis",
    "simhash_dup_clusters",
    "conv_turns_ordered",
    "dup_group_members",
    "embedding_neardup_pairs",
    "multimodal_features",
    "windowed_metrics",
    "fuzzy_perfect_pairs",
    "embedding_cosine_topk",
    "topk_orders_per_segment",
    "pricing_summary",
    "jaccard_pairs",
    "minhash_signatures",
    "simhash_16",
    "lsh_ann_topk",
    "token_counts",
    "doc_fingerprint",
    "frame_sample_counts",
    "json_serialize",
    "tag_classify",
    "conv_sessions_salted",
    "media_resize",
]

_missing = set(QUERIES) - set(QUERY_ORDER)
_unknown = set(QUERY_ORDER) - set(QUERIES)
if _missing or _unknown:  # pragma: no cover - registration-time guard
    raise RuntimeError(
        f"QUERY_ORDER out of sync: missing={sorted(_missing)} unknown={sorted(_unknown)}"
    )

#: registry views in curated order (consumed by __spark_entry__).
ORDERED_QUERIES = {k: QUERIES[k] for k in QUERY_ORDER}
ORDERED_ORACLES = {k: ORACLES[k] for k in QUERY_ORDER if k in ORACLES}
