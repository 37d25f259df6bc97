"""Similarity search over embedding columns (array<float>):

- brute-force cosine top-k — the exact baseline: broadcast the (small)
  query set against the full corpus, JVM-side zip_with/aggregate dot
  products, window top-k;
- random-hyperplane LSH bucketed ANN — the scale path: both sides hash
  to a bucket from the signs of <vec, plane_i> against deterministic
  random hyperplanes; the join is bucket-local, touching
  ~corpus/2^bits candidates per query instead of all rows. (Signs of
  the leading components — round 1's family — are degenerate on
  anisotropic real embeddings, where most variance lives in a few
  components and most docs share a bucket; random hyperplanes are
  orientation-free.)

At 100 TB the corpus side stays partitioned; only queries broadcast.
All arithmetic is double (cast from float32 once) so the oracle's
computation is bit-identical.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LSH_BITS = 4


def random_planes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via a fixed 64-bit LCG
    (Knuth MMIX constants) — no RNG-library state, so the exact same
    literals reproduce in any engine (the DuckDB oracle embeds them as
    SQL text). Components uniform in [-1, 1), rounded to 6 decimals so
    decimal→double parsing is bit-identical everywhere. Random
    hyperplanes make the hash family orientation-free: leading-component
    signs are a degenerate family on anisotropic real embeddings (most
    mass in few components → most docs share a bucket)."""
    out = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
            row.append(round((state >> 11) / float(1 << 53) * 2.0 - 1.0, 6))
        out.append(row)
    return out


def hyperplane_bucket(vec_col, planes: list[list[float]]):
    """LSH bucket: bit i = sign of <vec, plane_i>. Pure Catalyst
    (zip_with/aggregate over literal arrays) — JVM-side. The HOF form
    is deliberate: see _dot on why unrolled literal dots lose."""
    v = _as_double(vec_col)
    expr = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        expr = expr + F.when(_dot(v, p) > 0, F.lit(2 ** i)).otherwise(0)
    return expr


def scaled_bits(n_rows: int, target_bucket_size: int = 256,
                min_bits: int = 2, max_bits: int = 24) -> int:
    """Bucket-width schedule: 2^bits ≈ n/target so expected bucket size
    stays ~target as the corpus grows — within-bucket pairing is
    quadratic in bucket size, so a FIXED bits turns linear growth into
    quadratic blow-up (the round-1 scale cap this replaces)."""
    if n_rows <= target_bucket_size:
        return min_bits
    return max(min_bits, min(max_bits, math.ceil(math.log2(n_rows / target_bucket_size))))


def _dot(a, b):
    """Inner product <a, b> of two array columns, as the
    ``aggregate(zip_with(...))`` fold ``((0.0 + a0*b0) + a1*b1) + ...``:
    IEEE addition order is pinned, so the DuckDB oracles reproduce it
    bit for bit. Unrolled ``a[i] * b[i]`` chains were measured slower
    in every context (non-JIT-able giant methods in joins, per-stage
    compile cost, CollapseProject blow-up) and removed; OPTIMIZATION_r06.md
    has the numbers."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _check_dim(
    df: DataFrame, vec_col: str, dim: int, op: str, strict: bool = False
) -> None:
    """Fail loudly on a dim mismatch: zip_with pads the shorter array
    with nulls, null propagates through the dot product, every
    `when(dot > 0)` falls through, and EVERY row hashes to bucket 0 —
    a silent disguised cross join.

    Default mode probes ONE row (first() — cheap, catches the common
    wrong-`dim` argument) but misses a RAGGED corpus whose later rows
    differ. ``strict=True`` runs a min(size)/max(size) aggregate over
    the whole column — one cheap scan-only job, no shuffle beyond a
    2-value agg — and catches ragged rows too; use it when the corpus
    source doesn't enforce a fixed embedding length."""
    if strict:
        row = df.select(
            F.min(F.size(F.col(vec_col))).alias("lo"),
            F.max(F.size(F.col(vec_col))).alias("hi"),
            # min/max SKIP nulls — count them separately or a corpus of
            # null vectors would sail through the "strict" check and
            # hit exactly the bucket-0 failure this guard exists for
            F.sum(F.col(vec_col).isNull().cast("long")).alias("n_null"),
        ).first()
        if row is not None and (row.n_null or 0) > 0:
            raise ValueError(
                f"{op}: {row.n_null} null {vec_col} vectors — null rows "
                "null-propagate through the dot product and bucket to 0 "
                "(a disguised cross join); filter them out first"
            )
        if row is not None and row.lo is not None and not (row.lo == row.hi == dim):
            raise ValueError(
                f"{op}: embedding lengths range [{row.lo}, {row.hi}], "
                f"declared dim={dim} — ragged/mismatched vectors would "
                "null-pad and bucket rows to 0 (a disguised cross join)"
            )
        return
    row = df.select(F.size(F.col(vec_col)).alias("n")).first()
    if row is not None and row.n != dim:
        raise ValueError(
            f"{op}: embedding length {row.n} != declared dim={dim} — "
            "plane/centroid literals would null-pad and bucket every row "
            "to 0 (a disguised cross join); pass the actual dim"
        )


def _as_double(col):
    # Cast, not F.transform(x -> cast): ArrayType Cast is codegen'd,
    # while higher-order transform is CodegenFallback (interpreted).
    # Element-wise float->double widening is exact either way.
    return col.cast("array<double>")


def _cosine(a, b):
    """Rounded cosine similarity — the single definition all three
    operators (and their DuckDB oracles) must stay bit-identical to."""
    return F.round(_dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))), 4)


def _norm(v):
    """sqrt(<v, v>) — the cosine denominator factor. Pair-scoring paths
    materialize this ONCE PER ROW below the join (projects do not
    collapse across a Join, so CollapseProject cannot inline it back
    into the per-pair expression) and score with
    ``round(dot/(na*nb), 4)`` — the same multiplications on the same
    values as ``_cosine``, so results are bit-identical while each
    candidate pair pays 1 dot instead of 3 (guide §2.3: compute on the
    small side of the fan-out)."""
    return F.sqrt(_dot(v, v))


def _pair_cosine(dot_expr, na, nb):
    """round(<a,b>/(|a|·|b|), 4) from a pair dot and two precomputed
    per-row norms — bit-identical to ``_cosine`` (same value, same
    operation order in the denominator product)."""
    return F.round(dot_expr / (na * nb), 4)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine: returns (q, vec_id, score) with
    deterministic (score desc, vec_id) tie-break."""
    q = queries.select(
        F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("qv")
    )
    q = q.select("q", "qv", _norm(F.col("qv")).alias("_qn"))
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    c = c.select(id_col, "cv", _norm(F.col("cv")).alias("_cn"))
    scored = F.broadcast(q).crossJoin(c).filter(F.col("q") != F.col(id_col))
    scored = scored.select(
        "q",
        id_col,
        _pair_cosine(
            _dot(F.col("qv"), F.col("cv")), F.col("_qn"), F.col("_cn")
        ).alias("score"),
    )
    w = Window.partitionBy("q").orderBy(F.col("score").desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 bits: int = LSH_BITS, dim: int = 64, seed: int = 7,
                 strict_dim: bool = False) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's
    hyperplane-sign bucket — the bucket equi-join replaces the cross
    join, so the probe cost scales with corpus/2^bits. Same output
    shape as cosine_topk."""
    _check_dim(corpus, vec_col, dim, "lsh_ann_topk", strict=strict_dim)
    planes = random_planes(bits, dim, seed)
    q = queries.select(
        F.col(id_col).alias("q"),
        _as_double(F.col(vec_col)).alias("qv"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = q.select("q", "qv", "bucket", _norm(F.col("qv")).alias("_qn"))
    c = corpus.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("cv"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    c = c.select(id_col, "cv", "bucket", _norm(F.col("cv")).alias("_cn"))
    scored = F.broadcast(q).join(c, "bucket").filter(F.col("q") != F.col(id_col))
    scored = scored.select(
        "q",
        id_col,
        _pair_cosine(
            _dot(F.col("qv"), F.col("cv")), F.col("_qn"), F.col("_cn")
        ).alias("score"),
    )
    w = Window.partitionBy("q").orderBy(F.col("score").desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _cell_scores(v, centroids: list[list[float]]):
    """Array of struct(s=<v,c_i>, negi=-i, i) — struct sort order is
    lexicographic, so sort_array(desc) ranks by score desc then i asc
    (negi desc), matching the oracle's ORDER BY s DESC, i. HOF dots
    by design (see _dot)."""
    return F.array(
        *[
            F.struct(
                _dot(v, F.array(*[F.lit(x) for x in c])).alias("s"),
                F.lit(-i).alias("negi"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(centroids)
        ]
    )


def probe_topk(
    corpus_cells: DataFrame,
    query_cells: DataFrame,
    k: int,
    id_col: str,
) -> DataFrame:
    """Shared IVF probe tail (random-direction AND k-means-trained
    families — clustering.ivf_trained_topk): bucket equi-join on
    ``cell`` with the query side broadcast, self-pair filter,
    rounded-cosine scoring, deterministic (score desc, id) per-query
    top-k. Inputs: corpus_cells(id_col, cv, cell) and
    query_cells(q, qv, cell) — one row per probed cell. r06: both
    norms are materialized below the join (projects do not collapse
    across a Join), so each candidate pays ONE dot instead of three —
    bit-identical scores, ~3× on the probe stage at sf1.0."""
    corpus_cells = corpus_cells.withColumn("_cn", _norm(F.col("cv")))
    query_cells = query_cells.withColumn("_qn", _norm(F.col("qv")))
    scored = (
        F.broadcast(query_cells)
        .join(corpus_cells, "cell")
        .filter(F.col("q") != F.col(id_col))
    )
    scored = scored.select(
        "q",
        id_col,
        _pair_cosine(
            _dot(F.col("qv"), F.col("cv")), F.col("_qn"), F.col("_cn")
        ).alias("score"),
    )
    w = Window.partitionBy("q").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 11,
    strict_dim: bool = False,
) -> DataFrame:
    """IVF-style ANN — the coarse-quantizer alternative to LSH: corpus
    vectors are assigned to their argmax-inner-product cell among
    ``n_cells`` deterministic centroid directions (the same LCG-literal
    trick as the hyperplanes, so the DuckDB oracle reproduces the
    index exactly); each query probes its ``nprobe`` best cells. Probe
    cost ≈ nprobe/n_cells of the corpus per query, tunable at query
    time without rebuilding the index — the lever LSH lacks.

    Physically: cell assignment is pure Catalyst (sort_array over a
    literal struct array, no UDF, no shuffle), the probe is a bucket
    equi-join on cell — corpus shuffles once on its cell key, queries
    broadcast. Each (q, candidate) arises in exactly one cell, so no
    distinct is needed. At 100 TB the cell column is precomputed and
    the corpus bucketed/partitioned by it, turning probes into
    partition-pruned scans; data-trained (k-means) centroids slot in
    by passing literals — the plan shape is unchanged."""
    _check_dim(corpus, vec_col, dim, "ivf_ann_topk", strict=strict_dim)
    centroids = random_planes(n_cells, dim, seed)
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    c = c.select(
        id_col,
        "cv",
        F.sort_array(_cell_scores(F.col("cv"), centroids), asc=False)[0]["i"].alias(
            "cell"
        ),
    )
    q = queries.select(F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("qv"))
    q = q.select(
        "q",
        "qv",
        F.explode(
            F.slice(
                F.sort_array(_cell_scores(F.col("qv"), centroids), asc=False),
                1,
                nprobe,
            )["i"]
        ).alias("cell"),
    )
    return probe_topk(c, q, k, id_col)


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int | None = None,
    dim: int = 64,
    seed: int = 7,
    target_bucket_size: int = 256,
    n_tables: int = 1,
    strict_dim: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection — the dedup-family
    member over vectors (brief: 'embedding-cosine near-dup'). Candidate
    pairs come from a random-hyperplane LSH bucket equi-join (never a
    cross join); survivors have rounded cosine ≥ threshold, oriented
    id_a < id_b. At scale the bucket join shuffles each side once on
    the bucket key and hot buckets split via AQE.

    ``bits=None`` (default) sizes the bucket count from the corpus:
    2^bits ≈ n/target_bucket_size, keeping within-bucket pairing cost
    ~n·target instead of quadratic (one cheap count() job up front —
    at 100 TB read it off table metadata instead). Pass an explicit
    ``bits`` for a pinned, count-free plan (the oracle-checked driver
    query does).

    ``n_tables`` is the recall lever: per-pair recall is
    1-(1-(1-θ/π)^bits)^L for angle θ — at threshold 0.95 (θ ≤ 18°) one
    bits=4 table catches ~0.69 of true near-dup pairs, four catch
    ~0.99. L > 1 switches to the slim-row shape of
    lsh_multitable_ann_topk: (id, table, bucket) rows carry the
    candidate self-join and distinct, vectors join back once for
    scoring — exact duplicates collide in every table, so L only adds
    candidates, never loses any (union over tables)."""
    _check_dim(corpus, vec_col, dim, "embedding_neardup_pairs", strict=strict_dim)
    if bits is None:
        bits = scaled_bits(corpus.count(), target_bucket_size)
    all_planes = random_planes(n_tables * bits, dim, seed)
    if n_tables == 1:
        # NOT checkpointed (measured negative, r06 continuation): both
        # self-join sides do recompute this projection, but the work is
        # one cast + bits plane dots + a norm per row, while a
        # materialize-once checkpoint has to write the full dim-double
        # vectors to executor storage — interleaved A/B read flat to
        # worse with the checkpoint (sf0.1 exec 1.00 s plain vs 1.24 s
        # checkpointed). The pair-scoring join dominates this operator,
        # not the side projections.
        bucketed = corpus.select(
            F.col(id_col),
            _as_double(F.col(vec_col)).alias("v"),
            hyperplane_bucket(F.col(vec_col), all_planes).alias("bucket"),
        ).withColumn("_n", _norm(F.col("v")))
        a = bucketed.select(
            F.col(id_col).alias("id_a"), F.col("v").alias("va"), "bucket",
            F.col("_n").alias("_na"),
        )
        b = bucketed.select(
            F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "bucket",
            F.col("_n").alias("_nb"),
        )
        j = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
        # Pair dot stays the HOF aggregate, NOT an unrolled
        # chain: the threshold filter is pushed into the SortMergeJoin
        # condition, and in that (non-whole-stage-codegen) context the
        # interpreted HOF — one eval() with a tight primitive loop —
        # beats the 260-node unrolled tree ~6× (interleaved A/B at
        # sf1.0: 14.9 s vs 94 s; a Generate barrier that forces a
        # Project context costs +50% in row materialization, 22 s).
        # The win here is the precomputed norms: 1 dot per candidate
        # instead of 3 (old form 42-48 s → 14.9 s, same results).
        return (
            j.select(
                "id_a",
                "id_b",
                _pair_cosine(
                    _dot(F.col("va"), F.col("vb")), F.col("_na"), F.col("_nb")
                ).alias("score"),
            )
            .filter(F.col("score") >= threshold)
        )
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                hyperplane_bucket(
                    F.col(vec_col), all_planes[t * bits:(t + 1) * bits]
                ).alias("bk"),
            )
            for t in range(n_tables)
        ]
    )
    # NOT checkpointed — same measured-negative rationale as the
    # n_tables=1 branch (the vector-carrying frames dominate the cost
    # of this operator's joins, not the slim projections).
    slim = corpus.select(F.col(id_col), F.explode(tables).alias("tb")).select(
        id_col, F.col("tb.t").alias("t"), F.col("tb.bk").alias("bk")
    )
    a = slim.select(F.col(id_col).alias("id_a"), "t", "bk")
    b = slim.select(F.col(id_col).alias("id_b"), "t", "bk")
    cand = (
        a.join(b, ["t", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    e = corpus.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("_n", _norm(F.col("v")))
    va = e.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("_n").alias("_na")
    )
    vb = e.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("_n").alias("_nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            # HOF pair dot + precomputed norms (see the n_tables=1
            # branch for the measured context rationale)
            _pair_cosine(
                _dot(F.col("va"), F.col("vb")), F.col("_na"), F.col("_nb")
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def lsh_multitable_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = LSH_BITS,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 7,
    strict_dim: bool = False,
) -> DataFrame:
    """Multi-table hyperplane-LSH ANN — the standard recall lever:
    table t buckets on the signs against its own `bits` hyperplanes
    (one LCG stream of n_tables·bits planes, sliced per table, so the
    DuckDB oracle reproduces every table from the same literals); a
    pair is a candidate if it collides in ANY table (recall ≈
    1-(1-r)^L for per-table recall r). Unlike round 1's
    component-slice family, table count is not capped by dim — every
    table projects the full vector. Physically: both sides explode to
    SLIM (id, table, bucket) rows — vectors never ride the candidate
    shuffle or the distinct — candidates dedupe on ids, and the
    id→vector map joins back once for scoring. Probe cost ≈
    L·|corpus|/2^bits per query."""
    _check_dim(corpus, vec_col, dim, "lsh_multitable_ann_topk", strict=strict_dim)
    all_planes = random_planes(n_tables * bits, dim, seed)
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                hyperplane_bucket(
                    F.col(vec_col), all_planes[t * bits:(t + 1) * bits]
                ).alias("bk"),
            )
            for t in range(n_tables)
        ]
    )

    def buckets(df, name):
        return df.select(F.col(id_col).alias(name), F.explode(tables).alias("tb")).select(
            name, F.col("tb.t").alias("t"), F.col("tb.bk").alias("bk")
        )

    cand_ids = (
        F.broadcast(buckets(queries, "q"))
        .join(buckets(corpus, "cand"), ["t", "bk"])
        .filter(F.col("q") != F.col("cand"))
        .select("q", "cand")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("q_v")
    ).withColumn("_qn", _norm(F.col("q_v")))
    cv = corpus.select(
        F.col(id_col).alias("cand"), _as_double(F.col(vec_col)).alias("cand_v")
    ).withColumn("_cn", _norm(F.col("cand_v")))
    scored = (
        cand_ids.join(F.broadcast(qv), "q")
        .join(cv, "cand")
        .select(
            "q",
            F.col("cand").alias(id_col),
            _pair_cosine(
                _dot(F.col("q_v"), F.col("cand_v")),
                F.col("_qn"),
                F.col("_cn"),
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q").orderBy(F.col("score").desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def rp_project(
    df,
    planes: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "rv",
    strict_dim: bool = False,
):
    """Johnson–Lindenstrauss random projection: rv[j] = <v, plane_j>
    over the deterministic LCG plane family — dimensionality reduction
    as a PURE PROJECTION (no shuffle, no model state beyond the plane
    literals). At 100 TB projecting 64→16 dims cuts every downstream
    ANN stage's vector bytes 4× — scan, shuffle, broadcast and
    centroid math all shrink together — at the JL-lemma distance-
    distortion price, which the composed query pins empirically
    (identical vectors still project identically, so exact dups are
    never lost). Engine-portable: the oracle embeds the same plane
    literals and DuckDB's list_inner_product sums in the same order as
    the Spark-side fold."""
    dim = len(planes[0])
    _check_dim(df, vec_col, dim, "rp_project", strict=strict_dim)
    v = F.col("_v")
    rv = F.array(*[_dot(v, F.array(*[F.lit(x) for x in p])) for p in planes])
    # Generate barrier (r06): without it CollapseProject merges this
    # projection into every downstream consumer, so each reference to
    # the projected vector re-evaluates all 16 plane dots — an IVF
    # probe over rv (8 centroids × <v,v>+<v,c> + norm) re-ran the
    # whole projection ~19× per corpus row (rp_ivf_topk 18.8 s vs
    # 2.5 s for the same probe over a materialized column at sf1.0).
    # Behind the explode, rv is computed exactly once per row.
    projected = df.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v")
    ).select(
        F.col(id_col),
        F.explode(F.array(F.struct(rv.alias(out_col)))).alias("_s"),
    )
    return projected.select(F.col(id_col), F.col(f"_s.{out_col}").alias(out_col))
