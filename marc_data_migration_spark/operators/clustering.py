"""Distributed k-means over an embedding column (array<float>) —
Lloyd's algorithm as Spark aggregations, plus the trained-centroid IVF
probe it feeds.

The reference has no clustering (its nearest analogue is the literal
location map, plugins/pnca/location_mapper.py:9-54 — a hand-built
partition of the key space); a training-data pipeline needs the
data-trained version: semantic bucketing for dedup/mixing, and trained
coarse-quantizer centroids for IVF ANN (similarity_search.ivf_ann_topk
documents "k-means centroids slot in as literals" — this module
produces those literals).

Execution shape (the MLlib shape, re-derived on DataFrames):
- ASSIGN is a pure projection: argmin squared distance over k centroid
  literals via sort_array of a struct array — JVM-side, codegen'd, no
  shuffle, no UDF.
- UPDATE is posexplode(vec) → groupBy(cell, pos).avg(val): partial
  aggregation reduces each map task's contribution to k*dim rows
  before the exchange, so shuffle volume is O(tasks * k * dim) —
  independent of corpus row count. The k*dim averaged coordinates
  (k=8, dim=64 → 512 doubles) collect to the driver per iteration;
  that is the bounded, intended driver state (the centroid set IS the
  model), not a driver-side data loop.
- Distances use the expanded form <v,v> - 2<v,c> + <c,c> and every
  updated coordinate is rounded to 6 decimals, so a SQL engine
  replaying the same schedule (tools' DuckDB oracle, unrolled CTEs —
  entry_queries._kmeans_ctes) reproduces the trained centroids
  digit-for-digit: decimal→double parsing is exact at 6 decimals and
  rounding re-synchronizes both engines every iteration, so float
  summation-order drift (~1e-12) cannot compound.

At 100 TB: iterations scan the corpus once each (no shuffle of the
vectors themselves — only the k*dim partial means move), so cost is
n_iter sequential scans; cache the (id, vec) projection for the loop.
Empty cells keep their previous centroid (both engines agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity_search import _as_double, _check_dim, _dot, random_planes


def _local_query_df(spark, rows, schema):
    """Collected query rows back as a broadcast-side DataFrame via the
    pandas/Arrow path with the explicit schema: createDataFrame over
    raw Python rows parallelizes into defaultParallelism pickled
    partitions, each paying a Python-runner evaluation on the
    broadcast collect (~0.3 s fixed per probe, measured; same family
    as the r05 lineage/metrics finds). The Arrow path ships one
    batch, JVM-side from there. Row order is irrelevant (probe joins
    re-rank); falls back to the row path if Arrow conversion balks."""
    import pandas as pd

    try:
        pdf = pd.DataFrame([r.asDict() for r in rows], columns=schema.names)
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        return spark.createDataFrame(rows, schema=schema)


def _dist2(v, c_lit: list[float], offset: int | None = None):
    """Squared L2 distance <v,v> - 2<v,c> + <c,c> — the expanded form
    both engines evaluate (term order pinned by the expression tree).
    HOF dots by design — see similarity_search._dot for the r06
    evidence that unrolled chains lose in every real context.
    ``offset`` (None = whole vector; an int, INCLUDING 0, selects the
    PQ subspace window v[offset+1 : offset+len(c_lit)])."""
    if offset is not None:
        v = F.slice(v, offset + 1, len(c_lit))
    c = F.array(*[F.lit(x) for x in c_lit])
    cc = sum(x * x for x in c_lit)
    return _dot(v, v) - F.lit(2.0) * _dot(v, c) + F.lit(cc)


def cell_rank(v, centroids: list[list[float]], offset: int | None = None):
    """Centroids ranked nearest-first as a sorted struct array: struct
    sort is lexicographic, so sort_array asc over (dist, i) ranks by
    distance asc then index asc — mirroring the oracle's
    ``ORDER BY dist, cell``. ``[0]`` is the assignment (d, i); a slice
    of the head is an nprobe cell list."""
    scores = F.array(
        *[
            F.struct(_dist2(v, c, offset=offset).alias("d"), F.lit(i).alias("i"))
            for i, c in enumerate(centroids)
        ]
    )
    return F.sort_array(scores)


def argmin_cell(v, centroids: list[list[float]], offset: int | None = None):
    """Index of the nearest centroid, ties to the lowest index."""
    return cell_rank(v, centroids, offset=offset)[0]["i"]


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    dim: int = 64,
    seed: int = 19,
    strict_dim: bool = False,
) -> list[list[float]]:
    """Train k centroids with ``n_iter`` Lloyd updates from a
    deterministic LCG-literal init (similarity_search.random_planes —
    data-independent, engine-portable). Returns the trained centroids
    as plain floats rounded to 6 decimals, ready to embed as literals
    in any engine."""
    _check_dim(df, vec_col, dim, "kmeans_fit", strict=strict_dim)
    centroids = random_planes(k, dim, seed)
    # the (vec) projection is scanned once per iteration — cache it so
    # iterations 2..n read columnar in-memory batches, not the source
    v = df.select(_as_double(F.col(vec_col)).alias("v")).persist()
    try:
        for _ in range(n_iter):
            assigned = v.select("v", argmin_cell(F.col("v"), centroids).alias("cell"))
            rows = (
                assigned.select("cell", F.posexplode("v").alias("pos", "val"))
                .groupBy("cell", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            new = [list(c) for c in centroids]  # empty cells keep previous
            for r in rows:
                new[r["cell"]][r["pos"]] = round(r["m"], 6)
            centroids = new
    finally:
        v.unpersist()
    return centroids


def kmeans_cells(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    dim: int = 64,
    seed: int = 19,
) -> DataFrame:
    """Fit, then summarize the final partition: one row per non-empty
    cell with member count, centroid L2 norm, and within-cell inertia
    (sum of squared distances). The summary is the oracle-checkable
    surface of the training run — counts pin the assignment, the norm
    pins the centroid coordinates, inertia pins the distances."""
    centroids = kmeans_fit(df, vec_col, k=k, n_iter=n_iter, dim=dim, seed=seed)
    v = df.select(_as_double(F.col(vec_col)).alias("v"))
    # one ranking per row: the best struct carries both the cell and
    # its distance (materialized behind an alias so CollapseProject
    # cannot inline the k*dim distance work twice)
    per_dist = v.select(cell_rank(F.col("v"), centroids)[0].alias("best")).select(
        F.col("best")["i"].alias("cell"), F.col("best")["d"].alias("d")
    )
    norms = {i: round(sum(x * x for x in c) ** 0.5, 4) for i, c in enumerate(centroids)}
    norm_expr = F.element_at(
        F.array(*[F.lit(norms[i]) for i in range(k)]), F.col("cell") + 1
    )
    return (
        per_dist.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("d"), 2).alias("inertia"),
        )
        .select("cell", "n_members", norm_expr.alias("centroid_norm"), "inertia")
    )


def ivf_trained_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
    dim: int = 64,
    strict_dim: bool = False,
) -> DataFrame:
    """IVF ANN probe over TRAINED centroids — the data-adapted upgrade
    of similarity_search.ivf_ann_topk (whose cells are random
    directions): corpus rows live in their argmin-distance cell, each
    query probes its ``nprobe`` nearest cells. Trained cells follow the
    data's density, so recall at equal nprobe improves over the random
    family. Plan shape is identical: assignment is a projection, the
    probe is a bucket equi-join (queries broadcast, corpus shuffles
    once on cell), top-k rides a per-query window."""
    from .similarity_search import probe_topk

    _check_dim(corpus, vec_col, dim, "ivf_trained_topk", strict=strict_dim)
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    c = c.select(id_col, "cv", argmin_cell(F.col("cv"), centroids).alias("cell"))
    q = queries.select(
        F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("qv")
    )
    q = q.select(
        "q",
        "qv",
        F.explode(F.slice(cell_rank(F.col("qv"), centroids), 1, nprobe)).alias("pr"),
    ).select("q", "qv", F.col("pr")["i"].alias("cell"))
    return probe_topk(c, q, k, id_col)


def semantic_neardup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    strict_dim: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning: assign every
    vector to its trained k-means cell, pair WITHIN cells only, keep
    pairs with rounded cosine ≥ threshold, oriented id_a < id_b.

    The cluster restriction is the scale move (the published SemDeDup
    recipe): pairing cost drops from n² to Σ|cell|² ≈ n·(n/k), and k
    grows with the corpus (k ≈ n/target_cell_size, exactly like
    similarity_search.scaled_bits) so expected per-cell work stays
    constant. The price is recall at cell boundaries — a near-dup pair
    straddling two cells is missed (identical vectors never are: equal
    inputs get equal argmin cells). The hyperplane-bucket variant
    (embedding_neardup_pairs) trades the other way: data-blind buckets
    but multi-table recall recovery; a pipeline can run either.

    Physically: assignment is the no-shuffle projection, the pair join
    is a cell equi-join (each side shuffles once on cell, hot cells
    split via AQE), the cosine filter is a projection."""
    from .similarity_search import _dot, _norm, _pair_cosine

    _check_dim(corpus, vec_col, dim, "semantic_neardup_pairs", strict=strict_dim)
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    c = c.select(
        id_col, "v", argmin_cell(F.col("v"), centroids).alias("cell")
    ).withColumn("_n", _norm(F.col("v")))
    a = c.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), "cell",
        F.col("_n").alias("_na"),
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "cell",
        F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            # HOF pair dot + precomputed norms: the threshold filter
            # pushes into the join condition, where the interpreted HOF
            # beats the unrolled chain ~6× (embedding_neardup_pairs A/B)
            _pair_cosine(
                _dot(F.col("va"), F.col("vb")), F.col("_na"), F.col("_nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def ivf_index_write(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    strict_dim: bool = False,
) -> None:
    """Materialize the IVF index at rest: the corpus written as parquet
    PARTITIONED BY its argmin cell — the 100 TB shape the probe
    docstrings promise. Assignment cost is paid once at write; probes
    then read only the probed cells' directories (partition pruning —
    no scan, no shuffle of unprobed cells). Re-train + rewrite is the
    index rebuild; appends assign against the SAME centroid literals,
    so an incremental writer stays consistent."""
    _check_dim(corpus, vec_col, dim, "ivf_index_write", strict=strict_dim)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        argmin_cell(_as_double(F.col(vec_col)), centroids).alias("cell"),
    )
    c.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
    dim: int = 64,
    strict_dim: bool = False,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Probe the at-rest index: queries rank their nprobe nearest
    cells, the corpus scan carries ``cell IN (probed)`` — Spark turns
    the filter on the partition column into PartitionFilters, so only
    the probed directories are listed and read (test-pinned via the
    plan's partition filters). The probed fraction of the corpus then
    joins exactly like the in-memory probe.

    The query side is evaluated ONCE (one job): it must be collected
    anyway to know which partitions to probe, and it is broadcast-small
    by the same assumption probe_topk makes. That assumption is
    ENFORCED, not trusted: the fetch is an incremental take() capped at
    ``max_query_rows`` (queries × nprobe rows) that fails loudly above
    the cap — an oversized query frame raises instead of OOMing the
    driver (the _check_dim fail-loud philosophy). A genuinely large
    query set is a batch join, not an index probe."""
    from .similarity_search import probe_topk

    _check_dim(queries, vec_col, dim, "ivf_index_probe", strict=strict_dim)
    q = queries.select(
        F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("qv")
    )
    q = q.select(
        "q",
        "qv",
        F.explode(F.slice(cell_rank(F.col("qv"), centroids), 1, nprobe)).alias("pr"),
    ).select("q", "qv", F.col("pr")["i"].alias("cell"))
    q_rows = q.take(max_query_rows + 1)
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ivf_index_probe: query side exceeds max_query_rows="
            f"{max_query_rows} (queries × nprobe rows); the probe "
            "assumes a broadcast-small query set — raise max_query_rows "
            "deliberately or run the in-memory probe as a distributed join"
        )
    probed = sorted({r["cell"] for r in q_rows})
    q_local = _local_query_df(spark, q_rows, q.schema)
    c = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probed))
        .select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"), "cell")
    )
    return probe_topk(c, q_local, k, id_col)


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    seed: int = 41,
    strict_dim: bool = False,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    dim-dimensional space into ``m`` contiguous subspaces of dim/m and
    train an independent k-centroid k-means in each. The m codebooks
    compress a vector to m small ints (codes) — at 100 TB the decisive
    move, because the scan side of an ANN probe then reads m bytes per
    vector instead of dim floats (16× here: 64 doubles → 4 codes).

    All m subspace trainings run JOINTLY: per Lloyd iteration ONE job
    scans the persisted vector frame, assigns every subspace slice to
    its codeword (projection over codebook literals), and computes all
    m codebooks' mean updates in a single partial-aggregated groupBy on
    (subspace, cell, pos) — n_iter jobs total instead of m·n_iter, with
    the same O(tasks·m·k·subdim) shuffle bound (the kmeans_fit bound
    summed over subspaces). Each subspace's schedule (LCG init at
    seed+j, argmin assignment, 6-decimal mean rounding, empty cells
    keep the previous codeword) is EXACTLY kmeans_fit's, so the numpy
    replay and the oracle's unrolled per-subspace CTEs reproduce the
    codebooks digit-for-digit — joint execution changes the job count,
    not the math.
    """
    if dim % m:
        raise ValueError(f"pq_fit: dim={dim} not divisible by m={m}")
    sub = dim // m
    _check_dim(df, vec_col, dim, "pq_fit", strict=strict_dim)
    v = df.select(_as_double(F.col(vec_col)).alias("v")).persist()
    try:
        v.count()  # materialize once; iteration scans read memory
        books = [random_planes(k, sub, seed + j) for j in range(m)]
        for _ in range(n_iter):
            pieces = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            argmin_cell(
                                F.col("v"), books[j], offset=j * sub
                            ).alias("cell"),
                            F.slice(F.col("v"), j * sub + 1, sub).alias("s"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("p")
            rows = (
                v.select(pieces)
                .select(
                    F.col("p")["j"].alias("j"),
                    F.col("p")["cell"].alias("cell"),
                    F.posexplode(F.col("p")["s"]).alias("pos", "val"),
                )
                .groupBy("j", "cell", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            new = [[list(c) for c in cb] for cb in books]
            for r in rows:
                new[r["j"]][r["cell"]][r["pos"]] = round(r["m"], 6)
            books = new
        return books
    finally:
        v.unpersist()


def _pq_code_cols(vec, codebooks: list[list[list[float]]]) -> list:
    """One argmin-over-codebook column per subspace, computed from a
    pre-materialized double vector column. Pure projections — the
    encode step never shuffles."""
    sub = len(codebooks[0][0])
    return [
        argmin_cell(vec, cb, offset=j * sub).alias(f"code{j}")
        for j, cb in enumerate(codebooks)
    ]


def pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strict_dim: bool = False,
) -> DataFrame:
    """PQ-encode a corpus: (id, code0..code{m-1}) — the compressed
    representation an IVF-PQ index stores at rest. Encoding is a
    no-shuffle projection over codebook literals (same shape as the
    IVF assign)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    _check_dim(df, vec_col, m * sub, "pq_codes", strict=strict_dim)
    base = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    return base.select(id_col, *_pq_code_cols(F.col("_v"), codebooks))


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    strict_dim: bool = False,
) -> DataFrame:
    """IVF-PQ ANN: coarse k-means cells restrict the candidate set
    (ivf_trained_topk's equi-join shape), then candidates are scored by
    asymmetric distance computation (ADC) over their PQ codes — the
    query builds one k-entry distance table per subspace (a projection
    over codebook literals, computed once per query row), and each
    candidate costs m array lookups instead of a dim-length dot
    product. Returns (q, id, adc) with adc = the ADC-approximate
    squared L2 distance, rounded to 4 decimals BEFORE the per-query
    (adc asc, id asc) top-k rank so the rank-k cut is deterministic in
    any engine.

    100-TB shape: the corpus side is the slim (id, cell, m codes)
    frame — the full vectors never move and at rest need never be
    read (pq_codes is the index payload); the query side (tables +
    probed cells) broadcasts; candidates shuffle once on q for the
    window. This codes-only scoring is the classic recall/precision
    trade: ADC ranks by quantized distance, so production pipelines
    re-rank the ADC top-R with exact distances (R ≈ 4k) — compose with
    brute_force_topk over the ADC survivors for that refinement.

    Reference anchor: the reference's nearest analogue is the fuzzy
    match gate (processors/utils/fuzzy_match.py:12-52) — a similarity
    verify behind a cheap candidate restriction; IVF-PQ is that same
    two-phase idea for dense vectors at corpus scale."""
    m = len(codebooks)
    sub = dim // m
    if sub * m != dim or len(codebooks[0][0]) != sub:
        raise ValueError("ivfpq_topk: codebook geometry disagrees with dim/m")
    _check_dim(corpus, vec_col, dim, "ivfpq_topk", strict=strict_dim)
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    c = c.select(
        id_col,
        argmin_cell(F.col("_v"), coarse_centroids).alias("cell"),
        *_pq_code_cols(F.col("_v"), codebooks),
    )
    q = _adc_query_side(queries, coarse_centroids, codebooks, nprobe, vec_col, id_col)
    return _adc_probe(q, c, m, k, id_col)


def _adc_query_side(
    queries: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Query side of an ADC probe: (q, tab0..tab{m-1}, cell) — per
    subspace the k distances from the query's slice to every codeword,
    materialized as an array column in their own projection (computed
    once per query row, BEFORE the nprobe fan-out multiplies rows),
    exploded over the nprobe nearest coarse cells."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = queries.select(
        F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("qv")
    )
    return q.select(
        "q",
        *[
            F.array(
                *[_dist2(F.col("qv"), cw, offset=j * sub) for cw in cb]
            ).alias(f"tab{j}")
            for j, cb in enumerate(codebooks)
        ],
        F.explode(
            F.slice(cell_rank(F.col("qv"), coarse_centroids), 1, nprobe)
        ).alias("pr"),
    ).select("q", *[f"tab{j}" for j in range(m)], F.col("pr")["i"].alias("cell"))


def _adc_probe(q: DataFrame, c: DataFrame, m: int, k: int, id_col: str) -> DataFrame:
    """Score (q, tabs, cell) against a (id, cell, codes) frame: cell
    equi-join with the query side broadcast, ADC = the m table lookups
    summed in fixed subspace order (the oracle writes the same
    left-to-right chain, so float association matches), rounded to 4
    decimals BEFORE the per-query (adc asc, id asc) top-k rank."""
    adc = F.element_at(F.col("tab0"), F.col("code0") + 1)
    for j in range(1, m):
        adc = adc + F.element_at(F.col(f"tab{j}"), F.col(f"code{j}") + 1)
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("q") != F.col(id_col))
        .select("q", F.col(id_col), F.round(adc, 4).alias("adc"))
    )
    w = Window.partitionBy("q").orderBy(F.col("adc").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivfpq_index_write(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    strict_dim: bool = False,
) -> None:
    """Materialize the IVF-PQ index at rest: (id, code0..code{m-1})
    partitioned by coarse cell — and NOTHING else. Unlike
    ivf_index_write (which stores the vectors so probes can compute
    exact distances), the PQ payload is m small ints per vector: at
    100 TB of raw embeddings the index is ~dim·8/m smaller (128× here),
    and a probe reads only the probed cells' code files. The vectors
    stay wherever the corpus lives; an exact re-rank (ivfpq_rerank_topk)
    fetches them by id for the top-R survivors only."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if sub * m != dim:
        raise ValueError("ivfpq_index_write: codebook geometry disagrees with dim/m")
    _check_dim(corpus, vec_col, dim, "ivfpq_index_write", strict=strict_dim)
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    c = c.select(
        id_col,
        argmin_cell(F.col("_v"), coarse_centroids).alias("cell"),
        *_pq_code_cols(F.col("_v"), codebooks),
    )
    c.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivfpq_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    strict_dim: bool = False,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Probe the at-rest IVF-PQ index: queries rank their nprobe
    nearest coarse cells, the code scan carries ``cell IN (probed)`` —
    partition pruning reads only the probed directories — and scoring
    is the same broadcast-ADC join as the in-memory probe (results are
    identical by construction; test-pinned). The query side is
    evaluated once with the same incremental-take cap as
    ivf_index_probe: an oversized query frame raises instead of
    OOMing the driver."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if sub * m != dim:
        raise ValueError("ivfpq_index_probe: codebook geometry disagrees with dim/m")
    _check_dim(queries, vec_col, dim, "ivfpq_index_probe", strict=strict_dim)
    q = _adc_query_side(queries, coarse_centroids, codebooks, nprobe, vec_col, id_col)
    q_rows = q.take(max_query_rows + 1)
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ivfpq_index_probe: query side exceeds max_query_rows="
            f"{max_query_rows} (queries × nprobe rows); the probe "
            "assumes a broadcast-small query set — raise max_query_rows "
            "deliberately or run the in-memory probe as a distributed join"
        )
    probed = sorted({r["cell"] for r in q_rows})
    q_local = _local_query_df(spark, q_rows, q.schema)
    c = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    return _adc_probe(q_local, c, m, k, id_col)


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    r: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    strict_dim: bool = False,
) -> DataFrame:
    """ADC top-R then EXACT re-rank — the production IVF-PQ composition
    the ivfpq_topk docstring promises: the quantized probe nominates R
    survivors per query (R ≈ 3-4k), then only those R rows' true
    vectors are fetched and scored with the exact squared L2 distance,
    and the top-k of the exact scores is returned as (q, id, d2).
    Quantization error decides who is NOMINATED, never who WINS.

    100-TB shape: the ADC stage moves only (id, cell, codes); the
    re-rank joins the bounded survivor set (|queries|·R rows —
    broadcast) back to the corpus on the id key, so the vector fetch is
    a broadcast-hash join against the corpus scan, no corpus shuffle,
    and the exact math runs on |queries|·R rows instead of the corpus.
    d2 uses the expanded form <c,c> - 2<q,c> + <q,q> (the _dist2 /
    _KM_DIST expression tree both engines evaluate), rounded to 4
    decimals before the (d2 asc, id asc) rank so the cut is
    deterministic in any engine."""
    survivors = ivfpq_topk(
        corpus,
        queries,
        coarse_centroids,
        codebooks,
        k=r,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        dim=dim,
        strict_dim=strict_dim,
    ).select("q", id_col)
    vecs = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    qv = queries.select(
        F.col(id_col).alias("q"), _as_double(F.col(vec_col)).alias("qv")
    )
    d2 = (
        _dot(F.col("cv"), F.col("cv"))
        - F.lit(2.0) * _dot(F.col("qv"), F.col("cv"))
        + _dot(F.col("qv"), F.col("qv"))
    )
    exact = (
        F.broadcast(survivors)
        .join(vecs, id_col)
        .join(F.broadcast(qv), "q")
        .select("q", F.col(id_col), F.round(d2, 4).alias("d2"))
    )
    w = Window.partitionBy("q").orderBy(F.col("d2").asc(), F.col(id_col).asc())
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
