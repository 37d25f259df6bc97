"""Distributed k-means (operators/clustering.py): the Spark training
loop must reproduce a plain numpy replay of the identical schedule
(same LCG init, same expanded-form distances, same 6-decimal rounding,
empty cells keep their centroid), and the trained-centroid IVF probe
must degrade to exact search when probing every cell."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

SF_DIR = "/root/testdata/sf0.001"


def _load_np(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    ids = np.asarray(t.column("vec_id"))
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in t.column("embedding").to_pylist()])
    return ids, vecs


def _np_kmeans(vecs: np.ndarray, k: int, n_iter: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    from marc_data_migration_spark.operators.similarity_search import random_planes

    cents = np.array(random_planes(k, vecs.shape[1], seed), dtype=np.float64)
    for _ in range(n_iter):
        d = (
            (vecs * vecs).sum(axis=1)[:, None]
            - 2.0 * vecs @ cents.T
            + (cents * cents).sum(axis=1)[None, :]
        )
        cells = d.argmin(axis=1)  # argmin ties → lowest index, same as struct sort
        new = cents.copy()
        for c in range(k):
            members = vecs[cells == c]
            if len(members):
                new[c] = np.round(members.mean(axis=0), 6)
        cents = new
    d = (
        (vecs * vecs).sum(axis=1)[:, None]
        - 2.0 * vecs @ cents.T
        + (cents * cents).sum(axis=1)[None, :]
    )
    return cents, d.argmin(axis=1)


def test_kmeans_fit_matches_numpy_replay(spark):
    from marc_data_migration_spark.operators.clustering import kmeans_fit

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = np.array(kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19))
    _, vecs = _load_np(f"{SF_DIR}/embeddings.parquet")
    want, _ = _np_kmeans(vecs, k=8, n_iter=3, seed=19)
    # both sides round to 6 decimals each iteration; summation-order
    # drift below the rounding step is the only tolerated difference
    np.testing.assert_allclose(got, want, atol=2e-6)


def test_kmeans_cells_summary_matches_numpy(spark):
    from marc_data_migration_spark.operators.clustering import kmeans_cells

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = {r.cell: r.n_members for r in kmeans_cells(emb, k=8, n_iter=3, seed=19).collect()}
    _, vecs = _load_np(f"{SF_DIR}/embeddings.parquet")
    _, cells = _np_kmeans(vecs, k=8, n_iter=3, seed=19)
    want = {int(c): int((cells == c).sum()) for c in set(cells.tolist())}
    assert rows == want


def test_kmeans_inertia_non_increasing():
    """Lloyd's guarantee, preserved through the 6-decimal rounding at
    the scales the rounding step can't disturb."""
    _, vecs = _load_np(f"{SF_DIR}/embeddings.parquet")
    inertias = []
    from marc_data_migration_spark.operators.similarity_search import random_planes

    cents = np.array(random_planes(8, vecs.shape[1], 19), dtype=np.float64)
    for _ in range(5):
        d = (
            (vecs * vecs).sum(axis=1)[:, None]
            - 2.0 * vecs @ cents.T
            + (cents * cents).sum(axis=1)[None, :]
        )
        cells = d.argmin(axis=1)
        inertias.append(d.min(axis=1).sum())
        new = cents.copy()
        for c in range(8):
            members = vecs[cells == c]
            if len(members):
                new[c] = np.round(members.mean(axis=0), 6)
        cents = new
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + 1e-3


def test_ivf_trained_full_probe_is_exact(spark):
    """Probing all k cells makes every corpus row a candidate — the
    result must equal the exact cosine top-k bit-for-bit; and the
    driver config (nprobe=4 of 8 trained cells) clears a recall floor."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.clustering import (
        ivf_trained_topk,
        kmeans_fit,
    )
    from marc_data_migration_spark.operators.similarity_search import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    cents = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    exact = {(r.q, r.vec_id) for r in cosine_topk(emb, q, k=3).collect()}
    full = {
        (r.q, r.vec_id)
        for r in ivf_trained_topk(emb, q, cents, k=3, nprobe=8).collect()
    }
    assert full == exact
    got4 = {
        (r.q, r.vec_id)
        for r in ivf_trained_topk(emb, q, cents, k=3, nprobe=4).collect()
    }
    recall = len(exact & got4) / len(exact)
    assert recall >= 0.5  # random-cell baseline would be 4/8


def test_kmeans_dim_guard(spark):
    from marc_data_migration_spark.operators.clustering import kmeans_fit

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="embedding length"):
        kmeans_fit(emb, k=4, n_iter=1, dim=32, seed=19)


def test_semantic_neardup_planted_copies_and_subset(spark):
    """semantic_neardup_pairs: (a) an exact planted copy always shares
    its original's argmin cell, so every planted pair surfaces at
    cos=1; (b) the output is exactly the within-cell subset of the
    all-pairs cosine result — boundary-straddling pairs are the
    documented recall trade, nothing else is dropped."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.clustering import (
        argmin_cell,
        kmeans_fit,
        semantic_neardup_pairs,
    )
    from marc_data_migration_spark.operators.similarity_search import (
        _as_double,
        _cosine,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    got = semantic_neardup_pairs(corpus, cents, threshold=0.4).collect()
    pairs = {(r.id_a, r.id_b): r.cos for r in got}
    n_planted = planted.count()
    for r in planted.select((F.col("vec_id") - 10_000_000).alias("orig")).collect():
        assert pairs[(r.orig, r.orig + 10_000_000)] == 1.0
    assert n_planted > 0

    # exhaustive within-cell reference: all pairs >= threshold that
    # share a cell — must equal the operator output exactly
    assigned = corpus.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        argmin_cell(_as_double(F.col("embedding")), cents).alias("cell"),
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "cell"
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "cell"
    )
    want = {
        (r.id_a, r.id_b): r.cos
        for r in a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .collect()
    }
    assert pairs == want


def test_ivf_index_at_rest_prunes_partitions(spark, tmp_path):
    """The persisted IVF index (parquet partitioned by cell) must
    (a) reproduce the in-memory trained probe exactly, and (b) push
    the probed-cell filter into the scan's PartitionFilters so
    unprobed cells are never listed or read — the 100 TB claim the
    probe docstrings make, held to in the executed plan."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.clustering import (
        ivf_index_probe,
        ivf_index_write,
        ivf_trained_topk,
        kmeans_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") % 100 == 0)
    cents = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    path = str(tmp_path / "ivf_index")
    ivf_index_write(emb, cents, path)

    probe = ivf_index_probe(spark, path, q, cents, k=3, nprobe=4)
    got = {(r.q, r.vec_id, r.score) for r in probe.collect()}
    want = {
        (r.q, r.vec_id, r.score)
        for r in ivf_trained_topk(emb, q, cents, k=3, nprobe=4).collect()
    }
    assert got == want

    plan = probe._jdf.queryExecution().executedPlan().toString()
    # multiple scans exist (the query side reads unpartitioned
    # testdata with PartitionFilters: []); the index scan must carry a
    # NON-EMPTY partition filter on cell — parse the bracket contents
    # so a regression demoting the filter to PushedFilters (e.g. the
    # index written unpartitioned) cannot false-pass on nearby text
    import re

    pf_bodies = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in body for body in pf_bodies), pf_bodies
    # and the layout really is cell-partitioned on disk
    import os

    on_disk = {d for d in os.listdir(path) if d.startswith("cell=")}
    assert len(on_disk) >= 2  # several cells materialized


def test_ivf_index_probe_query_cap_raises(spark, tmp_path):
    """The probe's driver-side query fetch is guarded: an oversized
    query set must raise loudly instead of OOMing the driver — the
    broadcast-small assumption is enforced, not trusted."""
    import pytest
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.clustering import (
        ivf_index_probe,
        ivf_index_write,
        kmeans_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(emb, k=8, n_iter=1, dim=64, seed=19)
    path = str(tmp_path / "ivf_index")
    ivf_index_write(emb, cents, path)

    q = emb.filter(F.col("vec_id") % 100 == 0)  # 5 queries × nprobe 4 = 20 rows
    # cap below queries×nprobe → loud error
    with pytest.raises(ValueError, match="max_query_rows"):
        ivf_index_probe(spark, path, q, cents, nprobe=4, max_query_rows=19)
    # cap at exactly queries×nprobe → runs
    assert (
        ivf_index_probe(spark, path, q, cents, nprobe=4, max_query_rows=20).count()
        > 0
    )


def test_pq_fit_matches_numpy_replay(spark):
    """Each subspace codebook must equal a numpy replay of the same
    schedule over the sliced vectors (the pq oracle's premise)."""
    from marc_data_migration_spark.operators.clustering import pq_fit

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_fit(emb, m=4, k=8, n_iter=2, dim=64, seed=41)
    _, vecs = _load_np(f"{SF_DIR}/embeddings.parquet")
    for j in range(4):
        want, _ = _np_kmeans(vecs[:, j * 16 : (j + 1) * 16], k=8, n_iter=2, seed=41 + j)
        np.testing.assert_allclose(np.array(books[j]), want, atol=2e-6)


def test_pq_codes_geometry(spark):
    from marc_data_migration_spark.operators.clustering import pq_codes, pq_fit

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_fit(emb, m=4, k=8, n_iter=2, dim=64, seed=41)
    codes = pq_codes(emb, books).toPandas()
    assert list(codes.columns) == ["vec_id", "code0", "code1", "code2", "code3"]
    assert len(codes) == emb.count()
    for j in range(4):
        col = codes[f"code{j}"]
        assert col.between(0, 7).all()
    # a degenerate encoder (all rows one code) would still pass the
    # range check — require the codebook to actually discriminate
    assert codes[[f"code{j}" for j in range(4)]].nunique().min() >= 2


def test_ivfpq_planted_copy_attains_min_adc(spark):
    """An exact copy of the query vector attains the MINIMUM possible
    ADC — its codes are the per-subspace argmin codewords for the
    query's own slices, so ADC(q, copy) = Σ_j min_cw d(q_j, cw), the
    query's own quantization error. The copy always lands in the
    query's rank-1 coarse cell (identical vector → identical argmin),
    so it is always a candidate, and every query's top-1 ADC must
    EQUAL that numpy-computed floor. (The copy itself can still lose
    the top-k seat on the (adc, id) tie-break: the synthetic
    embeddings are clustered, so same-code siblings with smaller ids
    tie it — which is exactly the quantized-rank behavior the
    docstring's re-rank note is about.)"""
    from marc_data_migration_spark.operators.clustering import (
        ivfpq_topk,
        kmeans_fit,
        pq_fit,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    coarse = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    books = pq_fit(emb, m=4, k=8, n_iter=2, dim=64, seed=41)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    planted = queries.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    top = ivfpq_topk(corpus, queries, coarse, books, k=3, nprobe=4).toPandas()
    ids, vecs = _load_np(f"{SF_DIR}/embeddings.parquet")
    qmask = ids % 25 == 0
    qids, qvecs = ids[qmask], vecs[qmask]
    floors = np.zeros(len(qids))
    for j, cb in enumerate(books):
        sl = qvecs[:, j * 16 : (j + 1) * 16]
        cw = np.array(cb)
        d = (
            (sl * sl).sum(axis=1)[:, None]
            - 2.0 * sl @ cw.T
            + (cw * cw).sum(axis=1)[None, :]
        )
        floors += d.min(axis=1)
    floor_by_q = dict(zip(qids.tolist(), np.round(floors, 4).tolist()))
    firsts = top.sort_values(["q", "adc", "vec_id"]).groupby("q").first()
    assert len(firsts) == len(qids)
    for q, row in firsts.iterrows():
        assert abs(row["adc"] - floor_by_q[q]) < 2e-4, (q, row["adc"], floor_by_q[q])


def test_ivfpq_codebook_geometry_guard(spark):
    from marc_data_migration_spark.operators.clustering import ivfpq_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bad_books = [[[0.0] * 8] * 8] * 4  # sub=8 disagrees with dim=64/m=4
    with pytest.raises(ValueError, match="geometry"):
        ivfpq_topk(emb, emb, [[0.0] * 64] * 8, bad_books, k=1)


def test_ivfpq_index_at_rest_matches_inmemory_and_prunes(spark, tmp_path):
    """The persisted IVF-PQ index (codes-only parquet partitioned by
    cell) must (a) reproduce the in-memory ADC probe exactly — same
    training, same tables, so identical (q, id, adc) rows — and
    (b) push the probed-cell filter into PartitionFilters, and
    (c) store NO vector column: the payload is the m codes, the
    128x-at-rest claim."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.clustering import (
        ivfpq_index_probe,
        ivfpq_index_write,
        ivfpq_topk,
        kmeans_fit,
        pq_fit,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") % 100 == 0)
    coarse = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    books = pq_fit(emb, m=4, k=8, n_iter=2, dim=64, seed=41)
    path = str(tmp_path / "ivfpq_index")
    ivfpq_index_write(emb, coarse, books, path)

    probe = ivfpq_index_probe(spark, path, q, coarse, books, k=3, nprobe=4)
    got = {(r.q, r.vec_id, r.adc) for r in probe.collect()}
    want = {
        (r.q, r.vec_id, r.adc)
        for r in ivfpq_topk(emb, q, coarse, books, k=3, nprobe=4).collect()
    }
    assert got == want

    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"vec_id", "cell", "code0", "code1", "code2", "code3"}

    import re

    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf_bodies = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in body for body in pf_bodies), pf_bodies


def test_ivfpq_index_probe_query_cap_raises(spark, tmp_path):
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.clustering import (
        ivfpq_index_probe,
        ivfpq_index_write,
        kmeans_fit,
        pq_fit,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    coarse = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    books = pq_fit(emb, m=4, k=8, n_iter=2, dim=64, seed=41)
    path = str(tmp_path / "ivfpq_index")
    ivfpq_index_write(emb, coarse, books, path)
    q = emb.filter(F.col("vec_id") % 10 == 0)  # queries x nprobe 4 > 100
    with pytest.raises(ValueError, match="max_query_rows"):
        ivfpq_index_probe(
            spark, path, q, coarse, books, k=3, nprobe=4, max_query_rows=100
        )


def test_ivfpq_rerank_planted_copy_wins_top1(spark):
    """Exact re-rank repairs the ADC tie-break artifact: a planted
    exact copy can LOSE the quantized top-1 to same-code siblings with
    smaller ids (pinned by test_ivfpq_planted_copy_attains_min_adc),
    but it always survives nomination (it sits AT the ADC floor with
    the smallest id — planted ids are negative) and the exact stage
    scores it d2 = 0.0, so re-rank must put it at rank 1 for every
    query."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.clustering import (
        ivfpq_rerank_topk,
        kmeans_fit,
        pq_fit,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    coarse = kmeans_fit(emb, k=8, n_iter=3, dim=64, seed=19)
    books = pq_fit(emb, m=4, k=8, n_iter=2, dim=64, seed=41)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    planted = queries.select(
        (-F.col("vec_id") - 1).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    top = ivfpq_rerank_topk(
        corpus, queries, coarse, books, k=3, r=10, nprobe=4
    ).toPandas()
    firsts = top.sort_values(["q", "d2", "vec_id"]).groupby("q").first()
    assert len(firsts) == queries.count()
    for q, row in firsts.iterrows():
        assert row["vec_id"] == -q - 1, (q, row["vec_id"])
        assert row["d2"] == 0.0


def test_rp_project_matches_numpy(spark):
    from marc_data_migration_spark.operators.similarity_search import (
        random_planes,
        rp_project,
    )

    planes = random_planes(16, 64, 73)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    got = {r.vec_id: np.array(r.rv) for r in rp_project(emb, planes).collect()}
    ids, vecs = _load_np(f"{SF_DIR}/embeddings.parquet")
    want = vecs @ np.array(planes).T
    assert len(got) == len(ids)
    for i, vid in enumerate(ids.tolist()):
        np.testing.assert_allclose(got[vid], want[i], rtol=1e-10, atol=1e-12)


def test_rp_ivf_planted_copy_recovered(spark):
    """Identical vectors project identically, land in the same reduced-
    space cell, and score cosine 1.0 — a planted exact copy (negative
    id wins every tie-break) must be rank 1 for every query."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.clustering import (
        argmin_cell,
        cell_rank,
        kmeans_fit,
    )
    from marc_data_migration_spark.operators.similarity_search import (
        probe_topk,
        random_planes,
        rp_project,
    )

    planes = random_planes(16, 64, 73)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    planted = queries.select((-F.col("vec_id") - 1).alias("vec_id"), "embedding")
    corpus = emb.unionByName(planted)
    proj = rp_project(corpus, planes)
    cents = kmeans_fit(proj, "rv", k=8, n_iter=2, dim=16, seed=29)
    c = proj.select(
        "vec_id",
        F.col("rv").alias("cv"),
        argmin_cell(F.col("rv"), cents).alias("cell"),
    )
    qp = rp_project(queries, planes)
    q = qp.select(
        F.col("vec_id").alias("q"),
        F.col("rv").alias("qv"),
        F.explode(F.slice(cell_rank(F.col("rv"), cents), 1, 4)).alias("pr"),
    ).select("q", "qv", F.col("pr")["i"].alias("cell"))
    top = probe_topk(c, q, 3, "vec_id").toPandas()
    firsts = top.sort_values(["q", "score", "vec_id"], ascending=[True, False, True])
    firsts = firsts.groupby("q").first()
    assert len(firsts) == queries.count()
    for qid, row in firsts.iterrows():
        assert row["vec_id"] == -qid - 1, (qid, row["vec_id"])
        assert row["score"] == 1.0


@pytest.fixture(scope="module")
def vec_df(spark):
    # deterministic 'random' doubles incl. negatives and magnitudes
    # spread over several orders — summation order matters for these
    from pyspark.sql import functions as F

    dim = 64
    # id+1: id=0 would make va the zero vector and the cosine test a
    # division by zero (ANSI mode) — the operators assume non-zero
    # vectors, as does the real corpus
    return spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.sin((F.col("id") + 1) * (i + 1) * 0.7) * (10.0 ** ((i % 7) - 3))
                ).cast("double")
                for i in range(dim)
            ]
        ).alias("va"),
        F.array(
            *[
                (
                    F.cos((F.col("id") + 1) * (i + 2) * 1.3) * (10.0 ** ((i % 5) - 2))
                ).cast("double")
                for i in range(dim)
            ]
        ).alias("vb"),
    )


def test_pair_cosine_matches_inline_cosine(spark, vec_df):
    """Norm hoisting: scoring from a pair dot and two precomputed
    per-row norms equals the single-expression ``_cosine`` reference
    bit for bit (same values through the same multiply/divide/round)."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.similarity_search import (
        _cosine,
        _dot,
        _norm,
        _pair_cosine,
    )

    out = vec_df.select(
        _pair_cosine(
            _dot(F.col("va"), F.col("vb")), _norm(F.col("va")), _norm(F.col("vb"))
        ).alias("hoisted"),
        _cosine(F.col("va"), F.col("vb")).alias("ref"),
    ).collect()
    assert len(out) == 200
    for r in out:
        assert r.hoisted == r.ref


def test_as_double_cast_matches_transform(spark):
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.similarity_search import _as_double

    df = spark.range(50).select(
        F.array(
            *[(F.col("id") * (i + 1) / 7.0).cast("float") for i in range(8)]
        ).alias("f")
    )
    out = df.select(
        _as_double(F.col("f")).alias("cast_arr"),
        F.transform(F.col("f"), lambda x: x.cast("double")).alias("hof_arr"),
    ).collect()
    for r in out:
        assert r.cast_arr == r.hof_arr
