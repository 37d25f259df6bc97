"""Pin the materialize-once internals of the multi-reference sketch
operators: each one checkpoints (session.lazy_local_checkpoint) the
frame its plan references more than once (LSH band index, winnow
fingerprint index, shingle stream, fuzzy-decontam hit pairs, LM bigram
table), so the executed plan reads a materialized RDD instead of
re-deriving the upstream pipeline once per reference. These tests
assert the checkpoint boundary is present in the executed plan, that
repeated fresh constructions recompute to identical results (the
checkpoint is per-construction — nothing persists across runs), and
that CONSTRUCTION runs no jobs (the compute stays inside the timed
action).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from marc_data_migration_spark.operators.text_dedup import (
    fuzzy_decontaminate,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shared_passage_pairs,
    simhash_banded_pairs,
)


def _docs(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta doc{i % 7} eta theta iota kappa")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _executed(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_lsh_candidate_pairs_single_signature_pipeline(spark):
    docs = _docs(spark)
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    plan = _executed(pairs)
    # both self-join sides read the checkpointed band index — the
    # signature pipeline (shingle → md5 → band agg) must NOT appear as
    # two inline copies (zero ReusedExchange was the pre-fix state)
    assert plan.count("Scan ExistingRDD") == 2
    # fresh construction recomputes and agrees (nothing cached across runs)
    again = lsh_candidate_pairs(minhash_signatures(_docs(spark)))
    assert _rows(pairs) == _rows(again)


def test_shared_passage_pairs_single_winnow_pipeline(spark):
    docs = _docs(spark)
    pairs = shared_passage_pairs(docs, min_shared=1)
    plan = _executed(pairs)
    # both join sides + the df-cap aggregate (planned once per side, a
    # cheap re-read of the cache) = four reads of ONE materialized
    # fingerprint index; the md5-dominant winnow pipeline runs once
    assert plan.count("Scan ExistingRDD") == 4
    assert _rows(pairs) == _rows(shared_passage_pairs(_docs(spark), min_shared=1))


def test_ngram_jaccard_pairs_single_shingle_pass(spark):
    docs = _docs(spark)
    pairs = ngram_jaccard_pairs(docs, threshold=0.1, df_max=50)
    plan = _executed(pairs)
    # six plan references (both pair sides, the rare cap and the size
    # aggregate per side) all read ONE materialized shingle stream —
    # the normalize+shingle pass runs once
    assert plan.count("Scan ExistingRDD") == 6
    assert _rows(pairs) == _rows(
        ngram_jaccard_pairs(_docs(spark), threshold=0.1, df_max=50)
    )


def test_fuzzy_decontaminate_hit_pairs_materialized(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    flagged = fuzzy_decontaminate(docs, bench, threshold=0.1)
    plan = _executed(flagged)
    # the hit-id derivation (feeding the n_a semi-join) and the final
    # join all read the checkpointed `shared` hit-pair aggregate — the
    # corpus shingle pass behind it runs once
    assert plan.count("Scan ExistingRDD") == 4
    bench2 = _docs(spark).filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    assert _rows(flagged) == _rows(
        fuzzy_decontaminate(_docs(spark), bench2, threshold=0.1)
    )


def test_simhash_banded_pairs_leaves_no_cache(spark):
    """The banded signature index both join sides read is checkpointed
    per construction, not cached: once the pairs are collected no
    CacheManager entry is left for a later construction to reuse."""
    spark.catalog.clearCache()
    pairs = _rows(simhash_banded_pairs(_docs(spark)))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert pairs == _rows(simhash_banded_pairs(_docs(spark)))


def test_checkpoint_construction_runs_no_jobs(spark):
    """The helper must not execute the checkpointed subtree's stages at
    CONSTRUCTION time (under AQE, a bare localCheckpoint(eager=False)
    does exactly that via getFinalPhysicalPlan) — the compute belongs
    to the first action, where the bench times it."""
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    docs = _docs(spark)
    _ = lsh_candidate_pairs(minhash_signatures(docs))
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "query construction submitted Spark jobs"
