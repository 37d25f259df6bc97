"""Near-duplicate detection for the training-data pipeline: exact
(hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash. All built from
Catalyst primitives (explode / groupBy / join) with the portable
`md5int` hash so every stage is oracle-checkable against DuckDB.

Scale notes (100 TB):
- shingling explodes ~n_tokens rows per doc — keep the downstream agg
  partial (groupBy does) and the shingle string narrow;
- the LSH band join is the scalable path: candidates are generated by
  equi-join on (band, band_hash) buckets, never by all-pairs compare;
- the all-pairs n-gram Jaccard here joins on shared shingles (inverted
  index join) which is the exact-but-heavier variant; MinHash+LSH is
  its sublinear approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_text
from ..functions.text_analysis import md5int
from ..session import lazy_local_checkpoint

N_MINHASH = 8
N_BANDS = 4  # bands of 2 rows each


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3,
             distinct: bool = True) -> DataFrame:
    """Distinct k-word shingles of the normalized text, one row per
    (id, shingle).

    The tokenization (split over a 3-regex normalize chain) is
    materialized as a column in its own projection BEFORE the
    shingle-building lambda: Catalyst does no subexpression elimination
    inside higher-order-function lambdas, so referencing the expression
    directly re-ran the whole regex chain once per shingle position
    (~10× the entire stage's cost, measured).

    ``distinct=False`` skips the row-level dedup SHUFFLE: the per-doc
    ``array_distinct`` already makes (id, shingle) unique whenever the
    input has unique ids, so consumers that are duplicate-agnostic
    downstream (broadcast probes feeding countDistinct, min-aggs) can
    drop a full-corpus Exchange. Catalyst's RemoveRedundantAggregates
    does this automatically under min/max aggs (minhash) but not
    across a join. Keep the default for unknown inputs — a duplicated
    id row would otherwise double-count in per-doc shingle sizes."""
    words = F.col("_words")
    # sequence(1, n) DESCENDS when n < 1 — guard short docs explicitly
    sh = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = df.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_words")
    ).select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
    return out.distinct() if distinct else out


def _shingle_hash(shingle, seed: int, fast: bool):
    """One seeded shingle hash. Two families:

    - ``fast=False`` (default): the portable md5int — identical in
      Spark and DuckDB, which is what makes every BATCH dedup query
      oracle-checkable. ~10× the CPU of a native hash (md5 + base-16
      conv per call).
    - ``fast=True``: JVM-native ``xxhash64(shingle, seed)`` — for the
      STREAMING index path (IncrementalLshDedup), whose accumulated
      band index is internal state pinned by invariants, not replayed
      in another engine. Measured 5.8× on the signature stage.

    The two families produce different signatures; an index must be
    built and probed with ONE family (IncrementalLshDedup persists the
    choice as an index property)."""
    if fast:
        return F.xxhash64(shingle, F.lit(seed))
    return md5int(F.concat_ws("#", shingle, F.lit(str(seed))))


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_hashes: int = N_MINHASH, k: int = 3,
                       fast: bool = False) -> DataFrame:
    """(id, seed, minhash): min over shingles of md5int(shingle # seed).

    One-shuffle shape: all n seeded hashes are computed per shingle ROW
    as an array of longs, then n parallel min-aggs over one groupBy(id).
    The earlier seed-explode (n rows per shingle, each carrying the
    shingle string) shipped the string n× through the shuffle; here the
    map-side partial agg collapses each input partition to one
    (id, n×8-byte mins) row before any exchange — shuffle volume is
    O(ids × n) longs, independent of shingle count or length.

    ``distinct=False`` on the shingle stream unconditionally: a MIN
    aggregation is duplicate-agnostic — min over repeated (id, shingle)
    rows equals min over distinct ones for ANY input — so the row-level
    dedup would only add a full-width shuffle of the shingle strings
    before an agg that ignores it (measured 2.7× on this stage; the
    Catalyst RemoveRedundantAggregates rule does not fire across the
    hash projection)."""
    sh = shingles(df, text_col, id_col, k, distinct=False)
    hashed = sh.select(
        F.col(id_col),
        F.array(
            *[_shingle_hash(F.col("shingle"), s, fast) for s in range(n_hashes)]
        ).alias("hs"),
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(F.col("hs")[s]).alias(f"_h{s}") for s in range(n_hashes)]
    )
    return agg.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"), F.col(f"_h{s}").alias("minhash")
                    )
                    for s in range(n_hashes)
                ]
            )
        ).alias("e"),
    ).select(id_col, F.col("e.seed").alias("seed"), F.col("e.minhash").alias("minhash"))


def band_hashes(signatures: DataFrame, id_col: str = "doc_id",
                n_bands: int = N_BANDS, fast: bool = False) -> DataFrame:
    """(id, band, bh): the signature banded into ``n_bands`` groups of
    N_MINHASH//n_bands rows, each band's minhashes hashed to one
    bucket key. The shared primitive behind lsh_candidate_pairs (batch
    pair generation) and IncrementalLshDedup (streaming filter).
    ``fast`` must match the family the signatures were built with
    (see _shingle_hash)."""
    rows_per_band = N_MINHASH // n_bands
    banded = signatures.withColumn(
        "band", F.floor(F.col("seed") / rows_per_band).cast("int")
    )
    sig_str = F.concat_ws(
        ",", F.transform(F.col("sig"), lambda s: s["minhash"].cast("string"))
    )
    return (
        banded.groupBy(id_col, "band")
        .agg(F.sort_array(F.collect_list(F.struct("seed", "minhash"))).alias("sig"))
        .select(
            id_col,
            "band",
            (F.xxhash64(sig_str) if fast else md5int(sig_str)).alias("bh"),
        )
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        n_bands: int = N_BANDS, fast: bool = False) -> DataFrame:
    """Band the signature (rows of 2), hash each band, equi-join docs
    sharing a band bucket → distinct candidate pairs (a < b)."""
    # localCheckpoint(eager=False): both self-join sides read this frame,
    # and Catalyst plans the ENTIRE upstream (shingle → 8×md5 signature →
    # band agg) once PER SIDE — runtime-verified: the executed adaptive
    # plan holds two full pipelines, zero ReusedExchange nodes. The lazy
    # checkpoint materializes the slim (id, band, bh) index exactly once
    # inside the first action; a fresh construction re-derives it from
    # the parquet inputs (nothing persists across runs).
    band_hash = lazy_local_checkpoint(
        band_hashes(signatures, id_col, n_bands, fast=fast)
    )
    a = band_hash.select(F.col(id_col).alias("a"), "band", "bh")
    b = band_hash.select(F.col(id_col).alias("b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, threshold: float = 0.5,
                        df_max: int | None = 1000) -> DataFrame:
    """N-gram-Jaccard near-dup pairs via inverted-index join on shared
    shingles: |A∩B| from the join, sizes from a per-doc count.

    ``df_max`` — document-frequency cap on join shingles. Without it a
    shingle shared by m docs emits m² join rows: quadratic on any
    common phrase at corpus scale (the classic inverted-index hot-key).
    With it, shingles appearing in more than df_max docs are excluded
    from candidate generation ONLY (per-doc sizes still count every
    shingle), so the computed jaccard can only underestimate — capped
    output ⊆ exact output (property-tested), and genuine near-dups,
    whose overlap is dominated by their many rare shingles, are
    retained. Worst-case join fan-out becomes df_max² per shingle.

    The DEFAULT is a finite cap (1000): an uncapped run on a 100-TB
    corpus is an m²-per-shingle blow-up a caller should have to ask
    for. Pass ``df_max=None`` explicitly for the exact computation on
    bounded corpora (unit/property tests and small oracles do)."""
    # localCheckpoint(eager=False): the shingle stream feeds FOUR plan
    # references (sizes, the rare-shingle df cap, and both join sides) —
    # without materialization Catalyst re-derives the normalize+shingle
    # pass per reference (runtime-verified: zero ReusedExchange). Lazy:
    # computed inside the first action, re-derived per construction.
    sh = lazy_local_checkpoint(shingles(df, text_col, id_col, k))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    if df_max is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= df_max)
            .select("shingle")
        )
        sh_idx = sh.join(rare, "shingle")
    else:
        sh_idx = sh
    a = sh_idx.select(F.col(id_col).alias("a"), "shingle")
    b = sh_idx.select(F.col(id_col).alias("b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_id_col: str = "bench_id", k: int = 8) -> DataFrame:
    """Test-set decontamination check — the standard n-gram-overlap
    pass a pretraining pipeline runs before training: a corpus doc is
    flagged when it shares at least one k-gram (default 13-gram-style
    long shingle, k=8 here to fit the synthetic doc lengths) with any
    benchmark/eval document. Returns one row per contaminated doc:
    (doc_id, n_bench_docs, n_shared_shingles).

    Scale shape: the benchmark side is an eval set — thousands of docs
    against a 100-TB corpus — so its shingle set is BROADCAST and the
    probe is a map-side hash join against the corpus shingle stream;
    the corpus never shuffles for the join, only for the per-doc
    aggregation of matches (a tiny fraction of the corpus).
    ``distinct=False`` on the corpus side: per-doc shingle arrays are
    already deduped and the countDistinct aggregation is duplicate-
    agnostic, so the pre-join full-corpus dedup Exchange is pure
    waste (plan-verified: the join probe is map-side)."""
    c_sh = shingles(corpus, text_col, id_col, k, distinct=False)
    b_sh = shingles(benchmark, text_col, bench_id_col, k)
    j = c_sh.join(F.broadcast(b_sh), "shingle")
    return j.groupBy(id_col).agg(
        F.countDistinct(bench_id_col).alias("n_bench_docs"),
        F.countDistinct("shingle").alias("n_shared_shingles"),
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = 16, shingle_k: int | None = None) -> DataFrame:
    """n_bits SimHash: bit b of the fingerprint is the sign of
    Σ_features (±1 by bit b of md5int(feature)).

    ``shingle_k=None`` — features are distinct normalized tokens (the
    compact fingerprint shape: cheap, but on small shared vocabularies
    every doc's token SET converges and the signatures correlate).
    ``shingle_k=k`` — features are k-word shingles (the discriminative
    near-dup shape: feature space grows with k so unrelated docs
    decorrelate; this is what banded hamming probing needs)."""
    if shingle_k is not None:
        toks = shingles(df, text_col, id_col, shingle_k).withColumnRenamed(
            "shingle", "tok"
        ).withColumn("h", md5int(F.col("tok")))
    else:
        toks = (
            df.select(
                id_col,
                F.explode(F.array_distinct(F.split(normalize_text(text_col), " "))).alias("tok"),
            )
            .distinct()
            .withColumn("h", md5int(F.col("tok")))
        )
    # Shape note: this deliberately KEEPS the explode(bit)+partial-agg
    # shape rather than the one-shuffle array trick minhash_signatures
    # uses. A/B at sf0.1 (48-bit shingle signatures, interleaved
    # best-of-3): explode 2.7s vs array-of-48-sums 6.0s. The array
    # trick wins in minhash because each exploded row there carries the
    # SHINGLE STRING n× through the pre-agg pipeline; here the exploded
    # rows are three ints — codegen'd int sums beat per-row 48-element
    # array allocation + 48 GetArrayItem aggs. Both shapes partial-agg
    # map-side, so shuffle volume is O(ids × n_bits) either way.
    bits = toks.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
        F.col("h"),
    ).select(
        id_col,
        "bit",
        F.when(F.expr("shiftright(h, bit) & 1") == 1, 1).otherwise(-1).alias("v"),
    )
    return (
        bits.groupBy(id_col, "bit")
        .agg(F.sum("v").alias("s"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0)
            )
            .cast("long")
            .alias("simhash")
        )
    )


def simhash_banded_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                         n_bits: int = 48, n_bands: int = 4,
                         max_hamming: int = 3, shingle_k: int | None = 3) -> DataFrame:
    """Hamming-≤k SimHash near-dup pairs via band probing — the
    tolerance step the hamming-0 `simhash` clustering lacks (reference
    anchor: the fuzzy-match tolerance idea of fuzzy_match.py:12-52):
    a doc whose fingerprint differs in a few bits is invisible to
    equal-signature grouping but IS a near-dup.

    Composition (the standard Charikar/pigeonhole banding, same shape
    as MinHash banding): split the n_bits signature into ``n_bands``
    contiguous bit bands; any pair within hamming ≤ n_bands-1 must
    agree on at least one WHOLE band (pigeonhole: k flipped bits can
    dirty at most k bands), so an equi-join on (band, band_bits)
    generates a candidate superset with FULL recall for
    ``max_hamming < n_bands``. Candidates then score exact hamming
    (bit_count of xor — one JVM instruction per pair) and threshold.

    Scale shape: identical to lsh_candidate_pairs — candidates come
    from an equi-join on band buckets, never all-pairs; the joined rows
    are (id, 8-byte signature, band, band_bits) slim; verification is
    a projection on the join output. At 100 TB the band join shuffles
    O(docs × n_bands) narrow rows.

    Defaults are the discriminative configuration: 48-bit signatures
    (the top 16 bits of a signed 64-bit stay clear, so shifts behave
    identically in Spark and DuckDB) over 3-word shingle features —
    measured on the synthetic corpus, token features at 16 bits emit
    65k hamming-≤3 "pairs" among 500 docs (every doc's token set
    converges on the shared vocabulary) while shingle features emit
    only genuine near-dups."""
    if n_bits % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide n_bits={n_bits}")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands > max_hamming "
            f"(got {n_bands}) for the pigeonhole recall guarantee"
        )
    width = n_bits // n_bands
    mask = (1 << width) - 1
    sig = simhash(df, text_col, id_col, n_bits, shingle_k=shingle_k)
    # localCheckpoint(eager=False): both sides of the self-join below
    # read this frame, and without materialization Catalyst plans the
    # ENTIRE signature pipeline (shingle → hash → two agg exchanges)
    # twice — once per join side (plan-verified). Lazy: computed inside
    # the first action, re-derived per construction (no CacheManager
    # entry outlives the call).
    banded = lazy_local_checkpoint(
        sig.select(
            id_col,
            "simhash",
            F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
        ).withColumn("bv", F.expr(f"shiftright(simhash, band * {width}) & {mask}"))
    )
    a = banded.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("sig_a"), "band", "bv"
    )
    b = banded.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("sig_b"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 4,
                        w: int = 4) -> DataFrame:
    """Winnowed passage fingerprints (the Schleimer–Wilkerson–Aiken
    local fingerprinting scheme production plagiarism/passage-dedup
    systems use): hash every k-word shingle, slide a w-wide window over
    the hash sequence, keep each window's MINIMUM hash. Guarantees: any
    shared passage of at least w+k-1 words between two documents shares
    at least one selected fingerprint, while only ~2/(w+1) of positions
    are kept — a sublinear document sketch with a LOCALITY guarantee
    doc-level families (minhash/simhash over the whole doc) don't have.

    Returns (id, fp) — distinct selected fingerprints per doc. All
    array ops run inside one Catalyst projection per row (no explode
    until the final distinct), so the stage is map-side until the
    row-level dedup of selections."""
    words = F.col("_words")
    hashes = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: md5int(F.concat_ws(" ", F.slice(words, i, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    sel = F.when(
        F.size(F.col("_hs")) >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("_hs")) - (w - 1)),
                lambda i: F.array_min(F.slice(F.col("_hs"), i, w)),
            )
        ),
    ).otherwise(F.array_distinct(F.col("_hs")))
    return (
        df.select(
            F.col(id_col), F.split(normalize_text(text_col), " ").alias("_words")
        )
        .select(F.col(id_col), hashes.alias("_hs"))
        .select(F.col(id_col), F.explode(sel).alias("fp"))
        .distinct()
    )


def shared_passage_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 4, w: int = 4,
                         min_shared: int = 2,
                         df_max: int | None = 1000) -> DataFrame:
    """Document pairs sharing winnowed passage fingerprints — the
    PASSAGE-level near-dup detector: two documents that embed the same
    ≥(w+k-1)-word span are paired even when their overall similarity is
    low (a doc-level jaccard/minhash miss). (a, b, shared_fps), a < b.

    Scale shape: inverted-index equi-join on the selected fingerprints
    (the same candidates-never-all-pairs discipline as the LSH/ngram
    families), with the same document-frequency cap as
    ngram_jaccard_pairs — a boilerplate passage present in m docs would
    otherwise emit m² rows; capped shingles are excluded from candidate
    generation only, so output pairs can only be missed for
    ultra-common passages, never invented."""
    # localCheckpoint(eager=False): the fingerprint index feeds the df
    # cap and both self-join sides; unmaterialized, the md5-dominant
    # winnow pipeline ran once PER REFERENCE (runtime-verified: four
    # full chains in the executed plan, zero ReusedExchange). The slim
    # (id, fp) index materializes once inside the first action — the
    # same "build the inverted index once" shape a production passage-
    # dedup system persists; re-derived from parquet per construction.
    fps = lazy_local_checkpoint(winnow_fingerprints(df, text_col, id_col, k, w))
    if df_max is not None:
        rare = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= df_max)
            .select("fp")
        )
        fps = fps.join(rare, "fp")
    a = fps.select(F.col(id_col).alias("a"), "fp")
    b = fps.select(F.col(id_col).alias("b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def connected_components(pairs: DataFrame, a_col: str = "a", b_col: str = "b",
                         max_iter: int = 25) -> DataFrame:
    """(id, component) over the undirected pair graph — the dedup
    DECISION step: LSH/Jaccard/SimHash emit near-dup *pairs*, but what
    a pipeline keeps is one representative per transitive group, so
    pairs must be closed into components first. component = min id
    reachable, the conventional canonical representative.

    Label propagation: every node starts labeled with its own id; each
    round, a node's label becomes the min of its own and its
    neighbors' (one equi-join edges⋈labels + one min-agg — two
    shuffles per round on slim (id, label) rows; the edge list never
    grows, unlike transitive-closure self-joins). Rounds needed =
    graph diameter — near-dup graphs are unions of quasi-cliques
    (every member of a dup group shares a bucket with most others), so
    2-3 rounds in practice; `localCheckpoint` truncates the lineage
    each round, the standard guard for iterative DataFrame jobs.

    Convergence check is one scalar: labels only ever decrease, so an
    unchanged sum(label) ⇔ a fixpoint — no per-row diff join, and the
    only driver-side data is that single aggregate per round."""
    # Materialize the edge list ONCE: without this, every propagation
    # round's join re-derives `pairs` from scratch — and pairs is
    # typically the OUTPUT of the expensive upstream (MinHash + LSH
    # band join over the whole corpus), so an unconverged graph at r
    # rounds cost r× the entire dedup pipeline (measured: the CC stage
    # was the cost ceiling of the corpus_curation bench profile, ~8s of
    # re-derived upstream per round at sf0.1). The edge list itself is
    # slim (two longs per near-dup pair — a tiny fraction of corpus
    # rows) so executor-local storage holds it at any realistic dup
    # rate; at cluster scale the same move is a persist to the shuffle
    # service or a table.
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(max_iter):
        prop = edges.join(
            labels, edges["src"] == labels["id"]
        ).select(F.col("dst").alias("id"), "component")
        labels = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    # Returning unconverged labels would silently split dup groups
    # (multiple "representatives" per group survive downstream
    # curation); a graph with diameter > max_iter must fail loudly.
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "the pair graph's diameter exceeds max_iter; raise max_iter"
    )


def fuzzy_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_id_col: str = "bench_id", k: int = 3,
                        threshold: float = 0.2) -> DataFrame:
    """Fuzzy test-set decontamination — the Jaccard-overlap pass (the
    GPT-3 appendix / Pile-style criterion) that complements
    ``decontaminate``'s exact long-shingle hit: a corpus doc is flagged
    against a benchmark doc when their k-gram shingle sets overlap with
    Jaccard ≥ threshold, which survives paraphrase-level edits and
    truncation that break every long exact shingle. Returns one row per
    flagged (doc, bench) pair: (doc_id, bench_id, jaccard), jaccard
    rounded to 4 decimals BEFORE the threshold so both engines cut
    identically.

    Scale shape (100 TB corpus, eval-sized benchmark): the benchmark
    shingle set is BROADCAST, so the overlap probe is a map-side hash
    join against the corpus shingle stream — the corpus never shuffles
    for the join. Everything downstream is proportional to the HIT
    set, not the corpus: the shared-count groupBy sees only matching
    rows, and the per-doc shingle-size agg is computed after a
    broadcast semi-join on the hit ids (full-corpus doc sizes are
    never aggregated). ``distinct=False`` shingles on both sides:
    per-doc arrays are already deduped (unique-id inputs), so the
    row-level dedup Exchange would be pure waste.

    Reference anchor: processor.py:200-233's fuzzy accept/reject gate —
    a similarity threshold deciding record fate; here the same
    threshold idea guards eval integrity instead of merge safety."""
    c_sh = shingles(corpus, text_col, id_col, k, distinct=False)
    b_sh = shingles(benchmark, text_col, bench_id_col, k, distinct=False)
    # localCheckpoint(eager=False): `shared` feeds both the hit-id
    # derivation and the final join — unmaterialized, the full corpus
    # shingle pass behind it ran twice (runtime-verified: zero
    # ReusedExchange in the executed plan). The hit-pair aggregate is
    # tiny (rows ∝ contamination, not corpus); it materializes once
    # inside the first action and is re-derived per construction.
    shared = lazy_local_checkpoint(
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    hit_ids = shared.select(id_col).distinct()
    # Recount per-doc shingle sizes from the RAW corpus semi-joined on
    # the hit ids FIRST: the semi join cannot be pushed below the
    # shingle Generate by the optimizer, so filtering c_sh directly
    # re-ran the whole normalize+shingle pass over every corpus row
    # (measured: one of three full corpus passes in this query).
    # Filtering the raw rows makes the recount proportional to the HIT
    # set; shingles are per-doc, so n_a values are unchanged.
    n_a = (
        shingles(
            corpus.join(F.broadcast(hit_ids), id_col, "left_semi"),
            text_col,
            id_col,
            k,
            distinct=False,
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    n_b = b_sh.groupBy(bench_id_col).agg(F.count(F.lit(1)).alias("n_b"))
    jac = F.round(
        F.col("n_shared")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        4,
    )
    # n_a is hit-set-sized (one row per contaminated doc) — broadcast is
    # the scale-correct strategy, and the checkpointed `shared` no longer
    # carries stats for the auto-broadcast estimate to fire on.
    return (
        shared.join(F.broadcast(n_a), id_col)
        .join(F.broadcast(n_b), bench_id_col)
        .select(F.col(id_col), F.col(bench_id_col), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
