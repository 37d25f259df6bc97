"""Batch-incremental MinHash-LSH near-dup filter for an arriving
document stream — the streaming face of the dedup family
(operators/text_dedup.py gives the batch face).

A corpus pipeline that ingests documents continuously cannot re-run
batch LSH over the full corpus per batch; the standard production
shape is an *accumulating signature index*: each micro-batch's docs
are banded (band_hashes — same signatures, same banding as the batch
operator), probed against the index of every previously KEPT doc's
bands, and only collision-free docs survive and publish their bands.

Semantics (deliberately conservative, the industry norm for streaming
dedup): a doc is DROPPED when any of its band-hashes collides with
 (a) a band published by a kept doc of an earlier batch, or
 (b) a surviving lower-id doc in its own batch (min-id wins per
     bucket; a doc beaten in any bucket is dropped, and — unlike the
     batch connected-components decision — a doc whose only collider
     was itself dropped still goes: chains over-drop slightly, they
     never under-drop). Kept set invariant: NO two kept docs across
the whole stream share a band-hash (test-pinned), which is exactly
the guarantee batch LSH + keep-one-per-component provides pairwise.

Scale shape: the index is a bucketed parquet table of slim
(band, bh, batch_id) rows — O(kept docs × n_bands) longs. The probe
is an equi-join on (band, bh); at 100 TB the index is bucketed by bh
so the join co-locates. Exactly-once: the index carries batch_id; a
replayed batch filters the index to STRICTLY EARLIER batches before
probing (so its own published rows don't drop its docs) and skips
re-publishing — apply_batch is idempotent per batch_id.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text_dedup import band_hashes, minhash_signatures

BANDS_SCHEMA = "band int, bh long, doc_id long, batch_id long"
PROPS_FILE = "_dedup_properties.json"


class IncrementalLshDedup:
    #: publish fan-in: each batch's kept×n_bands rows land in at most
    #: this many files (coalesce(1) was a single-task serialization
    #: point at 10^7-doc batches; full shuffle-partition fan-out would
    #: accrete tiny files — same trade the CoW sink's audit appends make)
    PUBLISH_PARTITIONS = 4

    def __init__(self, spark: SparkSession, path: str, fast_hash: bool | None = None):
        self.spark = spark
        self.path = path
        self.index_path = os.path.join(path, "band_index")
        self._prev_bands = None  # double-buffered band cache (see apply_batch)
        self._applied_ids: set[int] | None = None  # lazy ledger cache
        self.fast_hash = self._resolve_hash(fast_hash)

    def _resolve_hash(self, requested: bool | None) -> bool:
        """The hash family is an INDEX PROPERTY (mirrors the parquet
        sink's table-properties discipline): bands built with one
        family never collide with bands built with the other, so
        probing a stored index with the wrong family silently disables
        dedup. Resolution order:

        - props file present → the stored family wins; an explicit
          conflicting ``fast_hash`` raises.
        - no props but a band_index already exists → a LEGACY index,
          built before the family was configurable, i.e. with the
          portable md5 family — resolve to ``fast_hash=False`` (an
          explicit ``fast_hash=True`` over it raises: xxhash probes
          would never collide with the stored md5 bands).
        - genuinely new index → default to the JVM-native xxhash64
          family (5.8× the md5 signature throughput, measured); the
          stream index is internal state pinned by invariants, unlike
          the oracle-replayed batch queries, so md5's cross-engine
          portability buys nothing here.

        Nothing is WRITTEN here: construction must be side-effect-free
        (a status path building this object to read metrics must not
        commit a hash-family choice, or fail on a read-only mount) —
        the choice persists at first publish (_persist_hash)."""
        props_path = os.path.join(self.path, PROPS_FILE)
        if os.path.isfile(props_path):
            with open(props_path) as f:
                stored = bool(json.load(f)["fast_hash"])
            if requested is not None and requested != stored:
                raise ValueError(
                    f"dedup index {self.path} was built with "
                    f"fast_hash={stored}; opened with fast_hash={requested} "
                    "— probing with a different hash family would silently "
                    "never collide with the stored bands"
                )
            return stored
        if os.path.isdir(self.index_path):
            if requested is True:
                raise ValueError(
                    f"dedup index {self.path} predates the hash-family "
                    "property and therefore holds md5-family bands; opened "
                    "with fast_hash=True — xxhash probes would silently "
                    "never collide with the stored bands"
                )
            return False
        return True if requested is None else requested

    def _persist_hash(self) -> None:
        """Record the resolved family at first publish (idempotent,
        atomic tmp+replace — a crash mid-write must not brick every
        subsequent open with a truncated JSON)."""
        props_path = os.path.join(self.path, PROPS_FILE)
        if os.path.isfile(props_path):
            return
        os.makedirs(self.path, exist_ok=True)
        tmp = props_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"fast_hash": self.fast_hash}, f)
        os.replace(tmp, props_path)

    def _index(self) -> DataFrame:
        if not os.path.isdir(self.index_path):
            return self.spark.createDataFrame([], BANDS_SCHEMA)
        return self.spark.read.parquet(self.index_path)

    def _ledger(self) -> set[int]:
        """In-memory applied-batch cache, read from the parquet index
        ONCE per object lifetime (the resume path) and maintained by
        apply_batch afterwards — a per-batch distinct-collect over the
        accumulated index is an O(batches²) read volume over a long
        ingest stream (mirrors MergeSink._ledger)."""
        if self._applied_ids is None:
            rows = self._index().select("batch_id").distinct().collect()
            self._applied_ids = {r.batch_id for r in rows}
        return self._applied_ids

    def applied_batch_ids(self) -> set[int]:
        return set(self._ledger())  # copy: callers must not alias the cache

    def apply_batch(
        self, docs: DataFrame, batch_id: int, text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Filter one micro-batch; returns the kept docs (all columns of
        ``docs``) and publishes their bands. Idempotent per batch_id.

        ``id_col`` is normalized to the index's canonical ``doc_id``
        column on the way in (and back on the way out) — the published
        index always carries ``doc_id`` regardless of caller naming.
        """
        replay = batch_id in self._ledger()
        d = docs.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else docs
        # strictly-earlier index slice: on replay, the batch's own
        # published bands must not count as "seen" against itself
        seen = self._index().filter(F.col("batch_id") < batch_id).select("band", "bh")
        bands = band_hashes(
            minhash_signatures(d, text_col=text_col, id_col="doc_id",
                               fast=self.fast_hash),
            fast=self.fast_hash,
        ).persist()
        # Double-buffered cache: the PREVIOUS batch's bands are released
        # now, when the stream has consumed its returned DataFrame — an
        # unpersist in a finally here would force the plan this method
        # RETURNS to recompute every signature (cross/losers reference
        # `bands`), doubling the hot path's per-batch CPU.
        if self._prev_bands is not None:
            self._prev_bands.unpersist()
        self._prev_bands = bands
        # (a) cross-batch collisions: any band seen before kills the doc
        cross = bands.join(seen, ["band", "bh"]).select("doc_id").distinct()
        fresh = bands.join(cross, "doc_id", "left_anti")
        # (b) within-batch: min-id wins per bucket; a doc beaten in
        # ANY bucket is dropped (conservative vs connected components
        # — see module docstring)
        w = Window.partitionBy("band", "bh")
        losers = (
            fresh.withColumn("_wmin", F.min("doc_id").over(w))
            .filter(F.col("doc_id") != F.col("_wmin"))
            .select("doc_id")
            .distinct()
        )
        kept_bands = fresh.join(losers, "doc_id", "left_anti")
        if not replay:
            self._persist_hash()  # the first publish commits the family
            (
                kept_bands.withColumn("batch_id", F.lit(batch_id).cast("long"))
                .select("band", "bh", "doc_id", "batch_id")
                .coalesce(self.PUBLISH_PARTITIONS)
                .write.mode("append")
                .parquet(self.index_path)
            )
            # the write IS the publish — reconcile the cache now so a
            # same-object retry of this batch_id replays (skips
            # re-publish) instead of appending its bands twice
            self._ledger().add(batch_id)
        # keep = docs minus the dropped sets. NOT a semi-join on
        # kept_bands: a doc too short to shingle has no bands at
        # all — it cannot collide and must pass through.
        kept = d.join(cross, "doc_id", "left_anti").join(losers, "doc_id", "left_anti")
        return kept.withColumnRenamed("doc_id", id_col) if id_col != "doc_id" else kept

    def kept_ids(self) -> DataFrame:
        """Ids of signature-bearing docs kept so far (distinct over the
        published index; docs too short to shingle publish no bands and
        are not recorded here)."""
        return self._index().select("doc_id").distinct()
