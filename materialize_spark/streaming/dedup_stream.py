"""Incrementally maintained deduplication — the IVM treatment of the
pipeline's dedup operators.

A training-data ingest never sees the corpus at once: batches of documents
arrive and each batch must be answered with "which of these are new?"
against everything seen so far. Recomputing exact_dedup over history per
batch is O(history); this operator is the incremental form — per batch
cost O(batch) plus one keyed join against the compacted state, the same
arrangement-backed shape the reference's upsert state machine uses
(src/storage/src/upsert.rs; state = content_hash -> canonical doc).

Works for any scan-side signature: exact (md5 of normalized text), SimHash,
or MinHash band buckets — pass the signature column expression.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from materialize_spark.ckpt import fresh_break
from materialize_spark.pipeline.dedup import normalize_text
from materialize_spark.streaming.state_spill import SpilledPartsState


@dataclass
class IncrementalDeduper:
    """Streaming dedup state: signature -> (canonical_id, n_seen).

    ``on_batch(docs)`` returns the batch's NEW documents (first occurrence
    of their signature, within the batch and against all prior batches)
    and folds the batch into state. ``duplicates()`` reports the running
    per-signature multiplicity for audit.
    """

    spark: SparkSession
    id_col: str = "doc_id"
    text_col: str = "text"
    signature: Column | None = None
    _state: DataFrame | None = field(default=None, init=False)

    def _sig(self) -> Column:
        if self.signature is not None:
            return self.signature
        return F.md5(normalize_text(F.col(self.text_col)))

    def on_batch(self, docs: DataFrame) -> DataFrame:
        """Fold one batch; return its first-seen documents."""
        sigged = docs.withColumn("__sig", self._sig())
        # batch-local first occurrence (min id per signature)
        batch_first = (
            sigged.groupBy("__sig")
            .agg(F.min(self.id_col).alias("__first_id"),
                 F.count(F.lit(1)).alias("__n"))
        )
        if self._state is None:
            fresh = batch_first
            new_state = batch_first.select(
                "__sig", F.col("__first_id").alias("canonical_id"),
                F.col("__n").alias("n_seen"))
        else:
            fresh = batch_first.join(self._state.select("__sig"),
                                     on="__sig", how="left_anti")
            # merge counts; keep the earliest canonical id ever seen
            merged = (
                self._state.unionByName(
                    batch_first.select(
                        "__sig", F.col("__first_id").alias("canonical_id"),
                        F.col("__n").alias("n_seen")))
                .groupBy("__sig")
                .agg(F.min("canonical_id").alias("canonical_id"),
                     F.sum("n_seen").alias("n_seen"))
            )
            new_state = merged
        self._state = fresh_break(new_state)
        first_ids = fresh.select(F.col("__first_id").alias(self.id_col))
        return docs.join(first_ids, on=self.id_col, how="left_semi")

    def duplicates(self) -> DataFrame:
        """Signatures seen more than once: (signature, canonical_id,
        n_seen) — the audit view of what dedup removed."""
        if self._state is None:
            raise RuntimeError("no batches folded yet")
        return (self._state.filter(F.col("n_seen") > 1)
                .select(F.col("__sig").alias("signature"),
                        "canonical_id", "n_seen"))


@dataclass
class IncrementalLSHDedup:
    """Near-duplicate dedup maintained incrementally (MinHash + LSH).

    The batch operator (pipeline/dedup.py minhash_signatures +
    lsh_candidate_pairs) answers "which docs in THIS corpus are near
    dups"; a training-data ingest instead asks, per arriving batch,
    "which of these are near dups of ANYTHING seen so far". Recomputing
    LSH over history is O(history^ish) per batch; this operator keeps
    every seen doc's band buckets and signature on two parts-spines
    (streaming/state_spill.py: per-batch writes are O(batch), probes
    are broadcast semi-joins over the parts — shuffle-free scans — and
    past the spill budget they read only the partitions the batch's
    bucket keys, resp. candidate doc ids, hash into).

    Drop rule (deterministic, non-recursive): a doc is a duplicate iff a
    VERIFIED candidate (signature agreement >= ``min_agree`` of
    ``num_hashes``) exists with a LOWER doc_id — within the batch or
    against the seen corpus. With monotone doc_id assignment (ingest
    order, the pipeline norm) the incremental survivor set is exactly
    the batch rule's on the full corpus, which is what the oracle
    checks. State keeps ALL seen docs (dropped ones too): a later doc
    matching only a dropped doc must still drop.
    """

    spark: SparkSession
    num_hashes: int = 8
    band_size: int = 2
    k: int = 3
    min_agree: int = 4
    id_col: str = "doc_id"
    _buckets: SpilledPartsState = field(init=False)
    _sigs: SpilledPartsState = field(init=False)

    def __post_init__(self) -> None:
        self._buckets = SpilledPartsState(["band", "bucket"])
        self._sigs = SpilledPartsState([self.id_col])

    def _agree(self, a: str, b: str) -> Column:
        n = sum((F.col(f"{a}.sig{i}") == F.col(f"{b}.sig{i}")).cast("int")
                for i in range(self.num_hashes))
        return n >= F.lit(self.min_agree)

    def on_batch(self, docs: DataFrame, tokens: Column) -> DataFrame:
        """Fold one batch; returns the batch rows that SURVIVE (are not
        near dups of a lower-id doc, seen or in-batch). ``tokens``: the
        tokenized text column expression over ``docs``."""
        from materialize_spark.pipeline.dedup import (
            lsh_candidate_pairs, minhash_signatures,
        )
        idc = self.id_col
        sigs_b = fresh_break(minhash_signatures(
            docs, tokens, num_hashes=self.num_hashes, k=self.k,
            id_col=idc))
        n_bands = self.num_hashes // self.band_size
        bands = F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *[
                    F.col(f"sig{b * self.band_size + j}")
                    for j in range(self.band_size)])).alias("bucket"))
            for b in range(n_bands)])
        buckets_b = fresh_break(
            sigs_b.select(F.col(idc), F.explode(bands).alias("bb"))
            .select(idc, "bb.band", "bb.bucket"))

        dup_ids = None
        if self._buckets.n_parts():
            touched_keys = buckets_b.select("band", "bucket").distinct()
            touched = F.broadcast(touched_keys)
            # probe: only state rows in buckets the batch touches —
            # the spilled tier is additionally partition-pruned to the
            # touched buckets' hash prefixes before any file I/O
            hits = (self._buckets.probe_frame(touched_keys)
                    .join(touched, on=["band", "bucket"], how="left_semi")
                    .withColumnRenamed(idc, "__old"))
            cand = (hits.join(F.broadcast(buckets_b),
                              on=["band", "bucket"])
                    .filter(F.col("__old") < F.col(idc))
                    .select("__old", idc).distinct())
            cand_ids = (cand.select("__old").distinct()
                        .withColumnRenamed("__old", idc))
            old_sigs = (self._sigs.probe_frame(cand_ids)
                        .join(F.broadcast(cand_ids),
                              on=idc, how="left_semi"))
            dup_ids = (cand.alias("c")
                       .join(old_sigs.alias("o"),
                             F.col("c.__old") == F.col(f"o.{idc}"))
                       .join(F.broadcast(sigs_b).alias("n"),
                             F.col(f"c.{idc}") == F.col(f"n.{idc}"))
                       .filter(self._agree("o", "n"))
                       .select(F.col(f"c.{idc}").alias(idc)).distinct())

        # within-batch near dups (drop the higher id of a verified pair)
        pairs_b = lsh_candidate_pairs(
            sigs_b, num_hashes=self.num_hashes, band_size=self.band_size,
            id_col=idc)
        batch_dups = (pairs_b.alias("p")
                      .join(sigs_b.alias("o"),
                            F.col("p.doc_a") == F.col(f"o.{idc}"))
                      .join(sigs_b.alias("n"),
                            F.col("p.doc_b") == F.col(f"n.{idc}"))
                      .filter(self._agree("o", "n"))
                      .select(F.col("p.doc_b").alias(idc)).distinct())
        dup_ids = (batch_dups if dup_ids is None
                   else dup_ids.unionByName(batch_dups).distinct())

        survivors = docs.join(F.broadcast(dup_ids), on=idc,
                              how="left_anti")

        # every batch doc (dropped ones too) joins the seen corpus
        self._buckets.append(buckets_b)
        self._sigs.append(sigs_b)
        return survivors
