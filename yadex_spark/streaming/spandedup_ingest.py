"""Streaming SPAN dedup-on-ingest: strip repeated passages AS DOCS ARRIVE.

The third shape of the ingest-dedup family (exact: dedup_ingest.py,
near-dup: neardup_ingest.py): instead of accepting/rejecting whole
arrivals, every arrival is accepted but TRANSFORMED — chunks whose
content-defined hash was emitted by any strictly-earlier arrival are
stripped, and the document is rebuilt from its surviving chunks — with
``passage_dedup``'s own kernels (``operators.dedup._chunk_rows`` for the
chunks and their hashes, ``_rebuild_chunks`` for the rebuild).  This is incremental
duplicate-span removal (Lee et al.) — the form a training-data lake
needs when boilerplate repeats across documents that are otherwise
distinct.

Unlike the near-dup rule, span dedup is EXACTLY batch-equivalent: the
chunk registry records precisely the set of eligible chunk hashes ever
seen, and first-occurrence-wins over (arrival order, position) is the
same total order the batch ``passage_dedup`` resolves in one pass — so
streaming the corpus in doc_id order, under ANY epoch split, produces
bit-identical cleaned text to the batch operator (pinned by test).
There is no future-bridge caveat because chunk identity is exact, not
similarity-based.

Per epoch:

1. chunk the batch's documents (per-row HOFs; dedup-ELIGIBLE = chunks
   of >= min_words words, same exemption as the batch operator),
2. within-batch winners: min (ingest_seq, p0) per chunk hash —
   partial-agg min-struct, the passage_dedup shape,
3. cross-epoch: drop eligible chunks whose hash the persistent chunk
   registry has recorded — the broadcast-semi pre-filtered probe of a
   narrow insert-only registry scan (no registry row ever shuffles),
4. commit the rebuilt documents (keyed by the unique arrival offset),
   then register this epoch's winning chunk hashes — both idempotent
   by scoped batch id, registry commit LAST as the fully-applied
   marker, so a crash-replayed epoch recomputes identically and
   cannot double-strip or double-register.

Scale shape: chunking is O(batch words) per-row work; the only
shuffles are the batch-local winner agg and the per-arrival rebuild
(both O(batch chunks)); the registry contributes one narrow
single-column scan probed by a broadcast of the batch's chunk hashes
(the dedup_ingest shape, DEPLOY.md maps it to Iceberg MERGE + Bloom
file-skipping).  Registry maintenance (hash-range-clustered compaction
+ vacuum) is inherited.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.operators.common import persisted
from yadex_spark.operators.dedup import _chunk_rows, _rebuild_chunks
from yadex_spark.streaming.dedup_ingest import DedupIngest
from yadex_spark.streaming.ingest_core import insert_delta

#: cleaned() output schema
CLEANED_SCHEMA = (
    "ingest_seq long, doc_id string, n_chunks long, n_dropped long, clean_text string"
)


@dataclass
class SpanDedupIngest(DedupIngest):
    #: chunker parameters — the batch passage_dedup defaults
    p: int = 6
    min_words: int = 4

    TAG = "span"
    REGISTRY_DIR = "_seen_chunks"

    def _chunks(self, batch: DataFrame) -> DataFrame:
        """(ingest_seq, doc_id, p0, nw, ph, passage) per chunk
        occurrence — the batch passage_dedup chunk kernel, keyed by the
        arrival offset."""
        return _chunk_rows(batch, self.p, "ingest_seq", "doc_id")

    def _apply(self, batch: DataFrame, epoch_id: int, batch_id: str) -> None:
        # the chunk subtree feeds the registry probe, the winner agg,
        # the keep join and the rebuild — computed once per epoch
        with persisted(self._chunks(batch)) as chunks:
            eligible = chunks.where(F.col("nw") >= self.min_words)
            # --- cross-epoch: chunk hashes the registry already holds.
            # Zone-map-pruned, broadcast-semi probe: registry rows are
            # probed map-side against the batch's hashes over only the
            # files whose footer bounds can hold one, never shuffled.
            matched = self._registry_matched(eligible.select("ph"), "ph")
            # --- within-batch: first occurrence of each eligible hash
            # (min over the (arrival, position) total order — the batch
            # passage_dedup winner rule restricted to this epoch)
            winners = eligible.groupBy("ph").agg(
                F.min(F.struct("ingest_seq", "p0")).alias("w")
            )
            # an occurrence survives iff it is dedup-exempt, or its
            # hash is new to the corpus AND it is the batch's winner
            kept = (
                chunks.join(F.broadcast(matched.withColumn("_m", F.lit(True))), "ph", "left")
                .join(winners, "ph", "left")
                .withColumn(
                    "keep",
                    (F.col("nw") < self.min_words)
                    | (
                        F.col("_m").isNull()
                        & (F.struct("ingest_seq", "p0") == F.col("w"))
                    ),
                )
            )
            cleaned = _rebuild_chunks(kept, "ingest_seq", "doc_id")
            # 1) rebuilt documents, keyed by the unique arrival offset.
            #    Committed FIRST: a crash between the commits replays to
            #    an identical recompute (the registry still lacks this
            #    epoch's chunk hashes), no-ops here by batch id, then
            #    registers the chunks.
            out_delta = insert_delta(
                cleaned, "ingest_seq", "ingest_seq",
                F.col("doc_id").alias("orig_doc_id"),
                "ingest_seq", "n_chunks", "n_dropped", "clean_text",
            )
            self.accepted_table.commit_delta(out_delta, batch_id=batch_id)
            # 2) register this epoch's NEW chunk hashes (the winners not
            #    already matched — every other occurrence was stripped
            #    in favor of its winner).  Committed LAST: fully-applied
            #    marker.
            new_chunks = insert_delta(
                winners.join(F.broadcast(matched), "ph", "left_anti"),
                "ph", "w.ingest_seq",
                F.col("w.ingest_seq").alias("first_seen_seq"),
                F.col("w.p0").alias("first_seen_pos"),
            )
            self.seen.commit_delta(new_chunks, batch_id=batch_id)

    def accepted(self) -> DataFrame:
        """Span dedup accepts every arrival (transformed, not dropped):
        the accepted view is the cleaned corpus in the family's
        (doc_id, text, ingest_seq) shape — overriding the inherited
        exact-dedup reader, whose payload columns don't exist here."""
        return self.cleaned().select(
            "doc_id", F.col("clean_text").alias("text"), "ingest_seq"
        )

    def cleaned(self) -> DataFrame:
        """All rebuilt documents so far, one row per arrival.
        Insert-only fast-path read; typed-empty before any epoch."""
        tbl = self.accepted_table
        if not tbl.snapshots():
            return self.spark.createDataFrame([], CLEANED_SCHEMA)
        return tbl.read_keys(
            "orig_doc_id", "ingest_seq", "n_chunks", "n_dropped", "clean_text"
        ).select(
            "ingest_seq",
            F.col("orig_doc_id").alias("doc_id"),
            "n_chunks",
            "n_dropped",
            "clean_text",
        )
