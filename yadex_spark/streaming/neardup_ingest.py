"""Streaming NEAR-dup dedup-on-ingest: MinHash-LSH band registry.

Extends the exact dedup-on-ingest composition (dedup_ingest.py — CDC
micro-batch machinery × the dedup suite) from identical-text to
near-duplicate suppression: the persistent registry stores MINHASH BAND
values instead of content hashes, so an arrival that is jaccard-similar
to ANY earlier arrival (shares ≥1 of its k 1-row LSH bands — the same
banding argument as the batch ``minhash_lsh_pairs``) is rejected.

Semantics — **band-registry first-arrival**: an arrival is accepted iff
NONE of its k band values was emitted by any strictly-earlier arrival
(earlier in this batch, or in any earlier epoch).  EVERY arrival's
bands are registered, accepted or not — so a chain A≈B≈C (where C
shares a band only with rejected B) still collapses to {A}, exactly
like the sequential greedy pass a single-writer dedup service runs.
This is deliberately an ONLINE rule: it equals the batch
``dedup_clusters`` canonical assignment whenever clusters are
star-shaped from their first arrival (each member shares a band with an
earlier member — e.g. exact-dup groups, which share every band), and
diverges only where batch clustering uses edges through FUTURE arrivals
to merge docs that had already been emitted — information no streaming
system can have at acceptance time (pinned by tests).

Docs shorter than the shingle width have no shingles, hence no bands:
they are always accepted and never reject anyone (the batch LSH path
skips them identically).

Scale shape: identical to the exact path — the band registry is only
ever touched by a narrow insert-only scan probed by a broadcast of the
batch's band values (O(batch·k) broadcast, no registry shuffle, no
LWW); all within-batch logic is O(batch·k) aggregates and broadcast
joins.  Registry maintenance (compact to hash-range-clustered files +
vacuum) is inherited.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.operators.common import persisted
from yadex_spark.operators.dedup import dedup_clusters, doc_shingles
from yadex_spark.streaming.dedup_ingest import DedupIngest
from yadex_spark.streaming.ingest_core import insert_delta


@dataclass
class NearDupIngest(DedupIngest):
    #: MinHash parameters — k 1-row bands over word n-shingles (the
    #: batch minhash_lsh_pairs defaults; k bands ⇒ candidate recall of
    #: the same banding scheme)
    k: int = 8
    n: int = 3

    TAG = "neardup"
    REGISTRY_DIR = "_seen_bands"

    def _bands(self, batch: DataFrame) -> DataFrame:
        """(ingest_seq, band) per arrival: band = '<i>|<min seeded md5
        over shingles>' — the exact signature scheme of
        operators.dedup.minhash_signatures, keyed by the arrival offset
        (unique, INGEST_SCHEMA invariant) instead of doc_id so repeated
        doc_ids with edited text hash independently."""
        sh = doc_shingles(
            batch.select(F.col("ingest_seq").alias("doc_id"), "text"), self.n
        )
        aggs = [
            F.min(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh"))), 1, 15),
                    16, 10,
                ).cast("long")
            ).alias(f"sig{i}")
            for i in range(self.k)
        ]
        sigs = sh.groupBy("doc_id").agg(*aggs)
        return sigs.select(
            F.col("doc_id").alias("ingest_seq"),
            F.explode(
                F.array(*[
                    F.format_string(f"{i}|%d", F.col(f"sig{i}"))
                    for i in range(self.k)
                ])
            ).alias("band"),
        )

    def _apply(self, batch: DataFrame, epoch_id: int, batch_id: str) -> None:
        # bands feed four plan branches (registry probe, within-batch
        # min, rejection join, registration) — computed once
        with persisted(self._bands(batch)) as bands:
            # --- cross-epoch: bands the registry has already recorded.
            # Zone-map-pruned, broadcast-semi probe, same shape as the
            # exact path: registry rows are probed map-side over only
            # the files whose footer bounds can hold a batch band.
            matched = self._registry_matched(bands.select("band"), "band")
            # --- within-batch: first holder of each band value
            band_min = bands.groupBy("band").agg(
                F.min("ingest_seq").alias("first_seq")
            )
            # an arrival is rejected iff ANY of its bands was held
            # earlier — by the registry, or by a smaller seq in-batch
            rejected = (
                bands.join(F.broadcast(matched), "band", "left_semi")
                .select("ingest_seq")
                .union(
                    bands.join(band_min, "band")
                    .where(F.col("ingest_seq") > F.col("first_seq"))
                    .select("ingest_seq")
                )
                .distinct()
            )
            with persisted(batch.join(rejected, "ingest_seq", "left_anti")) as accepted:
                # 1) accepted docs, keyed by content hash (unique among
                #    accepted rows: identical texts share every band, so
                #    a later twin is always rejected).  Committed FIRST —
                #    crash between commits replays to an identical
                #    recompute (registry still lacks this batch's bands),
                #    no-ops here by batch id, then registers the bands.
                acc_delta = insert_delta(
                    accepted, F.md5("text"), "ingest_seq",
                    F.col("doc_id").alias("accepted_doc_id"), "text", "ingest_seq",
                )
                self.accepted_table.commit_delta(acc_delta, batch_id=batch_id)
                # 2) register EVERY new band value of this batch
                #    (accepted and rejected arrivals alike — rejected
                #    docs' bands must keep rejecting their later
                #    neighbors).  Committed LAST: fully-applied marker.
                new_bands = insert_delta(
                    band_min.join(F.broadcast(matched), "band", "left_anti"),
                    "band", "first_seq", F.col("first_seq").alias("first_seen_seq"),
                )
                self.seen.commit_delta(new_bands, batch_id=batch_id)

    def reconcile(self, arrivals: DataFrame | None = None,
                  repair: bool = True) -> dict:
        """Out-of-band batch reconciliation of the ONLINE band-registry
        rule against the BATCH-canonical clustering — closes the one
        documented online-vs-batch caveat (module docstring): two docs
        accepted at their arrival times can later be bridged into one
        cluster by a FUTURE arrival sharing bands with both, which the
        batch ``dedup_clusters`` pass sees and no streaming rule can.

        Run with the stream stopped, under the shared nonce-confirmed
        maintenance lease (the same discipline as ``maintain()``).

        Direction of divergence (provable, test-pinned): the online rule
        only ever OVER-accepts.  A doc rejected online shares a band
        with a strictly earlier arrival, so batch clustering puts it in
        that arrival's component and it is never the component min —
        batch-canonical ⊆ accepted.  Reconciliation therefore only
        DELETES from the accepted table, never resurrects.

        Algorithm (all relational, no n² stage):

        1. re-derive every arrival's bands with the SAME ``_bands``
           scheme the online path used (identical candidate relation);
        2. docs sharing a band form a clique, so per-band STAR edges
           (first holder -> each later holder) give the same connected
           components with O(arrivals·k) edges;
        3. ``dedup_clusters`` (pointer-jumping min-label) labels every
           arrival; batch-canonical = label == own ingest_seq;
        4. accepted rows whose ingest_seq is not canonical are the
           divergence; with ``repair`` they are tombstoned (LWW seq
           above every insert) and the table is immediately compacted
           WITHOUT tombstones — safe here because any re-arrival of the
           same content is rejected by the band registry long before
           the accepted table, and required because ``accepted()``
           uses the insert-only ``read_keys`` fast path.

        ``arrivals``: the processed arrival log (INGEST_SCHEMA).
        Defaults to every chunk in ``feed_dir`` — correct once the
        stream has drained (AvailableNow); callers reconciling mid-feed
        must pass the processed prefix themselves.

        Returns {accepted, canonical_accepted, divergent, repaired}.
        """
        from yadex_spark.lake.lease import maintenance_lease

        if arrivals is None:
            arrivals = self.spark.read.schema(self.FEED_SCHEMA).parquet(
                self.feed_dir
            )
        with maintenance_lease(self.lake_dir):
            bands = self._bands(arrivals)
            first = bands.groupBy("band").agg(
                F.min("ingest_seq").alias("first_seq")
            )
            pairs = (
                bands.join(first, "band")
                .where(F.col("ingest_seq") > F.col("first_seq"))
                .select(
                    F.col("first_seq").alias("doc_a"),
                    F.col("ingest_seq").alias("doc_b"),
                )
                .distinct()
            )
            labels = dedup_clusters(
                pairs,
                all_docs=arrivals.select(F.col("ingest_seq").alias("doc_id")),
            )
            canonical = labels.where(
                F.col("doc_id") == F.col("cluster_id")
            ).select(F.col("doc_id").alias("canon_seq"))

            with (persisted(self.accepted()) as acc,
                  persisted(acc.join(canonical, acc["ingest_seq"] == canonical["canon_seq"],
                                     "left_anti")) as divergent):
                n_acc, n_div = acc.count(), divergent.count()
                repaired = 0
                if repair and n_div:
                    max_seq = arrivals.agg(F.max("ingest_seq")).collect()[0][0]
                    tbl = self.accepted_table
                    dele = divergent.select(
                        F.md5("text").alias("doc_id"),
                        F.lit("delete").alias("op"),
                        F.lit(max_seq + 1).cast("long").alias("op_seq"),
                        F.struct(
                            F.lit(None).cast("string").alias("accepted_doc_id"),
                            F.lit(None).cast("string").alias("text"),
                            F.lit(None).cast("long").alias("ingest_seq"),
                        ).alias("after"),
                    )
                    tbl.commit_delta(
                        dele,
                        batch_id=f"{self._scope()}/reconcile-v{tbl.latest_version()}",
                    )
                    # restore the insert-only invariant read_keys
                    # relies on: fold the tombstones away now
                    tbl.compact(keep_tombstones=False)
                    tbl.vacuum()
                    repaired = n_div
            return {
                "accepted": n_acc,
                "canonical_accepted": n_acc - n_div,
                "divergent": n_div,
                "repaired": repaired,
            }
