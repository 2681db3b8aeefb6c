"""Streaming cross-document boilerplate scrub — the TENTH ingest-family
member: documents are line-scrubbed against a persistent corpus-wide
line document-frequency table AS THEY ARRIVE (the incremental form of
``operators/text.py:dedup_cross_doc_lines`` — CCNet shard paragraph
dedup / C4 boilerplate removal, run on a stream).

Each epoch:

1. explode the batch's documents into (line md5, doc) pairs and count
   the batch's per-line df over DISTINCT docs (intra-doc repeats count
   once — same rule as the batch operator);
2. probe the persistent ``line_df`` table for the batch's hashes ONLY
   (``LakeTable.lookup(probes=...)`` — the zone-map-pruned LWW point
   read, O(batch-matching files) after maintenance) and fold:
   new_df = stored_df + batch_df;
3. the epoch's boilerplate set = batch hashes with new_df >= min_df.
   This is COMPLETE for the epoch's own documents: any line that could
   be scrubbed from them appears in the batch, so its hash is probed —
   no second registry needed, and counts only grow, so a hash that
   crossed the threshold in any earlier epoch still satisfies it now;
4. scrub the batch's docs against that set (order-preserving rebuild),
   commit the scrubbed docs FIRST, then the updated (h, df) rows —
   both idempotent by scoped batch id; the ``line_df`` commit is the
   epoch's fully-applied marker (checked on entry), and a crash between
   the two replays against the UNCHANGED line_df, recomputing the
   identical accepted set.

Unlike the other nine members' insert-only registries, ``line_df`` is a
genuine UPSERT table (df grows), so it leans on the lake's native LWW
with ``op_seq = epoch``: one row per hash per epoch, newest wins.  The
epoch probe is `lookup` — pruned to the batch's key range — instead of
the insert-only ``read_keys`` fast path; per-epoch cost stays
O(batch-matching files) once maintenance range-clusters the table.

**Online-vs-batch caveat (the near-dup family's, in df form):** a doc
accepted in epoch k keeps a line that only crosses ``min_df`` in epoch
k+j — batch ``dedup_cross_doc_lines`` over the union would scrub it.
Divergence is one-directional (online under-scrubs, never over-scrubs:
df never decreases).  :meth:`reconcile` closes it out-of-band under the
maintenance lease: re-scrub every accepted doc against the FINAL
boilerplate set and upsert the docs whose text changed — after it,
accepted == the batch operator's output (test-pinned, including on an
adversarial split where a line crosses the threshold mid-feed).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable
from yadex_spark.operators.common import persisted
from yadex_spark.streaming.ingest_core import EpochIngest, insert_delta

#: scrubbed-output schema (one row per arrival, keyed by ingest_seq)
SCRUBBED_SCHEMA = (
    "ingest_seq long, doc_id string, clean_text string, "
    "n_lines int, n_dropped int"
)


def _lines(docs: DataFrame, sep: str) -> DataFrame:
    """(ingest_seq, doc_id, i, line, h) — one row per line occurrence."""
    return docs.select(
        "ingest_seq", "doc_id",
        F.posexplode(F.split(F.col("text"), "\\Q" + sep + "\\E")).alias("i", "line"),
    ).withColumn("h", F.md5("line"))


@dataclass
class BoilerplateIngest(EpochIngest):
    min_df: int = 2
    sep: str = "\n"

    TAG, REGISTRY_DIR = "boiler", "_line_df"

    #: (h, df) per line hash — this member's registry, committed LAST
    line_df = EpochIngest.seen

    def _maintained(self) -> dict[str, LakeTable]:
        # line_df is the hot one: one delta per epoch, probed every
        # epoch — the exact L0 shape minor compaction exists for
        return {"line_df": self.line_df, "accepted": self.accepted_table}

    # ---------- epoch body ----------

    def _stored_df(self, probes: list) -> DataFrame:
        """(h, df) currently stored for the probed hashes — zone-map
        pruned LWW point read; typed-empty before the first commit."""
        tbl = self.line_df
        if not tbl.snapshots():
            return self.spark.createDataFrame([], "h string, df long")
        if len(probes) > self.MAX_PRUNE_PROBES:
            out = tbl.read()
        else:
            self.last_prune = {}
            out = tbl.lookup(sorted(probes), prune_stats=self.last_prune)
        return out.select(F.col("doc_id").alias("h"), "df")

    def _scrub(self, docs: DataFrame, boiler: DataFrame) -> DataFrame:
        """Order-preserving rebuild of ``docs`` minus boilerplate lines
        (same reassembly as the batch operator; ``boiler`` is batch-
        bounded, so AQE broadcasts it into the anti-join)."""
        ln = _lines(docs, self.sep)
        kept = ln.join(F.broadcast(boiler), "h", "left_anti")
        rebuilt = (
            kept.groupBy("ingest_seq")
            .agg(F.array_sort(F.collect_list(F.struct("i", "line"))).alias("_k"))
            .select(
                "ingest_seq",
                F.size("_k").alias("n_kept"),
                F.array_join(
                    F.transform("_k", lambda s: s["line"]), self.sep
                ).alias("clean_text"),
            )
        )
        base = docs.select(
            "ingest_seq", "doc_id",
            F.size(F.split(F.col("text"), "\\Q" + self.sep + "\\E")).alias("n_lines"),
        )
        out = base.join(rebuilt, "ingest_seq", "left")
        return out.select(
            "ingest_seq", "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )

    def _apply(self, batch: DataFrame, epoch_id: int, batch_id: str) -> None:
        with (persisted(batch) as docs,
              persisted(_lines(docs, self.sep).select("h", "doc_id").distinct()
                        .groupBy("h").agg(F.count(F.lit(1)).alias("bdf"))) as batch_df):
            probes = [r["h"] for r in batch_df.select("h").collect()]
            if not probes:
                return
            folded = batch_df.join(self._stored_df(probes), "h", "left").select(
                "h", (F.col("bdf") + F.coalesce("df", F.lit(0))).alias("df"),
            )
            with persisted(folded):
                boiler = folded.where(F.col("df") >= self.min_df).select("h")
                # 1) scrubbed docs FIRST (replay recomputes identically
                #    against the unchanged line_df, then no-ops by batch id)
                acc_delta = insert_delta(
                    self._scrub(docs, boiler), "ingest_seq", "ingest_seq",
                    F.col("doc_id").alias("orig_doc_id"),
                    "clean_text", "n_lines", "n_dropped", "ingest_seq",
                )
                self.accepted_table.commit_delta(acc_delta, batch_id=batch_id)
                # 2) updated df rows LAST — the fully-applied marker.
                #    op_seq = epoch: LWW picks the newest fold per hash.
                df_delta = insert_delta(folded, "h", F.lit(epoch_id), "df")
                self.line_df.commit_delta(df_delta, batch_id=batch_id)

    # ---------- reads ----------

    def accepted(self) -> DataFrame:
        tbl = self.accepted_table
        if not tbl.snapshots():
            return self.spark.createDataFrame([], SCRUBBED_SCHEMA)
        return tbl.read().select(
            "ingest_seq",
            F.col("orig_doc_id").alias("doc_id"),
            "clean_text", "n_lines", "n_dropped",
        )

    def boiler_set(self) -> DataFrame:
        """Hashes currently at or above min_df (the final boilerplate
        set — what reconcile scrubs against)."""
        tbl = self.line_df
        if not tbl.snapshots():
            return self.spark.createDataFrame([], "h string")
        return tbl.read().where(F.col("df") >= self.min_df).select(
            F.col("doc_id").alias("h")
        )

    # ---------- out-of-band ----------

    def reconcile(self) -> int:
        """Close the online under-scrub: re-scrub EVERY accepted doc
        against the FINAL boilerplate set and upsert the ones whose
        text changes (op_seq above any arrival, so LWW takes the
        reconciled row).  O(accepted) — run under the maintenance
        lease, like the near-dup family's reconcile.  Returns the
        number of repaired docs.  Idempotent: a second run finds
        nothing to scrub."""
        from yadex_spark.lake.lease import maintenance_lease

        tbl = self.accepted_table
        if not tbl.snapshots():
            return 0
        with maintenance_lease(self.lake_dir):
            cur = tbl.read().select(
                "ingest_seq",
                F.col("orig_doc_id").alias("doc_id"),
                F.col("clean_text").alias("text"),
                "n_lines",
            )
            max_seq = tbl.read().agg(F.max("ingest_seq")).first()[0] or 0
            with persisted(self.boiler_set()) as boiler:
                rescrub = self._scrub(cur, boiler)
                # a repaired doc keeps its ORIGINAL n_lines / cumulative
                # n_dropped (drop counts compose: earlier scrub + this one)
                repaired = (
                    rescrub.where(F.col("n_dropped") > 0)
                    .join(
                        cur.select("ingest_seq", F.col("n_lines").alias("orig_n_lines")),
                        "ingest_seq",
                    )
                )
                delta = insert_delta(
                    repaired, "ingest_seq",
                    F.lit(max_seq) + F.lit(1) + F.col("ingest_seq"),
                    F.col("doc_id").alias("orig_doc_id"),
                    "clean_text",
                    F.col("orig_n_lines").alias("n_lines"),
                    # cumulative: lines dropped online + dropped now
                    (F.col("orig_n_lines") - F.col("n_lines")
                     + F.col("n_dropped")).alias("n_dropped"),
                    "ingest_seq",
                )
                with persisted(delta):
                    n = delta.count()
                    if n:
                        self.accepted_table.commit_delta(
                            delta, batch_id=f"reconcile-{self.line_df.latest_version()}"
                        )
            return int(n)
