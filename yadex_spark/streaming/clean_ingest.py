"""Streaming CLEAN-on-ingest: the online form of the batch
``prepare_corpus`` pass's streamable stages, as the sixth ingest-family
member (exact M6 / near-dup M7 / embedding M7b / span M8 / stats M9 /
clean M11).

Per arriving document, in order:

1. **PII scrub** — sequential email/IPv4/phone redaction
   (:func:`~yadex_spark.operators.text.scrub_exprs`), FIRST, so nothing
   downstream (registry, accepted table, quality stats) ever persists
   unredacted text;
2. **quality filter** — the Gopher rule set
   (:func:`~yadex_spark.operators.text.filter_corpus`) over the
   SCRUBBED text; rejected arrivals vanish (they never register —
   an identical later arrival fails the same per-row rules);
3. **benchmark decontamination** — drop arrivals sharing any word
   n-gram with a static evaluation set (the ``decontaminate``
   overlap rule, computed by its kernels ``text._shingle_hashes`` and
   ``text._bench_hashes``, against a fixed bench table resolved ONCE
   to a 60-bit-hash set and broadcast every epoch);
4. **exact dedup vs the persistent registry** — first-arrival-wins on
   md5(scrubbed text), the inherited M6 machinery (pre-filtered
   broadcast-semi anti-join, zone-map-pruned registry scan,
   exactly-once scoped commits, crash-replay safe).

Equivalence (unlike the near-dup member, UNCONDITIONAL): stages 1–3
are per-row and stateless, and stage 4 is the M6 first-arrival rule —
already epoch-split-invariant — so the streamed accepted set equals
the batch composition scrub → filter → decontaminate → first-arrival
dedup over the same feed for ANY epoch split (pinned by tests).  The
only deliberate delta vs batch ``prepare_corpus``: the online
canonical is the FIRST ARRIVAL of a text (min ingest_seq), where the
batch pass picks min doc_id — identical whenever arrival order is
doc_id order; and the two corpus-GLOBAL stages (mixture waterfilling,
training-order shuffle) cannot stream by definition — they need the
final corpus composition, so they run as the batch pass over
``accepted()`` when the corpus is cut for training.

Scale shape: stages 1–3 add zero shuffle (per-row expressions plus one
broadcast semi-join of the batch's shingle hashes against the
eval-sized bench set); stage 4 inherits the O(batch) per-epoch cost
model (no registry shuffle, zone-map file pruning).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.operators.text import (_bench_hashes, _shingle_hashes, filter_corpus,
                                        scrub_exprs)
from yadex_spark.streaming.dedup_ingest import DedupIngest


@dataclass
class CleanIngest(DedupIngest):
    #: parquet dir of the static evaluation set (doc_id, text); None
    #: disables decontamination
    bench_dir: str | None = None
    #: decontamination shingle width + boilerplate df-cap (the
    #: ``decontaminate`` params)
    decontam_n: int = 8
    max_bench_df: int | None = None
    #: intra-document line scrub between PII scrub and the quality
    #: rules (CCNet's order: normalize the page BEFORE judging it —
    #: boilerplate repeats would otherwise both inflate length past
    #: min_words AND trip the dup-2gram rule).  Per-row/stateless, so
    #: the streamed == batch equivalence is unconditional like stages
    #: 1–3.  Off by default (the batch prepare_corpus composition this
    #: member mirrors has no line stage).
    line_dedup: bool = False
    #: Gopher rule params (the ``filter_corpus`` contract)
    min_words: int = 50
    max_words: int = 100_000
    min_wlen_c: int = 300
    max_wlen_c: int = 1_000
    min_stop: int = 2
    max_top_word_bp: int = 2_000
    max_dup_2gram_bp: int = 2_000

    _bench_set: DataFrame | None = field(default=None, repr=False)

    def _bench(self) -> DataFrame | None:
        """Distinct 60-bit shingle hashes of the bench set — the
        ``decontaminate`` kernel with its df cap — resolved once and
        cached: eval-set-sized, broadcast into every epoch's semi-join."""
        if self.bench_dir is None:
            return None
        if self._bench_set is None:
            bench = self.spark.read.parquet(self.bench_dir)
            self._bench_set = (
                _bench_hashes(bench, self.decontam_n, self.max_bench_df)
                .select("h").distinct().persist()
            )
        return self._bench_set

    def _preprocess(self, batch: DataFrame) -> DataFrame:
        # 1) scrub FIRST: everything downstream sees redacted text only
        _, clean = scrub_exprs(F.col("text"))
        scrubbed = batch.select(
            "ingest_seq", F.col("doc_id").alias("orig_id"), clean.alias("text")
        )
        # 1b) optional intra-doc line scrub over the redacted text
        if self.line_dedup:
            from yadex_spark.operators.text import dedup_lines_expr

            scrubbed = scrubbed.select(
                "ingest_seq", "orig_id", dedup_lines_expr(F.col("text")).alias("text")
            )
        # 2) Gopher quality rules over the scrubbed text (filter_corpus
        # keys on doc_id — feed it the unique arrival offset, carry the
        # real columns through)
        flags = filter_corpus(
            scrubbed.select(
                F.col("ingest_seq").alias("doc_id"), "text", "orig_id"
            ),
            min_words=self.min_words, max_words=self.max_words,
            min_wlen_c=self.min_wlen_c, max_wlen_c=self.max_wlen_c,
            min_stop=self.min_stop, max_top_word_bp=self.max_top_word_bp,
            max_dup_2gram_bp=self.max_dup_2gram_bp,
            carry=("text", "orig_id"),
        )
        kept = flags.where(F.col("keep") == 1).select(
            F.col("doc_id").alias("ingest_seq"),
            F.col("orig_id").alias("doc_id"),
            "text",
        )
        # 3) decontamination vs the static bench hash set (broadcast)
        bench = self._bench()
        if bench is None:
            return kept
        doc_h = _shingle_hashes(kept, self.decontam_n, "ingest_seq")
        contaminated = (
            doc_h.join(F.broadcast(bench), "h", "left_semi")
            .select("ingest_seq")
            .distinct()
        )
        return kept.join(F.broadcast(contaminated), "ingest_seq", "left_anti")
