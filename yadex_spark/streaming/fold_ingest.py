"""Streaming counting-on-ingest: corpus statistics kept current AS THE
LAKE FILLS, exactly-once under crash replay, never rescanning the
corpus.

The four counting members of the ingest family share one shape — the
mergeable-state law of the sketches in ``operators/sketch.py``: each
epoch commits its batch's PARTIAL state as rows keyed by
``e{epoch}|{key}`` under the epoch's scoped batch id, and a read FOLDS
the per-epoch partials (#epochs x partial-size rows — model-sized,
never the corpus).  A crash-replayed epoch no-ops by batch id (the
``EpochIngest`` replay skip), and the epoch-prefixed key makes even a
concurrent replay LWW-idempotent.  :class:`EpochFold` owns that commit,
the typed-empty read and the fold; a member supplies its partial, its
key and payload columns, and (when not additive) its fold.

- :class:`StatsIngest` — per-source ``corpus_stats`` composition
  counters; ``stats()`` equals the batch operator over everything
  ingested.  Additive counters made exactly-once: the idempotent-counter
  construction, the streaming analogue of an Observation that survives
  restarts.
- :class:`DsirIngest` — the raw-corpus DSIR hashed-bucket model
  (b, c_r).  ``weights()`` feeds ``raw_model()`` into
  ``dsir_weights(raw_counts=...)`` and is BIT-IDENTICAL to the batch
  operator (shared feature extractor, associative counting), while
  skipping its corpus pass.  The target-side model stays a batch
  concern: targets are small, static benchmark sets.
- :class:`KmvIngest` — per-source distinct-word counts.  A distinct
  count is not additive, but its KMV sketch is: the k minimum hashes of
  a union are the re-top-k of the per-part minima, so the fold unions
  the partial hash sets, re-top-ks them with the batch sketch's own
  top-k kernel (``sketch._kmv_sketch``) and reads ``kmv_estimate``.  The
  sketch is a SET of hashes, so even a forced double-commit cannot
  inflate it (m20 pins this); the batch-id skip makes replay free, not
  merely harmless.
- :class:`CmsIngest` — a corpus-wide count-min sketch.  CMS is LINEAR
  (``cms_merge``), so the fold is a cell sum — but, the INVERSE of
  KMV, it counts multiplicity: the scoped batch id is LOAD-BEARING
  here, since a replayed epoch that slipped past it would double its
  cells (m30 pins both the no-op and, by forced double-commit, the
  inflation it prevents).

Deletes are non-retractable from every member (the lake's delete events
carry no payload to count or hash): a delete-heavy lake re-bootstraps
from the batch operators.  ``maintain()`` compacts the partials table
under the shared lease; the folded answers are unchanged by it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.lake.table import LakeTable
from yadex_spark.streaming.ingest_core import EpochIngest, insert_delta

#: feed schema — the ingest family's arrival triple plus the source tag
STATS_FEED_SCHEMA = "ingest_seq long, doc_id string, text string, source string"

#: additive counter columns (the batch corpus_stats output, minus the key)
STAT_COLS = (
    "n_docs", "n_tokens_est", "n_chars", "n_words",
    "n_lt16w", "n_lt64w", "n_lt256w", "n_ge256w",
)


def _words(batch: DataFrame, *keep: str) -> DataFrame:
    """One row per non-empty space-separated word ``w``."""
    return batch.select(
        *keep, F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")


@dataclass
class EpochFold(EpochIngest):
    """A counting member: per-epoch mergeable partials, folded on read."""

    #: read() output schema — the typed-empty answer before any epoch
    SCHEMA = ""
    #: partial columns identifying a partial row within its epoch
    KEY = ()
    #: partial columns stored per row (and read back for the fold)
    PAYLOAD = ()

    def _maintained(self) -> dict[str, LakeTable]:
        return {self.TAG: self.seen}

    def _partial(self, batch: DataFrame) -> DataFrame:
        """The batch's mergeable partial state (KEY + PAYLOAD columns)."""
        raise NotImplementedError

    def _fold(self, partials: DataFrame) -> DataFrame:
        """Fold every epoch's partials: additive by default — the
        non-KEY payload columns summed per KEY."""
        return partials.groupBy(*self.KEY).agg(
            *[F.sum(c).alias(c) for c in self.PAYLOAD if c not in self.KEY]
        )

    def _apply(self, batch: DataFrame, epoch_id: int, batch_id: str) -> None:
        key = F.concat_ws(
            "|", F.lit(f"e{epoch_id}"), *[F.col(c).cast("string") for c in self.KEY]
        )
        delta = insert_delta(self._partial(batch), key, F.lit(epoch_id), *self.PAYLOAD)
        self.seen.commit_delta(delta, batch_id=batch_id)

    def read(self) -> DataFrame:
        """The fold of everything ingested so far.  Insert-only narrow
        read of the partials (each epoch-prefixed key commits at most
        once); typed-empty before any epoch."""
        if not self.seen.snapshots():
            return self.spark.createDataFrame([], self.SCHEMA)
        return self._fold(self.seen.read_keys(*self.PAYLOAD))


@dataclass
class StatsIngest(EpochFold):
    TAG, REGISTRY_DIR, FEED_SCHEMA = "stats", "_stats_partials", STATS_FEED_SCHEMA
    SCHEMA = "source string, " + ", ".join(f"{c} long" for c in STAT_COLS)
    KEY, PAYLOAD = ("source",), ("source", *STAT_COLS)

    def _partial(self, batch: DataFrame) -> DataFrame:
        from yadex_spark.operators.text import corpus_stats

        return corpus_stats(batch)

    #: accumulated per-source composition (the batch corpus_stats answer)
    stats = EpochFold.read


@dataclass
class DsirIngest(EpochFold):
    n_buckets: int = 1024

    TAG, REGISTRY_DIR = "dsir", "_dsir_partials"
    SCHEMA = "b long, c_r long"
    KEY, PAYLOAD = ("b",), ("b", "c_r")

    def _partial(self, batch: DataFrame) -> DataFrame:
        from yadex_spark.operators.text import dsir_features

        return (
            dsir_features(batch, self.n_buckets)
            .where(F.col("b").isNotNull())
            .groupBy("b")
            .agg(F.count("*").alias("c_r"))
        )

    #: the accumulated raw-corpus bucket model (b, c_r) — what a fresh
    #: dsir_features(corpus).groupBy(b).count() pass would produce
    raw_model = EpochFold.read

    def weights(self, corpus: DataFrame, target: DataFrame,
                salt: str = "dsir") -> DataFrame:
        """Batch ``dsir_weights`` over ``corpus`` with the raw model
        supplied by the accumulated partials.  Caller's contract (same
        as the batch operator's ``raw_counts``): ``corpus`` is exactly
        the ingested feed."""
        from yadex_spark.operators.text import dsir_weights

        return dsir_weights(corpus, target, n_buckets=self.n_buckets,
                            salt=salt, raw_counts=self.raw_model())


@dataclass
class KmvIngest(EpochFold):
    k: int = 64

    TAG, REGISTRY_DIR, FEED_SCHEMA = "kmv", "_kmv_partials", STATS_FEED_SCHEMA
    SCHEMA = "source string, n_kept long, kth_hash long, est_distinct long"
    KEY, PAYLOAD = ("source",), ("source", "hs")

    def _partial(self, batch: DataFrame) -> DataFrame:
        from yadex_spark.operators.sketch import kmv_state

        return kmv_state(_words(batch, "source"), "source", F.col("w"), k=self.k)

    def _fold(self, partials: DataFrame) -> DataFrame:
        """Union law: re-top-k the union of the partial hashes per source
        with the batch sketch's kernel, read the estimate — equal to the
        batch ``distinct_kmv``."""
        from yadex_spark.operators.sketch import _kmv_sketch, kmv_estimate

        state = _kmv_sketch(partials, "source", F.explode("hs"), self.k)
        return kmv_estimate(state, "source", k=self.k)

    #: accumulated per-source distinct-word estimate (the batch
    #: distinct_kmv answer for everything ingested so far)
    distinct = EpochFold.read


@dataclass
class CmsIngest(EpochFold):
    depth: int = 3
    width: int = 2048

    TAG, REGISTRY_DIR, FEED_SCHEMA = "cms", "_cms_partials", STATS_FEED_SCHEMA
    SCHEMA = "r string, cell long, cnt long"
    KEY, PAYLOAD = ("r", "cell"), ("r", "cell", "cnt")

    def _partial(self, batch: DataFrame) -> DataFrame:
        from yadex_spark.operators.sketch import cms_sketch

        return cms_sketch(_words(batch), "w", depth=self.depth, width=self.width)

    #: the corpus sketch so far (equals the batch cms_sketch over
    #: everything ingested)
    sketch = EpochFold.read

    def estimate(self, probes: DataFrame, value_col: str = "w") -> DataFrame:
        """Estimated occurrence count so far for each probe value."""
        from yadex_spark.operators.sketch import cms_estimate

        return cms_estimate(
            self.sketch(), probes, value_col, self.depth, self.width
        )
