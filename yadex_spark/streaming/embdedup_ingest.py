"""Streaming EMBEDDING near-dup dedup-on-ingest: cosine-LSH band registry.

Third member of the dedup-on-ingest family (exact → MinHash-LSH text →
embedding cosine): arrivals carry an embedding vector instead of (or
besides) text, and an arrival is rejected iff it shares a cosine-LSH
band — random-hyperplane signature chunk, the ``cosine_lsh_pairs``
scheme over ALL dims — with any strictly-earlier arrival.  Semantics,
commit protocol, crash-replay behavior and the no-registry-shuffle
scale shape are EXACTLY the band-registry rule of
``neardup_ingest.NearDupIngest``; only the band generator differs
(deterministic integer hyperplane signatures instead of MinHash over
shingles).

Band width policy mirrors the batch operator: the default 64 planes /
4 bands gives 16-bit band values (bucket cardinality 2^16 — scale
safe); recall at a given cosine is the banding hit rate (near-identical
embeddings — the dedup case — collide with high probability).

Feed schema: (ingest_seq long, doc_id string, embedding array<float>)
— ingest_seq is the unique arrival offset, as everywhere in the family.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.operators.similarity import _dot, lsh_planes, quantized
from yadex_spark.streaming.neardup_ingest import NearDupIngest

#: feed schema for the embedding variant
EMBED_INGEST_SCHEMA = "ingest_seq long, doc_id string, embedding array<float>"


@dataclass
class EmbedDedupIngest(NearDupIngest):
    n_planes: int = 64
    bands: int = 4
    dim: int = 64

    REGISTRY_DIR = "_seen_embed_bands"
    FEED_SCHEMA = EMBED_INGEST_SCHEMA

    #: cached hyperplane literals (computed once per instance)
    _planes: list = field(default=None, repr=False)

    def _bands(self, batch: DataFrame) -> DataFrame:
        """(ingest_seq, band): band = '<i>|<bit chunk>' of the
        random-hyperplane signature — sign(q · w_i) per plane, exact
        integer math over the 1/1000-quantized vector (the
        cosine_lsh_pairs signature, keyed by arrival offset)."""
        if self._planes is None:
            self._planes = lsh_planes(self.n_planes, self.dim)
        q = quantized(F.col("embedding"))
        bits = [
            F.when(_dot(q, F.array(*[F.lit(w) for w in plane])) >= 0, "1")
            .otherwise("0")
            for plane in self._planes
        ]
        sig = batch.select("ingest_seq", F.concat(*bits).alias("s"))
        r = self.n_planes // self.bands
        return sig.select(
            "ingest_seq",
            F.explode(
                F.array(*[
                    F.concat(F.lit(f"{i}|"), F.substring("s", 1 + i * r, r))
                    for i in range(self.bands)
                ])
            ).alias("band"),
        )

    def _preprocess(self, batch: DataFrame) -> DataFrame:
        # the embedding feed has no text column; the parent's accepted
        # delta stores (accepted_doc_id, text, ingest_seq) — reuse it by
        # carrying the embedding as its canonical string form (exact:
        # quantized integers), so accepted() stays schema-stable across
        # the family.  A production sink would keep the vector column;
        # this keeps the shared LakeTable payload path single-schema.
        return batch.select(
            "ingest_seq", "doc_id",
            F.to_json(quantized(F.col("embedding"))).alias("text"),
            "embedding",
        )
