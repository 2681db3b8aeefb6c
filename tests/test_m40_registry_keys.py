"""M40 — on-disk registry keys are frozen.

The near-dup, embedding and span ingest members persist band strings
and chunk hashes in their registries; a lake written by an earlier
build must keep deduplicating against a later one.  These literals were
captured from the registry key derivation before the members moved onto
their batch operators' kernels, and pin it against any later kernel
edit.
"""

from __future__ import annotations

import pytest

from yadex_spark.streaming.embdedup_ingest import EmbedDedupIngest
from yadex_spark.streaming.neardup_ingest import NearDupIngest
from yadex_spark.streaming.spandedup_ingest import SpanDedupIngest


@pytest.fixture()
def dirs(tmp_path):
    return dict(feed_dir=str(tmp_path / "feed"), lake_dir=str(tmp_path / "lake"),
                checkpoint_dir=str(tmp_path / "ckpt"))


def _docs(spark):
    return spark.createDataFrame([
        (0, "a", "the quick brown fox jumps over the lazy dog"),
        (1, "b", "the quick brown fox leaps over the lazy cat"),
        (2, "c", "tiny doc"),
        (3, "d", "a stitch in time saves nine the quick brown fox jumps over the lazy dog"),
    ], "ingest_seq long, doc_id string, text string")


def test_minhash_band_keys(spark, dirs):
    got = sorted(tuple(r) for r in NearDupIngest(spark, **dirs, k=4)._bands(_docs(spark)).collect())
    assert got == [
        (0, "0|92403028991579862"), (0, "1|118966836146419698"),
        (0, "2|26978753250797669"), (0, "3|145967854113093182"),
        (1, "0|97235879483289427"), (1, "1|148360223567841830"),
        (1, "2|26978753250797669"), (1, "3|246448209892733814"),
        (3, "0|92403028991579862"), (3, "1|118966836146419698"),
        (3, "2|26978753250797669"), (3, "3|56251634909485811"),
    ]  # doc 2 is shorter than a shingle: no bands


def test_cosine_lsh_band_keys(spark, dirs):
    emb = spark.createDataFrame([
        (0, "a", [0.5, -0.25, 0.125, 1.0]),
        (1, "b", [0.5, -0.25, 0.1, 0.9]),
        (2, "c", [-1.0, 0.3, 0.0, -0.2]),
    ], "ingest_seq long, doc_id string, embedding array<float>")
    ing = EmbedDedupIngest(spark, **dirs, n_planes=16, bands=4, dim=4)
    got = sorted(tuple(r) for r in ing._bands(emb).collect())
    assert got == [
        (0, "0|1000"), (0, "1|1111"), (0, "2|1101"), (0, "3|0001"),
        (1, "0|1000"), (1, "1|1111"), (1, "2|1101"), (1, "3|0001"),
        (2, "0|1111"), (2, "1|1000"), (2, "2|1110"), (2, "3|0011"),
    ]


def test_span_chunk_hashes(spark, dirs):
    got = sorted((r.ingest_seq, r.p0, r.nw, r.ph)
                 for r in SpanDedupIngest(spark, **dirs)._chunks(_docs(spark)).collect())
    assert got == [
        (0, 1, 5, "170077285ecc90bfc4f817925c083ee9"),
        (0, 6, 2, "2be97be5583101b3ea6dfa67f1ee1e4c"),
        (0, 8, 2, "4dab19db799e70f1123a1f94ac3c45fb"),
        (1, 1, 4, "30f3c93e46436deb58ba70816a8ec124"),
        (1, 5, 1, "c64f68125d51775553056585a00f1e16"),
        (1, 6, 2, "2be97be5583101b3ea6dfa67f1ee1e4c"),
        (1, 8, 2, "dff8a5d9c29b83cefce4c64fd2de112b"),
        (2, 1, 2, "b5636fbd98d71392a967950924a38d87"),
        (3, 1, 11, "0240ab138d4a586985bf7727f19fd23a"),
        (3, 12, 2, "2be97be5583101b3ea6dfa67f1ee1e4c"),
        (3, 14, 2, "4dab19db799e70f1123a1f94ac3c45fb"),
    ]
