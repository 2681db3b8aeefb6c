"""Distributed quality-classifier training (hashed-feature linear model).

The fastText/CCNet-style quality classifier a training-data pipeline
trains over its own corpus: hashed bag-of-words features, a linear
model, full-batch gradient descent where every iteration is ONE
distributed pass.  This is the learning counterpart of the heuristic
scorer (:func:`~yadex_spark.operators.text.quality`) — heuristics
bootstrap labels, the trained model generalizes them.

Reference analogue: none (beyond-reference training-data suite; the
reference is a sync engine, /root/reference/README.md).  The
distributed shape is MLlib's ``treeAggregate`` gradient step
re-expressed declaratively:

- **features once**: explode words → salted md5 bucket (the repo's
  cross-engine hash, cf. packing.py:30) → per-doc sparse
  ``array<struct<idx,cnt>>`` + a constant bias term — cached and
  reused by every iteration (the k-means pattern,
  similarity.py:316).
- **per iteration**: prediction is a per-row higher-order ``aggregate``
  over the sparse vector with the weight vector as a BROADCAST ARRAY
  LITERAL (model-sized, like the IVF centroids) — zero shuffle; the
  gradient is one narrow ``(idx, err·cnt)`` shuffle with map-side
  partial aggregation into ``dim+1`` rows; the weight update is
  driver-side over a model-sized collect.
- **exact arithmetic**: everything is integer fixed-point (``FP =
  2^fp_shift`` units), so training is bit-deterministic — independent
  of partitioning, task order, and float summation order — and a
  DuckDB oracle replays it exactly (truncating integer division on
  both sides; verified ``//`` truncates toward zero in DuckDB, and
  :func:`_trunc_div` matches in Python).

At 100 TB: the cached feature pass is the only corpus-wide scan per
iteration; gradients are ``n_partitions × (dim+1)`` partial rows, the
model is O(dim) on the driver.  Squared loss keeps the update free of
transcendentals (a logistic variant would reintroduce cross-engine
libm ULP risk for exactly zero gate value).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yadex_spark.operators.dedup import words_col

#: fixed-point scale: weights/predictions are integers in units of 2^-FP_SHIFT
FP_SHIFT = 20
FP = 1 << FP_SHIFT


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero (DuckDB ``//``, Java
    ``/`` — NOT Python's floor ``//``)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def bucket_idx(word: Column, dim: int, salt: str = "qf") -> Column:
    """Feature-hash bucket: first 8 hex chars of md5(salt|word) mod dim
    — the repo's cross-engine content hash (DuckDB mirrors it with
    ``CAST('0x'||substr(md5(...),1,8) AS BIGINT) % dim``)."""
    h = F.md5(F.concat(F.lit(salt + "|"), word))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim).cast("int")


def hashed_features(docs: DataFrame, dim: int = 64, salt: str = "qf",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, feats) — sparse hashed bag-of-words per doc: feats is
    ``array<struct<idx int, cnt bigint>>`` over ``dim`` word buckets
    plus a constant bias feature at ``idx == dim`` (so the model has
    ``dim+1`` weights).

    Entirely per-row HOF expressions — ZERO shuffle at any corpus
    size: bucket ids and their in-row counts are computed over the
    row's own word array (O(distinct-buckets x words) per row, with
    distinct-buckets <= dim+1 — bounded by the model width, not the
    doc).  The previous explode -> groupBy(doc_id, idx) ->
    collect_list shape paid two corpus-wide shuffles for the same
    multiset; feature ORDER inside the array differs, which no
    consumer observes (prediction and gradients are sums over the
    array).  The bucket-id array lands in its own projection so the
    per-distinct count rescans a materialized array, not the md5
    expressions (the alias-substitution hazard text.py documents)."""
    ids = F.transform(
        F.filter(words_col(F.col(text_col)), lambda x: x != ""),
        lambda x: bucket_idx(x, dim, salt),
    )
    d = docs.select("doc_id", ids.alias("_ids"))
    main = F.transform(
        F.array_distinct(F.col("_ids")),
        lambda b: F.struct(
            b.alias("idx"),
            F.size(F.filter(F.col("_ids"), lambda x: x == b))
            .cast("long").alias("cnt"),
        ),
    )
    # a NULL text has no words: still emit the bias-only vector
    main = F.coalesce(main, F.array().cast("array<struct<idx:int,cnt:bigint>>"))
    bias = F.array(F.struct(F.lit(dim).alias("idx"), F.lit(1).cast("long").alias("cnt")))
    return d.select("doc_id", F.concat(main, bias).alias("feats"))


def _pred_col(feats: Column, weights: list[int]) -> Column:
    """w·x as a per-row fold over the sparse vector — the weight vector
    is an array LITERAL (model-sized broadcast), so scoring is
    shuffle-free and stays in codegen."""
    w_arr = F.array(*[F.lit(int(x)).cast("long") for x in weights])
    return F.aggregate(
        feats,
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["cnt"] * F.element_at(w_arr, x["idx"] + 1),
    )


def train_quality_model(docs: DataFrame, labels: DataFrame, dim: int = 64,
                        iters: int = 3, lr_shift: int = 10,
                        salt: str = "qf",
                        feats: DataFrame | None = None) -> list[int]:
    """Full-batch GD on squared loss, ``iters`` distributed passes.

    ``labels``: (doc_id, y) with y ∈ {0, 1}.  Update per iteration,
    all-integer:  ``w_j -= trunc(Σ_docs (pred - y·FP)·cnt_j / (n · 2^lr_shift))``
    (gradient normalized by corpus size n, so step magnitude — and
    bigint headroom — is scale-invariant from sf0.001 to 10^9 docs).
    Returns the ``dim+1`` fixed-point weights (index ``dim`` = bias).

    ``feats``: optional precomputed :func:`hashed_features` output —
    lets a train-then-score composition featurize the corpus ONCE
    (the features are the expensive corpus pass; training vs scoring
    differ only in what they fold over them).
    """
    if feats is None:
        feats = hashed_features(docs, dim, salt)
    feats = feats.join(labels, "doc_id")
    feats = feats.select("doc_id", "feats", F.col("y").cast("long").alias("y"))
    feats.cache()
    n = feats.count()  # materializes the cache; n is the GD normalizer
    w = [0] * (dim + 1)
    for _ in range(iters):
        err = (_pred_col(F.col("feats"), w) - F.col("y") * F.lit(FP)).alias("err")
        grad_rows = (
            feats.select(err, F.explode("feats").alias("f"))
            .select(F.col("f.idx").alias("idx"), (F.col("err") * F.col("f.cnt")).alias("g"))
            .groupBy("idx")
            .agg(F.sum("g").alias("g"))
            .collect()
        )
        denom = n << lr_shift
        for r in grad_rows:
            w[r["idx"]] -= _trunc_div(int(r["g"]), denom)
    feats.unpersist()
    return w


def score_quality_model(docs: DataFrame, weights: list[int],
                        dim: int | None = None, salt: str = "qf",
                        feats: DataFrame | None = None) -> DataFrame:
    """(doc_id, score_fp) — fixed-point score w·x for every doc; the
    apply path (filter ``score_fp >= threshold·FP`` downstream).
    Shuffle profile: the one (doc_id, idx) feature shuffle; scoring
    itself is a per-row fold against the broadcast weight literal.
    ``feats``: optional precomputed features (see
    :func:`train_quality_model`)."""
    dim = dim if dim is not None else len(weights) - 1
    if feats is None:
        feats = hashed_features(docs, dim, salt)
    return feats.select(
        "doc_id", _pred_col(F.col("feats"), weights).alias("score_fp")
    )
