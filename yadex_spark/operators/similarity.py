"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, and a grid
(IVF/LSH-style) bucketed variant as the scale path: cells bound the
candidate set so the join is bucket-local instead of a full cross
product — at 10^9 vectors the cross join is impossible, the grid join
is a plain equi-join Catalyst can shuffle/broadcast as usual.

Cross-engine determinism: embeddings are quantized to integer grids
(round(x*1000)), so dot products and norms are EXACT integer sums
(order-independent); the only floats are one IEEE-exact division and
sqrt at the end — bit-identical in any engine.  All vector math is
Spark SQL higher-order functions (zip_with/aggregate) — JVM-side, no
Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yadex_spark.operators.common import spread as _spread


def quantized(embedding: Column) -> Column:
    """array<float> -> array<long> on a 1/1000 grid.  The cast to double
    BEFORE the multiply matters: float*int stays float32 in some engines
    and double in others; float->double is exact, so double math is the
    portable path."""
    return F.transform(embedding, lambda x: F.round(x.cast("double") * 1000).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def _cosine(dot: Column, na2: Column, nb2: Column) -> Column:
    return dot.cast("double") / F.sqrt(na2.cast("double") * nb2.cast("double"))


def _prepared(emb: DataFrame) -> DataFrame:
    q = quantized(F.col("embedding"))
    return emb.select("vec_id", q.alias("q")).withColumn("n2", _dot(F.col("q"), F.col("q")))




def cosine_topk(emb: DataFrame, n_queries: int = 8, k: int = 10) -> DataFrame:
    """Exact top-k neighbors (by cosine) for each query vector
    (vec_id < n_queries) over the rest of the corpus."""
    p = _prepared(emb)
    qs = p.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"), F.col("n2").alias("na2")
    )
    cand = p.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"), F.col("n2").alias("nb2")
    )
    scored = (
        F.broadcast(qs)
        .join(cand)
        .withColumn("cos", _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "cos")
    )


def _with_cell(p: DataFrame, cell: int) -> DataFrame:
    """Grid-cell assignment over the first two quantized dims — the
    shared IVF/LSH-style candidate generator (bucket-local equi-joins
    instead of all-pairs)."""
    return p.withColumn("cx", F.floor(F.element_at("q", 1) / cell)).withColumn(
        "cy", F.floor(F.element_at("q", 2) / cell)
    )


def _probe_cells(df: DataFrame) -> DataFrame:
    """3x3 adjacent-cell probing: explode one join side to its neighbor
    cells so two vectors within one cell pitch of each other remain
    candidates even across a cell boundary (round 2's single-cell
    candidates made boundary neighbors invisible).  Keeps the equi-join
    shape — 9x the probed side's rows, still bucket-local; the standard
    IVF nprobe>1 trade."""
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    keep = [c for c in df.columns if c not in ("cx", "cy")]
    return (
        df.select(*keep, "cx", "cy", F.explode(offs).alias("_o"))
        .select(
            *keep,
            (F.col("cx") + F.col("_o.dx")).alias("cx"),
            (F.col("cy") + F.col("_o.dy")).alias("cy"),
        )
    )


#: vectors per side in one verify group: a hot cell or cluster splits
#: into ceil(n / PAIR_BLOCK) hash blocks per side, so one task holds
#: ~PAIR_BLOCK x PAIR_BLOCK dot products whatever the skew
PAIR_BLOCK = 2048


def _blocked_pairs(a: DataFrame, b: DataFrame, key: list[str],
                   threshold: float) -> DataFrame:
    """(vec_a, vec_b, cos) for every vec_a of ``a`` and vec_b of ``b``
    that share ``key``, with vec_a < vec_b and cos >= threshold.  Both
    sides carry (vec_id, q, n2, *key); rows with a null key never pair.

    Hot-key splitting: per-key side counts come from a narrow in-plan
    aggregate (one row per key, broadcast); each side's rows hash into
    ceil(n_side / PAIR_BLOCK) blocks and are copied to every block of
    the other side, so each candidate pair meets in exactly one
    (key, block_a, block_b) group.  A group's vectors cross the
    JVM→Python boundary once and its dot matrix is one exact int64
    ``np.matmul`` — memory is bounded by the block, not the key.

    Bit-identical to the SQL expression form
    (:func:`near_dup_pairs_exact`): cos = double(dot) /
    sqrt(double(na2) * double(nb2)) uses the same correctly-rounded
    IEEE-754 ops the JVM executes, and zip_with's unequal-length
    semantics (null product → null cos → dropped) are replicated by
    pairing only equal-dimension vectors."""
    import numpy as np
    import pandas as pd

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        out = [pd.DataFrame({"vec_a": np.zeros(0, np.int64),
                             "vec_b": np.zeros(0, np.int64), "cos": np.zeros(0)})]
        sa = pdf[pdf["side"] == 0]
        sb = pdf[pdf["side"] == 1]
        adim = sa["q"].map(len)
        bdim = sb["q"].map(len)
        for dim in np.intersect1d(adim.unique(), bdim.unique()):
            xa = sa[adim == dim]
            xb = sb[bdim == dim]
            ia = xa["vec_id"].to_numpy()
            ib = xb["vec_id"].to_numpy()
            dots = (np.stack(xa["q"].to_numpy()).astype(np.int64)
                    @ np.stack(xb["q"].to_numpy()).astype(np.int64).T)
            na = xa["n2"].to_numpy().astype(np.float64)
            nb = xb["n2"].to_numpy().astype(np.float64)
            cos = dots.astype(np.float64) / np.sqrt(na[:, None] * nb[None, :])
            ai, bi = np.nonzero((ia[:, None] < ib[None, :]) & (cos >= threshold))
            out.append(pd.DataFrame({"vec_a": ia[ai], "vec_b": ib[bi], "cos": cos[ai, bi]}))
        return pd.concat(out, ignore_index=True)

    cols = ["vec_id", "q", "n2", *key]
    both = a.select(*cols, F.lit(0).alias("side")).unionByName(
        b.select(*cols, F.lit(1).alias("side"))
    )
    counts = both.groupBy(*key).agg(
        F.ceil(F.sum(1 - F.col("side")) / PAIR_BLOCK).alias("_nba"),
        F.ceil(F.sum("side") / PAIR_BLOCK).alias("_nbb"),
    ).where((F.col("_nba") > 0) & (F.col("_nbb") > 0))
    is_a = F.col("side") == 0
    # own block by hash; the other side's block id ranges over all its blocks
    own = F.pmod(F.xxhash64("vec_id"), F.when(is_a, F.col("_nba")).otherwise(F.col("_nbb")))
    other = F.explode(F.sequence(
        F.lit(0).cast("long"), F.when(is_a, F.col("_nbb")).otherwise(F.col("_nba")) - 1
    ))
    both = both.join(F.broadcast(counts), key).select(
        *cols, "side", own.alias("_own"), other.alias("_other")
    ).select(
        *cols, "side",
        F.when(is_a, F.col("_own")).otherwise(F.col("_other")).alias("_ba"),
        F.when(is_a, F.col("_other")).otherwise(F.col("_own")).alias("_bb"),
    )
    id_t = dict(a.dtypes)["vec_id"]
    return both.groupBy(*key, "_ba", "_bb").applyInPandas(
        verify, f"vec_a {id_t}, vec_b {id_t}, cos double"
    )


def near_dup_pairs(emb: DataFrame, threshold: float = 0.45, cell: int = 250,
                   probe: bool = True) -> DataFrame:
    """Embedding-cosine near-dup pairs, grid-bucketed candidates.

    Candidates are vectors sharing a grid cell over the first two
    quantized dims, exact-verified by cosine in the blocked Arrow
    verifier (:func:`_blocked_pairs`): a hot cell splits into
    PAIR_BLOCK-sized blocks instead of one unbounded group.  Round 1
    shipped an all-pairs range join here — O(n²) pair space,
    impossible at 10^9 vectors; this is the LSH-bucket shape the
    flagship dedup paths already use.

    ``probe`` explodes side A to its 3x3 neighbor cells, so pairs that
    straddle a cell boundary (invisible to same-cell candidates) are
    found too.  Each pair still appears at most once: B keeps its single
    true cell, and B's cell occurs once in A's distinct probe set.  For
    small-N exactness checks use :func:`near_dup_pairs_exact`.

    Output: (vec_a, vec_b, cos) with vec_a < vec_b and cos >= threshold;
    cos is bit-identical to the SQL expression path."""
    # one quantize pass: the block counts and both sides read this frame
    p = _with_cell(_prepared(emb), cell).localCheckpoint(eager=False)
    return _blocked_pairs(_probe_cells(p) if probe else p, p, ["cx", "cy"], threshold)


def lsh_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic random-hyperplane weights: integer in [-9, 9] from
    md5('<plane>:<dim>') — pure Python hashlib, so the SAME literals can
    be embedded in the Spark expression and any SQL oracle (the whole
    signature stays exact integer math, engine-portable)."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:4], 16) % 19) - 9
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def lsh_signature(q: Column, planes: list[list[int]]) -> Column:
    """Random-hyperplane signature of a quantized vector: one '1'/'0'
    character per plane, sign(q · w_i) in exact integer math (a zero
    dot counts as '1')."""
    return F.concat(*[
        F.when(_dot(q, F.array(*[F.lit(w) for w in plane])) >= 0, "1").otherwise("0")
        for plane in planes
    ])


def _lsh_bands(sig: Column, n_planes: int, bands: int) -> Column:
    """array<struct<bi, bv>>: the signature cut into ``bands`` chunks of
    n_planes // bands bits — band index and bit-string value.  The one
    band split of :func:`cosine_lsh_pairs` and the streaming embedding
    band registry (whose on-disk band key is ``'<bi>|<bv>'``)."""
    r = n_planes // bands
    return F.array(*[
        F.struct(F.lit(i).alias("bi"), F.substring(sig, 1 + i * r, r).alias("bv"))
        for i in range(bands)
    ])


def cosine_lsh_pairs(emb: DataFrame, threshold: float = 0.45,
                     n_planes: int = 64, bands: int = 4,
                     dim: int = 64, max_bucket: int | None = 200) -> DataFrame:
    """Near-dup pairs via cosine-LSH (random hyperplanes) candidates —
    the ALL-dims alternative to the 2-dim grid of
    :func:`near_dup_pairs`.

    Signature bit i = sign(q · w_i) over deterministic integer
    hyperplanes (:func:`lsh_planes`): two vectors agree on a bit with
    probability 1 − θ/π (θ = their angle), so banding the n_planes bits
    into ``bands`` chunks and equi-joining on (band_idx, band_value)
    yields candidates whose hit rate rises steeply with cosine — over
    EVERY dimension, where the grid sees only the first two quantized
    dims (vectors whose difference lives in dims 3+ collide into the
    same cells; true neighbors >1 cell pitch apart in dims 1-2 are
    invisible even to 3x3 probing).  Exact-verified by integer cosine,
    so precision is exact; recall is the banding hit rate (an
    approximate path, like every LSH retrieval).

    Scale shape: same as simhash_pairs/minhash_lsh — a banded equi-join
    (bucket-local, never all-pairs), candidate explosion bounded by
    band-bucket sizes, _spread pins parallelism for the CPU-heavy
    verify stage.  Band WIDTH sets the bucket cardinality: the default
    64 planes / 4 bands gives 16-bit band values (2^16 buckets — the
    simhash_pairs shape), which keeps bucket sizes sublinear at 10^9
    vectors; a 16/4 config (4-bit bands, 16 possible values) has far
    higher recall at moderate cosine but O(n/16) buckets — quadratic,
    small-corpus-only (the sf0.01 gate pins it deliberately).
    ``max_bucket`` drops band buckets with more members (the standard
    LSH hot-bucket guard, as simhash_pairs/jaccard df-cap); None
    disables — required when an oracle mirrors the query without the
    cap.

    Measured pair recall at sf0.01 vs the exact all-pairs path at
    cos >= 0.45: 16/4 = 0.60, 64/4 = 0.00 — with 16-bit bands a pair
    hits with probability 4·p^16 (p = 1 − θ/π), vanishing below
    cos ≈ 0.9, so the scale config is a NEAR-DUPLICATE detector (its
    dedup use), not a moderate-similarity retriever; use
    :func:`ivf_topk` for that."""
    sig = _prepared(emb).withColumn(
        "s", lsh_signature(F.col("q"), lsh_planes(n_planes, dim))
    )
    banded = sig.select(
        "vec_id", "q", "n2", F.explode(_lsh_bands(F.col("s"), n_planes, bands)).alias("b"),
    ).select("vec_id", "q", "n2", "b.bi", "b.bv")
    # stage barrier: the signature subtree (64 plane dots per vector)
    # otherwise recomputes per consumer — the hot-bucket window and
    # BOTH candidate join sides (guide §2.4)
    banded = banded.localCheckpoint(eager=False)
    if max_bucket is not None:
        # window count BEFORE the join: a degenerate hot bucket is
        # dropped without ever materializing its pair explosion
        w = Window.partitionBy("bi", "bv")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w))
            .where(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a = _spread(
        banded.select(
            F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"),
            F.col("n2").alias("na2"), "bi", "bv",
        ),
        "bi", "bv",
    )
    b = banded.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"),
        F.col("n2").alias("nb2"), "bi", "bv",
    )
    cand = a.join(b, ["bi", "bv"]).where(F.col("vec_a") < F.col("vec_b"))
    pairs = cand.withColumn(
        "cos", _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2"))
    )
    # a pair can match in up to ``bands`` buckets: dedup AFTER the
    # verify on the narrow (ids, cos) output — cos is bit-identical per
    # pair, and re-verifying <=bands times beats a distinct whose
    # grouping keys would carry the q arrays (or a join-back pair)
    return (
        pairs.where(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
        .distinct()
    )


def near_dup_pairs_exact(emb: DataFrame, threshold: float = 0.45) -> DataFrame:
    """All-pairs variant — O(n²), for small-N recall verification only.
    One side is broadcast: a CartesianProduct would re-read both inputs
    once per partition PAIR (n_part² tasks)."""
    p = _prepared(emb)
    a = p.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("n2").alias("na2"))
    b = p.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("n2").alias("nb2"))
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b")).withColumn(
        "cos", _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2"))
    )
    return pairs.where(F.col("cos") >= threshold).select("vec_a", "vec_b", "cos")


def ann_grid_topk(emb: DataFrame, n_queries: int = 8, k: int = 3, cell: int = 250,
                  probe: bool = True) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's grid
    neighborhood (first two quantized dims // cell) — the bucket-local
    scale path.  ``probe`` widens the query side to its 3x3 neighbor
    cells (IVF nprobe=9): strictly better recall than single-cell at 9x
    the (tiny) query side's rows, still an equi-join."""
    p = _with_cell(_prepared(emb), cell)
    qs = p.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"),
        F.col("n2").alias("na2"), "cx", "cy",
    )
    if probe:
        qs = _probe_cells(qs)
    cand = _spread(
        p.where(F.col("vec_id") >= n_queries).select(
            F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"),
            F.col("n2").alias("nb2"), "cx", "cy",
        ),
        "cx", "cy",
    )
    scored = qs.join(cand, ["cx", "cy"]).withColumn(
        "cos", _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "cos")
    )


def _l2(q: Column, cent: list[int]) -> Column:
    """Exact integer squared L2 distance to a literal centroid."""
    c = F.array(*[F.lit(int(v)) for v in cent])
    return F.aggregate(
        F.zip_with(q, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _nearest(q: Column, cents: dict[int, list[int]]) -> Column:
    """struct(d, cl) of the nearest centroid — array_min over
    (distance, cluster-id) structs gives the deterministic
    smallest-id tie-break in every engine."""
    return F.array_min(
        F.array(*[
            F.struct(_l2(q, c).alias("d"), F.lit(cid).alias("cl"))
            for cid, c in sorted(cents.items())
        ])
    )


def train_kmeans(emb: DataFrame, k: int = 8, iters: int = 2,
                 prepared: DataFrame | None = None) -> dict[int, list[int]]:
    """Deterministic Lloyd's k-means over quantized embeddings —
    learned centroids for the IVF index (the step beyond the fixed
    2-dim grid of :func:`ann_grid_topk` and the data-blind hyperplanes
    of :func:`cosine_lsh_pairs`: centroids adapt to where the vectors
    actually live, over ALL dims).

    Engine-portable determinism, so a SQL oracle can replay training
    bit-for-bit with unrolled iteration CTEs:

    - seeds: the k vectors with the smallest (md5(vec_id), vec_id) —
      an order any engine reproduces;
    - assignment: exact integer squared-L2 argmin, ties to the smaller
      cluster id;
    - update: element-wise floor(sum/count).  Sums are exact integers
      (|q_i| <= ~2000 quantized units, so any corpus < 2^40 rows stays
      inside double's 2^53 exact range), and floor of the correctly-
      rounded double quotient equals the true floor whenever the true
      quotient is farther than 1 ulp from an integer — with integer
      sum and count <= corpus size, the quotient is either exactly an
      integer or at least 1/count away from one, so the floor is
      engine-independent;
    - clusters that lose every member VANISH (membership defines the
      centroid set) rather than keeping a stale centroid — the same
      rule falls out of a SQL GROUP BY naturally.

    Scale shape: this is the broadcast-variable k-means — centroids
    (k x dim ints, driver-bounded) are embedded as literals, so each
    iteration is ONE narrow scan (per-row argmin, no join, no shuffle
    of vectors) feeding ONE 64-column partial HashAggregate with k
    groups (map-side combine reduces every partition to <= k rows; the
    shuffle moves k rows per partition, never vectors).  Driver
    traffic is k x dim ints per iteration — the legitimate collect of
    a bounded model, not of data."""
    import math

    # spread before the argmin/agg passes: the k x dim-mult argmin over
    # tiny-by-bytes rows is the CPU-heavy shape a single-file scan (or
    # AQE coalescing) would serialize to one task.  Cache the quantized
    # features across the iteration jobs (the MLlib-kmeans pattern —
    # every pass re-reading + re-quantizing the corpus is pure waste).
    # ``prepared``: a caller-materialized _spread(_prepared(emb))
    # frame — a train-then-search composition (ivf_topk / semdedup)
    # then quantizes the corpus ONCE for training AND the final query.
    own = prepared is None
    p = _spread(_prepared(emb), "vec_id").persist() if own else prepared
    try:
        seeds = (
            p.select("vec_id", "q")
            .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(k)
            .collect()
        )
        cents = {i: [int(v) for v in r["q"]] for i, r in enumerate(seeds)}
        dim = len(next(iter(cents.values())))
        for _ in range(iters):
            rows = _assign_sums_arrow(p, cents, dim).collect()
            cents = {
                r["cl"]: [math.floor(r[f"s{i}"] / r["n"]) for i in range(dim)]
                for r in rows
            }
        return cents
    finally:
        if own:
            p.unpersist()


def _assign_sums_arrow(p: DataFrame, cents: dict[int, list[int]],
                       dim: int) -> DataFrame:
    """One Lloyd's iteration's (cluster, count, per-dim sum) partials as
    a vectorized Arrow stage + a k-row hash agg.

    Bit-identical to the expression form: squared-L2 distances are
    exact int64 (numpy int64 ops), argmin ties resolve to the FIRST
    minimum over centroids sorted by cluster id — exactly array_min's
    (d, cl) ordering — and the update sums are exact int64, order-
    independent.  Why Arrow here: centroid values are PLAN LITERALS in
    the expression form, so every iteration of every kmeans call
    compiled a fresh k x dim codegen unit (the dominant cost of
    training on anything but huge corpora); the Arrow stage's plan is
    literal-free (centroids travel in the function closure), and numpy
    does the k x dim arithmetic per batch.  Partials are one row per
    (batch, non-empty cluster) — the shuffle moves k rows per batch,
    never vectors (the same partial-agg contract as before)."""
    import numpy as np
    import pandas as pd

    items = sorted(cents.items())
    cids = [int(cid) for cid, _ in items]
    cvecs = [[int(v) for v in c] for _, c in items]
    schema = "cl int, n long, " + ", ".join(f"s{i} long" for i in range(dim))

    def fn(it):
        cmat = np.array(cvecs, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d = np.empty((len(q), len(cids)), dtype=np.int64)
            for j in range(len(cids)):
                diff = q - cmat[j]
                d[:, j] = (diff * diff).sum(axis=1)
            a = np.argmin(d, axis=1)  # first min == smallest cluster id
            out: dict[str, list] = {"cl": [], "n": []}
            sums: list[np.ndarray] = []
            for j in range(len(cids)):
                m = a == j
                cnt = int(m.sum())
                if not cnt:
                    continue
                out["cl"].append(cids[j])
                out["n"].append(cnt)
                sums.append(q[m].sum(axis=0))
            if not out["cl"]:
                continue
            smat = np.stack(sums)
            for i in range(dim):
                out[f"s{i}"] = smat[:, i]
            yield pd.DataFrame(out)

    return (
        p.select("q").mapInPandas(fn, schema)
        .groupBy("cl")
        .agg(F.sum("n").alias("n"),
             *[F.sum(f"s{i}").alias(f"s{i}") for i in range(dim)])
    )


def kmeans_assign(emb: DataFrame, k: int = 8, iters: int = 2,
                  cents: dict[int, list[int]] | None = None) -> DataFrame:
    """(vec_id, cluster, dist): nearest learned centroid per vector.
    The returned plan is a PURE per-row projection — centroids are
    literals, so there is no join and no shuffle at any corpus size."""
    if cents is None:
        # share one checkpointed prepared frame with training (the
        # ivf_topk/semdedup pattern: quantize the corpus once)
        p = _spread(_prepared(emb), "vec_id").localCheckpoint(eager=False)
        cents = train_kmeans(emb, k, iters, prepared=p)
    else:
        p = _prepared(emb)
    m = _nearest(F.col("q"), cents)
    return p.select(
        "vec_id", m["cl"].alias("cluster"), m["d"].alias("dist")
    )


def ivf_topk(emb: DataFrame, k: int = 8, iters: int = 2, n_queries: int = 8,
             topk: int = 3, nprobe: int = 4) -> DataFrame:
    """Approximate top-k via a learned-centroid IVF index: candidates
    are corpus vectors whose cluster is one of the query's ``nprobe``
    nearest centroids, exact-verified by integer cosine.

    vs the fixed grid (:func:`ann_grid_topk`): cells there quantize
    only dims 1-2, so differences living in dims 3+ are invisible and
    cell occupancy follows the data blindly; learned centroids
    partition by ACTUAL vector density over all dims, the standard IVF
    recall/cost trade (nprobe widens recall at nprobe x candidate
    cost — measured recall@3 vs brute at sf0.01, k=8: nprobe 1/2/4 =
    0.17/0.46/0.88; nprobe ~ k/2 is the sane small-k operating point,
    hence the default).  Search is an equi-join on cluster id —
    bucket-local, never all-pairs; at 10^9 vectors k grows to ~sqrt(n)
    so per-cluster candidate lists stay ~sqrt(n) and nprobe stays a
    small constant fraction of k (the gate pins the small-corpus k=8).
    A corpus vector lives in exactly one cluster, so no candidate pair
    is generated twice."""
    # spread before assignment: same CPU-heavy tiny-by-bytes guard as
    # training; the query side is n_queries rows and stays unspread.
    # Checkpointed and shared with training (quantize the corpus once,
    # not once per consumer).  Not lazy: under AQE, building a
    # localCheckpoint over _spread's repartition runs that shuffle.
    p = _spread(_prepared(emb), "vec_id").localCheckpoint(eager=False)
    cents = train_kmeans(emb, k, iters, prepared=p)
    corpus = p.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"),
        F.col("n2").alias("nb2"),
        _nearest(F.col("q"), cents)["cl"].alias("cluster"),
    )
    probe_arr = F.slice(
        F.array_sort(F.array(*[
            F.struct(_l2(F.col("q"), c).alias("d"), F.lit(cid).alias("cl"))
            for cid, c in sorted(cents.items())
        ])),
        1, min(nprobe, len(cents)),
    )
    qs = p.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"),
        F.col("n2").alias("na2"),
        F.explode(F.transform(probe_arr, lambda s: s["cl"])).alias("cluster"),
    )
    # no re-spread on cluster: corpus is already spread by vec_id for
    # the assignment compute, and the probe side is tiny (n_queries x
    # nprobe rows) so AQE broadcasts it — the corpus never shuffles
    scored = qs.join(corpus, "cluster").withColumn(
        "cos", _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= topk)
        .select("query_id", "neighbor_id", "rnk", "cos")
    )


def semdedup(emb: DataFrame, k: int = 8, iters: int = 2,
             threshold: float = 0.45,
             cents: dict[int, list[int]] | None = None,
             max_cluster: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    via embedding clusters — every vector labeled keep/drop.

    The scale idea is the paper's: candidate pairs are generated ONLY
    within a k-means cluster (an equi-join on the learned cluster id),
    never corpus-wide, so pair cost is sum-of-cluster-squares instead
    of n².  At 10^9 vectors k grows ~sqrt(n) and clusters stay ~sqrt(n)
    — the same envelope as :func:`ivf_topk`.  Unlike the 2-dim grid of
    :func:`near_dup_pairs`, centroids live in ALL dims, so pairs whose
    similarity lives outside dims 1-2 are still candidates.

    Deterministic survivor rule (engine-portable, mirrors the
    exact-dedup canonical-min convention): a vector is DROPPED iff some
    SAME-CLUSTER vector with a smaller vec_id has cosine >= threshold
    with it.  The paper keeps one exemplar per duplicate group chosen
    by centroid distance; min-id is the order any engine reproduces.
    Two documented approximations, both inherent to SemDeDup: a
    near-dup pair split across two clusters is invisible (recall cost
    of the cluster partition), and drop-if-any-smaller-near-dup is not
    the sequential chain-greedy rule (a dropped doc can still shadow a
    later one — exactly the band-registry semantics of the streaming
    near-dup member, `streaming/neardup_ingest.py`).

    Pairs are verified by the blocked Arrow verifier
    (:func:`_blocked_pairs`) keyed on the cluster id: a hot cluster
    splits into PAIR_BLOCK-sized blocks, so task memory stays bounded
    at any cluster size.  ``max_cluster``: optional hot-cluster guard
    on pair WORK — clusters with more members than this generate no
    pairs (their members all keep), the standard LSH hot-bucket trade;
    None (gate/default) disables so a SQL oracle can mirror the query
    without the cap.

    Output: (vec_id, cluster, keep) for EVERY input vector — drops are
    attributable, all-integer so the oracle matches exactly.
    """
    if cents is None:
        # spread before training's per-row k x dim argmin passes (CPU-
        # heavy tiny-by-bytes rows, same guard as ivf_topk), checkpointed
        # and shared with the assignment below: one corpus quantize pass
        p = _spread(_prepared(emb), "vec_id").localCheckpoint(eager=False)
        cents = train_kmeans(emb, k, iters, prepared=p)
    else:
        # no exchange under the checkpoint: with given centroids,
        # building the query runs no Spark job
        p = _prepared(emb)
    # the assignment itself also fans out (hot-cluster guard, both
    # pair-join sides, and the final keep/drop join-back) — barrier it
    # so the k x dim argmin runs once per vector, not once per consumer
    assigned = p.withColumn(
        "cluster", _nearest(F.col("q"), cents)["cl"]
    ).localCheckpoint(eager=False)
    if max_cluster is not None:
        # per-cluster sizes via a partial hash agg on the narrow
        # cluster column, semi-joined back — the previous window form
        # funneled exactly the hot cluster this guard exists for
        # through ONE task carrying the wide q-vector rows (r4 ADVICE)
        small = (
            assigned.groupBy("cluster").count()
            .where(F.col("count") <= max_cluster)
            .select("cluster")
        )
        pairable = assigned.join(small, "cluster", "left_semi")
    else:
        pairable = assigned
    dropped = (
        _blocked_pairs(pairable, pairable, ["cluster"], threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .select(
            "vec_id", "cluster",
            F.when(F.col("_drop").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
        )
    )


def _sq8(p: DataFrame) -> DataFrame:
    """Attach SQ8 codes to a ``_prepared`` frame: per-vector symmetric
    int8 scalar quantization over the exact integer grid.

    scale ``s = max(1, ceil(max_i |q_i| / 127))`` and
    ``c_i = round_half_up(q_i / s)`` are ALL-INTEGER (the one division
    is floored double math on values far below 2^53, so it is exact in
    any engine) — |c_i| <= 127 by construction, which is what makes the
    tinyint storage cast lossless.  Reconstruction error obeys
    ``2*|q_i - c_i*s| <= s`` (half-up rounding), pinned by tests."""
    m = F.aggregate(
        F.col("q"), F.lit(0).cast("long"), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    p = p.withColumn(
        "s", F.greatest(F.lit(1).cast("long"), F.floor((m + F.lit(126)) / F.lit(127)))
    )
    c = F.transform(
        F.col("q"), lambda x: F.floor((x * 2 + F.col("s")) / (F.col("s") * 2))
    )
    return p.withColumn("c", c).withColumn(
        "n2c", _dot(F.col("c"), F.col("c"))
    )


def sq8_quantize(emb: DataFrame) -> DataFrame:
    """Per-vector SQ8 quantization report: (vec_id, scale, code_norm2,
    max_abs_err).  The codes themselves are storable as
    ``array<tinyint>`` — 1 byte/dim vs 4 (float32) or 8 (the long
    grid): a 4x memory/IO cut for the ANN candidate scan at 100 TB.
    Pure per-row projection — zero shuffle at any corpus size."""
    p = _sq8(_prepared(emb))
    err = F.aggregate(
        F.zip_with(F.col("q"), F.col("c"), lambda x, y: F.abs(x - y * F.col("s"))),
        F.lit(0).cast("long"),
        lambda acc, v: F.greatest(acc, v),
    )
    return p.select(
        "vec_id",
        F.col("s").alias("scale"),
        F.col("n2c").alias("code_norm2"),
        err.alias("max_abs_err"),
    )


def sq8_topk(emb: DataFrame, n_queries: int = 8, topk: int = 3,
             refine: int = 4) -> DataFrame:
    """SQ8-compressed ANN with exact rerank: rank candidates by cosine
    over the int8 CODES (scale cancels in cosine, so codes need no
    dequantize), keep a per-query shortlist of ``topk*refine``, then
    exact-rerank the shortlist on the full-precision grid vectors.

    The scale contract: the wide scan ranks 1-byte/dim codes (4x less
    IO than float32), while full-precision vectors are touched for only
    ``topk*refine`` rows per query.  The shortlist is two-phase — a
    local top-N per (query, shard-of-candidate) then the global top-N —
    so no window ever sorts a whole corpus partition (the brute
    baseline :func:`cosine_topk` deliberately keeps the naive per-query
    window as the correctness reference).  Candidate generation
    composes with the IVF cells (:func:`ivf_topk`): pass a pre-bucketed
    frame and the code scan shrinks each bucket's candidate list.
    Zero-norm vectors are assumed absent (same exposure as every cosine
    operator here; the fixture pins it)."""
    p = _sq8(_prepared(emb))
    shortn = topk * refine
    qs = p.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"),
        F.col("n2").alias("na2"), F.col("c").alias("ca"),
        F.col("n2c").alias("n2ca"),
    )
    cand = p.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"),
        F.col("n2").alias("nb2"), F.col("c").alias("cb"),
        F.col("n2c").alias("n2cb"),
    )
    scored = (
        F.broadcast(qs)
        .join(cand)
        .withColumn("ccos", _cosine(_dot(F.col("ca"), F.col("cb")),
                                    F.col("n2ca"), F.col("n2cb")))
    )
    # two-phase shortlist: local top-N inside each candidate shard
    # (bounded partitions), then the global top-N — identical to the
    # single global window because every global-top row is its shard's
    # local-top row (ties broken by neighbor_id in both phases)
    wl = Window.partitionBy("query_id", F.pmod(F.col("neighbor_id"), F.lit(32))).orderBy(
        F.desc("ccos"), F.asc("neighbor_id")
    )
    wg = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("lrnk", F.row_number().over(wl))
        .where(F.col("lrnk") <= shortn)
        .withColumn("grnk", F.row_number().over(wg))
        .where(F.col("grnk") <= shortn)
    )
    exact = shortlist.withColumn(
        "cos", _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= topk)
        .select("query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"), "cos")
    )
