"""Training-data operators + resume/bookmark views: python-crosschecked
unit tests on tiny in-memory corpora (the full-scale oracle check runs
through __spark_entry__/scripts/compare_oracle.py against DuckDB)."""

from __future__ import annotations

import hashlib
import itertools
import time

import pytest
from pyspark.sql import functions as F

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "a completely different sentence with other words"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "tiny"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_shingles(text, n):
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else set()


def test_exact_dups(docs):
    from yadex_spark.operators.dedup import exact_dups

    rows = {r["canonical_doc_id"]: r["n_copies"] for r in exact_dups(docs).collect()}
    assert rows[0] == 2  # docs 0 and 3
    assert rows[1] == 1


def test_ngram_jaccard_matches_python(docs):
    from yadex_spark.operators.dedup import ngram_jaccard_pairs

    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in ngram_jaccard_pairs(docs, n=3, pct_threshold=2).collect()
    }
    for a, b in itertools.combinations(range(5), 2):
        sa, sb = _py_shingles(DOCS[a][1], 3), _py_shingles(DOCS[b][1], 3)
        inter, union = len(sa & sb), len(sa | sb)
        if inter and 50 * inter >= union:
            assert got[(a, b)] == (inter, union)
        else:
            assert (a, b) not in got


def test_minhash_identical_docs_share_all_sigs(docs):
    from yadex_spark.operators.dedup import minhash_signatures

    sigs = {r["doc_id"]: [r[f"sig{i}"] for i in range(8)] for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[3]          # exact dups: identical signature
    assert sigs[0] != sigs[2]          # unrelated doc differs
    # python crosscheck of one signature slot (60-bit md5 prefix as int)
    exp = min(
        int(hashlib.md5(f"0|{s}".encode()).hexdigest()[:15], 16)
        for s in _py_shingles(DOCS[0][1], 3)
    )
    assert sigs[0][0] == exp
    assert 4 not in sigs               # <3 words -> no shingles -> no signature


def test_minhash_lsh_finds_near_dups(docs):
    from yadex_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 3) in pairs             # exact dup always collides
    assert (0, 1) in pairs             # near dup shares most shingles
    assert (0, 2) not in pairs         # unrelated: no shared min-hash


def test_simhash_shape(docs):
    from yadex_spark.operators.dedup import simhash

    rows = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert all(len(v) == 16 and set(v) <= {"0", "1"} for v in rows.values())
    assert rows[0] == rows[3]
    # near-dup (1 word differs) should be within small hamming distance
    ham = sum(x != y for x, y in zip(rows[0], rows[1]))
    unrelated_ham = sum(x != y for x, y in zip(rows[0], rows[2]))
    assert ham <= 6  # near-dup: one of nine words changed
    assert ham <= unrelated_ham + 2  # and no further than an unrelated doc


def test_simhash_pairs_banding_is_exact(docs):
    """bands=4 / max_hamming=3: pigeonhole guarantees every pair within
    hamming 3 shares a chunk, so the band join loses nothing.  bands=1
    is one full-width 64-bit chunk (sign bit included)."""
    from yadex_spark.operators.dedup import simhash, simhash_pairs

    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=64).collect()}
    for bands, max_h in ((4, 3), (1, 0)):
        want = {
            (a, b): sum(x != y for x, y in zip(sigs[a], sigs[b]))
            for a, b in itertools.combinations(sorted(sigs), 2)
            if sum(x != y for x, y in zip(sigs[a], sigs[b])) <= max_h
        }
        got = {(r["doc_a"], r["doc_b"]): r["hamming"]
               for r in simhash_pairs(docs, bands=bands, max_hamming=max_h).collect()}
        assert got == want, bands
        assert got[(0, 3)] == 0  # exact dup
    with pytest.raises(ValueError):
        simhash_pairs(docs, bits=128, bands=1, max_hamming=0)


def test_near_dup_pairs_bucketed_vs_exact(spark, monkeypatch):
    """Grid-bucketed near-dup returns exactly the exact-variant pairs
    within the 3x3 probed neighborhood (the documented candidate-set
    restriction), a strict superset of the single-cell candidates, with
    every cos bit-equal to the JVM expression path — at the default
    block size and with PAIR_BLOCK=2 (every cell splits into many block
    pairs), and on a fixture where every vector lies in ONE grid cell
    (the hot cell that must not need a fallback)."""
    import numpy as np

    from yadex_spark.operators import similarity
    from yadex_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_exact,
    )

    rng = np.random.RandomState(3)
    spread_vecs = rng.randn(40, 6).astype("float32") * 0.3
    one_cell = spread_vecs.copy()
    one_cell[:, :2] = np.abs(one_cell[:, :2]) % 0.24  # q in [0, 240]: cell (0, 0)
    cell = 250
    for vecs, blocks in ((spread_vecs, (similarity.PAIR_BLOCK, 2)), (one_cell, (2,))):
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        exact = {(r["vec_a"], r["vec_b"]): r["cos"]
                 for r in near_dup_pairs_exact(emb, 0.2).collect()}
        q = np.round(vecs.astype("float64") * 1000)
        adjacent = {
            (a, b)
            for a, b in itertools.combinations(range(40), 2)
            if abs(np.floor(q[a][0] / cell) - np.floor(q[b][0] / cell)) <= 1
            and abs(np.floor(q[a][1] / cell) - np.floor(q[b][1] / cell)) <= 1
        }
        for block in blocks:
            monkeypatch.setattr(similarity, "PAIR_BLOCK", block)
            got = {(r["vec_a"], r["vec_b"]): r["cos"]
                   for r in near_dup_pairs(emb, 0.2, cell=cell).collect()}
            single = {
                (r["vec_a"], r["vec_b"])
                for r in near_dup_pairs(emb, 0.2, cell=cell, probe=False).collect()
            }
            assert got == {k: v for k, v in exact.items() if k in adjacent}
            assert single <= set(got)  # probing never loses pairs
            assert got  # the fixture actually produces near-dups
    assert set(got) == set(exact)  # one cell: every exact pair is a candidate


def test_adjacent_cell_probing_finds_boundary_pairs(spark):
    """Two near-identical vectors straddling a cell boundary: invisible
    to single-cell candidates, found by 3x3 probing — in both
    near_dup_pairs and ann_grid_topk (round-2 missing item #4)."""
    from yadex_spark.operators.similarity import ann_grid_topk, near_dup_pairs

    # q = round(x*1000); cell=250 -> 0.249 lands in cx=0, 0.251 in cx=1
    rows = [
        (0, [0.249, 0.1, 0.5, 0.5]),   # query / pair member, cell (0, 0)
        (8, [0.251, 0.1, 0.5, 0.5]),   # its boundary twin, cell (1, 0)
        (9, [-0.9, -0.9, -0.5, 0.1]),  # far-away filler
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    probed = {
        (r["vec_a"], r["vec_b"])
        for r in near_dup_pairs(emb, threshold=0.9, cell=250).collect()
    }
    single = {
        (r["vec_a"], r["vec_b"])
        for r in near_dup_pairs(emb, threshold=0.9, cell=250, probe=False).collect()
    }
    assert (0, 8) in probed and (0, 8) not in single

    ann_probed = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_grid_topk(emb, n_queries=1, k=3, cell=250).collect()
    }
    ann_single = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_grid_topk(emb, n_queries=1, k=3, cell=250, probe=False).collect()
    }
    assert (0, 8) in ann_probed and (0, 8) not in ann_single


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    from yadex_spark.operators.similarity import cosine_topk

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    got = [
        (r["query_id"], r["rnk"], r["neighbor_id"])
        for r in cosine_topk(emb, n_queries=2, k=3).orderBy("query_id", "rnk").collect()
    ]
    q = np.round(vecs.astype("float64") * 1000)
    for qi in range(2):
        sims = {}
        for ni in range(2, 30):
            sims[ni] = float(q[qi] @ q[ni]) / np.sqrt(float(q[qi] @ q[qi]) * float(q[ni] @ q[ni]))
        top = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        for rnk, (ni, _) in enumerate(top, 1):
            assert (qi, rnk, ni) in got


def test_multimodal_decode_roundtrip(spark, docs):
    from yadex_spark.operators.multimodal import decode_features, to_binary_assets

    out = {r["doc_id"]: r for r in decode_features(to_binary_assets(docs)).collect()}
    assert out[0]["n_bytes"] == len(DOCS[0][1].encode())
    assert out[0]["feat0"] == ord("t") and out[0]["feat3"] == ord(" ")
    assert out[4]["n_bytes"] == 4


def test_bookmarks_and_catchup(spark, tmp_path):
    from yadex_spark.sources.genlog import gen_oplog, write_oplog_chunks
    from yadex_spark.streaming.bookmarks import (
        catchup_filter,
        is_clean,
        resume_points,
        validate_retention,
    )
    from yadex_spark.streaming.pipeline import CdcPipeline

    oplog = gen_oplog(spark, 2_000, 400, seed=17)
    feed = str(tmp_path / "oplog")
    write_oplog_chunks(oplog, feed, n_chunks=2, bounds=(0, 1_999))
    pipe = CdcPipeline(spark, feed, str(tmp_path / "lake"), str(tmp_path / "ckpt"))
    pipe.run_available_now()

    assert is_clean(str(tmp_path / "ckpt"))
    rp = resume_points(spark, str(tmp_path / "lake"))
    assert rp.collect()[0]["applied_hi"] == 1_999
    ret = validate_retention(spark, str(tmp_path / "lake"), feed).collect()[0]
    assert ret["resumable"] and ret["feed_min"] == 0
    # catch-up: everything already applied is skipped
    assert catchup_filter(oplog, rp).count() == 0
    more = gen_oplog(spark, 2_500, 400, seed=17).where("op_seq >= 2000")
    assert catchup_filter(more, rp).count() == 500


def test_pack_sequences_invariants(spark):
    """Sequence packing: deterministic (shard, doc_id) order, bin =
    floor(preceding-token-total / budget), offsets bounded by the
    budget, every doc assigned exactly once — verified against a
    direct pandas replay of the same rule."""
    import hashlib

    from yadex_spark.operators.packing import pack_sequences

    rows = [(f"d{i:03d}", "word " * (7 + (i * 13) % 90)) for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    budget, n_shards = 256, 4
    got = {
        r["doc_id"]: (r["shard"], r["n_tok"], r["bin"], r["bin_offset"])
        for r in pack_sequences(docs, budget=budget, n_shards=n_shards).collect()
    }
    assert len(got) == 120  # every doc assigned exactly once

    # pandas replay of the packing rule
    def shard(doc_id):
        return int(hashlib.md5(doc_id.encode()).hexdigest()[:4], 16) % n_shards

    by_shard: dict[int, list] = {}
    for doc_id, text in rows:
        by_shard.setdefault(shard(doc_id), []).append((doc_id, (len(text) + 3) // 4))
    want = {}
    for s, members in by_shard.items():
        cum = 0
        for doc_id, n_tok in sorted(members):
            want[doc_id] = (s, n_tok, cum // budget, cum % budget)
            cum += n_tok
    assert got == want
    assert any(v[2] > 0 for v in got.values())  # fixture actually overflows bins
    assert all(0 <= v[3] < budget for v in got.values())


def test_train_val_split_stable_under_growth(spark):
    """Hash-of-key split: a doc's split never changes when the corpus
    grows (the property random sampling lacks), and val fraction is in
    the right ballpark."""
    from yadex_spark.operators.packing import train_val_split

    small = spark.createDataFrame(
        [(f"d{i}",) for i in range(200)], "doc_id string"
    ).withColumn("text", F.lit("x"))
    big = spark.createDataFrame(
        [(f"d{i}",) for i in range(400)], "doc_id string"
    ).withColumn("text", F.lit("x"))
    s1 = {r["doc_id"]: r["split"] for r in train_val_split(small, 10).collect()}
    s2 = {r["doc_id"]: r["split"] for r in train_val_split(big, 10).collect()}
    assert all(s2[k] == v for k, v in s1.items())  # stable under growth
    frac = sum(1 for v in s2.values() if v == "val") / len(s2)
    assert 0.03 < frac < 0.20  # ~10% of a 400-doc sample


def test_dedup_clusters_matches_union_find(spark):
    """Connected components by min-label propagation == python
    union-find, including transitive merges (a~b, b~c, no a~c pair)."""
    from yadex_spark.operators.dedup import dedup_clusters

    edges = [(1, 2), (2, 3), (5, 6), (8, 9), (3, 9), (20, 21)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {x for e in edges for x in e}
    roots = {x: find(x) for x in nodes}
    want = {x: min(y for y in nodes if roots[y] == roots[x]) for x in nodes}
    assert got == want
    # the transitive chain 1-2-3-9-8 is ONE cluster rooted at 1
    assert got[8] == got[1] == 1


def test_dedup_clusters_emits_singletons(spark):
    """all_docs labels pair-less docs as their own cluster — a real
    dedup pass needs EVERY doc labeled."""
    from yadex_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, all_docs=docs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5}


def test_dedup_clusters_chain_converges_logarithmically(spark):
    """Pointer-jumping stress: a 10^4-node PATH (diameter 10^4) must
    converge in O(log diameter) rounds — plain min-label propagation
    would need ~10^4 rounds and max_iter=30 would raise.  Pins the
    claim the docstring argues.  ``driver_cc_max_edges=0`` forces the
    DISTRIBUTED path (the size gate would otherwise answer this small
    graph with the driver union-find and pin nothing)."""
    from yadex_spark.operators.dedup import dedup_clusters

    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    stats: dict = {}
    out = dedup_clusters(pairs, stats=stats, driver_cc_max_edges=0)
    assert stats["rounds"] <= 16, stats
    agg = out.agg(
        F.count("*").alias("n"), F.countDistinct("cluster_id").alias("c"),
        F.max("cluster_id").alias("mx"),
    ).first()
    assert (agg["n"], agg["c"], agg["mx"]) == (n, 1, 0)  # one cluster, min id


def test_dedup_clusters_driver_path_equals_distributed(spark):
    """The size-gated driver union-find and the iterative pointer-
    jumping path must produce the IDENTICAL labeling (min member id per
    component) — chains, merges, self-contained cliques, string ids."""
    from yadex_spark.operators.dedup import dedup_clusters

    edges = [(1, 2), (2, 3), (3, 9), (8, 9), (5, 6), (20, 21), (21, 22),
             (40, 41), (7, 40)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(pairs).collect()}
    slow = {r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(pairs, driver_cc_max_edges=0).collect()}
    assert fast == slow and fast[40] == 7 and fast[8] == 1
    # string ids exercise the non-numeric label path on BOTH sides
    spairs = spark.createDataFrame(
        [("d2", "d1"), ("d2", "d3"), ("x", "y")], "doc_a string, doc_b string"
    )
    fast_s = {r["doc_id"]: r["cluster_id"]
              for r in dedup_clusters(spairs).collect()}
    slow_s = {r["doc_id"]: r["cluster_id"]
              for r in dedup_clusters(spairs, driver_cc_max_edges=0).collect()}
    assert fast_s == slow_s == {"d1": "d1", "d2": "d1", "d3": "d1",
                                "x": "x", "y": "x"}


def test_dedup_clusters_driver_failure_falls_through(spark, monkeypatch):
    """A failing driver union-find (e.g. its collect over
    spark.driver.maxResultSize) falls through to pointer jumping: the
    labeling — singletons from ``all_docs`` included — equals the
    distributed path's."""
    from yadex_spark.operators import dedup

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6), (7, 5)],
                                  "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in range(1, 10)], "doc_id long")
    want = {tuple(r) for r in dedup.dedup_clusters(
        pairs, all_docs=docs, driver_cc_max_edges=0).collect()}

    def boom(*_a, **_k):
        raise RuntimeError("driver result too large")

    monkeypatch.setattr(dedup, "_driver_union_find", boom)
    stats: dict = {}
    got = {tuple(r) for r in dedup.dedup_clusters(pairs, all_docs=docs, stats=stats).collect()}
    assert got == want and len(got) == 9
    assert stats["rounds"] >= 1  # answered by the distributed path


def test_simhash_chunks_match_bitstring(spark):
    """_simhash_chunks is the bit-exact integer form of the simhash bit
    string: chunk i == int(bitstring[off:off+w], 2) — the equivalence
    simhash_pairs' popcount hamming and 8-byte band keys rest on."""
    from yadex_spark.operators.dedup import (_chunk_widths, _simhash_chunks,
                                             simhash)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon"),
         (3, "zeta eta theta iota kappa"), (4, "")],
        "doc_id long, text string",
    )
    bits, bands = 64, 4
    strs = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits).collect()}
    chunks = {r["doc_id"]: r for r in
              _simhash_chunks(docs, bits, bands).collect()}
    widths = _chunk_widths(bits, bands)
    assert sum(widths) == bits
    for doc_id, s in strs.items():
        off = 0
        for i, w in enumerate(widths):
            assert chunks[doc_id][f"k{i}"] == int(s[off:off + w], 2), (doc_id, i)
            off += w


def test_pair_operators_build_runs_no_spark_job(spark):
    """Building near_dup_pairs and semdedup (given centroids) runs no
    Spark job: the blocked verifier's per-key counts are an in-plan
    aggregate, not a driver-side occupancy probe."""
    from yadex_spark.operators.similarity import near_dup_pairs, semdedup

    emb = spark.createDataFrame(
        [(i, [((i * 7 + j * 3) % 11 - 5) / 10.0 for j in range(4)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("pair-build", "build the pair operators")
        near_dup_pairs(emb, threshold=0.3, cell=250)
        semdedup(emb, threshold=0.3, cents={0: [500, 0, 0, 0], 1: [-500, 0, 0, 0]})
        # the listener bus is FIFO: once a later job is visible, any job
        # the build started is visible too
        sc.setJobGroup("pair-sentinel", "sentinel")
        spark.range(1).count()
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup("pair-sentinel") and time.time() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup("pair-sentinel")
        assert tracker.getJobIdsForGroup("pair-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_pack_sequences_shard_count_scales(spark):
    """Packing invariants hold at n_shards=64, and the default shard
    count derives from the cluster (defaultParallelism) instead of a
    fixed constant that would cap window parallelism at scale."""
    from yadex_spark.operators.packing import pack_sequences

    rows = [(f"d{i:03d}", "word " * (7 + (i * 13) % 90)) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = pack_sequences(docs, budget=128, n_shards=64).collect()
    assert len(out) == 300
    assert {r["shard"] for r in out} <= set(range(64))
    assert all(0 <= r["bin_offset"] < 128 for r in out)
    # per-shard: bins fill sequentially in doc_id order
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for members in by_shard.values():
        cum = 0
        for r in members:
            assert (r["bin"], r["bin_offset"]) == (cum // 128, cum % 128)
            cum += r["n_tok"]
    # default n_shards == cluster parallelism
    dflt = pack_sequences(docs, budget=128)
    n_par = spark.sparkContext.defaultParallelism
    assert dflt.agg(F.countDistinct("shard")).first()[0] <= n_par
    assert dflt.agg(F.max("shard")).first()[0] < n_par


def test_cosine_lsh_recall_beats_grid_on_spread_variance(spark):
    """Cosine-LSH candidates see ALL dims: a near-parallel pair whose
    difference lives in dims 1-2 at >1 grid-cell pitch (invisible to
    the 3x3-probed grid) must be found by the hyperplane path.  Both
    paths are exact-verified, so precision is exact (subset of brute);
    the win is recall — VERDICT r3 #6's 'strictly better than the
    grid on a fixture with variance spread across dims'."""
    from yadex_spark.operators.similarity import (
        cosine_lsh_pairs,
        near_dup_pairs,
        near_dup_pairs_exact,
    )

    rows = []
    # 6 near-dup pairs: big mass in dims 2..63, dims 0-1 shifted by
    # 0.8 (3.2 cell pitches at cell=250) between the twins
    for g in range(6):
        base = [0.0, 0.0] + [2.0 + ((g * 7 + j) % 5) * 0.3 for j in range(62)]
        twin = list(base)
        twin[0] += 0.8
        twin[1] += 0.8
        rows.append((2 * g, base))
        rows.append((2 * g + 1, twin))
    # background: dissimilar directions (alternating signs)
    for i in range(12, 30):
        rows.append((i, [((-1) ** (i + j)) * (1.0 + (j % 3)) for j in range(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    brute = {(r["vec_a"], r["vec_b"]) for r in near_dup_pairs_exact(emb, 0.9).collect()}
    grid = {(r["vec_a"], r["vec_b"]) for r in near_dup_pairs(emb, 0.9, cell=250).collect()}
    lsh = {(r["vec_a"], r["vec_b"])
           for r in cosine_lsh_pairs(emb, 0.9, n_planes=16, bands=4).collect()}
    twins = {(2 * g, 2 * g + 1) for g in range(6)}
    assert twins <= brute          # the twins really are cosine-close
    assert lsh <= brute and grid <= brute  # both paths exact-precision
    assert not (twins & grid)      # grid cannot see cross-cell twins
    assert twins <= lsh            # hyperplanes over all dims find them
    assert len(lsh) > len(grid)    # strictly better recall here


def test_decontaminate_matches_python(spark):
    """GPT-3-style n-gram overlap vs a python oracle: shared 3-grams
    flag contamination; the bench-df cap drops boilerplate grams."""
    from yadex_spark.operators.text import decontaminate

    bench_rows = [
        (100, "alpha beta gamma delta epsilon"),
        (101, "common header line zeta eta theta"),
        (102, "common header line iota kappa lambda"),
    ]
    corpus_rows = [
        (0, "prefix alpha beta gamma suffix words"),          # hits bench 100
        (1, "nothing shared here at all today"),              # clean
        (2, "x common header line y z"),                      # hits 101 AND 102
        (3, "alpha beta gamma delta epsilon trailing"),       # 3 grams of 100
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    def py(n, cap):
        bsh = {b: _py_shingles(t, n) for b, t in bench_rows}
        df: dict[str, int] = {}
        for shs in bsh.values():
            for s in shs:
                df[s] = df.get(s, 0) + 1
        keep = {s for s, c in df.items() if cap is None or c <= cap}
        out = {}
        for d, t in corpus_rows:
            shs = _py_shingles(t, n) & keep
            hit_grams = {s for s in shs if any(s in bsh[b] for b in bsh)}
            hit_docs = {b for b in bsh if bsh[b] & shs}
            if hit_grams:
                out[d] = (len(hit_grams), len(hit_docs))
        return out

    got = {
        r["doc_id"]: (r["n_hits"], r["n_bench_docs"])
        for r in decontaminate(corpus, bench, n=3).collect()
    }
    assert got == py(3, None)
    assert 1 not in got and got[2][1] == 2

    # cap=1 drops 'common header line' (df=2): doc 2 has no other hits
    capped = {
        r["doc_id"]: (r["n_hits"], r["n_bench_docs"])
        for r in decontaminate(corpus, bench, n=3, max_bench_df=1).collect()
    }
    assert capped == py(3, 1)
    assert 2 not in capped


def test_repetition_matches_python(spark):
    from yadex_spark.operators.packing import token_estimate  # noqa: F401 (module import sanity)
    from yadex_spark.operators.text import repetition

    rows = [
        (0, "a a a a b"),                    # top word 4/5, dup 2-grams
        (1, "all distinct words entirely here"),
        (2, "x y x y x y"),                  # alternating: dup 2-grams high
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition(docs).collect()}

    for d, t in rows:
        w = t.split(" ")
        n = len(w)
        nd = len(set(w))
        top = max(w.count(x) for x in set(w))
        g2 = [" ".join(w[i : i + 2]) for i in range(n - 1)]
        r = got[d]
        assert r["n_words"] == n and r["n_distinct"] == nd
        assert r["dup_word_bp"] == 10_000 * (n - nd) // n
        assert r["top_word_bp"] == 10_000 * top // n
        assert r["dup_2gram_bp"] == (
            10_000 * (len(g2) - len(set(g2))) // len(g2) if g2 else 0
        )
    assert got[1]["dup_word_bp"] == 0 and got[2]["dup_2gram_bp"] > 5_000


def test_sample_by_source_stable_and_stratified(spark):
    """Hash-of-key sampling: rates respected exactly per bucket, and a
    doc's keep/drop never changes as the corpus grows."""
    from yadex_spark.operators.packing import sample_by_source

    rows = [(i, f"src{i % 3}") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"src0": 10_000, "src1": 5_000, "src2": 0}

    kept = {r["doc_id"]: r for r in sample_by_source(docs, rates).collect()}
    assert all(r["bucket"] < r["rate_bp"] for r in kept.values())
    # rate 10000 keeps every src0 doc; rate 0 keeps no src2 doc
    assert {d for d in kept if d % 3 == 0} == {d for d, _ in rows if d % 3 == 0}
    assert not any(d % 3 == 2 for d in kept)
    # default_bp applies to unlisted sources
    with_default = sample_by_source(docs, {"src0": 0}, default_bp=10_000).collect()
    assert {r["doc_id"] for r in with_default} == {d for d, _ in rows if d % 3 != 0}
    # growth stability: same decisions on a prefix of the corpus
    small = {r["doc_id"] for r in sample_by_source(
        docs.where(F.col("doc_id") < 100), rates).collect()}
    assert small == {d for d in kept if d < 100}


def test_passage_dedup_matches_python_and_is_shift_invariant(spark):
    """Content-defined chunking + first-occurrence-wins span dedup vs a
    python oracle; the boundary rule makes chunking shift-invariant, so
    a shared passage is deduped even at different word offsets."""
    import hashlib

    from yadex_spark.operators.dedup import passage_dedup

    P, MINW = 3, 2

    def is_b(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % P == 0

    def chunks_of(text):
        ws = text.split(" ")
        starts = sorted({1} | {i + 1 for i, w in enumerate(ws) if is_b(w)})
        ends = starts[1:] + [len(ws) + 1]
        return [(s, " ".join(ws[s - 1 : e - 1])) for s, e in zip(starts, ends)]

    shared = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [
        (0, "unique preamble words then " + shared),
        (1, shared + " and a different tail entirely"),   # same span, offset 0
        (2, "totally unrelated content in this one row"),
        (3, "x " + shared),                               # same span, offset 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in passage_dedup(docs, p=P, min_words=MINW).collect()}

    # python oracle: global first-occurrence-wins over (doc_id, p0)
    occ = {}
    for d, t in rows:
        for p0, passage in chunks_of(t):
            if len(passage.split(" ")) >= MINW:
                occ.setdefault(passage, []).append((d, p0))
    winners = {p: min(v) for p, v in occ.items()}
    for d, t in rows:
        cs = chunks_of(t)
        keep = [
            passage
            for p0, passage in cs
            if len(passage.split(" ")) < MINW or winners[passage] == (d, p0)
        ]
        assert got[d]["n_chunks"] == len(cs)
        assert got[d]["n_dropped"] == len(cs) - len(keep)
        assert got[d]["clean_text"] == " ".join(keep)

    # the shared span really deduped: doc 0 keeps it (first occurrence),
    # docs 1 and 3 drop chunks despite different offsets
    assert got[0]["n_dropped"] == 0
    # chunking partitions the word list exactly: a no-drop doc's
    # rebuilt text is the original, bit for bit
    assert got[0]["clean_text"] == rows[0][1]
    assert got[1]["n_dropped"] > 0 and got[3]["n_dropped"] > 0
    # exactly one copy of every repeated chunk survives corpus-wide
    assert sum(got[d]["n_dropped"] for d in got) == sum(
        len(v) - 1 for v in occ.values() if len(v) > 1
    )


def test_kmeans_ivf_matches_python_oracle(spark):
    """Deterministic Lloyd's k-means vs a pure-python replica, and IVF
    search degenerating to exact brute-force when nprobe = k.  All
    coordinates are multiples of 0.125 (exact in float32), so
    quantization has no rounding ambiguity to hide behind."""
    import hashlib
    import math

    from yadex_spark.operators.similarity import (
        cosine_topk, ivf_topk, kmeans_assign, train_kmeans,
    )

    centers = [
        [8.0, 0.0, 0.0, 0.0], [0.0, 8.0, 0.0, 0.0], [0.0, 0.0, 8.0, 0.0],
    ]
    rows = []
    for i in range(39):
        c = centers[i % 3]
        off = [0.125 * ((i * 7 + j * 3) % 5 - 2) for j in range(4)]
        rows.append((i, [c[j] + off[j] for j in range(4)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    K, ITERS = 3, 2
    got_cents = train_kmeans(emb, k=K, iters=ITERS)

    # --- python replica ---
    q = {i: [round(v * 1000) for v in vec] for i, vec in rows}

    def argmin(v, cents):
        best = min(
            (sum((a - b) * (a - b) for a, b in zip(v, c)), cid)
            for cid, c in sorted(cents.items())
        )
        return best[1], best[0]

    seeds = sorted(q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:K]
    cents = {ci: list(q[i]) for ci, i in enumerate(seeds)}
    for _ in range(ITERS):
        members: dict[int, list[int]] = {}
        for i, v in q.items():
            members.setdefault(argmin(v, cents)[0], []).append(i)
        cents = {
            cl: [
                math.floor(sum(q[i][j] for i in ms) / len(ms))
                for j in range(4)
            ]
            for cl, ms in members.items()
        }
    assert got_cents == cents

    got_assign = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assign(emb, k=K, iters=ITERS).collect()
    }
    assert got_assign == {i: argmin(v, cents) for i, v in q.items()}
    # the learned index recovers the three blobs
    blobs = {
        frozenset(i for i in q if got_assign[i][0] == cl)
        for cl in {a[0] for a in got_assign.values()}
    }
    assert blobs == {frozenset(range(b, 39, 3)) for b in range(3)}

    # nprobe = k probes every cluster: IVF == exact brute-force top-k
    brute = {(r["query_id"], r["neighbor_id"], r["rnk"])
             for r in cosine_topk(emb, n_queries=3, k=5).collect()}
    ivf_all = {(r["query_id"], r["neighbor_id"], r["rnk"])
               for r in ivf_topk(emb, k=K, iters=ITERS, n_queries=3,
                                 topk=5, nprobe=K).collect()}
    assert ivf_all == brute
    # nprobe = 1 on well-separated blobs still finds the same neighbors
    ivf_1 = {(r["query_id"], r["neighbor_id"], r["rnk"])
             for r in ivf_topk(emb, k=K, iters=ITERS, n_queries=3,
                               topk=5, nprobe=1).collect()}
    assert ivf_1 == brute


def test_decontaminate_fuzzy_catches_paraphrase(spark):
    """MinHash-LSH decontamination vs a python replica: a reworded eval
    doc (no shared 8-gram) still collides on min-hash bands; an
    unrelated doc never does."""
    from yadex_spark.operators.text import decontaminate_fuzzy

    bench_rows = [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    corpus_rows = [
        # paraphrase: one word swapped mid-doc — shares no 8-gram,
        # but most 3-shingles (and so most min-hash slots) survive
        (0, "alpha beta gamma delta epsilon zeta eta XXXX iota kappa"),
        (1, "completely unrelated text about other things entirely now"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # exact
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    K, N = 8, 3

    def sig(text):
        shs = _py_shingles(text, N)
        return [
            min(int(hashlib.md5(f"{i}|{s}".encode()).hexdigest()[:15], 16) for s in shs)
            for i in range(K)
        ]

    bsig = {b: sig(t) for b, t in bench_rows}
    expected = {}
    for d, t in corpus_rows:
        cs = sig(t)
        per_bench = {
            b: sum(cs[i] == bs[i] for i in range(K)) for b, bs in bsig.items()
        }
        hits = {b: v for b, v in per_bench.items() if v > 0}
        if hits:
            expected[d] = (len(hits), max(hits.values()))

    got = {
        r["doc_id"]: (r["n_bench_docs"], r["max_shared_bands"])
        for r in decontaminate_fuzzy(corpus, bench, k=K, n=N).collect()
    }
    assert got == expected
    assert 2 in got and got[2][1] == K      # exact dup shares every band
    assert 0 in got and got[0][1] >= 1      # paraphrase still caught
    assert 1 not in got                     # unrelated doc clean
    # and the exact n-gram rule really would have missed the paraphrase
    from yadex_spark.operators.text import decontaminate

    exact = {r["doc_id"] for r in decontaminate(corpus, bench, n=8).collect()}
    assert 0 not in exact and 2 in exact


def test_clean_corpus_keeps_one_canonical_per_cluster(spark, docs):
    """The end-to-end dedup pass: exactly one survivor per duplicate
    cluster (the min doc_id), member counts sum to the corpus size,
    singletons all labeled."""
    from yadex_spark.operators.dedup import clean_corpus, ngram_jaccard_pairs

    docs2 = docs.withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    )
    pairs = ngram_jaccard_pairs(docs2, n=3, pct_threshold=2)
    out = {r["doc_id"]: r["n_members"]
           for r in clean_corpus(docs2, pairs).collect()}
    # 0,1,3 cluster together (0-3 exact, 0-1 near); 2 and 4 singletons
    assert out == {0: 3, 2: 1, 4: 1}
    assert sum(out.values()) == 5


def test_ivf_finds_cross_cell_neighbors_grid_misses(spark):
    """Learned centroids partition by density over ALL dims: the
    cross-cell twin (3.2 grid pitches away in dims 1-2, cosine 0.998)
    is retrievable by IVF but provably invisible to the 3x3-probed
    grid — the retrieval-side counterpart of the LSH pair test."""
    from yadex_spark.operators.similarity import ann_grid_topk, ivf_topk

    rows = []
    for g in range(6):
        base = [0.0, 0.0] + [2.0 + ((g * 7 + j) % 5) * 0.3 for j in range(62)]
        twin = list(base)
        twin[0] += 0.8
        twin[1] += 0.8
        rows.append((2 * g, base))
        rows.append((2 * g + 1, twin))
    for i in range(12, 30):
        rows.append((i, [((-1) ** (i + j)) * (1.0 + (j % 3)) for j in range(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    grid = {(r["query_id"], r["neighbor_id"])
            for r in ann_grid_topk(emb, n_queries=1, k=2, cell=250).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ivf_topk(emb, k=4, iters=2, n_queries=1,
                             topk=2, nprobe=2).collect()}
    assert (0, 1) in ivf          # the twin, via its learned cluster
    assert (0, 1) not in grid     # 3.2 cell pitches: beyond 3x3 probing


def test_corpus_stats_matches_python(spark):
    from yadex_spark.operators.text import corpus_stats

    rows = [
        (0, "one two three", "sA"),                      # 3 words -> lt16
        (1, " ".join(["w"] * 20), "sA"),                 # 20 words -> lt64
        (2, " ".join(["x"] * 300), "sB"),                # 300 words -> ge256
        (3, " ".join(["y"] * 100), "sB"),                # 100 words -> lt256
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r.asDict() for r in corpus_stats(docs).collect()}

    import collections
    exp = collections.defaultdict(lambda: collections.Counter())
    for _, t, s in rows:
        w = len(t.split(" "))
        exp[s].update(
            n_docs=1, n_words=w, n_chars=len(t), n_tokens_est=(len(t) + 3) // 4,
            n_lt16w=w < 16, n_lt64w=16 <= w < 64,
            n_lt256w=64 <= w < 256, n_ge256w=w >= 256,
        )
    for s, c in exp.items():
        for k, v in c.items():
            assert got[s][k] == v, (s, k)
    assert got["sA"]["n_lt16w"] == 1 and got["sB"]["n_ge256w"] == 1


def test_chunk_sequences_covers_every_token(spark):
    """Sliding-window chunking: full coverage ([0, n_tok) is the union
    of chunk spans), all chunks but the last exactly `window` tokens,
    consecutive starts `stride` apart, overlap = window - stride —
    verified against a python replay across short/exact/long docs."""
    from yadex_spark.operators.packing import chunk_sequences

    window, stride = 16, 12
    # n_tok = ceil(len/4); lengths chosen to hit <window, ==window,
    # boundary-exact multi-chunk, and a long tail case
    rows = [(i, "x" * n) for i, n in enumerate([4, 63, 64, 65, 100, 256, 999])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["tok_start"], r["tok_len"], r["n_tok"])
        for r in chunk_sequences(docs, window=window, stride=stride).collect()
    )

    want = []
    for doc_id, text in rows:
        n_tok = (len(text) + 3) // 4
        n_chunks = 1 + (max(n_tok - window, 0) + stride - 1) // stride
        for i in range(n_chunks):
            want.append((doc_id, i, i * stride, min(window, n_tok - i * stride), n_tok))
    assert got == sorted(want)

    by_doc = {}
    for doc_id, idx, start, ln, n_tok in got:
        assert ln > 0
        by_doc.setdefault(doc_id, []).append((idx, start, ln, n_tok))
    for doc_id, chunks in by_doc.items():
        chunks.sort()
        n_tok = chunks[0][3]
        covered = set()
        for idx, start, ln, _ in chunks:
            assert start == idx * stride
            covered.update(range(start, start + ln))
        assert covered == set(range(n_tok))  # every token in some chunk
        assert all(ln == window for _, _, ln, _ in chunks[:-1])
    assert any(len(c) > 1 for c in by_doc.values())  # fixture multi-chunks

    with pytest.raises(ValueError):
        chunk_sequences(docs, window=8, stride=9)  # gap-leaving stride


def test_shuffle_corpus_is_a_deterministic_permutation(spark):
    """Interleaved shuffle: pos is a bijection over docs, pos mod
    n_shards == shard (round-robin interleave), ranks dense per shard,
    the order matches a python replay, is independent of input
    partitioning, and a different salt gives a different order."""
    import hashlib

    from yadex_spark.operators.packing import shuffle_corpus

    n = 200
    docs = spark.createDataFrame([(f"d{i}", "x") for i in range(n)],
                                 "doc_id string, text string")
    n_shards = 8
    out = shuffle_corpus(docs, salt="shuf", n_shards=n_shards).collect()
    got = {r["doc_id"]: (r["shard"], r["shard_rank"], r["pos"]) for r in out}
    assert len(got) == n
    assert len({v[2] for v in got.values()}) == n           # pos unique
    assert all(v[2] % n_shards == v[0] for v in got.values())  # interleave
    assert all(v[2] == v[1] * n_shards + v[0] for v in got.values())

    # python replay of the order rule
    by_shard = {}
    for i in range(n):
        doc_id = f"d{i}"
        h = hashlib.md5(f"shuf|{doc_id}".encode()).hexdigest()
        by_shard.setdefault(int(h[:4], 16) % n_shards, []).append((h, doc_id))
    want = {}
    for s, members in by_shard.items():
        for r, (_, doc_id) in enumerate(sorted(members)):
            want[doc_id] = (s, r, r * n_shards + s)
    assert got == want
    # per-shard ranks dense 0..len-1
    for s, members in by_shard.items():
        ranks = sorted(got[d][1] for _, d in members)
        assert ranks == list(range(len(members)))

    repart = {r["doc_id"]: (r["shard"], r["shard_rank"], r["pos"])
              for r in shuffle_corpus(docs.repartition(7), salt="shuf",
                                      n_shards=n_shards).collect()}
    assert repart == got  # order independent of physical partitioning

    other = {r["doc_id"]: r["pos"]
             for r in shuffle_corpus(docs, salt="epoch2", n_shards=n_shards).collect()}
    assert any(other[k] != v[2] for k, v in got.items())  # new epoch order


def test_vocab_topk_matches_counter(spark):
    """Vocabulary top-k == python Counter, including the deterministic
    (count DESC, word ASC) cut at the k boundary."""
    import collections

    from yadex_spark.operators.text import vocab_topk

    texts = ["b a a c b a", "c b d e", "a f g c", "h h h h"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    k = 4
    got = [(r["word"], r["n_occ"], r["n_docs"]) for r in vocab_topk(docs, k=k).collect()]

    occ, dfreq = collections.Counter(), collections.Counter()
    for t in texts:
        ws = t.split(" ")
        occ.update(ws)
        dfreq.update(set(ws))
    want = sorted(occ.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert got == [(w, c, dfreq[w]) for w, c in want]
    # the boundary tie (c=3 vs b=3) resolved by word ASC: 'b' in, 'c' in, order b<c
    assert [w for w, _, _ in got] == ["a", "h", "b", "c"]


def test_filter_corpus_matches_python_and_attributes_drops(spark):
    """Composed Gopher-rule filter == python replica of every rule;
    each rule fires on its designed offender; keep is the conjunction."""
    from yadex_spark.operators.text import filter_corpus

    rows = [
        (0, "the quick brown fox and the lazy dog run in to town for a of nice day"),  # clean
        (1, "to a of"),                                  # too short
        (2, " ".join(["the"] * 30)),                     # top-word + dup-2g blowout
        (3, " ".join(["supercalifragilistic"] * 12) + " the a of and"),  # wlen high
        (4, " ".join(f"w{i}" for i in range(25))),       # no stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(min_words=10, max_words=100, min_wlen_c=200, max_wlen_c=800,
              min_stop=2, max_top_word_bp=3000, max_dup_2gram_bp=3000)
    got = {r["doc_id"]: r.asDict() for r in filter_corpus(docs, **kw).collect()}

    stop = {"the", "a", "of", "and", "in", "to"}
    for doc_id, text in rows:
        ws = text.split(" ")
        nw = len(ws)
        wlen = 100 * len(text) // nw
        nstop = sum(1 for x in ws if x in stop)
        topbp = 10000 * max(ws.count(x) for x in set(ws)) // nw
        g2 = [" ".join(ws[i:i+2]) for i in range(nw - 1)]
        dup2 = 10000 * (len(g2) - len(set(g2))) // len(g2) if g2 else 0
        f = {
            "f_len": int(kw["min_words"] <= nw <= kw["max_words"]),
            "f_wlen": int(kw["min_wlen_c"] <= wlen <= kw["max_wlen_c"]),
            "f_stop": int(nstop >= kw["min_stop"]),
            "f_topw": int(topbp <= kw["max_top_word_bp"]),
            "f_rep2g": int(dup2 <= kw["max_dup_2gram_bp"]),
        }
        g = got[doc_id]
        assert (g["n_words"], g["avg_wlen_c"], g["n_stop"], g["top_word_bp"],
                g["dup_2gram_bp"]) == (nw, wlen, nstop, topbp, dup2), doc_id
        for k, v in f.items():
            assert g[k] == v, (doc_id, k)
        assert g["keep"] == int(all(f.values())), doc_id

    assert got[0]["keep"] == 1
    assert got[1]["f_len"] == 0 and got[1]["keep"] == 0
    assert got[2]["f_topw"] == 0 and got[2]["f_rep2g"] == 0
    assert got[3]["f_wlen"] == 0
    assert got[4]["f_stop"] == 0 and got[4]["f_len"] == 1


def test_mix_rates_waterfilling_and_corpus_composition(spark):
    """Mixture waterfilling == python replica: the binding source keeps
    ~100%, rates are proportional to share/tokens, unlisted sources get
    0, and the applied mix's kept-token composition lands near the
    target shares."""
    import hashlib

    from yadex_spark.operators.packing import mix_corpus, mix_rates

    # src a: 4000 tokens, b: 6000, c: 2000, d untargeted
    def mk(src, n_docs, words_per_doc):
        return [(f"{src}-{i}", " ".join(["word"] * words_per_doc), src)
                for i in range(n_docs)]

    rows = mk("a", 40, 20) + mk("b", 60, 20) + mk("c", 20, 20) + mk("d", 10, 20)
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")
    target = {"a": 5_000, "b": 3_000, "c": 2_000}

    got = {r["source"]: r.asDict() for r in mix_rates(docs, target).collect()}
    toks = {}
    for _, text, src in rows:
        toks[src] = toks.get(src, 0) + (len(text) + 3) // 4
    k = min(10_000 * toks[s] // w for s, w in target.items())
    for s in ["a", "b", "c", "d"]:
        w = target.get(s, 0)
        want = min(10_000, w * k // toks[s]) if w else 0
        assert got[s]["rate_bp"] == want, s
        assert got[s]["n_tokens"] == toks[s]
        assert got[s]["share_target_bp"] == w
    # binding source = argmin tokens/share = 'a' -> keeps ~100%
    assert got["a"]["rate_bp"] >= 9_990
    assert got["d"]["rate_bp"] == 0

    kept = mix_corpus(docs, target).collect()
    assert all(r["source"] != "d" for r in kept)
    # replica of the bucket rule
    for r in kept:
        b = int(hashlib.md5(f"mix|{r['doc_id']}".encode()).hexdigest()[:8], 16) % 10_000
        assert b == r["bucket"] and b < r["rate_bp"]
    # kept-token composition tracks the target (equal doc sizes -> doc
    # counts proportional; hash sampling noise bounded loosely)
    by_src = {s: sum(1 for r in kept if r["source"] == s) for s in "abc"}
    assert by_src["a"] == 40                      # binding source fully kept
    assert 15 <= by_src["b"] <= 33                # 3/5 * 40 = 24 expected
    assert 9 <= by_src["c"] <= 23                 # 2/5 * 40 = 16 expected


def test_scrub_pii_redacts_sequentially(spark):
    """Redaction rules apply IN ORDER, each counted against the text as
    the previous rules left it: a digit-dotted email localpart must be
    consumed by the email rule, never double-counted as an IP."""
    from yadex_spark.operators.text import scrub_pii

    rows = [
        (0, "reach bob.smith+tag@mail.example.org or 192.168.0.1 call +4915123456789"),
        (1, "tricky 12.34.56.78@x.com has a dotted-digit localpart"),
        (2, "no pii here just words"),
        (3, "two mails a@b.io c@d.net one ip 10.0.0.1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in scrub_pii(docs).collect()}

    assert got[0]["n_email"] == 1 and got[0]["n_ip"] == 1 and got[0]["n_phone"] == 1
    assert got[0]["clean_text"] == "reach <EMAIL> or <IP> call <PHONE>"
    # the dotted-digit localpart is ONE email, zero IPs
    assert got[1]["n_email"] == 1 and got[1]["n_ip"] == 0 and got[1]["n_phone"] == 0
    assert got[1]["clean_text"] == "tricky <EMAIL> has a dotted-digit localpart"
    assert got[2] == {
        "doc_id": 2, "n_email": 0, "n_ip": 0, "n_phone": 0,
        "clean_text": "no pii here just words",
    }
    assert got[3]["n_email"] == 2 and got[3]["n_ip"] == 1
    assert got[3]["clean_text"] == "two mails <EMAIL> <EMAIL> one ip <IP>"


def test_lm_bigram_score_matches_python(spark):
    """Training (top-k bigram cut incl. the deterministic boundary) and
    scoring replayed by a pure-python replica; a 1-word doc scores
    (0, 0, 0, 0) instead of vanishing."""
    from yadex_spark.operators.text import lm_bigram_score

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat ran on the mat"),
        (2, "a dog sat on a log"),
        (3, "gibberish zz qq xx yy"),
        (4, "word"),                      # 0 bigrams
        (5, None),                        # NULL text: 0 bigrams
    ]
    k = 4  # force a real top-k boundary (corpus has >4 distinct bigrams)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in lm_bigram_score(docs, k_bigrams=k).collect()}

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    import collections
    uni = collections.Counter()
    big = collections.Counter()
    for _, t in rows:
        ws = t.split(" ") if t is not None else []
        uni.update(h60(w) for w in ws)
        big.update((h60(f"{a} {b}"), h60(a)) for a, b in zip(ws, ws[1:]))
    top = sorted(big.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:k]
    model = {}
    for (h2, h1), c2 in top:
        model[h2] = max(model.get(h2, 0), 10_000 * c2 // uni[h1])

    for did, t in rows:
        ws = t.split(" ") if t is not None else []
        grams = [h60(f"{a} {b}") for a, b in zip(ws, ws[1:])]
        n = len(grams)
        hits = [model[g] for g in grams if g in model]
        want = {
            "n_bigrams": n,
            "n_hits": len(hits),
            "coverage_bp": 10_000 * len(hits) // n if n else 0,
            "avg_cond_bp": sum(hits) // n if n else 0,
        }
        assert {x: got[did][x] for x in want} == want, did
    assert got[4] == {"doc_id": 4, "n_bigrams": 0, "n_hits": 0,
                      "coverage_bp": 0, "avg_cond_bp": 0}
    # the model actually cut: some doc has partial coverage
    assert any(0 < got[d]["coverage_bp"] < 10_000 for d, _ in rows)


def test_semdedup_matches_python_and_pins_caveats(spark):
    """SemDeDup vs a pure-python replica of the rule (drop iff a
    smaller-id SAME-CLUSTER vector has cosine >= threshold), plus pins
    for both documented approximations: a cross-cluster near-dup pair
    is invisible, and max_cluster exempts hot clusters from pairing."""
    import math

    from yadex_spark.operators.similarity import semdedup, train_kmeans

    centers = [[8.0, 0.0, 0.0, 0.0], [0.0, 8.0, 0.0, 0.0]]
    rows = []
    for i in range(20):
        c = centers[i % 2]
        off = [0.125 * ((i * 7 + j * 3) % 5 - 2) for j in range(4)]
        rows.append((i, [c[j] + off[j] for j in range(4)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    K, ITERS, THR = 2, 2, 0.45
    cents = train_kmeans(emb, k=K, iters=ITERS)

    # --- python replica of the keep/drop rule on quantized ints ---
    q = {i: [round(v * 1000) for v in vec] for i, vec in rows}

    def cl(v):
        return min(
            (sum((a - b) * (a - b) for a, b in zip(v, c)), cid)
            for cid, c in sorted(cents.items())
        )[1]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    assign = {i: cl(v) for i, v in q.items()}
    want = {}
    for i in q:
        dropped = any(
            j < i and assign[j] == assign[i] and cos(q[j], q[i]) >= THR
            for j in q
        )
        want[i] = (assign[i], 0 if dropped else 1)

    got = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semdedup(emb, k=K, iters=ITERS, threshold=THR).collect()
    }
    assert got == want
    # each blob is internally near-identical: exactly one keeper per blob
    keeps = [i for i, (_, k) in got.items() if k == 1]
    assert sorted(keeps) == [0, 1]

    # --- caveat 1: a cross-cluster near-dup pair is invisible ---
    # v0/v1 have cosine 0.96 but straddle the centroid boundary
    pair = spark.createDataFrame(
        [(0, [8.0, 6.0, 0.0, 0.0]), (1, [6.0, 8.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    fixed = {0: [8000, 0, 0, 0], 1: [0, 8000, 0, 0]}
    got2 = {r["vec_id"]: (r["cluster"], r["keep"])
            for r in semdedup(pair, threshold=THR, cents=fixed).collect()}
    assert cos([8000, 6000, 0, 0], [6000, 8000, 0, 0]) > 0.9
    assert got2 == {0: (0, 1), 1: (1, 1)}  # both keep: pair never met

    # --- caveat 2: max_cluster exempts hot clusters ---
    got3 = {r["vec_id"]: r["keep"]
            for r in semdedup(emb, k=K, iters=ITERS, threshold=THR,
                              max_cluster=5).collect()}
    assert all(k == 1 for k in got3.values())  # both blobs exceed the cap


def test_dsir_weights_matches_python_and_orders_by_targetness(spark):
    """DSIR importance weights vs a pure-python replica of the whole
    recipe (hashed unigram+bigram bags, add-one smoothing, exact
    integral bp ratios, salted resample), plus the semantic property:
    a doc written in target vocabulary outweighs an off-target doc."""
    import hashlib

    from yadex_spark.operators.text import dsir_weights

    tgt_words = ["alpha", "beta", "gamma", "delta"]
    off_words = ["omega", "sigma", "tau", "rho"]
    target_rows = [(100 + i, " ".join(tgt_words[j % 4] for j in range(i, i + 6)))
                   for i in range(4)]
    corpus_rows = (
        [(i, " ".join(tgt_words[j % 4] for j in range(i, i + 8))) for i in range(5)]
        + [(10 + i, " ".join(off_words[j % 4] for j in range(i, i + 8))) for i in range(5)]
        + [(20, "alpha omega beta sigma")]  # mixed
    )
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")

    B, SALT = 64, "dsir"

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def feats(text: str) -> list[int]:
        ws = text.split(" ")
        grams = ws + [" ".join(ws[i:i + 2]) for i in range(len(ws) - 1)]
        return [h60(g) % B for g in grams]

    c_t: dict[int, int] = {}
    for _, t in target_rows:
        for b in feats(t):
            c_t[b] = c_t.get(b, 0) + 1
    c_r: dict[int, int] = {}
    for _, t in corpus_rows:
        for b in feats(t):
            c_r[b] = c_r.get(b, 0) + 1
    n_t, n_r = sum(c_t.values()), sum(c_r.values())

    def w(b: int) -> int:
        return (10_000 * (c_t.get(b, 0) + 1) * (n_r + B)) // (
            (c_r.get(b, 0) + 1) * (n_t + B))

    want = {}
    for i, t in corpus_rows:
        fs = feats(t)
        weight = sum(w(b) for b in fs) // len(fs)
        keep = 1 if h60(f"{SALT}|{i}") % 10_000 < min(weight, 10_000) else 0
        want[i] = (len(fs), weight, keep)

    got = {
        r["doc_id"]: (r["n_feats"], r["weight_bp"], r["keep"])
        for r in dsir_weights(corpus, target, n_buckets=B).collect()
    }
    assert got == want

    # semantic ordering: pure-target docs > mixed > pure-off-target
    tgt_w = min(got[i][1] for i in range(5))
    off_w = max(got[10 + i][1] for i in range(5))
    assert tgt_w > got[20][1] > off_w


def test_cap_per_source_matches_python_and_caps_exactly(spark):
    """cap_per_source vs a python replica of the induced global order
    (shard, hash, doc_id), plus the cap invariants: per-source keeps =
    min(cap, n) at ANY shard count, and src_rank is a permutation of
    0..n-1 within each source."""
    import hashlib

    from yadex_spark.operators.packing import cap_per_source

    rows = [(i, f"s{i % 3}", "x") for i in range(40)]  # 14/13/13 per source
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    CAP, SHARDS = 5, 8

    def h(i: int) -> str:
        return hashlib.md5(f"cap|{i}".encode()).hexdigest()

    order = {}
    for src in {s for _, s, _ in rows}:
        members = [i for i, s, _ in rows if s == src]
        members.sort(key=lambda i: (int(h(i)[:4], 16) % SHARDS, h(i), i))
        for r, i in enumerate(members):
            order[i] = (src, r, 1 if r < CAP else 0)

    got = {
        r["doc_id"]: (r["source"], r["src_rank"], r["keep"])
        for r in cap_per_source(docs, cap=CAP, n_shards=SHARDS).collect()
    }
    assert got == order

    # invariants hold at other shard counts (kept SET may differ; size may not)
    for ns in (1, 3, 16):
        res = cap_per_source(docs, cap=CAP, n_shards=ns).collect()
        per_src: dict[str, list[int]] = {}
        keeps: dict[str, int] = {}
        for r in res:
            per_src.setdefault(r["source"], []).append(r["src_rank"])
            keeps[r["source"]] = keeps.get(r["source"], 0) + r["keep"]
        for src, ranks in per_src.items():
            assert sorted(ranks) == list(range(len(ranks)))
            assert keeps[src] == min(CAP, len(ranks))


def test_span_mask_reconstruction_and_python_replica(spark):
    """apply_span_mask vs a python replica of the grid rule over real
    token arrays, the reconstruction law (substituting each sentinel in
    input_tokens with its target span reproduces the original tokens),
    and mask_spans/apply_span_mask rule consistency."""
    import hashlib

    from yadex_spark.operators.packing import apply_span_mask, mask_spans

    RATE, SPAN, SALT = 4_000, 3, "mask"  # high rate: plenty of spans
    rows = [(f"d{i}", list(range(100 * i, 100 * i + 1 + (i * 7) % 11)))
            for i in range(12)]  # lengths 1..11, incl. short-last-cell cases
    seqs = spark.createDataFrame(rows, "doc_id string, tokens array<int>")

    def is_masked(doc_id, k):
        h = int(hashlib.md5(f"{SALT}|{doc_id}|{k}".encode()).hexdigest()[:15], 16)
        return h % 10_000 < RATE

    def replica(doc_id, toks):
        inp, tgt = [], []
        for k in range((len(toks) + SPAN - 1) // SPAN):
            cell = toks[k * SPAN:(k + 1) * SPAN]
            if is_masked(doc_id, k):
                inp.append(-1 - k)
                tgt.extend([-1 - k] + cell)
            else:
                inp.extend(cell)
        return inp, tgt

    got = {
        r["doc_id"]: (r["input_tokens"], r["target_tokens"])
        for r in apply_span_mask(seqs, mask_rate_bp=RATE, span_len=SPAN,
                                 salt=SALT).collect()
    }
    assert got == {d: replica(d, t) for d, t in rows}
    # fixture exercises both branches: some cell masked, some kept
    assert any(any(x < 0 for x in inp) for inp, _ in got.values())
    assert any(any(x >= 0 for x in inp) for inp, _ in got.values())

    # reconstruction law
    for d, toks in rows:
        inp, tgt = got[d]
        spans = {}
        i = 0
        while i < len(tgt):
            assert tgt[i] < 0
            j = i + 1
            while j < len(tgt) and tgt[j] >= 0:
                j += 1
            spans[tgt[i]] = tgt[i + 1:j]
            i = j
        rebuilt = []
        for x in inp:
            rebuilt.extend(spans[x] if x < 0 else [x])
        assert rebuilt == toks

    # mask_spans (text domain) uses the same rule: span_k sets agree
    # when n_tok matches the array length
    docs = spark.createDataFrame(
        [(d, "x" * (4 * len(t))) for d, t in rows], "doc_id string, text string"
    )
    want_ks = {
        (d, k) for d, t in rows
        for k in range((len(t) + SPAN - 1) // SPAN) if is_masked(d, k)
    }
    got_ks = {
        (r["doc_id"], r["span_k"])
        for r in mask_spans(docs, mask_rate_bp=RATE, span_len=SPAN,
                            salt=SALT).collect()
    }
    assert got_ks == want_ks


def test_cdc_lake_state_feeds_span_corruption(spark, tmp_path):
    """Integration pin across the engine's two halves: the CDC lake's
    committed token sequences (the north-rule (doc_id, tokens, n_tok,
    source) schema) feed apply_span_mask directly, and every produced
    pair reconstructs its lake row's token array exactly."""
    from yadex_spark.lake.table import LakeTable
    from yadex_spark.operators.collapse import collapse
    from yadex_spark.operators.packing import apply_span_mask
    from yadex_spark.sources.genlog import gen_oplog

    live = gen_oplog(spark, 5_000, 800, seed=7).where("op != 'drop'")
    tbl = LakeTable(spark, str(tmp_path / "lake"))
    tbl.commit_delta(collapse(live).drop("table"), "e0")
    state = tbl.read()
    assert {"doc_id", "tokens", "n_tok", "source"} <= set(state.columns)

    pairs = apply_span_mask(state, mask_rate_bp=3_000, span_len=4)
    toks = {r["doc_id"]: r["tokens"] for r in state.collect()}
    got = {r["doc_id"]: (r["input_tokens"], r["target_tokens"])
           for r in pairs.collect()}
    assert set(got) == {d for d, t in toks.items() if t}  # all non-empty docs
    masked_somewhere = False
    for d, (inp, tgt) in got.items():
        spans, j = {}, 0
        while j < len(tgt):
            k = j + 1
            while k < len(tgt) and tgt[k] >= 0:
                k += 1
            spans[tgt[j]] = tgt[j + 1:k]
            j = k
        rebuilt = []
        for x in inp:
            rebuilt.extend(spans[x] if x < 0 else [x])
        assert rebuilt == list(toks[d])
        masked_somewhere = masked_somewhere or bool(spans)
    assert masked_somewhere


def test_byte_features_matches_numpy_on_arbitrary_binary(spark):
    """byte_features vs a python replica over REAL binary payloads
    (including bytes > 127 and an empty blob — the domain the
    ASCII-text gate oracle cannot reach)."""
    from collections import Counter

    from yadex_spark.operators.multimodal import byte_features

    payloads = {
        0: bytes(range(256)) * 2,
        1: b"\x00" * 37,
        2: b"",
        3: bytes([255, 128, 7, 7, 7, 200]),
        4: "héllo wörld".encode("utf-8"),
    }
    assets = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in payloads.items()],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r.asDict() for r in byte_features(assets).collect()}

    for i, b in payloads.items():
        hist = [0] * 16
        for x in b:
            hist[x >> 4] += 1
        want = {
            "doc_id": i,
            "n_bytes": len(b),
            "n_distinct": len(set(b)),
            "max_bin_bp": (10_000 * max(hist)) // len(b) if b else 0,
            **{f"h{j}": hist[j] for j in range(16)},
        }
        assert got[i] == want, i
    # sanity: the uniform blob has a flat histogram, the constant one a peak
    assert got[0]["max_bin_bp"] == 625  # 32/512 exactly
    assert got[1]["max_bin_bp"] == 10_000 and got[1]["n_distinct"] == 1
    assert Counter(got[3][f"h{j}"] for j in range(16))[0] == 12  # 4 bins hit


def test_fixture_payloads_are_ascii(spark):
    """Pin the gate oracle's two assumptions about the documents
    fixture (SQL_MULTI_BYTES / the BPE delimiter): every text is
    non-empty pure ASCII, so DuckDB's per-character ord() equals the
    byte value and the '·' (U+00B7) BPE token delimiter can never
    collide with corpus text.  If a future generator emits non-ASCII
    or empty docs this fails HERE, not as a silent gate hash skew."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bad = docs.where(
        (F.length("text") == 0) | F.col("text").rlike("[^\\x01-\\x7f]")
    ).count()
    assert bad == 0


def test_wordpiece_tokenize_greedy_rule_and_composition(spark):
    """wordpiece_tokenize vs a python replica of greedy longest-match,
    with explicit pins: longest entry beats shorter alternatives, [UNK]
    advances one char, and the output composes directly with
    apply_span_mask (reconstruction holds on tokenizer output)."""
    from yadex_spark.operators.packing import apply_span_mask
    from yadex_spark.operators.text import wordpiece_tokenize

    vocab = ["a", "b", "c", "d", "ab", "abc", "row", "rows"]
    vmap = {t: i + 1 for i, t in enumerate(vocab)}

    def replica(text):
        out = []
        for word in text.split(" "):
            pos = 0
            while pos < len(word):
                for ln in range(min(4, len(word) - pos), 0, -1):
                    if word[pos:pos + ln] in vmap:
                        out.append(vmap[word[pos:pos + ln]])
                        pos += ln
                        break
                else:
                    out.append(0)
                    pos += 1
        return out

    rows = [
        (0, "abcab rows row"),   # longest-match: abc+ab, rows beats row
        (1, "xyz"),              # all [UNK]
        (2, "a"),                # single char
        (3, "abca abcd dcba"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tok"], r["tokens"])
           for r in wordpiece_tokenize(docs, vocab).collect()}
    for i, t in rows:
        want = replica(t)
        assert got[i] == (len(want), want), i
    assert got[0][1] == [6, 5, 8, 7]          # abc, ab, rows, row
    assert got[1][1] == [0, 0, 0]             # x y z all unknown

    # tokenizer output feeds the span masker directly
    toks = wordpiece_tokenize(docs, vocab).selectExpr(
        "cast(doc_id as string) doc_id", "tokens"
    )
    pairs = {r["doc_id"]: (r["input_tokens"], r["target_tokens"])
             for r in apply_span_mask(toks, mask_rate_bp=5_000,
                                      span_len=2).collect()}
    for i, t in rows:
        inp, tgt = pairs[str(i)]
        spans, j = {}, 0
        while j < len(tgt):
            k = j + 1
            while k < len(tgt) and tgt[k] >= 0:
                k += 1
            spans[tgt[j]] = tgt[j + 1:k]
            j = k
        rebuilt = []
        for x in inp:
            rebuilt.extend(spans[x] if x < 0 else [x])
        assert rebuilt == replica(t)


def test_tfidf_keywords_matches_python_replica(spark, docs):
    from collections import Counter

    from yadex_spark.operators.text import tfidf_keywords

    got = {
        (r.doc_id, r.word): (r.tf, r.df, r.score_fp)
        for r in tfidf_keywords(docs, k=3).collect()
    }
    # python replica of the rational-idf rule
    toks = {d: [w for w in t.split(" ") if w] for d, t in DOCS}
    tf = {(d, w): c for d, ws in toks.items() for w, c in Counter(ws).items()}
    df = Counter(w for d, ws in toks.items() for w in set(ws))
    n = len(DOCS)
    want = {}
    for d in toks:
        scored = sorted(
            ((w, tf[(d, w)], df[w], tf[(d, w)] * (n // df[w])) for w in set(toks[d])),
            key=lambda x: (-x[3], x[0]),
        )[:3]
        for w, t, dfx, s in scored:
            want[(d, w)] = (t, dfx, s)
    assert got == want
    # rare terms outrank corpus-wide ones at equal tf: doc 2's unique
    # words (df=1) all beat any df>2 word's score
    assert all(df[w] == 1 for (d, w) in got if d == 2)


def test_length_quantiles_matches_python_replica(spark):
    import math
    import random as _r

    from yadex_spark.operators.text import length_quantiles

    rng = _r.Random(17)
    rows = [(f"s{i % 3}", rng.randint(1, 40)) for i in range(500)]
    df = spark.createDataFrame(
        [(g, "x", v) for g, v in rows], "source string, text string, n_chars long"
    )
    got = {r.source: (r.p50, r.p90, r.p99) for r in length_quantiles(df).collect()}

    def pq(vals, q):
        vals = sorted(vals)
        return vals[math.ceil(q * len(vals) / 100) - 1]

    for g in ("s0", "s1", "s2"):
        vals = [v for s, v in rows if s == g]
        assert got[g] == (pq(vals, 50), pq(vals, 90), pq(vals, 99)), g


def test_funnel_matches_python_replica_and_drops_monotonically(spark):
    import random as _r

    from yadex_spark.operators.funnel import funnel

    rng = _r.Random(31)
    types = ["signup", "click", "purchase", "view"]
    rows = [
        (rng.randrange(25), rng.randrange(10_000), rng.choice(types))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "uid long, ts long, et string")
    got = {
        r.uid: (r.t_signup, r.t_click, r.t_purchase)
        for r in funnel(df, "uid", "ts", "et", ["signup", "click", "purchase"]).collect()
    }

    def replica(uid):
        evs = [(t, e) for u, t, e in rows if u == uid]
        prev, out = None, []
        for st in ("signup", "click", "purchase"):
            cand = [t for t, e in evs if e == st and (prev is None or t > prev)]
            prev = min(cand) if cand else None
            out.append(prev)
            if prev is None:
                # strict rule: later stages are unreachable
                out.extend([None] * (2 - len(out) + 1))
                break
        return tuple((out + [None, None, None])[:3])

    assert set(got) == {u for u, _, _ in rows}
    for uid in got:
        assert got[uid] == replica(uid), uid
    # monotone dropoff: each stage completed by a (non-strict) subset
    n1 = sum(1 for v in got.values() if v[0] is not None)
    n2 = sum(1 for v in got.values() if v[1] is not None)
    n3 = sum(1 for v in got.values() if v[2] is not None)
    assert n1 >= n2 >= n3 and n3 > 0


def test_retention_matches_python_replica(spark):
    import datetime as dt
    import random as _r

    from yadex_spark.operators.funnel import retention

    rng = _r.Random(77)
    base = dt.datetime(2024, 1, 1)
    rows = [
        (rng.randrange(40), base + dt.timedelta(hours=rng.randrange(24 * 60)))
        for _ in range(800)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort, r.offset_p): r.n_users
        for r in retention(df, period_days=7).collect()
    }

    epoch = dt.date(1970, 1, 1)
    per_user: dict[int, set[int]] = {}
    for u, t in rows:
        per_user.setdefault(u, set()).add((t.date() - epoch).days // 7)
    want: dict[tuple[int, int], int] = {}
    for ps in per_user.values():
        p0 = min(ps)
        for p in ps:
            want[(p0, p - p0)] = want.get((p0, p - p0), 0) + 1
    assert got == want
    # offset 0 counts the whole cohort: no later offset can exceed it
    for (c, o), n in got.items():
        assert n <= got[(c, 0)]


def test_wordpiece_roundtrip_law(spark):
    from yadex_spark.operators.text import (
        UNK_CHAR,
        wordpiece_detokenize,
        wordpiece_tokenize,
    )

    vocab = ["a", "b", "c", "ab", "abc", "bc", "x"]
    texts = ["abc ab c", "aaa  bb", "", "x q abc"]  # 'q' is OOV
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    toks = wordpiece_tokenize(df, vocab, keep_boundaries=True)
    got = {r["doc_id"]: r["text"]
           for r in wordpiece_detokenize(toks, vocab).collect()}
    assert got[0] == "abc ab c"
    assert got[1] == "aaa  bb"  # double space survives the round-trip
    assert got[2] == ""
    assert got[3] == f"x {UNK_CHAR} abc"  # UNK consumed exactly one char
    # the default (gate) path is unchanged: no boundary ids ever
    plain = wordpiece_tokenize(df, vocab).collect()
    assert all(len(vocab) + 1 not in (r["tokens"] or []) for r in plain)


def test_trained_vocab_roundtrip_chain(spark):
    """bpe_train -> bpe_vocab -> tokenize(keep_boundaries) ->
    detokenize == identity: every corpus character is in the trained
    vocab by construction, so the chain must be lossless."""
    from yadex_spark.operators.bpe import bpe_train_merges, bpe_vocab
    from yadex_spark.operators.text import (
        wordpiece_detokenize,
        wordpiece_tokenize,
    )

    texts = ["low lower lowest", "new newer newest", "low new wider"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    vocab = bpe_vocab(docs, bpe_train_merges(docs, n_merges=6))
    toks = wordpiece_tokenize(docs, vocab, keep_boundaries=True)
    got = {r["doc_id"]: r["text"]
           for r in wordpiece_detokenize(toks, vocab).collect()}
    assert got == dict(enumerate(texts))


def test_dedup_doc_lines_first_occurrence_in_order(spark):
    """Intra-doc line scrub: first occurrence kept in order; empty doc,
    all-duplicate doc, no-duplicate doc, and a custom separator."""
    from yadex_spark.operators.text import dedup_doc_lines

    docs = spark.createDataFrame(
        [("a", "x\ny\nx\nz\ny"), ("b", "same\nsame\nsame"),
         ("c", "p\nq"), ("d", "")],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in dedup_doc_lines(docs).collect()}
    assert got["a"]["clean_text"] == "x\ny\nz"
    assert (got["a"]["n_lines"], got["a"]["n_uniq"], got["a"]["n_dropped"]) == (5, 3, 2)
    assert got["b"]["clean_text"] == "same" and got["b"]["n_dropped"] == 2
    assert got["c"]["clean_text"] == "p\nq" and got["c"]["n_dropped"] == 0
    # split("") yields [""] -> one (empty) line, nothing dropped
    assert got["d"]["n_lines"] == 1 and got["d"]["n_dropped"] == 0

    # sep is a LITERAL (regex metachar must not need escaping), and the
    # rejoin uses the same literal
    sep = dedup_doc_lines(
        spark.createDataFrame([("s", "u|v|u")], "doc_id string, text string"),
        sep="|",
    ).collect()[0]
    assert sep["n_dropped"] == 1 and sep["clean_text"] == "u|v"


def test_dedup_cross_doc_lines_semantics(spark):
    """Cross-doc boilerplate: df >= min_df lines dropped everywhere,
    intra-doc repeats count ONCE toward df, order preserved, an
    all-boilerplate doc survives with empty clean_text."""
    from yadex_spark.operators.text import dedup_cross_doc_lines

    docs = spark.createDataFrame(
        [
            ("a", "BANNER\nbody-a\nBANNER\nend-a"),   # BANNER twice in ONE doc
            ("b", "BANNER\nbody-b"),
            ("c", "BANNER"),                           # all-boilerplate doc
            ("d", "solo-d\nonly-here"),                # nothing shared
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in dedup_cross_doc_lines(docs).collect()}
    # BANNER df = 3 docs (a counts once despite two occurrences)
    assert got["a"]["clean_text"] == "body-a\nend-a"
    assert (got["a"]["n_lines"], got["a"]["n_kept"], got["a"]["n_dropped"]) == (4, 2, 2)
    assert got["b"]["clean_text"] == "body-b"
    assert got["c"]["clean_text"] == "" and got["c"]["n_kept"] == 0
    assert got["d"]["clean_text"] == "solo-d\nonly-here"  # untouched, in order
    # min_df above the banner's df: nothing is boilerplate
    got4 = {r["doc_id"]: r["n_dropped"]
            for r in dedup_cross_doc_lines(docs, min_df=4).collect()}
    assert set(got4.values()) == {0}
    # no python anywhere in the plan
    plan = dedup_cross_doc_lines(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
