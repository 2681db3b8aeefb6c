"""M7 — streaming NEAR-dup dedup-on-ingest (MinHash-LSH band registry).

The streamed accepted set must equal the sequential greedy oracle (walk
arrivals in order; accept iff no band seen; register every arrival's
bands), must stay crash-replay stable (same exactly-once bar as
M6 / the CDC engine), and must equal the BATCH dedup_clusters canonical
assignment on star-shaped corpora (exact-dup groups — where online and
offline dedup provably agree).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from yadex_spark.streaming.neardup_ingest import NearDupIngest

WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november"]


def _texts() -> list[str]:
    """Deterministic near-dup-heavy corpus: 30 groups; member j of a
    group perturbs the group's 12-word base at one position (high
    jaccard within the group), plus exact repeats, chain variants and
    short (shingle-less) docs."""
    out = []
    for g in range(30):
        base = [WORDS[(g * 3 + i) % len(WORDS)] + str(g) for i in range(12)]
        n_members = 1 + (g % 4)  # 1..4 members
        for j in range(n_members):
            t = list(base)
            if j:
                t[(j * 5) % 12] = f"edit{g}x{j}"
            out.append(" ".join(t))
    # chain variants: B = A with head edited, C = B with tail edited
    a = [WORDS[i % len(WORDS)] + "chain" for i in range(12)]
    b = list(a); b[0] = "chainhead"
    c = list(b); c[11] = "chaintail"
    out += [" ".join(a), " ".join(b), " ".join(c)]
    out += ["tiny doc", "small text"]  # < 3 words: no shingles, no bands
    return out


def _docs(spark):
    texts = _texts()
    # interleave arrivals across the corpus so groups straddle epochs
    order = sorted(range(len(texts)), key=lambda i: (i * 37) % len(texts))
    rows = [(seq, f"doc{seq:05d}", texts[i]) for seq, i in enumerate(order)]
    return spark.createDataFrame(rows, "ingest_seq long, doc_id string, text string")


@pytest.fixture()
def feed(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "docs")
    n = docs.count()
    base = time.time() - 600
    span = (n + 2) // 3
    for i in range(3):
        docs.where(
            (F.col("ingest_seq") >= i * span) & (F.col("ingest_seq") < (i + 1) * span)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base + 10:
                os.utime(fp, (base + i, base + i))
    return docs, path


def _greedy_oracle(ing, docs):
    """Sequential greedy near-dup dedup: the semantics the band registry
    implements, replayed one arrival at a time.  Band values come from
    the operator's own (gate-tested) signature scheme; the walk is the
    independent part under test.  Returns (accepted ingest_seqs, True
    iff some rejection was caused by a band whose first holder was
    itself rejected — the chain case the registry must handle)."""
    by_seq: dict[int, set] = {}
    for r in ing._bands(docs).collect():
        by_seq.setdefault(r["ingest_seq"], set()).add(r["band"])
    seen: dict[str, int] = {}
    accepted, rejected, chain_case = [], set(), False
    for r in docs.select("ingest_seq").orderBy("ingest_seq").collect():
        seq = r["ingest_seq"]
        bs = by_seq.get(seq, set())
        hits = [b for b in bs if b in seen]
        if hits:
            rejected.add(seq)
            if any(seen[b] in rejected for b in hits):
                chain_case = True
        else:
            accepted.append(seq)
        for b in bs:
            seen.setdefault(b, seq)
    return accepted, chain_case


def test_streamed_neardup_matches_greedy_oracle(spark, tmp_path, feed):
    docs, path = feed
    ing = NearDupIngest(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    ing.run_available_now()
    got = {r["ingest_seq"] for r in ing.accepted().collect()}
    want, chain_case = _greedy_oracle(ing, docs)
    assert got == set(want)
    n = docs.count()
    assert len(got) < n  # near-dups actually suppressed
    assert chain_case  # fixture exercises rejected-doc-band rejection
    # shingle-less docs are always accepted
    short = {r["ingest_seq"] for r in docs.where(F.size(F.split("text", " ")) < 3).collect()}
    assert short <= got
    # maintenance preserves the accepted set and registry
    n_bands = ing.seen.read_keys().count()
    rep = ing.maintain()
    assert rep["seen"]["compacted_version"] is not None
    assert {r["ingest_seq"] for r in ing.accepted().collect()} == got
    assert ing.seen.read_keys().count() == n_bands


def test_neardup_crash_replay_is_stable(spark, tmp_path, feed, forget_commits, applied_epochs):
    docs, path = feed
    ckpt = str(tmp_path / "ckpt")
    ing = NearDupIngest(spark, path, str(tmp_path / "lake"), ckpt,
                        max_files_per_trigger=1)
    ing.run_available_now()
    n_seen, n_acc = ing.seen.latest_version(), ing.accepted_table.latest_version()
    got = {r["ingest_seq"] for r in ing.accepted().collect()}

    last = forget_commits(ckpt)  # crash between lake commit and checkpoint commit
    ing2 = NearDupIngest(spark, path, str(tmp_path / "lake"), ckpt,
                         max_files_per_trigger=1)
    replayed = applied_epochs(ing2)
    ing2.run_available_now()
    assert last in replayed  # the forgotten epoch re-entered apply_batch
    assert ing2.seen.latest_version() == n_seen        # no double-register
    assert ing2.accepted_table.latest_version() == n_acc  # no double-accept
    assert {r["ingest_seq"] for r in ing2.accepted().collect()} == got


def test_neardup_equals_batch_canonical_on_star_corpus(spark, tmp_path):
    """On a star-shaped corpus (exact-dup groups: every later member
    shares EVERY band with the first) the online rule and the batch
    pipeline (minhash_lsh_pairs → dedup_clusters canonical minima +
    singletons) must agree exactly — VERDICT r3 #2's 'done' bar."""
    from yadex_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    texts = []
    for g in range(12):
        t = " ".join(WORDS[(g * 2 + i) % len(WORDS)] + f"g{g}" for i in range(10))
        texts += [t] * (1 + g % 3)  # groups of 1..3 exact copies
    rows = [(i, f"doc{i:05d}", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "ingest_seq long, doc_id string, text string")
    path = str(tmp_path / "docs")
    base = time.time() - 600
    span = (len(rows) + 1) // 2
    for i in range(2):
        docs.where(
            (F.col("ingest_seq") >= i * span) & (F.col("ingest_seq") < (i + 1) * span)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base + 10:
                os.utime(fp, (base + i, base + i))

    ing = NearDupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                        max_files_per_trigger=1)
    ing.run_available_now()
    streamed = {r["doc_id"] for r in ing.accepted().collect()}

    clusters = dedup_clusters(minhash_lsh_pairs(docs), all_docs=docs.select("doc_id"))
    canonical = {
        r["mn"] for r in clusters.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("mn")).collect()
    }
    assert streamed == canonical
    assert len(streamed) < len(rows)  # copies were actually suppressed


def test_neardup_registry_is_never_shuffled(spark, tmp_path, feed):
    """Same scale pin as M6: the band registry contributes only a
    narrow scan probed by broadcast batch bands — no shuffle, no LWW."""
    docs, path = feed
    ing = NearDupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"))
    ing.run_available_now()
    assert ing.seen.latest_version() >= 1
    bands = ing._bands(docs.where("ingest_seq < 20"))
    batch_keys = bands.select("band").distinct()
    seen_keys = ing.seen.read_keys("doc_id").select(F.col("doc_id").alias("band"))
    probe = seen_keys.join(F.broadcast(batch_keys), "band", "left_semi")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "LeftSemi, BuildRight" in plan


def test_embed_dedup_ingest_matches_greedy_oracle(spark, tmp_path):
    """Embedding variant: cosine-LSH hyperplane bands instead of MinHash
    — same band-registry rule, same greedy-oracle bar.  Near-identical
    vectors (the dedup case) share every band; orthogonal-ish vectors
    share none."""
    from yadex_spark.streaming.embdedup_ingest import EmbedDedupIngest

    rows = []
    seq = 0
    # 10 direction groups of 1-3 near-identical vectors + sign-flipped
    # singles that must never collide with anything
    for g in range(10):
        base = [2.0 + ((g * 5 + j) % 7) * 0.4 for j in range(16)]
        for m in range(1 + g % 3):
            v = list(base)
            v[g % 16] += 0.001 * m  # near-identical twin
            rows.append((seq, f"doc{seq:05d}", v))
            seq += 1
    for i in range(6):
        rows.append((seq, f"doc{seq:05d}",
                     [((-1) ** (i + j)) * (1.0 + (j % 4)) for j in range(16)]))
        seq += 1
    order = sorted(range(len(rows)), key=lambda i: (i * 17) % len(rows))
    rows = [(s, f"doc{s:05d}", rows[i][2]) for s, i in enumerate(order)]
    docs = spark.createDataFrame(rows, "ingest_seq long, doc_id string, embedding array<float>")

    path = str(tmp_path / "emb")
    base_t = time.time() - 600
    span = (len(rows) + 1) // 2
    for i in range(2):
        docs.where(
            (F.col("ingest_seq") >= i * span) & (F.col("ingest_seq") < (i + 1) * span)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base_t + 10:
                os.utime(fp, (base_t + i, base_t + i))

    ing = EmbedDedupIngest(
        spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, n_planes=64, bands=4, dim=16,
    )
    ing.run_available_now()
    got = {r["ingest_seq"] for r in ing.accepted().collect()}

    by_seq: dict[int, set] = {}
    for r in ing._bands(docs).collect():
        by_seq.setdefault(r["ingest_seq"], set()).add(r["band"])
    seen: set = set()
    want = set()
    for s in range(len(rows)):
        bs = by_seq[s]
        if not (bs & seen):
            want.add(s)
        seen |= bs
    assert got == want
    assert len(got) < len(rows)  # twins actually suppressed
    # registry maintenance keeps the state
    rep = ing.maintain()
    assert rep["seen"]["compacted_version"] is not None
    assert {r["ingest_seq"] for r in ing.accepted().collect()} == got


def _bridge_feed(spark, tmp_path):
    """Adversarial-order corpus for reconcile(): D (seq 0) and E
    (seq 1) share no band at arrival, later bridge docs F1 = D-with-
    one-edit (seq 4) and F2 = E's words with D's F1-edit word (seq 5)
    connect {D, F1} and {E, F2}; F1 and F2 share the edit-word
    shingles... the point is the BRIDGE arrives after both D and E are
    already accepted.  The test asserts the band-level preconditions
    explicitly so a signature-scheme change fails loudly here, not as
    a silent vacuous pass."""
    d_words = [w + "dd" for w in WORDS[:12]]
    e_words = [w + "ee" for w in WORDS[:12]]
    d = " ".join(d_words)
    e = " ".join(e_words)
    # bridge: first half of D, second half of E — shares shingle runs
    # (hence, w.h.p. over the fixed md5 scheme, bands) with BOTH
    bridge = " ".join(d_words[:6] + e_words[6:])
    filler1 = " ".join(w + "f1" for w in WORDS[:10])
    filler2 = " ".join(w + "f2" for w in WORDS[2:12])
    texts = [d, e, filler1, filler2, bridge]
    rows = [(i, f"doc{i:05d}", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "ingest_seq long, doc_id string, text string")
    path = str(tmp_path / "docs")
    base = time.time() - 600
    for i, lo in enumerate([0, 2, 4]):  # bridge arrives in the LAST epoch
        docs.where(
            (F.col("ingest_seq") >= lo) & (F.col("ingest_seq") < lo + 2)
        ).repartition(1).write.mode("append").parquet(path)
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > base + 10:
                os.utime(fp, (base + i, base + i))
    return docs, path


def test_reconcile_repairs_online_overaccept(spark, tmp_path):
    """VERDICT r4 #6: the out-of-band reconcile() job relabels the
    accepted set to the batch dedup_clusters canonical assignment on a
    corpus where a FUTURE bridge arrival merges two already-accepted
    docs — the one documented online-vs-batch divergence."""
    docs, path = _bridge_feed(spark, tmp_path)
    ing = NearDupIngest(spark, path, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
                        max_files_per_trigger=1)

    # --- precondition pins (band level, independent of the ingest run)
    bands = {
        seq: set(g["band"] for g in grp)
        for seq, grp in __import__("itertools").groupby(
            sorted(ing._bands(docs).collect(), key=lambda r: r["ingest_seq"]),
            key=lambda r: r["ingest_seq"],
        )
    }
    assert not (bands[0] & bands[1])          # D, E dissimilar at arrival
    assert bands[4] & bands[0]                # bridge hits D
    assert bands[4] & bands[1]                # bridge hits E

    ing.run_available_now()
    got = {r["ingest_seq"] for r in ing.accepted().collect()}
    assert {0, 1} <= got          # both accepted online (the over-accept)
    assert 4 not in got           # bridge itself rejected

    # --- independent batch truth: python union-find over shared bands
    parent = {s: s for s in bands}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    band_first: dict = {}
    for s in sorted(bands):
        for b in bands[s]:
            if b in band_first:
                ra, rb = find(band_first[b]), find(s)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            else:
                band_first[b] = s
    canonical = {s for s in bands if find(s) == s}

    rep = ing.reconcile()
    assert rep["divergent"] >= 1                    # E was over-accepted
    assert rep["repaired"] == rep["divergent"]
    after = {r["ingest_seq"] for r in ing.accepted().collect()}
    assert after == (got & canonical) == canonical & got
    assert 1 not in after and 0 in after            # E repaired away, D kept

    # idempotent: a second pass finds nothing
    rep2 = ing.reconcile()
    assert rep2["divergent"] == 0 and rep2["repaired"] == 0
    assert {r["ingest_seq"] for r in ing.accepted().collect()} == after
