"""M13 — property-based tests over the dataops algebra.

Companion to test_m12_property: these pin the *laws* of the iterative /
compositional operators on arbitrary small inputs, where the
fixed-corpus gates pin one instance each.

- dedup_clusters: equals union-find (min-label connected components)
  for ANY pair list — chains, cycles, self-pairs, singletons-via-
  all_docs; the gate corpus cannot cover arbitrary graph shapes, and
  the pointer-jumping loop is exactly the kind of code a graph edge
  case breaks.
- winnow_fingerprint: equals a literal Python transcription of
  Schleimer winnowing (same split/concat_ws/md5-prefix conventions), so
  the HOF pipeline and the algorithm agree on all window/boundary
  cases.
- mix_rates: equals the integer waterfilling definition (K = min over
  targeted sources of (10000*T) div w; rate = (w*K) div T capped at
  10000), and rates never exceed 10000 / untargeted sources get 0.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings, strategies as st

from yadex_spark.operators.dedup import dedup_clusters
from yadex_spark.operators.packing import mix_rates
from yadex_spark.operators.text import winnow_fingerprint

SETTINGS = dict(
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    print_blob=True,
)

DOCS = [f"d{i}" for i in range(12)]

pair_lists = st.lists(
    st.tuples(st.sampled_from(DOCS), st.sampled_from(DOCS)),
    max_size=25,
)


def _uf_clusters(pairs, extra_docs=()):
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    members: dict[str, list] = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    out = {}
    for root, ms in members.items():
        lo = min(ms)
        for x in ms:
            out[x] = lo
    for d in extra_docs:
        out.setdefault(d, d)
    return sorted(out.items())


@settings(max_examples=6, **SETTINGS)
@given(pairs=pair_lists)
def test_dedup_clusters_equals_union_find(spark, pairs):
    pdf = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    all_docs = spark.createDataFrame([(d,) for d in DOCS], "doc_id string")
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters(pdf, all_docs=all_docs).collect()
    )
    assert got == _uf_clusters(pairs, extra_docs=DOCS)


def _py_winnow(doc_id, text, k, w):
    words = text.split(" ")
    grams = (
        [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
        if len(words) >= k
        else []
    )
    h = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
    ]
    if len(h) < w:
        return None
    wins = sorted({min(h[i : i + w]) for i in range(len(h) - w + 1)})
    return (doc_id, len(wins), min(wins), max(wins))


texts = st.text(
    st.sampled_from("ab x yz "), max_size=60
)  # tiny alphabet with spaces: empty words, repeats, short docs


@settings(max_examples=8, **SETTINGS)
@given(
    docs=st.dictionaries(
        st.sampled_from(DOCS), texts, min_size=1, max_size=8
    ).map(lambda d: sorted(d.items())),
    k=st.integers(1, 3),
    w=st.integers(1, 4),
)
def test_winnow_equals_schleimer_reference(spark, docs, k, w):
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = sorted(
        (r.doc_id, r.n_fp, r.fp_min, r.fp_max)
        for r in winnow_fingerprint(df, k=k, w=w).collect()
    )
    exp = sorted(
        r for r in (_py_winnow(d, t, k, w) for d, t in docs) if r is not None
    )
    assert got == exp


@st.composite
def embedding_corpora(draw):
    dim = draw(st.integers(1, 4))
    n = draw(st.integers(3, 12))
    comp = st.integers(-2000, 2000)
    vecs = []
    for _ in range(n):
        v = [draw(comp) for _ in range(dim)]
        if not any(v):
            v[0] = 1  # zero vectors make cosine undefined — exclude
        vecs.append(v)
    return vecs, draw(st.integers(1, 5))


@settings(max_examples=8, **SETTINGS)
@given(c=embedding_corpora())
def test_cosine_topk_equals_exact_oracle(spark, c):
    """cosine_topk == brute-force float64 oracle, bit-exact: the
    1/1000-grid quantization makes dot/norms exact BIGINTs (components
    here are exact milli-units, so float32 storage round-trips), and
    the final divide/sqrt are correctly-rounded IEEE ops identical
    across engines — similarity.py's portable-math contract."""
    import math

    from yadex_spark.operators.similarity import cosine_topk

    vecs, k = c
    n_q = 2
    df = spark.createDataFrame(
        [(i, [x / 1000.0 for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r.rnk, r.cos)
        for r in cosine_topk(df, n_queries=n_q, k=k).collect()
    )
    exp = []
    for qid in range(n_q):
        q = vecs[qid]
        na2 = sum(x * x for x in q)
        scored = []
        for nid in range(n_q, len(vecs)):
            v = vecs[nid]
            dot = sum(x * y for x, y in zip(q, v))
            nb2 = sum(x * x for x in v)
            scored.append((nid, float(dot) / math.sqrt(float(na2 * nb2))))
        scored.sort(key=lambda t: (-t[1], t[0]))
        exp += [
            (qid, nid, rnk + 1, cos) for rnk, (nid, cos) in enumerate(scored[:k])
        ]
    assert got == sorted(exp)


def _py_mix_rates(docs, target_bp):
    toks: dict[str, int] = {}
    for _, src, text in docs:
        toks[src] = toks.get(src, 0) + (len(text) + 3) // 4
    k = min(
        (10000 * toks[s]) // w
        for s, w in target_bp.items()
        if w > 0 and s in toks
    )
    out = []
    for s, t in toks.items():
        w = target_bp.get(s, 0)
        rate = min(10000, (w * k) // t) if w > 0 else 0
        out.append((s, t, w, rate))
    return sorted(out)


@settings(max_examples=8, **SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 99),
            st.sampled_from(["web", "books", "code"]),
            st.text(st.sampled_from("abc "), min_size=1, max_size=30),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    target_bp=st.fixed_dictionaries(
        {},
        optional={
            "web": st.integers(1, 9000),
            "books": st.integers(1, 9000),
            "code": st.integers(1, 9000),
        },
    ),
)
def test_mix_rates_equals_waterfilling_oracle(spark, docs, target_bp):
    sources = {src for _, src, _ in docs}
    if not any(target_bp.get(s, 0) > 0 for s in sources):
        return  # K undefined when no present source is targeted
    df = spark.createDataFrame(
        [(f"d{i}", s, t) for i, s, t in docs],
        "doc_id string, source string, text string",
    )
    got = sorted(
        (r.source, r.n_tokens, r.share_target_bp, r.rate_bp)
        for r in mix_rates(df, target_bp).collect()
    )
    exp = _py_mix_rates(docs, target_bp)
    assert got == exp
    for _, _, w, rate in got:
        assert 0 <= rate <= 10000 and (w > 0 or rate == 0)


# --- resumed-session operators: cap_per_source / semdedup / dsir_weights ---

cap_rows = st.lists(
    st.tuples(st.integers(0, 30), st.sampled_from(["s0", "s1", "s2"])),
    min_size=1, max_size=20, unique_by=lambda t: t[0],
)


@settings(max_examples=8, **SETTINGS)
@given(rows=cap_rows, cap=st.integers(0, 6), n_shards=st.integers(1, 8))
def test_cap_per_source_equals_sharded_rank_oracle(spark, rows, cap, n_shards):
    """cap_per_source == the plain (shard, hash, doc_id) per-source
    window for ANY doc/source multiset, cap, and shard count; keeps are
    exactly min(cap, n) per source."""
    from yadex_spark.operators.packing import cap_per_source

    docs = spark.createDataFrame(
        [(i, s, "x") for i, s in rows], "doc_id long, source string, text string"
    )

    def h(i):
        return hashlib.md5(f"cap|{i}".encode()).hexdigest()

    want = {}
    for src in {s for _, s in rows}:
        ms = sorted(
            (i for i, s in rows if s == src),
            key=lambda i: (int(h(i)[:4], 16) % n_shards, h(i), i),
        )
        for r, i in enumerate(ms):
            want[i] = (src, r, 1 if r < cap else 0)

    got = {
        r["doc_id"]: (r["source"], r["src_rank"], r["keep"])
        for r in cap_per_source(docs, cap=cap, n_shards=n_shards).collect()
    }
    assert got == want


vecs = st.lists(
    st.tuples(
        st.integers(0, 15),
        st.tuples(
            st.sampled_from([-2.0, -1.0, -0.5, 0.5, 1.0, 2.0]),  # nonzero lead
            st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0]),
            st.sampled_from([-1.0, 0.0, 1.0]),
        ),
    ),
    min_size=1, max_size=10, unique_by=lambda t: t[0],
)

CENTS3 = {0: [1000, 0, 0], 1: [-1000, 0, 0]}


@settings(max_examples=8, **SETTINGS)
@given(rows=vecs, thr=st.sampled_from([0.3, 0.7, 0.95]))
def test_semdedup_equals_rule_oracle(spark, rows, thr):
    """semdedup (fixed centroids) == the drop-iff-smaller-id-same-
    cluster-near-dup rule for ANY vector set and threshold — with
    PAIR_BLOCK=2, so every cluster of 3+ members spans several blocks."""
    import math
    from unittest import mock

    from yadex_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, list(v)) for i, v in rows], "vec_id long, embedding array<float>"
    )
    q = {i: [round(x * 1000) for x in v] for i, v in rows}

    def cl(v):
        return min(
            (sum((a - b) ** 2 for a, b in zip(v, c)), cid)
            for cid, c in sorted(CENTS3.items())
        )[1]

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    assign = {i: cl(v) for i, v in q.items()}
    want = {
        i: (
            assign[i],
            0 if any(j < i and assign[j] == assign[i] and cos(q[j], q[i]) >= thr
                     for j in q) else 1,
        )
        for i in q
    }
    with mock.patch.object(similarity, "PAIR_BLOCK", 2):
        got = {
            r["vec_id"]: (r["cluster"], r["keep"])
            for r in similarity.semdedup(emb, threshold=thr, cents=CENTS3).collect()
        }
    assert got == want


word_texts = st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1,
                      max_size=6).map(" ".join)


@settings(max_examples=6, **SETTINGS)
@given(
    corpus=st.dictionaries(st.integers(0, 9), word_texts, min_size=1, max_size=6)
    .map(lambda d: sorted(d.items())),
    target=st.dictionaries(st.integers(100, 104), word_texts, min_size=1,
                           max_size=3).map(lambda d: sorted(d.items())),
)
def test_dsir_weights_equals_python_oracle(spark, corpus, target):
    """dsir_weights == the integer DSIR recipe for ANY tiny word-soup
    corpus/target pair (B=16 forces heavy bucket collisions — the
    collision handling must match too)."""
    from yadex_spark.operators.text import dsir_weights

    B = 16
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def feats(text):
        ws = text.split(" ")
        return [h60(g) % B for g in ws + [" ".join(ws[i:i + 2])
                                          for i in range(len(ws) - 1)]]

    c_t, c_r = {}, {}
    for _, t in target:
        for b in feats(t):
            c_t[b] = c_t.get(b, 0) + 1
    for _, t in corpus:
        for b in feats(t):
            c_r[b] = c_r.get(b, 0) + 1
    n_t, n_r = sum(c_t.values()), sum(c_r.values())

    want = {}
    for i, t in corpus:
        fs = feats(t)
        wsum = sum(
            (10_000 * (c_t.get(b, 0) + 1) * (n_r + B))
            // ((c_r.get(b, 0) + 1) * (n_t + B))
            for b in fs
        )
        weight = wsum // len(fs)
        keep = 1 if h60(f"dsir|{i}") % 10_000 < min(weight, 10_000) else 0
        want[i] = (len(fs), weight, keep)

    got = {
        r["doc_id"]: (r["n_feats"], r["weight_bp"], r["keep"])
        for r in dsir_weights(cdf, tdf, n_buckets=B).collect()
    }
    assert got == want


tok_rows = st.lists(
    st.tuples(
        st.integers(0, 9),
        st.lists(st.integers(0, 1_000_000), min_size=1, max_size=17),
    ),
    min_size=1, max_size=6, unique_by=lambda t: t[0],
)


@settings(max_examples=8, **SETTINGS)
@given(rows=tok_rows, rate=st.sampled_from([0, 2_000, 5_000, 10_000]),
       span_len=st.integers(1, 5))
def test_apply_span_mask_reconstruction_law(spark, rows, rate, span_len):
    """For ANY token arrays, mask rate, and span length: substituting
    each sentinel in input_tokens with its target span reproduces the
    original array; sentinels are unique and negative; rate 0 masks
    nothing and rate 10000 masks everything."""
    from yadex_spark.operators.packing import apply_span_mask

    seqs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in rows], "doc_id string, tokens array<int>"
    )
    got = {
        r["doc_id"]: (r["input_tokens"], r["target_tokens"])
        for r in apply_span_mask(seqs, mask_rate_bp=rate,
                                 span_len=span_len).collect()
    }
    assert set(got) == {f"d{i}" for i, _ in rows}
    for i, toks in rows:
        inp, tgt = got[f"d{i}"]
        sents = [x for x in inp if x < 0]
        assert len(sents) == len(set(sents))
        if rate == 0:
            assert inp == toks and tgt == []
        if rate == 10_000:
            assert all(x < 0 for x in inp)
        spans, j = {}, 0
        while j < len(tgt):
            assert tgt[j] < 0
            k = j + 1
            while k < len(tgt) and tgt[k] >= 0:
                k += 1
            spans[tgt[j]] = tgt[j + 1:k]
            j = k
        assert sorted(spans) == sorted(sents)
        rebuilt = []
        for x in inp:
            rebuilt.extend(spans[x] if x < 0 else [x])
        assert rebuilt == toks


# ---------------------------------------------------------------------------
# leakage_safe_split: cluster-atomic split law
# ---------------------------------------------------------------------------

pair_graphs = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=25
)


@settings(max_examples=15, **SETTINGS)
@given(edges=pair_graphs, val_pct=st.integers(0, 100))
def test_leakage_safe_split_is_cluster_atomic(spark, edges, val_pct):
    """(1) Every member of a near-dup cluster lands on the SAME side at
    any val_pct — the invariant train_val_split cannot give; (2) the
    assignment equals hashing the union-find representative directly
    (the definition)."""
    from yadex_spark.operators.packing import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(31)], "doc_id long")
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges if a != b] or [(0, 0)],
        "doc_a long, doc_b long",
    ).where("doc_a < doc_b").distinct()
    got = {
        r["doc_id"]: (r["split_key"], r["split"])
        for r in leakage_safe_split(docs, pairs, val_pct=val_pct).collect()
    }
    assert set(got) == set(range(31))

    # python union-find oracle for the representative
    parent = list(range(31))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    for i in range(31):
        rep = find(i)
        bucket = int(hashlib.md5(str(rep).encode()).hexdigest()[:8], 16) % 100
        want = "val" if bucket < val_pct else "train"
        assert got[i] == (rep, want), (i, got[i], rep, want)
    # cluster-atomicity restated: one distinct side per representative
    sides = {}
    for i in range(31):
        sides.setdefault(find(i), set()).add(got[i][1])
    assert all(len(s) == 1 for s in sides.values())


def test_leakage_safe_split_degrades_to_train_val_split(spark):
    """On a pair-free corpus the cluster-keyed split IS train_val_split
    (same md5-prefix bucket rule, every doc its own singleton key)."""
    from yadex_spark.operators.packing import leakage_safe_split, train_val_split

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    no_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    safe = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in leakage_safe_split(docs, no_pairs, val_pct=10).collect()
    }
    plain = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in train_val_split(docs, val_pct=10).collect()
    }
    assert safe == plain


def test_plain_split_leaks_where_safe_split_cannot(spark):
    """The failure mode exists: over 400 two-doc near-dup clusters,
    train_val_split straddles a measurable fraction (independent 10%
    draws -> ~18% of clusters split-inconsistent) while
    leakage_safe_split straddles ZERO."""
    from yadex_spark.operators.packing import leakage_safe_split, train_val_split

    n = 400
    docs = spark.createDataFrame(
        [(i,) for i in range(2 * n)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(i, i + n) for i in range(n)], "doc_a long, doc_b long"
    )
    plain = {r["doc_id"]: r["split"] for r in train_val_split(docs).collect()}
    leaked = sum(1 for i in range(n) if plain[i] != plain[i + n])
    assert leaked > 0  # the documented hazard is real on this fixture
    safe = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs, pairs).collect()
    }
    assert all(safe[i] == safe[i + n] for i in range(n))


# ---------------------------------------------------------------------------
# mix_rates_upsampled / mix_corpus_epochs: epoch-replication laws
# ---------------------------------------------------------------------------

def test_mix_upsampled_equals_python_oracle(spark):
    """Rates: exact integer waterfilling with K = max (binding source
    runs exactly one epoch, everything else upsamples above it).
    Corpus: every doc emitted rate//10000 + (bucket < rate%10000)
    times with epochs 0..n-1 — replicated in plain python."""
    import hashlib as _h

    from yadex_spark.operators.packing import (
        mix_corpus_epochs,
        mix_rates_upsampled,
    )

    rows = [(f"d{i}", f"s{i % 3}", "x" * (20 + 13 * (i % 7))) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    target = {"s0": 5000, "s1": 4000, "s2": 1000}

    toks = {}
    for _d, s, t in rows:
        toks[s] = toks.get(s, 0) + (len(t) + 3) // 4
    k = max(10000 * toks[s] // w for s, w in target.items())
    want_rates = {s: target[s] * k // toks[s] for s in target}
    got_rates = {r["source"]: r["rate_bp"]
                 for r in mix_rates_upsampled(docs, target).collect()}
    assert got_rates == want_rates
    assert min(want_rates.values()) == 10000  # binding source: one epoch

    got = {}
    for r in mix_corpus_epochs(docs, target).collect():
        got.setdefault(r["doc_id"], []).append(r["epoch"])
    for d, s, _t in rows:
        bucket = int(_h.md5(f"mix|{d}".encode()).hexdigest()[:8], 16) % 10000
        rate = want_rates[s]
        n = rate // 10000 + (1 if bucket < rate % 10000 else 0)
        assert sorted(got.get(d, [])) == list(range(n)), (d, rate, bucket)


def test_mix_upsampled_single_source_degrades_to_mix_corpus(spark):
    """A single-source target solves to rate 10000 in BOTH variants:
    the epoch form emits exactly mix_corpus's rows with epoch = 0."""
    from yadex_spark.operators.packing import mix_corpus, mix_corpus_epochs

    rows = [(f"d{i}", f"s{i % 2}", "y" * 40) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    up = {(r["doc_id"], r["epoch"]) for r in
          mix_corpus_epochs(docs, {"s0": 10000}).collect()}
    down = {(r["doc_id"], 0) for r in mix_corpus(docs, {"s0": 10000}).collect()}
    assert up == down and len(up) == 25
