"""M12 — property-based tests (hypothesis) over the engine's core
algebra.

The gate queries pin exact results on fixed corpora; these tests pin
the *laws* the operators claim on arbitrary small inputs:

- collapse (T1/T3): both impls equal a driver-side reference fold,
  and the result is invariant under input permutation (LWW-max is
  associative + commutative, the property the map-side partial
  aggregation depends on — collapse.py module docstring).
- split_drops: the drop barrier keeps exactly the events past the last
  drop per table (/root/reference/msync/input.go:113-123 semantics).
- pack_sequences: equals a sequential per-shard Python packer, bins
  partition the shard, offsets never exceed the budget.
- train_val_split: per-row hash rule, so membership is stable under
  corpus growth (a doc never migrates as new docs arrive).

Inputs stay tiny (<= 60 events) and the SparkSession is shared, so the
whole module runs in about a minute; hypothesis shrinks any failure to
a minimal event list, which fixed-corpus gates cannot do.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import types as T

from yadex_spark.operators.collapse import collapse, split_drops
from yadex_spark.operators.packing import pack_sequences, train_val_split

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("op_ts", T.LongType()),
        T.StructField("op_seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("after", T.StringType()),
    ]
)

SETTINGS = dict(
    deadline=None,  # Spark job latency is not a per-example budget
    suppress_health_check=[HealthCheck.too_slow],
    print_blob=True,
)


@st.composite
def event_lists(draw, with_drops: bool = False, max_n: int = 60):
    """Arbitrary oplog batch: unique op_seq (resume-token order — the
    sole LWW key), small key pools so collisions are common."""
    n = draw(st.integers(min_value=0, max_value=max_n))
    ops = ["insert", "update", "replace", "delete"] + (
        ["drop"] if with_drops else []
    )
    rows = []
    seqs = draw(st.permutations(list(range(n))))
    for i in range(n):
        op = draw(st.sampled_from(ops))
        rows.append(
            (
                draw(st.sampled_from(["t0", "t1"])),
                None if op == "drop" else f"d{draw(st.integers(0, 7))}",
                draw(st.integers(0, 5)),
                int(seqs[i]),
                op,
                None if op in ("delete", "drop") else f"v{i}",
            )
        )
    return rows


def _py_collapse(rows):
    """Reference fold: last (max op_seq) event per (table, doc_id)."""
    best = {}
    for r in rows:
        k = (r[0], r[1])
        if k not in best or r[3] > best[k][3]:
            best[k] = r
    return sorted(best.values())


def _py_split_drops(rows):
    barrier = {}
    for r in rows:
        if r[4] == "drop":
            barrier[r[0]] = max(barrier.get(r[0], -1), r[3])
    live = [
        r for r in rows if r[4] != "drop" and r[3] > barrier.get(r[0], -1)
    ]
    return sorted(live), sorted(barrier.items())


@pytest.mark.parametrize("impl", ["narrow", "arrow"])
@settings(max_examples=8, **SETTINGS)
@given(rows=event_lists())
def test_collapse_equals_reference_fold(spark, impl, rows):
    events = spark.createDataFrame(
        [r for r in rows if r[4] != "drop"], EVENT_SCHEMA
    )
    got = sorted(tuple(r) for r in collapse(events, impl=impl).collect())
    assert got == _py_collapse([r for r in rows if r[4] != "drop"])


@settings(max_examples=8, **SETTINGS)
@given(rows=event_lists(), seed=st.integers(0, 2**32 - 1))
def test_collapse_is_permutation_invariant(spark, rows, seed):
    import random

    live = [r for r in rows if r[4] != "drop"]
    shuffled = list(live)
    random.Random(seed).shuffle(shuffled)
    a = sorted(
        tuple(r)
        for r in collapse(spark.createDataFrame(live, EVENT_SCHEMA)).collect()
    )
    b = sorted(
        tuple(r)
        for r in collapse(
            spark.createDataFrame(shuffled, EVENT_SCHEMA)
        ).collect()
    )
    assert a == b


@settings(max_examples=8, **SETTINGS)
@given(rows=event_lists(with_drops=True))
def test_split_drops_equals_reference(spark, rows):
    live, truncs = split_drops(spark.createDataFrame(rows, EVENT_SCHEMA))
    exp_live, exp_truncs = _py_split_drops(rows)
    assert sorted(tuple(r) for r in live.collect()) == exp_live
    assert sorted(tuple(r) for r in truncs.collect()) == exp_truncs


def _py_shard(doc_id: str, n_shards: int) -> int:
    return int(hashlib.md5(doc_id.encode()).hexdigest()[:4], 16) % n_shards


def _py_pack(docs, budget, n_shards):
    """Sequential packer: per shard, docs in doc_id order, running
    token total; bin = cumsum_before // budget."""
    out = {}
    shards = {}
    for doc_id, text in docs:
        shards.setdefault(_py_shard(doc_id, n_shards), []).append(
            (doc_id, text)
        )
    for shard, members in shards.items():
        total = 0
        for doc_id, text in sorted(members):
            n_tok = (len(text) + 3) // 4
            out[doc_id] = (
                doc_id, shard, n_tok, total // budget, total % budget
            )
            total += n_tok
    return sorted(out.values())


doc_lists = st.dictionaries(
    keys=st.text(st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=6),
    values=st.text(
        st.characters(min_codepoint=32, max_codepoint=126), max_size=40
    ),
    max_size=40,
).map(lambda d: sorted(d.items()))


@settings(max_examples=8, **SETTINGS)
@given(docs=doc_lists, budget=st.integers(1, 16), n_shards=st.integers(1, 4))
def test_pack_sequences_equals_sequential_packer(spark, docs, budget, n_shards):
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = sorted(
        tuple(r)
        for r in pack_sequences(df, budget=budget, n_shards=n_shards).collect()
    )
    assert got == _py_pack(docs, budget, n_shards)
    # invariants independent of the oracle: offsets stay inside the
    # budget, and bins are dense from 0 within each shard
    for _, _, _, b, off in got:
        assert 0 <= off < budget and b >= 0


_NAN = float("nan")
_INF = float("inf")
specials = st.sampled_from([None, 0.0, -0.0, 1.5, 2.0, 2.4, -3.0, _NAN, _INF, -_INF])


def _eqns(a, b):
    """Spark eqNullSafe semantics: null==null, NaN==NaN, else ==."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if a != a and b != b:  # both NaN
            return True
    return a == b


def _py_field_diff(exp, act, tol):
    out = set()
    for k in exp.keys() & act.keys():
        (lx, ls), (rx, rs) = exp[k], act[k]
        if not (_eqns(lx, rx) and _eqns(ls, rs)):  # row status 'changed'
            if tol is not None and lx is not None and rx is not None:
                d = lx - rx
                x_ch = not (_eqns(lx, rx) or (-tol <= d <= tol))
            else:
                x_ch = not _eqns(lx, rx)
            if x_ch:
                out.add((k, "x"))
            if not _eqns(ls, rs):
                out.add((k, "s"))
    return out


sides = st.dictionaries(
    keys=st.sampled_from([f"k{i}" for i in range(6)]),
    values=st.tuples(specials, st.sampled_from([None, "a", "b"])),
    max_size=6,
)


@settings(max_examples=12, **SETTINGS)
@given(exp=sides, act=sides, tol=st.sampled_from([None, 0.0, 0.5, 1.0]))
def test_field_diff_tolerance_nan_null_semantics(spark, exp, act, tol):
    """field_diff == the documented V2 rule on arbitrary NaN/Inf/null/
    tolerance combinations: tolerance applies only when both sides are
    non-null, equal NaN/Inf are never reported, null<->non-null always
    is (verify.py field_diff docstring)."""
    from yadex_spark.verify import field_diff

    schema = "doc_id string, x double, s string"
    e = spark.createDataFrame(
        [(k, x, s) for k, (x, s) in sorted(exp.items())], schema
    )
    a = spark.createDataFrame(
        [(k, x, s) for k, (x, s) in sorted(act.items())], schema
    )
    got = {
        (r.doc_id, r.field)
        for r in field_diff(e, a, float_tolerance=tol).collect()
    }
    assert got == _py_field_diff(exp, act, tol)


@settings(max_examples=10, **SETTINGS)
@given(docs=doc_lists, extra=doc_lists, val_pct=st.integers(0, 100))
def test_train_val_split_stable_under_corpus_growth(spark, docs, extra, val_pct):
    """A doc's split on the small corpus == its split on the grown
    corpus (hash-of-key, not positional/random)."""
    small = spark.createDataFrame(docs, "doc_id string, text string")
    merged = {k: v for k, v in docs + extra}.items()
    grown = spark.createDataFrame(sorted(merged), "doc_id string, text string")
    a = {r.doc_id: (r.bucket, r.split) for r in train_val_split(small, val_pct).collect()}
    b = {r.doc_id: (r.bucket, r.split) for r in train_val_split(grown, val_pct).collect()}
    assert all(b[k] == a[k] for k in a)
    for bucket, split in a.values():
        assert split == ("val" if bucket < val_pct else "train")
