"""M18 — hashed-feature quality-classifier training (operators/qmodel.py).

Exact integer fixed-point GD: training must be bit-deterministic under
repartitioning (the property the distributed gradient sum depends on),
must actually learn a separable corpus, and must divide exactly the
way the DuckDB oracle does (truncation toward zero).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from yadex_spark.operators.qmodel import (
    FP,
    _trunc_div,
    hashed_features,
    score_quality_model,
    train_quality_model,
)


@pytest.fixture(scope="module")
def corpus(spark):
    """Separable two-class corpus: class 1 speaks 'good', class 0
    speaks 'spam'; shared filler words in both."""
    rows = []
    for i in range(40):
        y = i % 2
        vocab = "good clean prose signal" if y else "spam junk noise click"
        rows.append((i, f"{vocab} {vocab} the a of and common filler", y))
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


def test_trunc_div_matches_duckdb_integer_division():
    con = duckdb.connect()
    cases = [(-7, 2), (7, 2), (-7, -2), (1234567, 1024), (-1234567890123456789, 1 << 20), (0, 5)]
    for a, b in cases:
        want = con.execute(f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)").fetchone()[0]
        assert _trunc_div(a, b) == want, (a, b)


def test_features_carry_bias_even_for_empty_doc(spark):
    docs = spark.createDataFrame([(1, "a b a"), (2, ""), (3, None)],
                                 "doc_id long, text string")
    f = {r["doc_id"]: r["feats"] for r in hashed_features(docs, dim=8).collect()}
    assert any(x["idx"] == 8 and x["cnt"] == 1 for x in f[1])
    assert [(x["idx"], x["cnt"]) for x in f[2]] == [(8, 1)]  # bias only
    assert [(x["idx"], x["cnt"]) for x in f[3]] == [(8, 1)]  # NULL text too


def test_training_learns_separable_corpus(corpus):
    labels = corpus.select("doc_id", "y")
    w = train_quality_model(corpus, labels, dim=32, iters=3, lr_shift=6)
    scores = {
        r["doc_id"]: r["score_fp"]
        for r in score_quality_model(corpus, w, dim=32).collect()
    }
    pos = [scores[i] for i in range(40) if i % 2 == 1]
    neg = [scores[i] for i in range(40) if i % 2 == 0]
    # every class-1 doc outscores every class-0 doc, and the margin
    # brackets the fixed-point targets 0 and FP
    assert min(pos) > max(neg)
    assert min(pos) > FP // 2 > max(neg)


def test_training_is_partitioning_invariant(corpus):
    """Integer gradient sums are exact, so weights cannot depend on how
    the corpus is partitioned — the invariance float GD lacks."""
    labels = corpus.select("doc_id", "y")
    w1 = train_quality_model(corpus.repartition(1), labels, dim=16, iters=2)
    w8 = train_quality_model(
        corpus.repartition(8, "doc_id"), labels, dim=16, iters=2
    )
    assert w1 == w8


def test_scoring_stays_shuffle_free_after_features(corpus):
    """The per-iteration scoring fold must not introduce joins/shuffles
    beyond the feature build: weights ride as an array literal."""
    w = [1] * 17
    plan = (
        score_quality_model(corpus, w, dim=16)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # feature build = 2 aggregates (doc_id,idx then doc_id) + label-free
    # left join; the scoring itself adds NO further join
    assert plan.count("Join") <= 1, plan


def test_zero_iterations_scores_zero(corpus):
    w = train_quality_model(corpus, corpus.select("doc_id", "y"), dim=8, iters=0)
    assert w == [0] * 9
    s = score_quality_model(corpus, w, dim=8)
    assert s.agg(F.max(F.abs("score_fp"))).first()[0] == 0
