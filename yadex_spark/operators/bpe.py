"""Distributed BPE vocabulary TRAINING (Sennrich et al. 2016,
arXiv:1508.07909) — the missing link between the raw-text operators
and the token-domain suite: learn the merge table that
:func:`~yadex_spark.operators.text.wordpiece_tokenize` (inference)
then applies.

Spark-first shape
-----------------
BPE training never iterates over the CORPUS — it iterates over the
word-FREQUENCY table (Sennrich's own optimization).  So:

- exactly ONE corpus-scale pass: ``words -> groupBy(word).count()``
  (partial hash agg, map-side combine — the only corpus shuffle);
- every merge iteration is a job over the distinct-word table, which
  is Zipf-bounded (~10-100M rows at 100 TB of text — executor-sized,
  corpus-independent): adjacent-pair counts via a per-row HOF explode
  + partial hash agg, best pair via a deterministic TakeOrderedAndProject
  (``orderBy(...).limit(1)`` — freq DESC, then lexicographic (lhs,
  rhs), so the merge sequence is reproducible bit-for-bit);
- the winning pair is a 1-row driver collect (the k-means-centroid
  pattern, ``similarity.py:316``) and the merge applies as a per-row
  string ``replace`` — no shuffle, no UDF;
- lineage is truncated with a lazy ``localCheckpoint`` every
  ``checkpoint_every`` merges so a 32k-merge production run does not
  build a 32k-deep plan.

Symbol-sequence encoding
------------------------
A word's current symbol sequence is one string with every token
wrapped in DOUBLE ``·`` delimiters: ``hello`` ->
``··h··e··l··l··o··</w>··``.  Merging pair (l, r) is then the plain
left-to-right non-overlapping string replace of ``·l··r·`` with
``·lr·`` — exact BPE merge semantics (greedy left-to-right within a
word, ``aaa`` + pair (a,a) -> (aa, a)), with zero false matches:
every token keeps one ``·`` of its own on each side, so the pattern
can never straddle a token boundary or consume a neighbouring merge
site.  Both Spark's ``replace`` and DuckDB's ``replace`` implement
exactly these semantics, which is what makes the unrolled SQL oracle
replay the training bit-for-bit.  The corpus is ASCII (pinned by
tests/test_m3_dataops.py::test_fixture_payloads_are_ascii), so ``·``
(U+00B7) can never collide with text.

Reference parity: the reference engine ships no tokenizer training —
this is part of the beyond-reference training-data suite (SURVEY.md
§2 "LLM-data ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadex_spark.operators.common import persisted, spread
from yadex_spark.operators.dedup import words_col

#: token delimiter — non-ASCII so it cannot appear in (pinned-ASCII)
#: corpus text; every token is wrapped in TWO so a merge pattern
#: ``·l··r·`` keeps one delimiter on each side for the neighbours
DELIM = "·"
END_TOKEN = "</w>"


def bpe_word_freq(docs: DataFrame) -> DataFrame:
    """(word, freq): the ONE corpus-scale pass of BPE training."""
    return (
        spread(docs.select("doc_id", "text"), "doc_id")
        .select(F.explode(words_col(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_syms(word) -> F.Column:
    chars = F.filter(F.split(word, ""), lambda x: x != "")
    toks = F.concat(chars, F.array(F.lit(END_TOKEN)))
    d2 = DELIM * 2
    return F.concat(F.lit(d2), F.array_join(toks, d2), F.lit(d2))


def bpe_train_merges(docs: DataFrame, n_merges: int = 10,
                     checkpoint_every: int = 4) -> list[tuple]:
    """Run BPE training, returning the merge sequence as a driver-side
    list of ``(merge_rank, lhs, rhs, freq)`` tuples (1 row collected
    per iteration — model-sized, like the k-means centroids).  Stops
    early when no adjacent pair remains (tiny corpora)."""
    wf = bpe_word_freq(docs)
    # persist the word-frequency table: it is the Zipf-bounded model
    # input of EVERY merge iteration, and without the persist each
    # iteration's action re-ran the corpus-scale word-count pass from
    # scratch (n_merges corpus scans instead of one — guide §5's
    # "reused AND expensive to recompute" case; measured ~3x on the
    # whole training run at sf0.1).  Iteration i then applies its i
    # cumulative replaces over the cached vocab rows only.
    merges: list[tuple] = []
    with persisted(wf.select(_initial_syms(F.col("word")).alias("syms"), "freq")) as base:
        words = base
        for it in range(n_merges):
            toks = F.filter(F.split("syms", DELIM * 2), lambda x: x != "")
            sz = F.size(toks)
            pair_rows = (
                words.where(sz >= 2)
                .select(
                    "freq",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(0), F.size(toks) - 2),
                            lambda i: F.struct(
                                F.get(toks, i).alias("lhs"),
                                F.get(toks, i + 1).alias("rhs"),
                            ),
                        )
                    ).alias("p"),
                )
            )
            best = (
                pair_rows.groupBy("p.lhs", "p.rhs")
                .agg(F.sum("freq").alias("f"))
                .orderBy(F.desc("f"), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            if not best:
                break
            lhs, rhs, f = best[0]["lhs"], best[0]["rhs"], best[0]["f"]
            merges.append((it, lhs, rhs, int(f)))
            search = F.lit(f"{DELIM}{lhs}{DELIM}{DELIM}{rhs}{DELIM}")
            repl = F.lit(f"{DELIM}{lhs}{rhs}{DELIM}")
            words = words.select(
                F.replace(F.col("syms"), search, repl).alias("syms"), "freq"
            )
            if (it + 1) % checkpoint_every == 0:
                # truncate lineage; lazy — materializes on the next
                # iteration's pair-count action
                words = words.localCheckpoint(eager=False)
    return merges


def bpe_train(docs: DataFrame, n_merges: int = 10,
              checkpoint_every: int = 4) -> DataFrame:
    """BPE merge-table training as a DataFrame gate:
    (merge_rank int, lhs string, rhs string, freq bigint) — one row
    per learned merge in training order."""
    from pyspark.sql.types import (LongType, IntegerType, StringType,
                                   StructField, StructType)

    rows = bpe_train_merges(docs, n_merges, checkpoint_every)
    schema = StructType([
        StructField("merge_rank", IntegerType(), False),
        StructField("lhs", StringType(), False),
        StructField("rhs", StringType(), False),
        StructField("freq", LongType(), False),
    ])
    return docs.sparkSession.createDataFrame(rows, schema)


def bpe_vocab(docs: DataFrame, merges: list[tuple],
              drop_end_token: bool = True) -> list[str]:
    """Derive the inference vocab fed to
    :func:`~yadex_spark.operators.text.wordpiece_tokenize`: every
    single character observed in the corpus plus every merged symbol
    (lhs+rhs per merge), longest-match-ready.  ``drop_end_token``
    removes symbols containing the ``</w>`` marker, which plain-text
    greedy matching can never hit (one driver-sized list — the vocab
    IS a model artifact)."""
    chars = [
        r["c"]
        for r in (
            docs.select(F.explode(F.filter(F.split("text", ""),
                                           lambda x: x != "")).alias("c"))
            .distinct()
            .collect()
        )
    ]
    vocab = sorted(chars)
    for _, lhs, rhs, _f in merges:
        vocab.append(lhs + rhs)
    if drop_end_token:
        vocab = [v for v in vocab if END_TOKEN not in v and v != " "]
    return vocab
