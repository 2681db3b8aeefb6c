"""Text analysis operators (training-data pipeline): quality scoring,
language ID, token counting, document fingerprinting.

All pure Spark SQL expressions; integer arithmetic where a DuckDB
oracle must match exactly (ratios reported in basis points via floor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yadex_spark.operators.common import spread
from yadex_spark.operators.dedup import shingles, words_col
from yadex_spark.operators.sketch import kmv_hash

STOPWORDS = {
    "en": ("the", "a", "of", "and", "in", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}


def _hits(words, lang: str):
    return F.size(F.filter(words, lambda x: x.isin(*STOPWORDS[lang]))).cast("long")


def _top_word_count(ws) -> F.Column:
    """Occurrence count of a word array's most frequent element, as the
    max run length of the SORTED array — O(n log n) per row.  The naive
    HOF form (transform over array_distinct, filtering the full array
    per distinct word) is O(distinct × n) per row; values are
    identical.  Null (not 0) on an empty array, matching
    array_max-over-empty in the old form.

    ``ws`` is the sorted array (pass it as a projected column so the
    happy path sorts once).  SUBSTITUTION SAFETY: ``ws`` is referenced
    only OUTSIDE lambda bodies — as slice/zip_with arguments — never
    via ``element_at`` inside the fold.  Catalyst's predicate pushdown
    substitutes aliases into Filter predicates, and an expression
    referenced inside a lambda re-evaluates PER ELEMENT after
    substitution: an earlier ``element_at(ws, i)`` formulation became
    re-sort-per-element (O(n² log n)/row) the moment
    ``where(keep = 1)`` pushed it down — measured 20 s on a 0.6 s
    stage.  Here the worst substitution re-sorts per ROW."""
    n = F.size(ws)
    m = F.greatest(n - 1, F.lit(0))  # slice() raises on negative length
    eq = F.zip_with(F.slice(ws, 1, m), F.slice(ws, 2, m), lambda a, b: a == b)
    one = F.lit(1).cast("long")
    run = F.aggregate(
        eq,
        F.struct(one.alias("cur"), one.alias("best")),
        lambda acc, e: F.struct(
            F.when(e, acc["cur"] + 1).otherwise(one).alias("cur"),
            F.greatest(
                acc["best"], F.when(e, acc["cur"] + 1).otherwise(one)
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.when(n >= 1, run).otherwise(F.lit(None).cast("long"))


def quality(docs: DataFrame) -> DataFrame:
    """Length / stopword-ratio quality features + a floor-int score."""
    w = words_col(F.col("text"))
    n_words = F.size(w).cast("long")
    n_stop = _hits(w, "en")
    avg_wlen = F.floor(F.lit(100) * F.length("text") / n_words)  # centichars/word
    stop_bp = F.floor(F.lit(10_000) * n_stop / n_words)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_stop.alias("n_stop"),
        stop_bp.alias("stop_bp"),
        avg_wlen.alias("avg_wlen_c"),
        F.least(
            F.floor(n_words / 2) + F.floor(F.lit(10_000) * n_stop / n_words) / 100, F.lit(100.0)
        ).cast("double").alias("quality_score"),
    )


def langid(docs: DataFrame) -> DataFrame:
    """Stopword-list language ID with deterministic preference order."""
    w = words_col(F.col("text"))
    hits = {lang: _hits(w, lang) for lang in STOPWORDS}
    pred = (
        F.when(
            (hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]),
            "en",
        )
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]), "de")
        .when(hits["fr"] >= hits["es"], "fr")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        *[hits[lang].alias(f"{lang}_hits") for lang in STOPWORDS],
    )


#: BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum —
#: the GPT-2-style split shape, restricted to constructs RE2 (DuckDB)
#: and Java regex (Spark) interpret identically
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens, BPE-ish regex tokens, and a chars/4 estimate."""
    w = words_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{BPE_RE}', 0)")).cast("long").alias("n_re_tokens"),
        F.floor((F.length("text") + 3) / 4).alias("n_tok_est"),
    )


def fingerprint(docs: DataFrame, n: int = 5) -> DataFrame:
    """Rolling-hash-style document fingerprint: min/max md5 over word
     5-grams + distinct-shingle count (docs shorter than n words drop)."""
    # per-row array_distinct == explode().distinct() for a doc-scoped
    # dedup, zero shuffle (see dedup.doc_shingles)
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(words_col(F.col("text")), n))).alias("sh"),
    )
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("sh")).alias("fp_min"),
        F.max(F.md5("sh")).alias("fp_max"),
        F.count("*").alias("n_shingles"),
    )


def winnow_fingerprint(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing (Schleimer et al.): hash every word k-gram, slide a
    w-hash window, keep each window's MIN hash — the classic
    position-robust document fingerprint (an insertion shifts positions
    but local minima survive).  Emits the distinct selected-hash summary
    per doc; all per-row HOF expressions, no shuffle beyond the final
    agg.  Hashes are 60-bit md5 prefixes as BIGINT (portable to the
    DuckDB oracle, codegen-friendly aggregation buffers)."""
    grams = shingles(words_col(F.col("text")), k)
    hashes = F.transform(grams, lambda g: kmv_hash(g))
    d = docs.select("doc_id", hashes.alias("h")).where(F.size("h") >= w)
    wins = F.transform(
        F.sequence(F.lit(1), F.size("h") - (w - 1)),
        lambda i: F.array_min(F.slice("h", i, w)),
    )
    fp = d.select("doc_id", F.explode(F.array_distinct(wins)).alias("fp"))
    return fp.groupBy("doc_id").agg(
        F.count("*").alias("n_fp"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )


def _shingle_hashes(docs: DataFrame, n: int, key) -> DataFrame:
    """(key, h): the 60-bit hash of each distinct word ``n``-gram of each
    doc — the decontamination overlap key of :func:`decontaminate` and
    the streaming clean-ingest member.  ``key`` (a column name or an
    aliased Column) names the doc.

    Per-row array_distinct before the explode: the old explode -> hash
    -> distinct shuffled every (doc_id, hash) pair for a doc-scoped
    dedup.  Residual within-doc hash collisions (two distinct n-grams,
    one 60-bit hash) survive as duplicate (key, h) rows — invisible to
    every consumer (countDistinct aggregates, semi-joins)."""
    sh = docs.select(
        key,
        F.explode(F.array_distinct(shingles(words_col(F.col("text")), n))).alias("sh"),
    )
    return sh.select(sh.columns[0], kmv_hash("sh").alias("h"))


def _bench_hashes(bench: DataFrame, n: int, max_df: int | None) -> DataFrame:
    """(bench_id, h): the benchmark side's distinct shingle hashes,
    minus hashes present in more than ``max_df`` benchmark docs (the
    stop-gram cap; None keeps all)."""
    b = _shingle_hashes(bench, n, F.col("doc_id").alias("bench_id")).distinct()
    if max_df is not None:
        df_counts = b.groupBy("h").agg(F.count("*").alias("_df"))
        b = b.join(df_counts.where(F.col("_df") <= max_df), "h").drop("_df")
    return b


def decontaminate(corpus: DataFrame, bench: DataFrame, n: int = 8,
                  max_bench_df: int | None = None) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with an evaluation set (the GPT-3 13-gram overlap rule,
    Brown et al. 2020 appendix C, at a configurable n).

    Output: one row per CONTAMINATED corpus doc —
    (doc_id, n_hits = distinct shared shingles,
     n_bench_docs = distinct benchmark docs hit).

    Scale shape: the corpus is spread to cluster parallelism BEFORE
    shingling (per-row md5 is CPU-heavy but tiny by bytes — the AQE
    coalescing trap ``spread`` exists for), shingles are hashed to
    60-bit BIGINTs BEFORE the distinct so the dedup shuffle moves
    (doc_id, BIGINT) rows instead of raw n-gram strings; the benchmark
    side is eval-set-sized (orders of magnitude below the corpus), so
    AQE broadcasts it from its runtime size and the corpus side never
    shuffles for the join itself.  ``max_bench_df`` drops shingles
    present in more than that many benchmark docs (boilerplate/
    stop-grams) BEFORE the join — the same quadratic-bucket guard as
    ``ngram_jaccard_pairs``'s df-cap."""
    c = _shingle_hashes(spread(corpus.select("doc_id", "text"), "doc_id"), n, "doc_id")
    b = _bench_hashes(bench, n, max_bench_df)
    return (
        c.join(b, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_hits"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1:
    repetitious documents are low-quality): per doc, the most-frequent-
    word mass and the duplicate-2-gram mass, in basis points.

    Entirely per-row HOF expressions — NO shuffle at any scale (the
    distinct/filter loops run inside whole-stage codegen over each
    row's own word array); integer-exact for the DuckDB oracle."""
    w = words_col(F.col("text"))
    d = docs.select("doc_id", w.alias("w"))
    # sorted array in its OWN projection — see _top_word_count
    d = d.select("*", F.array_sort("w").alias("ws"))
    n_words = F.size("w").cast("long")
    n_distinct = F.size(F.array_distinct("w")).cast("long")
    top_n = _top_word_count(F.col("ws"))
    g2 = shingles(F.col("w"), 2)
    n_2g = F.size(g2).cast("long")
    n_2g_d = F.size(F.array_distinct(g2)).cast("long")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        F.floor(F.lit(10_000) * (n_words - n_distinct) / n_words).alias("dup_word_bp"),
        F.floor(F.lit(10_000) * top_n / n_words).alias("top_word_bp"),
        F.when(n_2g > 0, F.floor(F.lit(10_000) * (n_2g - n_2g_d) / n_2g))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("dup_2gram_bp"),
    )


def dedup_doc_lines(docs: DataFrame, sep: str = "\n") -> DataFrame:
    """Intra-document line dedup (the CCNet/Gopher line-level scrub,
    per document): keep each line's FIRST occurrence in order, drop the
    rest — boilerplate headers/footers and copy-paste runs inside one
    crawled page are removed without touching any other document.
    Complements the corpus-level passage dedup (dedup.py:passage_dedup,
    Lee et al.), which this does NOT replace: this is the cheap per-row
    normalization CCNet runs BEFORE corpus-level hashing.

    Entirely per-row HOF expressions — NO shuffle, no python: the kept
    list folds left over the line array appending a line iff not yet
    seen (``aggregate`` + ``array_contains``; the accumulator IS the
    answer, so nothing references the outer array inside a lambda —
    the alias-substitution hazard text.py's top-word fold documents).
    O(L²) equality checks per doc in the worst case, vectorized
    JVM-side; L = lines per document (crawl pages: hundreds).

    Returns (doc_id, n_lines, n_uniq, n_dropped, clean_text).
    ``sep`` is a LITERAL separator (quoted for the regex split, used
    verbatim for the rejoin)."""
    d = docs.select(
        "doc_id", F.split(F.col("text"), "\\Q" + sep + "\\E").alias("_lines")
    )
    uniq = _first_occurrence_fold(F.col("_lines"))
    d = d.select("doc_id", F.size("_lines").alias("n_lines"), uniq.alias("_uniq"))
    return d.select(
        "doc_id",
        "n_lines",
        F.size("_uniq").alias("n_uniq"),
        (F.col("n_lines") - F.size("_uniq")).alias("n_dropped"),
        F.array_join("_uniq", sep).alias("clean_text"),
    )


def dedup_cross_doc_lines(docs: DataFrame, min_df: int = 2,
                          sep: str = "\n") -> DataFrame:
    """CROSS-document boilerplate line removal (the CCNet shard-level
    paragraph dedup / C4 boilerplate scrub): a line appearing in
    ``min_df`` or more DISTINCT documents is boilerplate (cookie
    banners, nav bars, license footers) and is dropped from every
    document; document-unique lines keep their order.  Complements
    :func:`dedup_doc_lines` (intra-doc, per-row, no shuffle) — this one
    must see the corpus.

    Plan shape at 100 TB: lines ride the shuffles as md5 HASHES, never
    line text (the repo's portable-hash discipline — 16 bytes/line in
    flight); the document-frequency aggregate is a two-level partial
    hash agg over DISTINCT (hash, doc) pairs (dedup first, so a line
    repeated inside one doc counts once and the hot-line skew collapses
    map-side); the boilerplate set (lines with df >= min_df) is tiny
    relative to the corpus, so AQE broadcasts it back into the kept
    filter; reassembly is one groupBy(doc) of (pos, line) structs —
    per-doc sort, never a global one.  Zero python.

    Returns (doc_id, n_lines, n_kept, n_dropped, clean_text) — one row
    per input document (all-boilerplate docs come back with an empty
    clean_text, not dropped)."""
    lines = _line_rows(docs, sep, "doc_id")
    df_per_line = (
        lines.select("h", "doc_id").distinct()
        .groupBy("h").count()
        .where(F.col("count") >= min_df)
        .select("h")
    )
    return _scrub_lines(docs, lines, df_per_line, sep, "doc_id")


def _line_rows(docs: DataFrame, sep: str, *keys: str) -> DataFrame:
    """(*keys, i, line, h): one row per line occurrence, ``h`` its md5 —
    the line hash of :func:`dedup_cross_doc_lines` and of the streaming
    boilerplate scrub's persistent line-df registry."""
    return docs.select(
        *keys,
        F.posexplode(F.split(F.col("text"), "\\Q" + sep + "\\E")).alias("i", "line"),
    ).withColumn("h", F.md5("line"))


def _scrub_lines(docs: DataFrame, lines: DataFrame, boiler: DataFrame, sep: str,
                 key: str, *carry: str) -> DataFrame:
    """``docs`` rebuilt without every line of ``lines`` (its
    :func:`_line_rows`) whose hash is in ``boiler`` (an ``h`` column),
    surviving lines in order: (key, *carry, n_lines, n_kept, n_dropped,
    clean_text), one row per doc — an all-boilerplate doc comes back
    with an empty clean_text.  Any broadcast hint on ``boiler`` is the
    caller's."""
    kept = lines.join(boiler, "h", "left_anti")
    rebuilt = (
        kept.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("i", "line"))).alias("_k"))
        .select(
            key,
            F.size("_k").alias("n_kept"),
            F.array_join(F.transform("_k", lambda s: s["line"]), sep).alias("clean_text"),
        )
    )
    base = docs.select(
        key, *carry,
        F.size(F.split(F.col("text"), "\\Q" + sep + "\\E")).alias("n_lines"),
    )
    out = base.join(rebuilt, key, "left")
    return out.select(
        key, *carry,
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def dedup_lines_expr(text, sep: str = "\n"):
    """The line-scrub as a single Column expression (cleaned text) —
    for composing into other per-row pipelines (clean-ingest's scrub →
    line-scrub → quality chain) without a second projection."""
    lines = F.split(text, "\\Q" + sep + "\\E")
    return F.array_join(_first_occurrence_fold(lines), sep)


def _first_occurrence_fold(lines):
    """Order-preserving unique fold: append a line iff not yet seen —
    the accumulator IS the answer, so nothing references the outer
    array inside a lambda (the alias-substitution hazard)."""
    return F.aggregate(
        lines,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc)
                        .otherwise(F.concat(acc, F.array(x))),
    )


def decontaminate_fuzzy(corpus: DataFrame, bench: DataFrame,
                        k: int = 8, n: int = 3) -> DataFrame:
    """Fuzzy benchmark decontamination: flag corpus docs that are
    MinHash-LSH NEAR-duplicates of an evaluation doc — the paraphrase-
    robust complement to :func:`decontaminate`'s exact n-gram rule (a
    lightly reworded eval question shares almost no long n-grams but
    keeps a high shingle-set Jaccard, which min-hash banding catches;
    GPT-3's own dedup of benchmarks ran fuzzy, Brown et al. 2020
    appendix C).

    A corpus doc is flagged when any of its k 1-row MinHash bands
    (:func:`~yadex_spark.operators.dedup.minhash_bands`) equals
    the same band of any bench doc.  Output per flagged doc:
    (doc_id, n_bench_docs = distinct eval docs collided with,
    max_shared_bands = bands shared with the closest eval doc — a
    monotone proxy for the best Jaccard; k shared bands ~ exact dup).

    Scale shape: signatures are k BIGINT partial HashAggregates per
    side; the join is a (band, sig) equi-join whose right side is
    eval-set-sized (AQE broadcasts it from runtime stats), so the
    corpus never shuffles for the join — identical shape to the
    streaming band registry (`streaming/neardup_ingest.py`), applied
    batch-side between two tables."""
    from yadex_spark.operators.dedup import minhash_bands

    hits = minhash_bands(spread(corpus, "doc_id"), k, n).join(
        minhash_bands(bench, k, n).withColumnRenamed("doc_id", "bench_id"),
        ["band", "sig"],
    )
    per_pair = hits.groupBy("doc_id", "bench_id").agg(
        F.countDistinct("band").alias("n_shared")
    )
    return per_pair.groupBy("doc_id").agg(
        F.countDistinct("bench_id").alias("n_bench_docs"),
        F.max("n_shared").alias("max_shared_bands"),
    )


def filter_corpus(docs: DataFrame, min_words: int = 50,
                  max_words: int = 100_000, min_wlen_c: int = 300,
                  max_wlen_c: int = 1_000, min_stop: int = 2,
                  max_top_word_bp: int = 2_000,
                  max_dup_2gram_bp: int = 2_000,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """The composed quality-filter PASS — the Gopher rule set (Rae et
    al. 2021 Table A1 / RefinedWeb §3.1) as one per-doc keep/drop
    report: word-count window, mean-word-length window (centichars),
    minimum stopword hits, most-frequent-word mass cap, and
    duplicate-2-gram mass cap.  Every rule gets its own 0/1 flag column
    so a drop is always attributable (the "why did my doc disappear"
    question a monolithic boolean can't answer), and ``keep`` is their
    conjunction.  Emits ALL docs — the caller filters ``keep = 1`` for
    the cleaned corpus, or aggregates the flags for a filter-funnel
    report.

    Scale shape: every signal is a per-row HOF over the doc's own word
    array — NO shuffle at any scale, whole-stage codegen end-to-end;
    integer arithmetic (basis points / centichars) so the DuckDB oracle
    matches exactly.

    ``carry`` names extra input columns passed through unchanged (e.g.
    ``("text", "source")`` when a composed pipeline filters and keeps
    working on the surviving documents — no join-back needed)."""
    w = words_col(F.col("text"))
    d = docs.select("doc_id", *carry, w.alias("w"), F.length("text").alias("nc"))
    # sorted array in its OWN projection — see _top_word_count
    d = d.select("*", F.array_sort("w").alias("ws"))
    nw = F.size("w").cast("long")
    wlen_c = F.floor(F.lit(100) * F.col("nc") / nw)
    nstop = F.size(F.filter(F.col("w"), lambda x: x.isin(*STOPWORDS["en"]))).cast("long")
    top_n = _top_word_count(F.col("ws"))
    top_bp = F.floor(F.lit(10_000) * top_n / nw)
    g2 = shingles(F.col("w"), 2)
    n_2g = F.size(g2).cast("long")
    dup2_bp = F.when(
        n_2g > 0,
        F.floor(F.lit(10_000) * (n_2g - F.size(F.array_distinct(g2)).cast("long")) / n_2g),
    ).otherwise(F.lit(0)).cast("long")
    # signals land in their OWN projection; the flags below reference
    # them as plain columns.  Each flag's signal is referenced 3× (flag,
    # keep, output) — inlined, CollapseProject would clone the heavy
    # fold/shingle trees 3× each into one giant codegen unit (measured:
    # the whole-stage compile dominated the cold run).  Multiple uses of
    # a non-cheap projected expression block the collapse, so each
    # signal is evaluated and compiled exactly once.
    sig = d.select(
        "doc_id",
        *carry,
        nw.alias("n_words"),
        wlen_c.alias("avg_wlen_c"),
        nstop.alias("n_stop"),
        top_bp.alias("top_word_bp"),
        dup2_bp.alias("dup_2gram_bp"),
    )
    flags = {
        "f_len": (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words),
        "f_wlen": (F.col("avg_wlen_c") >= min_wlen_c)
        & (F.col("avg_wlen_c") <= max_wlen_c),
        "f_stop": F.col("n_stop") >= min_stop,
        "f_topw": F.col("top_word_bp") <= max_top_word_bp,
        "f_rep2g": F.col("dup_2gram_bp") <= max_dup_2gram_bp,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return sig.select(
        "*",
        *[F.when(c, 1).otherwise(0).cast("long").alias(n) for n, c in flags.items()],
        F.when(keep, 1).otherwise(0).cast("long").alias("keep"),
    )


def vocab_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus vocabulary report: the k most frequent words with their
    occurrence and document-frequency counts — the raw material for
    stopword lists, tokenizer-vocab audits, and df-cap tuning (the
    ``max_df`` guards in ngram_jaccard / decontaminate start from
    exactly this table).

    Scale shape: explode → ONE partial HashAggregate keyed by word
    (map-side combine collapses each partition to ≤|vocab| rows before
    the shuffle; doc-frequency runs as the standard two-phase distinct
    agg) and the top-k is ``ORDER BY ... LIMIT`` — Spark plans it as
    TakeOrderedAndProject, per-partition heaps + a k-row driver merge,
    never a global sort.  Boundary determinism: ties ordered by
    (n_occ DESC, word ASC), so the k-th row is unique and both engines
    cut identically.

    Output: (word, n_occ, n_docs), the top k."""
    w = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("word"))
    return (
        w.groupBy("word")
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occ"), F.asc("word"))
        .limit(k)
    )


def tfidf_keywords(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document keyword extraction: the k terms with the highest
    tf·idf-style score, where idf is the RATIONAL form ``N // df``
    (integer division) instead of ``ln(N/df)``.  The log variant would
    hinge hash-equality on libm-vs-DuckDB ``ln`` agreeing to the last
    ULP at rank boundaries; the rational form keeps the same
    rare-term-boosting monotonicity in df with exact bigint arithmetic
    (the repo's fixed-point discipline, same reason ``lm_bigram_score``
    trains in integers).

    Scale shape: explode → (doc, word) partial HashAggregate (tf);
    document frequency reuses that relation with a second word-keyed
    partial agg; the df join back is word-co-partitioned; the per-doc
    top-k window partitions by doc_id, whose group size is bounded by
    the document's own vocabulary — never a corpus-wide sort.  Ties:
    (score DESC, word ASC) makes the k-th row unique.

    Output: (doc_id, word, tf, df, score_fp) — score_fp = tf * (N // df).
    """
    w = docs.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    tf = w.groupBy("doc_id", "word").agg(F.count("*").cast("long").alias("tf"))
    df_tbl = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n")).collect()[0].n
    scored = tf.join(df_tbl, "word").withColumn(
        "score_fp",
        # exact bigint floor-div (SQL `div`), mirroring DuckDB's `//`
        F.expr(f"tf * (CAST({int(n_docs)} AS BIGINT) div df)").cast("long"),
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), F.asc("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= k)
        .select("doc_id", "word", "tf", "df", "score_fp")
    )


def length_quantiles(docs: DataFrame, group_col: str = "source",
                     value_col: str = "n_chars",
                     qs: tuple[int, ...] = (50, 90, 99)) -> DataFrame:
    """EXACT per-group quantiles of an integer-valued column via the
    bounded-domain histogram construction — the way exact quantiles
    stay computable at 100 TB.  Sorting raw rows per group is
    O(n log n) per group and unsortable at corpus scale;
    ``percentile_approx`` (t-digest/GK) is approximate AND
    engine-specific.  But when the value domain is bounded (document
    lengths, token counts), a (group, value)->count histogram is ONE
    partial HashAggregate, and the quantile is read off the running
    cumulative count: p_q = the smallest v whose cumulative count
    covers ceil(q·n/100) — compared as ``cum*100 >= q*total`` so
    everything stays exact bigint (no division, no floats).

    Scale shape: one partial agg over the corpus (map-side combine to
    <=|domain| rows per partition), then two windows per group over
    DISTINCT VALUES only — group size is the value domain's
    cardinality, not the row count.

    Output: one row per group with a ``p{q}`` bigint column per q."""
    c = docs.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).alias("v")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w_cum = (
        Window.partitionBy("grp").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = c.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("grp"))
    )
    return (
        r.groupBy("grp")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") * 100 >= F.lit(q) * F.col("total"),
                        F.col("v"),
                    )
                ).alias(f"p{q}")
                for q in qs
            ]
        )
        .withColumnRenamed("grp", group_col)
    )


#: PII patterns, applied IN ORDER (emails carry dots and digits, so
#: they must be redacted before the IP/phone rules see the text).
#: Restricted to constructs Java regex (Spark) and RE2 (DuckDB)
#: interpret identically: character classes, bounded/unbounded repeats —
#: no backrefs, lookarounds, or \b.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9]{7,15}", "<PHONE>"),
)


def scrub_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing pass: redact emails, IPv4 addresses, and
    international-format phone numbers with typed placeholder tokens,
    reporting per-doc redaction counts — the pre-training privacy
    filter every public-web corpus runs before anything else sees the
    text (the C4/RefinedWeb scrub step).

    Patterns apply sequentially, each counted against the text AS THE
    PREVIOUS RULES LEFT IT (an email's digit-dotted localpart must not
    double-count as an IP).  Output: (doc_id, n_email, n_ip, n_phone,
    clean_text).

    Scale shape: pure per-row regexp expressions — NO shuffle at any
    scale, whole-stage codegen end-to-end; count+replace per pattern is
    two passes over the row's own text."""
    counts, clean = scrub_exprs(F.col("text"))
    return docs.select("doc_id", *counts, clean.alias("clean_text"))


def scrub_exprs(text):
    """The sequential PII redaction as reusable column expressions:
    returns (per-pattern count columns aliased ``n_<name>``, the fully
    redacted text column).  Each pattern counts against the text AS THE
    PREVIOUS RULES LEFT IT — the :func:`scrub_pii` contract, shared by
    the streaming clean-ingest pre-pass."""
    cur = text
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("long").alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return counts, cur


def lm_bigram_score(docs: DataFrame, k_bigrams: int = 50_000) -> DataFrame:
    """Corpus-trained bigram language-model quality score — the
    KenLM-perplexity-filter shape (CCNet, Wenzek et al. 2020) with an
    integer-exact statistic: train corpus-wide bigram/unigram counts,
    keep the top-``k_bigrams`` bigrams (the pruned-LM vocabulary), and
    score every document by (a) what fraction of its 2-grams the model
    knows (``coverage_bp``) and (b) the mean conditional probability
    floor(10000 * c(w1 w2) / c(w1)) over its 2-grams (``avg_cond_bp``,
    unknown bigrams contribute 0).  Out-of-distribution documents —
    gibberish, wrong-language, boilerplate soups — score low on both.

    Integer basis points end-to-end, so a DuckDB oracle replays
    training AND scoring exactly; the unigram denominator is the plain
    corpus count of w1 (the standard approximation that skips
    end-of-doc discounting).

    Scale shape: training is two partial HashAggregates keyed by
    60-bit BIGINT hashes (map-side combine collapses each partition to
    ~|vocab| rows; raw n-gram strings never shuffle) + a
    TakeOrderedAndProject top-k with a deterministic (count DESC, hash
    ASC) boundary; the scoring join's model side is ≤ k_bigrams rows —
    AQE broadcasts it from its runtime size, so the corpus never
    shuffles for the join; the per-doc rollup is one partial agg keyed
    by doc_id.  The corpus is ``spread`` before the CPU-heavy per-word
    md5 stages (the AQE tiny-by-bytes coalescing guard)."""
    w = words_col(F.col("text"))
    g2 = shingles(w, 2)
    # ONE corpus pass for training AND scoring: per doc, every word
    # occurrence (t=0: unigram hash) and every 2-gram occurrence (t=1:
    # gram hash + first-word hash) in one exploded feature frame, hashed
    # inside the explode so raw strings never leave the row.  A doc with
    # no 2-grams emits one (t=1, h=null) marker — exactly the null row
    # the old explode_outer produced, so 0-bigram docs still score
    # (0 coverage / 0 hits).  The frame is stage-barriered: the old
    # shape ran THREE separate corpus scans (each with its own full-text
    # spread shuffle) for unigram counts, bigram counts, and scoring.
    hb = kmv_hash
    uni_structs = F.transform(
        w, lambda x: F.struct(
            F.lit(0).alias("t"), hb(x).alias("h"),
            F.lit(None).cast("long").alias("h1"),
        )
    )
    big_structs = F.transform(
        g2, lambda g: F.struct(
            F.lit(1).alias("t"), hb(g).alias("h"),
            hb(F.split(g, " ")[0]).alias("h1"),
        )
    )
    no_bigram_marker = F.array(
        F.struct(
            F.lit(1).alias("t"), F.lit(None).cast("long").alias("h"),
            F.lit(None).cast("long").alias("h1"),
        )
    )
    feats = (
        spread(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.coalesce(  # a NULL text still scores as a 0-bigram doc
                    F.concat(
                        uni_structs,
                        F.when(F.size(g2) > 0, big_structs).otherwise(no_bigram_marker),
                    ),
                    no_bigram_marker,
                )
            ).alias("f"),
        )
        .select("doc_id", "f.t", "f.h", "f.h1")
        .localCheckpoint(eager=False)
    )
    # training: corpus unigram counts ...
    uni = (
        feats.where(F.col("t") == 0)
        .groupBy(F.col("h").alias("h1"))
        .agg(F.count("*").alias("c1"))
    )
    # ... and top-k bigram counts, keyed by (gram hash, first-word hash)
    big = (
        feats.where((F.col("t") == 1) & F.col("h").isNotNull())
        .groupBy(F.col("h").alias("h2"), "h1")
        .agg(F.count("*").alias("c2"))
    )
    top = big.orderBy(F.desc("c2"), F.asc("h2"), F.asc("h1")).limit(k_bigrams)
    model = (
        top.join(uni, "h1")
        .select("h2", F.floor(F.lit(10_000) * F.col("c2") / F.col("c1")).alias("cond_bp"))
        .groupBy("h2")
        .agg(F.max("cond_bp").alias("cond_bp"))  # unique h2 under collisions
    )
    # scoring over the same feature frame; the model is <= k_bigrams
    # rows BY CONSTRUCTION (the limit), so the broadcast hint is safe
    # at any corpus size — the corpus never shuffles for this join
    doc_g = feats.where(F.col("t") == 1).select("doc_id", F.col("h").alias("h2"))
    per_doc = doc_g.join(F.broadcast(model), "h2", "left").groupBy("doc_id").agg(
        F.count("h2").alias("n_bigrams"),
        F.count("cond_bp").alias("n_hits"),
        F.coalesce(F.sum("cond_bp"), F.lit(0)).alias("sum_cond"),
    )
    nb = F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_hits",
        F.when(nb > 0, F.floor(F.lit(10_000) * F.col("n_hits") / nb))
        .otherwise(F.lit(0)).cast("long").alias("coverage_bp"),
        F.when(nb > 0, F.floor(F.col("sum_cond") / nb))
        .otherwise(F.lit(0)).cast("long").alias("avg_cond_bp"),
    )


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus composition report — the "what do I have per
    domain" question every mixing/sampling decision starts from: doc
    and token totals plus an integer word-length histogram (bands
    <16 / <64 / <256 / >=256 words).  All integer aggregates (floor
    token estimate, banded counts), so an engine-portable oracle
    matches exactly — no percentile-semantics divergence.

    Scale shape: one partial HashAggregate keyed by source (map-side
    combine reduces every partition to one row per source); per-row
    lengths never shuffle."""
    from yadex_spark.operators.packing import token_estimate

    nw = F.size(words_col(F.col("text"))).cast("long")
    band = (
        F.when(nw < 16, "lt16")
        .when(nw < 64, "lt64")
        .when(nw < 256, "lt256")
        .otherwise("ge256")
    )
    return (
        docs.select(
            "source",
            nw.alias("nw"),
            F.length("text").cast("long").alias("nc"),
            token_estimate(F.col("text")).alias("tok"),
            band.alias("band"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("n_tokens_est"),
            F.sum("nc").alias("n_chars"),
            F.sum("nw").alias("n_words"),
            F.sum(F.when(F.col("band") == "lt16", 1).otherwise(0)).alias("n_lt16w"),
            F.sum(F.when(F.col("band") == "lt64", 1).otherwise(0)).alias("n_lt64w"),
            F.sum(F.when(F.col("band") == "lt256", 1).otherwise(0)).alias("n_lt256w"),
            F.sum(F.when(F.col("band") == "ge256", 1).otherwise(0)).alias("n_ge256w"),
        )
    )


def dsir_features(df: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, b): one row per word unigram/bigram OCCURRENCE, hashed
    into ``n_buckets`` buckets (60-bit house hash mod B — nonnegative,
    so plain % is engine-portable).  The shared feature extractor of
    batch ``dsir_weights`` and the streaming model maintainer."""
    w = words_col(F.col("text"))
    both = F.concat(w, shingles(w, 2))
    return (
        spread(df.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode_outer(both).alias("g"))
        .select("doc_id", (kmv_hash("g") % n_buckets).alias("b"))
    )


def dsir_weights(corpus: DataFrame, target: DataFrame,
                 n_buckets: int = 1024, salt: str = "dsir",
                 raw_counts: DataFrame | None = None) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169):
    score every raw-corpus document by how target-like its hashed
    n-gram feature distribution is, with a deterministic resample flag.

    The paper's recipe, integer-exact so a SQL oracle replays it:

    - features are word unigrams + bigrams hashed into ``n_buckets``
      buckets (the 60-bit house hash mod B — nonnegative, so plain %
      is portable);
    - two bag-of-words models: per-bucket occurrence counts over the
      TARGET set (c_t, total N_t) and over the RAW corpus (c_r, N_r),
      add-one smoothed;
    - per-bucket importance ratio in basis points, exact integral
      arithmetic (Python bigints — arbitrary precision, the same
      floor-div DuckDB computes with HUGEINT ``//``):
      w(b) = (10000 * (c_t+1) * (N_r+B)) // ((c_r+1) * (N_t+B)).
      The bucket model is <= B rows — MODEL-sized, never corpus-sized
      — so it is collected to the driver and the ratios are computed
      there (the k-means-centroid pattern, ``similarity.py:316``); the
      resulting weight table ships back as <= B DECIMAL(38,0)
      literals.  This replaces a previous window-over-spine +
      DECIMAL(38,0) expression-tree formulation whose whole-stage
      codegen COMPILE cost dominated cold runs (measured 14.4 s cold
      vs 2.07 s warm for the same plan);
    - per-doc weight = (sum of w over the doc's feature OCCURRENCES)
      div n_feats — the mean likelihood ratio (the paper sums log
      ratios; the bp-ratio mean is the integer-portable analogue,
      monotone in the same direction for the filtering decision);
    - deterministic resample: keep iff
      hash60(salt|doc_id) % 10000 < min(weight_bp, 10000) — keep
      probability proportional to the truncated weight, stable under
      corpus growth (content-keyed like train_val_split), no RNG state.

    Scale shape: both models are partial HashAggregates over BIGINT
    buckets (map-side combine -> <= B rows each; raw grams never
    shuffle); the weight table is <= B driver-computed literal rows
    broadcast against the corpus feature stream, so the corpus
    shuffles only for the per-doc rollup (one partial agg keyed by
    doc_id).  The corpus is ``spread`` before the CPU-heavy per-gram
    md5 stages.  ``n_buckets`` is capped at 2**20 (the driver collect
    and the broadcast are both O(n_buckets) — the hash-bucket model
    loses nothing past ~1M buckets, and an uncapped value would turn
    the broadcast hint into an OOM-by-construction).

    ``raw_counts``: optional precomputed raw-corpus bucket model —
    (b, c_r) rows, as maintained incrementally by
    ``streaming/fold_ingest.py`` — used instead of a fresh corpus
    model pass (2 corpus scans instead of 3).  Caller's contract:
    the counts cover exactly ``corpus``.

    Output: (doc_id, n_feats, weight_bp, keep) for every corpus doc.
    """
    B = n_buckets
    if B > 1 << 20:
        raise ValueError(f"n_buckets={B} exceeds the 2**20 model-size cap")

    # stage barrier: the corpus feature stream otherwise computes TWICE
    # (raw-corpus bucket model + per-doc scoring) — each a full corpus
    # scan with the per-gram md5 work (guide §2.4 / the prepare_corpus
    # fan-out lesson).  Skipped when the raw model is caller-supplied:
    # scoring is then the only consumer.
    corpus_feats = dsir_features(corpus, B)
    if raw_counts is None:
        corpus_feats = corpus_feats.localCheckpoint(eager=False)
    # Both models are <= B rows — collect them and build the dense
    # weight table 0..B-1 on the driver with exact Python-int floor
    # division (== DuckDB HUGEINT // == the old DECIMAL(38,0) div).
    # Every possible bucket gets a row, so the scoring join can never
    # miss (a caller-supplied raw_counts that lacks a bucket gets the
    # exact c_r=0 smoothed default instead of a NULL that would
    # silently deflate the doc weight).
    from decimal import Decimal
    from pyspark.sql.types import DecimalType, LongType, StructField, StructType

    tb = dsir_features(target, B).where(F.col("b").isNotNull()) \
        .select("b", F.lit(0).alias("_s"))
    if raw_counts is None:
        # BOTH bucket models in one union + hash agg + ONE model-sized
        # collect (two separate collect jobs before; each was a full
        # feature pass + its own cold codegen unit)
        both = tb.unionByName(
            corpus_feats.where(F.col("b").isNotNull())
            .select("b", F.lit(1).alias("_s"))
        )
        counts = both.groupBy("_s", "b").agg(F.count("*").alias("c")).collect()
        ct = {r["b"]: r["c"] for r in counts if r["_s"] == 0}
        cr = {r["b"]: r["c"] for r in counts if r["_s"] == 1}
    else:
        ct = {
            r["b"]: r["c"]
            for r in tb.groupBy("_s", "b").agg(F.count("*").alias("c")).collect()
        }
        cr = {r["b"]: int(r["c_r"]) for r in raw_counts.select("b", "c_r").collect()}
    n_t, n_r = sum(ct.values()), sum(cr.values())
    rows = [
        (
            b,
            Decimal(
                (10_000 * (ct.get(b, 0) + 1) * (n_r + B))
                // ((cr.get(b, 0) + 1) * (n_t + B))
            ),
        )
        for b in range(B)
    ]
    wt = corpus.sparkSession.createDataFrame(
        rows,
        StructType([
            StructField("b", LongType(), False),
            # DECIMAL(38,0) so the per-doc sum cannot overflow int64
            # even for degenerate c_r=0 / huge-N_r buckets
            StructField("w", DecimalType(38, 0), False),
        ]),
    )
    per_doc = (
        corpus_feats.join(F.broadcast(wt), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count("b").alias("n_feats"),
            F.coalesce(F.sum("w"), F.lit(0)).alias("sum_w"),
        )
    )
    nf = F.col("n_feats")
    weight = F.when(nf > 0, F.expr("sum_w div n_feats")).otherwise(F.lit(0))
    return per_doc.select(
        "doc_id",
        "n_feats",
        weight.cast("long").alias("weight_bp"),
        (
            kmv_hash(F.concat(F.lit(salt + "|"), F.col("doc_id").cast("string")))
            % 10_000
            < F.least(weight, F.lit(10_000))
        ).cast("int").alias("keep"),
    )


def wordpiece_tokenize(docs: DataFrame, vocab: list[str],
                       keep_boundaries: bool = False) -> DataFrame:
    """Greedy longest-match subword tokenization — the WordPiece
    inference rule (Wu et al. 2016; the continuation-marker variant
    differs only in the vocab's spelling) — turning text into the
    (doc_id, tokens array<int>) shape the token-domain suite consumes
    (:func:`packing.apply_span_mask`, pack/chunk, the CDC lake's
    north-rule schema).

    This is the suite's one deliberate Arrow-UDF text operator: greedy
    per-position longest-match is a sequential recurrence that Spark
    built-ins cannot express, and production tokenizers are native
    libraries behind exactly this batch interface — so the Python
    surface is architecturally right here, not a compromise.  The
    vocab rides the closure (model-sized, broadcast with the task),
    and a per-batch word→ids memo exploits natural-language repetition
    (each distinct word tokenizes once per Arrow batch).

    Rule: at each position take the LONGEST vocab entry matching at
    that offset; if none matches, emit id 0 ([UNK]) and advance one
    character.  Ids are 1-based positions in ``vocab``.  The DuckDB
    oracle replays the recurrence exactly as a recursive CTE with a
    longest-first LATERAL vocab probe.

    ``keep_boundaries=True`` additionally emits a reserved boundary id
    (``len(vocab)+1``) between words, making the id stream invertible:
    :func:`wordpiece_detokenize` then reconstructs the text exactly
    (in-vocab characters) — the audit round-trip a production pipeline
    runs to prove its tokenization lossless.  Default off: the packed
    training shape has no use for boundary ids.

    Output: (doc_id, n_tok, tokens array<int>)."""
    from collections.abc import Iterator

    import pandas as pd

    vmap = {t: i + 1 for i, t in enumerate(vocab)}
    max_len = max(len(t) for t in vocab)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[int]] = {}

        def word_ids(word: str) -> list[int]:
            got = memo.get(word)
            if got is None:
                got, pos = [], 0
                while pos < len(word):
                    for ln in range(min(max_len, len(word) - pos), 0, -1):
                        tid = vmap.get(word[pos:pos + ln])
                        if tid is not None:
                            got.append(tid)
                            pos += ln
                            break
                    else:
                        got.append(0)  # [UNK]
                        pos += 1
                memo[word] = got
            return got

        space_id = len(vmap) + 1
        for pdf in batches:
            if keep_boundaries:
                toks = []
                for text in pdf["text"]:
                    out: list[int] = []
                    for wi, w in enumerate(text.split(" ")):
                        if wi:
                            out.append(space_id)
                        out.extend(word_ids(w))
                    toks.append(out)
            else:
                toks = [
                    [t for w in text.split(" ") for t in word_ids(w)]
                    for text in pdf["text"]
                ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_tok": pd.Series([len(t) for t in toks], dtype="int32"),
                "tokens": toks,
            })

    return docs.select("doc_id", "text").mapInPandas(
        run, "doc_id long, n_tok int, tokens array<int>"
    )


#: character emitted for [UNK] ids on detokenization (U+FFFD); an UNK
#: step consumed exactly one source character, so the reconstruction
#: stays length-aligned with the original word
UNK_CHAR = "\ufffd"


def wordpiece_detokenize(toks: DataFrame, vocab: list[str]) -> DataFrame:
    """Token ids -> text: the exact inverse of
    :func:`wordpiece_tokenize` with ``keep_boundaries=True`` on text
    whose every character is in-vocab (the round-trip law, test-pinned
    including the trained-vocab chain bpe_train -> bpe_vocab ->
    tokenize -> detokenize == identity).  [UNK] ids map to
    :data:`UNK_CHAR` — UNK consumed one character, so alignment holds.

    Zero UDF: id -> piece is ``element_at`` against the vocab as an
    array literal (a model artifact riding the plan, the same pattern
    as the k-means centroids / DSIR weight table), folded with
    ``concat_ws`` over a ``transform`` — pure per-row HOFs, no
    shuffle, no Python.  The literal bounds the vocab like the DSIR
    broadcast cap: >2^16 pieces raises (ship the vocab as a broadcast
    join table at that size instead)."""
    if len(vocab) > (1 << 16):
        raise ValueError(
            f"vocab of {len(vocab)} pieces exceeds the array-literal "
            "ceiling (2^16); use a broadcast vocab join for huge vocabs"
        )
    space_id = len(vocab) + 1
    arr = F.array(*[F.lit(v) for v in vocab])
    piece = lambda t: (
        F.when(t == F.lit(space_id), F.lit(" "))
        .when(t == F.lit(0), F.lit(UNK_CHAR))
        .otherwise(F.element_at(arr, t))
    )
    return toks.select(
        "doc_id",
        F.concat_ws("", F.transform(F.col("tokens"), piece)).alias("text"),
    )
