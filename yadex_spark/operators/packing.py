"""Corpus assembly operators: sequence packing + deterministic splits.

The last mile of a training-data pipeline: documents become fixed-size
context windows ("bins") for the trainer, and the corpus is split
train/val by a content-stable hash.  Both are pure Spark SQL
expressions with exact DuckDB oracles.

Scale shape (100 TB): packing needs a running total, and a single
global ``ORDER BY`` window is a one-partition bottleneck — so the
corpus is SHARDED by a hash of doc_id and packed independently within
each shard, exactly how a multi-worker writer packs in production
(each worker owns a shard; bins never span shards).  The window then
runs per shard — parallel, skew-free (hash shards are uniform).  The
reference has no analogue (yadex moves documents, it never assembles
corpora); these are target-added operators in the spirit of
SURVEY.md's training-data suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _shard(doc_id, n_shards: int):
    """Deterministic, engine-portable shard id: first 4 hex chars of
    md5(string(doc_id)) mod n_shards (DuckDB mirrors it exactly;
    xxhash64 would be Spark-only; the string cast keys the hash on the
    id's canonical text form whatever its storage type)."""
    h = F.md5(doc_id.cast("string"))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % n_shards)


def token_estimate(text):
    """chars/4 token estimate (the text.token_count ``n_tok_est``
    convention) — cheap, deterministic, engine-portable."""
    return F.floor((F.length(text) + 3) / 4).cast("long")


def _salted_shard(doc_id, salt: str, n_shards: int):
    """(h, shard): salted content hash and its shard id — the one
    canonical form of the engine-portability-critical shard rule
    (md5(salt|id), first 4 hex chars mod n_shards), shared by
    shuffle_corpus and cap_per_source and mirrored verbatim by their
    SQL oracles."""
    h = F.md5(F.concat(F.lit(salt + "|"), doc_id.cast("string")))
    return h, (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % n_shards)


def pack_sequences(docs: DataFrame, budget: int = 2048,
                   n_shards: int | None = None) -> DataFrame:
    """Assign each document to a fixed-token-budget training bin.

    Sequential packing in deterministic (shard, doc_id) order: a doc
    goes to the bin in which its first token falls, i.e.
    ``bin = floor(cumsum_before / budget)`` where ``cumsum_before`` is
    the running token total of all earlier docs in the shard.  Docs may
    straddle a bin boundary (the trainer's writer splits them); the
    assignment is exact, order-stable, and a pure window expression —
    no driver loop, no UDF.

    ``n_shards`` defaults to the cluster's ``defaultParallelism`` so the
    per-shard window stage scales with the cluster (a fixed default
    would cap the sort at that many partitions regardless of cluster
    size — at 100 TB a 16-shard default means ~6 TB per shard sort).
    Callers needing a reproducible assignment across cluster sizes (the
    correctness gate, cross-engine oracles) pin it explicitly: the
    shard hash is deterministic, so any fixed n_shards is
    engine-portable.

    Output: (doc_id, shard, n_tok, bin, bin_offset) where bin_offset is
    the doc's start position inside its bin.
    """
    if n_shards is None:
        n_shards = docs.sparkSession.sparkContext.defaultParallelism
    n_tok = token_estimate(F.col("text"))
    d = docs.select("doc_id", _shard(F.col("doc_id"), n_shards).alias("shard"),
                    n_tok.alias("n_tok"))
    w = Window.partitionBy("shard").orderBy("doc_id")
    before = F.coalesce(
        F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return d.select(
        "doc_id",
        "shard",
        "n_tok",
        F.floor(before / budget).cast("long").alias("bin"),
        (before % budget).cast("long").alias("bin_offset"),
    )


def train_val_split(docs: DataFrame, val_pct: int = 10) -> DataFrame:
    """Deterministic content-stable split: md5(doc_id) mod 100 <
    val_pct -> 'val', else 'train'.  Hash-of-key (not random) so the
    split survives re-runs, re-partitioning, and incremental ingest —
    a doc never migrates between train and val as the corpus grows.

    Output: (doc_id, bucket, split)."""
    return docs.select("doc_id", *_split_cols(F.col("doc_id"), val_pct))


def _split_cols(key, val_pct: int) -> list:
    """[bucket, split]: md5(string(key)) prefix mod 100, and 'val' when
    the bucket is under ``val_pct`` — the one split rule of
    :func:`train_val_split` and :func:`leakage_safe_split`."""
    bucket = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return [
        bucket.alias("bucket"),
        F.when(bucket < val_pct, "val").otherwise("train").alias("split"),
    ]


def leakage_safe_split(docs: DataFrame, pairs: DataFrame,
                       val_pct: int = 10) -> DataFrame:
    """Train/val split that near-duplicates cannot straddle.

    ``train_val_split`` hashes each doc's OWN id, so two near-duplicate
    documents draw independent sides — ~val_pct% of every dup cluster
    leaks from train into the held-out set (the dev-set contamination
    failure Lee et al. 2022 §6.2 measure on C4/RealNews: validation
    perplexity is silently optimistic on leaked members).  Fix: hash
    the near-dup CLUSTER representative instead — ``dedup_clusters``'
    canonical min-id — so a whole cluster moves as one unit and the
    val set is duplicate-disjoint from train BY CONSTRUCTION, not by
    post-hoc decontamination.

    Scale shape (100 TB): ``dedup_clusters`` is the existing
    pointer-jumping CC, bounded by the PAIR graph (a small fraction of
    the corpus); the label join-back is one key-co-partitioned LEFT
    join that AQE broadcasts when the pair graph is small (the common
    case); the split itself is a per-row hash projection, zero
    shuffle.  Docs in no pair key on their own id, so on a pair-free
    corpus the assignment degrades EXACTLY to ``train_val_split``
    (test-pinned, same md5-prefix bucket rule).

    Contract caveat: the key is only as stable as cluster membership —
    a later "bridge" doc that merges two clusters re-keys the merged
    cluster to the smaller min-id, which may migrate that cluster's
    side wholesale.  That is the right trade-off: a membership change
    is exactly the moment a cross-split leak would otherwise appear,
    and the alternative (freeze old keys) reintroduces it.

    Output: (doc_id, split_key, bucket, split)."""
    from yadex_spark.operators.dedup import dedup_clusters

    comp = dedup_clusters(pairs)
    keyed = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("split_key"),
        )
    )
    return keyed.select("doc_id", "split_key", *_split_cols(F.col("split_key"), val_pct))


def mix_rates(docs: DataFrame, target_bp: dict[str, int]) -> DataFrame:
    """Per-source sampling rates that hit a target domain mixture —
    the "40% web, 30% books, ..." step (the LLaMA/Pile mixture-weights
    table) solved as waterfilling: find the LARGEST output corpus whose
    token composition matches ``target_bp`` (shares in basis points)
    using downsampling only.  The binding source (smallest
    tokens/share) keeps ~100%; every other source's rate is scaled to
    match its share against that bound; sources absent from
    ``target_bp`` get rate 0.

    All integer arithmetic (``div``): K = min over targeted sources of
    (10000*T_s) div w_s is the achievable output size in tokens, and
    rate_bp_s = (w_s*K) div T_s.  Exact cross-engine; int64 headroom
    requires w_s*K < 2^63, i.e. binding-source token counts below
    ~10^12 even under extreme share ratios (document-scale corpora;
    beyond that, pre-scale T to kilotokens).

    Scale shape: ONE partial hash agg keyed by source, then a global
    min window over the per-SOURCE aggregate — a frame of #sources
    rows, not corpus rows, so the single-partition window is a few
    thousand rows at worst.

    Output: (source, n_tokens, share_target_bp, rate_bp)."""
    return _mix_rates(docs, target_bp, upsample=False)


def mix_rates_upsampled(docs: DataFrame, target_bp: dict[str, int]) -> DataFrame:
    """:func:`mix_rates` with UPSAMPLING: rates in basis points may
    exceed 10000 (``rate_bp div 10000`` = whole epochs of a source).

    ``mix_rates`` finds the largest mixture achievable by dropping data
    — right when every source is abundant.  Real LLM mixtures also
    repeat scarce high-value sources for multiple epochs (the LLaMA /
    Gopher tables run Wikipedia and books at >1 epoch while web runs
    <1): here K is the SMALLEST output whose share-weighted demand
    keeps the most-abundant-relative-to-its-share source at exactly one
    epoch — ``K = max_s (10000*T_s) div w_s`` — so that source's rate
    is ~10000 and every other targeted source upsamples above it.
    Same exact integer arithmetic and scale shape (one partial agg +
    a #sources-row window) as :func:`mix_rates`; int64 headroom bounds
    as there.

    Output: (source, n_tokens, share_target_bp, rate_bp)."""
    return _mix_rates(docs, target_bp, upsample=True)


def _mix_rates(docs: DataFrame, target_bp: dict[str, int], upsample: bool) -> DataFrame:
    """The one waterfilling solve of :func:`mix_rates` (K = the MIN over
    targeted sources of (10000*T_s) div w_s, rates capped at 10000) and
    :func:`mix_rates_upsampled` (K = the MAX, rates uncapped)."""
    share = F.create_map(*[F.lit(x) for kv in target_bp.items() for x in kv])
    stats = (
        docs.select("source", token_estimate(F.col("text")).alias("tok"))
        .groupBy("source")
        .agg(F.sum("tok").alias("n_tokens"))
        .withColumn(
            "share_target_bp",
            F.coalesce(share[F.col("source")], F.lit(0)).cast("long"),
        )
        .withColumn(
            "_kcand",
            F.expr("CASE WHEN share_target_bp > 0 "
                   "THEN (10000 * n_tokens) div share_target_bp END"),
        )
        .withColumn("_k", (F.max if upsample else F.min)("_kcand").over(Window.partitionBy()))
    )
    rate = "(share_target_bp * _k) div n_tokens"
    if not upsample:
        rate = f"least(10000, {rate})"
    return stats.select(
        "source", "n_tokens", "share_target_bp",
        F.expr("CAST(CASE WHEN share_target_bp > 0 "
               f"THEN {rate} "
               "ELSE 0 END AS BIGINT)").alias("rate_bp"),
    )


def mix_corpus(docs: DataFrame, target_bp: dict[str, int]) -> DataFrame:
    """Apply :func:`mix_rates` — downsample each source by its computed
    rate via the salted content-stable hash bucket (``'mix|'`` salt, so
    mixing is independent of the sampling and split buckets).  The rate
    is a TOKEN-share target applied as a doc-level keep/drop; doc sizes
    are independent of the hash, so the kept token composition
    converges to the target at corpus scale.

    Scale shape: the rates side is #sources rows — AQE broadcasts it
    from its runtime size, the corpus never shuffles for the join; the
    corpus is scanned twice (once for the stats agg — a single narrow
    column — once for the filter); long-lived pipelines precompute
    rates with :func:`mix_rates` and reuse them across epochs.

    Output: kept rows only — (doc_id, source, bucket, rate_bp)."""
    return (
        _mix_buckets(docs, mix_rates(docs, target_bp))
        .where(F.col("bucket") < F.col("rate_bp"))
        .select("doc_id", "source", "bucket", "rate_bp")
    )


def mix_corpus_epochs(docs: DataFrame, target_bp: dict[str, int]) -> DataFrame:
    """Apply :func:`mix_rates_upsampled` — emit each kept doc once PER
    EPOCH: ``rate_bp div 10000`` whole copies, plus one more when the
    doc's content-stable mix bucket falls under ``rate_bp mod 10000``
    (the fractional epoch — the same bucket rule :func:`mix_corpus`
    uses, so on a single-source target, where both solve to rate
    10000, this degrades to exactly its row set with ``epoch = 0``,
    test-pinned).  Downstream shuffles key
    on (doc_id, epoch); a per-epoch transform seed (span corruption,
    shuffle salt) keeps repeated copies from being byte-identical.

    Scale shape: rates are #sources rows (AQE broadcast); the copy
    fan-out is a per-row ``explode`` over a ≤⌈rate/10000⌉-element
    sequence — no shuffle, expansion bounded by the largest upsample
    factor.  Output: (doc_id, epoch, source, bucket, rate_bp)."""
    n_copies = (
        F.expr("rate_bp div 10000")
        + F.when(F.col("bucket") < F.col("rate_bp") % 10_000, 1).otherwise(0)
    )
    return (
        _mix_buckets(docs, mix_rates_upsampled(docs, target_bp))
        .withColumn(
            "epoch",
            F.explode(
                # sequence(0, -1) would DESCEND in Spark — guard empties
                F.when(n_copies > 0, F.sequence(F.lit(0), (n_copies - 1).cast("int")))
                .otherwise(F.array().cast("array<int>"))
            ),
        )
        .select("doc_id", "epoch", "source", "bucket", "rate_bp")
    )


def _mix_buckets(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """(source, doc_id, bucket, rate_bp): each doc's content-stable
    ``'mix|'``-salted bucket in [0, 10000) joined to its source's rate
    — the keep/copy key of :func:`mix_corpus` and
    :func:`mix_corpus_epochs`."""
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 10_000
    )
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .join(rates.select("source", "rate_bp"), "source")
    )


def chunk_sequences(docs: DataFrame, window: int = 128,
                    stride: int = 96) -> DataFrame:
    """Split each document into fixed-size context windows with overlap
    — the "tokenize then slide a window" step that turns variable-length
    documents into trainer-ready sequences (the HF ``return_overflowing_
    tokens`` / Megatron sample-builder shape).

    Chunks start at multiples of ``stride``; the last start is the
    smallest multiple whose window reaches the end of the doc, so every
    token is covered, all chunks but the last are exactly ``window``
    tokens, and consecutive chunks overlap by ``window - stride`` tokens
    (context carry-over).  Requires ``stride <= window`` (a larger
    stride would leave uncovered gaps).

    Scale shape: pure per-row arithmetic + one ``explode`` — NO shuffle
    at any scale; row expansion is bounded by ``n_tok/stride`` per doc.
    Deterministic integer math end-to-end, so the DuckDB oracle matches
    exactly.

    Output: (doc_id, chunk_idx, tok_start, tok_len, n_tok)."""
    if not 0 < stride <= window:
        raise ValueError("need 0 < stride <= window")
    d = docs.select(
        "doc_id", token_estimate(F.col("text")).alias("n_tok")
    ).where(F.col("n_tok") > 0)
    # 1 + ceil(max(n_tok - window, 0) / stride), in integer arithmetic
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(F.col("n_tok") - window, F.lit(0)) + (stride - 1)) / stride
    ).cast("long")
    e = d.select(
        "doc_id", "n_tok",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    tok_start = (F.col("chunk_idx") * stride).cast("long")
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        tok_start.alias("tok_start"),
        F.least(F.lit(window).cast("long"), F.col("n_tok") - tok_start).alias("tok_len"),
        "n_tok",
    )


def shuffle_corpus(docs: DataFrame, salt: str = "shuf",
                   n_shards: int | None = None,
                   carry: tuple[str, ...] = ()) -> DataFrame:
    """Deterministic global training-order shuffle — assign every doc a
    unique position in a pseudorandom read order without a single-
    partition bottleneck.

    A true global ``row_number() OVER (ORDER BY hash)`` funnels the
    whole corpus through ONE partition's window sort.  Instead the
    standard distributed-shuffle construction: shard by a salted
    content hash, rank WITHIN each shard by the hash (parallel,
    skew-free windows — md5 shards are uniform), and interleave ranks
    round-robin: ``pos = shard_rank * n_shards + shard``.  Positions
    are unique by construction (pos mod n_shards == shard) and the
    reader consuming in pos order sees a round-robin interleave of
    hash-shuffled shard streams — the mixing a trainer needs, with no
    global sort.  Salted hash (not RNG) so the order is reproducible
    across runs and engines; changing ``salt`` gives an independent
    epoch order.

    ``n_shards`` defaults to ``defaultParallelism`` (scales with the
    cluster); the gate pins it for oracle stability.  ``carry`` names
    extra input columns passed through unchanged (a composed pipeline
    shuffles its final corpus without a join-back).

    Output: (doc_id, shard, shard_rank, pos, *carry)."""
    if n_shards is None:
        n_shards = docs.sparkSession.sparkContext.defaultParallelism
    h, shard = _salted_shard(F.col("doc_id"), salt, n_shards)
    d = docs.select("doc_id", *carry, h.alias("h"), shard.alias("shard"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    r = (F.row_number().over(w) - 1).cast("long")
    return d.select(
        "doc_id", "shard", r.alias("shard_rank"),
        (r * n_shards + F.col("shard")).cast("long").alias("pos"),
        *carry,
    )


def sample_by_source(docs: DataFrame, rates_bp: dict[str, int],
                     default_bp: int = 0) -> DataFrame:
    """Deterministic stratified (per-source) downsampling: keep a doc
    iff a content-stable hash bucket falls under its source's rate (in
    basis points of 10,000) — the domain-mixing step of a training-data
    pipeline (e.g. upweight curated sources, downweight crawl).

    Hash-of-key, not random: a doc's keep/drop decision never changes
    across re-runs, re-partitioning, or incremental ingest, and the
    hash domain is salted ('smpl|') so sampling is independent of the
    train/val split buckets.  Pure per-row filter — no shuffle, no RNG
    state, trivially correct at any scale.

    Output: kept rows only — (doc_id, source, bucket, rate_bp)."""
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("smpl|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 10_000
    )
    rate_map = F.create_map(*[F.lit(x) for kv in rates_bp.items() for x in kv])
    rate = F.coalesce(rate_map[F.col("source")], F.lit(default_bp)).cast("long")
    return (
        docs.select(
            "doc_id", "source", bucket.alias("bucket"), rate.alias("rate_bp")
        )
        .where(F.col("bucket") < F.col("rate_bp"))
    )


def cap_per_source(docs: DataFrame, cap: int, salt: str = "cap",
                   n_shards: int | None = None) -> DataFrame:
    """Exact per-source document cap — no source may contribute more
    than ``cap`` docs (the per-domain cap of C4/Gopher-style pipelines,
    bounding any single domain's share of the corpus) — without a
    per-source global window.

    A naive ``row_number() OVER (PARTITION BY source ORDER BY hash)``
    funnels each source through ONE partition's sort; with a handful
    of giant sources (the 100 TB reality: one crawl domain can be a
    third of the corpus) that is the skewed-window bottleneck.  The
    sharded construction from :func:`shuffle_corpus` instead:

    - shard each doc by a salted content hash (uniform, so per-shard
      skew is bounded by n_shards regardless of source skew);
    - rank within (source, shard) — parallel windows;
    - per-(source, shard) counts roll into running offsets via a
      window over COUNT rows (n_shards rows per source, parallel
      across sources, never corpus rows);
    - global per-source rank = shard offset + shard rank, which equals
      row_number ordered by (shard, hash, doc_id) — so a SQL oracle
      reproduces the exact surviving set with one plain window.

    Selection is content-stable (salted hash, no RNG) — the same docs
    survive under any partitioning or ingest order — but it DOES
    depend on ``n_shards`` (the rank order is (shard, hash, doc_id)),
    and the default tracks ``defaultParallelism``.  Callers needing
    the identical surviving set across cluster sizes pin ``n_shards``
    explicitly (the gate pins 16), exactly as :func:`pack_sequences`
    and :func:`shuffle_corpus` do.

    Output: (doc_id, source, src_rank, keep) for every input doc —
    drops attributable, all-integer."""
    if n_shards is None:
        n_shards = docs.sparkSession.sparkContext.defaultParallelism
    h, shard = _salted_shard(F.col("doc_id"), salt, n_shards)
    d = docs.select("doc_id", "source", h.alias("h"), shard.alias("shard"))
    w = Window.partitionBy("source", "shard").orderBy("h", "doc_id")
    ranked = d.withColumn("sr", (F.row_number().over(w) - 1).cast("long"))
    counts = d.groupBy("source", "shard").agg(F.count("*").alias("n"))
    wo = (
        Window.partitionBy("source").orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "source", "shard",
        F.coalesce(F.sum("n").over(wo), F.lit(0)).alias("off"),
    )
    rank = (F.col("off") + F.col("sr")).cast("long")
    # no broadcast hint: offsets are #sources x n_shards rows — tiny for
    # few sources (AQE broadcasts from runtime size) but potentially
    # millions of rows for per-domain caps, where the equi-join must
    # stay a shuffle join
    return (
        ranked.join(offs, ["source", "shard"])
        .select(
            "doc_id", "source",
            rank.alias("src_rank"),
            (rank < cap).cast("int").alias("keep"),
        )
    )


def _span_grid(n_tok, span_len: int, mask_rate_bp: int, salt: str):
    """Shared deterministic span-corruption rule: positions are grouped
    into a grid of ``span_len``-token cells; cell k of a doc is MASKED
    iff hash60(salt|doc_id|k) % 10000 < mask_rate_bp.  Grid alignment
    makes spans non-overlapping by construction (the T5 sampler's
    non-overlap constraint, made deterministic and engine-portable),
    and the masked-token fraction equals mask_rate_bp in expectation.
    Returns (cells, masked) column builders over a doc row."""
    # integer ceil as floor((n + s - 1) / s): exact double division of
    # ints < 2^53, identical in any engine
    n_cells = F.floor((n_tok + (span_len - 1)) / span_len).cast("long")
    cells = F.sequence(F.lit(0).cast("long"), n_cells - 1)

    def masked(k):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), F.col("doc_id").cast("string"),
                               F.lit("|"), k.cast("string"))), 1, 15),
            16, 10,
        ).cast("long")
        return (h % 10_000) < mask_rate_bp

    return cells, masked


def mask_spans(docs: DataFrame, mask_rate_bp: int = 1_500, span_len: int = 3,
               salt: str = "mask") -> DataFrame:
    """T5-style span-corruption span SELECTION (Raffel et al. 2020,
    §3.1.4 "span corruption"): choose ~mask_rate_bp/10000 of each
    document's tokens as non-overlapping spans to mask, deterministically
    (salted content hash, no RNG state — the same spans under any
    partitioning, replay, or engine).

    One output row per masked span: (doc_id, span_k, span_start,
    span_len_eff, n_tok) — ``span_k`` is the grid-cell ordinal (unique,
    monotone within a doc; the sentinel id domain), ``span_len_eff``
    trims the last cell to the doc end.  Token counts use the house
    chars/4 estimate (the `chunk_sequences` convention) so the operator
    runs on plain text tables; :func:`apply_span_mask` applies the SAME
    rule to real token arrays.

    Scale shape: pure per-row arithmetic + one explode over n_tok /
    span_len cells — NO shuffle at any scale; the oracle replays the
    hash rule exactly."""
    d = docs.select(
        "doc_id", token_estimate(F.col("text")).alias("n_tok")
    ).where(F.col("n_tok") > 0)
    cells, masked = _span_grid(F.col("n_tok"), span_len, mask_rate_bp, salt)
    e = d.select("doc_id", "n_tok", F.explode(cells).alias("span_k"))
    start = (F.col("span_k") * span_len).cast("long")
    return (
        e.where(masked(F.col("span_k")))
        .select(
            "doc_id",
            F.col("span_k").cast("long").alias("span_k"),
            start.alias("span_start"),
            F.least(F.lit(span_len).cast("long"), F.col("n_tok") - start)
            .alias("span_len_eff"),
            "n_tok",
        )
    )


def apply_span_mask(seqs: DataFrame, mask_rate_bp: int = 1_500,
                    span_len: int = 3, salt: str = "mask") -> DataFrame:
    """Apply the :func:`mask_spans` rule to REAL token arrays — the
    (doc_id, tokens array<int>) shape of the CDC lake's pre-tokenized
    sequences — producing trainer-ready span-corruption pairs:

    - ``input_tokens``: each masked span replaced by its sentinel
      (-1 - span_k: negative ids, disjoint from any vocab);
    - ``target_tokens``: sentinel followed by the span's original
      tokens, concatenated over masked spans in order (the T5 target).

    Reconstruction law (test-pinned): substituting each sentinel in
    input_tokens with its target span reproduces ``tokens`` exactly.

    Scale shape: pure per-row HOFs (one transform over the cell grid +
    flatten per output) — no shuffle, no python, O(n_tok) per row."""
    d = seqs.select("doc_id", "tokens").where(F.size("tokens") > 0)
    cells, masked = _span_grid(F.size("tokens"), span_len, mask_rate_bp, salt)

    def cell_slice(k):
        # slice is 1-based; the last cell is short automatically
        return F.slice(F.col("tokens"), k * span_len + 1, span_len)

    def sentinel(k):
        return (F.lit(-1) - k).cast("int")

    inp = F.flatten(F.transform(
        cells,
        lambda k: F.when(masked(k), F.array(sentinel(k))).otherwise(cell_slice(k)),
    ))
    tgt = F.flatten(F.transform(
        cells,
        lambda k: F.when(masked(k),
                         F.concat(F.array(sentinel(k)), cell_slice(k)))
        .otherwise(F.array().cast("array<int>")),
    ))
    return d.select(
        "doc_id",
        inp.alias("input_tokens"),
        tgt.alias("target_tokens"),
    )
