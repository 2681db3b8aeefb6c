"""The load generator: seeded change feeds and corpus tables.

Change feeds come from the engine's own generator
(``yadex_spark.sources.genlog``); the corpus tables the operator queries
read are drawn here with NumPy in the shape of the repository's
``sf0.001`` test tables.  Every input is a pure function of its
parameters and the seed.  It is generated once per (workload,
parameters, seed), stored under ``perfbench/.cache`` and reused by later
runs; ``gen_s`` records what generating it cost.

Feed files carry strictly increasing modification times in ``op_seq``
order: the streaming file source takes files oldest first, so epoch
boundaries are the same on every run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from env import CACHE_DIR, ROOT

#: generated inputs kept per workload; older ones are removed
KEEP_PER_WORKLOAD = 12


class Feed:
    """A generated input on disk: ``files`` are (name, lo, hi, rows,
    bytes) in arrival order, ``lo``/``hi`` the file's op_seq range."""

    def __init__(self, path: str, meta: dict, cached: bool):
        self.path = path
        self.meta = meta
        self.cached = cached

    @property
    def files(self) -> list[dict]:
        return self.meta["files"]

    @property
    def events(self) -> int:
        return sum(f["rows"] for f in self.files)

    @property
    def bytes(self) -> int:
        return sum(f["bytes"] for f in self.files)

    def file_path(self, f: dict) -> str:
        return os.path.join(self.path, f["name"])


def _cached(workload: str, params: dict, build) -> Feed:
    """Return the cached input for (workload, params), building it with
    ``build(dir) -> meta`` on a miss (written aside, then renamed in)."""
    digest = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
    path = os.path.join(CACHE_DIR, f"{workload}-{digest}")
    meta_path = os.path.join(path, "_feed.json")
    if os.path.exists(meta_path):
        os.utime(path)
        with open(meta_path) as f:
            return Feed(path, json.load(f), cached=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.monotonic()
    meta = build(tmp)
    meta["gen_s"] = time.monotonic() - t0
    meta["params"] = params
    with open(os.path.join(tmp, "_feed.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, path)
    except OSError:  # built concurrently by another run: use theirs
        shutil.rmtree(tmp, ignore_errors=True)
        with open(meta_path) as f:
            return Feed(path, json.load(f), cached=True)
    _prune(workload)
    return Feed(path, meta, cached=False)


def _prune(workload: str) -> None:
    entries = [
        os.path.join(CACHE_DIR, d)
        for d in os.listdir(CACHE_DIR)
        if d.startswith(workload + "-") and ".tmp-" not in d
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for d in entries[KEEP_PER_WORKLOAD:]:
        shutil.rmtree(d, ignore_errors=True)


def _order_files(raw_dir: str, out_dir: str) -> list[dict]:
    """Move the parquet part files of ``raw_dir`` into ``out_dir`` as
    ``chunk-NNNNN.parquet`` in op_seq order, with increasing mtimes."""
    parts = []
    for name in os.listdir(raw_dir):
        if not name.endswith(".parquet"):
            continue
        p = os.path.join(raw_dir, name)
        md = pq.ParquetFile(p).metadata
        if md.num_rows == 0:
            continue
        col = md.schema.to_arrow_schema().get_field_index("op_seq")
        lo = min(md.row_group(i).column(col).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(col).statistics.max for i in range(md.num_row_groups))
        parts.append((lo, hi, md.num_rows, p))
    parts.sort()
    base = time.time() - 10 * len(parts) - 60
    files = []
    for i, (lo, hi, rows, p) in enumerate(parts):
        name = f"chunk-{i:05d}.parquet"
        dst = os.path.join(out_dir, name)
        os.rename(p, dst)
        os.utime(dst, (base + i, base + i))
        files.append(dict(name=name, lo=int(lo), hi=int(hi), rows=int(rows),
                          bytes=os.path.getsize(dst)))
    shutil.rmtree(raw_dir, ignore_errors=True)
    return files


def bulk_feed(seed: int, n_events: int, n_docs: int, n_chunks: int, cores: int) -> Feed:
    """A backlog from ``gen_oplog``: ``n_chunks`` sequential op_seq
    ranges, one file each.  It is generated in a
    process (and JVM) of its own, so generating it does not warm up the
    session under test: set-up costs the same with and without a cached
    feed."""
    params = dict(seed=seed, n_events=n_events, n_docs=n_docs, n_chunks=n_chunks)

    def build(d: str) -> dict:
        cmd = [sys.executable, os.path.abspath(__file__), d, json.dumps(params), str(cores)]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
        if out.returncode:
            raise RuntimeError(f"feed generation failed: {out.stderr[-2000:]}")
        with open(os.path.join(d, "_files.json")) as f:
            return {"files": json.load(f)}

    return _cached("replay_bulk", params, build)


def _generate_bulk(out_dir: str, params: dict, cores: int) -> None:
    """Body of the generator process: write the feed into ``out_dir``."""
    from env import RunDirs, start_session, stop_session
    from yadex_spark.sources.genlog import gen_oplog

    dirs = RunDirs("feedgen")
    spark, _, _ = start_session("perfbench-feedgen", dirs, cores, event_log=False)
    try:
        raw = os.path.join(out_dir, "raw")
        n = params["n_events"]
        # one generator partition per chunk, written in one job: each
        # partition is a contiguous op_seq range, so the files are the
        # chunks write_oplog_chunks writes with one job per chunk (at
        # about a quarter of the cost), whatever the number of cores
        gen_oplog(spark, n, params["n_docs"], seed=params["seed"],
                  num_partitions=params["n_chunks"]).write.parquet(raw)
        files = _order_files(raw, out_dir)
    finally:
        stop_session(spark)
        dirs.remove()
    with open(os.path.join(out_dir, "_files.json"), "w") as f:
        json.dump(files, f)


# ---------------------------------------------------------------------------
# corpus tables (the shape of the repository's sf0.001 test tables)
# ---------------------------------------------------------------------------

#: the 30-word vocabulary of the test tables' documents
WORDS = (
    "a the data table row column key value part line order query scan join "
    "merge sort hash group agg filter window batch stream spark vector "
    "customer big small fast slow"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
EVENT_TYPES = ("signup", "purchase", "click", "view", "error")
#: share of documents that are near-duplicates: a copy of another
#: document with the marker word ``dup`` appended, once more for each
#: further copy of the same document
NEAR_DUP_FRAC = 0.05
#: copies per copied document, on average
COPIES_PER_BASE = 1.25


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(WORDS, size=int(rng.integers(10, 100)))) for _ in range(n)]
    n_dup = int(round(n * NEAR_DUP_FRAC))
    n_base = max(1, int(round(n_dup / COPIES_PER_BASE)))
    picked = rng.choice(n, size=n_base + n_dup, replace=False)
    copies: dict[int, int] = {}
    for i, dst in enumerate(picked[n_base:]):
        # every base is copied once; the remaining copies pick a base
        src = int(picked[i if i < n_base else rng.integers(0, n_base)])
        copies[src] = copies.get(src, 0) + 1
        texts[dst] = texts[src] + " dup" * copies[src]
    lang = rng.choice(LANGS, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors in uniformly random directions; the labels are drawn
    independently of them."""
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, size=n)).astype("timedelta64[us]") + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
    })


def corpus_tables(seed: int, n_docs: int = 500, n_vecs: int = 500,
                  n_events: int = 1000, n_users: int = 15) -> Feed:
    """``documents``, ``embeddings`` and ``events`` parquet tables."""
    params = dict(seed=seed, n_docs=n_docs, n_vecs=n_vecs, n_events=n_events, n_users=n_users)

    def build(d: str) -> dict:
        rng = np.random.default_rng(seed)
        files = []
        for name, table in (("documents", _documents(rng, n_docs)),
                            ("embeddings", _embeddings(rng, n_vecs)),
                            ("events", _events(rng, n_events, n_users))):
            p = os.path.join(d, f"{name}.parquet")
            pq.write_table(table, p)
            files.append(dict(name=f"{name}.parquet", lo=0, hi=table.num_rows - 1,
                              rows=table.num_rows, bytes=os.path.getsize(p)))
        return {"files": files}

    return _cached("corpus_ops", params, build)


if __name__ == "__main__":
    sys.path.insert(1, ROOT)
    _generate_bulk(sys.argv[1], json.loads(sys.argv[2]), int(sys.argv[3]))
