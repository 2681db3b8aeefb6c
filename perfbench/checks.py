"""Correctness checks, run outside every timed region.

Each check appends one named entry to a :class:`Checks` list; a failed
check is an attempted operation that failed, and the run's ``correct``
flag is false if any check failed.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import time
import traceback

from env import ROOT


class Checks:
    """Named checks, each covering some of the run's operations (drains
    or queries).  An operation fails when any check covering it fails."""

    def __init__(self):
        self.items: list[dict] = []
        self.seconds = 0.0

    def add(self, name: str, ok: bool, detail=None, seconds: float = 0.0, ops=()) -> bool:
        self.items.append({"name": name, "ok": bool(ok), "detail": detail, "s": seconds,
                           "ops": list(ops)})
        return bool(ok)

    def guard(self, name: str, fn, ops=()) -> bool:
        """Run ``fn() -> (ok, detail)``; an exception is a failed check
        carrying the last lines of its traceback."""
        t0 = time.monotonic()
        try:
            ok, detail = fn()
        except Exception:  # a check that cannot run has failed
            ok, detail = False, traceback.format_exc(limit=3)[-600:]
        dt = time.monotonic() - t0
        self.seconds += dt
        return self.add(name, ok, detail, dt, ops)

    @property
    def failed(self) -> list[str]:
        return [c["name"] for c in self.items if not c["ok"]]

    @property
    def ops(self) -> set[str]:
        """Every checked operation."""
        return {o for c in self.items for o in c["ops"]}

    @property
    def failed_ops(self) -> set[str]:
        return {o for c in self.items if not c["ok"] for o in c["ops"]}


# ---------------------------------------------------------------------------
# CDC replay: final state and exactly-once lineage
# ---------------------------------------------------------------------------

def expected_state(spark, feed_paths: list[str], scratch: str):
    """The replay oracle's final state of the given drops, as
    {table: DataFrame(doc_id, tokens, n_tok, source)}.

    ``oracle.replay`` decides every key's fate from the event order
    (inserts, updates, deletes, drop barriers).  It runs on the narrow
    columns, read straight from the parquet drops, with each post-image
    replaced by its own ``op_seq``; the winning post-images are then
    joined back from the feed by Spark, so the oracle never holds the
    token arrays in Python."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from yadex_spark.oracle import replay
    from yadex_spark.schema import UPSERT_OPS

    pdf = pa.concat_tables(
        pq.read_table(p, columns=["op_seq", "op_ts", "op", "table", "doc_id"]) for p in feed_paths
    ).to_pandas()
    sets = pdf["op"].isin(UPSERT_OPS)
    pdf["after"] = [{"winner": s} if w else None for s, w in zip(pdf["op_seq"], sets)]
    feed = spark.read.parquet(*feed_paths)
    out = {}
    for table, docs in sorted(replay(pdf).items()):
        path = os.path.join(scratch, f"winners-{table}.parquet")
        pq.write_table(pa.table({"op_seq": pa.array(
            [int(p["winner"]) for p in docs.values()], pa.int64())}), path)
        # cached: every drain of a run is diffed against the same state
        out[table] = feed.join(spark.read.parquet(path), "op_seq").select(
            "doc_id", "after.*").cache()
    return out


def state_equal(spark, expected: dict, lake_dirs: list[str]) -> tuple[bool, dict]:
    """``verify.diff_counts`` of the oracle state against every lake in
    ``lake_dirs``: one diff keyed on (lake, table, doc_id).  A lake table
    the oracle does not have must be empty."""
    from functools import reduce

    from pyspark.sql import functions as F

    from yadex_spark.lake.table import LakeTable
    from yadex_spark.verify import diff_counts

    def keyed(df, prefix):
        return df.select(F.concat_ws("/", F.lit(prefix), "doc_id").alias("_key"),
                         "tokens", "n_tok", "source")

    empty = spark.createDataFrame([], "_key string, tokens array<int>, n_tok int, source string")
    want, got = [], []
    for i, lake in enumerate(lake_dirs):
        want += [keyed(df, f"{i}/{t}") for t, df in sorted(expected.items())]
        for t in sorted(os.listdir(lake)):
            if not t.startswith("_") and os.path.isdir(os.path.join(lake, t, "_meta")):
                got.append(keyed(LakeTable(spark, os.path.join(lake, t)).read(), f"{i}/{t}"))
    union = lambda dfs: reduce(lambda a, b: a.unionByName(b), dfs, empty)  # noqa: E731
    counts = diff_counts(union(want), union(got), key="_key")
    counts["lakes"] = len(lake_dirs)
    return not (counts["changed"] or counts["added"] or counts["removed"]), counts


def exactly_once(ckpt: str, lake_dir: str, landed: list[dict]) -> tuple[bool, dict]:
    """Every landed file was read by exactly one epoch (the checkpoint's
    source log), every epoch committed exactly one lineage file, and each
    lineage row's op_seq range lies inside its epoch's files.  Epoch
    ranges therefore never overlap, and together the epochs cover the
    landed feed exactly once."""
    by_name = {f["name"]: f for f in landed}
    # a .compact source-log file repeats earlier entries: use (file, epoch) pairs
    reads: set[tuple[str, int]] = set()
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    reads.add((os.path.basename(e["path"]), e["batchId"]))
    epochs_of: dict[str, list[int]] = {}
    files_of: dict[int, list[dict]] = {}
    for name, epoch in reads:
        epochs_of.setdefault(name, []).append(epoch)
        files_of.setdefault(epoch, []).append(by_name.get(name))
    with open(os.path.join(ckpt, "_yadex_scope.json")) as f:
        scope = json.load(f)["scope"]
    lineage: dict[int, list[dict]] = {}
    for p in glob.glob(os.path.join(lake_dir, "_lineage", f"epoch-{scope}-*.json")):
        with open(p) as f:
            rows = [json.loads(line) for line in f]
        lineage.setdefault(rows[0]["batch_id"], []).extend(rows)
    outside = []
    for epoch, rows in lineage.items():
        fs = [f for f in files_of.get(epoch, []) if f]
        for r in rows:
            if r["offset_lo"] is None:  # an epoch that staged no rows for the table
                continue
            if not fs or r["offset_lo"] < min(f["lo"] for f in fs) \
                    or r["offset_hi"] > max(f["hi"] for f in fs):
                outside.append((epoch, r["table"]))
    detail = {
        "files": len(by_name), "epochs": len(files_of),
        "missing": sorted(n for n in by_name if n not in epochs_of)[:5],
        "read_twice": sorted(n for n, e in epochs_of.items() if len(e) > 1)[:5],
        "unknown": sorted(n for n in epochs_of if n not in by_name)[:5],
        "ranges_outside_epoch": outside[:5],
        "epochs_without_lineage": sorted(set(files_of) - set(lineage))[:5],
        "lineage_without_epoch": sorted(set(lineage) - set(files_of))[:5],
    }
    ok = not any(v for k, v in detail.items() if k not in ("files", "epochs"))
    return ok, detail


# ---------------------------------------------------------------------------
# corpus queries against their DuckDB oracle
# ---------------------------------------------------------------------------

def _comparator():
    """The repository's own Spark-vs-DuckDB comparator
    (``scripts/compare_oracle.py``: value normalisation and type map)."""
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(ROOT, "scripts", "compare_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """DuckDB views over the generated tables; ``check`` compares one
    query's collected Spark output with its ``oracle_sql()`` result:
    columns, types, row count and order-insensitive values."""

    def __init__(self, tables_dir: str, table_names: list[str]):
        import duckdb

        import __spark_entry__ as entry

        self.cmp = _comparator()
        self.sql = entry.oracle_sql()
        self.con = duckdb.connect()
        for t in table_names:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")

    def check(self, name: str, df, rows) -> tuple[bool, dict]:
        sql = self.sql.get(name)
        if sql is None:
            return False, {"error": "no oracle_sql entry"}
        res = self.con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        scols = df.columns
        if sorted(scols) != sorted(dcols):
            return False, {"columns": [sorted(scols), sorted(dcols)]}
        bad_types = self.cmp.check_types(df, self.con, sql)
        if bad_types:
            return False, {"types": bad_types}
        if len(rows) != len(drows):
            return False, {"rows": [len(rows), len(drows)]}
        a = self.cmp.rowset(scols, [tuple(r) for r in rows])
        b = self.cmp.rowset(dcols, drows)
        if a != b:
            return False, {"first_diff": next((x, y) for x, y in zip(a, b) if x != y)}
        return True, {"rows": len(rows)}
