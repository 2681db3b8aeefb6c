from __future__ import annotations

import pytest

from yadex_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("yadex-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def one_epoch():
    """The CDC pipeline's own epoch filter (``EpochRules.epoch``) over a
    frame taken as one epoch: every table routed by the default Router
    (ST, no expiry window), no watermarks.  Returns the namespace
    ``EpochRules.epoch`` returns (``live``, ``barriers``, ``rules``)."""
    from yadex_spark.operators.route import Router
    from yadex_spark.streaming.pipeline import EpochRules

    rules, router = EpochRules(None), Router()

    def run(df):
        inv = df.groupBy("table").agg(*rules.inventory).collect()
        routed = {r["table"]: p for r in inv if (p := router.classify(r["table"]))}
        return rules.epoch(df, inv, routed, {})

    return run


@pytest.fixture()
def forbid_file_planning(monkeypatch):
    """Returns a function that, once called, makes any data-file footer
    read and any data-directory listing of the lake raise: read
    planning after that point must come from the manifests alone (on
    object storage both are per-file round trips)."""
    import yadex_spark.lake.table as T

    def boom(*args):  # pragma: no cover - must not run
        raise AssertionError(f"footer read or directory listed: {args}")

    def arm():
        monkeypatch.setattr(T, "_file_key_bounds", boom)
        monkeypatch.setattr(T, "_parquet_files", boom)

    return arm


@pytest.fixture(scope="session")
def forget_commits():
    """Returns ``forget(ckpt, last=None) -> N``: simulate a crash after
    the lake commit of epoch N but before the checkpoint recorded it, by
    removing the commit files (and their ``.crc`` files) of epoch N and
    every later one.  N is the greatest committed epoch for which
    ``last(epoch)`` holds (every epoch when ``last`` is None).  Epochs
    are sorted as numbers: as strings, ``9`` would sort after ``17``."""
    import glob
    import os

    def forget(ckpt, last=None):
        commits = sorted(
            int(os.path.basename(p)) for p in glob.glob(os.path.join(ckpt, "commits", "*"))
            if os.path.basename(p).isdigit()
        )
        n = [e for e in commits if last is None or last(e)][-1]
        for e in commits[commits.index(n):]:
            for name in (str(e), f".{e}.crc"):
                p = os.path.join(ckpt, "commits", name)
                if os.path.exists(p):
                    os.remove(p)
        return n

    return forget


@pytest.fixture(scope="session")
def applied_epochs():
    """Returns ``watch(runner) -> list``: the epoch ids later handed to
    ``runner.apply_batch`` (a ``CdcPipeline`` or an ingest member),
    recorded in call order.  A crash-replay test asserts its forgotten
    epoch is among them, so it cannot pass without replaying."""

    def watch(runner):
        seen, inner = [], runner.apply_batch

        def apply_batch(batch, epoch_id):
            seen.append(epoch_id)
            return inner(batch, epoch_id)

        runner.apply_batch = apply_batch
        return seen

    return watch
