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
