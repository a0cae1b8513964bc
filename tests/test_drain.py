"""`streaming/drain.py:drain_changes` without a kept state: the drain
runs on a temp state removed on exit, so every call delivers the
table's history from the beginning, once, one commit per batch.
`test_direct_drain.py` covers the kept-state drain.
"""

from __future__ import annotations

import tempfile

import pytest

from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.streaming.drain import drain_changes


def _merge(spark, path, n_buckets=2):
    return ing.foreach_batch_upsert(path, ["origin"], n_buckets=n_buckets,
                                    txn_app_id="src", mode="latest_wins")


def _row(spark, origin, payload):
    return spark.createDataFrame([(origin, payload)],
                                 "origin string, payload string")


def test_drain_processes_every_commit_per_batch(spark, tmp_path,
                                                monkeypatch):
    """5 commits on entry -> 5 batches keyed by commit id (per-commit
    retractions preserved), and the returned head is the table's
    head. A second call starts from the beginning again, and neither
    leaves its temp state behind."""
    tmp_root = tmp_path / "tmp"
    tmp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    for i in range(1, 6):
        merge(_row(spark, f"o{i}", f"v{i}"), i)

    for _ in range(2):
        batches: list[tuple[int, int]] = []
        head = drain_changes(
            spark, path,
            lambda df, cid: batches.append((cid, df.count())))
        assert head == 5
        assert batches == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)]
        assert list(tmp_root.iterdir()) == []


def test_drain_empty_table_returns_zero(spark, tmp_path):
    """No commits -> nothing to drain; the sink is never called."""
    calls = []
    assert drain_changes(spark, str(tmp_path / "missing"),
                         lambda df, eid: calls.append(eid)) == 0
    assert calls == []


def test_fan_out_crash_between_sinks_replays_convergently(spark, tmp_path):
    """fan_out's exactly-once contract with no drain state kept: the
    drain dies AFTER sink 1 applied commit 1 but BEFORE sink 2 did,
    and the sink's error surfaces. The rerun replays the history from
    commit 1: sink 1 no-ops on its own watermark, sink 2 applies —
    both MVs converge to the true counts, nothing double-applied."""
    from engagement_data_pipeline_spark.streaming import mv as MV
    from engagement_data_pipeline_spark.streaming.drain import fan_out

    path = str(tmp_path / "t")
    mv1 = str(tmp_path / "mv1")
    mv2 = str(tmp_path / "mv2")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=2,
                                     txn_app_id="src",
                                     mode="latest_wins")
    rows = "origin string, grp string"
    merge(spark.createDataFrame([("a", "g1"), ("b", "g1"),
                                 ("c", "g2")], rows), 1)
    merge(spark.createDataFrame([("d", "g2")], rows), 2)

    metrics = {"n": ("origin", "count")}
    sink1 = MV.mv_stream_sink(mv1, ["grp"], metrics)
    sink2 = MV.mv_stream_sink(mv2, ["grp"], metrics)
    armed = {"on": True}

    def exploding(batch, batch_id):
        if armed["on"] and batch_id == 1:
            raise RuntimeError("boom between sinks")
        sink2(batch, batch_id)

    with pytest.raises(RuntimeError, match="boom between sinks"):
        drain_changes(spark, path, fan_out(sink1, exploding))

    armed["on"] = False
    assert drain_changes(spark, path, fan_out(sink1, exploding)) == 2

    want = {("g1", 2), ("g2", 2)}
    got1 = {(r.grp, r.n) for r in
            MV.read_mv(spark, mv1, metrics).collect()}
    got2 = {(r.grp, r.n) for r in
            MV.read_mv(spark, mv2, metrics).collect()}
    assert got1 == want
    assert got2 == want
