"""`streaming/drain.py:drain_changes` with a kept state — the bounded
catch-up drain: the change feed's BATCH reader per pending commit,
batch id = source commit id, position in a tiny atomic state file.
Fixed cost per day-run drain is a few manifest reads. The MV states it
maintains are checked against a group-by recomputed from the table."""

from __future__ import annotations

import os

import pytest

from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.streaming import mv as MV
from engagement_data_pipeline_spark.streaming.drain import (
    drain_changes, fan_out)


def _merge(spark, path, n_buckets=2):
    return ing.foreach_batch_upsert(path, ["origin"], n_buckets=n_buckets,
                                    txn_app_id="src", mode="latest_wins")


def _row(spark, origin, payload):
    return spark.createDataFrame([(origin, payload)],
                                 "origin string, payload string")


def _num(spark, origin, grp, x):
    return spark.createDataFrame([(origin, grp, x)],
                                 "origin string, grp string, x long")


def test_direct_drain_per_commit_delivery(spark, tmp_path):
    """5 commits -> 5 sink calls, batch id = SOURCE COMMIT id, one
    row each (per-commit retract pairs)."""
    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    for i in range(1, 6):
        merge(_row(spark, f"o{i}", f"v{i}"), i)

    batches: list[tuple[int, int]] = []
    head = drain_changes(
        spark, path, lambda df, cid: batches.append((cid, df.count())),
        state_path=str(tmp_path / "state"))
    assert head == 5
    assert batches == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)]


def test_direct_drain_resumes_from_state(spark, tmp_path):
    """Consecutive drains are incremental through the state file; a
    caught-up drain delivers nothing and returns the head."""
    path = str(tmp_path / "t")
    state = str(tmp_path / "state")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "1"), 1)
    merge(_row(spark, "b", "1"), 2)

    seen: list[list[str]] = []

    def sink(df, _cid):
        seen.append(sorted(r.origin for r in df.collect()))

    assert drain_changes(spark, path, sink, state_path=state) == 2
    assert seen == [["a"], ["b"]]

    seen.clear()
    merge(_row(spark, "c", "1"), 3)
    assert drain_changes(spark, path, sink, state_path=state) == 3
    assert seen == [["c"]]

    seen.clear()
    assert drain_changes(spark, path, sink, state_path=state) == 3
    assert seen == []


def test_direct_drain_ships_old_preimages(spark, tmp_path):
    """An update's batch carries `<col>__old` so retract sinks can
    subtract without reading the source — the same shape as the
    stream with includeOld=true."""
    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "v1"), 1)
    merge(_row(spark, "a", "v2"), 2)

    got: dict[int, list] = {}
    drain_changes(spark, path,
                  lambda df, cid: got.update({cid: df.collect()}),
                  state_path=str(tmp_path / "state"))
    [r2] = got[2]
    assert r2.op == "update"
    assert r2.payload == "v2" and r2.payload__old == "v1"


def test_direct_drain_empty_table_and_empty_commits(spark, tmp_path):
    """Empty table -> 0 without touching the sink; a commit whose
    manifest diff changes no buckets is skipped driver-side but the
    state still advances past it."""
    calls = []
    state = tmp_path / "state"
    assert drain_changes(
        spark, str(tmp_path / "missing"),
        lambda df, cid: calls.append(cid), state_path=str(state)) == 0
    assert calls == []

    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "1"), 1)
    merge(spark.createDataFrame([], "origin string, payload string"), 2)
    assert drain_changes(spark, path, lambda df, cid: calls.append(cid),
                         state_path=str(state)) == 2
    assert calls == [1]
    assert (state / "_DIRECT_DRAIN").read_text() == "2"
    merge(_row(spark, "b", "1"), 3)
    assert drain_changes(spark, path, lambda df, cid: calls.append(cid),
                         state_path=str(state)) == 3
    assert calls == [1, 3]


def test_direct_drain_refuses_state_pruned_from_the_log(spark, tmp_path):
    """A vacuum that pruned the manifest the state points at leaves
    no base to diff the next commit against: the drain raises instead
    of replaying the snapshot as inserts."""
    path = str(tmp_path / "t")
    state = str(tmp_path / "state")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "1"), 1)
    assert drain_changes(spark, path, lambda df, cid: None,
                         state_path=state) == 1
    merge(_row(spark, "b", "1"), 2)
    merge(_row(spark, "c", "1"), 3)
    ing.vacuum_table(spark, path, keep_manifests=1)
    with pytest.raises(ValueError, match="log pruned past this drain"):
        drain_changes(spark, path, lambda df, cid: None, state_path=state)


def test_direct_drain_stops_at_head_recorded_on_entry(spark, tmp_path):
    """A commit landing during a drain (here: made from inside the
    sink) is left for the next drain — the drain stops at the head it
    recorded on entry, and the next one delivers the late commit."""
    path = str(tmp_path / "t")
    state = str(tmp_path / "state")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "1"), 1)
    merge(_row(spark, "b", "1"), 2)

    seen: list[tuple[int, list[str]]] = []

    def sink(df, cid):
        seen.append((cid, sorted(r.origin for r in df.collect())))
        if cid == 1:
            merge(_row(spark, "late", "1"), 3)

    assert drain_changes(spark, path, sink, state_path=state) == 2
    assert seen == [(1, ["a"]), (2, ["b"])]
    seen.clear()
    assert drain_changes(spark, path, sink, state_path=state) == 3
    assert seen == [(3, ["late"])]


def test_direct_drain_refuses_stream_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    _merge(spark, path)(_row(spark, "a", "1"), 1)
    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    with pytest.raises(ValueError, match="checkpoint"):
        drain_changes(spark, path, lambda df, cid: None,
                      state_path=str(ckpt))


def test_direct_drain_mv_state_equals_recomputed_mv(spark, tmp_path):
    """The SAME history (inserts, update, delete) maintained through
    the drain into one MV sink, and into two MVs composed by fan_out,
    yields the states a group-by over the final table recomputes."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_num(spark, "a", "g1", 10), 1)
    merge(_num(spark, "b", "g1", 5), 2)
    merge(_num(spark, "c", "g2", 7), 3)
    merge(_num(spark, "a", "g1", 20), 4)  # update: 10 -> 20
    ing.delete_origins(spark, path,
                       spark.createDataFrame([("b",)], "origin string"))

    metrics = {"n": ("origin", "count"), "sx": ("x", "sum")}
    single = str(tmp_path / "mv_single")
    by_grp = str(tmp_path / "mv_grp")
    by_origin = str(tmp_path / "mv_origin")
    drain_changes(spark, path, MV.mv_stream_sink(single, ["grp"], metrics),
                  state_path=str(tmp_path / "s1"))
    drain_changes(spark, path, fan_out(
        MV.mv_stream_sink(by_grp, ["grp"], metrics),
        MV.mv_stream_sink(by_origin, ["origin"], metrics)),
        state_path=str(tmp_path / "s2"))

    def state(p, g):
        return sorted((r[g], r.n, r.sx)
                      for r in MV.read_mv(spark, p, metrics).collect())

    def recomputed(g):
        return sorted(
            (r[g], r.n, r.sx) for r in ing.read_merged_table(spark, path)
            .groupBy(g).agg(F.count("origin").alias("n"),
                            F.sum("x").alias("sx")).collect())

    assert recomputed("grp") == [("g1", 1, 20), ("g2", 1, 7)]
    assert state(single, "grp") == recomputed("grp")
    assert state(by_grp, "grp") == recomputed("grp")
    assert state(by_origin, "origin") == recomputed("origin")


def test_direct_drain_crash_between_fanout_sinks_converges(spark,
                                                           tmp_path):
    """Crash AFTER sink 1 applied a commit but BEFORE sink 2 (and
    before the state write): the rerun replays that commit — sink 1
    no-ops on its txn watermark, sink 2 applies — and both MVs equal
    an uninterrupted twin's."""
    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_num(spark, "a", "g1", 1), 1)
    merge(_num(spark, "b", "g2", 2), 2)
    merge(_num(spark, "c", "g1", 3), 3)

    metrics = {"n": ("origin", "count"), "sx": ("x", "sum")}
    mv1 = str(tmp_path / "mv1")
    mv2 = str(tmp_path / "mv2")
    state = str(tmp_path / "state")
    s1 = MV.mv_stream_sink(mv1, ["grp"], metrics)
    s2 = MV.mv_stream_sink(mv2, ["grp"], metrics)

    class Boom(RuntimeError):
        pass

    def s2_flaky(df, cid):
        if cid == 2:
            raise Boom()
        s2(df, cid)

    with pytest.raises(Boom):
        drain_changes(spark, path, fan_out(s1, s2_flaky),
                      state_path=state)
    # resume with the healthy sink composition
    assert drain_changes(spark, path, fan_out(s1, s2),
                         state_path=state) == 3

    twin1 = str(tmp_path / "twin1")
    twin2 = str(tmp_path / "twin2")
    drain_changes(spark, path, fan_out(
        MV.mv_stream_sink(twin1, ["grp"], metrics),
        MV.mv_stream_sink(twin2, ["grp"], metrics)),
        state_path=str(tmp_path / "state_twin"))

    def st(p):
        return sorted((r.grp, r.n, r.sx)
                      for r in MV.read_mv(spark, p, metrics).collect())

    assert st(mv1) == st(twin1)
    assert st(mv2) == st(twin2)


def test_batch_changes_reader_window(spark, tmp_path):
    """The batch reader reads an explicit (fromCommit, toCommit]
    window as a plain DataFrame — ops and keys match the history."""
    from engagement_data_pipeline_spark.streaming.cdf_source import (
        MergeTableChangesDataSource)

    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "v1"), 1)
    merge(_row(spark, "b", "v1"), 2)
    merge(_row(spark, "a", "v2"), 3)

    spark.dataSource.register(MergeTableChangesDataSource)
    win = (spark.read.format("merge_table_changes")
           .option("path", path).option("fromCommit", "1")
           .option("toCommit", "3").option("includeOld", "true")
           .load())
    rows = sorted((r.origin, r.op) for r in win.collect())
    assert rows == [("a", "update"), ("b", "insert")]
    full = (spark.read.format("merge_table_changes")
            .option("path", path).load())  # default 0 -> head
    assert sorted((r.origin, r.op) for r in full.collect()) == [
        ("a", "insert"), ("b", "insert")]
