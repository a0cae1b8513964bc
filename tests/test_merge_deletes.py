"""`foreach_batch_upsert`'s ``deletes=``: a key frame that leaves the
table in the SAME atomic commit as the upsert, on both merge paths —
the driver-side commit (`local_merge`) for a small batch, the engine
path for a batch with a temporal column. Keys in buckets the upsert
rewrites drop during the rewrite; keys in other stored buckets become
deletion-vector entries of the commit, whose data files stay as they
were. The change feed across the commit is checked against the
snapshot-diff oracle of `tests/test_cdf_source.py`."""

from __future__ import annotations

import datetime as dt

import pytest

from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.streaming import local_merge as LM
from test_cdf_source import _feed_oracle, _rows

_NB = 4
_TS = dt.datetime(2024, 1, 1)


@pytest.fixture(params=["local", "engine"])
def path_kind(request, monkeypatch):
    """Which merge path commits: the engine path is forced by a
    temporal column; a spy records the driver-side commits."""
    calls = []
    real = LM.upsert_rows_local

    def spy(*a, **kw):
        calls.append(kw.get("delete_keys"))
        return real(*a, **kw)

    monkeypatch.setattr(LM, "upsert_rows_local", spy)
    return request.param, calls


def _frame(spark, kind, rows):
    if kind == "engine":
        return spark.createDataFrame([r + (_TS,) for r in rows],
                                     "k string, v string, ts timestamp")
    return spark.createDataFrame(rows, "k string, v string")


def _bucket(key):
    return LM.local_bucket([key], _NB)


def _table(spark, tmp_path, kind, n=24):
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["k"], n_buckets=_NB,
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(_frame(spark, kind, [(f"k{i}", "v0") for i in range(n)]), 1)
    by_bucket: dict[int, list[str]] = {}
    for i in range(n):
        by_bucket.setdefault(_bucket(f"k{i}"), []).append(f"k{i}")
    assert len(by_bucket) == _NB
    return path, merge, by_bucket


def _keys(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


def _state(spark, path):
    return {r.k: r.v for r in ing.read_merged_table(spark, path).collect()}


def _check_feed(spark, path, a, b):
    got = ing.table_changes(spark, path, a, b, include_old=True)
    oracle = _feed_oracle(spark, path, a, b)
    assert got.columns == oracle.columns
    assert _rows(got) == _rows(oracle)


def test_deletes_inside_and_outside_the_upsert_buckets(
        spark, tmp_path, path_kind, placement):
    kind, local_calls = path_kind
    path, merge, by_bucket = _table(spark, tmp_path, kind)
    hit, other, *_ = sorted(by_bucket)
    before = ing.read_table_manifest(spark, path)
    upd, both, dead_in = by_bucket[hit][:3]
    dead_out = by_bucket[other][:2]
    new = next(f"n{i}" for i in range(100) if _bucket(f"n{i}") == hit)
    merge(_frame(spark, kind, [(upd, "v1"), (both, "v1"), (new, "v1")]),
          2, deletes=_keys(spark, [both, dead_in, *dead_out]))
    man = ing.read_table_manifest(spark, path)
    assert man["commit"] == before["commit"] + 1 and man["op"] == "merge"
    assert bool(local_calls) == (kind == "local")
    state = _state(spark, path)
    # deletes apply first: a key in both frames keeps the batch's row
    assert state[upd] == state[both] == state[new] == "v1"
    assert dead_in not in state and not set(dead_out) & set(state)
    assert len(state) == 24 + 1 - 3
    rewritten = {b for b, v in man["buckets"].items() if v == man["commit"]}
    assert rewritten == {hit}
    # the other bucket's deletes are a dv entry of this commit; its
    # data version is untouched
    assert man["buckets"][other] == before["buckets"][other]
    assert ing._dv_rows(man)[other] == 2
    assert hit not in ing._dv(man)
    _check_feed(spark, path, before["commit"], man["commit"])


def test_deletes_empty_a_bucket(spark, tmp_path, path_kind, placement):
    kind, _calls = path_kind
    path, merge, by_bucket = _table(spark, tmp_path, kind)
    hit, other, *_ = sorted(by_bucket)
    before = ing.read_table_manifest(spark, path)
    merge(_frame(spark, kind, [(by_bucket[hit][0], "v1")]), 2,
          deletes=_keys(spark, by_bucket[other]))
    man = ing.read_table_manifest(spark, path)
    assert man["commit"] == before["commit"] + 1
    assert ing._dv_rows(man)[other] == len(by_bucket[other])
    assert not set(by_bucket[other]) & set(_state(spark, path))
    _check_feed(spark, path, before["commit"], man["commit"])
    # compaction drops the emptied bucket from the mapping
    ing.compact_table(spark, path, vacuum=False)
    compacted = ing.read_table_manifest(spark, path)
    assert other not in compacted["buckets"] and "dv" not in compacted
    assert len(_state(spark, path)) == 24 - len(by_bucket[other])


def test_deletes_must_carry_a_bucket_column_outside_the_origin(
        spark, tmp_path, path_kind):
    kind, _calls = path_kind
    path = str(tmp_path / "t")
    ddl = "message_id string, participant_uuid string, v string"
    if kind == "engine":
        ddl += ", ts timestamp"

    def frame(rows):
        return spark.createDataFrame(
            [r + ((_TS,) if kind == "engine" else ()) for r in rows], ddl)

    merge = ing.foreach_batch_upsert(path, ["message_id"], n_buckets=_NB,
                                     bucket_cols=["participant_uuid"],
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(frame([(f"m{i}", f"p{i % 3}", "v0") for i in range(9)]), 1)
    head = ing.read_table_manifest(spark, path)["commit"]
    with pytest.raises(ValueError, match="participant_uuid"):
        merge(frame([("m0", "p0", "v1")]), 2,
              deletes=spark.createDataFrame([("m1",)], "message_id string"))
    assert ing.read_table_manifest(spark, path)["commit"] == head
    # with the bucket column, the key leaves its participant's bucket
    merge(frame([("m0", "p0", "v1")]), 2,
          deletes=spark.createDataFrame([("m1", "p1")],
                                        "message_id string, "
                                        "participant_uuid string"))
    live = {r.message_id for r in
            ing.read_merged_table(spark, path).collect()}
    assert "m1" not in live and len(live) == 8


def test_replay_skips_the_whole_commit(spark, tmp_path, path_kind):
    kind, _calls = path_kind
    path, merge, by_bucket = _table(spark, tmp_path, kind)
    hit, other, *_ = sorted(by_bucket)
    merge(_frame(spark, kind, [(by_bucket[hit][0], "v1")]), 2,
          deletes=_keys(spark, by_bucket[other][:1]))
    man = ing.read_table_manifest(spark, path)
    state = _state(spark, path)
    # a replay of batch 2 carrying other deletes commits nothing
    merge(_frame(spark, kind, [(by_bucket[hit][1], "v9")]), 2,
          deletes=_keys(spark, by_bucket[other][1:]))
    assert ing.read_table_manifest(spark, path)["commit"] == man["commit"]
    assert _state(spark, path) == state
