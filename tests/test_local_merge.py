"""`streaming/local_merge.py` — the driver-side control-plane commit
path. Two contracts matter: (1) the pure-Python xxhash64 must agree
with Spark's `F.xxhash64` BIT-FOR-BIT (bucket assignment — a wrong
bucket silently breaks key resolution), (2) a table written through
the local path must be indistinguishable from one written through
`foreach_batch_upsert` to every reader (merged state, change feed,
point semantics, subsequent ENGINE merges)."""

from __future__ import annotations

import random
import string

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.streaming import local_merge as LM


# ---------------------------------------------------------------------------
# hash compatibility (property, seed-pinned)
# ---------------------------------------------------------------------------

def test_xxhash64_matches_spark_on_random_strings(spark):
    rng = random.Random(1414)
    alphabet = string.printable + "äöüßéמθ中文🙂"
    vals = [""] + ["".join(rng.choice(alphabet)
                           for _ in range(rng.randrange(0, 120)))
                   for _ in range(300)]
    got = [LM.spark_xxhash64([v]) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    want = [r.h for r in
            df.select(F.xxhash64("s").alias("h")).collect()]
    assert got == want


def test_xxhash64_matches_spark_on_longs_and_multicol(spark):
    rng = random.Random(99)
    rows = [(rng.randrange(-2**63, 2**63), "".join(
        rng.choice(string.ascii_letters) for _ in range(rng.randrange(0, 40))))
        for _ in range(200)]
    got = [LM.spark_xxhash64([a, b]) for a, b in rows]
    df = spark.createDataFrame(rows, "a long, b string")
    want = [r.h for r in
            df.select(F.xxhash64("a", "b").alias("h")).collect()]
    assert got == want


def test_xxhash64_null_passthrough_matches_spark(spark):
    df = spark.createDataFrame([("x", None), (None, "y"), (None, None)],
                               "a string, b string")
    want = [r.h for r in
            df.select(F.xxhash64("a", "b").alias("h")).collect()]
    got = [LM.spark_xxhash64(v) for v in
           [("x", None), (None, "y"), (None, None)]]
    assert got == want


def test_local_bucket_matches_engine_bucket_expr(spark):
    rng = random.Random(7)
    keys = [("run%d" % rng.randrange(1000),
             rng.choice(["a", "b", "imputed", "views", "__run__"]))
            for _ in range(100)]
    nb = 4
    got = [LM.local_bucket(list(k), nb) for k in keys]
    df = spark.createDataFrame(keys, "run_id string, stage string")
    want = [r.b for r in df.select(
        ing.origin_bucket(["run_id", "stage"], nb).alias("b")).collect()]
    assert got == want


# ---------------------------------------------------------------------------
# table-format interop
# ---------------------------------------------------------------------------

_SCHEMA = pa.schema([("k", pa.string()), ("v", pa.string()),
                     ("n", pa.int64())])


def _local(spark, path, rows, version, mode="latest_wins"):
    LM.upsert_rows_local(spark, path, rows, _SCHEMA, ["k"],
                         n_buckets=4, txn_app_id="t",
                         batch_id=version, mode=mode)


def _engine(spark, path, rows, version, mode="latest_wins"):
    df = spark.createDataFrame(
        [(r["k"], r["v"], r["n"]) for r in rows],
        "k string, v string, n long")
    ing.foreach_batch_upsert(path, ["k"], n_buckets=4, txn_app_id="t",
                             mode=mode)(df, version)


_HISTORY = [
    ([{"k": "a", "v": "1", "n": 10}, {"k": "b", "v": "1", "n": 20}], 1),
    ([{"k": "c", "v": "1", "n": 30}], 2),
    ([{"k": "a", "v": "2", "n": 11}], 3),           # update
    ([{"k": "d", "v": "1", "n": None}], 4),          # null payload
]


def _state(spark, path):
    return sorted(tuple(r) for r in
                  ing.read_merged_table(spark, path)
                  .select("k", "v", "n").collect())


def test_local_merge_state_equals_engine_merge(spark, tmp_path):
    lp, ep = str(tmp_path / "local"), str(tmp_path / "engine")
    for rows, ver in _HISTORY:
        _local(spark, lp, rows, ver)
        _engine(spark, ep, rows, ver)
    assert _state(spark, lp) == _state(spark, ep)
    lm = ing.read_table_manifest(spark, lp)
    em = ing.read_table_manifest(spark, ep)
    assert lm["buckets"] == em["buckets"]  # identical bucket routing
    assert lm["txn"] == em["txn"]
    assert lm["origin"] == em["origin"]


def test_local_merge_change_feed_matches_engine(spark, tmp_path):
    from engagement_data_pipeline_spark.streaming.drain import (
        drain_changes)

    lp, ep = str(tmp_path / "local"), str(tmp_path / "engine")
    for rows, ver in _HISTORY:
        _local(spark, lp, rows, ver)
        _engine(spark, ep, rows, ver)

    def feed(path, state):
        got = []
        drain_changes(
            spark, path,
            lambda df, cid: got.append(
                (cid, sorted((r.k, r.op, r.v, r.v__old)
                             for r in df.collect()))),
            state_path=state)
        return got

    assert feed(lp, str(tmp_path / "s1")) == feed(ep, str(tmp_path / "s2"))


def test_engine_merge_continues_local_table(spark, tmp_path):
    """A table CREATED by local commits accepts later engine merges
    (and vice versa) — same layout, same claims, same txn chain."""
    p = str(tmp_path / "t")
    _local(spark, p, [{"k": "a", "v": "1", "n": 1}], 1)
    _engine(spark, p, [{"k": "b", "v": "1", "n": 2},
                       {"k": "a", "v": "2", "n": 3}], 2)
    _local(spark, p, [{"k": "b", "v": "2", "n": 4}], 3)
    assert _state(spark, p) == [("a", "2", 3), ("b", "2", 4)]


def test_local_merge_existing_wins_and_replay_skip(spark, tmp_path):
    p = str(tmp_path / "t")
    _local(spark, p, [{"k": "a", "v": "1", "n": 1}], 1,
           mode="existing_wins")
    _local(spark, p, [{"k": "a", "v": "CLOBBER", "n": 9}], 2,
           mode="existing_wins")
    assert _state(spark, p) == [("a", "1", 1)]
    # txn replay: re-running batch 2 (or 1) is a no-op commit-wise
    man_before = ing.read_table_manifest(spark, p)
    _local(spark, p, [{"k": "z", "v": "x", "n": 0}], 2,
           mode="existing_wins")
    assert ing.read_table_manifest(spark, p)["commit"] == \
        man_before["commit"]


def test_local_merge_applies_and_materializes_dv(spark, tmp_path):
    """A dv-deleted key stays dead through a local rewrite of its
    bucket, and the rewrite drops the bucket's dv entry (the engine's
    materialize-on-rewrite rule)."""
    p = str(tmp_path / "t")
    _local(spark, p, [{"k": f"k{i}", "v": "1", "n": i}
                      for i in range(8)], 1)
    keys = spark.createDataFrame([("k3",)], "k string")
    ing.delete_origins(spark, p, keys, strategy="dv")
    man = ing.read_table_manifest(spark, p)
    dv_buckets = set(ing._dv(man))
    assert dv_buckets  # the delete really is merge-on-read
    # rewrite EVERY bucket locally so the dv bucket is among the hits
    _local(spark, p, [{"k": f"k{i}", "v": "2", "n": i}
                      for i in range(8) if i != 3], 2)
    got = _state(spark, p)
    assert ("k3", "1", 3) not in got and ("k3", "2", 3) not in got
    assert ("k5", "2", 5) in got
    man2 = ing.read_table_manifest(spark, p)
    assert not (set(ing._dv(man2)) & dv_buckets)


def test_local_merge_refuses_oversized_and_bad_schema(spark, tmp_path):
    p = str(tmp_path / "t")
    with pytest.raises(ValueError, match="MAX_LOCAL_ROWS"):
        LM.upsert_rows_local(
            spark, p, [{"k": str(i)} for i in range(2000)],
            pa.schema([("k", pa.string())]), ["k"], txn_app_id="t",
            batch_id=1)
    with pytest.raises(ValueError, match="origin column"):
        LM.upsert_rows_local(spark, p, [{"x": "1"}],
                             pa.schema([("x", pa.string())]), ["k"],
                             txn_app_id="t", batch_id=1)


def test_mv_local_fold_equals_distributed_fold(spark, tmp_path,
                                               monkeypatch):
    """The _apply_delta bounded-delta fast path and the distributed
    path produce byte-equal MV state over the same history (inserts,
    update, group death)."""
    from engagement_data_pipeline_spark.streaming import mv as MV
    from engagement_data_pipeline_spark.streaming.drain import (
        drain_changes)

    src = str(tmp_path / "src")
    merge = ing.foreach_batch_upsert(src, ["k"], n_buckets=2,
                                     txn_app_id="src",
                                     mode="latest_wins")

    def _rows(*t):
        return spark.createDataFrame(list(t),
                                     "k string, grp string, x long")

    merge(_rows(("a", "g1", 1), ("b", "g2", 2)), 1)
    merge(_rows(("c", "g1", 3)), 2)
    merge(_rows(("a", "g3", 5)), 3)  # group move g1 -> g3
    ing.delete_origins(spark, src,
                       spark.createDataFrame([("b",)], "k string"))
    # g2 now dies (its only contributor deleted)

    metrics = {"n": ("k", "count"), "sx": ("x", "sum")}

    def build(mv_path, state, fold_max):
        monkeypatch.setattr(MV, "_LOCAL_FOLD_MAX", fold_max)
        drain_changes(
            spark, src, MV.mv_stream_sink(mv_path, ["grp"], metrics),
            state_path=state)
        return sorted(tuple(r) for r in
                      MV.read_mv(spark, mv_path, metrics).collect())

    local = build(str(tmp_path / "mv_local"),
                  str(tmp_path / "s1"), 512)
    dist = build(str(tmp_path / "mv_dist"), str(tmp_path / "s2"), 0)
    assert local == dist
    assert local == [("g1", 1, 3), ("g3", 1, 5)]


def test_local_path_refuses_bucket_wider_than_batch(spark, tmp_path):
    """Schema-evolution data-loss regression: after a wide batch
    evolves the table, a NARROW batch whose keys collide into the
    wide row's bucket must NOT be merged by the local rewrite (it
    would drop the wide column's values) — it falls back to the
    engine's union-align, and the wide value survives."""
    import engagement_data_pipeline_spark.streaming.ingest as ing
    from engagement_data_pipeline_spark.streaming.local_merge import (
        local_bucket)

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=2)
    merge(spark.createDataFrame([("a", 1), ("b", 2)],
                                "k string, v int"), 0)
    merge(spark.createDataFrame([("c", 3, "x")],
                                "k string, v int, extra string"), 1)
    # a key that lands in c's bucket: the local fast path would
    # rewrite that bucket with the (k, v) batch schema
    twin = next(f"d{i}" for i in range(100)
                if local_bucket([f"d{i}"], 2) == local_bucket(["c"], 2))
    merge(spark.createDataFrame([(twin, 4)], "k string, v int"), 2)
    rows = {r["k"]: (r["v"], r["extra"])
            for r in ing.read_merged_table(spark, table).collect()}
    assert rows["c"] == (3, "x")
    assert rows[twin] == (4, None)
