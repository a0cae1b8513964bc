"""The change feed as a Structured Streaming SOURCE (PySpark 4 Python
Data Source API): offsets are commit ids, each micro-batch is the
row-level diff between two commits, dv deletes included, and the
stream's union must equal `table_changes` over the same window."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.streaming.cdf_source import (
    MergeTableChangesDataSource)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "origin string, payload string")


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(MergeTableChangesDataSource)
    return spark


def _drain(q, seconds=60):
    deadline = time.time() + seconds
    while time.time() < deadline:
        q.processAllAvailable()
        if not q.status["isDataAvailable"]:
            return
        time.sleep(0.2)


def test_stream_replays_history_and_follows_commits(
        registered, spark, tmp_path):
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(_batch(spark, [("a", "1"), ("b", "1"), ("c", "1")]), 1)

    got: list[tuple] = []

    def _sink(df, _bid):
        got.extend((r.origin, r.op, r.changed_cols, r.payload)
                   for r in df.collect())

    q = (spark.readStream.format("merge_table_changes")
         .option("path", path).load()
         .writeStream.foreachBatch(_sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        _drain(q)
        # history replay: the whole current snapshot as inserts
        assert sorted(got) == [("a", "insert", "", "1"),
                               ("b", "insert", "", "1"),
                               ("c", "insert", "", "1")]
        got.clear()

        # live commits: an update, an insert, and a dv delete
        merge(_batch(spark, [("a", "2"), ("d", "1")]), 2)
        ing.delete_origins(
            spark, path,
            spark.createDataFrame([("b",)], "origin string"),
            strategy="dv")
        _drain(q)
        assert sorted(got) == [("a", "update", "payload", "2"),
                               ("b", "delete", "", None),
                               ("d", "insert", "", "1")]
    finally:
        q.stop()


def test_stream_batches_match_table_changes(registered, spark, tmp_path):
    """Cross-check the streaming source against the batch feed over
    the same commit window."""
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=4,
                                     txn_app_id="src")
    merge(_batch(spark, [(f"k{i}", "v") for i in range(10)]), 1)
    merge(_batch(spark, [(f"k{i}", "v") for i in range(8, 14)]), 2)
    ing.delete_origins(spark, path,
                       spark.createDataFrame([("k0",), ("k13",)],
                                             "origin string"))

    got: list[tuple] = []

    def _sink(df, _bid):
        got.extend((r.origin, r.op, r.payload) for r in df.collect())

    q = (spark.readStream.format("merge_table_changes")
         .option("path", path).option("startingCommit", "1").load()
         .writeStream.foreachBatch(_sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        _drain(q)
    finally:
        q.stop()
    batch = {(r.origin, r.op, r.payload)
             for r in ing.table_changes(spark, path, 1).collect()}
    assert set(got) == batch
    assert len(got) == len(set(got))  # no duplicated emission


def test_include_old_retract_stream(registered, spark, tmp_path):
    """includeOld=true appends <col>__old columns carrying the
    PRE-change payload on updates and deletes — the retract-stream
    shape that lets a downstream incremental consumer subtract
    without consulting the source table."""
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=2,
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(_batch(spark, [("a", "1"), ("b", "2")]), 1)
    merge(_batch(spark, [("a", "9"), ("c", "3")]), 2)
    ing.delete_origins(spark, path,
                       spark.createDataFrame([("b",)], "origin string"),
                       strategy="dv")

    got: list[tuple] = []

    def _sink(df, _bid):
        got.extend((r.origin, r.op, r.payload, r.payload__old)
                   for r in df.collect())

    q = (spark.readStream.format("merge_table_changes")
         .option("path", path).option("startingCommit", "1")
         .option("includeOld", "true").load()
         .writeStream.foreachBatch(_sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
            time.sleep(0.2)
    finally:
        q.stop()
    assert sorted(got) == [("a", "update", "9", "1"),
                           ("b", "delete", None, "2"),
                           ("c", "insert", "3", None)]


def test_stream_follows_random_history_to_final_state(
        registered, spark, tmp_path):
    """Fuzz the source across a random op history (merges, updates,
    both delete strategies, a compaction): applying the streamed
    batches in order to a dict must reproduce the final table state,
    and maintenance-only commits must emit NO rows (keyed diff, not
    file diff)."""
    import random

    rng = random.Random(17)
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
    state: dict[str, str] = {}
    keys = [f"k{i}" for i in range(20)]
    # the source infers its schema from the table: seed before opening
    seed = [(k, "v0") for k in rng.sample(keys, 5)]
    merge(_batch(spark, seed), 0)
    state.update(dict(seed))

    applied: dict[str, str] = {}
    n_rows_seen = [0]

    def _sink(df, _bid):
        for r in df.collect():
            n_rows_seen[0] += 1
            if r.op == "delete":
                applied.pop(r.origin, None)
            else:
                applied[r.origin] = r.payload

    q = (spark.readStream.format("merge_table_changes")
         .option("path", path).load()
         .writeStream.foreachBatch(_sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        for step in range(6):
            op = rng.choice(["merge", "merge", "dv_delete", "delete"])
            if op == "merge" or not state:
                rows = [(k, f"v{step}") for k in rng.sample(keys, 5)]
                merge(_batch(spark, rows), step + 1)
                state.update(dict(rows))  # latest_wins
            else:
                dead = rng.sample(sorted(state), 2)
                ing.delete_origins(
                    spark, path,
                    spark.createDataFrame([(k,) for k in dead],
                                          "origin string"),
                    strategy="dv" if op == "dv_delete" else "rewrite")
                for k in dead:
                    state.pop(k)
            _drain(q)
            assert applied == state, f"step {step}"
        # maintenance-only commit: keyed diff => zero emitted rows
        before = n_rows_seen[0]
        ing.compact_table(spark, path, vacuum=False)
        _drain(q)
        assert n_rows_seen[0] == before
        assert applied == state
    finally:
        q.stop()


def test_stream_from_shallow_clone(registered, spark, tmp_path):
    """Streaming from a shallow clone: inherited versions and dvs live
    under the SOURCE root (manifest bases/dv_bases) — the source's
    path resolution must follow them for a zero-copy clone replay."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    merge = ing.foreach_batch_upsert(src, ["origin"], n_buckets=2)
    merge(_batch(spark, [("a", "1"), ("b", "2"), ("c", "3")]), 1)
    ing.delete_origins(spark, src,
                       spark.createDataFrame([("b",)], "origin string"),
                       strategy="dv")
    ing.clone_table(spark, src, dst)

    got: list[tuple] = []

    def _sink(df, _bid):
        got.extend((r.origin, r.op, r.payload) for r in df.collect())

    q = (spark.readStream.format("merge_table_changes")
         .option("path", dst).load()
         .writeStream.foreachBatch(_sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        _drain(q)
    finally:
        q.stop()
    assert sorted(got) == [("a", "insert", "1"), ("c", "insert", "3")]


def test_nested_cdf_fixture_commits_touch_disjoint_origins(
        registered, spark, tmp_path):
    # table_changes_nested reads commits 2..head as ONE netted diff;
    # that equals a per-commit drain only because no origin changes in
    # two of those commits
    from engagement_data_pipeline_spark.queries.streaming_q import (
        _nested_cdf_fixture)
    from engagement_data_pipeline_spark.streaming.cdf_source import (
        _latest_commit)

    sf = str(tmp_path / "sf")
    (spark.range(64)
     .select(F.col("id").alias("event_id"),
             F.lit("2024-01-10 00:00:00").cast("timestamp").alias("ts"))
     .write.parquet(f"{sf}/events.parquet"))
    table = _nested_cdf_fixture(spark, sf)
    head = _latest_commit(table)

    def origins(lo, hi):
        rows = (registered.read.format("merge_table_changes")
                .option("path", table).option("fromCommit", str(lo))
                .option("toCommit", str(hi)).load()
                .select("origin_id").collect())
        ids = [r.origin_id for r in rows]
        assert len(ids) == len(set(ids))
        return set(ids)

    per_commit = [origins(c - 1, c) for c in range(2, head + 1)]
    assert len(per_commit) == 2 and all(per_commit)
    assert not per_commit[0] & per_commit[1]
    assert origins(1, head) == per_commit[0] | per_commit[1]


def test_nested_labels_render_null_scheme_or_code_by_dropping_it(spark):
    from engagement_data_pipeline_spark.queries.streaming_q import (
        _labels_str)

    df = spark.createDataFrame(
        [(1, [("topic", "3"), ("topic", None), (None, "x"),
              ("extra", "x")]),
         (2, None), (3, []), (4, [(None, None)])],
        "k int, labels array<struct<scheme:string,code:string>>")
    got = {r.k: r.s for r in
           df.select("k", _labels_str(F.col("labels")).alias("s"))
           .collect()}
    assert got == {1: "topic:3,extra:x", 2: None, 3: "", 4: ""}
