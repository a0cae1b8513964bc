"""The change feed as a Structured Streaming SOURCE (PySpark 4 Python
Data Source API): offsets are commit ids, each micro-batch is the
row-level diff between two commits, dv deletes included. The
reference for both the stream and the batch read (`table_changes`,
the same Arrow kernel) is `_feed_oracle`: the Spark-SQL
`snapshot_diff` of two time-travel snapshots."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.operators.cdc import snapshot_diff
from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.streaming.cdf_source import (
    MergeTableChangesDataSource, read_changes_local)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "origin string, payload string")


def _feed_oracle(spark, path, a, b):
    """The feed window (a, b] computed independently of the Arrow
    kernel: `snapshot_diff` of `read_table_at(a)` and
    `read_table_at(b)`, joined to the new payload and, as
    `<col>__old`, the old one. Both snapshots are aligned to the
    column union with the head (the feed's schema is the table's
    latest), so columns and `changed_cols` order match
    `table_changes(include_old=True)`."""
    def aligned(df, *others):
        for o in others:
            df = df.unionByName(spark.createDataFrame([], o.schema),
                                allowMissingColumns=True)
        return df

    head = ing.read_merged_table(spark, path).limit(0)
    new = aligned(ing.read_table_at(spark, path, b), head)
    old = (ing.read_table_at(spark, path, a) if a > 0 else head)
    old = aligned(old, new)
    new = aligned(new, old)
    keys = list(ing.read_table_manifest(spark, path)["origin"])
    payload = [c for c in new.columns if c not in keys]
    diff = snapshot_diff(old, new, keys, sorted(payload))
    olds = old.select(*keys, *[F.col(c).alias(f"{c}__old")
                               for c in payload])
    return (diff.join(new, keys, "left").join(olds, keys, "left")
            .select(*keys, "op", "changed_cols", *payload,
                    *[f"{c}__old" for c in payload]))


def _rows(df, cols=None):
    return sorted(tuple(r) for r in df.select(*(cols or df.columns))
                  .collect())


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


def test_stream_batches_match_snapshot_diff_oracle(registered, spark,
                                                   tmp_path):
    """Cross-check the streaming source against the snapshot-diff
    oracle over the same commit window."""
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
    head = ing.read_table_manifest(spark, path)["commit"]
    oracle = set(_rows(_feed_oracle(spark, path, 1, head),
                       ["origin", "op", "payload"]))
    assert set(got) == oracle
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
    head = ing.read_table_manifest(spark, path)["commit"]
    assert sorted(got) == _rows(_feed_oracle(spark, path, 1, head),
                                ["origin", "op", "payload",
                                 "payload__old"])


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


def _bucket_of(spark, key, n_buckets):
    return spark.createDataFrame([(key,)], "k string").select(
        ing.origin_bucket(["k"], n_buckets)).first()[0]


def test_feed_keeps_column_added_outside_the_first_bucket(
        registered, spark, tmp_path, placement):
    """A schema-evolving merge that leaves bucket 0 alone: the feed's
    schema must still carry the added column — in the stream, the
    batch read (`table_changes`, with and without `select`) and the
    driver-side `read_changes_local` alike."""
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["k"], n_buckets=4)
    merge(spark.createDataFrame([(f"k{i}", i) for i in range(20)],
                                "k string, v int"), 0)
    base = ing.read_table_manifest(spark, path)
    assert 0 in base["buckets"]
    key = next(f"e{i}" for i in range(100)
               if _bucket_of(spark, f"e{i}", 4) != 0)
    merge(spark.createDataFrame([(key, 7, "x")],
                                "k string, v int, extra string"), 1)
    head = ing.read_table_manifest(spark, path)
    # the evolving commit really left bucket 0 on the old schema
    assert head["buckets"][0] == base["buckets"][0]
    lo, hi = int(base["commit"]), int(head["commit"])
    want = [(key, "insert", 7, "x")]
    cols = ["k", "op", "v", "extra"]

    lc = read_changes_local(path, lo, hi, max_rows=100)
    assert [tuple(r.get(c) for c in cols) for r in lc.rows] == want
    assert _rows(ing.table_changes(spark, path, lo), cols) == want
    assert _rows(ing.table_changes(spark, path, lo, select=["extra"]),
                 ["k", "op", "extra"]) == [(key, "insert", "x")]
    got: list[tuple] = []
    q = (spark.readStream.format("merge_table_changes")
         .option("path", path).option("startingCommit", str(lo)).load()
         .writeStream.foreachBatch(
             lambda df, _b: got.extend(_rows(df, cols)))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        _drain(q)
    finally:
        q.stop()
    assert got == want


def test_empty_window_over_nested_column_reads_empty(spark, tmp_path,
                                                    placement):
    """A window whose changed buckets hold no row-level change (a
    replay of identical rows) reads as an empty frame with the feed's
    columns, also when the table has a nested column."""
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["k"], n_buckets=2,
                                     txn_app_id="src",
                                     mode="latest_wins")
    df = spark.createDataFrame(
        [(f"k{i}", [("a", i)]) for i in range(6)],
        "k string, labs array<struct<s:string,n:int>>")
    merge(df, 1)
    merge(df.limit(2), 2)
    ch = ing.table_changes(spark, path, 1, 2, include_old=True)
    assert ch.columns == ["k", "op", "changed_cols", "labs", "labs__old"]
    assert ch.count() == 0


def test_table_changes_matches_snapshot_diff_over_random_history(
        spark, tmp_path, placement):
    """Property: over a random history holding inserts, latest-wins
    updates, dv and rewrite deletes, a compaction and one schema
    evolution, `table_changes(a, b, include_old=True)` equals the
    snapshot-diff oracle for every single-commit window and for
    spanning windows; the compaction's own window is empty."""
    import random

    rng = random.Random(23)
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=4,
                                     txn_app_id="src", mode="latest_wins")
    keys = [f"k{i}" for i in range(24)]
    live: set[str] = set()
    ddl = "origin string, payload string"
    evolved = False

    def upsert(rows, bid):
        merge(spark.createDataFrame(rows, ddl), bid)
        live.update(r[0] for r in rows)

    upsert([(k, "v0") for k in rng.sample(keys, 10)], 0)
    ops = ["insert", "update", "dv_delete", "rewrite_delete", "evolve",
           "compact", "update", "dv_delete"]
    rng.shuffle(ops)
    compact_commit = None
    for step, op in enumerate(ops, start=1):
        tag = f"v{step}"
        if op == "evolve":
            evolved, ddl = True, ddl + ", extra string"
            upsert([(k, tag, f"x{step}")
                    for k in rng.sample(sorted(live), 2)]
                   + [(f"n{step}", tag, None)], step)
        elif op in ("insert", "update"):
            pool = (sorted(live) if op == "update"
                    else [k for k in keys if k not in live])
            rows = [(k, tag) for k in rng.sample(pool, min(3, len(pool)))]
            upsert([r + ((f"y{step}",) if evolved else ()) for r in rows],
                   step)
        elif op == "compact":
            ing.compact_table(spark, path, vacuum=False)
            compact_commit = ing.read_table_manifest(spark, path)["commit"]
        else:
            dead = rng.sample(sorted(live), 2)
            ing.delete_origins(
                spark, path,
                spark.createDataFrame([(k,) for k in dead],
                                      "origin string"),
                strategy="dv" if op == "dv_delete" else "rewrite")
            live.difference_update(dead)
    head = int(ing.read_table_manifest(spark, path)["commit"])
    windows = ([(c - 1, c) for c in range(2, head + 1)]
               + [(0, head), (1, head), (2, head - 1)])
    for a, b in windows:
        got = ing.table_changes(spark, path, a, b, include_old=True)
        oracle = _feed_oracle(spark, path, a, b)
        assert got.columns == oracle.columns, (a, b)
        assert _rows(got) == _rows(oracle), (a, b)
    assert compact_commit is not None
    assert ing.table_changes(spark, path, compact_commit - 1,
                             compact_commit).count() == 0


def test_feed_schema_unions_versions_and_refuses_type_conflicts(tmp_path):
    """`_data_file_fields` reads one footer per version directory:
    columns union in first-seen bucket order, and a column that two
    versions type differently raises instead of picking one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engagement_data_pipeline_spark.streaming.cdf_source import (
        _data_file_fields)

    def write(ver, bucket, table):
        d = tmp_path / f"v{ver:08d}" / f"bucket={bucket}"
        d.mkdir(parents=True)
        pq.write_table(table, d / "part-0.parquet")

    write(1, 0, pa.table({"k": ["a"], "v": pa.array([1], pa.int32())}))
    write(1, 1, pa.table({"k": ["b"], "v": pa.array([2], pa.int32())}))
    write(2, 2, pa.table({"k": ["c"], "v": pa.array([3], pa.int32()),
                          "extra": ["x"]}))
    man = {"commit": 2, "n_buckets": 4, "origin": ["k"],
           "buckets": {0: 1, 1: 1, 2: 2}}
    got = _data_file_fields(str(tmp_path), man)
    assert [(n, str(t)) for n, t in got] == [
        ("k", "string"), ("v", "int32"), ("extra", "string")]
    # a later version typing the column differently raises, a wider
    # integer included: writers keep the table's types
    for ver, v in ((3, pa.array([4], pa.int64())), (4, ["not-an-int"])):
        write(ver, 3, pa.table({"k": ["d"], "v": v}))
        man["buckets"][3] = ver
        with pytest.raises(ValueError, match="column 'v'"):
            _data_file_fields(str(tmp_path), man)


def test_table_changes_placement_and_reversed_window(spark, tmp_path,
                                                    monkeypatch):
    """A window within `_DRIVER_WINDOW_BYTES` is diffed in the driver
    process (its plan scans no Python DataSource), a larger one on
    Python workers, with the same rows; a reversed window raises at
    call time instead of reading as "no changes"."""
    from engagement_data_pipeline_spark.streaming import cdf_source

    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=4,
                                     txn_app_id="src", mode="latest_wins")
    merge(_batch(spark, [("a", "1"), ("b", "2")]), 0)
    merge(_batch(spark, [("a", "9"), ("c", "3")]), 1)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    local = ing.table_changes(spark, path, 1, 2, include_old=True)
    assert "merge_table_changes" not in plan(local)
    monkeypatch.setattr(cdf_source, "_DRIVER_WINDOW_BYTES", -1)
    remote = ing.table_changes(spark, path, 1, 2, include_old=True)
    assert "merge_table_changes" in plan(remote)
    assert _rows(local) == _rows(remote) == [
        ("a", "update", "payload", "9", "1"),
        ("c", "insert", "", "3", None)]
    with pytest.raises(ValueError, match="reversed"):
        ing.table_changes(spark, path, 2, 1)
