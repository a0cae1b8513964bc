"""Incrementality tests: tie-safe watermarks (O3), retraction replay
(S3/F2), WS-correction moves (M10/M11), streaming foreachBatch merge."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from engagement_data_pipeline_spark.labels.schema import MESSAGE_SCHEMA
from engagement_data_pipeline_spark.labels.ws_correction import (
    WS_SCHEME_ID,
    apply_ws_correction,
)
from engagement_data_pipeline_spark.operators.incremental import (
    incremental_fetch,
    load_watermarks,
    save_watermarks,
    tie_safe_watermark,
    truncate_incomplete_tie_group,
)

T = dt.datetime(2024, 1, 10)


def hours(n):
    return T + dt.timedelta(hours=n)


def msg(mid, dataset, status="live", lu=T, participant="p1", prev=(),
        labels=()):
    return (mid, participant, "txt", T, "in", "op", status, dataset,
            list(prev), list(labels), ("o-" + mid, "t"), "sha", lu)


def test_tie_safe_watermark_complete_batch(spark):
    df = spark.createDataFrame([(hours(1),), (hours(2),), (hours(2),)], "ts timestamp")
    assert tie_safe_watermark(df, "ts", complete=True) == hours(2)


def test_tie_safe_watermark_truncated_batch_excludes_max_tie_group(spark):
    df = spark.createDataFrame([(hours(1),), (hours(2),), (hours(2),)], "ts timestamp")
    # the hours(2) group may continue beyond the fetch → commit hours(1)
    assert tie_safe_watermark(df, "ts", complete=False) == hours(1)
    kept = truncate_incomplete_tie_group(df, "ts").collect()
    assert [r.ts for r in kept] == [hours(1)]


def test_tie_safe_watermark_empty_batch(spark):
    df = spark.createDataFrame([], "ts timestamp")
    assert tie_safe_watermark(df, "ts", complete=False) is None


def test_watermark_state_roundtrip(spark, tmp_path):
    path = str(tmp_path / "wm")
    assert load_watermarks(spark, path) == {}
    save_watermarks(spark, path, {"s01e01": hours(3)})
    assert load_watermarks(spark, path) == {"s01e01": hours(3)}


def test_incremental_fetch_replays_retraction(spark):
    """A message cached under dataset A that moved to B after the
    watermark must end up ONLY under B."""
    v1 = msg("m1", "A", lu=hours(0))
    v2 = msg("m1", "B", lu=hours(2), prev=["A"])
    other = msg("m2", "A", lu=hours(0))
    messages = spark.createDataFrame([v1, v2, other], MESSAGE_SCHEMA)
    cached = spark.createDataFrame([v1, other], MESSAGE_SCHEMA)
    out = incremental_fetch(messages, cached, ["A", "B"],
                            hours(1), hours(1))
    got = {(r.message_id, r.dataset) for r in out.collect()}
    assert got == {("m1", "B"), ("m2", "A")}


def test_incremental_fetch_keeps_message_moved_back_to_current(spark):
    """previous_datasets containing the current dataset must NOT
    retract a message whose dataset is (again) that dataset
    (get_messages_in_datasets.py:76-79)."""
    v1 = msg("m1", "A", lu=hours(0))
    v2 = msg("m1", "A", lu=hours(2), prev=["B"])  # went A→B→A historically? prev has B
    messages = spark.createDataFrame(
        [v1, v2, msg("m1x", "B", lu=hours(2), prev=["A"])], MESSAGE_SCHEMA)
    cached = spark.createDataFrame([v1], MESSAGE_SCHEMA)
    out = incremental_fetch(messages, cached, ["A", "B"], hours(1), hours(1))
    got = {(r.message_id, r.dataset) for r in out.collect()}
    assert ("m1", "A") in got


def label(scheme, code, checked=True):
    return (scheme, code, T, checked, "t")


def test_ws_correction_moves_message(spark):
    rows = [msg("m1", "age", labels=[label("age_scheme", "WS"),
                                     label(WS_SCHEME_ID, "ws_gender")]),
            msg("m2", "age", labels=[label("age_scheme", "age_20")])]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    out = {r.message_id: r for r in apply_ws_correction(
        df, ["age_scheme"], {"ws_gender": "gender"}).collect()}
    assert out["m1"].dataset == "gender"
    assert out["m1"].previous_datasets == ["age"]
    assert out["m1"].labels == []
    assert out["m2"].dataset == "age"          # untouched
    assert len(out["m2"].labels) == 1


def test_ws_correction_unchecked_does_not_move(spark):
    rows = [msg("m1", "age", labels=[label("age_scheme", "WS", checked=False),
                                     label(WS_SCHEME_ID, "ws_gender")])]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    out = apply_ws_correction(df, ["age_scheme"], {"ws_gender": "gender"}).collect()[0]
    assert out.dataset == "age"


def test_ws_unmapped_code_is_noop(spark):
    """A checked WS-scheme code with no mapped target dataset (the
    reference's 'right place unknown' refusal, lib.py:249-253) must
    leave the message untouched — not null the dataset or clear
    labels."""
    rows = [msg("m1", "age", labels=[label("age_scheme", "WS"),
                                     label(WS_SCHEME_ID, "ws_mystery")])]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    out = apply_ws_correction(df, ["age_scheme"], {"ws_gender": "gender"}).collect()[0]
    assert out.dataset == "age"
    assert out.previous_datasets == []
    assert len(out.labels) == 2


def test_ws_cycle_fix_resets_to_first_previous(spark):
    """Target already in previous_datasets → M11: reset to
    previous_datasets[0], empty the history."""
    rows = [msg("m1", "age", prev=["gender", "location"],
                labels=[label("age_scheme", "WS"),
                        label(WS_SCHEME_ID, "ws_gender")])]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    out = apply_ws_correction(df, ["age_scheme"], {"ws_gender": "gender"}).collect()[0]
    assert out.dataset == "gender"             # previous_datasets[0]
    assert out.previous_datasets == []
    assert out.labels == []


def test_streaming_foreach_batch_merge_is_idempotent(spark, tmp_path):
    import time

    from engagement_data_pipeline_spark.streaming import (
        foreach_batch_upsert,
        stream_csv_source,
    )
    from engagement_data_pipeline_spark.streaming.ingest import (
        read_merged_table,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.csv").write_text(
        "Sender,Message,ReceivedOn\n"
        "avf-participant-uuid-1,hello,5/1/2024 10:30:00\n")
    table = str(tmp_path / "messages_table")
    ckpt1 = str(tmp_path / "ckpt1")

    def run(ckpt):
        stream = stream_csv_source(spark, str(landing))
        q = (stream.writeStream.trigger(availableNow=True)
             .option("checkpointLocation", ckpt)
             .foreachBatch(foreach_batch_upsert(table, ["Sender", "Message", "ReceivedOn"]))
             .start())
        q.awaitTermination(60)

    run(ckpt1)
    first = read_merged_table(spark, table).collect()
    assert len(first) == 1
    # replay the SAME file from a fresh checkpoint → merge must no-op
    run(str(tmp_path / "ckpt2"))
    again = read_merged_table(spark, table).collect()
    assert sorted(again) == sorted(first)
    # a new file arrives → only the new row is added
    (landing / "b.csv").write_text(
        "Sender,Message,ReceivedOn\n"
        "avf-participant-uuid-1,hello,5/1/2024 10:30:00\n"
        "avf-participant-uuid-2,world,6/1/2024 11:00:00\n")
    time.sleep(0.1)
    run(str(tmp_path / "ckpt3"))
    final = read_merged_table(spark, table).collect()
    assert len(final) == 2


def _current_files(spark, table):
    """(bucket → {path: mtime}) for the files the LATEST manifest
    references."""
    import glob
    import os

    from engagement_data_pipeline_spark.streaming.ingest import (
        _bucket_paths,
        read_table_manifest,
    )
    man = read_table_manifest(spark, table)
    out = {}
    for b, path in zip(sorted(man["buckets"]),
                       _bucket_paths(table, man["buckets"])):
        out[b] = {p: os.path.getmtime(p)
                  for p in glob.glob(f"{path}/*.parquet")}
    return out


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The merge target is hash-bucketed on the origin key; a
    micro-batch must re-write only the buckets its keys land in —
    untouched buckets' CURRENT files stay byte-for-byte in place (the
    new manifest keeps pointing at the same old version dirs)."""
    from engagement_data_pipeline_spark.streaming.ingest import (
        foreach_batch_upsert,
        origin_bucket,
        read_merged_table,
    )

    table = str(tmp_path / "t")
    merge = foreach_batch_upsert(table, ["k"], n_buckets=8)
    b1 = spark.createDataFrame([(f"k{i}", i) for i in range(40)],
                               "k string, v int")
    merge(b1, 0)

    snap1 = _current_files(spark, table)
    assert len(snap1) > 1

    b2 = spark.createDataFrame([("k1", 999), ("brand-new", 7)],
                               "k string, v int")
    merge(b2, 1)
    touched = {r[0] for r in
               b2.withColumn("b", origin_bucket(["k"], 8)).select("b").collect()}
    snap2 = _current_files(spark, table)
    untouched_checked = 0
    for bucket, files in snap1.items():
        if bucket not in touched:
            assert snap2[bucket] == files, f"untouched bucket {bucket} rewritten"
            untouched_checked += 1
    assert untouched_checked > 0
    # replay semantics: existing k1 wins, the new key is inserted
    out = {r["k"]: r["v"] for r in read_merged_table(spark, table).collect()}
    assert out["k1"] == 1 and out["brand-new"] == 7 and len(out) == 41


def test_merge_crash_mid_publish_leaves_prior_commit_readable(spark, tmp_path):
    """Kill-at-the-worst-point recovery: (a) writer dies AFTER writing
    the new version's data but BEFORE publishing the manifest — the
    unreferenced version dir must be invisible and the prior commit
    fully readable; (b) writer dies mid-manifest leaving a partial
    JSON (at its manifest temp: the final name only ever appears by a
    complete rename) — the reader must skip it; (c) the re-run of the
    interrupted batch (what the stream checkpoint does) converges to
    the correct merged table."""
    from unittest import mock

    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=4)
    b1 = spark.createDataFrame([(f"k{i}", i) for i in range(20)],
                               "k string, v int")
    merge(b1, 0)
    before = sorted(ing.read_merged_table(spark, table).collect())

    # (a) crash between data write and manifest publish
    b2 = spark.createDataFrame([("k1", 999), ("new-key", 7)],
                               "k string, v int")
    with mock.patch.object(ing, "_commit",
                           side_effect=IOError("killed mid-publish")):
        try:
            merge(b2, 1)
            raise AssertionError("merge should have died")
        except IOError:
            pass
    assert sorted(ing.read_merged_table(spark, table).collect()) == before

    # (b) partial manifest temp from a writer killed mid-write
    (tmp_path / "t" / "_log" / "00000002.json.tmp-dead0000").write_text(
        '{"commit": 2, "n_buckets": 4, "ori')
    assert sorted(ing.read_merged_table(spark, table).collect()) == before
    man = ing.read_table_manifest(spark, table)
    assert man["commit"] == 1

    # (c) checkpoint re-runs the batch: converges, replay-safe
    merge(b2, 1)
    out = {r["k"]: r["v"] for r in
           ing.read_merged_table(spark, table).collect()}
    assert out["k1"] == 1 and out["new-key"] == 7 and len(out) == 21


def test_compact_and_vacuum_bound_file_count(spark, tmp_path):
    """N merges accrete ≤1 file per touched bucket per batch;
    compact_table + vacuum collapses the table to ≤ n_buckets data
    files with identical contents, and old version dirs are gone."""
    import glob

    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=4)
    for i in range(6):
        merge(spark.createDataFrame([(f"k{i}-{j}", j) for j in range(5)],
                                    "k string, v int"), i)
    before = sorted(ing.read_merged_table(spark, table).collect())
    n_files_before = len(glob.glob(f"{table}/v*/bucket=*/*.parquet"))
    assert n_files_before > 4  # accretion actually happened

    ing.compact_table(spark, table)
    after_files = glob.glob(f"{table}/v*/bucket=*/*.parquet")
    assert len(after_files) <= 4
    # every surviving file belongs to the single compacted version
    assert len({p.split("/bucket=")[0] for p in after_files}) == 1
    assert sorted(ing.read_merged_table(spark, table).collect()) == before

    # merges keep working after compaction
    merge(spark.createDataFrame([("post-compact", 1)], "k string, v int"), 99)
    assert len(ing.read_merged_table(spark, table).collect()) == 31


def test_reader_snapshot_survives_concurrent_merge(spark, tmp_path):
    """MVCC property of the versioned layout: a reader that resolved
    its bucket paths from commit N keeps reading exactly commit N's
    rows even after a later merge commits N+1 — superseded files are
    only removed by vacuum, never by a merge."""
    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=4)
    merge(spark.createDataFrame([(f"k{i}", i) for i in range(10)],
                                "k string, v int"), 0)
    snapshot = ing.read_merged_table(spark, table)  # lazy: paths resolved now

    merge(spark.createDataFrame([("k1", 999), ("late", 7)],
                                "k string, v int"), 1)
    # the pre-merge snapshot still collects the commit-1 state
    assert len(snapshot.collect()) == 10
    assert {r["k"] for r in snapshot.collect()} == {f"k{i}" for i in range(10)}
    # a fresh reader sees commit 2
    assert len(ing.read_merged_table(spark, table).collect()) == 11


def test_rebucket_table_grows_bucket_count(spark, tmp_path):
    """rebucket_table re-hashes every row under the new bucket count
    (the growth path when buckets outgrow the size target); contents
    are unchanged and subsequent merges follow the NEW manifest even
    if the caller still passes the stale n_buckets."""
    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=2)
    merge(spark.createDataFrame([(f"k{i}", i) for i in range(30)],
                                "k string, v int"), 0)
    before = sorted(ing.read_merged_table(spark, table).collect())

    ing.rebucket_table(spark, table, 8)
    man = ing.read_table_manifest(spark, table)
    assert man["n_buckets"] == 8
    assert len(man["buckets"]) > 2
    assert sorted(ing.read_merged_table(spark, table).collect()) == before

    # a replayed row + a new row through the OLD callable (stale
    # n_buckets=2): manifest wins, replay no-ops, insert lands
    merge(spark.createDataFrame([("k1", 999), ("fresh", 5)],
                                "k string, v int"), 1)
    out = {r["k"]: r["v"] for r in
           ing.read_merged_table(spark, table).collect()}
    assert out["k1"] == 1 and out["fresh"] == 5 and len(out) == 31

    assert ing.suggest_n_buckets(0) == 1
    assert ing.suggest_n_buckets(100 * 2**40) == 262144  # 100 TB default


def test_table_changes_emits_only_new_rows(spark, tmp_path):
    """CDF between commits: batch-2 inserts appear as op='insert',
    replayed keys (existing-wins merge) produce NO change row."""
    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=4)
    merge(spark.createDataFrame([(f"k{i}", i) for i in range(10)],
                                "k string, v int"), 0)
    # replay k1 with a different payload (must lose) + two new keys
    merge(spark.createDataFrame([("k1", 999), ("n1", 100), ("n2", 200)],
                                "k string, v int"), 1)
    ch = ing.table_changes(spark, table, from_commit=1)
    rows = {r["k"]: (r["op"], r["v"]) for r in ch.collect()}
    assert rows == {"n1": ("insert", 100), "n2": ("insert", 200)}
    assert set(ch.columns) == {"k", "op", "changed_cols", "v"}


def test_table_changes_compaction_is_logical_noop(spark, tmp_path):
    """Compaction rewrites every bucket into a new commit but changes
    no logical row — the keyed changeset across that commit is empty,
    and the full from=1 feed still shows exactly the later inserts."""
    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=4)
    merge(spark.createDataFrame([(f"k{i}", i) for i in range(10)],
                                "k string, v int"), 0)
    merge(spark.createDataFrame([("x", 1)], "k string, v int"), 1)
    man_before = ing.read_table_manifest(spark, table)["commit"]
    ing.compact_table(spark, table, vacuum=False)
    assert ing.table_changes(spark, table,
                             from_commit=man_before).count() == 0
    feed = {r["k"] for r in
            ing.table_changes(spark, table, from_commit=1).collect()}
    assert feed == {"x"}


def test_table_changes_same_commit_empty_and_missing_raises(spark, tmp_path):
    import pytest as _pytest

    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=2)
    merge(spark.createDataFrame([("a", 1)], "k string, v int"), 0)
    assert ing.table_changes(spark, table, from_commit=1,
                             to_commit=1).count() == 0
    with _pytest.raises(Exception):
        ing.table_changes(spark, table, from_commit=99)


def test_time_travel_reads_each_commit(spark, tmp_path):
    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=4)
    merge(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), 0)
    merge(spark.createDataFrame([("c", 3)], "k string, v int"), 1)
    merge(spark.createDataFrame([("a", 99), ("d", 4)],
                                "k string, v int"), 2)
    v1 = {r["k"] for r in ing.read_table_at(spark, table, 1).collect()}
    v2 = {r["k"] for r in ing.read_table_at(spark, table, 2).collect()}
    v3 = {r["k"]: r["v"]
          for r in ing.read_table_at(spark, table, 3).collect()}
    assert v1 == {"a", "b"} and v2 == {"a", "b", "c"}
    assert v3 == {"a": 1, "b": 2, "c": 3, "d": 4}  # existing-wins
    latest = {r["k"]: r["v"]
              for r in ing.read_merged_table(spark, table).collect()}
    assert latest == v3


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=4)
    merge(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), 0)
    merge(spark.createDataFrame([("c", 3, "x")],
                                "k string, v int, extra string"), 1)
    rows = {r["k"]: (r["v"], r["extra"])
            for r in ing.read_merged_table(spark, table).collect()}
    assert rows == {"a": (1, None), "b": (2, None), "c": (3, "x")}
    # a later narrow batch still merges: dropped column NULL-fills
    merge(spark.createDataFrame([("d", 4)], "k string, v int"), 2)
    rows = {r["k"]: (r["v"], r["extra"])
            for r in ing.read_merged_table(spark, table).collect()}
    assert rows["d"] == (4, None) and rows["c"] == (3, "x")


def test_table_changes_across_schema_evolution(spark, tmp_path):
    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=4)
    merge(spark.createDataFrame([("a", 1)], "k string, v int"), 0)
    merge(spark.createDataFrame([("b", 2, "x")],
                                "k string, v int, extra string"), 1)
    ch = {r["k"]: (r["op"], r["extra"]) for r in
          ing.table_changes(spark, table, from_commit=1).collect()}
    assert ch == {"b": ("insert", "x")}


def test_lookup_origin_reads_one_bucket(spark, tmp_path):
    import engagement_data_pipeline_spark.streaming.ingest as ing

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["k"], n_buckets=8)
    merge(spark.createDataFrame([(f"k{i}", i) for i in range(64)],
                                "k string, v int"), 0)
    hit = ing.lookup_origin(spark, table, ["k7"])
    rows = hit.collect()
    assert [(r["k"], r["v"]) for r in rows] == [("k7", 7)]
    # the scan relation holds exactly one bucket directory's files
    files = {f.rsplit("/bucket=", 1)[1].split("/")[0]
             for f in hit.inputFiles()}
    assert len(files) == 1
    assert ing.lookup_origin(spark, table, ["nope"]).count() == 0
