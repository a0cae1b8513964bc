"""Tests for the row-local derived-table maintainer
(streaming/transform.py) and the run-manifest composed runner
(analysis/runner.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.analysis.runner import (
    read_run,
    record_stage,
    run_incremental_pipeline,
)
from engagement_data_pipeline_spark.streaming.drain import drain_changes
from engagement_data_pipeline_spark.streaming.ingest import (
    delete_origins,
    foreach_batch_upsert,
    read_merged_table,
    read_table_manifest,
    table_history,
)
from engagement_data_pipeline_spark.streaming.transform import (
    build_transform_table,
    refresh_transform_table,
    transform_stream_sink,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "id bigint, grp string, val bigint")


def _src_with_history(spark, path):
    """3-commit source: insert, update (flip some parities / values),
    delete."""
    merge = foreach_batch_upsert(path, ["id"], n_buckets=4,
                                 bucket_cols=["grp"], txn_app_id="src",
                                 mode="latest_wins")
    merge(_rows(spark, [(i, f"g{i % 3}", i) for i in range(20)]), 1)
    # id 4 -> odd val (leaves the filter), id 5 -> even val (enters),
    # id 6 -> stays even but value changes
    merge(_rows(spark, [(4, "g1", 41), (5, "g2", 50), (6, "g0", 600)]), 2)
    delete_origins(spark, path,
                   _rows(spark, [(8, "g2", 0), (9, "g0", 0)])
                   .select("id", "grp"), strategy="dv")


def _evens(df):
    """Row-local transform: filter + project (1 -> <=1 rows)."""
    return (df.where(F.col("val") % 2 == 0)
            .select("id", "grp", (F.col("val") * 10).alias("out")))


def _state(df):
    """Row set in sorted-column order (the merge may reorder stored
    columns across refreshes; readers select by name)."""
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


def _expected(spark, src_path, transform):
    return _state(transform(read_merged_table(spark, src_path)))


def test_transform_table_pull_refresh(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    dst = os.path.join(str(tmp_path), "dst")
    merge = foreach_batch_upsert(src, ["id"], n_buckets=4,
                                 bucket_cols=["grp"], txn_app_id="src",
                                 mode="latest_wins")
    merge(_rows(spark, [(i, f"g{i % 3}", i) for i in range(20)]), 1)
    build_transform_table(spark, src, dst, _evens, ["id"],
                          n_buckets=4, bucket_cols=["grp"])
    assert _state(read_merged_table(spark, dst)) \
        == _expected(spark, src, _evens)
    # update + delete commits, one refresh each
    merge(_rows(spark, [(4, "g1", 41), (5, "g2", 50), (6, "g0", 600)]), 2)
    assert refresh_transform_table(spark, src, dst, _evens) == 2
    assert _state(read_merged_table(spark, dst)) \
        == _expected(spark, src, _evens)
    # id 4 left the filter on update -> its derived row must be gone
    assert read_merged_table(spark, dst).where("id = 4").count() == 0
    delete_origins(spark, src,
                   _rows(spark, [(8, "g2", 0), (9, "g0", 0)])
                   .select("id", "grp"), strategy="dv")
    assert refresh_transform_table(spark, src, dst, _evens) == 3
    assert _state(read_merged_table(spark, dst)) \
        == _expected(spark, src, _evens)
    # already current -> no-op
    assert refresh_transform_table(spark, src, dst, _evens) is None


def _explode_n(df):
    """Row-local 1 -> N transform keyed (id, k): val decides N."""
    return (df.select("id", "grp",
                      F.explode(F.sequence(F.lit(1),
                                           (F.col("val") % 3) + 1))
                      .alias("k"))
            .withColumn("tag", F.concat_ws(":", "id", "k")))


def test_transform_table_one_to_n(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    dst = os.path.join(str(tmp_path), "dst")
    merge = foreach_batch_upsert(src, ["id"], n_buckets=4,
                                 txn_app_id="src", mode="latest_wins")
    merge(_rows(spark, [(i, f"g{i % 3}", i) for i in range(9)]), 1)
    build_transform_table(spark, src, dst, _explode_n, ["id", "k"],
                          n_buckets=4)
    # shrink id 2's fan-out (val 2 -> 3 rows, val 3 -> 1 row): stale
    # (id,k) outputs must be swept
    merge(_rows(spark, [(2, "g2", 3)]), 2)
    assert refresh_transform_table(spark, src, dst, _explode_n) == 2
    assert _state(read_merged_table(spark, dst)) \
        == _expected(spark, src, _explode_n)
    assert read_merged_table(spark, dst).where("id = 2").count() == 1


def test_transform_stream_sink_matches_batch(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    dst = os.path.join(str(tmp_path), "dst")
    _src_with_history(spark, src)
    drain_changes(spark, src, transform_stream_sink(
        dst, _evens, ["id"], ["id", "grp", "val"],
        n_buckets=4, bucket_cols=["grp"]), timeout_s=60)
    assert _state(read_merged_table(spark, dst)) \
        == _expected(spark, src, _evens)


def test_transform_ownership_refused(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    pull = os.path.join(str(tmp_path), "pull")
    push = os.path.join(str(tmp_path), "push")
    merge = foreach_batch_upsert(src, ["id"], n_buckets=4,
                                 txn_app_id="src", mode="latest_wins")
    merge(_rows(spark, [(1, "g1", 2)]), 1)
    build_transform_table(spark, src, pull, _evens, ["id"], n_buckets=4)
    drain_changes(spark, src, transform_stream_sink(
        push, _evens, ["id"], ["id", "grp", "val"], n_buckets=4),
        timeout_s=60)
    merge(_rows(spark, [(2, "g2", 4)]), 2)
    with pytest.raises(ValueError, match="transform_stream_sink"):
        refresh_transform_table(spark, src, push, _evens)
    sink = transform_stream_sink(pull, _evens, ["id"],
                                 ["id", "grp", "val"])
    # the sink's refusal surfaces through the stream wrapper
    with pytest.raises(Exception, match="refresh_transform_table"):
        drain_changes(spark, src, sink, timeout_s=60)


# --- runner ----------------------------------------------------------------


def test_runner_records_and_resumes(spark, tmp_path):
    manifest = os.path.join(str(tmp_path), "runs")
    calls = {"a": 0, "b": 0, "c": 0}

    def stage(name, commit, fail=False):
        def _go():
            calls[name] += 1
            if fail and calls[name] == 1:
                raise RuntimeError("boom")
            return commit
        return _go

    with pytest.raises(RuntimeError, match="boom"):
        run_incremental_pipeline(spark, manifest, "r1", [
            ("a", stage("a", 5)),
            ("b", stage("b", 7, fail=True)),
            ("c", stage("c", 9)),
        ])
    state = read_run(spark, manifest, "r1")
    assert state["a"] == ("done", 5)
    assert state["b"][0] == "started"  # crashed mid-stage
    assert "c" not in state
    assert state["__run__"][0] == "started"
    # resume: a is skipped (not re-run), b re-runs, c runs
    out = run_incremental_pipeline(spark, manifest, "r1", [
        ("a", stage("a", 5)),
        ("b", stage("b", 7, fail=True)),
        ("c", stage("c", 9)),
    ])
    assert out == {"a": 5, "b": 7, "c": 9}
    assert calls == {"a": 1, "b": 2, "c": 1}
    state = read_run(spark, manifest, "r1")
    assert state["__run__"][0] == "done"
    assert state["b"] == ("done", 7)
    # fully-done run re-invoked: nothing re-runs
    out2 = run_incremental_pipeline(spark, manifest, "r1", [
        ("a", stage("a", 5)),
        ("b", stage("b", 7)),
        ("c", stage("c", 9)),
    ])
    assert out2 == out
    assert calls == {"a": 1, "b": 2, "c": 1}
    # the manifest's commit log reconstructs the run's transitions
    hist = table_history(spark, manifest)
    assert hist.count() == read_table_manifest(spark, manifest)["commit"]


def test_done_run_with_new_stage_is_loud(spark, tmp_path):
    manifest = os.path.join(str(tmp_path), "runs")
    run_incremental_pipeline(spark, manifest, "r1",
                             [("a", lambda: 1)])
    with pytest.raises(ValueError, match="NEW run_id"):
        run_incremental_pipeline(spark, manifest, "r1",
                                 [("a", lambda: 1), ("b", lambda: 2)])


def test_runner_rejects_reserved_and_duplicate_names(spark, tmp_path):
    manifest = os.path.join(str(tmp_path), "runs")
    with pytest.raises(ValueError, match="reserved"):
        run_incremental_pipeline(spark, manifest, "r", [
            ("__run__", lambda: None)])
    with pytest.raises(ValueError, match="duplicate"):
        run_incremental_pipeline(spark, manifest, "r", [
            ("a", lambda: None), ("a", lambda: None)])


def test_record_stage_null_watermark(spark, tmp_path):
    manifest = os.path.join(str(tmp_path), "runs")
    record_stage(spark, manifest, "r9", "views", "started")
    record_stage(spark, manifest, "r9", "views", "done", 3)
    assert read_run(spark, manifest, "r9") == {"views": ("done", 3)}


def test_record_stage_survives_version_race(spark, tmp_path, monkeypatch):
    """A concurrent runner claiming the same per-write version makes
    the loser's merge a silent replay-skip; record_stage must verify
    and retry with a fresh version."""
    from engagement_data_pipeline_spark.analysis import runner as R

    manifest = os.path.join(str(tmp_path), "runs")
    record_stage(spark, manifest, "rA", "s1", "done", 1)
    record_stage(spark, manifest, "rA", "s2", "done", 2)
    real = R.read_table_manifest
    calls = {"n": 0}

    def stale_once(sp, path):
        man = real(sp, path)
        calls["n"] += 1
        if calls["n"] == 1 and man is not None:
            # simulate having read the manifest BEFORE a concurrent
            # writer advanced the version counter
            man = dict(man)
            man["txn"] = {**man.get("txn", {}),
                          R._MANIFEST_TXN: 0}
        return man

    monkeypatch.setattr(R, "read_table_manifest", stale_once)
    record_stage(spark, manifest, "rB", "s1", "done", 9)
    assert read_run(spark, manifest, "rB") == {"s1": ("done", 9)}
    assert calls["n"] >= 2  # first write was skipped, retry landed


def test_transform_refresh_keeps_payload_named_like_a_pre_image(
        spark, tmp_path, placement):
    """A source payload column literally named `x__old` is payload, not
    a pre-image: the feed carries it plus its own `x__old__old` twin,
    and a refresh over a window past the local-merge row bound (512)
    must fold it like any other column."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    merge = foreach_batch_upsert(src, ["k"], n_buckets=4,
                                 txn_app_id="src", mode="latest_wins")
    base = spark.range(1000).select(
        F.col("id").alias("k"), F.col("id").alias("v"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("x__old"))
    merge(base, 1)

    def tf(d):
        return d.where("k % 5 != 0").select("k", "x__old")

    build_transform_table(spark, src, dst, tf, ["k"], n_buckets=4)
    merge(base.where("k < 700").withColumn(
        "x__old", F.concat(F.lit("y"), F.col("k").cast("string"))), 2)
    delete_origins(spark, src, base.where("k >= 990").select("k"),
                   strategy="dv")
    assert refresh_transform_table(spark, src, dst, tf) == 3

    def state(df):
        return sorted((r.k, r.x__old) for r in df.collect())

    got = state(read_merged_table(spark, dst))
    assert got == state(tf(read_merged_table(spark, src)))
    assert (1, "y1") in got and (995, "x995") not in got
