"""Round-7: deletion vectors (merge-on-read deletes) on the versioned
merge table — the Delta DV / Iceberg positional-delete analog. A dv
delete must touch NO data file, readers must resolve it everywhere
(snapshot, time travel, point lookup, change feed, clone), and every
rewrite of a bucket (merge / rewrite-delete / compact / rebucket)
must materialize its pending deletes and drop the dv entry."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.streaming import ingest as ing


def _batch(spark, keys, val):
    return spark.createDataFrame(
        [(k, val) for k in keys], "origin string, payload string")


def _keys(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "origin string")


def _seed(spark, path, keys=("a", "b", "c"), n_buckets=4):
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=n_buckets)
    merge(_batch(spark, keys, "seed"), 0)
    return merge


def _data_dirs(root):
    return sorted(n for n in os.listdir(root)
                  if n.startswith("v") and not n.startswith("dv"))


def _dv_dirs(root):
    return sorted(n for n in os.listdir(root) if n.startswith("dv"))


def test_dv_delete_reads_and_touches_no_data(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path, keys=[f"k{i}" for i in range(12)])
    before_dirs = _data_dirs(tmp_path / "t")
    man_before = ing.read_table_manifest(spark, path)

    c = ing.delete_origins(spark, path, _keys(spark, ["k3", "k7"]),
                           strategy="dv")
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"k{i}" for i in range(12)} - {"k3", "k7"}
    # no data version written, no bucket version advanced
    assert _data_dirs(tmp_path / "t") == before_dirs
    man = ing.read_table_manifest(spark, path)
    assert man["buckets"] == man_before["buckets"]
    assert man["commit"] == c and man["op"] == "delete"
    assert len(_dv_dirs(tmp_path / "t")) == 1
    # point lookup resolves the dv too
    assert ing.lookup_origin(spark, path, ["k3"]).count() == 0
    assert ing.lookup_origin(spark, path, ["k4"]).count() == 1
    # history shows the dv write's amplification (hit buckets), even
    # though no data version advanced
    hist = ing.table_history(spark, path).first()
    assert hist.op == "delete" and 1 <= hist.n_buckets_touched <= 2


def test_dv_cumulative_same_bucket(spark, tmp_path):
    """Two dv deletes hitting one bucket: the second dv dir carries
    the UNION, so a bucket never needs more than one dv read."""
    path = str(tmp_path / "t")
    _seed(spark, path, keys=[f"k{i}" for i in range(8)], n_buckets=1)
    ing.delete_origins(spark, path, _keys(spark, ["k1"]), strategy="dv")
    ing.delete_origins(spark, path, _keys(spark, ["k2"]), strategy="dv")
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"k{i}" for i in range(8)} - {"k1", "k2"}
    man = ing.read_table_manifest(spark, path)
    assert len(man["dv"]) == 1  # one entry for the single bucket


def test_dv_merge_materializes_and_can_reinsert(spark, tmp_path):
    """A merge into a dv-carrying bucket materializes the pending
    deletes (dv entry dropped) and a re-inserted key comes back."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=["a", "b", "c"], n_buckets=1)
    ing.delete_origins(spark, path, _keys(spark, ["a", "b"]),
                       strategy="dv")
    merge(_batch(spark, ["a", "d"], "new"), 1)
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a": "new", "c": "seed", "d": "new"}  # b stays gone
    assert "dv" not in ing.read_table_manifest(spark, path)


def test_dv_change_feed_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path, keys=["a", "b", "c", "d"])
    pre = ing.read_table_manifest(spark, path)["commit"]
    c = ing.delete_origins(spark, path, _keys(spark, ["b", "d"]),
                           strategy="dv")
    feed = ing.table_changes(spark, path, from_commit=pre, to_commit=c)
    got = {(r.origin, r.op, r.payload) for r in feed.collect()}
    assert got == {("b", "delete", None), ("d", "delete", None)}
    # time travel to the pre-delete commit still shows every row
    old = {r.origin for r in ing.read_table_at(spark, path, pre).collect()}
    assert old == {"a", "b", "c", "d"}


def test_dv_compact_materializes_and_vacuum_reclaims(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path, keys=[f"k{i}" for i in range(10)])
    ing.delete_origins(spark, path, _keys(spark, ["k0", "k5"]),
                       strategy="dv")
    assert len(_dv_dirs(tmp_path / "t")) == 1
    ing.compact_table(spark, path, vacuum=True)
    man = ing.read_table_manifest(spark, path)
    assert "dv" not in man
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"k{i}" for i in range(10)} - {"k0", "k5"}
    assert _dv_dirs(tmp_path / "t") == []  # physically reclaimed


def test_dv_fully_emptied_bucket_survives_compact(spark, tmp_path):
    """dv-delete EVERY key of a single-bucket table, then compact: the
    bucket must leave the manifest (no dangling path), reads stay
    correct and empty."""
    path = str(tmp_path / "t")
    _seed(spark, path, keys=["a", "b"], n_buckets=1)
    ing.delete_origins(spark, path, _keys(spark, ["a", "b"]),
                       strategy="dv")
    assert ing.read_merged_table(spark, path).count() == 0
    ing.compact_table(spark, path, vacuum=True)
    man = ing.read_table_manifest(spark, path)
    assert man["buckets"] == {}
    assert "dv" not in man


def test_dv_vacuum_keeps_referenced_dv(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path, keys=["a", "b", "c"])
    ing.delete_origins(spark, path, _keys(spark, ["a"]), strategy="dv")
    ing.vacuum_table(spark, path, keep_manifests=1)
    assert len(_dv_dirs(tmp_path / "t")) == 1  # still referenced
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"b", "c"}


def test_dv_clone_zero_copy(spark, tmp_path):
    """A shallow clone of a dv-carrying table inherits the deletion
    vectors (rooted at the source) without copying anything; a merge
    on the clone materializes locally and leaves the source alone."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _seed(spark, src, keys=["a", "b", "c"], n_buckets=1)
    ing.delete_origins(spark, src, _keys(spark, ["b"]), strategy="dv")
    ing.clone_table(spark, src, dst)
    assert _dv_dirs(tmp_path / "dst") == []  # zero copy
    rows = {r.origin for r in ing.read_merged_table(spark, dst).collect()}
    assert rows == {"a", "c"}
    # clone-side merge materializes the inherited dv locally
    merge = ing.foreach_batch_upsert(dst, ["origin"])
    merge(_batch(spark, ["d"], "clone"), 1)
    rows = {r.origin for r in ing.read_merged_table(spark, dst).collect()}
    assert rows == {"a", "c", "d"}
    assert "dv" not in ing.read_table_manifest(spark, dst)
    # source unaffected
    rows = {r.origin for r in ing.read_merged_table(spark, src).collect()}
    assert rows == {"a", "c"}


def test_dv_rewrite_delete_mixes(spark, tmp_path):
    """A later REWRITE delete on a dv-carrying table: rewritten
    buckets materialize their dv; untouched buckets keep theirs."""
    path = str(tmp_path / "t")
    _seed(spark, path, keys=[f"k{i}" for i in range(16)], n_buckets=4)
    ing.delete_origins(spark, path, _keys(spark, ["k0", "k1", "k2"]),
                       strategy="dv")
    ing.delete_origins(spark, path, _keys(spark, ["k3"]),
                       strategy="rewrite")
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"k{i}" for i in range(16)} - {"k0", "k1", "k2", "k3"}


def test_dv_rows_metadata_and_trigger(spark, tmp_path):
    """The manifest carries per-bucket deleted-key counts, and
    `maybe_compact` uses them — METADATA ONLY — to materialize
    deletes before the dv outgrows broadcast size."""
    path = str(tmp_path / "t")
    _seed(spark, path, keys=[f"k{i}" for i in range(10)], n_buckets=1)
    ing.delete_origins(spark, path, _keys(spark, ["k1", "k2"]),
                       strategy="dv")
    ing.delete_origins(spark, path, _keys(spark, ["k3"]), strategy="dv")
    man = ing.read_table_manifest(spark, path)
    assert sum(int(n) for n in man["dv_rows"].values()) == 3
    # under the threshold: no compaction
    assert not ing.maybe_compact(spark, path, max_dv_rows=3)
    assert "dv" in ing.read_table_manifest(spark, path)
    # over it: compacts and clears the dv
    assert ing.maybe_compact(spark, path, max_dv_rows=2)
    man = ing.read_table_manifest(spark, path)
    assert "dv" not in man and "dv_rows" not in man
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"k{i}" for i in range(10)} - {"k1", "k2", "k3"}


def test_dv_secondary_index_follows(spark, tmp_path):
    """The CDF-driven secondary index forgets dv-deleted rows on
    refresh — the feed reports them as op='delete' without any data
    rewrite on the base table."""
    from engagement_data_pipeline_spark.streaming import secondary as sec

    path = str(tmp_path / "t")
    idx = str(tmp_path / "idx")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=2)
    merge(spark.createDataFrame(
        [("o1", "red"), ("o2", "blue"), ("o3", "red")],
        "origin string, color string"), 0)
    sec.build_value_index(spark, path, idx, "color")
    ing.delete_origins(spark, path, _keys(spark, ["o1"]), strategy="dv")
    sec.refresh_value_index(spark, path, idx, "color")
    got = {(r.color, r.origin)
           for r in ing.read_merged_table(spark, idx).collect()}
    assert got == {("red", "o3"), ("blue", "o2")}


# --- cross-doc duplicated-span coverage (ExactSubstr signal) ---------------

def test_dup_span_stats_hand_example(spark):
    from engagement_data_pipeline_spark.training.cleaning import (
        dup_span_stats)

    shared = "one two three four five six seven eight nine"  # 9 words
    docs = spark.createDataFrame(
        [(1, shared + " tail-a unique-a"),
         (2, "head-b " + shared + " tail-b"),
         (3, "totally different words with no overlap at all here")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dup_span_stats(docs, k=8).collect()}
    # doc 1: 11 words, grams at pos 0..3; shared 9-word span yields two
    # overlapping dup 8-grams (pos 0,1) -> union covers 9 tokens
    assert out[1].n_words == 11 and out[1].n_grams == 4
    assert out[1].n_dup_grams == 2 and out[1].dup_tokens == 9
    assert abs(out[1].dup_frac - 9 / 11) < 1e-12
    # doc 2: same two dup grams at pos 1,2
    assert out[2].n_dup_grams == 2 and out[2].dup_tokens == 9
    # doc 3: clean
    assert out[3].n_dup_grams == 0 and out[3].dup_tokens == 0
    assert out[3].dup_frac == 0.0


def test_dup_span_within_doc_repeat_excluded(spark):
    """A k-gram repeated WITHIN one doc only (no second document) is
    not a cross-corpus duplicate."""
    from engagement_data_pipeline_spark.training.cleaning import (
        dup_span_stats)

    span = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, span + " x " + span), (2, "nothing in common here at all ok")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dup_span_stats(docs, k=8).collect()}
    assert out[1].n_dup_grams == 0


def test_dup_span_short_doc(spark):
    from engagement_data_pipeline_spark.training.cleaning import (
        dup_span_stats)

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], "doc_id long, text string")
    out = {r.doc_id: r for r in dup_span_stats(docs, k=8).collect()}
    assert out[1].n_grams == 0 and out[1].n_dup_grams == 0


def test_delete_where_predicate(spark, tmp_path):
    """DELETE WHERE analog: predicate evaluated on the snapshot,
    delete executed by key through the same commit machinery (both
    strategies)."""
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=4)
    merge(spark.createDataFrame(
        [(f"k{i}", "old" if i % 2 == 0 else "new") for i in range(10)],
        "origin string, payload string"), 0)
    ing.delete_where(spark, path, F.col("payload") == "old",
                     strategy="dv")
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"k{i}" for i in range(10) if i % 2 == 1}
    # SQL-string predicate + rewrite strategy
    ing.delete_where(spark, path, "origin = 'k1'", strategy="rewrite")
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"k{i}" for i in range(10) if i % 2 == 1 and i != 1}


def test_hard_negatives_labels_and_ranking(spark):
    from engagement_data_pipeline_spark.training.similarity import (
        hard_negatives)

    rows = [
        (0, [1.0, 0.0], 1),   # anchor
        (1, [0.99, 0.14], 1),  # nearest overall, SAME label: excluded
        (2, [0.9, 0.44], 2),   # nearest different-label
        (3, [0.0, 1.0], 2),    # orthogonal different-label
        (4, [-1.0, 0.0], 3),   # opposite
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = hard_negatives(df, [0], k=2).collect()
    assert [(r.vec_id, r.neg_label) for r in out] == [(2, 2), (3, 2)]
    assert all(r.anchor_label == 1 and r.neg_label != 1 for r in out)
    assert out[0].rank == 1 and out[0].cosine > out[1].cosine


def test_random_op_sequence_with_dv_matches_model(spark, tmp_path):
    """Random interleavings of merge / dv-delete / rewrite-delete /
    compact / rebucket / vacuum against a plain-dict model: after
    every operation the committed table must equal the model exactly.
    Extends the round-5 model test with deletion vectors — the
    interactions no single-op test sees (dv over dv, merge into
    dv-carrying buckets, compaction folding dvs, vacuum with live
    dvs)."""
    import random

    rng = random.Random(71)
    table = str(tmp_path / "model")
    merge = ing.foreach_batch_upsert(table, ["origin"], n_buckets=4,
                                     txn_app_id="model")
    model: dict[str, str] = {}
    batch_id = 0
    keys = [f"k{i}" for i in range(30)]

    def check():
        got = {(r.origin, r.payload)
               for r in ing.read_merged_table(spark, table).collect()}
        assert got == set(model.items())

    for step in range(16):
        op = rng.choice(["merge", "merge", "dv_delete", "dv_delete",
                         "delete", "compact", "rebucket", "vacuum"])
        if op == "merge" or not model:
            rows = [(k, f"v{step}") for k in rng.sample(keys, 6)]
            merge(spark.createDataFrame(
                rows, "origin string, payload string"), batch_id)
            batch_id += 1
            for k, v in rows:
                model.setdefault(k, v)  # existing-wins
        elif op in ("dv_delete", "delete"):
            del_keys = rng.sample(sorted(model), min(4, len(model)))
            ing.delete_origins(
                spark, table,
                spark.createDataFrame([(k,) for k in del_keys],
                                      "origin string"),
                strategy="dv" if op == "dv_delete" else "rewrite")
            for k in del_keys:
                model.pop(k)
        elif op == "compact":
            ing.compact_table(spark, table)
        elif op == "rebucket":
            ing.rebucket_table(spark, table, rng.choice([2, 4, 8]))
        else:
            ing.vacuum_table(spark, table, keep_manifests=2)
        check()


def test_compact_cluster_by_sorts_within_buckets(spark, tmp_path):
    """OPTIMIZE-with-clustering: after compact_table(cluster_by=...),
    every bucket file holds its rows in clustering order, so parquet
    row-group min/max are tight on the key (the range-skipping story
    for a hash-bucketed layout, where file-level pruning can't help)."""
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=2)
    merge(spark.createDataFrame(
        [(f"k{i}", (i * 37) % 100) for i in range(60)],
        "origin string, ts long"), 0)
    ing.compact_table(spark, path, cluster_by=[F.col("ts")])
    # rows inside each physical file must be in ts order
    from pyspark.sql import Window

    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    per_file = (ing.read_merged_table(spark, path)
                .withColumn("f", F.input_file_name())
                .withColumn("sorted_ok",
                            F.col("ts") >= F.lag("ts", 1, -1).over(w)))
    assert per_file.where(~F.col("sorted_ok")).count() == 0
    # content unchanged
    assert ing.read_merged_table(spark, path).count() == 60


def test_feed_batch_read_plans_only_changed_buckets(spark, tmp_path):
    """The feed's batch read (`table_changes`) serves MV/index refresh
    pre-images from its `__old` columns, so it must plan partitions
    for ONLY the buckets the window changed — planning every bucket
    would silently rescan the table every refresh."""
    from engagement_data_pipeline_spark.streaming.cdf_source import (
        MergeTableChangesDataSource)

    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=8)
    merge(_batch(spark, [f"k{i}" for i in range(64)], "seed"), 0)
    pre = ing.read_table_manifest(spark, path)["commit"]
    # touch exactly one key -> exactly its bucket changes
    ing.delete_origins(spark, path, _keys(spark, ["k1"]), strategy="dv")
    ch = ing.table_changes(spark, path, pre, include_old=True)
    ds = MergeTableChangesDataSource(options={
        "path": path, "fromCommit": str(pre), "includeOld": "true",
        "toCommit": str(ing.read_table_manifest(spark, path)["commit"])})
    planned = set()
    for p in ds.reader(ch.schema).partitions():
        planned.update(p.bucket if isinstance(p.bucket, list)
                       else [p.bucket])
    [k1_bucket] = [r[0] for r in _keys(spark, ["k1"]).select(
        ing.origin_bucket(["origin"], 8)).collect()]
    assert planned == {k1_bucket}
    # and it still serves the old payload of the deleted key
    assert [tuple(r) for r in ch.select(
        "origin", "op", "payload", "payload__old").collect()] == [
        ("k1", "delete", None, "seed")]
