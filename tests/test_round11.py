"""Round 11: persisted/stream-maintained ANN index, trained quantizer
wiring, incremental column views."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.training import ann_index as AI
from engagement_data_pipeline_spark.training import similarity as S

SF = "/root/testdata/sf0.001"
QUERY_IDS = [0, 1, 2, 3, 4]


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _queries_df(emb, ids=QUERY_IDS):
    return (emb.where(F.col("vec_id").isin(ids))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_emb")))


# --- indexed IVF == direct IVF --------------------------------------------

def test_ann_indexed_equals_direct(spark, tmp_path):
    """The persisted index must return BIT-IDENTICAL results to the
    per-query-assignment `cosine_topk_ivf` under the same quantizer —
    the index changes the read path, never the answer."""
    emb = _emb(spark)
    cents = S.seed_centroids_ivf(emb)
    idx = str(tmp_path / "ann")
    AI.build_ann_index(spark, emb, idx, cents)
    direct = {(r.query_id, r.vec_id, r.cosine, r.rank)
              for r in S.cosine_topk_ivf(emb, QUERY_IDS, 10).collect()}
    indexed = {(r.query_id, r.vec_id, r.cosine, r.rank)
               for r in AI.ann_topk_indexed(
                   spark, idx, _queries_df(emb), 10,
                   n_probe=S.IVF_NPROBE).collect()}
    assert indexed == direct
    assert len(indexed) == len(QUERY_IDS) * 10


def test_ann_indexed_reads_only_probed_buckets(spark, tmp_path):
    """The query's state read must be sliced to the probed cells'
    buckets (the whole point of persisting the assignment)."""
    emb = _emb(spark)
    cents = S.seed_centroids_ivf(emb)
    idx = str(tmp_path / "ann")
    AI.build_ann_index(spark, emb, idx, cents)
    man = ing.read_table_manifest(spark, f"{idx}/{AI.CELLS_DIR}")
    reads: list[list[int] | None] = []
    orig_rr = ing._read_resolved

    def _spy(spark_, table_path_, man_, only=None, **kw):
        reads.append(sorted(only) if only is not None else None)
        return orig_rr(spark_, table_path_, man_, only=only, **kw)

    ing._read_resolved = _spy
    try:
        AI.ann_topk_indexed(spark, idx, _queries_df(emb, [0]), 5,
                            n_probe=2).collect()
    finally:
        ing._read_resolved = orig_rr
    assert len(reads) == 1 and reads[0] is not None
    # 2 probed cells -> at most 2 buckets, strictly fewer than the
    # index's populated buckets (16 cells over >=2 buckets here)
    assert 1 <= len(reads[0]) <= 2 < len(man["buckets"])


def test_ann_stream_sink_matches_rebuild(spark, tmp_path):
    """Fold an insert/update/delete history through the sink; the
    maintained index must equal a from-scratch build on the final
    state — postings AND query answers."""
    emb = _emb(spark)
    cents = S.seed_centroids_ivf(emb)
    src = str(tmp_path / "src")
    merge = ing.foreach_batch_upsert(src, ["vec_id"], n_buckets=4,
                                     txn_app_id="fix", mode="latest_wins")
    rows = emb.select(F.col("vec_id").cast("string").alias("vec_id"),
                      "embedding")
    vid = F.col("vec_id").cast("long")
    merge(rows.where(vid % 5 != 4), 1)
    upd = (rows.where((vid % 7 == 3) & (vid % 5 != 4))
           .withColumn("embedding", F.reverse(F.col("embedding"))))
    merge(upd.unionByName(rows.where(vid % 5 == 4)), 2)
    ing.delete_origins(
        spark, src,
        rows.where((vid % 11 == 5) & (vid % 7 != 3) & (vid % 5 != 4))
        .select("vec_id"),
        strategy="dv")

    import tempfile

    from engagement_data_pipeline_spark.streaming.cdf_source import (
        MergeTableChangesDataSource)
    spark.dataSource.register(MergeTableChangesDataSource)
    idx = str(tmp_path / "ann_maintained")
    q = (spark.readStream.format("merge_table_changes")
         .option("path", src).option("includeOld", "true")
         .option("maxCommitsPerTrigger", "1").load()
         .writeStream.foreachBatch(AI.ann_index_stream_sink(idx, cents))
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="ann-ckpt-"))
         .start())
    q.processAllAvailable()
    q.stop()

    rebuilt = str(tmp_path / "ann_rebuilt")
    AI.build_ann_index(spark, ing.read_merged_table(spark, src), rebuilt,
                       cents, id_col="vec_id")
    got = {(r.cell, r.vec_id, tuple(r.embedding)) for r in
           ing.read_merged_table(spark, f"{idx}/{AI.CELLS_DIR}").collect()}
    want = {(r.cell, r.vec_id, tuple(r.embedding)) for r in
            ing.read_merged_table(spark,
                                  f"{rebuilt}/{AI.CELLS_DIR}").collect()}
    assert got == want and len(got) > 0
    qdf = (ing.read_merged_table(spark, src)
           .where(F.col("vec_id").cast("long").isin(QUERY_IDS))
           .select(F.col("vec_id").cast("long").alias("query_id"),
                   F.col("embedding").alias("q_emb")))
    a = {tuple(r) for r in
         AI.ann_topk_indexed(spark, idx, qdf, 10).collect()}
    b = {tuple(r) for r in
         AI.ann_topk_indexed(spark, rebuilt, qdf, 10).collect()}
    assert a == b and len(a) == len(QUERY_IDS) * 10


def test_ann_sink_refuses_foreign_or_retrained(spark, tmp_path):
    """The sink must refuse (a) a build-owned index (watermark
    namespaces never mix) and (b) a different quantizer (postings
    would be stale under it)."""
    emb = _emb(spark)
    cents = S.seed_centroids_ivf(emb)
    rows = emb.limit(50).select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding")
    # a hand-built insert-only retract batch (the stream's shape)
    batch = rows.select(
        F.lit("insert").alias("op"), F.lit("").alias("changed_cols"),
        "vec_id", "embedding",
        F.lit(None).cast("array<float>").alias("embedding__old"))

    built = str(tmp_path / "built")
    AI.build_ann_index(spark, rows, built, cents)
    with pytest.raises(ValueError, match="build_ann_index"):
        AI.ann_index_stream_sink(built, cents)(batch, 0)

    maintained = str(tmp_path / "maintained")
    AI.ann_index_stream_sink(maintained, cents)(batch, 0)
    other = [(cid, [v + 1.0 for v in vec], n) for cid, vec, n in cents]
    with pytest.raises(ValueError, match="quantizer"):
        AI.ann_index_stream_sink(maintained, other)(batch, 1)


# --- incremental column views (G1/G2): touched-participant re-fold ---------

def _mini_imputed(spark):
    """A tiny imputed-messages frame: 3 participants, RQA + demog
    rows, labels in the engine's Label schema."""
    rows = []
    for p in range(3):
        uuid = f"avf-participant-uuid-{p}"
        rows.append((f"m{p}_rqa", uuid, "s01e01", 1000 + p, f"answer {p}",
                     [("s01e01_theme_scheme", f"code_{p}"),
                      ("s01e01_sentiment_scheme", "sent_pos")], "telegram"))
        rows.append((f"m{p}_dem", uuid, "gender", 2000 + p, "male",
                     [("gender_scheme", "male")], "telegram"))
    df = spark.createDataFrame(
        rows, "message_id string, participant_uuid string, dataset string,"
              " ts long, text string, raw array<struct<s string, c string>>,"
              " channel_operator string")
    return df.select(
        "message_id", "participant_uuid", "dataset",
        F.timestamp_micros(F.col("ts") * 1000000).alias("timestamp"),
        "text",
        F.expr("transform(raw, l -> named_struct("
               "'scheme_id', l.s, 'code_id', l.c, "
               "'date_time_utc', timestamp_micros(0), "
               "'checked', true, 'origin_id', 'test'))").alias("labels"),
        "channel_operator")


def test_participants_view_incremental_bucket_sliced(spark, tmp_path):
    """A recode touching ONE participant must re-fold only that
    participant — and read only its bucket (spied) — and the fresh
    row must equal the batch view's row over the final state."""
    from engagement_data_pipeline_spark.labels.config import (
        SYNTHETIC_CONFIG)
    from engagement_data_pipeline_spark.labels.views import (
        participants_by_column, participants_view_incremental)

    table = str(tmp_path / "t")
    imp = _mini_imputed(spark)
    merge = ing.foreach_batch_upsert(table, ["message_id"], n_buckets=8,
                                     bucket_cols=["participant_uuid"],
                                     txn_app_id="src", mode="latest_wins")
    merge(imp, 1)
    recode = (imp.where("message_id = 'm1_rqa'")
              .withColumn("labels", F.expr(
                  "transform(labels, l -> CASE WHEN l.scheme_id = "
                  "'s01e01_theme_scheme' THEN named_struct("
                  "'scheme_id', l.scheme_id, 'code_id', 'code_recoded', "
                  "'date_time_utc', l.date_time_utc, 'checked', l.checked,"
                  " 'origin_id', l.origin_id) ELSE l END)")))
    merge(recode, 2)

    reads: list[list[int] | None] = []
    orig_rr = ing._read_resolved

    def _spy(spark_, table_path_, man_, only=None, **kw):
        reads.append(sorted(only) if only is not None else None)
        return orig_rr(spark_, table_path_, man_, only=only, **kw)

    ing._read_resolved = _spy
    try:
        got = participants_view_incremental(
            spark, table, 1, SYNTHETIC_CONFIG).collect()
    finally:
        ing._read_resolved = orig_rr
    assert len(got) == 1
    assert got[0]["participant_uuid"] == "avf-participant-uuid-1"
    assert got[0]["s01e01_theme_codes"] == "code_recoded"
    # the state read for the re-fold is sliced to ONE bucket (the
    # touched participant's); the change-feed machinery may read
    # whole changed buckets, but never `only=None` (a table scan)
    assert all(r is not None for r in reads)
    assert any(len(r) == 1 for r in reads)
    batch = {r["participant_uuid"]: r for r in participants_by_column(
        ing.read_merged_table(spark, table), SYNTHETIC_CONFIG).collect()}
    assert got[0] == batch["avf-participant-uuid-1"]


def test_participants_view_incremental_delete_drops_row(spark, tmp_path):
    """Deleting a participant's only RQA message must surface them as
    touched and fold them to NOTHING (F7) — the maintainer's cue to
    delete their row."""
    from engagement_data_pipeline_spark.labels.config import (
        SYNTHETIC_CONFIG)
    from engagement_data_pipeline_spark.labels.views import (
        participants_view_incremental)

    table = str(tmp_path / "t")
    imp = _mini_imputed(spark)
    merge = ing.foreach_batch_upsert(table, ["message_id"], n_buckets=8,
                                     bucket_cols=["participant_uuid"],
                                     txn_app_id="src", mode="latest_wins")
    merge(imp, 1)
    ing.delete_origins(
        spark, table,
        spark.createDataFrame([("m2_rqa", "avf-participant-uuid-2")],
                              "message_id string, participant_uuid string"),
        strategy="dv")
    got = participants_view_incremental(
        spark, table, 1, SYNTHETIC_CONFIG).collect()
    assert got == []  # touched, but no RQA messages left -> no row


# --- read_mv_distinct explicit distinct_cols (advisor note) -----------------

def test_read_mv_distinct_explicit_cols_validated(spark, tmp_path):
    """Passing distinct_cols must override inference (so reading a
    SUBSET of the sink's metrics cannot silently turn an omitted
    metric column into a witness key) and reject columns that are
    absent or collide with outer_group/metrics."""
    from engagement_data_pipeline_spark.streaming import mv as MV

    mvp = str(tmp_path / "mv")
    rows = spark.createDataFrame(
        [("g1", "w1", 5), ("g1", "w2", 7), ("g2", "w1", 11)],
        "grp string, wit string, v long").withColumn("sign", F.lit(1))
    metrics = {"n_rows": ("wit", "count"), "sum_v": ("v", "sum")}
    state = MV._signed_state(rows, ["grp", "wit"], metrics)
    merge = ing.foreach_batch_upsert(mvp, ["grp", "wit"],
                                     txn_app_id=MV._MV_STREAM_TXN)
    merge(state, 0)

    got = {r["grp"]: (r["n_wit"], r["sum_v"]) for r in MV.read_mv_distinct(
        spark, mvp, ["grp"], metrics, distinct_name="n_wit",
        distinct_cols=["wit"]).collect()}
    assert got == {"g1": (2, 12), "g2": (1, 11)}
    # a SUBSET of the metrics with explicit distinct_cols: the omitted
    # metric column must NOT become a witness key
    got2 = {r["grp"]: r["n_wit"] for r in MV.read_mv_distinct(
        spark, mvp, ["grp"], {"n_rows": ("wit", "count")},
        distinct_name="n_wit", distinct_cols=["wit"]).collect()}
    assert got2 == {"g1": 2, "g2": 1}
    with pytest.raises(ValueError, match="not in MV state"):
        MV.read_mv_distinct(spark, mvp, ["grp"], metrics,
                            distinct_cols=["nope"]).collect()
    with pytest.raises(ValueError, match="collide"):
        MV.read_mv_distinct(spark, mvp, ["grp"], metrics,
                            distinct_cols=["grp"]).collect()


# --- maintained G1 view: refresh ownership guard ----------------------------

def test_refresh_participants_view_refuses_foreign_table(spark, tmp_path):
    from engagement_data_pipeline_spark.labels.config import (
        SYNTHETIC_CONFIG)
    from engagement_data_pipeline_spark.labels.views import (
        refresh_participants_view)

    table = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(table, ["message_id"], n_buckets=2,
                                     txn_app_id="src")
    merge(_mini_imputed(spark), 1)
    with pytest.raises(ValueError, match="watermark"):
        refresh_participants_view(spark, table, table, SYNTHETIC_CONFIG)


# --- self-review regressions (round-11 review findings) ---------------------

def test_ann_build_refuses_existing_index(spark, tmp_path):
    """Re-building over an existing index must refuse loudly: the
    merge watermark would replay-skip the postings while the quantizer
    had already been overwritten — silently wrong neighbors."""
    emb = _emb(spark).limit(40)
    cents = S.seed_centroids_ivf(emb, list(range(0, 28, 7)))
    idx = str(tmp_path / "ann")
    AI.build_ann_index(spark, emb, idx, cents)
    with pytest.raises(ValueError, match="fresh path"):
        AI.build_ann_index(spark, emb, idx, cents)


def test_ann_indexed_empty_queries_and_string_ids(spark, tmp_path):
    """An empty query frame returns an empty typed result (matching
    cosine_topk_ivf), and a STRING-keyed corpus round-trips: the
    self-match exclusion compares strings, never a lossy long cast."""
    emb = _emb(spark).limit(60)
    cents = S.seed_centroids_ivf(emb, list(range(0, 28, 7)))
    rows = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string"))
        .alias("doc_id"), "embedding")
    idx = str(tmp_path / "ann")
    AI.build_ann_index(spark, rows, idx, cents, id_col="doc_id")
    empty = AI.ann_topk_indexed(
        spark, idx, rows.limit(0).select(
            F.col("doc_id").alias("query_id"),
            F.col("embedding").alias("q_emb")),
        5, id_out_type="string")
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "vec_id", "cosine", "rank"]
    got = AI.ann_topk_indexed(
        spark, idx,
        rows.where(F.col("doc_id") == "doc-3").select(
            F.col("doc_id").alias("query_id"),
            F.col("embedding").alias("q_emb")),
        5, id_out_type="string").collect()
    assert len(got) == 5
    assert all(r.vec_id.startswith("doc-") and r.vec_id != "doc-3"
               for r in got)


# --- ANN sink random-ops model test -----------------------------------------

def test_ann_sink_random_histories_match_rebuild(spark, tmp_path):
    """Seeded-random insert/update/delete histories folded through the
    sink must equal a from-scratch build on each final state — the
    ingest-path model-test idiom (cf. tests/test_round7.py) applied to
    the ANN index. Also queries with EXTERNAL embeddings (query vector
    not in the corpus): the probe path takes any (query_id, q_emb)."""
    import random
    import tempfile

    from engagement_data_pipeline_spark.streaming.cdf_source import (
        MergeTableChangesDataSource)

    emb = _emb(spark).limit(80)
    cents = S.seed_centroids_ivf(emb, list(range(0, 28, 7)))
    pool = [(str(r.vec_id), list(r.embedding)) for r in emb.collect()]
    spark.dataSource.register(MergeTableChangesDataSource)

    for seed in (7, 23):
        rng = random.Random(seed)
        src = str(tmp_path / f"src{seed}")
        merge = ing.foreach_batch_upsert(src, ["vec_id"], n_buckets=4,
                                         txn_app_id="fix",
                                         mode="latest_wins")
        alive: dict[str, list[float]] = {}
        commit = 0
        base = rng.sample(pool, 50)
        commit += 1
        merge(spark.createDataFrame(base,
                                    "vec_id string, embedding array<float>"),
              commit)
        alive.update(dict(base))
        for _ in range(3):
            ups, dels = [], []
            for vid, vec in rng.sample(sorted(alive.items()), 8):
                if rng.random() < 0.4:
                    dels.append((vid,))
                    del alive[vid]
                else:
                    nv = list(reversed(vec)) if rng.random() < 0.5 else \
                        vec[1:] + vec[:1]
                    ups.append((vid, nv))
                    alive[vid] = nv
            # re-inserting a vid deleted THIS round would be undone
            # by the delete commit applied after the merge below
            round_dels = {d[0] for d in dels}
            fresh = [p for p in pool
                     if p[0] not in alive and p[0] not in round_dels
                     and rng.random() < 0.1]
            for vid, vec in fresh:
                ups.append((vid, vec))
                alive[vid] = vec
            if ups:
                commit += 1
                merge(spark.createDataFrame(
                    ups, "vec_id string, embedding array<float>"), commit)
            if dels:
                ing.delete_origins(
                    spark, src,
                    spark.createDataFrame(dels, "vec_id string"),
                    strategy="dv")
                commit += 1

        idx = str(tmp_path / f"ann{seed}")
        q = (spark.readStream.format("merge_table_changes")
             .option("path", src).option("includeOld", "true")
             .option("maxCommitsPerTrigger", "1").load()
             .writeStream.foreachBatch(
                 AI.ann_index_stream_sink(idx, cents))
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="ann-model-ckpt-"))
             .start())
        q.processAllAvailable()
        q.stop()

        rebuilt = str(tmp_path / f"rebuilt{seed}")
        AI.build_ann_index(spark, ing.read_merged_table(spark, src),
                           rebuilt, cents)
        got = {(r.cell, r.vec_id, tuple(r.embedding)) for r in
               ing.read_merged_table(
                   spark, f"{idx}/{AI.CELLS_DIR}").collect()}
        want = {(r.cell, r.vec_id, tuple(r.embedding)) for r in
                ing.read_merged_table(
                    spark, f"{rebuilt}/{AI.CELLS_DIR}").collect()}
        assert got == want, f"seed {seed}: sink != rebuild"
        assert {v for _, v, _ in got} == set(alive), f"seed {seed}"

    # external query vector (not a corpus member): no self-exclusion
    # applies, plain probed-bucket search
    ext = [(999999, [float((i * 7) % 13 - 6) for i in range(64)])]
    qdf = spark.createDataFrame(ext, "query_id long, q_emb array<double>")
    got = AI.ann_topk_indexed(spark, str(tmp_path / "ann7"), qdf, 5).collect()
    assert len(got) == 5 and all(r.query_id == 999999 for r in got)


def test_refresh_ann_index_matches_rebuild(spark, tmp_path):
    """The PULL-based twin: build from the table's snapshot, mutate
    the corpus (update/delete/insert), refresh — the index must equal
    a from-scratch build on the final state; a second refresh is a
    no-op; foreign watermark namespaces are refused."""
    emb = _emb(spark)
    cents = S.seed_centroids_ivf(emb)
    src = str(tmp_path / "src")
    merge = ing.foreach_batch_upsert(src, ["vec_id"], n_buckets=4,
                                     txn_app_id="fix", mode="latest_wins")
    rows = emb.select(F.col("vec_id").cast("string").alias("vec_id"),
                      "embedding")
    vid = F.col("vec_id").cast("long")
    merge(rows.where(vid % 5 != 4), 1)
    idx = str(tmp_path / "ann")
    AI.build_ann_index_from_table(spark, src, idx, cents)
    upd = (rows.where((vid % 7 == 3) & (vid % 5 != 4))
           .withColumn("embedding", F.reverse(F.col("embedding"))))
    merge(upd.unionByName(rows.where(vid % 5 == 4)), 2)
    ing.delete_origins(
        spark, src,
        rows.where((vid % 11 == 5) & (vid % 7 != 3) & (vid % 5 != 4))
        .select("vec_id"), strategy="dv")

    assert AI.refresh_ann_index(spark, src, idx) == 3
    assert AI.refresh_ann_index(spark, src, idx) is None

    rebuilt = str(tmp_path / "rebuilt")
    AI.build_ann_index(spark, ing.read_merged_table(spark, src), rebuilt,
                       cents)
    got = {(r.cell, r.vec_id, tuple(r.embedding)) for r in
           ing.read_merged_table(spark, f"{idx}/{AI.CELLS_DIR}").collect()}
    want = {(r.cell, r.vec_id, tuple(r.embedding)) for r in
            ing.read_merged_table(spark,
                                  f"{rebuilt}/{AI.CELLS_DIR}").collect()}
    assert got == want and len(got) > 0

    with pytest.raises(ValueError, match="cannot continue"):
        AI.refresh_ann_index(spark, src, rebuilt)  # build-owned
    batch = rows.limit(1).select(
        F.lit("insert").alias("op"), F.lit("").alias("changed_cols"),
        "vec_id", "embedding",
        F.lit(None).cast("array<float>").alias("embedding__old"))
    with pytest.raises(ValueError, match="watermark"):
        AI.ann_index_stream_sink(idx, cents)(batch, 99)  # src-owned


# --- refresh_views: one feed diff feeds both maintained views -------------

def _recode_m1(imp):
    return (imp.where("message_id = 'm1_rqa'")
            .withColumn("labels", F.expr(
                "transform(labels, l -> CASE WHEN l.scheme_id = "
                "'s01e01_theme_scheme' THEN named_struct("
                "'scheme_id', l.scheme_id, 'code_id', 'code_recoded', "
                "'date_time_utc', l.date_time_utc, 'checked', l.checked,"
                " 'origin_id', l.origin_id) ELSE l END)")))


def _views_equal_batch(spark, table, pview, mview):
    from engagement_data_pipeline_spark.labels.config import (
        SYNTHETIC_CONFIG)
    from engagement_data_pipeline_spark.labels.views import (
        messages_by_column, participants_by_column)

    src = ing.read_merged_table(spark, table)
    for view_path, fold, key in (
            (pview, participants_by_column, "participant_uuid"),
            (mview, messages_by_column, "message_id")):
        got = {r[key]: r.asDict() for r in
               ing.read_merged_table(spark, view_path).collect()}
        want = {r[key]: r.asDict() for r in
                fold(src, SYNTHETIC_CONFIG).collect()}
        assert got == want, view_path


def test_refresh_views_shared_slice_matches_independent(spark, tmp_path):
    """Co-maintained G1+G2 advance through ONE touched_group_slice
    derivation per sync (spied) — the pull-side fan-out — and both
    full view states equal the batch recomputes across a
    recode + delete history."""
    from engagement_data_pipeline_spark.labels.config import (
        SYNTHETIC_CONFIG)
    from engagement_data_pipeline_spark.labels.views import (
        build_messages_view, build_participants_view, refresh_views)
    from engagement_data_pipeline_spark.operators import topk

    table = str(tmp_path / "t")
    pview = str(tmp_path / "pv")
    mview = str(tmp_path / "mv")
    imp = _mini_imputed(spark)
    merge = ing.foreach_batch_upsert(table, ["message_id"], n_buckets=8,
                                     bucket_cols=["participant_uuid"],
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(imp, 1)
    build_participants_view(spark, table, pview, SYNTHETIC_CONFIG,
                            n_buckets=4)
    build_messages_view(spark, table, mview, SYNTHETIC_CONFIG,
                        n_buckets=4)

    calls = []
    orig = topk.touched_group_slice

    def _spy(*a, **kw):
        calls.append(a[2])
        return orig(*a, **kw)

    topk.touched_group_slice = _spy
    try:
        merge(_recode_m1(imp), 2)
        got = refresh_views(spark, table, pview, mview,
                            SYNTHETIC_CONFIG)
        assert got == {"participants": 2, "messages": 2}
        ing.delete_origins(
            spark, table,
            imp.where("message_id = 'm2_rqa'")
            .select("message_id", "participant_uuid"),
            strategy="dv")
        got = refresh_views(spark, table, pview, mview,
                            SYNTHETIC_CONFIG)
        assert got == {"participants": 3, "messages": 3}
    finally:
        topk.touched_group_slice = orig
    # one slice derivation per sync, shared by both view folds
    assert calls == [1, 2]
    _views_equal_batch(spark, table, pview, mview)
    # idempotent when current
    assert refresh_views(spark, table, pview, mview,
                         SYNTHETIC_CONFIG) == {
        "participants": None, "messages": None}


def test_refresh_views_diverged_watermarks_fall_back(spark, tmp_path):
    """Views at DIFFERENT watermarks (one built later) cannot share a
    slice: refresh_views derives each view's own window (two slice
    calls) and still converges both to the head."""
    from engagement_data_pipeline_spark.labels.config import (
        SYNTHETIC_CONFIG)
    from engagement_data_pipeline_spark.labels.views import (
        build_messages_view, build_participants_view, refresh_views)
    from engagement_data_pipeline_spark.operators import topk

    table = str(tmp_path / "t")
    pview = str(tmp_path / "pv")
    mview = str(tmp_path / "mv")
    imp = _mini_imputed(spark)
    merge = ing.foreach_batch_upsert(table, ["message_id"], n_buckets=8,
                                     bucket_cols=["participant_uuid"],
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(imp, 1)
    build_participants_view(spark, table, pview, SYNTHETIC_CONFIG,
                            n_buckets=4)
    merge(_recode_m1(imp), 2)
    build_messages_view(spark, table, mview, SYNTHETIC_CONFIG,
                        n_buckets=4)  # watermark 2; pview is at 1
    merge(imp.where("message_id = 'm0_dem'")
          .withColumn("text", F.lit("female")), 3)

    calls = []
    orig = topk.touched_group_slice

    def _spy(*a, **kw):
        calls.append(a[2])
        return orig(*a, **kw)

    topk.touched_group_slice = _spy
    try:
        got = refresh_views(spark, table, pview, mview,
                            SYNTHETIC_CONFIG)
    finally:
        topk.touched_group_slice = orig
    assert got == {"participants": 3, "messages": 3}
    assert sorted(calls) == [1, 2]  # per-view windows, no sharing
    _views_equal_batch(spark, table, pview, mview)


def test_refresh_view_refuses_mismatched_shared_slice(spark, tmp_path):
    """A shared slice derived at a different from-commit than the
    view's watermark is refused loudly — folding another window's
    slice would skip or double-fold rows."""
    from engagement_data_pipeline_spark.labels.config import (
        SYNTHETIC_CONFIG)
    from engagement_data_pipeline_spark.labels.views import (
        build_participants_view, refresh_participants_view)
    from engagement_data_pipeline_spark.operators.topk import (
        touched_group_slice)

    table = str(tmp_path / "t")
    pview = str(tmp_path / "pv")
    imp = _mini_imputed(spark)
    merge = ing.foreach_batch_upsert(table, ["message_id"], n_buckets=8,
                                     bucket_cols=["participant_uuid"],
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(imp, 1)
    build_participants_view(spark, table, pview, SYNTHETIC_CONFIG,
                            n_buckets=4)  # watermark 1
    merge(_recode_m1(imp), 2)
    merge(imp.where("message_id = 'm0_dem'")
          .withColumn("text", F.lit("female")), 3)
    live, touched = touched_group_slice(spark, table, 2,
                                        ["participant_uuid"])
    with pytest.raises(ValueError, match="derived at source commit 2"):
        refresh_participants_view(spark, table, pview,
                                  SYNTHETIC_CONFIG,
                                  shared_slice=(live, touched, 2, 3))


# --- describe_table: DESCRIBE DETAIL from metadata only -------------------

def test_describe_table_bucket_grain(spark, tmp_path):
    """Per-bucket detail from footers + manifest: physical rows =
    merged keys, dv subtracted into live, versions advance only on
    data commits (the dv delete leaves them), and totals reconcile
    with the logical read."""
    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["k"], n_buckets=2,
                                     txn_app_id="src",
                                     mode="latest_wins")
    rows = spark.createDataFrame(
        [(f"k{i}", i) for i in range(40)], "k string, v long")
    merge(rows, 1)
    merge(rows.where("v % 10 = 3").withColumn("v", F.col("v") + 100), 2)
    ing.delete_origins(spark, path,
                       rows.where("v % 10 = 5").select("k"),
                       strategy="dv")

    d = {r.bucket: r for r in ing.describe_table(spark, path).collect()}
    assert set(d) <= {0, 1} and len(d) == 2
    assert sum(r.physical_rows for r in d.values()) == 40
    assert sum(r.dv_rows for r in d.values()) == 4
    assert sum(r.live_rows for r in d.values()) == 36
    assert all(r.live_rows == r.physical_rows - r.dv_rows
               for r in d.values())
    assert all(r.n_files >= 1 and r.bytes > 0 for r in d.values())
    # the dv commit wrote no version: heads stay at the last DATA write
    assert {r.version for r in d.values()} <= {1, 2}
    assert max(r.version for r in d.values()) == 2
    assert ing.read_merged_table(spark, path).count() == 36


def test_describe_table_empty_table_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no commits"):
        ing.describe_table(spark, str(tmp_path / "nope"))


def test_describe_table_on_shallow_clone(spark, tmp_path):
    """A clone's buckets resolve to the SOURCE root until they
    diverge (bases map); describe_table must stat the inherited
    version dirs there — same totals as the source — and report the
    clone's own rewrite after divergence."""
    src = str(tmp_path / "src")
    clone = str(tmp_path / "clone")
    merge = ing.foreach_batch_upsert(src, ["k"], n_buckets=2,
                                     txn_app_id="src",
                                     mode="latest_wins")
    rows = spark.createDataFrame(
        [(f"k{i}", i) for i in range(20)], "k string, v long")
    merge(rows, 1)
    ing.clone_table(spark, src, clone)
    before = {r.bucket: r for r in
              ing.describe_table(spark, clone).collect()}
    assert sum(r.physical_rows for r in before.values()) == 20
    assert all(r.n_files >= 1 and r.bytes > 0 for r in before.values())
    # diverge one bucket: only ITS version advances past the source's
    cmerge = ing.foreach_batch_upsert(clone, ["k"],
                                      txn_app_id="clone",
                                      mode="latest_wins")
    cmerge(rows.where("k = 'k0'").withColumn("v", F.lit(999)), 1)
    after = {r.bucket: r for r in
             ing.describe_table(spark, clone).collect()}
    assert sum(r.physical_rows for r in after.values()) == 20
    assert sum(1 for b in after
               if after[b].version != before[b].version) == 1
    # the source is untouched by the clone's write
    assert sum(r.physical_rows for r in
               ing.describe_table(spark, src).collect()) == 20

