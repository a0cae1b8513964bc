"""Round-9 hardening: vacuum/stream retention contract, O(1)
latestOffset polling, narrowed TIMESTAMP AS OF error handling, sink
ownership refusal on foreign tables, loud mid-history bootstraps, and
single-manifest-read consistent reads."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.streaming import cdf_source as cdf
from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.streaming import mv as MV
from engagement_data_pipeline_spark.streaming.cdf_source import (
    MergeTableChangesDataSource)
from engagement_data_pipeline_spark.streaming.secondary import (
    index_stream_sink)
from engagement_data_pipeline_spark.training.ranking import (
    text_index_stream_sink)


def _drain(q, seconds=90):
    deadline = time.time() + seconds
    while time.time() < deadline:
        q.processAllAvailable()
        if not q.status["isDataAvailable"]:
            return
        time.sleep(0.2)


def _mk_table(spark, path, n_commits, n_buckets=1):
    merge = ing.foreach_batch_upsert(path, ["origin"],
                                     n_buckets=n_buckets,
                                     txn_app_id="src",
                                     mode="latest_wins")
    for i in range(1, n_commits + 1):
        merge(spark.createDataFrame([(f"o{i}", f"v{i}")],
                                    "origin string, payload string"), i)
    return merge


# --- _log/LATEST pointer + O(1) latestOffset ------------------------------

def test_commit_writes_latest_pointer(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path, 3)
    assert cdf._latest_hint(path) == 3
    assert cdf._latest_commit(path) == 3


def test_latest_offset_is_o1_manifest_reads(spark, tmp_path,
                                            monkeypatch):
    """A poll on a long-lived table must read O(1) manifests, not
    O(commits): the floor (the reader's last-seen offset and the
    writer's LATEST pointer) is probed forward over the dense commit
    ids."""
    path = str(tmp_path / "t")
    n = 20
    _mk_table(spark, path, n)
    r = cdf._ChangesReader(path, 0, ["origin", "payload"], None)
    assert r.latestOffset() == {"commit": n}
    calls: list[int] = []
    orig = cdf._manifest

    def _spy(table_path, commit):
        calls.append(commit)
        return orig(table_path, commit)

    monkeypatch.setattr(cdf, "_manifest", _spy)
    assert r.latestOffset() == {"commit": n}
    assert len(calls) <= 3, (
        f"poll read {len(calls)} manifests ({calls}) on a {n}-commit "
        "log; expected O(1) via the floor probe")
    # a new commit is still picked up, again in O(1) probes
    calls.clear()
    merge = ing.foreach_batch_upsert(path, ["origin"], txn_app_id="src",
                                     mode="latest_wins")
    merge(spark.createDataFrame([("x", "y")],
                                "origin string, payload string"), n + 1)
    assert r.latestOffset() == {"commit": n + 1}
    assert len(calls) <= 4


def test_latest_commit_falls_back_without_pointer(spark, tmp_path):
    """Pre-pointer tables (no _log/LATEST) resolve via the full
    listing."""
    path = str(tmp_path / "t")
    _mk_table(spark, path, 2)
    fs, root = cdf._fs_path(path)
    fs.delete_file(f"{root}/_log/LATEST")
    assert cdf._latest_hint(path) is None
    assert cdf._latest_commit(path) == 2


# --- vacuum / stream retention contract -----------------------------------

def test_vacuum_honors_retention_floor(spark, tmp_path):
    """Manifests and data at/above the minimum registered floor
    survive vacuum (the change window stays readable); below the
    floor vacuum still reclaims; ignore_floors force-overrides."""
    path = str(tmp_path / "t")
    _mk_table(spark, path, 5)
    ing.set_retention_floor(spark, path, "lagging_sync", 2)
    assert ing.read_retention_floors(spark, path) == {"lagging_sync": 2}
    ing.vacuum_table(spark, path, keep_manifests=1)
    # the floor-protected window [2, 5] is fully readable
    ch = ing.table_changes(spark, path, from_commit=2)
    assert ch.where(F.col("op") == "insert").count() == 3
    # below the floor, manifest 1 was reclaimed (keep_manifests=1)
    assert cdf._manifest(path, 1) is None
    assert cdf._manifest(path, 2) is not None
    # force-override reclaims the floor's window too
    ing.vacuum_table(spark, path, keep_manifests=1, ignore_floors=True)
    assert cdf._manifest(path, 2) is None
    ing.clear_retention_floor(spark, path, "lagging_sync")
    assert ing.read_retention_floors(spark, path) == {}


def test_lagging_stream_survives_vacuum_with_retention_name(
        spark, tmp_path):
    """End to end: a stream that registered a retentionName, paused,
    then fell behind a vacuum that would previously have reclaimed its
    window, resumes and reads the full feed — the floor PREVENTS the
    data loss the source otherwise diagnoses loudly."""
    spark.dataSource.register(MergeTableChangesDataSource)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    merge = _mk_table(spark, path, 2)
    rows: list[tuple] = []

    def _sink(df, _bid):
        rows.extend((r.origin, r.op, r.payload) for r in df.collect())

    def _run():
        return (spark.readStream.format("merge_table_changes")
                .option("path", path)
                .option("retentionName", "mv_sync").load()
                .writeStream.foreachBatch(_sink)
                .option("checkpointLocation", ckpt).start())

    q = _run()
    _drain(q)
    q.stop()
    assert len(rows) == 2
    # stream paused; three more commits land, one rewrites o1's bucket
    merge(spark.createDataFrame([("o1", "v1b")],
                                "origin string, payload string"), 3)
    merge(spark.createDataFrame([("o9", "v9")],
                                "origin string, payload string"), 4)
    merge(spark.createDataFrame([("o8", "v8")],
                                "origin string, payload string"), 5)
    # aggressive vacuum: without the floor this reclaims commit 2's
    # manifest/data and the restarted stream would fail loudly
    ing.vacuum_table(spark, path, keep_manifests=1)
    assert cdf._manifest(path, 2) is not None, (
        "floor did not protect the stream's diff base")
    q = _run()
    _drain(q)
    q.stop()
    got = {(o, op, p) for o, op, p in rows}
    assert ("o1", "update", "v1b") in got
    assert ("o9", "insert", "v9") in got and ("o8", "insert", "v8") in got
    # the contract advanced with the stream. The engine delivers batch
    # N's commit() when it CONSTRUCTS batch N+1, so with no new data
    # the floor lags one batch — over-retention, never under:
    # everything the stream might still replay stays protected.
    assert ing.read_retention_floors(spark, path)["mv_sync"] >= 2
    # new data triggers the next batch, delivering the lagging commit
    merge(spark.createDataFrame([("o7", "v7")],
                                "origin string, payload string"), 6)
    q = _run()
    _drain(q)
    q.stop()
    assert ing.read_retention_floors(spark, path)["mv_sync"] >= 5


def test_reader_commit_advances_floor_monotonically(spark, tmp_path):
    """commit() raises the floor to the engine-confirmed position and
    never lowers it; reader reconstruction (the engine does this
    several times per stream) leaves an existing floor untouched."""
    path = str(tmp_path / "t")
    _mk_table(spark, path, 3)
    r = cdf._ChangesReader(path, 0, ["origin", "payload"], None,
                           retention_name="s")
    assert cdf._read_floor(path, "s") == 0
    r.commit({"commit": 2})
    assert cdf._read_floor(path, "s") == 2
    r.commit({"commit": 2})  # replayed commit: no change
    assert cdf._read_floor(path, "s") == 2
    # reconstruction (restart / engine re-instantiation) keeps 2
    r2 = cdf._ChangesReader(path, 0, ["origin", "payload"], None,
                            retention_name="s")
    assert cdf._read_floor(path, "s") == 2
    r2.commit({"commit": 3})
    assert cdf._read_floor(path, "s") == 3


def test_vacuum_kills_unregistered_lagging_stream(spark, tmp_path):
    """Counterfactual for the retention test: the SAME pause/vacuum
    sequence without a retentionName reclaims the stream's diff base
    and the restart fails loudly (round-8 semantics, still pinned)."""
    spark.dataSource.register(MergeTableChangesDataSource)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    merge = _mk_table(spark, path, 2)

    def _run():
        return (spark.readStream.format("merge_table_changes")
                .option("path", path).load()
                .writeStream.foreachBatch(lambda df, b: df.count())
                .option("checkpointLocation", ckpt).start())

    q = _run()
    _drain(q)
    q.stop()
    merge(spark.createDataFrame([("o1", "v1b")],
                                "origin string, payload string"), 3)
    merge(spark.createDataFrame([("o9", "v9")],
                                "origin string, payload string"), 4)
    ing.vacuum_table(spark, path, keep_manifests=1)
    assert cdf._manifest(path, 2) is None
    q = _run()
    with pytest.raises(Exception):
        _drain(q, seconds=60)
        q.awaitTermination(5)
    q.stop()


# --- commit_as_of error narrowing -----------------------------------------

def test_commit_as_of_reraises_transient_io(spark, tmp_path,
                                            monkeypatch):
    """A transient read error on the timestamp-correct manifest must
    FAIL the resolution, not silently resolve to an older commit."""
    path = str(tmp_path / "t")
    _mk_table(spark, path, 3)
    ts3 = ing._manifest_at(spark, path, 3)["ts_ms"]
    assert ing.commit_as_of(spark, path, ts3) == 3
    orig = ing._manifest_at

    def _flaky(spark_, table_path_, commit_):
        if commit_ == 3:
            raise OSError("simulated object-store 503")
        return orig(spark_, table_path_, commit_)

    monkeypatch.setattr(ing, "_manifest_at", _flaky)
    with pytest.raises(OSError, match="503"):
        ing.commit_as_of(spark, path, ts3)


def test_commit_as_of_still_skips_partial_manifests(spark, tmp_path):
    """A trailing crash-partial (unparseable) manifest is still
    skipped — only transient IO re-raises."""
    path = str(tmp_path / "t")
    _mk_table(spark, path, 2)
    ts2 = ing._manifest_at(spark, path, 2)["ts_ms"]
    ing._write_text_atomic(spark, f"{path}/_log/00000003.json",
                           "{ torn json")
    assert ing.commit_as_of(spark, path, ts2 + 10_000) == 2


# --- sink ownership + mid-history bootstrap guards ------------------------

def test_mv_sink_refuses_foreign_table(spark, tmp_path):
    """Pointing mv_stream_sink at an existing merge table that carries
    NEITHER watermark must refuse, not fold deltas into foreign
    data."""
    path = str(tmp_path / "t")
    _mk_table(spark, path, 1)
    fold = MV.mv_stream_sink(path, ["origin"],
                             {"n": ("payload", "count")})
    batch = spark.createDataFrame(
        [("a", "x", "insert", "", None, None)],
        "origin string, payload string, op string, changed_cols string,"
        " origin__old string, payload__old string")
    with pytest.raises(ValueError, match="carries no __mv_stream"):
        fold(batch, 0)


def test_index_sink_refuses_foreign_table(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path, 1)
    fold = index_stream_sink(path, "payload", ["origin"])
    batch = spark.createDataFrame(
        [("a", "x", "insert", "", None)],
        "origin string, payload string, op string, changed_cols string,"
        " payload__old string")
    with pytest.raises(ValueError, match="carries no "):
        fold(batch, 0)


def test_index_sink_bootstrap_with_removals_raises(spark, tmp_path):
    """Removals in the bootstrap batch prove the stream started
    mid-history (a startingCommit=0 replay is a pure-insert snapshot
    diff) — building an index that silently lacks every earlier
    posting must fail loudly."""
    idx = str(tmp_path / "idx")
    fold = index_stream_sink(idx, "payload", ["origin"])
    batch = spark.createDataFrame(
        [("a", "x2", "update", "payload", "x1")],
        "origin string, payload string, op string, changed_cols string,"
        " payload__old string")
    with pytest.raises(RuntimeError, match="startingCommit=0"):
        fold(batch, 0)


def test_text_sink_bootstrap_with_removals_raises(spark, tmp_path):
    idx = str(tmp_path / "tidx")
    fold = text_index_stream_sink(idx, "text", "doc_id")
    batch = spark.createDataFrame(
        [(1, None, "delete", "", "old words here")],
        "doc_id long, text string, op string, changed_cols string, "
        "text__old string")
    with pytest.raises(RuntimeError, match="startingCommit=0"):
        fold(batch, 0)


# --- read_consistent single-manifest-read ---------------------------------

def test_read_consistent_reads_mv_manifest_once(spark, tmp_path,
                                                monkeypatch):
    """The watermark and the view state must come from ONE manifest
    read — a refresh landing between two independent reads would pair
    base AS OF N with view state at N+1."""
    path, mvp = str(tmp_path / "t"), str(tmp_path / "mv")
    metrics = {"n": ("payload", "count")}
    _mk_table(spark, path, 2)
    MV.create_mv(spark, path, mvp, ["origin"], metrics)
    calls: list[str] = []
    orig = ing.read_table_manifest

    def _spy(spark_, table_path_):
        calls.append(table_path_)
        return orig(spark_, table_path_)

    monkeypatch.setattr(MV, "read_table_manifest", _spy)
    base, view = MV.read_consistent(spark, path, mvp, metrics)
    view.collect()
    assert calls.count(mvp) == 1, (
        f"read_consistent resolved the MV manifest {calls.count(mvp)} "
        "times — watermark and state can come from different commits")


# --- filtered / exploded / distinct-count MVs -----------------------------

RETRACT = ("grp string, val long, keep string, op string, "
           "changed_cols string, grp__old string, val__old long, "
           "keep__old string")


def _mv_rows(spark, mvp, metrics):
    return {tuple(r) for r in
            MV.read_mv(spark, mvp, metrics)
            .select("grp", "n_vals").collect()}


def test_mv_stream_sink_filtered_prepare(spark, tmp_path):
    """A filtered MV (prepare = row-local WHERE): rows entering and
    leaving the predicate under update retract correctly — the old
    payload is evaluated against the same predicate."""
    mvp = str(tmp_path / "mv")
    metrics = {"n_vals": ("val", "count")}

    def prep(df):
        return df.where(F.col("keep") == "y").select("grp", "val")

    fold = MV.mv_stream_sink(mvp, ["grp"], metrics, prepare=prep,
                             source_cols=["grp", "val", "keep"])
    b0 = spark.createDataFrame(
        [("a", 1, "y", "insert", "", None, None, None),
         ("a", 2, "n", "insert", "", None, None, None),
         ("b", 3, "y", "insert", "", None, None, None)], RETRACT)
    fold(b0, 0)
    assert _mv_rows(spark, mvp, metrics) == {("a", 1), ("b", 1)}
    # update: a's kept row leaves the predicate; the filtered-out row
    # enters it; b's row is deleted outright
    b1 = spark.createDataFrame(
        [("a", 1, "n", "update", "keep", "a", 1, "y"),
         ("a", 2, "y", "update", "keep", "a", 2, "n"),
         (None, None, None, "delete", "", "b", 3, "y")], RETRACT)
    fold(b1, 1)
    assert _mv_rows(spark, mvp, metrics) == {("a", 1)}
    # crash-replay of b1 is a no-op (fold-level watermark)
    fold(b1, 1)
    assert _mv_rows(spark, mvp, metrics) == {("a", 1)}


def test_mv_refresh_with_explode_prepare_and_distinct(spark, tmp_path):
    """Pull-path (create_mv/refresh_mv) with an explode prepare and a
    two-level distinct read: maintained == recomputed across update
    and dv-delete commits."""
    path, mvp = str(tmp_path / "t"), str(tmp_path / "mv")
    metrics: dict = {}
    group = ["field", "code", "pid"]

    def prep(df):
        return df.select(
            F.col("pid"),
            F.explode(F.split(F.col("codes"), ";")).alias("code"),
        ).select(F.lit("demog").alias("field"), "code", "pid")

    merge = ing.foreach_batch_upsert(path, ["pid"], n_buckets=2,
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(spark.createDataFrame(
        [("p1", "man"), ("p2", "woman"), ("p3", "man;woman")],
        "pid string, codes string"), 1)
    MV.create_mv(spark, path, mvp, group, metrics, n_buckets=4,
                 prepare=prep, source_cols=["pid", "codes"])
    merge(spark.createDataFrame([("p1", "woman")],
                                "pid string, codes string"), 2)
    MV.refresh_mv(spark, path, mvp, group, metrics,
                  prepare=prep, source_cols=["pid", "codes"])
    ing.delete_origins(spark, path,
                       spark.createDataFrame([("p2",)], "pid string"),
                       strategy="dv")
    MV.refresh_mv(spark, path, mvp, group, metrics,
                  prepare=prep, source_cols=["pid", "codes"])
    got = {tuple(r) for r in
           MV.read_mv_distinct(spark, mvp, ["field", "code"], metrics,
                               distinct_name="n_pids").collect()}
    assert got == {("demog", "man", 1), ("demog", "woman", 2)}


def test_mv_distinct_matches_count_distinct(spark, tmp_path):
    """read_mv_distinct over the push path == COUNT(DISTINCT) +
    COUNT(*) recomputed from the final state, per group and with a
    metric alongside."""
    mvp = str(tmp_path / "mv")
    metrics = {"n_msgs": ("val", "count")}
    fold = MV.mv_stream_sink(
        mvp, ["grp", "pid"], metrics,
        prepare=lambda df: df.select(
            F.col("keep").alias("pid"), "grp", "val"),
        source_cols=["grp", "val", "keep"])
    b0 = spark.createDataFrame(
        [("d1", 1, "p1", "insert", "", None, None, None),
         ("d1", 2, "p1", "insert", "", None, None, None),
         ("d1", 3, "p2", "insert", "", None, None, None),
         ("d2", 4, "p1", "insert", "", None, None, None)], RETRACT)
    fold(b0, 0)
    # delete p2's only d1 message: the witness group leaves the state
    b1 = spark.createDataFrame(
        [(None, None, None, "delete", "", "d1", 3, "p2")], RETRACT)
    fold(b1, 1)
    got = {tuple(r) for r in
           MV.read_mv_distinct(spark, mvp, ["grp"], metrics,
                               distinct_name="n_pids").collect()}
    assert got == {("d1", 1, 2), ("d2", 1, 1)}


def test_prepare_requires_source_cols_and_invertible(spark, tmp_path):
    with pytest.raises(ValueError, match="source_cols"):
        MV.mv_stream_sink(str(tmp_path / "m"), ["g"],
                          {"n": ("v", "count")},
                          prepare=lambda df: df)
    with pytest.raises(ValueError, match="invertible"):
        MV._check_prepare(lambda df: df, ["v"], {"m": ("v", "max")})


# --- vectorized nested diff (Arrow kernel == object compare) ---------------

import pyarrow as pa  # noqa: E402
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

LAB_T = pa.list_(pa.struct([("scheme", pa.string()),
                            ("code", pa.string())]))
NEST_T = pa.list_(pa.list_(pa.int64()))
STRUCT_T = pa.struct([("n", pa.int64()),
                      ("tags", pa.list_(pa.string())),
                      ("x", pa.float64())])

_s_str = st.one_of(st.none(), st.sampled_from(["a", "b", "c", ""]))
_lab = st.one_of(st.none(), st.fixed_dictionaries(
    {"scheme": _s_str, "code": _s_str}))
_labels = st.one_of(st.none(), st.lists(_lab, max_size=3))
_ints = st.one_of(st.none(), st.integers(-5, 5))
_nest = st.one_of(st.none(), st.lists(
    st.one_of(st.none(), st.lists(_ints, max_size=3)), max_size=3))
_floats = st.one_of(st.none(), st.sampled_from(
    [0.0, 1.5, -2.25, float("nan")]))
_structs = st.one_of(st.none(), st.fixed_dictionaries(
    {"n": _ints, "tags": st.one_of(st.none(),
                                   st.lists(_s_str, max_size=3)),
     "x": _floats}))


def _assert_kernel_matches(pairs, typ):
    a = pa.array([p[0] for p in pairs], type=typ)
    b = pa.array([p[1] for p in pairs], type=typ)
    got = list(cdf._arrow_eq(a, b))
    want = [not x for x in cdf._neq(a.to_pandas(), b.to_pandas())]
    assert got == want, (
        f"arrow kernel disagrees with object compare for {typ}: "
        f"{[(x, y) for x, y, g, w in zip(a.to_pylist(), b.to_pylist(), got, want) if g != w]}")


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_labels, _labels), max_size=12))
def test_arrow_eq_matches_object_compare_labels(pairs):
    """The flagship labels shape (array<struct<scheme,code>>): the
    vectorized kernel must agree with the normalized object compare
    on every null/empty/nested combination."""
    _assert_kernel_matches(pairs, LAB_T)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_nest, _nest), max_size=12))
def test_arrow_eq_matches_object_compare_nested_lists(pairs):
    _assert_kernel_matches(pairs, NEST_T)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_structs, _structs), max_size=12))
def test_arrow_eq_matches_object_compare_struct_with_nan(pairs):
    """struct<long, list<string>, double> incl. NaN: NaN ≡ NULL (the
    pandas/na semantics) so NaN rows never re-emit as updates."""
    _assert_kernel_matches(pairs, STRUCT_T)


def test_arrow_eq_scalar_types(spark):
    a = pa.array([1, None, 3, None], type=pa.int64())
    b = pa.array([1, None, 4, 5], type=pa.int64())
    assert list(cdf._arrow_eq(a, b)) == [True, True, False, False]
    f = pa.array([float("nan"), None, 1.0], type=pa.float64())
    g = pa.array([float("nan"), float("nan"), 2.0], type=pa.float64())
    assert list(cdf._arrow_eq(f, g)) == [True, True, False]


# --- MV fold physical plan pinned (broadcast + single-bucket scan) ---------

def _n_exchanges(plan: str) -> int:
    import re

    return (len(re.findall(r"\n[^\n]*\bExchange hashpartitioning", plan))
            + len(re.findall(r"\n[^\n]*\bExchange rangepartitioning", plan))
            + len(re.findall(r"\n[^\n]*\bExchange SinglePartition", plan)))


def _spy_merge(monkeypatch, captured):
    orig_fbu = MV.foreach_batch_upsert

    def _spy_fbu(*a, **k):
        inner = orig_fbu(*a, **k)

        def _m(df, ver):
            captured.append(df)
            return inner(df, ver)
        return _m

    monkeypatch.setattr(MV, "foreach_batch_upsert", _spy_fbu)


def _state_buckets(folded, mvp):
    # inputFiles() returns scheme-qualified URIs (file:///tmp/...);
    # compare on the parsed path so the match is scheme-insensitive.
    from urllib.parse import urlparse
    return {f.rsplit("/", 2)[-2] for f in folded.inputFiles()
            if urlparse(f).path.startswith(mvp)}


def test_mv_stream_fold_plan_single_bucket_broadcast(spark, tmp_path,
                                                     monkeypatch):
    """PLANS.md documents the push-path fold (`_apply_delta` fed by a
    retract batch) as: exactly ONE exchange (the delta aggregate), a
    BroadcastHashJoin LeftOuter build-right against the state slice,
    and a state READ of only the touched group's bucket. Pin all
    three so a regression to a shuffled fold or a full-state rescan
    lands red, not silently. Forces the DISTRIBUTED fold — bounded
    deltas take the driver-side local fold since r14 (equality twin
    in test_local_merge); the plan pinned here is the at-scale
    path."""
    monkeypatch.setattr(MV, "_LOCAL_FOLD_MAX", 0)
    mvp = str(tmp_path / "mv")
    group = ["grp"]
    metrics = {"n_vals": ("val", "count"), "total": ("val", "sum")}
    retract = ("grp string, val long, op string, changed_cols string, "
               "grp__old string, val__old long")
    fold = MV.mv_stream_sink(mvp, group, metrics, auto_compact=False)
    fold(spark.createDataFrame(
        [(f"g{i}", i, "insert", "", None, None) for i in range(16)],
        retract), 0)
    captured: list = []
    _spy_merge(monkeypatch, captured)
    fold(spark.createDataFrame([("g0", 100, "insert", "", None, None)],
                               retract), 1)
    assert captured, "stream fold did not reach the merge"
    folded = captured[-1]
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, (
        f"fold lost the broadcast left-outer join:\n{plan}")
    assert _n_exchanges(plan) <= 1, (
        f"fold has {_n_exchanges(plan)} shuffle exchanges (budget 1 — "
        f"the delta aggregate):\n{plan}")
    nb = int(ing.read_table_manifest(spark, mvp)["n_buckets"])
    expect = {f"bucket={r[0]}" for r in
              spark.createDataFrame([("g0",)], "grp string")
              .select(ing.origin_bucket(["grp"], nb).alias("b"))
              .collect()}
    assert _state_buckets(folded, mvp) == expect, (
        f"fold scanned state buckets {sorted(_state_buckets(folded, mvp))},"
        f" expected only {sorted(expect)}")


def test_mv_refresh_fold_plan_shape(spark, tmp_path, monkeypatch):
    """Pull-path fold: the plan additionally contains the batch
    `table_changes` read of the changed source buckets — a
    shuffle-free scan whose `__old` pre-images feed the minus side —
    so the exchange budget is 1 (the delta aggregate), as on the push
    path; the fold itself must still broadcast the delta against a
    single-bucket state slice. Forces the DISTRIBUTED fold (see
    test_mv_stream_fold_plan_single_bucket_broadcast)."""
    monkeypatch.setattr(MV, "_LOCAL_FOLD_MAX", 0)
    path, mvp = str(tmp_path / "t"), str(tmp_path / "mv")
    group = ["grp"]
    metrics = {"n_vals": ("val", "count"), "total": ("val", "sum")}
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=2,
                                     txn_app_id="src",
                                     mode="latest_wins")
    merge(spark.createDataFrame(
        [(f"o{i}", f"g{i}", i) for i in range(16)],
        "origin string, grp string, val long"), 1)
    MV.create_mv(spark, path, mvp, group, metrics, n_buckets=8)
    merge(spark.createDataFrame([("o0", "g0", 100)],
                                "origin string, grp string, val long"),
          2)
    captured: list = []
    _spy_merge(monkeypatch, captured)
    MV.refresh_mv(spark, path, mvp, group, metrics, auto_compact=False)
    assert captured, "refresh did not reach the fold merge"
    folded = captured[-1]
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert _n_exchanges(plan) <= 1, (
        f"refresh fold has {_n_exchanges(plan)} exchanges "
        f"(budget 1):\n{plan}")
    expect = {f"bucket={r[0]}" for r in
              spark.createDataFrame([("g0",)], "grp string")
              .select(ing.origin_bucket(["grp"], 8).alias("b"))
              .collect()}
    assert _state_buckets(folded, mvp) == expect
