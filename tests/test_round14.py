"""Round-14 advisor fixes: fixture-cache prune safety + input
fingerprinting, ann_index error-inspection hardening, and the
post-refresh claim verify in the run manifest."""

from __future__ import annotations

import os

import pytest


# ---------------------------------------------------------------------------
# fixture cache: idle-grace pruning + input fingerprint
# ---------------------------------------------------------------------------

def test_prune_never_touches_current_key_even_if_idle(tmp_path):
    import tools.fixture_cache as fc

    base = str(tmp_path)
    cur = os.path.join(base, "current")
    os.makedirs(cur)
    os.utime(cur, (1.0, 1.0))  # ancient — but it's the current key
    pruned = fc.prune_stale_keys(base, "current", grace_hours=0.001)
    assert pruned == []
    assert os.path.exists(cur)


def test_prune_spares_keys_within_grace(tmp_path):
    import tools.fixture_cache as fc

    base = str(tmp_path)
    fresh = os.path.join(base, "fresh")
    stale = os.path.join(base, "stale")
    os.makedirs(fresh)
    os.makedirs(stale)
    os.utime(stale, (1.0, 1.0))
    pruned = fc.prune_stale_keys(base, "other", grace_hours=1.0)
    assert pruned == ["stale"]
    assert os.path.exists(fresh) and not os.path.exists(stale)


def test_prune_disabled_by_nonpositive_grace(tmp_path):
    import tools.fixture_cache as fc

    base = str(tmp_path)
    stale = os.path.join(base, "stale")
    os.makedirs(stale)
    os.utime(stale, (1.0, 1.0))
    assert fc.prune_stale_keys(base, "other", grace_hours=0) == []
    assert os.path.exists(stale)


def test_fixture_dir_rebuilds_when_inputs_regenerated(tmp_path,
                                                      monkeypatch):
    """Same cache root + same fixture name, but the sf parquet was
    regenerated in place -> the _FIXTURE_OK fingerprint mismatches
    and the fixture is rebuilt instead of served stale (the failure
    mode the persistent cross-process cache introduced)."""
    from engagement_data_pipeline_spark.queries import _helpers as H

    monkeypatch.setenv("SPARK_GRAFT_FIXTURE_DIR",
                       str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"v1")
    builds = []

    def build(path):
        os.makedirs(path)
        builds.append(1)

    d1 = H.fixture_dir("fx", str(sf), build)
    d2 = H.fixture_dir("fx", str(sf), build)
    assert d1 == d2
    assert len(builds) == 1  # warm hit while inputs unchanged
    (sf / "t.parquet").write_bytes(b"v2-regenerated")
    d3 = H.fixture_dir("fx", str(sf), build)
    assert d3 == d1
    assert len(builds) == 2  # fingerprint flip forced a rebuild


def test_inputs_fingerprint_ignores_non_parquet(tmp_path):
    from engagement_data_pipeline_spark.queries import _helpers as H

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"data")
    fp1 = H.inputs_fingerprint(str(sf))
    (sf / "notes.txt").write_text("scratch")
    assert H.inputs_fingerprint(str(sf)) == fp1


# ---------------------------------------------------------------------------
# rows-only queries carry an oracle-backed certifying twin
# ---------------------------------------------------------------------------

def test_rows_only_queries_have_certifying_twins():
    from engagement_data_pipeline_spark.queries import registry

    rows_only = sorted(set(registry.QUERIES) - set(registry.ORACLES))
    assert sorted(registry.ROWS_ONLY_CERTIFIED_BY) == rows_only
    for q, twin in registry.ROWS_ONLY_CERTIFIED_BY.items():
        assert twin in registry.ORACLES, (q, twin)
        assert twin in registry.QUERIES, (q, twin)


# ---------------------------------------------------------------------------
# ann_index: guarded cause-chain walk + pointer-read TOCTOU
# ---------------------------------------------------------------------------

class _Cls:
    def __init__(self, name):
        self._n = name

    def getName(self):
        return self._n


class _JavaExc:
    def __init__(self, name):
        self._cls = _Cls(name)
        self.cause = None

    def getClass(self):
        return self._cls

    def getCause(self):
        return self.cause


class _PyErr(Exception):
    def __init__(self, java):
        super().__init__("boom")
        self.java_exception = java


def test_is_checksum_error_terminates_on_cyclic_cause_chain():
    from engagement_data_pipeline_spark.training import ann_index as AI

    a = _JavaExc("java.io.IOException")
    b = _JavaExc("java.lang.RuntimeException")
    a.cause = b
    b.cause = a  # cycle
    assert AI._is_checksum_error(_PyErr(a)) is False


def test_is_checksum_error_detects_nested_checksum():
    from engagement_data_pipeline_spark.training import ann_index as AI

    outer = _JavaExc("java.io.IOException")
    outer.cause = _JavaExc("org.apache.hadoop.fs.ChecksumException")
    assert AI._is_checksum_error(_PyErr(outer)) is True


def test_is_checksum_error_survives_py4j_failure_during_inspection():
    from engagement_data_pipeline_spark.training import ann_index as AI

    class _Bomb:
        def getClass(self):
            raise RuntimeError("py4j connection dead")

        def getCause(self):
            return None

    # inspecting the chain must not raise and mask the original error
    assert AI._is_checksum_error(_PyErr(_Bomb())) is False


def test_read_pointer_absent_reads_as_none_without_exists(spark,
                                                          tmp_path):
    """No exists() pre-check on the serving path: a missing pointer
    (including one deleted between 'exists' and 'read' in the old
    TOCTOU window) reads as 'not initialized', not FileNotFound."""
    from engagement_data_pipeline_spark.training import ann_index as AI

    root = str(tmp_path / "annroot")
    os.makedirs(root)
    assert AI._read_pointer(spark, root) is None
    # and a root dir that itself does not exist is equally 'absent'
    assert AI._read_pointer(spark, str(tmp_path / "ghost")) is None


def test_read_pointer_malformed_still_raises(spark, tmp_path):
    from engagement_data_pipeline_spark.training import ann_index as AI

    root = str(tmp_path / "annroot")
    os.makedirs(root)
    with open(os.path.join(root, "_live"), "w") as f:
        f.write("not-a-generation")
    with pytest.raises(ValueError, match="corrupt"):
        AI._read_pointer(spark, root)


# ---------------------------------------------------------------------------
# round-14 perf paths: driver-side window read + bounded local refresh
# ---------------------------------------------------------------------------

def _evolving_table(spark, path):
    """Source history with inserts, updates, a dv delete, a
    filter-crossing update and a late re-insert — every op class the
    refresh fold must handle."""
    from pyspark.sql import functions as F

    from engagement_data_pipeline_spark.streaming.ingest import (
        delete_origins, foreach_batch_upsert)

    m = foreach_batch_upsert(path, ["k"], n_buckets=4,
                             txn_app_id="src", mode="latest_wins")
    df = spark.range(120).select(
        F.col("id").cast("string").alias("k"), F.col("id").alias("v"),
        F.expr("array(named_struct('s', cast(id as string), "
               "'c', id % 3 = 0))").alias("labs"),
        F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id)")
        .alias("ts"))
    m(df, 1)
    m(df.where("id < 30").withColumn("v", F.col("v") + 1000), 2)
    delete_origins(spark, path, df.where("id >= 110").select("k"),
                   strategy="dv")
    m(df.where("id = 50").withColumn("v", F.lit(3)), 4)  # now filtered
    return m, df


def _canon(v):
    """Order- and container-neutral form of a collected cell: Spark
    `Row`s and Arrow-read dicts alike, timestamps as epoch seconds
    (Spark collects naive local time, Arrow tz-aware UTC)."""
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "timestamp"):
        return v.timestamp()
    return v


def test_read_changes_local_matches_distributed_reader(spark, tmp_path):
    """`read_changes_local` (the benchmark's feed-row counter) returns
    exactly the window the distributed `merge_table_changes` read and
    the snapshot-diff oracle return — nested payloads, timestamps,
    updates, dv deletes and `__old` pre-images — and its `max_rows`
    bound is a hard cap, not advisory."""
    from test_cdf_source import _feed_oracle

    from engagement_data_pipeline_spark.streaming.cdf_source import (
        MergeTableChangesDataSource, read_changes_local)

    src = str(tmp_path / "src")
    _evolving_table(spark, src)
    oracle = _feed_oracle(spark, src, 1, 4)
    cols = oracle.columns
    want = sorted(tuple(_canon(r[c]) for c in cols)
                  for r in oracle.collect())
    lc = read_changes_local(src, 1, 4, max_rows=len(want))
    assert lc is not None
    assert all(sorted(r) == sorted(cols) for r in lc.rows)
    got = sorted(tuple(_canon(r[c]) for c in cols) for r in lc.rows)
    assert got == want and len(got) > 0
    spark.dataSource.register(MergeTableChangesDataSource)
    dist = (spark.read.format("merge_table_changes")
            .option("path", src).option("fromCommit", "1")
            .option("toCommit", "4")
            .option("includeOld", "true").load())
    assert sorted(dist.columns) == sorted(cols)
    assert sorted(tuple(_canon(r[c]) for c in cols)
                  for r in dist.collect()) == want
    assert {r[1] for r in want} >= {"update", "delete"}
    assert read_changes_local(src, 1, 4, max_rows=len(want) - 1) is None


def test_transform_refresh_equals_batch_recompute(spark, tmp_path,
                                                  placement):
    """A refresh folds a window of updates, dv deletes and
    filter-crossing rewrites into exactly the derived table a batch
    recompute over the final source gives — including gone keys from
    deletes AND from rows the transform now filters out."""
    from pyspark.sql import functions as F

    from engagement_data_pipeline_spark.streaming.ingest import (
        delete_origins, read_merged_table)
    from engagement_data_pipeline_spark.streaming.transform import (
        build_transform_table, refresh_transform_table)

    def tf(d):
        return d.where("v % 7 != 3").select(
            "k", "v", F.expr("labs[0].s").alias("s0"), "ts")

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    m, df = _evolving_table(spark, src)
    build_transform_table(spark, src, dst, tf, ["k"], n_buckets=4)
    # ids 3 and 60 move onto v % 7 == 3 (filtered out), 61 is deleted
    m(df.where("id < 10").withColumn("v", F.col("v") + 7), 5)
    m(df.where("id = 60").withColumn("v", F.lit(10)), 6)
    delete_origins(spark, src, df.where("id = 61").select("k"),
                   strategy="dv")

    def state(d):
        return sorted((r.k, r.v, r.s0, r.ts) for r in d.collect())

    before = {r[0] for r in state(read_merged_table(spark, dst))}
    assert refresh_transform_table(spark, src, dst, tf) == 7
    got = state(read_merged_table(spark, dst))
    assert got == state(tf(read_merged_table(spark, src))) and got
    gone = {"3", "60", "61"}
    assert gone <= before and not gone & {r[0] for r in got}


def test_touched_group_slice_equals_feed_oracle(spark, tmp_path,
                                                placement):
    """The touched set is exactly the groups of the window's
    post-images (inserts, updates) plus pre-images (updates, deletes)
    in the snapshot-diff oracle — old groups of group-moving updates
    included — and the live slice is every live row of those groups.
    The `F.lit(999)` update merges an int literal into a long column
    (the local merge must write the table's column types)."""
    from pyspark.sql import functions as F
    from test_cdf_source import _feed_oracle

    from engagement_data_pipeline_spark.operators.topk import (
        touched_group_slice)
    from engagement_data_pipeline_spark.streaming.ingest import (
        delete_origins, foreach_batch_upsert, read_merged_table)

    path = str(tmp_path / "t")
    # the group column is a PAYLOAD column, so a group-moving update
    # reaches the touched set through its `grp__old` pre-image. The
    # table buckets on its key: bucketing on `grp` would strand the
    # moved rows' old copies in their old buckets.
    m = foreach_batch_upsert(path, ["k"], n_buckets=4,
                             txn_app_id="src", mode="latest_wins")
    df = spark.range(60).select(
        F.col("id").cast("string").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 7).cast("string"))
        .alias("grp"),
        F.col("id").alias("v"))
    m(df, 1)
    # update moving rows ACROSS groups + plain update + delete
    m(df.where("id < 5").withColumn("grp", F.lit("gX")), 2)
    m(df.where("id = 20").withColumn("v", F.lit(999)), 3)
    delete_origins(spark, path, df.where("id = 41")
                   .select("k", "grp"), strategy="dv")

    oracle = _feed_oracle(spark, path, 1, 4).collect()
    want = sorted({(r.grp,) for r in oracle
                   if r.op in ("insert", "update")}
                  | {(r.grp__old,) for r in oracle
                     if r.op in ("update", "delete")})
    live, touched = touched_group_slice(spark, path, 1, ["grp"])
    got = sorted(tuple(r) for r in touched.collect())
    assert got == want
    # old groups of the moved rows (ids 0-4) and the new one
    assert {("g0",), ("g4",), ("gX",), ("g6",)} <= set(got)
    groups = {g for (g,) in got}
    assert sorted(tuple(r) for r in live.select("k", "grp", "v")
                  .collect()) == sorted(
        tuple(r) for r in read_merged_table(spark, path)
        .select("k", "grp", "v").collect() if r.grp in groups)
    assert touched_group_slice(spark, path, 4, ["grp"]) is None


def test_bucket_pairs_equals_posting_self_join(spark):
    """_bucket_pairs (grouped i<j pair generation) must yield exactly
    the candidate set of the posting self-join it replaced, including
    cross-bucket dedup and empty/singleton buckets."""
    from pyspark.sql import functions as F

    from engagement_data_pipeline_spark.training.dedup import (
        _bucket_pairs)

    rows = [  # (id, key): shared keys, singleton key, duplicate pair
        (1, "a"), (2, "a"), (3, "a"),
        (2, "b"), (3, "b"),
        (7, "c"),
        (1, "d"), (3, "d"),
    ]
    blocked = spark.createDataFrame(rows, "id long, shingle string")
    got = sorted(tuple(r) for r in
                 _bucket_pairs(blocked, "shingle").collect())
    x, y = blocked.alias("x"), blocked.alias("y")
    want = sorted(tuple(r) for r in (
        x.join(y, (F.col("x.shingle") == F.col("y.shingle"))
               & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()).collect())
    assert got == want and (1, 3) in got and (7,) not in {p[:1] for p in got}


def test_feed_bucket_packing_groups_small_local_buckets(spark, tmp_path,
                                                        monkeypatch):
    """The batch feed reader packs small LOCAL buckets into one read
    partition (fewer Python-worker tasks) without changing the rows;
    a huge per-partition target must collapse the window to one group
    and still read the identical changeset."""
    from pyspark.sql import functions as F

    import engagement_data_pipeline_spark.streaming.cdf_source as cdf
    from engagement_data_pipeline_spark.streaming.ingest import (
        foreach_batch_upsert)

    path = str(tmp_path / "t")
    m = foreach_batch_upsert(path, ["k"], n_buckets=4, txn_app_id="s",
                             mode="latest_wins")
    df = spark.range(40).select(F.col("id").cast("string").alias("k"),
                                F.col("id").alias("v"))
    m(df, 1)
    m(df.withColumn("v", F.col("v") + 100).where("id % 3 = 0"), 2)

    def read(tag):
        spark.dataSource.register(cdf.MergeTableChangesDataSource)
        ch = (spark.read.format("merge_table_changes")
              .option("path", path).option("fromCommit", "1")
              .option("toCommit", "2").load())
        return sorted((r.k, r.op, r.v) for r in
                      ch.select("k", "op", "v").collect())

    monkeypatch.setenv("SPARK_GRAFT_FEED_PARTITION_BYTES", "1")
    per_bucket = read("tiny")
    monkeypatch.setenv("SPARK_GRAFT_FEED_PARTITION_BYTES",
                       str(1 << 30))
    man1 = cdf._manifest(path, 1)
    man2 = cdf._manifest(path, 2)
    changed = cdf._changed_buckets(man1, man2)
    groups = cdf._pack_changed_buckets(path, man1, man2, changed)
    assert len(groups) == 1 and sorted(groups[0]) == sorted(changed)
    packed = read("huge")
    assert packed == per_bucket and len(packed) > 0


def test_local_union_schema_matches_merge_schema_read(spark, tmp_path):
    """_read_buckets' driver-side union schema must agree with
    Spark's mergeSchema read on an evolved table (same columns, same
    order, same Spark types) — including a timestamp column written
    by Spark (INT96)."""
    import engagement_data_pipeline_spark.streaming.ingest as ing

    d1 = str(tmp_path / "v1")
    d2 = str(tmp_path / "v2")
    spark.sql("SELECT 1 AS a, CAST('2024-01-01' AS TIMESTAMP) AS ts"
              ).write.parquet(d1)
    spark.sql("SELECT 2 AS a, CAST('2024-01-02' AS TIMESTAMP) AS ts,"
              " 'x' AS extra").write.parquet(d2)
    st = ing._local_union_schema([d1, d2])
    assert st is not None
    merged = spark.read.option("mergeSchema", "true").parquet(d1, d2)
    assert [f.name for f in st.fields] == merged.columns
    assert {f.name: f.dataType.simpleString() for f in st.fields} == {
        f.name: f.dataType.simpleString()
        for f in merged.schema.fields}
    # non-local path -> None (caller falls back to the distributed merge)
    assert ing._local_union_schema(["s3://bucket/x"]) is None
