"""Round-15 optimization internals.

Pins the semantics of this round's optimizations:
* the change feed's `ship` OUTPUT projection (batch reads): the diff
  still spans every payload column — emission and changed_cols are
  the full-width feed's — but only origin + op/changed + the listed
  columns (+ their __old twins) cross the Python→JVM boundary, and the
  full-width driver-side `read_changes_local` agrees on those columns;
* query-scoped cache release (session.scoped_cache /
  release_scoped_caches) drops registered caches and survives stopped
  sessions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _history(spark, path: str) -> None:
    """insert → payload-only update → group move → dv delete."""
    from engagement_data_pipeline_spark.streaming.ingest import (
        delete_origins, foreach_batch_upsert)

    m = foreach_batch_upsert(path, ["k"], n_buckets=2,
                             bucket_cols=["grp"],
                             txn_app_id="src", mode="latest_wins")
    df = spark.range(20).select(
        F.col("id").cast("string").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        F.col("id").alias("v"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("txt"))
    m(df, 1)
    # payload-only update: grp unchanged, v/txt changed — under `ship`
    # to grp this row MUST STILL EMIT (full-width diff decides)
    m(df.where("id = 7").withColumn("v", F.lit(700))
      .withColumn("txt", F.lit("seven")), 2)
    # group move: grp changes — grp__old must carry the pre-image
    m(df.where("id = 4").withColumn("grp", F.lit("gX")), 3)
    delete_origins(spark, path, df.where("id = 11").select("k", "grp"),
                   strategy="dv")


def _read(spark, path: str, **opts):
    from engagement_data_pipeline_spark.streaming.cdf_source import (
        MergeTableChangesDataSource)

    spark.dataSource.register(MergeTableChangesDataSource)
    r = (spark.read.format("merge_table_changes")
         .option("path", path)
         .option("fromCommit", "1"))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_ship_projection_keeps_full_width_diff(spark, tmp_path):
    path = str(tmp_path / "t")
    _history(spark, path)

    full = _read(spark, path, includeOld="true")
    shipped = _read(spark, path, includeOld="true", ship="grp")

    assert shipped.columns == ["k", "op", "changed_cols",
                               "grp", "grp__old"]
    f = {r["k"]: r for r in full.collect()}
    s = {r["k"]: r for r in shipped.collect()}
    # identical row set: the v-only update (k=7) emits under ship too
    assert sorted(s) == sorted(f) and "7" in s
    for k, r in s.items():
        assert (r["op"], r["changed_cols"]) == \
            (f[k]["op"], f[k]["changed_cols"])
        assert r["grp"] == f[k]["grp"]
        assert r["grp__old"] == f[k]["grp__old"]
    # changed_cols still reports the UNSHIPPED truly-changed columns
    assert set(s["7"]["changed_cols"].split(",")) == {"txt", "v"}
    assert s["7"]["op"] == "update"
    # the moved row's pre-image group survives the projection
    assert (s["4"]["grp"], s["4"]["grp__old"]) == ("gX", "g1")
    assert s["11"]["op"] == "delete"


def test_ship_unknown_column_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    _history(spark, path)
    with pytest.raises(Exception, match="ship"):
        _read(spark, path, ship="nope").collect()


def test_ship_rejected_for_streams(spark, tmp_path):
    # streamReader construction (not .load(), which only resolves the
    # schema) is where the engine binds the source to a stream — the
    # guard lives there.
    from engagement_data_pipeline_spark.streaming.cdf_source import (
        MergeTableChangesDataSource)

    path = str(tmp_path / "t")
    _history(spark, path)
    ds = MergeTableChangesDataSource(
        options={"path": path, "ship": "grp"})
    with pytest.raises(ValueError, match="batch-read option"):
        ds.streamReader(None)


def test_read_changes_local_ship_matches_distributed(spark, tmp_path):
    """The full-width driver-side read and a distributed read shipped
    to `grp` agree on every shipped cell: same emitted rows (the
    payload-only update included), ops, `grp`/`grp__old` and
    changed_cols — shipping narrows the output, never the diff."""
    from engagement_data_pipeline_spark.streaming.cdf_source import (
        read_changes_local)

    path = str(tmp_path / "t")
    _history(spark, path)
    lc = read_changes_local(path, 1, 4, max_rows=4096)
    assert lc is not None
    dist = _read(spark, path, includeOld="true", ship="grp")
    assert not {"v", "txt", "v__old", "txt__old"} & set(dist.columns)
    dist = {r["k"]: r for r in dist.collect()}
    loc = {r["k"]: r for r in lc.rows}
    assert all({"v", "txt", "grp__old"} <= set(r) for r in lc.rows)
    assert sorted(loc) == sorted(dist) and "7" in loc
    for k, r in loc.items():
        assert r["op"] == dist[k]["op"]
        assert r["grp"] == dist[k]["grp"]
        assert r.get("grp__old") == dist[k]["grp__old"]
        assert r["changed_cols"] == dist[k]["changed_cols"]


def test_local_union_schema_sees_mixed_schema_dir(spark, tmp_path):
    """Hardening for the one-commit-per-dir invariant: a straggler
    file with an extra column inside ONE dir must contribute its
    column to the union (not be silently dropped), and an intra-dir
    type conflict must force the distributed-merge fallback."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engagement_data_pipeline_spark.streaming.ingest import (
        _local_union_schema)

    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64()),
                             "y": pa.array(["a", "b"])}),
                   str(d / "a.parquet"))
    pq.write_table(pa.table({"x": pa.array([3], pa.int64()),
                             "z": pa.array([1.5])}),
                   str(d / "b.parquet"))
    st = _local_union_schema([str(d)])
    assert st is not None and set(st.fieldNames()) == {"x", "y", "z"}
    # matches Spark's own mergeSchema union for the same dir
    merged = spark.read.option("mergeSchema", "true").parquet(str(d))
    assert set(merged.schema.fieldNames()) == set(st.fieldNames())
    assert {f.name: f.dataType for f in merged.schema.fields} == \
        {f.name: f.dataType for f in st.fields}

    c = tmp_path / "conflict"
    c.mkdir()
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}),
                   str(c / "a.parquet"))
    pq.write_table(pa.table({"x": pa.array(["s"])}),
                   str(c / "b.parquet"))
    assert _local_union_schema([str(c)]) is None


def test_scoped_cache_release(spark):
    from engagement_data_pipeline_spark import session as S

    df = S.scoped_cache(spark.range(10))
    df.count()
    assert df.storageLevel.useMemory
    S.release_scoped_caches()
    assert not S._SCOPED_CACHES
    assert not df.storageLevel.useMemory


def test_registry_wrapper_releases_previous_query_caches(spark):
    from engagement_data_pipeline_spark import session as S
    from engagement_data_pipeline_spark.queries.registry import (
        _released)

    held = S.scoped_cache(spark.range(5))
    held.count()
    assert held.storageLevel.useMemory

    ran = []
    fn = _released("x", lambda sp, sf: ran.append((sp, sf)))
    fn(spark, "/nowhere")
    assert ran == [(spark, "/nowhere")]
    assert not held.storageLevel.useMemory


# --- round-15 second-batch internals (prefilter, narrowed caches) ----------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_prefilter_equals_unfiltered_verify(spark):
    """ngram_jaccard_pairs (with the __c + min(stop) upper-bound
    prefilter) must equal the plain candidates→verify pipeline on a
    corpus WITH stop-grams (df cap binding), near-dups, and
    borderline pairs."""
    from engagement_data_pipeline_spark.training.dedup import (
        _bucket_pairs, _shingled, _verify_pairs, ngram_jaccard_pairs)

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, base),
            (2, base + " iota"),                      # near-dup of 1
            (3, "alpha beta gamma completely different tail here now"),
            (4, "unrelated words entirely separate content block"),
            (5, base)]                                # exact dup of 1
    # boilerplate shared by everyone -> stop-grams under a low df cap
    rows = [(i, t + " common boiler plate suffix") for i, t in rows]
    docs = _docs(spark, rows)

    for thr, cap in ((0.5, 3), (0.3, 2), (0.8, 100)):
        got = sorted(
            tuple(r) for r in ngram_jaccard_pairs(
                docs, threshold=thr, max_doc_freq=cap).collect())
        sh = _shingled(docs, "text", "doc_id")
        shh = sh.select("id",
                        F.array_distinct(F.col("h")).alias("shingles"))
        posting = shh.select("id", F.explode("shingles").alias("shingle"))
        rare = (posting.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= cap))
        blocked = posting.join(rare.select("shingle"), "shingle")
        want = sorted(
            tuple(r) for r in _verify_pairs(
                shh, _bucket_pairs(blocked, "shingle"), thr).collect())
        assert got == want, (thr, cap, got, want)


def test_containment_prefilter_equals_unfiltered_verify(spark):
    from engagement_data_pipeline_spark.training.dedup import (
        fingerprint_containment_pairs)

    # quote/superset relation: doc 2 contains doc 1's text verbatim
    long_tail = " ".join(f"w{i}" for i in range(40))
    rows = [(1, long_tail),
            (2, long_tail + " plus extra framing text around the quote"),
            (3, " ".join(f"q{i}" for i in range(40)))]
    docs = _docs(spark, rows)
    got = {(r.id_a, r.id_b): r.containment
           for r in fingerprint_containment_pairs(
               docs, threshold=0.5, min_fp=1, sample_mod=2).collect()}
    # the quoted doc must be found, the unrelated one must not
    assert (1, 2) in got and got[(1, 2)] >= 0.5
    assert all(3 not in k for k in got)


def test_fuzzy_pairs_narrow_cache_matches_bruteforce(spark):
    from engagement_data_pipeline_spark.operators.fuzzy import (
        fuzzy_pairs_ed1)

    rows = [(1, "jamal"), (2, "jamaal"), (3, "jmal"), (4, "kamal"),
            (5, "xavier"), (6, "jamal")]
    df = spark.createDataFrame(rows, "k long, s string")
    got = {(r.left_key, r.right_key): r.dist
           for r in fuzzy_pairs_ed1(df, "k", "s").collect()}
    import itertools

    def lev(a, b):
        import numpy as np
        d = np.zeros((len(a) + 1, len(b) + 1), dtype=int)
        d[:, 0] = range(len(a) + 1)
        d[0, :] = range(len(b) + 1)
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                d[i, j] = min(d[i - 1, j] + 1, d[i, j - 1] + 1,
                              d[i - 1, j - 1] + (a[i - 1] != b[j - 1]))
        return int(d[len(a), len(b)])

    want = {(a[0], b[0]): lev(a[1], b[1])
            for a, b in itertools.combinations(rows, 2)
            if lev(a[1], b[1]) <= 1}
    assert got == want and (1, 6) in got and got[(1, 6)] == 0


def test_make_rung_replica_ids_never_collide(spark):
    # ids past a fixed 10_000_000 shift would land on the next
    # replica's ids; the derived shift keeps every replica disjoint
    from tools.make_rung import id_shift, replicate

    df = spark.createDataFrame([(3, "a"), (10_000_003, "b")],
                               "event_id long, text string")
    shift = id_shift([(df, ["event_id"])], 3)
    assert shift == 100_000_000
    rep = replicate(df, ["event_id"], ["text"], 3, shift)
    assert rep.select("event_id").distinct().count() == 6
    assert sorted(r.text for r in rep.collect()) == [
        "a", "a rep1", "a rep2", "b", "b rep1", "b rep2"]
    neg = spark.createDataFrame([(-1,)], "event_id long")
    with pytest.raises(ValueError, match="collide"):
        id_shift([(neg, ["event_id"])], 2)
