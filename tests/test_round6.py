"""Round-6 hardening tests: NULL-posture fixes (quarantine gate,
small-cell suppression), exact decimal products in the PCA gram
statistics, and index/bench maintenance fixes."""

from __future__ import annotations

from pyspark.sql import functions as F


# --- quality: fail-closed NULL rule predicates ----------------------------

def test_row_quarantine_null_predicate_fails_closed(spark):
    from engagement_data_pipeline_spark.operators.quality import (
        Rule, row_quarantine)

    df = spark.createDataFrame(
        [("a", 1), ("b", -1), ("c", None)], "k string, x int")
    # raw custom predicate, NOT null-safe: x < 0 is NULL for NULL x
    rules = [Rule("neg_x", "custom", F.col("x") < 0)]
    valid, bad = row_quarantine(df, rules)
    assert {r.k for r in valid.collect()} == {"a"}
    quarantined = {r.k: r.failed_rules for r in bad.collect()}
    # the NULL-predicate row is quarantined, not silently passed
    assert quarantined == {"b": "neg_x", "c": "neg_x"}


def test_expect_counts_null_predicate_as_violation(spark):
    from engagement_data_pipeline_spark.operators.quality import Rule, expect

    df = spark.createDataFrame(
        [("a", 1), ("b", None)], "k string, x int")
    [row] = expect(df, [Rule("neg_x", "custom", F.col("x") < 0)]).collect()
    assert row.violations == 1 and row.n_checked == 2


# --- privacy: NULL counts route into the rollup ---------------------------

def test_suppress_small_groups_null_count_not_dropped(spark):
    from engagement_data_pipeline_spark.operators.privacy import (
        SUPPRESSED, suppress_small_groups)

    dist = spark.createDataFrame(
        [("f1", "a", 10), ("f1", "b", None), ("f1", "c", 4)],
        "field string, code string, n long")
    out = suppress_small_groups(dist, ["field"], "code", "n", 5).collect()
    by = {(r.field, r.code): r.n for r in out}
    assert by[("f1", "a")] == 10
    # NULL-count cell folded into the rollup (contributing 0), so the
    # rollup total is 4 < k -> withheld as NULL, but the row EXISTS
    assert ("f1", SUPPRESSED) in by
    assert by[("f1", SUPPRESSED)] is None
    # nothing vanished: every published row is >= k or the rollup
    assert len(out) == 2


# --- pca: decimal products exact past int64 -------------------------------

def test_gram_stats_exact_past_int64(spark):
    from engagement_data_pipeline_spark.training.pca import (
        PCA_MICRO, gram_stats)

    # |x| ~ 1e7 -> q ~ 1e13 -> q*q ~ 1e26 >> 2^63: a long multiply
    # would silently wrap. The default (fast) path must REFUSE such a
    # corpus loudly (the _Q_BOUND assert — never a silent wrap), and
    # the DECIMAL tile path (block < dim) must be exact.
    import math

    import pytest

    xs = [1.25e7, -3.5e7]
    df = spark.createDataFrame([(list(xs),)], "embedding array<double>")
    q = [math.floor(x * PCA_MICRO) for x in xs]
    assert abs(q[0] * q[0]) >= 2 ** 63  # the case long math can't do

    with pytest.raises(Exception, match="quantized component"):
        gram_stats(df, 2).collect()

    rows = {(r.i, r.j): int(r.s)
            for r in gram_stats(df, 2, block=1).collect()}
    assert rows[(-1, -1)] == 1
    assert rows[(0, -1)] == q[0] and rows[(1, -1)] == q[1]
    assert rows[(0, 0)] == q[0] * q[0]
    assert rows[(0, 1)] == q[0] * q[1]
    assert rows[(1, 1)] == q[1] * q[1]


def test_gram_stats_fast_path_matches_tile_path_in_range(spark):
    # The long-product fast path and the DECIMAL tile path must agree
    # cell-for-cell on in-range data (same contract the sf0.1 A/B
    # pinned: 0 mismatched cells over the real embeddings).
    from engagement_data_pipeline_spark.training.pca import gram_stats

    rows = [([float(i) / 7 - 0.4, 1.25 * i, -3.0 + i, 0.0],)
            for i in range(9)] + [(None,)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    fast = {(r.i, r.j): r.s for r in gram_stats(df, 4).collect()}
    tile = {(r.i, r.j): r.s
            for r in gram_stats(df, 4, block=2).collect()}
    assert fast == tile and len(fast) == 4 * 5 // 2 + 4 + 1
    # the null embedding counts as a row in both paths
    assert fast[(-1, -1)] == "10"


# --- text index sizing ----------------------------------------------------

def _mini_docs(spark, n):
    rows = [(i, f"alpha beta doc{i % 7} gamma") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_index_bucket_sizing_scales_and_carries(spark, tmp_path):
    from engagement_data_pipeline_spark.training.ranking import (
        build_text_index, compact_text_index, default_term_buckets,
        update_text_index)

    assert default_term_buckets(10) == 4
    assert default_term_buckets(9000) == 9
    assert default_term_buckets(10 ** 9) == 32

    idx = str(tmp_path / "idx")
    build_text_index(_mini_docs(spark, 50), idx)
    # default path at 50 docs -> 4 postings partitions (not 32)
    posts = spark.read.parquet(f"{idx}/postings")
    n_files = posts.select(F.input_file_name()).distinct().count()
    assert n_files == 4
    # stats written from the SAME aggregate that sized the buckets
    [st] = spark.read.parquet(f"{idx}/stats").collect()
    assert st.n_docs == 50 and st.sum_dl == 200

    # compaction after a delta re-derives the width from CURRENT stats
    update_text_index(spark, idx, new_docs=_mini_docs(spark, 20)
                      .where(F.col("doc_id") >= 50)
                      .unionByName(spark.createDataFrame(
                          [(100 + i, "x y") for i in range(10)],
                          "doc_id long, text string")),
                      removed_docs=None)
    compact_text_index(spark, idx)
    posts2 = spark.read.parquet(f"{idx}/postings")
    n_files2 = posts2.select(F.input_file_name()).distinct().count()
    assert n_files2 == 4  # still sized from n_docs, not hard-coded 32
    # fold-only deletion: no committed delta remains (the directory
    # itself may linger, empty, as a mailbox for concurrent writers)
    from engagement_data_pipeline_spark.training.ranking import _delta_seqs
    assert _delta_seqs(spark, idx) == []
    # explicit override wins on compaction
    compact_text_index(spark, idx, n_term_buckets=7)
    n_files3 = (spark.read.parquet(f"{idx}/postings")
                .select(F.input_file_name()).distinct().count())
    # hash collisions can leave some of the 7 partitions empty (no
    # file written), but the width must exceed the derived default
    assert 4 < n_files3 <= 7


# --- point lookup reads exactly one bucket --------------------------------

def test_lookup_origin_scans_single_bucket(spark, tmp_path):
    from engagement_data_pipeline_spark.streaming import ingest as ing

    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=8)
    merge(spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(200)],
        "origin string, payload string"), 0)
    hit = ing.lookup_origin(spark, path, ["k7"])
    [row] = hit.collect()
    assert row.payload == "v7"
    # the scan touches exactly ONE bucket directory however many
    # buckets the table has — the O(1) point-read the layout buys
    files = {r[0] for r in hit.select(F.input_file_name()).collect()}
    dirs = {f.rsplit("/", 2)[-2] for f in files}
    assert len(dirs) == 1 and next(iter(dirs)).startswith("bucket=")
    # plan never references the other 7 bucket paths
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert plan.count("bucket=") <= 1


# --- blocked gram tiles == unblocked single pass --------------------------

def test_gram_stats_blocked_equals_unblocked(spark):
    from engagement_data_pipeline_spark.training.pca import gram_stats

    rows = [([float(i + j) / 7.0 - 1.5 for i in range(5)],)
            for j in range(9)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    base = {(r.i, r.j): r.s for r in gram_stats(df, 5).collect()}
    for block in (1, 2, 3, 5, 99):
        tiled = {(r.i, r.j): r.s
                 for r in gram_stats(df, 5, block=block).collect()}
        assert tiled == base, f"block={block} diverged"
    # full triangle present: 5*6/2 products + 5 sums + 1 count
    assert len(base) == 15 + 5 + 1


# --- retention vacuum + metadata-only compaction trigger ------------------

def test_vacuum_retention_keeps_time_travel(spark, tmp_path):
    from engagement_data_pipeline_spark.streaming import ingest as ing

    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=2)
    for i in range(3):
        merge(spark.createDataFrame([(f"k{i}", "v")],
                                    "origin string, payload string"), i)
    # default vacuum with keep_manifests=1 would reclaim commit 1&2's
    # superseded data; a wide retain_ms keeps every commit readable
    ing.vacuum_table(spark, path, keep_manifests=1,
                     retain_ms=24 * 3600 * 1000)
    for commit, n in ((1, 1), (2, 2), (3, 3)):
        assert ing.read_table_at(spark, path, commit).count() == n
    # zero retention: old superseded versions reclaim, latest intact
    ing.vacuum_table(spark, path, keep_manifests=1, retain_ms=0)
    assert ing.read_merged_table(spark, path).count() == 3


def test_maybe_compact_triggers_on_commit_count(spark, tmp_path):
    from engagement_data_pipeline_spark.streaming import ingest as ing

    path = str(tmp_path / "t")
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=2)
    for i in range(4):
        merge(spark.createDataFrame([(f"k{i}", "v")],
                                    "origin string, payload string"), i)
    assert ing.maybe_compact(spark, path,
                             max_merges_since_compact=10) is False
    assert ing.maybe_compact(spark, path,
                             max_merges_since_compact=3) is True
    hist = ing.table_history(spark, path).collect()
    assert hist[0].op == "compact"
    # counter reset: the compact commit stops the scan
    assert ing.maybe_compact(spark, path,
                             max_merges_since_compact=3) is False
    assert ing.read_merged_table(spark, path).count() == 4
