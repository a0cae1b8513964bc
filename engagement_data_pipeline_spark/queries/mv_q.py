"""The reference's automated-analysis rollups maintained as
STREAM-MAINTAINED MATERIALIZED VIEWS over the messages/participants
merge tables — the maintenance machinery doing the reference's actual
job incrementally.

The reference recomputes every rollup from scratch on each analysis
run (src/engagement_db_to_analysis/automated_analysis.py:55-171); here
each is an MV fed by the table's retract stream (`mv_stream_sink`), so
a sync that touches K rows costs O(K + touched groups), never a table
scan. Coverage = the full suite; top-k A6 is the one non-MV shape (a
rank window is not retract-maintainable flat), maintained instead as
a touched-group exact re-rank (`top_k_incremental`, the k6 pattern):

- A1 engagement_counts and A2 repeat_participations share ONE witness
  MV keyed (dataset, participant_uuid): COUNT(DISTINCT) is not
  invertible, so both use the TWO-LEVEL decomposition
  (`read_mv_distinct`) — A1 rolls the witnesses up per dataset, A2 per
  participant (episodes) then into the histogram.
- A3 theme_distributions, A5 cross_tabs, A7 traffic_analysis are flat
  count MVs — the state IS the answer grain (A7's prepare does the
  fixed-calendar day binning, so a timestamp correction re-bins by
  retract+add).
- A4 demographic_distributions and A8 participation_map explode their
  ';'-joined code lists via a row-local `prepare` — exact under
  retraction because explode is flatMap-shaped.
- A9 relevance_uuids is a bare witness MV keyed participant_uuid: the
  live groups ARE the relevance set, proven by full-outer join with
  presence flags.

Each query returns the MAINTAINED answer joined with a from-scratch
batch recompute over the final table state: the DuckDB oracle computes
the same values once and duplicates the columns, so a green hash IS
the proof that stream-maintenance == recompute across the mixed
insert / WS-move-update / dv-delete history (consenting filter
included, constant per participant in most fixtures so the row-level
filtered MV equals the reference's participant-level opt-out). The
participant-level consent CASCADE on FOLD-TIME FLIPS — a late STOP
retro-excluding its sender, a deleted STOP restoring them — is not
row-local and so cannot be a `prepare`; `a1_mv_cascade` maintains it
as TWO states fed by one stream (the unfiltered witness MV and a
stop-set witness MV) anti-joined at read time, both O(state).

And because the inner witness MV is itself a merge table with a
change feed, MVs CASCADE: `a1_mv_tiered` maintains the per-dataset
rollup from the witness MV's own retract stream — COUNT(DISTINCT)
flat, read O(#datasets) — with zero new machinery.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming import mv as MV
from ..streaming.drain import drain_changes
from ..streaming.ingest import (delete_origins, foreach_batch_upsert,
                                read_merged_table)
from ..tables import load
from ._helpers import apply_runtime_conf, fixture_dir

A1_METRICS = {"n_messages": ("origin_id", "count")}


def _stream_into(spark: SparkSession, table: str, sink) -> None:
    """Drain the table's full retract feed into a foreachBatch sink,
    one source commit per batch (so updates and deletes arrive as
    true retractions, not collapsed into the snapshot diff), up to
    the head commit recorded on entry."""
    drain_changes(spark, table, sink)


def _a1_rows(spark: SparkSession, sf_dir: str, moved: bool) -> DataFrame:
    """Messages-shaped rows derived from `events`: dataset is the RQA
    episode, participant repeats across episodes (user_id % 50), and
    consent is a CONSTANT per participant (uid % 7 == 0 withdrawn) so
    the row-level filtered MV equals the participant-level opt-out."""
    ev = (load(spark, sf_dir, "events")
          .where(F.col("event_id") % 16 < 8)
          .select(F.col("event_id").alias("e"),
                  (F.col("user_id") % 50).alias("uid")))
    d1 = F.col("e") % 3
    d2 = (F.col("e") % 3 + 1) % 3
    # the WS-move: slot-1 rows with s8 == 5 re-merge under the NEXT
    # episode's dataset (a coding move), everything else re-merges
    # identically (the keyed diff suppresses the no-ops)
    ds = F.when(F.lit(moved) & (F.col("e") % 8 == 5), d2).otherwise(d1)
    return ev.select(
        F.concat(F.lit("ev:"), F.col("e").cast("string"))
        .alias("origin_id"),
        F.concat(F.lit("rqa_s01e0"), (ds + 1).cast("string"))
        .alias("dataset"),
        F.concat(F.lit("p"), F.col("uid").cast("string"))
        .alias("participant_uuid"),
        F.when(F.col("uid") % 7 == 0, F.lit("true"))
        .otherwise(F.lit("false")).alias("consent_withdrawn"),
        (F.col("e") % 4).alias("slot"), (F.col("e") % 8).alias("s8"))


def _a1_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Messages table (3 commits: insert, WS-move update, dv delete)
    plus its stream-maintained A1 MV, built once per process."""
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a1_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2]))
              .drop("slot", "s8"), 1)
        merge(_a1_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("slot", "s8"), 2)
        dead = (_a1_rows(spark, sf_dir, False)
                .where((F.col("slot") == 2) & (F.col("s8") == 2))
                .select("origin_id"))
        delete_origins(spark, table, dead, strategy="dv")
        _stream_into(spark, table, MV.mv_stream_sink(
            os.path.join(path, "mv"),
            ["dataset", "participant_uuid"], A1_METRICS,
            prepare=lambda df: df.where(
                F.col("consent_withdrawn") == "false")
            .select("dataset", "participant_uuid", "origin_id"),
            source_cols=["origin_id", "dataset", "participant_uuid",
                         "consent_withdrawn"]))

    return fixture_dir("a1_mv_pair", sf_dir, _build)


def a1_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 engagement_counts as a stream-maintained MV: per RQA dataset
    (and 'total') message counts + DISTINCT consenting participants,
    read from the two-level MV state in O(state), joined against the
    batch recompute over the final table — both column pairs must
    agree row-for-row (reference automated_analysis.py:65-69)."""
    apply_runtime_conf(spark)
    base = _a1_fixture(spark, sf_dir)
    mvp = os.path.join(base, "mv")
    inner = MV.read_mv(spark, mvp, A1_METRICS)
    per_ds = MV.read_mv_distinct(spark, mvp, ["dataset"], A1_METRICS,
                                 distinct_name="n_participants")
    total = (inner.agg(
        F.sum("n_messages").cast("long").alias("n_messages"),
        F.countDistinct("participant_uuid").alias("n_participants"))
        .select(F.lit("total").alias("dataset"), "n_messages",
                "n_participants"))
    maintained = (per_ds.select("dataset",
                                F.col("n_messages").cast("long")
                                .alias("n_messages"),
                                "n_participants")
                  .unionByName(total))
    # from-scratch recompute over the final table state (what the
    # reference does every run); the join proves maintained == batch
    mv_src = (read_merged_table(spark, os.path.join(base, "table"))
              .where(F.col("consent_withdrawn") == "false"))
    aggs = [F.count(F.lit(1)).alias("n_messages_batch"),
            F.countDistinct("participant_uuid")
            .alias("n_participants_batch")]
    batch = (mv_src.groupBy("dataset").agg(*aggs)
             .unionByName(mv_src.agg(*aggs).select(
                 F.lit("total").alias("dataset"),
                 "n_messages_batch", "n_participants_batch")))
    return maintained.join(batch, "dataset")


A1_MV_STREAM_SQL = """
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8,
         user_id % 50 AS uid
  FROM events WHERE event_id % 16 < 8
),
live AS (
  SELECT 'rqa_s01e0' || CAST(1 + CASE WHEN slot = 1 AND s8 = 5
                                 THEN (e % 3 + 1) % 3
                                 ELSE e % 3 END AS VARCHAR) AS dataset,
         'p' || CAST(uid AS VARCHAR) AS participant_uuid
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 2 AND s8 = 2)
    AND uid % 7 <> 0
),
counts AS (
  SELECT dataset, CAST(COUNT(*) AS BIGINT) AS n_messages,
         CAST(COUNT(DISTINCT participant_uuid) AS BIGINT)
           AS n_participants
  FROM live GROUP BY dataset
  UNION ALL
  SELECT 'total', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT participant_uuid) AS BIGINT)
  FROM live
)
SELECT dataset, n_messages, n_participants,
       n_messages AS n_messages_batch,
       n_participants AS n_participants_batch
FROM counts
"""


def a2_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 repeat_participations as a stream-maintained MV — and the
    same inner witness state as A1: the MV keyed
    (dataset, participant_uuid) answers BOTH rollups, COUNT(*) per
    dataset for A1 and COUNT(*) per participant for A2 (episodes
    participated), so one maintained table serves two reference
    exports. The per-participant episode counts roll up into the
    (n_episodes -> n_participants, pct) histogram at read time —
    O(state) and two small exchanges, never a table scan — joined
    against the batch recompute over the final table (reference
    automated_analysis.py:71-75)."""
    apply_runtime_conf(spark)
    base = _a1_fixture(spark, sf_dir)
    eps = MV.read_mv_distinct(
        spark, os.path.join(base, "mv"), ["participant_uuid"],
        A1_METRICS, distinct_name="n_episodes")
    dist = (eps.groupBy("n_episodes")
            .agg(F.count(F.lit(1)).alias("n_participants")))
    w = Window.partitionBy()
    maintained = dist.select(
        "n_episodes", "n_participants",
        (F.col("n_participants") * F.lit(100.0)
         / F.sum("n_participants").over(w)).alias("pct"))
    src = (read_merged_table(spark, os.path.join(base, "table"))
           .where(F.col("consent_withdrawn") == "false"))
    eps_b = (src.groupBy("participant_uuid")
             .agg(F.countDistinct("dataset").alias("n_episodes")))
    dist_b = (eps_b.groupBy("n_episodes")
              .agg(F.count(F.lit(1)).alias("n_participants_batch")))
    batch = dist_b.select(
        "n_episodes", "n_participants_batch",
        (F.col("n_participants_batch") * F.lit(100.0)
         / F.sum("n_participants_batch").over(w)).alias("pct_batch"))
    return maintained.join(batch, "n_episodes")


A2_MV_STREAM_SQL = """
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8,
         user_id % 50 AS uid
  FROM events WHERE event_id % 16 < 8
),
live AS (
  SELECT 'rqa_s01e0' || CAST(1 + CASE WHEN slot = 1 AND s8 = 5
                                 THEN (e % 3 + 1) % 3
                                 ELSE e % 3 END AS VARCHAR) AS dataset,
         'p' || CAST(uid AS VARCHAR) AS participant_uuid
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 2 AND s8 = 2)
    AND uid % 7 <> 0
),
eps AS (
  SELECT participant_uuid,
         CAST(COUNT(DISTINCT dataset) AS BIGINT) AS n_episodes
  FROM live GROUP BY participant_uuid
),
dist AS (
  SELECT n_episodes, CAST(COUNT(*) AS BIGINT) AS n_participants
  FROM eps GROUP BY n_episodes
)
SELECT n_episodes, n_participants,
       n_participants * CAST(100.0 AS DOUBLE)
         / SUM(n_participants) OVER () AS pct,
       n_participants AS n_participants_batch,
       n_participants * CAST(100.0 AS DOUBLE)
         / SUM(n_participants) OVER () AS pct_batch
FROM dist
"""


def _a3_rows(spark: SparkSession, sf_dir: str, relabeled: bool) -> DataFrame:
    """Coded-messages rows derived from `events`: dataset is the RQA
    episode, each row carries ONE code under its episode's scheme and
    a gender breakdown; the relabel commit moves slot-1 rows with
    e % 9 == 4 to the next code (a Coda recode), everything else
    re-merges identically (the keyed diff suppresses the no-ops)."""
    ev = (load(spark, sf_dir, "events")
          .where(F.col("event_id") % 16 < 8)
          .select(F.col("event_id").alias("e"),
                  (F.col("user_id") % 50).alias("uid")))
    c = F.when(F.lit(relabeled) & (F.col("e") % 9 == 4),
               (F.col("e") + 1) % 5).otherwise(F.col("e") % 5)
    return ev.select(
        F.concat(F.lit("ev:"), F.col("e").cast("string"))
        .alias("origin_id"),
        F.concat(F.lit("rqa_s01e0"),
                 (F.col("e") % 3 + 1).cast("string")).alias("dataset"),
        F.concat(F.lit("code_"), c.cast("string")).alias("code"),
        F.concat(F.lit("p"), F.col("uid").cast("string"))
        .alias("participant_uuid"),
        F.when(F.col("uid") % 3 == 0, F.lit("man"))
        .when(F.col("uid") % 3 == 1, F.lit("woman"))
        .otherwise(F.lit("unknown")).alias("gender"),
        F.when(F.col("uid") % 7 == 0, F.lit("true"))
        .otherwise(F.lit("false")).alias("consent_withdrawn"),
        (F.col("e") % 4).alias("slot"), (F.col("e") % 8).alias("s8"))


def _a3_prepare(df: DataFrame) -> DataFrame:
    """Row-local filter + select into the theme-distributions grain
    (dataset, scheme, code, breakdown): scheme is derived from the
    row's own dataset, consent is constant per participant — both
    flatMap-shaped, so exact under retraction."""
    return (df.where(F.col("consent_withdrawn") == "false")
            .select("dataset",
                    F.concat(F.col("dataset"), F.lit("_scheme"))
                    .alias("scheme"),
                    "code", F.col("gender").alias("breakdown"),
                    "origin_id"))


A3_METRICS = {"n_messages": ("origin_id", "count")}


def _a3_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Coded-messages table (3 commits: insert, Coda-recode update,
    dv delete) plus its stream-maintained A3 MV. Unlike A1/A4, every
    metric here is invertible (plain counts), so the MV state IS the
    answer grain — no two-level read needed."""
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a3_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2]))
              .drop("slot", "s8"), 1)
        merge(_a3_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("slot", "s8"), 2)
        dead = (_a3_rows(spark, sf_dir, False)
                .where((F.col("slot") == 2) & (F.col("s8") == 2))
                .select("origin_id"))
        delete_origins(spark, table, dead, strategy="dv")
        _stream_into(spark, table, MV.mv_stream_sink(
            os.path.join(path, "mv"),
            ["dataset", "scheme", "code", "breakdown"], A3_METRICS,
            prepare=_a3_prepare,
            source_cols=["origin_id", "dataset", "code", "gender",
                         "consent_withdrawn"]))

    return fixture_dir("a3_mv_pair", sf_dir, _build)


def a3_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 theme_distributions as a stream-maintained MV: per (RQA
    dataset, scheme, code, demog breakdown) message counts kept flat
    by the retract fold across the insert / recode / delete history —
    the MV state is the exact answer grain (counts are invertible),
    so the read is a bare state scan, joined against the batch
    recompute over the final table (reference
    automated_analysis.py:77-81)."""
    apply_runtime_conf(spark)
    base = _a3_fixture(spark, sf_dir)
    maintained = (MV.read_mv(spark, os.path.join(base, "mv"),
                             A3_METRICS)
                  .select("dataset", "scheme", "code", "breakdown",
                          F.col("n_messages").cast("long")
                          .alias("n_messages")))
    table = read_merged_table(spark, os.path.join(base, "table"))
    batch = (_a3_prepare(table)
             .groupBy("dataset", "scheme", "code", "breakdown")
             .agg(F.count(F.lit(1)).alias("n_messages_batch")))
    return maintained.join(batch,
                           ["dataset", "scheme", "code", "breakdown"])


A3_MV_STREAM_SQL = """
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8,
         user_id % 50 AS uid
  FROM events WHERE event_id % 16 < 8
),
live AS (
  SELECT 'rqa_s01e0' || CAST(e % 3 + 1 AS VARCHAR) AS dataset,
         'code_' || CAST(CASE WHEN slot = 1 AND e % 9 = 4
                              THEN (e + 1) % 5
                              ELSE e % 5 END AS VARCHAR) AS code,
         CASE WHEN uid % 3 = 0 THEN 'man'
              WHEN uid % 3 = 1 THEN 'woman'
              ELSE 'unknown' END AS breakdown
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 2 AND s8 = 2)
    AND uid % 7 <> 0
)
SELECT dataset, dataset || '_scheme' AS scheme, code, breakdown,
       CAST(COUNT(*) AS BIGINT) AS n_messages,
       CAST(COUNT(*) AS BIGINT) AS n_messages_batch
FROM live GROUP BY dataset, code, breakdown
"""


def _a4_prepare(df: DataFrame) -> DataFrame:
    """Row-local explode of the ';'-joined demographic code lists into
    (field, code, pid) — flatMap-shaped, so exact under retraction."""
    entries = F.array(
        F.struct(F.lit("gender").alias("field"),
                 F.split(F.col("gender_codes"), ";").alias("codes")),
        F.struct(F.lit("age").alias("field"),
                 F.split(F.col("age_codes"), ";").alias("codes")))
    return (df.select("pid", F.explode(entries).alias("x"))
            .select(F.col("x.field").alias("field"),
                    F.explode("x.codes").alias("code"), "pid"))


def _a4_rows(spark: SparkSession, sf_dir: str, relabeled: bool) -> DataFrame:
    uids = (load(spark, sf_dir, "events")
            .where(F.col("event_id") % 16 < 4)
            .select(F.col("user_id").alias("uid")).distinct())
    shift = F.when(F.lit(relabeled) & (F.col("uid") % 5 == 0),
                   F.col("uid") + 1).otherwise(F.col("uid"))
    gender = (F.when(shift % 3 == 0, F.lit("man"))
              .when(shift % 3 == 1, F.lit("woman"))
              .otherwise(F.lit("man;woman")))
    return uids.select(
        F.concat(F.lit("p"), F.col("uid").cast("string")).alias("pid"),
        gender.alias("gender_codes"),
        F.concat(F.lit("age_"), (F.col("uid") % 6).cast("string"))
        .alias("age_codes"),
        (F.col("uid") % 11).alias("m11"))


def _a4_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Participants table (insert, relabel update, dv delete) plus its
    stream-maintained exploded A4 MV."""
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["pid"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a4_rows(spark, sf_dir, False).drop("m11"), 1)
        # relabel commit: only uid % 5 == 0 rows actually change; the
        # rest re-merge identically and the keyed diff suppresses them
        merge(_a4_rows(spark, sf_dir, True).drop("m11"), 2)
        dead = (_a4_rows(spark, sf_dir, False)
                .where(F.col("m11") == 0).select("pid"))
        delete_origins(spark, table, dead, strategy="dv")
        _stream_into(spark, table, MV.mv_stream_sink(
            os.path.join(path, "mv"), ["field", "code", "pid"], {},
            prepare=_a4_prepare,
            source_cols=["pid", "gender_codes", "age_codes"]))

    return fixture_dir("a4_mv_pair", sf_dir, _build)


def a4_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 demographic_distributions as a stream-maintained MV: per
    (demog field, code) DISTINCT participant counts, read as COUNT(*)
    over the exploded MV's witness groups, joined against the batch
    recompute over the final table (reference
    automated_analysis.py:83-87)."""
    apply_runtime_conf(spark)
    base = _a4_fixture(spark, sf_dir)
    maintained = MV.read_mv_distinct(
        spark, os.path.join(base, "mv"), ["field", "code"], {},
        distinct_name="n_participants")
    table = read_merged_table(spark, os.path.join(base, "table"))
    batch = (_a4_prepare(table.select(
        "pid", "gender_codes", "age_codes"))
        .groupBy("field", "code")
        .agg(F.countDistinct("pid").alias("n_participants_batch")))
    return maintained.join(batch, ["field", "code"])


A4_MV_STREAM_SQL = """
WITH uids AS (
  SELECT DISTINCT user_id AS uid FROM events WHERE event_id % 16 < 4
),
live AS (
  SELECT uid,
         CASE WHEN uid % 5 = 0 THEN uid + 1 ELSE uid END AS s
  FROM uids WHERE uid % 11 <> 0
),
coded AS (
  SELECT uid,
         CASE WHEN s % 3 = 0 THEN 'man'
              WHEN s % 3 = 1 THEN 'woman'
              ELSE 'man;woman' END AS gender,
         'age_' || CAST(uid % 6 AS VARCHAR) AS age
  FROM live
),
exploded AS (
  SELECT 'gender' AS field, UNNEST(string_split(gender, ';')) AS code,
         uid
  FROM coded
  UNION ALL
  SELECT 'age', age, uid FROM coded
)
SELECT field, code,
       CAST(COUNT(DISTINCT uid) AS BIGINT) AS n_participants,
       CAST(COUNT(DISTINCT uid) AS BIGINT) AS n_participants_batch
FROM exploded GROUP BY field, code
"""


# --- A5 cross_tabs ----------------------------------------------------------

A5_METRICS = {"n_participants": ("pid", "count")}


def _a5_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Participants table (same insert / relabel / dv-delete history
    as the A4 fixture) plus a cross-tab MV keyed on the RAW folded
    code strings (the reference cross-tabs the folded view, not the
    exploded codes) — plain counts, fully invertible."""
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["pid"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a4_rows(spark, sf_dir, False).drop("m11"), 1)
        merge(_a4_rows(spark, sf_dir, True).drop("m11"), 2)
        dead = (_a4_rows(spark, sf_dir, False)
                .where(F.col("m11") == 0).select("pid"))
        delete_origins(spark, table, dead, strategy="dv")
        _stream_into(spark, table, MV.mv_stream_sink(
            os.path.join(path, "mv"), ["code_a", "code_b"], A5_METRICS,
            prepare=lambda df: df.select(
                F.col("gender_codes").alias("code_a"),
                F.col("age_codes").alias("code_b"), "pid"),
            source_cols=["pid", "gender_codes", "age_codes"]))

    return fixture_dir("a5_mv_pair", sf_dir, _build)


def a5_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 cross_tabs as a stream-maintained MV: the contingency table
    of two folded coded fields, kept flat by the retract fold (each
    participant is one row, so the count per (code_a, code_b) cell is
    invertible), joined against the batch recompute over the final
    table (reference automated_analysis.py:89-100)."""
    apply_runtime_conf(spark)
    base = _a5_fixture(spark, sf_dir)
    maintained = (MV.read_mv(spark, os.path.join(base, "mv"),
                             A5_METRICS)
                  .select("code_a", "code_b",
                          F.col("n_participants").cast("long")
                          .alias("n_participants")))
    table = read_merged_table(spark, os.path.join(base, "table"))
    batch = (table.groupBy(F.col("gender_codes").alias("code_a"),
                           F.col("age_codes").alias("code_b"))
             .agg(F.count(F.lit(1)).alias("n_participants_batch")))
    return maintained.join(batch, ["code_a", "code_b"])


A5_MV_STREAM_SQL = """
WITH uids AS (
  SELECT DISTINCT user_id AS uid FROM events WHERE event_id % 16 < 4
),
live AS (
  SELECT uid,
         CASE WHEN uid % 5 = 0 THEN uid + 1 ELSE uid END AS s
  FROM uids WHERE uid % 11 <> 0
),
coded AS (
  SELECT CASE WHEN s % 3 = 0 THEN 'man'
              WHEN s % 3 = 1 THEN 'woman'
              ELSE 'man;woman' END AS code_a,
         'age_' || CAST(uid % 6 AS VARCHAR) AS code_b
  FROM live
)
SELECT code_a, code_b,
       CAST(COUNT(*) AS BIGINT) AS n_participants,
       CAST(COUNT(*) AS BIGINT) AS n_participants_batch
FROM coded GROUP BY code_a, code_b
"""


# --- A7 traffic_analysis ----------------------------------------------------

_DAY_US = 86_400_000_000
A7_METRICS = {"n_messages": ("origin_id", "count")}


def _a7_rows(spark: SparkSession, sf_dir: str, shifted: bool) -> DataFrame:
    """Timestamped messages: ts spreads over a 7-day window; the
    correction commit moves slot-1 rows with s8 == 5 one day later (a
    timestamp fix re-binning the message), everything else re-merges
    identically."""
    ev = (load(spark, sf_dir, "events")
          .where(F.col("event_id") % 16 < 8)
          .select(F.col("event_id").alias("e"),
                  (F.col("user_id") % 50).alias("uid")))
    day = F.when(F.lit(shifted) & (F.col("e") % 8 == 5),
                 F.col("e") % 7 + 1).otherwise(F.col("e") % 7)
    ts = day * F.lit(_DAY_US) + (F.col("e") % 1000) * F.lit(1_000_000)
    return ev.select(
        F.concat(F.lit("ev:"), F.col("e").cast("string"))
        .alias("origin_id"),
        F.concat(F.lit("rqa_s01e0"),
                 (F.col("e") % 3 + 1).cast("string")).alias("dataset"),
        ts.cast("long").alias("timestamp_us"),
        F.when(F.col("uid") % 7 == 0, F.lit("true"))
        .otherwise(F.lit("false")).alias("consent_withdrawn"),
        (F.col("e") % 4).alias("slot"), (F.col("e") % 8).alias("s8"))


def _a7_prepare(df: DataFrame) -> DataFrame:
    """Row-local consent filter + fixed-calendar day binning."""
    return (df.where(F.col("consent_withdrawn") == "false")
            .select((F.expr(f"timestamp_us div {_DAY_US}")
                     * _DAY_US).alias("day_us"),
                    "dataset", "origin_id"))


def _a7_fixture(spark: SparkSession, sf_dir: str) -> str:
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a7_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2]))
              .drop("slot", "s8"), 1)
        merge(_a7_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("slot", "s8"), 2)
        dead = (_a7_rows(spark, sf_dir, False)
                .where((F.col("slot") == 2) & (F.col("s8") == 2))
                .select("origin_id"))
        delete_origins(spark, table, dead, strategy="dv")
        _stream_into(spark, table, MV.mv_stream_sink(
            os.path.join(path, "mv"), ["day_us", "dataset"],
            A7_METRICS, prepare=_a7_prepare,
            source_cols=["origin_id", "dataset", "timestamp_us",
                         "consent_withdrawn"]))

    return fixture_dir("a7_mv_pair", sf_dir, _build)


def a7_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 traffic_analysis as a stream-maintained MV: message counts
    per (UTC day, dataset), kept flat across inserts, a timestamp
    correction that RE-BINS rows to a different day (retract from the
    old bin, add to the new), and dv deletes; joined against the
    batch recompute (reference automated_analysis.py:108-116)."""
    apply_runtime_conf(spark)
    base = _a7_fixture(spark, sf_dir)
    maintained = (MV.read_mv(spark, os.path.join(base, "mv"),
                             A7_METRICS)
                  .select("day_us", "dataset",
                          F.col("n_messages").cast("long")
                          .alias("n_messages")))
    table = (read_merged_table(spark, os.path.join(base, "table"))
             .where(F.col("consent_withdrawn") == "false"))
    batch = (table.groupBy(
        (F.expr(f"timestamp_us div {_DAY_US}") * _DAY_US)
        .alias("day_us"), "dataset")
        .agg(F.count(F.lit(1)).alias("n_messages_batch")))
    return maintained.join(batch, ["day_us", "dataset"])


A7_MV_STREAM_SQL = f"""
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8,
         user_id % 50 AS uid
  FROM events WHERE event_id % 16 < 8
),
live AS (
  SELECT (CASE WHEN slot = 1 AND s8 = 5 THEN e % 7 + 1
               ELSE e % 7 END) * {_DAY_US}
           + (e % 1000) * 1000000 AS ts_us,
         'rqa_s01e0' || CAST(e % 3 + 1 AS VARCHAR) AS dataset
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 2 AND s8 = 2)
    AND uid % 7 <> 0
)
SELECT CAST((ts_us // {_DAY_US}) * {_DAY_US} AS BIGINT) AS day_us,
       dataset,
       CAST(COUNT(*) AS BIGINT) AS n_messages,
       CAST(COUNT(*) AS BIGINT) AS n_messages_batch
FROM live GROUP BY 1, 2
"""


# --- A8 participation map ---------------------------------------------------

A8_METRICS = {"n_participants": ("pid", "count")}


def _a8_rows(spark: SparkSession, sf_dir: str, relabeled: bool) -> DataFrame:
    """Participants with ';'-joined location code lists (district;
    sometimes also a region roll-up code). The relabel commit moves
    uid % 5 == 0 participants one district over."""
    uids = (load(spark, sf_dir, "events")
            .where(F.col("event_id") % 16 < 4)
            .select(F.col("user_id").alias("uid")).distinct())
    shift = F.when(F.lit(relabeled) & (F.col("uid") % 5 == 0),
                   F.col("uid") + 1).otherwise(F.col("uid"))
    district = F.concat(F.lit("district_"), (shift % 8).cast("string"))
    locs = F.when(F.col("uid") % 3 == 0,
                  F.concat(district, F.lit(";region_"),
                           (shift % 4).cast("string"))).otherwise(district)
    return uids.select(
        F.concat(F.lit("p"), F.col("uid").cast("string")).alias("pid"),
        locs.alias("location_codes"),
        (F.col("uid") % 11).alias("m11"))


def _a8_fixture(spark: SparkSession, sf_dir: str) -> str:
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["pid"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a8_rows(spark, sf_dir, False).drop("m11"), 1)
        merge(_a8_rows(spark, sf_dir, True).drop("m11"), 2)
        dead = (_a8_rows(spark, sf_dir, False)
                .where(F.col("m11") == 0).select("pid"))
        delete_origins(spark, table, dead, strategy="dv")
        _stream_into(spark, table, MV.mv_stream_sink(
            os.path.join(path, "mv"), ["location_code"], A8_METRICS,
            prepare=lambda df: df.select(
                F.explode(F.split(F.col("location_codes"), ";"))
                .alias("location_code"), "pid"),
            source_cols=["pid", "location_codes"]))

    return fixture_dir("a8_mv_pair", sf_dir, _build)


def a8_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 participation map as a stream-maintained MV: participants
    per exploded location code (each participant's list carries each
    code at most once, so the row count IS the participant count —
    invertible, no two-level read), joined against the batch
    recompute (reference automated_analysis.py:131-171; rendering
    out of scope)."""
    apply_runtime_conf(spark)
    base = _a8_fixture(spark, sf_dir)
    maintained = (MV.read_mv(spark, os.path.join(base, "mv"),
                             A8_METRICS)
                  .select("location_code",
                          F.col("n_participants").cast("long")
                          .alias("n_participants")))
    table = read_merged_table(spark, os.path.join(base, "table"))
    batch = (table.select(
        F.explode(F.split(F.col("location_codes"), ";"))
        .alias("location_code"))
        .groupBy("location_code")
        .agg(F.count(F.lit(1)).alias("n_participants_batch")))
    return maintained.join(batch, ["location_code"])


A8_MV_STREAM_SQL = """
WITH uids AS (
  SELECT DISTINCT user_id AS uid FROM events WHERE event_id % 16 < 4
),
live AS (
  SELECT uid,
         CASE WHEN uid % 5 = 0 THEN uid + 1 ELSE uid END AS s
  FROM uids WHERE uid % 11 <> 0
),
exploded AS (
  SELECT 'district_' || CAST(s % 8 AS VARCHAR) AS location_code
  FROM live
  UNION ALL
  SELECT 'region_' || CAST(s % 4 AS VARCHAR)
  FROM live WHERE uid % 3 = 0
)
SELECT location_code,
       CAST(COUNT(*) AS BIGINT) AS n_participants,
       CAST(COUNT(*) AS BIGINT) AS n_participants_batch
FROM exploded GROUP BY location_code
"""


# --- A9 relevance uuids -----------------------------------------------------

def _a9_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Coded-messages table (the A3 history: insert, recode, delete)
    plus a WITNESS MV keyed on participant_uuid alone: the live inner
    groups ARE the relevance set. 'code_0' stands in for the control
    codes (NA/STOP/...) the reference excludes — the recode commit
    moves some rows into and out of it, flipping participants'
    relevance, which the witness fold tracks exactly (a participant
    leaves the state when their last relevant message is recoded or
    deleted)."""
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a3_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2]))
              .drop("slot", "s8"), 1)
        merge(_a3_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("slot", "s8"), 2)
        dead = (_a3_rows(spark, sf_dir, False)
                .where((F.col("slot") == 2) & (F.col("s8") == 2))
                .select("origin_id"))
        delete_origins(spark, table, dead, strategy="dv")
        _stream_into(spark, table, MV.mv_stream_sink(
            os.path.join(path, "mv"), ["participant_uuid"], {},
            prepare=lambda df: df.where(
                (F.col("consent_withdrawn") == "false")
                & (F.col("code") != "code_0"))
            .select("participant_uuid"),
            source_cols=["participant_uuid", "code",
                         "consent_withdrawn"]))

    return fixture_dir("a9_mv_pair", sf_dir, _build)


def a9_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 relevance uuids as a stream-maintained witness MV: distinct
    consenting participants with >=1 relevantly-coded message, read as
    the MV's live groups in O(state). Proven against the batch
    recompute by FULL OUTER join with presence flags — an element on
    only one side surfaces as a NULL flag, so subset errors cannot
    hide behind an inner join (reference
    rapid_pro_advert_functions.py:72-107)."""
    apply_runtime_conf(spark)
    base = _a9_fixture(spark, sf_dir)
    maintained = (MV.read_mv(spark, os.path.join(base, "mv"), {})
                  .select("participant_uuid",
                          F.lit("true").alias("in_mv")))
    table = read_merged_table(spark, os.path.join(base, "table"))
    batch = (table.where((F.col("consent_withdrawn") == "false")
                         & (F.col("code") != "code_0"))
             .select("participant_uuid").distinct()
             .withColumn("in_batch", F.lit("true")))
    return maintained.join(batch, "participant_uuid", "full_outer")


A9_MV_STREAM_SQL = """
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8,
         user_id % 50 AS uid
  FROM events WHERE event_id % 16 < 8
),
live AS (
  SELECT 'code_' || CAST(CASE WHEN slot = 1 AND e % 9 = 4
                              THEN (e + 1) % 5
                              ELSE e % 5 END AS VARCHAR) AS code,
         'p' || CAST(uid AS VARCHAR) AS participant_uuid
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 2 AND s8 = 2)
    AND uid % 7 <> 0
)
SELECT DISTINCT participant_uuid,
       'true' AS in_mv, 'true' AS in_batch
FROM live WHERE code <> 'code_0'
"""


# --- A6 sample_messages, incremental ---------------------------------------

def _a6_rows(spark: SparkSession, sf_dir: str, relabeled: bool) -> DataFrame:
    """Timestamped coded messages for the incremental top-k sample:
    the recode commit moves slot-1 rows with e % 9 == 4 to the next
    code — promoting/demoting rows at the sample boundary of BOTH the
    old and the new group."""
    ev = (load(spark, sf_dir, "events")
          .where(F.col("event_id") % 16 < 8)
          .select(F.col("event_id").alias("e")))
    c = F.when(F.lit(relabeled) & (F.col("e") % 9 == 4),
               (F.col("e") + 1) % 5).otherwise(F.col("e") % 5)
    ts = (F.col("e") % 7) * F.lit(_DAY_US) \
        + (F.col("e") % 1000) * F.lit(1_000_000)
    return ev.select(
        F.concat(F.lit("ev:"), F.col("e").cast("string"))
        .alias("origin_id"),
        F.concat(F.lit("rqa_s01e0"),
                 (F.col("e") % 3 + 1).cast("string")).alias("dataset"),
        F.concat(F.lit("code_"), c.cast("string")).alias("code"),
        ts.cast("long").alias("timestamp_us"),
        F.col("e").cast("long").alias("seq"),
        F.concat(F.lit("msg "), (F.col("e") % 50).cast("string"))
        .alias("text"),
        (F.col("e") % 4).alias("slot"), (F.col("e") % 8).alias("s8"))


def _a6_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Messages table CLUSTERED on dataset (a message's dataset never
    changes in this history, so the partial-key bucketing is stable
    and the incremental re-rank reads only touched datasets'
    buckets), with the insert / recode / dv-delete history. Delete
    keys CARRY the bucket column, as partial-key bucketing requires."""
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     bucket_cols=["dataset"],
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a6_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2]))
              .drop("slot", "s8"), 1)
        merge(_a6_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("slot", "s8"), 2)
        dead = (_a6_rows(spark, sf_dir, False)
                .where((F.col("slot") == 2) & (F.col("s8") == 2))
                .select("origin_id", "dataset"))
        delete_origins(spark, table, dead, strategy="dv")

    return fixture_dir("a6_incr_pair", sf_dir, _build)


A6_K = 7


def a6_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 sample_messages as a change-feed consumer
    (`top_k_incremental`): after the recode + delete commits, the
    top-k sample is re-ranked ONLY for the touched (dataset, code)
    groups — a deletion can promote the (k+1)-th row, so top-k is not
    retract-maintainable flat and the exact re-rank of touched groups
    is the incremental answer (reference automated_analysis.py:102-106
    re-samples every code every run). Joined against the batch top-k
    over the final table restricted to the same groups: ranks AND
    payloads must agree row-for-row."""
    from ..operators.topk import top_k_incremental, top_k_per_group

    apply_runtime_conf(spark)
    base = _a6_fixture(spark, sf_dir)
    table = os.path.join(base, "table")
    inc = top_k_incremental(
        spark, table, from_commit=1, group_cols=["dataset", "code"],
        order_cols=["timestamp_us", "seq"], k=A6_K, rank_col="rank")
    inc = inc.select("dataset",
                     F.concat(F.col("dataset"), F.lit("_scheme"))
                     .alias("scheme"),
                     "code", "rank", "seq", "text", "timestamp_us")
    batch = top_k_per_group(
        read_merged_table(spark, table), ["dataset", "code"],
        [F.col("timestamp_us"), F.col("seq")], A6_K, rank_col="rank")
    batch = batch.select("dataset", "code", "rank",
                         F.col("seq").alias("seq_batch"),
                         F.col("text").alias("text_batch"))
    return inc.join(batch, ["dataset", "code", "rank"])


A6_INCREMENTAL_SQL = f"""
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8
  FROM events WHERE event_id % 16 < 8
),
touched AS (
  SELECT DISTINCT 'rqa_s01e0' || CAST(e % 3 + 1 AS VARCHAR) AS dataset,
         'code_' || CAST((e + 1) % 5 AS VARCHAR) AS code
  FROM ev WHERE slot = 1 AND e % 9 = 4
  UNION
  SELECT DISTINCT 'rqa_s01e0' || CAST(e % 3 + 1 AS VARCHAR),
         'code_' || CAST(e % 5 AS VARCHAR)
  FROM ev WHERE slot = 1 AND e % 9 = 4
  UNION
  SELECT DISTINCT 'rqa_s01e0' || CAST(e % 3 + 1 AS VARCHAR),
         'code_' || CAST(e % 5 AS VARCHAR)
  FROM ev WHERE slot = 2 AND s8 = 2
),
live AS (
  SELECT 'rqa_s01e0' || CAST(e % 3 + 1 AS VARCHAR) AS dataset,
         'code_' || CAST(CASE WHEN slot = 1 AND e % 9 = 4
                              THEN (e + 1) % 5
                              ELSE e % 5 END AS VARCHAR) AS code,
         CAST((e % 7) * {_DAY_US} + (e % 1000) * 1000000 AS BIGINT)
           AS timestamp_us,
         CAST(e AS BIGINT) AS seq,
         'msg ' || CAST(e % 50 AS VARCHAR) AS text
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 2 AND s8 = 2)
),
ranked AS (
  SELECT dataset, code, timestamp_us, seq, text,
         CAST(ROW_NUMBER() OVER (PARTITION BY dataset, code
                                 ORDER BY timestamp_us, seq) AS INT)
           AS rank
  FROM live
)
SELECT r.dataset, r.dataset || '_scheme' AS scheme, r.code, r.rank,
       r.seq, r.text, r.timestamp_us,
       r.seq AS seq_batch, r.text AS text_batch
FROM ranked r JOIN touched t
  ON r.dataset = t.dataset AND r.code = t.code
WHERE r.rank <= {A6_K}
"""


# --- A1 with the consent CASCADE, incremental -------------------------------

A1C_METRICS = {"n_messages": ("origin_id", "count")}


def _a1c_rows(spark: SparkSession, sf_dir: str, flipped: bool) -> DataFrame:
    """Messages where consent is NOT constant: uid%9 participants
    carry an initial STOP (their slot-0/s8==4 row); the flip commit
    re-merges slot-1 rows so uid%13 participants' s8==5 row BECOMES a
    STOP (a late opt-out that must retro-exclude their entire
    history); the delete commit then removes every slot-0/s8==4 row —
    erasing the initial STOPs, so uid%9 participants flip BACK to
    consenting unless they also gained a late STOP."""
    ev = (load(spark, sf_dir, "events")
          .where(F.col("event_id") % 16 < 8)
          .select(F.col("event_id").alias("e"),
                  (F.col("user_id") % 50).alias("uid")))
    stop = ((F.col("e") % 8 == 4) & (F.col("uid") % 9 == 0)) | \
        (F.lit(flipped) & (F.col("e") % 8 == 5)
         & (F.col("uid") % 13 == 0))
    return ev.select(
        F.concat(F.lit("ev:"), F.col("e").cast("string"))
        .alias("origin_id"),
        F.concat(F.lit("rqa_s01e0"),
                 (F.col("e") % 3 + 1).cast("string")).alias("dataset"),
        F.concat(F.lit("p"), F.col("uid").cast("string"))
        .alias("participant_uuid"),
        F.when(stop, F.lit("true")).otherwise(F.lit("false"))
        .alias("is_stop"),
        (F.col("e") % 4).alias("slot"), (F.col("e") % 8).alias("s8"))


def _a1c_fixture(spark: SparkSession, sf_dir: str) -> str:
    """ONE retract stream feeding TWO sinks: the UNFILTERED witness MV
    (dataset, participant_uuid) and the stop-set witness MV
    (participant_uuid over is_stop rows). The consent cascade is a
    participant-level, fold-time property — NOT row-local, so it
    cannot be a `prepare` filter; it becomes a read-time anti-join of
    one maintained state against the other."""
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a1c_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2]))
              .drop("slot", "s8"), 1)
        merge(_a1c_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("slot", "s8"), 2)
        dead = (_a1c_rows(spark, sf_dir, False)
                .where((F.col("slot") == 0) & (F.col("s8") == 4))
                .select("origin_id"))
        delete_origins(spark, table, dead, strategy="dv")
        main = MV.mv_stream_sink(
            os.path.join(path, "mv"),
            ["dataset", "participant_uuid"], A1C_METRICS,
            prepare=lambda df: df.select(
                "dataset", "participant_uuid", "origin_id"),
            source_cols=["origin_id", "dataset", "participant_uuid"])
        stops = MV.mv_stream_sink(
            os.path.join(path, "stops"), ["participant_uuid"], {},
            prepare=lambda df: df.where(F.col("is_stop") == "true")
            .select("participant_uuid"),
            source_cols=["participant_uuid", "is_stop"])

        def _both(df, bid):
            main(df, bid)
            stops(df, bid)

        _stream_into(spark, table, _both)

    return fixture_dir("a1c_mv_pair", sf_dir, _build)


def a1_mv_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 engagement_counts under the PARTICIPANT-LEVEL consent
    cascade, incremental: a late STOP message must retro-exclude its
    sender's entire history, and deleting the last STOP must restore
    them — a fold-time flip no row-local filter can express
    (reference consent.py + automated_analysis.py:65-69). Maintained
    answer = the unfiltered witness MV ANTI-JOINED against the
    stop-set witness MV at read time (both O(state); the stop set is
    the small side and broadcasts), rolled up per dataset; joined
    against the batch recompute with the same cascade semantics."""
    apply_runtime_conf(spark)
    base = _a1c_fixture(spark, sf_dir)
    # the pair must reflect the SAME stream batch: a torn read would
    # half-apply the cascade (see read_mv_pair_consistent)
    inner, stops = MV.read_mv_pair_consistent(
        spark, [os.path.join(base, "mv"), os.path.join(base, "stops")],
        [A1C_METRICS, {}])
    ok = inner.join(stops, "participant_uuid", "left_anti")
    maintained = ok.groupBy("dataset").agg(
        F.sum("n_messages").cast("long").alias("n_messages"),
        F.count(F.lit(1)).alias("n_participants"))
    table = read_merged_table(spark, os.path.join(base, "table"))
    stopped_b = (table.where(F.col("is_stop") == "true")
                 .select("participant_uuid").distinct())
    ok_b = table.join(stopped_b, "participant_uuid", "left_anti")
    batch = ok_b.groupBy("dataset").agg(
        F.count(F.lit(1)).alias("n_messages_batch"),
        F.countDistinct("participant_uuid")
        .alias("n_participants_batch"))
    return maintained.join(batch, "dataset")


A1_MV_CASCADE_SQL = """
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8,
         user_id % 50 AS uid
  FROM events WHERE event_id % 16 < 8
),
live AS (
  SELECT 'rqa_s01e0' || CAST(e % 3 + 1 AS VARCHAR) AS dataset, uid,
         CASE WHEN slot = 1 AND s8 = 5 AND uid % 13 = 0
              THEN 1 ELSE 0 END AS is_stop
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 0 AND s8 = 4)
),
stopped AS (SELECT DISTINCT uid FROM live WHERE is_stop = 1),
ok AS (
  SELECT * FROM live WHERE uid NOT IN (SELECT uid FROM stopped)
)
SELECT dataset,
       CAST(COUNT(*) AS BIGINT) AS n_messages,
       CAST(COUNT(DISTINCT uid) AS BIGINT) AS n_participants,
       CAST(COUNT(*) AS BIGINT) AS n_messages_batch,
       CAST(COUNT(DISTINCT uid) AS BIGINT) AS n_participants_batch
FROM ok GROUP BY dataset
"""


# --- A1 tiered: MV over the MV's own change feed ----------------------------

A1T_OUTER_METRICS = {"n_participants": ("participant_uuid", "count"),
                     "n_messages": ("n_messages", "sum")}


def _a1t_fixture(spark: SparkSession, sf_dir: str) -> str:
    """CASCADING incremental MVs: the inner witness MV is itself a
    merge table, so its change feed is consumable — a second
    mv_stream_sink maintains the per-dataset rollup FROM THE INNER
    MV'S FEED. A witness group appearing is +1 participant, leaving
    (deleted at count 0) is -1, and an update to its message count
    retracts the old sum and adds the new; all of it falls out of the
    existing includeOld fold with zero new machinery. COUNT(DISTINCT)
    becomes O(answer) at read time instead of O(state)."""
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        inner = os.path.join(path, "inner")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a1_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2]))
              .drop("slot", "s8"), 1)
        merge(_a1_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("slot", "s8"), 2)
        dead = (_a1_rows(spark, sf_dir, False)
                .where((F.col("slot") == 2) & (F.col("s8") == 2))
                .select("origin_id"))
        delete_origins(spark, table, dead, strategy="dv")
        _stream_into(spark, table, MV.mv_stream_sink(
            inner, ["dataset", "participant_uuid"], A1_METRICS,
            prepare=lambda df: df.where(
                F.col("consent_withdrawn") == "false")
            .select("dataset", "participant_uuid", "origin_id"),
            source_cols=["origin_id", "dataset", "participant_uuid",
                         "consent_withdrawn"]))
        # tier 2: the inner MV's OWN retract stream feeds the rollup
        _stream_into(spark, inner, MV.mv_stream_sink(
            os.path.join(path, "outer"), ["dataset"],
            A1T_OUTER_METRICS,
            prepare=lambda df: df.select(
                "dataset", "participant_uuid", "n_messages"),
            source_cols=["dataset", "participant_uuid",
                         "n_messages"]))

    return fixture_dir("a1t_mv_pair", sf_dir, _build)


def a1_mv_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 engagement_counts with COUNT(DISTINCT) maintained FLAT by a
    CASCADE of incremental MVs (table feed -> witness MV; witness
    MV's feed -> per-dataset rollup): the outer state IS the answer —
    the read is O(#datasets), no witness rollup at read time — proven
    against the batch recompute over the final table (reference
    automated_analysis.py:65-69)."""
    apply_runtime_conf(spark)
    base = _a1t_fixture(spark, sf_dir)
    maintained = (MV.read_mv(spark, os.path.join(base, "outer"),
                             A1T_OUTER_METRICS)
                  .select("dataset",
                          F.col("n_messages").cast("long")
                          .alias("n_messages"),
                          F.col("n_participants").cast("long")
                          .alias("n_participants")))
    src = (read_merged_table(spark, os.path.join(base, "table"))
           .where(F.col("consent_withdrawn") == "false"))
    batch = src.groupBy("dataset").agg(
        F.count(F.lit(1)).alias("n_messages_batch"),
        F.countDistinct("participant_uuid")
        .alias("n_participants_batch"))
    return maintained.join(batch, "dataset")


A1_MV_TIERED_SQL = """
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8,
         user_id % 50 AS uid
  FROM events WHERE event_id % 16 < 8
),
live AS (
  SELECT 'rqa_s01e0' || CAST(1 + CASE WHEN slot = 1 AND s8 = 5
                                 THEN (e % 3 + 1) % 3
                                 ELSE e % 3 END AS VARCHAR) AS dataset,
         'p' || CAST(uid AS VARCHAR) AS participant_uuid
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 2 AND s8 = 2)
    AND uid % 7 <> 0
)
SELECT dataset,
       CAST(COUNT(*) AS BIGINT) AS n_messages,
       CAST(COUNT(DISTINCT participant_uuid) AS BIGINT)
         AS n_participants,
       CAST(COUNT(*) AS BIGINT) AS n_messages_batch,
       CAST(COUNT(DISTINCT participant_uuid) AS BIGINT)
         AS n_participants_batch
FROM live GROUP BY dataset
"""


# --- A1 cascade over the PRODUCTION message schema (labels arrays) ----------
#
# `a1_mv_cascade` proves the two-state cascade mechanics on rows whose
# STOP flag is a pre-computed string column; production messages carry
# consent inside the NESTED `labels: array<struct>` payload and the
# reference detects it with exists(labels, is_STOP)
# (code_imputation_functions.py:684-708, G4). This twin re-cuts the
# SAME history with real Label structs, so the stop sink's `prepare`
# exercises the exact nested-array path the engine runs in production:
# the retract stream diffs labels arrays vectorized, carries
# labels__old, and the prepare's F.exists(...) filters both sides.

def _a1cl_rows(spark: SparkSession, sf_dir: str,
               flipped: bool) -> DataFrame:
    """`_a1c_rows` with the consent flag encoded as a real labels
    array: the STOP rows carry a Label struct whose code_id is STOP
    under the dataset's theme scheme; every other row carries its
    normal theme code."""
    from ..labels.config import STOP

    ev = (load(spark, sf_dir, "events")
          .where(F.col("event_id") % 16 < 8)
          .select(F.col("event_id").alias("e"),
                  (F.col("user_id") % 50).alias("uid")))
    stop = ((F.col("e") % 8 == 4) & (F.col("uid") % 9 == 0)) | \
        (F.lit(flipped) & (F.col("e") % 8 == 5)
         & (F.col("uid") % 13 == 0))
    code = (F.when(stop, F.lit(STOP))
            .otherwise(F.concat(F.lit("code_"),
                                (F.col("e") % 5).cast("string"))))
    dataset = F.concat(F.lit("rqa_s01e0"),
                       (F.col("e") % 3 + 1).cast("string"))
    label = F.struct(
        F.concat(dataset, F.lit("_theme_scheme")).alias("scheme_id"),
        code.alias("code_id"),
        F.timestamp_micros(F.col("e") * 1000000).alias("date_time_utc"),
        F.lit(True).alias("checked"),
        F.lit("synthetic").alias("origin_id"))
    return ev.select(
        F.concat(F.lit("ev:"), F.col("e").cast("string"))
        .alias("origin_id"),
        dataset.alias("dataset"),
        F.concat(F.lit("p"), F.col("uid").cast("string"))
        .alias("participant_uuid"),
        F.array(label).alias("labels"),
        (F.col("e") % 4).alias("slot"), (F.col("e") % 8).alias("s8"))


def _a1cl_fixture(spark: SparkSession, sf_dir: str) -> str:
    def _build(path: str) -> None:
        from ..labels.config import STOP

        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a1cl_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2]))
              .drop("slot", "s8"), 1)
        merge(_a1cl_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("slot", "s8"), 2)
        dead = (_a1cl_rows(spark, sf_dir, False)
                .where((F.col("slot") == 0) & (F.col("s8") == 4))
                .select("origin_id"))
        delete_origins(spark, table, dead, strategy="dv")
        main = MV.mv_stream_sink(
            os.path.join(path, "mv"),
            ["dataset", "participant_uuid"], A1C_METRICS,
            prepare=lambda df: df.select(
                "dataset", "participant_uuid", "origin_id"),
            source_cols=["origin_id", "dataset", "participant_uuid"])
        stops = MV.mv_stream_sink(
            os.path.join(path, "stops"), ["participant_uuid"], {},
            prepare=lambda df: df.where(
                F.exists(F.col("labels"),
                         lambda l: l["code_id"] == STOP))
            .select("participant_uuid"),
            source_cols=["participant_uuid", "labels"])

        def _both(df, bid):
            main(df, bid)
            stops(df, bid)

        _stream_into(spark, table, _both)

    return fixture_dir("a1cl_mv_pair", sf_dir, _build)


def a1_mv_cascade_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`a1_mv_cascade` on the production message schema: consent
    lives in the nested labels array and the stop-set witness MV's
    prepare is the reference's exists(labels, is_STOP) (G4) — the
    retract stream's vectorized nested diff and labels__old payloads
    drive retro-exclusion and restore-on-erasure end to end. Same
    read (consistent pair, anti-join, per-dataset rollup, batch proof
    columns) and same oracle as the flat-flag twin."""
    from ..labels.config import STOP

    apply_runtime_conf(spark)
    base = _a1cl_fixture(spark, sf_dir)
    inner, stops = MV.read_mv_pair_consistent(
        spark, [os.path.join(base, "mv"), os.path.join(base, "stops")],
        [A1C_METRICS, {}])
    ok = inner.join(stops, "participant_uuid", "left_anti")
    maintained = ok.groupBy("dataset").agg(
        F.sum("n_messages").cast("long").alias("n_messages"),
        F.count(F.lit(1)).alias("n_participants"))
    table = read_merged_table(spark, os.path.join(base, "table"))
    stopped_b = (table.where(
        F.exists(F.col("labels"), lambda l: l["code_id"] == STOP))
        .select("participant_uuid").distinct())
    ok_b = table.join(stopped_b, "participant_uuid", "left_anti")
    batch = ok_b.groupBy("dataset").agg(
        F.count(F.lit(1)).alias("n_messages_batch"),
        F.countDistinct("participant_uuid")
        .alias("n_participants_batch"))
    return maintained.join(batch, "dataset")


A1_MV_CASCADE_LABELS_SQL = A1_MV_CASCADE_SQL


# --- M10/M11 WS-moves through the change feed, previous_datasets kept -------
#
# The reference's trickiest semantic (lib.py:202-456): a WS-corrected
# message MOVES datasets — repeatedly, sometimes in a cycle back to
# where it started (M11) — and every move must (a) flow into every
# maintained rollup as retract(old dataset) + add(new dataset) and
# (b) append the hop to `previous_datasets` (the S3 moved-message
# scan's input). This fixture is a move-heavy history: e%8==5 rows
# hop twice (d1 -> d2 -> d3), e%8==1 rows hop out and CYCLE BACK
# (d1 -> d2 -> d1); the flat per-dataset MV is maintained from the
# feed one source commit per batch, so each hop really is a
# retraction pair, never a collapsed snapshot diff.

def _ws_name(d) -> F.Column:
    return F.concat(F.lit("rqa_s01e0"), (d + 1).cast("string"))


def _ws_move_rows(spark: SparkSession, sf_dir: str, hop: int) -> DataFrame:
    """The fixture rows after `hop` moves (0 = initial insert; 1 =
    first move of the e%8∈{1,5} rows; 2 = second move — e%8==5 rows
    advance again, e%8==1 rows cycle back)."""
    ev = (load(spark, sf_dir, "events")
          .where((F.col("event_id") % 16 < 8)
                 & (F.col("event_id") % 4 < 3))
          .select(F.col("event_id").alias("e")))
    d1 = F.col("e") % 3
    d2 = (d1 + 1) % 3
    d3 = (d1 + 2) % 3
    mover = F.col("e") % 8 == 5
    cycler = F.col("e") % 8 == 1
    if hop == 0:
        ds, prev = d1, F.array().cast("array<string>")
    elif hop == 1:
        ds = F.when(mover | cycler, d2).otherwise(d1)
        prev = (F.when(mover | cycler, F.array(_ws_name(d1)))
                .otherwise(F.array().cast("array<string>")))
    else:
        ds = F.when(mover, d3).otherwise(d1)
        prev = (F.when(mover | cycler,
                       F.array(_ws_name(d1), _ws_name(d2)))
                .otherwise(F.array().cast("array<string>")))
    return ev.select(
        F.concat(F.lit("ev:"), F.col("e").cast("string"))
        .alias("origin_id"),
        _ws_name(ds).alias("dataset"),
        prev.alias("previous_datasets"),
        (F.col("e") % 8).alias("s8"))


def _ws_move_fixture(spark: SparkSession, sf_dir: str) -> str:
    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_ws_move_rows(spark, sf_dir, 0).drop("s8"), 1)
        for hop in (1, 2):
            merge(_ws_move_rows(spark, sf_dir, hop)
                  .where(F.col("s8").isin([1, 5])).drop("s8"), hop + 1)
        _stream_into(spark, table, MV.mv_stream_sink(
            os.path.join(path, "mv"), ["dataset"],
            {"n_messages": ("origin_id", "count")},
            prepare=lambda df: df.select("dataset", "origin_id"),
            source_cols=["origin_id", "dataset"]))

    return fixture_dir("ws_move_mv", sf_dir, _build)


def ws_move_feed_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10/M11 WS-moves proven end-to-end incrementally: per final
    (dataset, previous_datasets-chain) the surviving row counts, each
    row joined with the stream-MAINTAINED per-dataset count — double
    hops, cycles back to the origin dataset, and the accumulated
    `previous_datasets` chains must all hash-match the oracle's
    re-derivation (reference lib.py:202-456; S3 scan input)."""
    apply_runtime_conf(spark)
    base = _ws_move_fixture(spark, sf_dir)
    mv = MV.read_mv(spark, os.path.join(base, "mv"),
                    {"n_messages": ("origin_id", "count")})
    tbl = read_merged_table(spark, os.path.join(base, "table"))
    per = (tbl.groupBy(
        "dataset",
        F.array_join(F.col("previous_datasets"), ",").alias("chain"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_messages")))
    return per.join(
        mv.select("dataset",
                  F.col("n_messages").alias("n_messages_mv")),
        "dataset")


WS_MOVE_FEED_MV_SQL = """
WITH ev AS (
  SELECT event_id AS e FROM events
  WHERE event_id % 16 < 8 AND event_id % 4 < 3
),
fin AS (
  SELECT e,
    CASE WHEN e % 8 = 5 THEN (e % 3 + 2) % 3 ELSE e % 3 END AS dfin,
    CASE WHEN e % 8 IN (1, 5) THEN
      'rqa_s01e0' || CAST(e % 3 + 1 AS VARCHAR) || ',' ||
      'rqa_s01e0' || CAST((e % 3 + 1) % 3 + 1 AS VARCHAR)
    ELSE '' END AS chain
  FROM ev
)
SELECT 'rqa_s01e0' || CAST(dfin + 1 AS VARCHAR) AS dataset, chain,
       CAST(COUNT(*) AS BIGINT) AS n_messages,
       CAST(SUM(COUNT(*)) OVER (
         PARTITION BY dfin) AS BIGINT) AS n_messages_mv
FROM fin GROUP BY dfin, chain
"""


# --- fan-out maintenance: one feed scan, K maintained artifacts -------------

def _fanout_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Messages table (3 commits: insert, WS-move update, dv delete)
    whose THREE derived artifacts — the A1 witness MV, a
    (dataset, slot) rollup MV, and a dataset→origin secondary index —
    are all maintained by ONE `drain_changes` call through
    `fan_out`: each commit's bucket diff is computed once and feeds
    every sink, instead of K streams re-scanning the same feed."""
    from ..streaming.drain import drain_changes, fan_out
    from ..streaming.secondary import index_stream_sink

    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        merge = foreach_batch_upsert(table, ["origin_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(_a1_rows(spark, sf_dir, False)
              .where(F.col("slot").isin([0, 1, 2])).drop("s8"), 1)
        merge(_a1_rows(spark, sf_dir, True).where(F.col("slot") == 1)
              .drop("s8"), 2)
        dead = (_a1_rows(spark, sf_dir, False)
                .where((F.col("slot") == 2) & (F.col("s8") == 2))
                .select("origin_id"))
        delete_origins(spark, table, dead, strategy="dv")
        drain_changes(spark, table, fan_out(
            MV.mv_stream_sink(os.path.join(path, "wit"),
                              ["dataset", "participant_uuid"],
                              A1_METRICS),
            MV.mv_stream_sink(os.path.join(path, "slots"),
                              ["dataset", "slot"],
                              {"n_rows": ("origin_id", "count")}),
            index_stream_sink(os.path.join(path, "idx"), "dataset",
                              ["origin_id"], n_buckets=4)))

    return fixture_dir("maintenance_fanout", sf_dir, _build)


def maintenance_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's maintenance story composed: a single change-feed
    drain (`fan_out`, one scan + Arrow diff per commit) maintained
    three artifacts of three different shapes across an insert /
    WS-move / dv-delete history — a two-level witness MV (A1's
    COUNT(DISTINCT) decomposition), a flat rollup MV, and a secondary
    index whose postings retract via `dataset__old`. All three are
    read back per dataset in O(state) and joined; the oracle
    recomputes every column from the final logical table state, so
    one green hash proves all K fan-out consumers converged exactly
    (reference analog: run_pipeline.sh re-derives each artifact from
    scratch per run, SURVEY §3.1)."""
    apply_runtime_conf(spark)
    base = _fanout_fixture(spark, sf_dir)
    wit = (MV.read_mv_distinct(spark, os.path.join(base, "wit"),
                               ["dataset"], A1_METRICS,
                               distinct_name="n_participants")
           .select("dataset",
                   F.col("n_messages").cast("long").alias("n_messages"),
                   "n_participants"))
    slots = (MV.read_mv(spark, os.path.join(base, "slots"),
                        {"n_rows": ("origin_id", "count")})
             .groupBy("dataset")
             .agg(F.sum("n_rows").cast("long").alias("n_slot_rows"),
                  F.countDistinct("slot").alias("n_slots")))
    idx = (read_merged_table(spark, os.path.join(base, "idx"))
           .groupBy("dataset")
           .agg(F.count(F.lit(1)).alias("n_postings")))
    return wit.join(slots, "dataset").join(idx, "dataset")


MAINTENANCE_FANOUT_SQL = """
WITH ev AS (
  SELECT event_id AS e, event_id % 4 AS slot, event_id % 8 AS s8,
         user_id % 50 AS uid
  FROM events WHERE event_id % 16 < 8
),
live AS (
  SELECT 'rqa_s01e0' || CAST(1 + CASE WHEN slot = 1 AND s8 = 5
                                 THEN (e % 3 + 1) % 3
                                 ELSE e % 3 END AS VARCHAR) AS dataset,
         'p' || CAST(uid AS VARCHAR) AS participant_uuid, slot
  FROM ev
  WHERE slot IN (0, 1, 2) AND NOT (slot = 2 AND s8 = 2)
)
SELECT dataset,
       CAST(COUNT(*) AS BIGINT) AS n_messages,
       CAST(COUNT(DISTINCT participant_uuid) AS BIGINT)
         AS n_participants,
       CAST(COUNT(*) AS BIGINT) AS n_slot_rows,
       CAST(COUNT(DISTINCT slot) AS BIGINT) AS n_slots,
       CAST(COUNT(*) AS BIGINT) AS n_postings
FROM live GROUP BY dataset
"""
