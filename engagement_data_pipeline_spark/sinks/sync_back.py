"""Sync-back views: Rapid Pro contact fields (K6), advert uuid sync
(K7/A9/J9), Facebook metrics (K9).

Reference:
  K6 — src/engagement_db_to_rapid_pro/engagement_db_to_rapid_pro.py
       :62-135: per participant, per configured dataset, either a
       presence marker or '"{text}" - engagement_db.{dataset}' strings
       joined with '; '; consent field "yes" when any STOP label.
  K7 — src/engagement_db_to_analysis/rapid_pro_advert_functions.py
       :149-261: this week's advert uuid set MINUS the already-synced
       cache (J9 set difference), re-identified to URNs in batch (J2).
  K9 — src/facebook_to_engagement_db/facebook_to_engagement_db.py
       :130-197: per-post engagement metrics CSV sorted by
       (page, dataset, created).

All one-shuffle groupBys / anti-joins; the uuid table join is a
dimension lookup (broadcast unless AQE decides otherwise).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..labels.config import STOP

PRESENCE_VALUE = "#ENGAGEMENT_DB_HAS_DATA"


def contact_fields(messages: DataFrame, datasets: Sequence[str],
                   show_presence: bool = False) -> DataFrame:
    """K6: one row per participant with a contact-field column per
    dataset ('; '-joined '"{text}" - engagement_db.{dataset}' in
    (timestamp, message_id) order, or a presence marker) plus
    consent_withdrawn ('yes' / '')."""
    aggs: list[Column] = []
    for d in datasets:
        cond = (F.col("dataset") == d) & F.col("text").isNotNull()
        if show_presence:
            agg = F.when(F.max(cond.cast("int")) == 1, F.lit(PRESENCE_VALUE)) \
                .otherwise(F.lit("")).alias(f"field_{d}")
        else:
            entry = F.when(cond, F.struct(
                F.col("timestamp"), F.col("message_id"),
                F.concat(F.lit('"'), F.col("text"),
                         F.lit(f'" - engagement_db.{d}')).alias("__v")))
            agg = F.array_join(
                F.transform(F.array_sort(F.collect_list(entry)),
                            lambda s: s["__v"]), "; ").alias(f"field_{d}")
        aggs.append(agg)
    stop_flag = F.exists(F.col("labels"), lambda l: l["code_id"] == STOP)
    aggs.append(
        F.when(F.max(stop_flag.cast("int")) == 1, F.lit("yes"))
        .otherwise(F.lit("")).alias("consent_withdrawn"))
    return messages.groupBy("participant_uuid").agg(*aggs)


def contact_fields_incremental(spark, table_path: str, from_commit: int,
                               datasets: Sequence[str],
                               show_presence: bool = False) -> DataFrame:
    """K6 as a CHANGE-FEED consumer: recompute contact-field values
    only for participants whose messages changed since `from_commit`
    — the reference refetches and re-renders EVERY contact on every
    sync run (engagement_db_to_rapid_pro.py:62-135), which at 100 TB
    is a full pass per sync. The touched participants and their live
    messages are `topk.touched_group_slice` over participant_uuid:
    new payloads plus the feed's `__old` pre-images of updated and
    deleted messages, then their fields are recomputed exactly. When
    the messages table is CLUSTERED on participant_uuid (created with
    bucket_cols=["participant_uuid"] — a message's participant never
    changes, so the partial-key bucketing is stable), the recompute
    reads ONLY the touched participants' buckets: a sync run is
    O(touched participants' buckets + changed rows), never a table
    scan. Otherwise one scan + semi-join (still only shuffling
    touched rows).

    Returns the same shape as `contact_fields`, restricted to touched
    participants; a participant whose every message was deleted drops
    out (the reference leaves the contact's old field values in
    place)."""
    from ..operators.topk import touched_group_slice
    from ..streaming.ingest import read_merged_table

    sliced = touched_group_slice(spark, table_path, from_commit,
                                 ["participant_uuid"])
    if sliced is None:
        return contact_fields(
            read_merged_table(spark, table_path).limit(0), datasets,
            show_presence)
    return contact_fields(sliced[0], datasets, show_presence)


def advert_sync_batch(advert_uuids: DataFrame, synced_cache: DataFrame,
                      uuid_table: DataFrame) -> DataFrame:
    """K7: uuids to advertise to this run = advert set ∖ synced cache
    (J9 anti-join), re-identified to URNs (J2 batch lookup). Returns
    (participant_uuid, urn); callers append the batch to the cache
    after a successful sync (idempotent re-runs)."""
    todo = advert_uuids.join(synced_cache, "participant_uuid", "left_anti")
    return todo.join(F.broadcast(uuid_table), "participant_uuid", "left") \
        .select("participant_uuid", "urn")


def facebook_metrics(comments: DataFrame, posts: DataFrame) -> DataFrame:
    """K9: per-post comment metrics, totally ordered by
    (page, dataset, created_time, post_id)."""
    counts = comments.groupBy("post_id").agg(
        F.count(F.lit(1)).alias("n_comments"),
        F.countDistinct("from_id").alias("n_commenters"))
    return (
        posts.join(counts, "post_id", "left")
        .withColumn("n_comments", F.coalesce(F.col("n_comments"), F.lit(0)))
        .withColumn("n_commenters", F.coalesce(F.col("n_commenters"), F.lit(0)))
        .orderBy("page", "dataset", "created_time", "post_id")
    )
