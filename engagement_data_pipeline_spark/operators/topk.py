"""Top-K per group (SURVEY §2.10 O5 / §2.7 A6).

Reference: automated_analysis.py:102-106 caps sample messages at 100
per code. Expressed as a rank window — one shuffle on the group key;
at scale Spark's WindowGroupLimit pushes the limit below the sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(df: DataFrame, group_cols: Sequence[str],
                    order_by: Sequence[Column], k: int,
                    rank_col: str | None = None) -> DataFrame:
    """Keep the top `k` rows per group under a *total* order
    (include a unique tiebreaker in `order_by` for determinism)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    out = df.withColumn("__rank", F.row_number().over(w)).where(F.col("__rank") <= k)
    if rank_col:
        return out.withColumnRenamed("__rank", rank_col)
    return out.drop("__rank")


def top_k_rows(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global deterministic top-k under a *total* order (include a
    unique tiebreaker). Plans as TakeOrderedAndProject: each partition
    keeps its local top-k, the driver merges — no full sort, no
    shuffle of the losing rows."""
    return df.orderBy(*order_by).limit(k)


def deterministic_group_sample(df: DataFrame, group_cols: Sequence[str],
                               key_col: str, k: int,
                               salt: str = "sample-v1") -> DataFrame:
    """Exactly min(k, |group|) rows per group, chosen by md5 order of
    the salted key — a reproducible stand-in for per-group reservoir
    sampling (eval-set construction, per-source spot checks). One
    window pass; changing the salt redraws the sample, while adding
    rows to a group perturbs only the sample's boundary."""
    from pyspark.sql import Window
    from ..training.dedup import md5_long

    h = md5_long(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(h, F.col(key_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k).drop("__rn"))


def group_rows_slice(spark, table_path: str, keys: DataFrame,
                     group_cols: Sequence[str]) -> DataFrame:
    """The LIVE rows of the given group keys — bucket-sliced when the
    table is clustered on a subset of `group_cols`, else one scan +
    broadcast semi-join. `keys` must be broadcast-small (it is the
    touched set of an incremental window, O(changes) by contract)."""
    from pyspark.sql import functions as F

    from ..streaming.ingest import (_bucket_on, _read_resolved,
                                    origin_bucket, read_merged_table,
                                    read_table_manifest)

    gcols = list(group_cols)
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    bk = _bucket_on(man)
    if set(bk) <= set(gcols):
        nb = int(man["n_buckets"])
        # O(n_buckets) collect of bucket ids, never group keys
        hit = sorted({int(r[0]) for r in
                      keys.select(origin_bucket(bk, nb).alias("b"))
                      .distinct().collect()} & set(man["buckets"]))
        rows = (_read_resolved(spark, table_path, man, only=hit)
                if hit else
                read_merged_table(spark, table_path).limit(0))
    else:
        rows = read_merged_table(spark, table_path)
    return rows.join(F.broadcast(keys), gcols, "left_semi")


def touched_group_slice(spark, table_path: str, from_commit: int,
                        group_cols: Sequence[str]
                        ) -> tuple[DataFrame, DataFrame] | None:
    """The LIVE rows of every group the change feed touched since
    `from_commit` — the shared machinery of every non-invertible
    incremental recompute (top-k re-rank, K6 writeback, the G1/G2
    column-view re-fold): touched group keys come from the feed's new
    payloads plus the `__old` pre-images of updated/deleted rows (one
    feed read, O(changed buckets)); when the table is clustered on a
    subset of `group_cols` (creation-time `bucket_cols`, stable only if
    those columns never change for a row) the state read is sliced to
    the touched groups' buckets, otherwise one scan + semi-join (still
    shuffling only touched rows). Returns None when the table has no
    commits past `from_commit`."""
    from pyspark.sql import functions as F

    from ..streaming.ingest import read_table_manifest, table_changes

    gcols = list(group_cols)
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    current = int(man["commit"])
    if current <= from_commit:
        return None
    # ONE netting change-feed read with `includeOld`: new groups from
    # the new payloads, old groups (updates that MOVED a row across
    # groups, deletes) from the `<col>__old` pre-images — no
    # pre-change snapshot read, no semi-join. Origin columns have no
    # __old twin (keys are immutable), so a group column that is also
    # a key reads as itself on the old side. `table_changes` places
    # the read: a bounded window is diffed in this process and reaches
    # Spark as one Arrow table, a large one runs on Python workers.
    # `ship` narrows the Python→JVM boundary to op + group columns
    # (+ their __old twins): the diff still compares every payload
    # column (emission semantics unchanged — a row changing only in
    # a non-group column still marks its group touched), but a wide
    # table's payloads never cross per changed row (guide §4).
    ch = table_changes(spark, table_path, from_commit, current,
                       include_old=True, ship=gcols)
    new_side = (ch.where(F.col("op").isin("insert", "update"))
                .select(*gcols))
    old_side = (ch.where(F.col("op").isin("update", "delete"))
                .select(*[
                    (F.col(f"{g}__old") if f"{g}__old" in ch.columns
                     else F.col(g)).alias(g) for g in gcols]))
    # Materialize the touched set once (it is O(changes) small):
    # every consumer re-uses it at least twice (bucket-id collect +
    # semi-join, and maintainers add a gone anti-join), and without
    # the checkpoint each use re-runs the whole feed diff DAG.
    touched = new_side.unionByName(old_side).distinct().localCheckpoint()
    return group_rows_slice(spark, table_path, touched, gcols), touched


def top_k_incremental(spark, table_path: str, from_commit: int,
                      group_cols: Sequence[str],
                      order_cols: Sequence[str], k: int,
                      rank_col: str | None = None) -> DataFrame:
    """A6 `sample_messages` as a CHANGE-FEED consumer: recompute the
    per-group top-k only for groups whose membership changed since
    `from_commit` — the reference re-samples EVERY code on every
    analysis run (automated_analysis.py:102-106), a full pass per
    sync. A deletion or recode can promote the (k+1)-th row, so the
    top-k is not retract-maintainable flat; the incremental answer is
    the k6 trick: touched groups from the feed's new payloads plus
    the pre-images of updated/deleted rows (`touched_group_slice`,
    O(changed buckets)), then an EXACT re-rank of just those groups.
    When the table is clustered on a subset of `group_cols` (creation-time
    `bucket_cols` — stable only if those columns never change for a
    row), the re-rank reads ONLY the touched groups' buckets: a sync
    is O(touched groups' buckets + changed rows), never a table scan.
    Otherwise one scan + semi-join (still only shuffling touched
    rows).

    `order_cols` must be a TOTAL order (unique tiebreaker) for a
    deterministic sample. Returns the re-ranked top-k restricted to
    touched groups; a group whose every row was deleted drops out."""
    from pyspark.sql import functions as F

    from ..streaming.ingest import read_merged_table

    gcols = list(group_cols)
    order_by = [F.col(c) for c in order_cols]
    sliced = touched_group_slice(spark, table_path, from_commit, gcols)
    if sliced is None:
        return top_k_per_group(
            read_merged_table(spark, table_path).limit(0), gcols,
            order_by, k, rank_col)
    return top_k_per_group(sliced[0], gcols, order_by, k, rank_col)
