"""Secondary value index over a versioned merge table, maintained
incrementally from its own change feed.

The reference answers "all messages of participant X" by scanning a
Firestore collection with a filter (SURVEY §2.1 S1 — an indexed get
only because Firestore auto-indexes every field); the primary table
here is bucketed on origin_id, so a value predicate would touch every
bucket. The standard warehouse answer is a SECONDARY INDEX: a second
merge table whose rows are (value, origin...) postings, unique on the
full pair but BUCKETED ON THE VALUE ONLY (`bucket_cols`), so
`lookup_origin([value])` reads exactly one bucket however large the
table — O(one bucket) value lookups without Firestore.

Maintenance is driven by `table_changes`, never by rescanning the
source: a refresh reads the feed between the last-applied source
commit (carried in the index's own txn watermark, the same
exactly-once idiom the streaming merge uses) and the current one.
Updates/deletes need the OLD value to remove its posting — that comes
from the same feed read's `<col>__old` pre-image, which is O(changed
buckets) because only changed buckets are consulted. Cost per refresh
is therefore O(changes), never O(table), and a crash between the
remove and add phases replays idempotently (deletes of absent keys
are empty commits; the add phase's txn watermark skips an
already-applied refresh).

Retention contract: the refresh reads the SOURCE's manifests and
version data back to the last-applied commit, so the source's
`vacuum_table` retention (`retain_ms` / `keep_manifests`) must cover
the refresh cadence — the same horizon rule Delta's CDF has. A
source rebucket between refreshes degrades one refresh to a
full-table diff (every bucket's version advances) but stays correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import (delete_origins, foreach_batch_upsert, lookup_origin,
                     read_table_manifest, read_merged_table,
                     table_changes)

#: txn app id under which the index records the last APPLIED source
#: commit — the refresh replay-skip watermark.
_SRC_TXN = "__value_index_src"
#: txn app id of the PUSH-BASED sink — a stream BATCH id, not a
#: source commit; the namespaces must never mix (see mv.py), so each
#: maintenance path refuses an index owned by the other.
_STREAM_TXN = "__value_index_stream"


def _index_key(col: str, origin: list[str]) -> list[str]:
    return [col, *origin]


def build_value_index(spark: SparkSession, table_path: str,
                      index_path: str, col: str,
                      n_buckets: int | None = None) -> None:
    """Create the index from the source's CURRENT snapshot: one
    posting per (value, origin key), bucketed on the value. Records
    the source commit it reflects, so the first `refresh_value_index`
    continues from exactly here."""
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    origin = list(man["origin"])
    rows = (read_merged_table(spark, table_path)
            .select(col, *origin).where(F.col(col).isNotNull()))
    merge = foreach_batch_upsert(index_path, _index_key(col, origin),
                                 n_buckets=n_buckets,
                                 txn_app_id=_SRC_TXN, bucket_cols=[col])
    merge(rows, man["commit"])


def refresh_value_index(spark: SparkSession, table_path: str,
                        index_path: str, col: str) -> int | None:
    """Fold the source's change feed since the last refresh into the
    index. Returns the source commit now reflected (None = already
    current). op='insert' adds postings from the feed's new payload;
    'update'/'delete' first remove the OLD value's posting (read from
    the feed's pre-image), and 'update' re-adds the new one."""
    src_man = read_table_manifest(spark, table_path)
    idx_man = read_table_manifest(spark, index_path)
    if src_man is None or idx_man is None:
        raise ValueError("source and index must both exist")
    if _STREAM_TXN in idx_man.get("txn", {}):
        raise ValueError(
            f"{index_path} is maintained by index_stream_sink (its "
            "watermark is a stream batch id, not a source commit) — "
            "refreshing it here would re-fold applied windows")
    applied = int(idx_man.get("txn", {}).get(_SRC_TXN, 0))
    current = int(src_man["commit"])
    if current <= applied:
        return None
    origin = list(src_man["origin"])
    # one feed read projected to the indexed column: old values come
    # from its `__old` pre-image (an origin column has no twin and
    # reads as itself) — O(changed buckets), never a table rescan
    ch = table_changes(spark, table_path, applied, current,
                       include_old=True,
                       select=[] if col in origin else [col])
    old_col = f"{col}__old" if f"{col}__old" in ch.columns else col
    removals = (ch.where(F.col("op").isin("update", "delete"))
                .select(F.col(old_col).alias(col), *origin)
                .where(F.col(col).isNotNull()))
    additions = (ch.where(F.col("op").isin("insert", "update"))
                 .select(col, *origin).where(F.col(col).isNotNull()))
    # remove first, then add: an update whose value did not change
    # is not in the projected feed at all, and a replayed window is
    # still idempotent. A pure-insert feed (the common case) skips the delete commit
    # entirely; the emptiness probe runs on the already-tiny feed.
    if not removals.isEmpty():
        # dv: the removal is O(removed postings) — no bucket rewrite
        delete_origins(spark, index_path, removals, strategy="dv")
    merge = foreach_batch_upsert(index_path, _index_key(col, origin),
                                 txn_app_id=_SRC_TXN)
    merge(additions, current)
    # a moved value's OLD posting lives in a bucket the add phase
    # usually does NOT touch (additions hash by the NEW value), so dv
    # tombstones accumulate there until compaction — run the
    # metadata-only check every refresh
    from .ingest import maybe_compact
    maybe_compact(spark, index_path)
    return current


def lookup_by_value(spark: SparkSession, index_path: str,
                    value: str) -> DataFrame:
    """All origin keys carrying `value`: one bucket read (partial-key
    lookup on the value the index is bucketed on)."""
    return lookup_origin(spark, index_path, [value])


def index_stream_sink(index_path: str, col: str, origin: list[str],
                      n_buckets: int | None = None,
                      auto_compact: bool = True):
    """A foreachBatch function maintaining the value index DIRECTLY
    from a ``merge_table_changes`` stream opened with
    ``includeOld=true`` — the push-based twin of
    `refresh_value_index`: the retract-stream batch already carries
    the `<col>__old` pre-change value, so removals need ZERO reads of
    the source table.

        src = (spark.readStream.format("merge_table_changes")
               .option("path", table).option("includeOld", "true")
               .load())
        src.writeStream.foreachBatch(
            index_stream_sink(idx_path, "participant_uuid",
                              ["origin_id"])).start()

    Bounded catch-up: `drain.drain_changes`; several artifacts from
    one feed scan: `drain.fan_out` (exactly-once per sink).

    Replay safety: the whole batch (remove phase + add phase) is
    guarded by the index's txn watermark — a foreachBatch crash-replay
    of an already-applied batch is a complete no-op, so the remove
    phase can never strip postings the replayed add phase would then
    skip re-inserting (the same delete-step TOCTOU the MV sink
    guards). An update whose indexed value did not change
    (changed_cols excludes `col`) is filtered out entirely — no
    pointless posting round-trip.

    `auto_compact` (default on): removals are dv tombstones, and a
    posting whose bucket is never re-merged (the value moved away for
    good) would otherwise accumulate dv rows forever — after each
    fold the sink runs `maybe_compact`'s metadata-only check and
    materializes when the dv or file count outgrows the thresholds,
    so a long-running sink is self-maintaining."""
    key = _index_key(col, list(origin))

    def _fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        man = read_table_manifest(spark, index_path)
        if man is not None and _SRC_TXN in man.get("txn", {}):
            raise ValueError(
                f"{index_path} is maintained by build_value_index/"
                "refresh_value_index (source-commit watermark) — the "
                "sink's batch-id watermark cannot continue it; point "
                "the sink at its own index path and replay from "
                "startingCommit=0")
        if man is not None and _STREAM_TXN not in man.get("txn", {}):
            # an existing table carrying NEITHER watermark is not this
            # sink's index — merging postings into unrelated data would
            # silently corrupt it; bootstrap only on an empty path
            raise ValueError(
                f"{index_path} exists but carries no {_STREAM_TXN} "
                "watermark — not an index this sink maintains; point "
                "the sink at an empty path (its first batch bootstraps "
                "the index)")
        if man is not None and batch_id <= int(
                man.get("txn", {}).get(_STREAM_TXN, -1)):
            return  # crash-replay of an already-applied batch
        touched = F.array_contains(
            F.split(F.col("changed_cols"), ","), col)
        removals = (batch.where(
            (F.col("op") == "delete")
            | ((F.col("op") == "update") & touched))
            .select(F.col(f"{col}__old").alias(col), *origin)
            .where(F.col(col).isNotNull()))
        additions = (batch.where(
            (F.col("op") == "insert")
            | ((F.col("op") == "update") & touched))
            .select(col, *origin).where(F.col(col).isNotNull()))
        if not removals.isEmpty():
            if man is None:
                # a startingCommit=0 replay is a snapshot diff — pure
                # inserts — so removals on a nonexistent index prove
                # the stream started mid-history (startingCommit>0, or
                # a wiped index dir); bootstrapping from this window
                # would silently miss every earlier posting
                raise RuntimeError(
                    f"{index_path} has no index but the batch carries "
                    "removals — replay the stream from "
                    "startingCommit=0 so the bootstrap sees the full "
                    "history")
            delete_origins(spark, index_path, removals, strategy="dv")
        merge = foreach_batch_upsert(index_path, key,
                                     n_buckets=n_buckets,
                                     txn_app_id=_STREAM_TXN,
                                     bucket_cols=[col])
        merge(additions, batch_id)
        if auto_compact:
            from .ingest import maybe_compact
            maybe_compact(spark, index_path)

    return _fold
