"""Bounded catch-up drain of a merge table's change feed.

The reference's incremental fetch loop pulls the Firestore docs
updated since the last run token and stops at "now" (SURVEY §2.1 S2,
§2.12). `drain_changes` is that run-to-now loop over the table's own
commit log: it records the head commit on entry, hands each pending
commit's retract batch (`ingest.table_changes`, pre-images included)
to a foreachBatch-shaped sink, advances a one-line state file after
every commit, and stops at the recorded head. Commits landing after
entry are left for the next drain.

It is not a Structured Streaming query because Spark's
`trigger(availableNow=True)` needs `SupportsTriggerAvailableNow`,
which `PythonMicroBatchStream` (the wrapper around every Python
`DataSourceStreamReader`, this change feed included) lacks: Spark
falls back to one micro-batch, collapsing the per-commit retraction
sequence (verified against Spark 4.1). The long-running stream source
`format("merge_table_changes")` stays for consumers that want a
stream.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .cdf_source import _changed_buckets, _latest_commit, _manifest


def fan_out(*sinks: Callable) -> Callable:
    """Compose K exactly-once foreachBatch sinks into ONE, so a
    single drain (or long-running stream) maintains K artifacts —
    MVs, secondary indexes, text/ANN indexes — from ONE scan of the
    change feed. Without this, K consumers mean K drains over the
    same table: every commit's bucket diff is recomputed K times
    (read amplification ∝ K, the dominant maintenance cost at 100 TB
    once several MVs hang off one fact table).

    The batch is persisted and materialized ONCE before the sinks
    run — each action re-executes the batch's plan, so without the
    persist every sink would re-run the feed scan + Arrow diff.

    Exactly-once survives a crash BETWEEN sinks: each sink keeps its
    own txn watermark of the last batch id it applied, so when the
    drain dies after sink i applied commit B and before the drain
    state recorded B, the replayed batch is byte-identical (immutable
    version dirs) — sinks ≤ i no-op on their watermark, sinks > i
    apply. Order sinks stably across restarts; adding a sink
    mid-history is fine (it bootstraps from its first batch only if
    its artifact is empty — point new sinks at a fresh drain state
    instead).

    Readers note: sinks apply SEQUENTIALLY within a batch, so two
    fanned-out states answering one question can briefly disagree
    mid-fold (state A at batch B, state B at B-1) — the same torn
    window as N independent sinks on one feed. For paired MV states
    use `mv.read_mv_pair_consistent`, which returns only when both
    `__mv_stream` watermarks agree."""
    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            batch.count()
            for sink in sinks:
                sink(batch, batch_id)
        finally:
            batch.unpersist()
    return _apply


# the day run's existing drain states carry this name
_STATE_FILE = "_DIRECT_DRAIN"


def _read_state(spark: SparkSession, state_path: str) -> int:
    from . import ingest as _ing

    try:
        return int(_ing._read_text(
            spark, f"{state_path}/{_STATE_FILE}").strip())
    except Exception as e:
        if _ing._is_not_found(e):
            return 0
        raise


def drain_changes(spark: SparkSession, table_path: str,
                  sink: Callable, *, state_path: str | None = None) -> int:
    """Run every commit of `table_path` that existed WHEN THIS CALL
    STARTED and is past `state_path`'s position through `sink`, one
    source commit per call `sink(batch, commit_id)`, then stop.
    Returns the head commit drained to (0 for an empty table).

    Each batch is that commit's retract batch with `<col>__old`
    pre-images, so updates and deletes arrive as true retract+add
    pairs and retract sinks (MV maintenance, index sinks) subtract
    exactly. Commits whose manifest diff shows zero changed buckets
    are skipped driver-side; the state still advances past them.

    Exactly-once: `state_path/_DIRECT_DRAIN` records the last commit
    whose sink call RETURNED (atomic write-then-rename after every
    commit); a crash between the sink and the state write replays
    that commit, whose batch is byte-identical (immutable version
    dirs), and the sink's own txn watermark (batch id = commit id,
    monotone) no-ops the replay. With `state_path=None` the state is
    a temp dir removed on exit: "from the beginning, once".

    A state dir holding `offsets/` is refused: it is a Structured
    Streaming checkpoint, whose sinks' watermarks count micro-batch
    ids, not commit ids, so continuing it here could apply a commit
    twice or skip one."""
    from . import ingest as _ing

    head = _latest_commit(table_path)
    if head is None:
        return 0
    if state_path is not None and os.path.isdir(
            os.path.join(state_path, "offsets")):
        raise ValueError(
            f"{state_path} looks like a Structured-Streaming "
            "checkpoint — this drain cannot continue a stream's "
            "position (different batch-id spaces); use a fresh "
            "state_path")
    with (tempfile.TemporaryDirectory(prefix="edp-drain-")
          if state_path is None
          else contextlib.nullcontext(state_path)) as state:
        last = _read_state(spark, state)
        if last >= head:
            return last
        man_prev = _manifest(table_path, last) if last > 0 else None
        if last > 0 and man_prev is None:
            raise ValueError(
                f"manifest {last} of {table_path} is gone — log pruned "
                "past this drain's state; rebuild the consumer from a "
                "fresh history replay")
        for c in range(last + 1, head + 1):
            man_c = _manifest(table_path, c)
            if man_c is None:
                raise ValueError(
                    f"manifest {c} of {table_path} is unreadable")
            if _changed_buckets(man_prev, man_c):
                sink(_ing.table_changes(spark, table_path, c - 1, c,
                                        include_old=True), c)
            _ing._write_text_atomic(spark, f"{state}/{_STATE_FILE}",
                                    str(c))
            man_prev = man_c
    return head
