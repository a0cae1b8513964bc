"""Composed incremental pipeline runs with a RUN MANIFEST — the
§3.1 orchestration analog.

The reference wraps every pipeline invocation in
PipelineRunStart/PipelineRunEnd log events and threads a per-stage
incremental cache through the stages (src/common/cache.py:11-103
stores each stage's last-seen token so the next run fetches only
newer docs). Here both jobs land in one small versioned merge table —
the RUN MANIFEST — keyed (run_id, stage):

    run_id | stage     | status  | applied_commit
    r42    | __run__   | done    | NULL
    r42    | imputed   | done    | 7        <- source commit folded to
    r42    | views     | done    | 9
    r42    | analysis  | started | NULL     <- crashed here

* `__run__` rows are the PipelineRunStart/End bookends.
* Stage rows flip started -> done, recording the upstream watermark
  the stage reached (the cache.py token analog; the authoritative
  replay-skip watermarks stay ON the maintained tables themselves as
  txn entries — the manifest is the composition's map of them).
* Because the manifest is a merge table, `table_history` /
  `describe_table` reconstruct any run's exact sequence of
  transitions from the commit log, and time travel shows the manifest
  as any past run saw it.

Crash-resume contract: re-invoking `run_incremental_pipeline` with
the same run_id skips stages already `done` for that run and re-runs
the one that was `started` — safe because every stage refresher in
this engine is idempotent per source commit (transactional txn
watermarks on the maintained tables; replayed windows converge). A
crashed run therefore finishes with AT MOST one re-executed stage,
and a fully-done run re-invoked is a no-op.

Scale: the manifest carries O(runs × stages) rows and each transition
is one tiny commit — bookkeeping, never data-path work.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..streaming.ingest import (foreach_batch_upsert, read_merged_table,
                                read_table_manifest, try_claim)

#: txn app id of the manifest table's own merge stream (the version is
#: a per-write monotonic counter, not a stage watermark).
_MANIFEST_TXN = "__run_manifest"

RUN_STAGE = "__run__"

#: Lease horizon for a run claim whose holder died mid-run: a resume
#: before this elapses raises ConcurrentRunError (there is no way to
#: distinguish a crashed runner from a slow one without heartbeats);
#: after it, try_claim's single-winner expiry lets exactly one
#: resumer through. Tests tune it via the claim_stale_s parameter.
RUN_CLAIM_STALE_S = 900.0


class ConcurrentRunError(RuntimeError):
    """Another runner currently owns this run_id."""

_SCHEMA = ("run_id string, stage string, status string, "
           "applied_commit bigint")


def _pa_schema():
    import pyarrow as pa

    return pa.schema([("run_id", pa.string()), ("stage", pa.string()),
                      ("status", pa.string()),
                      ("applied_commit", pa.int64())])


_PA_SCHEMA = _pa_schema()


def record_stage(spark: SparkSession, manifest_path: str, run_id: str,
                 stage: str, status: str,
                 applied_commit: int | None = None,
                 max_retries: int = 8) -> None:
    """Upsert one (run_id, stage) transition into the manifest. Each
    call is its own atomic commit, so the commit log IS the run's
    event sequence.

    Concurrency: the merge's replay-skip watermark is a per-write
    counter read from the manifest, so two runners recording
    concurrently can claim the SAME next version — the loser's merge
    would then be silently skipped as a replay. Each write therefore
    VERIFIES its row landed and retries with a fresh version if not.
    Different (run_id, stage) keys never conflict logically, so the
    retry always converges. Same-key concurrent writers are excluded
    through `run_incremental_pipeline` in the common case (it takes an
    exclusive OCC run claim per run_id and re-verifies it around every
    transition), but a lease that expires DURING a claim.verify()/
    record_stage window leaves a short race where a usurped runner's
    write can still land — the verify-before-done narrows that window
    to the single manifest commit, it does not close it."""
    from ..streaming.local_merge import upsert_rows_local

    target = (status, None if applied_commit is None
              else int(applied_commit))
    for _ in range(max_retries):
        man = read_table_manifest(spark, manifest_path)
        version = 1 + int((man or {}).get("txn", {})
                          .get(_MANIFEST_TXN, 0))
        # DRIVER-SIDE commit (local_merge): a 1-row bookkeeping write
        # must not launch distributed jobs — through the engine merge
        # each transition cost ~1.5-2 s of job latency, ~15 s per
        # composed run, the single largest piece of the day run's
        # fixed overhead. Same claims/manifest/layout, so every
        # reader (read_run, table_history, time travel) is unchanged.
        upsert_rows_local(
            spark, manifest_path,
            [{"run_id": run_id, "stage": stage, "status": target[0],
              "applied_commit": target[1]}],
            _PA_SCHEMA, ["run_id", "stage"], n_buckets=4,
            txn_app_id=_MANIFEST_TXN, batch_id=version,
            mode="latest_wins")
        got = read_run(spark, manifest_path, run_id).get(stage)
        if got == target:
            return
    raise RuntimeError(
        f"manifest write ({run_id}, {stage}) lost the version race "
        f"{max_retries} times — a runaway concurrent writer?")


def read_run(spark: SparkSession, manifest_path: str,
             run_id: str) -> dict[str, tuple[str, int | None]]:
    """{stage: (status, applied_commit)} for one run — O(stages).

    Reads driver-side (local_merge's pyarrow resolved read): the
    manifest is a tiny control table and `record_stage` re-reads it
    after every transition to verify its write landed, so a
    distributed read here put one Spark job (~0.2-0.3 s) inside EVERY
    bookkeeping record — ~2.5 s of a composed day run. Falls back to
    the engine read if the local reader cannot serve the path."""
    man = read_table_manifest(spark, manifest_path)
    if man is None:
        return {}
    try:
        from ..streaming.local_merge import read_live_rows_local

        rows = read_live_rows_local(
            manifest_path, man, sorted(man["buckets"]),
            ["run_id", "stage", "status", "applied_commit"])
        return {r["stage"]: (r["status"],
                             None if r["applied_commit"] is None
                             else int(r["applied_commit"]))
                for r in rows if r["run_id"] == run_id}
    except Exception:
        rows = (read_merged_table(spark, manifest_path)
                .where(F.col("run_id") == run_id).collect())
        return {r.stage: (r.status, r.applied_commit) for r in rows}


def run_incremental_pipeline(
        spark: SparkSession, manifest_path: str, run_id: str,
        stages: Sequence[tuple[str, Callable[[], int | None]]],
        claim_stale_s: float | None = None,
) -> dict[str, int | None]:
    """Execute `stages` (ordered (name, refresh) pairs; each refresh
    returns the upstream commit it reached, or None for already-
    current) under run-manifest bookkeeping. Stages already `done`
    for this run_id are SKIPPED (crash-resume; their recorded
    watermark is returned); upstream commits landing after a skipped
    stage ran stay pending for the NEXT run, exactly as if the
    original invocation had finished uninterrupted.

    Exclusivity: a run lease (`_run_claims/<run_id>.claim`, a
    put-if-absent `try_claim` — the one lease left in the engine, since
    table commits are lease-free) is taken before the
    first manifest transition, so two overlapping runners on the SAME
    run_id — the daily-cron double-start — cannot interleave stage
    transitions or execute a stage twice concurrently: the second
    raises ConcurrentRunError. The claim is released on completion
    AND on in-process failure (an immediate retry may proceed); only
    a hard-killed runner leaves it for lease expiry (`claim_stale_s`,
    default RUN_CLAIM_STALE_S)."""
    names = [n for n, _fn in stages]
    if RUN_STAGE in names:
        raise ValueError(f"{RUN_STAGE!r} is the reserved bookend stage")
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate stage names in {names}")
    stale = RUN_CLAIM_STALE_S if claim_stale_s is None else claim_stale_s
    claim_path = f"{manifest_path}/_run_claims/{run_id}.claim"
    claim = try_claim(spark, claim_path, stale_after_s=stale)
    if claim is None:
        raise ConcurrentRunError(
            f"run {run_id!r} is already being executed by another "
            f"runner (claim {claim_path}). If that runner crashed, "
            f"resume after the lease expires ({stale:.0f}s) or remove "
            "the claim file by hand.")
    try:
        state = read_run(spark, manifest_path, run_id)
        if state.get(RUN_STAGE, ("", None))[0] == "done":
            missing = [n for n in names
                       if state.get(n, ("", None))[0] != "done"]
            if missing:
                raise ValueError(
                    f"run {run_id!r} is already done but stages "
                    f"{missing} have no done record — a stage list "
                    "extended after the fact needs a NEW run_id "
                    "(silently skipping them would look like success)")
            return {n: state[n][1] for n in names}
        record_stage(spark, manifest_path, run_id, RUN_STAGE, "started")
        results: dict[str, int | None] = {}
        for name, refresh in stages:
            if state.get(name, ("", None))[0] == "done":
                results[name] = state[name][1]
                continue
            # a lease-expired claim means a usurper may be mid-run:
            # abort BEFORE recording a transition that would interleave
            claim.verify()
            record_stage(spark, manifest_path, run_id, name, "started")
            commit = refresh()
            # re-verify AFTER the refresh too: a runner usurped while
            # refresh() ran (lease expired mid-stage) must not write a
            # 'done' record whose stale watermark overwrites the
            # usurper's manifest row
            claim.verify()
            record_stage(spark, manifest_path, run_id, name, "done",
                         commit)
            results[name] = commit
        claim.verify()
        record_stage(spark, manifest_path, run_id, RUN_STAGE, "done")
        return results
    finally:
        claim.release()
