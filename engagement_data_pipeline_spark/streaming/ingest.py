"""Streaming ingest: readStream over a landing directory →
Message-schema normalisation → foreachBatch idempotent merge into a
versioned, bucket-partitioned parquet table with ATOMIC commits.

The reference runs its syncs as daily batch jobs with hand-rolled
watermark caches (SURVEY §2.12); Structured Streaming gives the same
incremental semantics natively: the checkpoint replaces the timestamp
cache (exactly-once per micro-batch), and the origin-id keyed merge
inside foreachBatch replaces the per-message lookup-before-write
(rapid_pro_to_engagement_db.py:175-221) — late or replayed files
cannot double-insert.

Commit protocol (the parquet-native stand-in for Delta/Iceberg MERGE;
the reference gets per-message atomicity from Firestore transactions,
src/engagement_db_coda_sync/coda_to_engagement_db.py:13-83):

* The table is hash-bucketed on ``pmod(xxhash64(origin), n_buckets)``.
  Data lives in immutable version directories
  ``<table>/v<commit>/bucket=<b>/part-*.parquet`` — a merge NEVER
  rewrites or deletes a file a reader might hold.
* Each micro-batch reads only the CURRENT directories of the buckets
  its keys hash to, merges, writes the merged buckets into a NEW
  version directory, then publishes ``<table>/_log/<commit>.json`` — a
  full bucket→version mapping (O(n_buckets), so readers never replay a
  log). The manifest is written to a temp name and renamed; readers
  take the highest *parseable* manifest, so a crash mid-data-write
  (unreferenced version dir) or mid-publish (partial/absent manifest)
  leaves the previous commit fully readable. ``_log`` is
  underscore-prefixed, so plain parquet scans ignore it.
* All manifest I/O goes through the Hadoop FileSystem API, so the same
  code runs on file://, hdfs:// (atomic rename) and s3a:// (PUT of a
  new key is atomic; rename is copy+delete but the reader's
  parse-check keeps partial objects invisible).
* CONCURRENT writers are arbitrated by optimistic concurrency on the
  commit number (the Delta-style put-if-absent log idiom): before
  writing any data, a writer atomically claims
  ``_log/<commit>.claim`` (O_CREAT|O_EXCL on local paths,
  create(overwrite=false) on HDFS — atomic in both; S3 without
  conditional-write support needs an external lock, same caveat as
  Delta's LogStore). Every writer writes its data into a
  WRITER-UNIQUE version directory (``v<commit>-<writer>/``, recorded
  in the manifest's ``vdirs`` map), so no two writers ever touch the
  same directory — even through a lease-expiry race, the published
  manifest references exactly the bytes its verified claim holder
  wrote, and a loser's directory is unreferenced debris for vacuum.
  The manifest publish itself stays the crash-atomic tmp+rename,
  single-writer by construction. A loser re-reads the log, REBASES
  (recomputes its merge against the new current state) and retries at
  the next number — no commit is ever silently clobbered. A claim
  whose holder crashed is lease-expired after ``CLAIM_STALE_S``;
  expiry is single-winner (stale claims are renamed to a tombstone —
  one rename succeeds — and only the renamer re-creates, with a
  content re-check to restore a claim that changed hands mid-expiry);
  holders verify ownership just before publishing, so a
  paused-then-resumed writer aborts instead of double-publishing.

I/O per batch is O(touched buckets), not O(table). `n_buckets` is
table metadata fixed at creation (recorded in the manifest — later
merges follow it, whatever the caller passes): buckets must be
stable because a row's bucket may never change across batches. Size
with `suggest_n_buckets` (≈0.5-1 GiB per bucket at the table's
expected steady-state size); grow an outgrown table with
`rebucket_table` (one logged full rewrite), and bound small-file
accretion from long availableNow histories with `compact_table` +
`vacuum_table`.
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid
from collections.abc import Callable, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import idempotent_upsert

CSV_LANDING_SCHEMA = "Sender string, Message string, ReceivedOn string"

#: Partition column of version directories; a pure function of the
#: origin key, so a row's bucket never changes across batches. Never
#: stored in data files (partitionBy encodes it in the path) and
#: recomputed from the origin columns when needed, so merge targets
#: carry no reserved column names.
BUCKET_COL = "bucket"

_LOG_DIR = "_log"
DEFAULT_N_BUCKETS = 16
#: Sizing target: a bucket is one task's merge unit — big enough to
#: amortize file overhead, small enough to re-write cheaply per batch.
TARGET_BUCKET_BYTES = 512 * 1024 * 1024


def origin_bucket(origin_cols: Sequence[str], n_buckets: int):
    """Stable bucket id for an origin key: pmod(xxhash64, n)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in origin_cols]),
                  F.lit(n_buckets)).cast("int")


def suggest_n_buckets(expected_table_bytes: int,
                      target_bucket_bytes: int = TARGET_BUCKET_BYTES) -> int:
    """Power-of-two bucket count putting ~`target_bucket_bytes` per
    bucket at the table's expected steady-state size. 100 TB at the
    default target → 262144 buckets; 1 GB → 2."""
    n = max(1, math.ceil(expected_table_bytes / target_bucket_bytes))
    return 1 << (n - 1).bit_length()


def stream_csv_source(spark: SparkSession, landing_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream over recovery-CSV files landing in a directory."""
    reader = (
        spark.readStream.schema(CSV_LANDING_SCHEMA)
        .option("header", True)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(landing_dir)


# --- manifest I/O (Hadoop FileSystem API: file://, hdfs://, s3a://) -------
#
# Local paths short-circuit to plain `os` I/O: one manifest read
# through the Hadoop API costs 5-10 py4j round-trips (~0.2 s measured
# on the bench box) vs microseconds for three syscalls, and manifest
# reads are the single hottest driver-side operation in the bench
# (every merge-table read resolves a manifest; the e2e capstone reads
# 16 artifacts). Remote schemes keep the Hadoop path unchanged — the
# same local/remote dispatch `put_if_absent` and `_rename_path`
# already use.

def _fs(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _local_path(path_str: str) -> str | None:
    """The os-level path when `path_str` is local (no scheme or
    file://), else None."""
    scheme = urlparse(path_str).scheme
    if scheme in ("", "file"):
        return path_str[7:] if path_str.startswith("file://") else path_str
    return None


def _read_text(spark: SparkSession, path_str: str) -> str:
    lp = _local_path(path_str)
    if lp is not None:
        # surface the same error shape as the Hadoop path: callers
        # classify not-found via _is_not_found, which also matches
        # FileNotFoundError
        with open(lp, "r", encoding="utf-8") as f:
            return f.read()
    fs, jvm = _fs(spark, path_str)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path_str))
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_text_atomic(spark: SparkSession, path_str: str, text: str) -> None:
    lp = _local_path(path_str)
    if lp is not None:
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        tmp = lp + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
        # os.replace is atomic on POSIX — strictly stronger than the
        # Hadoop delete+rename below (no window with neither file)
        os.replace(tmp, lp)
        return
    fs, jvm = _fs(spark, path_str)
    tmp = jvm.org.apache.hadoop.fs.Path(path_str + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    final = jvm.org.apache.hadoop.fs.Path(path_str)
    fs.delete(final, False)  # stale same-name manifest from a crashed retry
    if not fs.rename(tmp, final):
        raise IOError(f"manifest rename failed: {path_str}")


# --- optimistic concurrency: put-if-absent commit claims ------------------

#: Lease horizon for a claim whose holder died mid-commit: after this
#: long with no manifest published, other writers expire the claim and
#: take over the commit number. Must exceed the longest plausible
#: version-directory write; a usurped-but-alive writer aborts at its
#: ownership check instead of double-publishing.
CLAIM_STALE_S = 900.0
#: How long an acquiring writer waits (spin + sleep) for contended
#: claims before giving up.
CLAIM_ACQUIRE_TIMEOUT_S = 600.0
#: Contended-claim polling starts here and doubles to the cap — an
#: object store pays a LIST + GET per poll, so a loser waiting out a
#: long compaction must back off rather than hammer the log.
_CLAIM_POLL_S = 0.05
_CLAIM_POLL_MAX_S = 2.0


#: Rebase-retry ceiling per logical operation: a writer usurped this
#: many times in a row is misconfigured (CLAIM_STALE_S shorter than
#: its own write time) — fail loudly instead of looping forever.
MAX_COMMIT_RETRIES = 20


class ConcurrentCommitError(RuntimeError):
    """Another writer took this commit (or usurped our claim); the
    caller must rebase on the new table state and retry."""


def put_if_absent(spark: SparkSession, path_str: str, text: str) -> bool:
    """Atomically create `path_str` with `text` iff it does not exist.
    Local paths use O_CREAT|O_EXCL (a true atomic arbiter); other
    schemes use Hadoop create(overwrite=false) — atomic on HDFS, and
    the documented external-lock caveat on plain S3 (same trade as
    Delta's LogStore abstraction)."""
    scheme = urlparse(path_str).scheme
    if scheme in ("", "file"):
        p = path_str[7:] if path_str.startswith("file://") else path_str
        os.makedirs(os.path.dirname(p), exist_ok=True)
        try:
            fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(text)
        return True
    fs, jvm = _fs(spark, path_str)
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    try:
        out = fs.create(p, False)
    except Exception as e:
        # Only "already exists" means contention. Anything else (IO,
        # network, permissions) must surface — treating it as a held
        # claim would make the writer silently poll out the full
        # acquire timeout on every transient fault.
        if _is_already_exists(e):
            return False
        raise
    try:
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
    except Exception:
        # The claim file exists but its content never landed: leave no
        # empty claim blocking this commit number for the whole lease.
        _delete_path(spark, path_str)
        raise
    return True


def _is_already_exists(e: Exception) -> bool:
    """True iff a Py4J error wraps Hadoop's FileAlreadyExistsException
    (or a java.nio variant) — the one create() failure that means
    'another writer holds this path'. The local-path fast paths raise
    the native FileExistsError instead."""
    if isinstance(e, FileExistsError):
        return True
    java_exc = getattr(e, "java_exception", None)
    seen = set()
    while java_exc is not None and id(java_exc) not in seen:
        seen.add(id(java_exc))
        try:
            cls = java_exc.getClass().getName()
        except Exception:
            break
        if "AlreadyExists" in cls:
            return True
        try:
            java_exc = java_exc.getCause()
        except Exception:
            break
    return "AlreadyExists" in str(e)


def _is_not_found(e: Exception) -> bool:
    """True iff a Py4J error wraps a FileNotFound/NoSuchFile — the
    read failure that means 'this path does not exist' (e.g. a
    manifest reclaimed by a racing log prune), as opposed to a
    transient IO/permission error that must NOT be swallowed. The
    local-path fast paths raise the native FileNotFoundError (also
    IsADirectoryError/NotADirectoryError for a path-shape mismatch)
    instead of a wrapped Java exception."""
    if isinstance(e, (FileNotFoundError, IsADirectoryError,
                      NotADirectoryError)):
        return True
    java_exc = getattr(e, "java_exception", None)
    seen = set()
    while java_exc is not None and id(java_exc) not in seen:
        seen.add(id(java_exc))
        try:
            cls = java_exc.getClass().getName()
        except Exception:
            break
        if "FileNotFound" in cls or "NoSuchFile" in cls:
            return True
        try:
            java_exc = java_exc.getCause()
        except Exception:
            break
    return "FileNotFound" in str(e) or "NoSuchFile" in str(e)


def _rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic rename; returns False if the source vanished or the
    destination already exists (never replaces an existing dst)."""
    scheme = urlparse(src).scheme
    if scheme in ("", "file"):
        s = src[7:] if src.startswith("file://") else src
        d = dst[7:] if dst.startswith("file://") else dst
        try:
            # link+unlink instead of os.rename: POSIX rename REPLACES
            # an existing destination, which would let a restore
            # clobber a third writer's fresh claim.
            os.link(s, d)
        except OSError:
            return False
        try:
            os.unlink(s)
        except OSError:
            pass
        return True
    fs, jvm = _fs(spark, src)
    try:
        return bool(fs.rename(jvm.org.apache.hadoop.fs.Path(src),
                              jvm.org.apache.hadoop.fs.Path(dst)))
    except Exception:
        return False


def _path_mtime_s(spark: SparkSession, path_str: str) -> float | None:
    lp = _local_path(path_str)
    if lp is not None:
        try:
            return os.stat(lp).st_mtime
        except OSError:
            return None
    fs, jvm = _fs(spark, path_str)
    try:
        st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path_str))
        return st.getModificationTime() / 1000.0
    except Exception:
        return None


def _delete_path(spark: SparkSession, path_str: str,
                 recursive: bool = False) -> None:
    lp = _local_path(path_str)
    if lp is not None:
        try:
            if recursive and os.path.isdir(lp):
                import shutil

                shutil.rmtree(lp, ignore_errors=True)
            else:
                os.unlink(lp)
        except OSError:
            pass
        return
    fs, jvm = _fs(spark, path_str)
    try:
        fs.delete(jvm.org.apache.hadoop.fs.Path(path_str), recursive)
    except Exception:
        pass


class CommitClaim:
    """Exclusive ownership of one commit number, held from acquire to
    publish. The claim file records the writer id; `verify()` re-reads
    it immediately before the manifest publish so a lease-expired
    writer aborts (ConcurrentCommitError) instead of clobbering the
    usurper's commit."""

    def __init__(self, spark: SparkSession, path_str: str, writer_id: str):
        self._spark = spark
        self.path = path_str
        self.writer_id = writer_id

    def verify(self) -> None:
        try:
            owner = _read_text(self._spark, self.path).strip()
        except Exception as e:
            raise ConcurrentCommitError(
                f"commit claim {self.path} disappeared") from e
        if owner != self.writer_id:
            raise ConcurrentCommitError(
                f"commit claim {self.path} usurped by {owner}")

    def release(self) -> None:
        # delete only OUR claim — after a lease expiry the file may
        # belong to the usurper, and blind deletion would unlock a
        # commit number someone else is mid-writing
        try:
            if _read_text(self._spark, self.path).strip() == self.writer_id:
                _delete_path(self._spark, self.path)
        except Exception:
            pass


def try_claim(spark: SparkSession, claim_path: str,
              stale_after_s: float | None = None) -> CommitClaim | None:
    """One claim attempt. An existing claim older than `stale_after_s`
    (default: module `CLAIM_STALE_S`, resolved at call time) is
    expired first.

    Expiry is single-winner: the stale claim is RENAMED to a
    usurper-unique tombstone (exactly one rename of a given file can
    succeed), and only the renamer may re-create the claim. A
    delete-then-create expiry would let two usurpers interleave (B's
    delete removing A's freshly created claim) so both hold the same
    commit number. The renamer additionally re-reads the tombstone:
    if its owner is not the stale writer observed at the staleness
    check, the rename stole a claim that changed hands in between —
    the tombstone is restored (no-replace link/rename, so a third
    writer's newer claim is never clobbered) and the attempt is
    abandoned."""
    if stale_after_s is None:
        stale_after_s = CLAIM_STALE_S
    writer_id = uuid.uuid4().hex
    if put_if_absent(spark, claim_path, writer_id):
        return CommitClaim(spark, claim_path, writer_id)
    try:
        stale_owner = _read_text(spark, claim_path).strip()
    except Exception:
        return None  # claim released between create-fail and read
    mtime = _path_mtime_s(spark, claim_path)
    if mtime is not None and time.time() - mtime > stale_after_s:
        tomb = f"{claim_path}.tomb-{writer_id}"
        if not _rename_path(spark, claim_path, tomb):
            return None  # another usurper (or a release) got there first
        try:
            tomb_owner = _read_text(spark, tomb).strip()
        except Exception:
            tomb_owner = None
        if tomb_owner != stale_owner:
            # The claim changed hands between the staleness check and
            # the rename: we expired a LIVE claim. Put it back; if a
            # third writer claimed the path meanwhile, the no-replace
            # rename fails (the stolen writer then aborts at its
            # verify()) and the orphaned tombstone is deleted.
            if not _rename_path(spark, tomb, claim_path):
                _delete_path(spark, tomb)
            return None
        _delete_path(spark, tomb)
        if put_if_absent(spark, claim_path, writer_id):
            return CommitClaim(spark, claim_path, writer_id)
    return None


def _acquire_commit(spark: SparkSession, table_path: str,
                    stale_after_s: float | None = None,
                    timeout_s: float | None = None,
                    ) -> tuple[dict | None, int, CommitClaim]:
    """Claim the NEXT commit number of `table_path`. Returns
    (manifest-to-build-on, commit, held claim). Loops (bounded by
    `timeout_s`) while another writer holds the next number; after
    winning a claim, re-checks that no manifest was published at that
    number in the meantime (the winner of N deletes its claim only
    AFTER publishing, so a freshly-claimed number may already be
    committed — then the claim is released and the next number is
    contended instead). Defaults resolve the module constants at call
    time so tests (and deployments) can tune them."""
    if stale_after_s is None:
        stale_after_s = CLAIM_STALE_S
    if timeout_s is None:
        timeout_s = CLAIM_ACQUIRE_TIMEOUT_S
    deadline = time.monotonic() + timeout_s
    poll = _CLAIM_POLL_S
    while True:
        man = read_table_manifest(spark, table_path)
        commit = (man["commit"] if man else 0) + 1
        claim = try_claim(
            spark, f"{table_path}/{_LOG_DIR}/{commit:08d}.claim",
            stale_after_s)
        if claim is not None:
            latest = read_table_manifest(spark, table_path)
            if (latest["commit"] if latest else 0) < commit:
                return man, commit, claim
            claim.release()  # that number was published already
            poll = _CLAIM_POLL_S  # progress happened: reset backoff
            continue
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"could not acquire a commit claim on {table_path} "
                f"within {timeout_s}s")
        time.sleep(poll)
        poll = min(poll * 2, _CLAIM_POLL_MAX_S)


def _list_commit_ids(spark: SparkSession, table_path: str) -> list[int]:
    lp = _local_path(table_path)
    if lp is not None:
        try:
            names = os.listdir(os.path.join(lp, _LOG_DIR))
        except OSError:
            return []
    else:
        fs, jvm = _fs(spark, table_path)
        log = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{_LOG_DIR}")
        try:
            # one py4j call per file: getPath().getName() would be two
            names = [st.getPath().getName()
                     for st in fs.listStatus(log)]
        except Exception:
            return []
    ids = []
    for name in names:
        if name.endswith(".json"):
            try:
                ids.append(int(name[:-5]))
            except ValueError:
                pass
    return sorted(ids)


def _try_manifest(spark: SparkSession, table_path: str,
                  commit: int) -> dict | None:
    """Parse one manifest; None when absent or unparseable."""
    try:
        man = json.loads(_read_text(
            spark, f"{table_path}/{_LOG_DIR}/{commit:08d}.json"))
        if {"commit", "n_buckets", "origin", "buckets"} <= man.keys():
            man["buckets"] = {int(k): int(v)
                              for k, v in man["buckets"].items()}
            return man
    except Exception:
        pass
    return None


def read_table_manifest(spark: SparkSession, table_path: str) -> dict | None:
    """Latest parseable manifest, or None if the table has no commits.
    Skips a trailing partial manifest (writer died mid-publish on a
    store without atomic rename) — readers then see the prior commit.

    Resolution is O(1) manifest reads on the happy path: commit ids
    are DENSE (claimed as latest+1 under the OCC claim), so the
    advisory `_log/LATEST` pointer (a lower bound) plus a forward
    probe reaches the head without listing the O(commits) log — the
    same protocol as the change-feed source's `_latest_commit`. Only
    when the pointer is absent/stale-unparseable does it fall back to
    the full listing, scanned newest-first."""
    try:
        hint = int(_read_text(
            spark, f"{table_path}/{_LOG_DIR}/LATEST").strip())
    except Exception:
        hint = 0
    if hint > 0:
        man = _try_manifest(spark, table_path, hint)
        if man is not None:
            while True:
                nxt = _try_manifest(spark, table_path, hint + 1)
                if nxt is None:
                    return man
                hint, man = hint + 1, nxt
    for commit in reversed(_list_commit_ids(spark, table_path)):
        man = _try_manifest(spark, table_path, commit)
        if man is not None:
            return man
    return None


def _commit(spark: SparkSession, table_path: str, commit: int,
            n_buckets: int, origin_cols: Sequence[str],
            buckets: dict[int, int], op: str = "merge",
            bases: dict[int, str] | None = None,
            txn: dict | None = None,
            bucket_on: Sequence[str] | None = None,
            vdirs: dict[int, str] | None = None,
            dv: dict[int, str] | None = None,
            dv_bases: dict[str, str] | None = None,
            dv_rows: dict[int, int] | None = None) -> None:
    import time

    man = {"commit": commit, "n_buckets": n_buckets,
           "origin": list(origin_cols), "op": op,
           "ts_ms": int(time.time() * 1000),
           "buckets": {str(k): v for k, v in sorted(buckets.items())}}
    if bucket_on and list(bucket_on) != list(origin_cols):
        # partial-key bucketing (set at creation, carried on EVERY
        # commit like txn — dropping it would re-bucket silently)
        man["bucket_on"] = list(bucket_on)
    if txn:
        # stream-transaction watermarks (exactly-once replay skip);
        # EVERY commit type must carry these forward — dropping them
        # would let a restarted stream re-apply an old batch after an
        # intervening delete and resurrect its rows
        man["txn"] = dict(txn)
    # foreign roots (shallow clone) and writer-unique version dir
    # names: keep only still-referenced versions
    live = {v for v in buckets.values()}
    bases = {v: r for v, r in (bases or {}).items() if v in live}
    if bases:
        man["bases"] = {str(v): r for v, r in sorted(bases.items())}
    vdirs = {v: d for v, d in (vdirs or {}).items() if v in live}
    if vdirs:
        man["vdirs"] = {str(v): d for v, d in sorted(vdirs.items())}
    # deletion vectors: only for buckets still in the mapping, and
    # only the dv roots still referenced by a surviving dv entry
    dv = {b: d for b, d in (dv or {}).items() if b in buckets}
    if dv:
        man["dv"] = {str(b): d for b, d in sorted(dv.items())}
        dv_bases = {d: r for d, r in (dv_bases or {}).items()
                    if d in set(dv.values())}
        if dv_bases:
            man["dv_bases"] = dict(sorted(dv_bases.items()))
        # per-bucket deleted-key counts: lets maintenance decide from
        # METADATA alone when pending deletes outgrow broadcast size
        dv_rows = {b: n for b, n in (dv_rows or {}).items() if b in dv}
        if dv_rows:
            man["dv_rows"] = {str(b): int(n)
                              for b, n in sorted(dv_rows.items())}
    _write_text_atomic(
        spark, f"{table_path}/{_LOG_DIR}/{commit:08d}.json",
        json.dumps(man, indent=0))
    # Advisory latest-commit pointer: lets pollers (the change-feed
    # source's latestOffset) resolve the head in O(1) reads instead of
    # listing the whole O(commits) log. Best-effort and NOT guaranteed
    # monotone: a writer paused between publishing manifest N and this
    # write can overwrite a successor's LATEST=N+1 with N. That is
    # safe only because readers treat the pointer strictly as a
    # lower-bound hint and probe forward from max(last-seen, hint);
    # nothing may rely on it never regressing.
    try:
        _write_text_atomic(spark, f"{table_path}/{_LOG_DIR}/LATEST",
                           str(commit))
    except Exception:
        pass


def _bucket_on(man: dict) -> list[str]:
    """The columns a row's bucket hashes on: the full origin key by
    default, or the `bucket_on` subset for tables created with
    partial-key bucketing (e.g. a secondary index bucketed on the
    VALUE so all postings of one value share one bucket)."""
    return list(man.get("bucket_on") or man["origin"])


def _bases(man: dict | None) -> dict[int, str]:
    """Per-version foreign roots from a manifest ('bases' field, set
    by `clone_table`): version -> table root holding its data.
    Versions absent from the map live under the table's own root."""
    if not man:
        return {}
    return {int(k): v for k, v in man.get("bases", {}).items()}


def _vdirs(man: dict | None) -> dict[int, str]:
    """Per-version directory names from a manifest ('vdirs' field):
    version -> writer-unique directory name under its root. Versions
    absent from the map (pre-upgrade commits) use the legacy
    `v{ver:08d}` name."""
    if not man:
        return {}
    return {int(k): v for k, v in man.get("vdirs", {}).items()}


def _vdir_name(ver: int, vdirs: dict[int, str] | None) -> str:
    return (vdirs or {}).get(ver, f"v{ver:08d}")


def _dv(man: dict | None) -> dict[int, str]:
    """Per-bucket deletion-vector directories from a manifest ('dv'
    field): bucket -> name of the dv directory holding that bucket's
    deleted origin keys. Buckets absent from the map have no pending
    merge-on-read deletes."""
    if not man:
        return {}
    return {int(k): v for k, v in man.get("dv", {}).items()}


def _dv_rows(man: dict | None) -> dict[int, int]:
    """Per-bucket deleted-key counts ('dv_rows' field) — metadata for
    the maintenance trigger, not consulted by readers."""
    if not man:
        return {}
    return {int(k): int(v) for k, v in man.get("dv_rows", {}).items()}


def _dv_bases(man: dict | None) -> dict[str, str]:
    """Foreign roots for inherited dv directories ('dv_bases' field,
    set by `clone_table`): dv dirname -> table root holding it.
    Dirnames absent from the map live under the table's own root."""
    if not man:
        return {}
    return dict(man.get("dv_bases", {}))


def _dv_paths(table_path: str, man: dict,
              only: Sequence[int] | None = None) -> list[str]:
    """Paths of the dv partitions covering `only` (default: all
    dv-carrying buckets) — one `<dvdir>/bucket=<b>` leaf per bucket,
    mirroring the data layout, so a resolved read stays O(touched
    buckets) on the dv side too."""
    dv = _dv(man)
    wanted = dv if only is None else {
        b: dv[b] for b in only if b in dv}
    roots = _dv_bases(man)
    return [f"{roots.get(d, table_path)}/{d}/{BUCKET_COL}={b}"
            for b, d in sorted(wanted.items())]


def _read_resolved(spark: SparkSession, table_path: str, man: dict,
                   only: Sequence[int] | None = None) -> DataFrame:
    """Current logical rows of the manifest's buckets: the immutable
    data versions ANTI-JOINED against their deletion vectors (the
    Delta deletion-vector / Iceberg merge-on-read analog). The dv
    side is a broadcast-sized key list per touched bucket — bounded,
    because `maybe_compact` materializes pending deletes once the
    manifest's `dv_rows` totals pass its threshold — so the resolve
    adds one broadcast anti-join, never a shuffle of the data."""
    paths = _bucket_paths(table_path, man["buckets"], only=only,
                          bases=_bases(man), vdirs=_vdirs(man))
    df = _read_buckets(spark, paths)
    dv_paths = _dv_paths(table_path, man, only=only)
    if not dv_paths:
        return df
    origin = list(man["origin"])
    dead = (read_parquet_fast(spark, *dv_paths).select(*origin))
    return df.join(F.broadcast(dead), origin, "left_anti")


def _bucket_paths(table_path: str, buckets: dict[int, int],
                  only: Sequence[int] | None = None,
                  bases: dict[int, str] | None = None,
                  vdirs: dict[int, str] | None = None) -> list[str]:
    wanted = buckets if only is None else {
        b: buckets[b] for b in only if b in buckets}
    bases = bases or {}
    return [f"{bases.get(ver, table_path)}/{_vdir_name(ver, vdirs)}"
            f"/{BUCKET_COL}={b}"
            for b, ver in sorted(wanted.items())]


def _spark_dt_of_arrow(t):
    """Arrow type -> Spark type with the table conventions applied:
    every timestamp is session-zone TIMESTAMP (writers only ever
    store normalized TimestampType — Spark writes INT96, the local
    writer tz-aware micros; both must read back as the same Spark
    type), everything nullable."""
    import pyarrow as pa
    from pyspark.sql import types as ST

    if pa.types.is_timestamp(t):
        return ST.TimestampType()
    if pa.types.is_struct(t):
        return ST.StructType([
            ST.StructField(f.name, _spark_dt_of_arrow(f.type), True)
            for f in t])
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ST.ArrayType(_spark_dt_of_arrow(t.value_type), True)
    if pa.types.is_map(t):
        return ST.MapType(_spark_dt_of_arrow(t.key_type),
                          _spark_dt_of_arrow(t.item_type), True)
    from pyspark.sql.pandas.types import from_arrow_type

    return from_arrow_type(t)


#: Footers read per version dir by `_local_union_schema`: every file
#: when a dir holds at most this many, else the first and last few in
#: sorted order. A dir is written by one commit so its files SHOULD
#: share a schema — this is the cheap hardening for that invariant
#: breaking (partial writer death + rewrite, a future multi-writer
#: commit): a straggler file with extra columns or a conflicting type
#: is seen instead of silently dropped, at ~0.2 ms per extra local
#: footer.
_UNION_FOOTERS_PER_DIR = 8


def _local_union_schema(paths: Sequence[str]):
    """Driver-side union schema of LOCAL version directories — up to
    `_UNION_FOOTERS_PER_DIR` footer reads per dir (a version dir is
    written by one commit, so its files share a schema; the extra
    footers harden against that invariant breaking), merged
    first-seen-order like Spark's parquet schema merging. Returns
    None (caller falls back to the distributed mergeSchema job) when
    any path is non-local or unreadable, or when two files disagree
    on a column's Spark type (real type evolution — let Spark
    adjudicate)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    order: list[str] = []
    types: dict[str, object] = {}
    k = _UNION_FOOTERS_PER_DIR
    for p in paths:
        lp = _local_path(p)
        if lp is None:
            return None
        try:
            names = sorted(n for n in os.listdir(lp)
                           if n.endswith(".parquet"))
            if not names:
                return None
            sample = (names if len(names) <= k
                      else names[:k - k // 2] + names[-(k // 2):])
            schemas = [pq.read_schema(os.path.join(lp, n))
                       for n in sample]
        except Exception:
            return None
        for sch in schemas:
            for f in sch:
                try:
                    dt = _spark_dt_of_arrow(f.type)
                except Exception:
                    return None
                prev = types.get(f.name)
                if prev is None:
                    types[f.name] = dt
                    order.append(f.name)
                elif prev != dt:
                    return None
    st = StructType()
    for name in order:
        st.add(name, types[name], True)
    return st


def read_parquet_fast(spark: SparkSession, *paths: str) -> DataFrame:
    """`spark.read.parquet` for engine-written homogeneous layouts
    (postings/removed segments, index cells, dv files, MV state):
    when the paths are local, the schema comes from one footer per
    dir read driver-side (microseconds) instead of the per-read
    schema-inference job Spark otherwise launches (~0.1-0.5 s each —
    measured 11 such jobs in one resolved-postings build). Non-local
    paths fall back to the plain inferring read unchanged."""
    schema = _local_union_schema(paths)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    return spark.read.parquet(*paths)


def _read_buckets(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """Scan version directories under the union schema of all their
    footers: buckets written before a schema evolution keep their old
    file schema (missing columns read as null). For local tables the
    union is computed DRIVER-SIDE from one footer per immutable dir
    (microseconds) and passed explicitly — Spark's
    `mergeSchema=true` otherwise launches a footer-merge job per
    read, the single largest fixed cost of every merge-table read
    (~0.2-0.5 s x 16 artifact reads in the e2e capstone). Non-local
    paths and genuine type evolution keep the distributed merge."""
    schema = _local_union_schema(paths)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_merged_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the committed state of a merge target: resolve the latest
    manifest and scan only the current version directory of each
    bucket. Data files carry no internal columns, so the result is
    exactly the merged rows."""
    man = read_table_manifest(spark, table_path)
    if man is None:
        # Pre-manifest layout (or a foreign parquet dir): best effort.
        df = spark.read.parquet(table_path)
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df
    return _read_resolved(spark, table_path, man)


def commit_as_of(spark: SparkSession, table_path: str,
                 ts_ms: int) -> int:
    """The newest commit whose manifest timestamp is <= `ts_ms` — the
    Delta ``TIMESTAMP AS OF`` resolution step. Manifests record their
    publish time (`ts_ms`); the scan walks the O(commits) log newest-
    first and stops at the first old-enough commit. Raises if the
    table's whole retained history is newer than the asked time.
    A pre-ts_ms manifest (older tables — `table_history` reports its
    ts_ms as NULL) has an UNKNOWN creation time and is never
    returned: treating it as time 0 would silently resolve to data
    that may postdate the asked time."""
    for commit in reversed(_list_commit_ids(spark, table_path)):
        try:
            man = _manifest_at(spark, table_path, commit)
        except ValueError:
            continue  # unparseable/incomplete (crash-partial) manifest
        except Exception as e:
            if _is_not_found(e):
                continue  # reclaimed by a racing log prune
            # a transient read error (object-store IO, permissions) on
            # the timestamp-correct manifest must FAIL the resolution,
            # not silently fall through to an older commit
            raise
        t = man.get("ts_ms")
        if t is not None and int(t) <= ts_ms:
            return commit
    raise ValueError(
        f"no commit of {table_path} provably at or before "
        f"ts_ms={ts_ms} (history pruned, the time predates the "
        "table, or the candidate manifests predate ts_ms tracking)")


def read_table_at(spark: SparkSession, table_path: str,
                  commit: int | None = None,
                  as_of_ms: int | None = None) -> DataFrame:
    """Time travel: read the table exactly as of `commit` (``VERSION
    AS OF``) or as of a wall-clock millisecond timestamp `as_of_ms`
    (``TIMESTAMP AS OF``, resolved via `commit_as_of`). Version
    directories are immutable and manifests are retained, so any
    commit whose data `vacuum_table` has not reclaimed reads back
    byte-identical — implemented by resolving the historical manifest
    instead of the latest."""
    if (commit is None) == (as_of_ms is None):
        raise ValueError("pass exactly one of commit / as_of_ms")
    if commit is None:
        commit = commit_as_of(spark, table_path, as_of_ms)
    man = _manifest_at(spark, table_path, commit)
    if not man["buckets"]:
        return read_merged_table(spark, table_path).limit(0)
    return _read_resolved(spark, table_path, man)


def lookup_origin(spark: SparkSession, table_path: str,
                  key: Sequence[str]) -> DataFrame:
    """Point lookup by origin key in O(one bucket): the bucket id is a
    pure function of the key, so the read touches exactly one version
    directory however large the table is — the reference's per-message
    Firestore get (engagement_db get_messages by origin,
    SURVEY §2.1 S1) re-expressed against the bucketed layout. Hash
    bucketing spreads every VALUE range across all buckets, so
    min/max-style pruning can never help here; key-derived bucket
    addressing is the lookup path this layout buys instead. Origin
    keys are strings throughout this engine (origin ids); a non-string
    origin column would hash differently from the string literal and
    needs a typed key row instead.

    For a table created with partial-key bucketing (`bucket_cols`),
    `key` may cover just the bucket columns: every row sharing that
    prefix lives in ONE bucket, so the partial lookup is still an
    O(one bucket) read returning all matching rows — the
    value->postings read of a secondary index."""
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    origin = list(man["origin"])
    bk = _bucket_on(man)
    if len(key) == len(origin):
        match_cols = origin
    elif len(key) == len(bk):
        match_cols = bk
    else:
        raise ValueError(
            f"key arity {len(key)} matches neither origin {origin} "
            f"nor bucket columns {bk}")
    kv = dict(zip(match_cols, key))
    one = spark.createDataFrame([tuple(kv[c] for c in bk)], ", ".join(
        f"{c} string" for c in bk))
    b = one.select(origin_bucket(bk, man["n_buckets"])).first()[0]
    if b not in man["buckets"]:
        return read_merged_table(spark, table_path).limit(0)
    df = _read_resolved(spark, table_path, man, only=[b])
    cond = None
    for c, v in zip(match_cols, key):
        eq = F.col(c) == F.lit(v)
        cond = eq if cond is None else cond & eq
    return df.where(cond)


def dedup_within_watermark(stream: DataFrame, key_cols: Sequence[str],
                           ts_col: str, delay: str = "10 minutes") -> DataFrame:
    """Streaming F1/K1 twin: drop duplicate origin keys arriving
    within the watermark horizon, state bounded by the delay.

    `dropDuplicatesWithinWatermark` keeps per-key state only until the
    watermark passes (unlike plain dropDuplicates, whose state grows
    without bound on an infinite key space) — the right semantics for
    at-least-once sources that can replay a message within minutes,
    with the downstream foreachBatch merge still catching replays
    beyond the horizon. State store size ≈ keys-per-delay-window,
    independent of stream lifetime.
    """
    return (stream.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(list(key_cols)))


def _write_version(df: DataFrame, table_path: str, commit: int,
                   n_files_hint: int, claim: CommitClaim,
                   sort_cols: Sequence | None = None) -> str:
    # One output file per bucket (instead of shuffle-partitions ×
    # buckets small files). The directory name embeds the claim's
    # writer id, so no two writers — even two holding the same commit
    # number through a lease-expiry race, or a lease-expired original
    # holder still mid-write — can ever touch the same directory: the
    # manifest publish then references exactly the data its verified
    # claim holder wrote, and a loser's directory is unreferenced
    # debris for vacuum. (Same idiom as Delta's uniquely-named data
    # files + log references.) mode=overwrite clears debris from a
    # crashed attempt by this same writer only.
    vdir = f"v{commit:08d}-{claim.writer_id[:8]}"
    out = df.repartition(max(n_files_hint, 1), F.col(BUCKET_COL))
    if sort_cols:
        # cluster rows inside each bucket file: parquet row-group
        # min/max stats become tight on the sort key(s), so range
        # predicates skip row groups at read (Delta OPTIMIZE's sort;
        # pass `sinks.layout.zorder_key(...)` for multi-dimensional
        # clustering). BUCKET_COL leads the sort: the partitioned
        # writer requires partition-column order and would otherwise
        # re-sort by it alone, discarding the clustering.
        out = out.sortWithinPartitions(F.col(BUCKET_COL), *sort_cols)
    (out.write.mode("overwrite").partitionBy(BUCKET_COL)
     .parquet(f"{table_path}/{vdir}"))
    return vdir


def foreach_batch_upsert(table_path: str, origin_cols: Sequence[str],
                         transform: Callable[[DataFrame], DataFrame] | None = None,
                         n_buckets: int | None = None,
                         txn_app_id: str | None = None,
                         bucket_cols: Sequence[str] | None = None,
                         mode: str = "existing_wins",
                         ) -> Callable[[DataFrame, int], None]:
    """A foreachBatch function: normalise the micro-batch (optional
    `transform`), then merge into the versioned bucket table keyed on
    the origin columns — existing rows win, so replays are no-ops.

    Only the buckets containing batch keys are read and re-written,
    into a fresh version directory published by an atomic manifest
    commit (see module docstring): a crash at ANY point leaves the
    previous commit readable, and the interrupted batch simply re-runs
    from the stream checkpoint. Because a version is never mutated,
    the merge also never re-reads files it is deleting — no
    localCheckpoint lineage break needed.

    `n_buckets` only applies when this call CREATES the table (pick it
    with `suggest_n_buckets`); an existing table's manifest wins.

    `txn_app_id` enables transactional replay skipping (the Delta
    `txnAppId`/`txnVersion` idiom): the manifest records the highest
    batch_id applied per app id, and a replayed batch at or below the
    watermark returns WITHOUT committing. Without it, replays are
    still merge-idempotent (existing-wins) — but only txn tracking
    makes them metadata-idempotent too, and only txn tracking keeps a
    checkpoint-restart replay from re-inserting rows that a later
    `delete_origins` removed.

    `bucket_cols` (creation-time only, manifest-carried like
    `n_buckets`) buckets rows on a SUBSET of the origin key instead
    of all of it: rows stay unique on the full origin, but every row
    sharing the subset lands in one bucket, so `lookup_origin` with
    just the subset is still an O(one bucket) read — the layout a
    secondary value index needs (all postings of one value
    co-located).

    `mode` picks the matched-row policy: ``existing_wins`` (default —
    the reference's insert-only K1 semantics, replays are no-ops by
    construction) or ``latest_wins`` (MERGE WHEN MATCHED UPDATE — the
    contact-field writeback K6 semantics; `table_changes` then
    reports changed payloads as op='update'). latest_wins REQUIRES
    `txn_app_id`: only the replay watermark keeps a checkpoint replay
    of an old batch from clobbering newer payloads.
    """
    if mode not in ("existing_wins", "latest_wins"):
        raise ValueError(f"unknown merge mode {mode!r}")
    if mode == "latest_wins" and txn_app_id is None:
        raise ValueError("latest_wins requires txn_app_id: without the "
                         "replay watermark a re-run batch would "
                         "overwrite newer data")
    def _apply(spark: SparkSession, raw: DataFrame, batch_id: int,
               man: dict | None, commit: int, claim: CommitClaim) -> None:
        txn = dict((man or {}).get("txn", {}))
        if txn_app_id is not None:
            applied = txn.get(txn_app_id)
            if applied is not None and batch_id <= applied:
                return  # checkpoint replay of an already-applied batch
            txn[txn_app_id] = batch_id
        nb = man["n_buckets"] if man else (n_buckets or DEFAULT_N_BUCKETS)
        bk = _bucket_on(man) if man else list(bucket_cols or origin_cols)
        batch = raw.withColumn(BUCKET_COL, origin_bucket(bk, nb))
        # Buckets present in this batch — bounded by n_buckets, so the
        # collect is O(n_buckets) regardless of table size.
        hit = sorted(r[0] for r in
                     batch.select(BUCKET_COL).distinct().collect())
        if man is None:
            vdir = _write_version(batch, table_path, commit, len(hit),
                                  claim)
            claim.verify()
            _commit(spark, table_path, commit, nb, origin_cols,
                    {b: commit for b in hit}, txn=txn, bucket_on=bk,
                    vdirs={commit: vdir})
            return
        cur = _bucket_paths(table_path, man["buckets"], only=hit,
                            bases=_bases(man), vdirs=_vdirs(man))
        if cur:
            # dv-resolved: rows merge-on-read deleted from these
            # buckets must stay deleted through the merge (the rewrite
            # then materializes the deletes, so the new manifest drops
            # the dv entries of every rewritten bucket)
            existing = (_read_resolved(spark, table_path, man, only=hit)
                        .withColumn(BUCKET_COL,
                                    origin_bucket(bk, nb)))
        else:  # batch only hits never-seen buckets
            existing = spark.createDataFrame([], batch.schema)
        if set(existing.columns) != set(batch.columns):
            # Schema evolution (Delta mergeSchema analog): align both
            # sides to the union of columns — historical rows read a
            # newly-added column as NULL, new rows NULL-fill columns
            # the batch dropped. Union-with-empty adds the missing
            # columns without touching any row.
            existing = existing.unionByName(
                spark.createDataFrame([], batch.schema),
                allowMissingColumns=True)
            batch = batch.unionByName(
                spark.createDataFrame([], existing.schema),
                allowMissingColumns=True)
        if mode == "latest_wins":
            from ..operators.dedup import upsert_latest

            merged = upsert_latest(existing, batch, origin_cols)
        else:
            merged = idempotent_upsert(existing, batch, origin_cols)
        vdir = _write_version(merged, table_path, commit, len(hit), claim)
        claim.verify()  # abort, not clobber, if our lease was usurped
        dv = {b: d for b, d in _dv(man).items() if b not in set(hit)}
        _commit(spark, table_path, commit, nb, origin_cols,
                {**man["buckets"], **{b: commit for b in hit}},
                bases=_bases(man), txn=txn, bucket_on=bk,
                vdirs={**_vdirs(man), commit: vdir},
                dv=dv, dv_bases=_dv_bases(man), dv_rows=_dv_rows(man))

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch = transform(batch)
        spark = batch.sparkSession
        # Bounded-batch driver-side fast path (local_merge): a daily
        # refresh merge of a few hundred rows pays one cheap probe
        # job instead of 3-4 distributed ones; big batches, schema
        # evolution, temporal types, and intra-batch duplicate keys
        # all fall through to the engine path below unchanged.
        from .local_merge import try_local_upsert

        if try_local_upsert(spark, table_path, batch, batch_id,
                            list(origin_cols), n_buckets=n_buckets,
                            bucket_cols=bucket_cols,
                            txn_app_id=txn_app_id, mode=mode):
            return
        # Optimistic concurrency: claim the next commit number, merge
        # against the manifest that number succeeds, publish. A lost
        # race (another stream, or a maintenance job like compact)
        # surfaces as ConcurrentCommitError -> rebase on the NEW
        # manifest and retry at the next number; nothing is lost on
        # either side.
        for _ in range(MAX_COMMIT_RETRIES):
            man, commit, claim = _acquire_commit(spark, table_path)
            try:
                _apply(spark, batch, batch_id, man, commit, claim)
                return
            except ConcurrentCommitError:
                continue
            finally:
                claim.release()
        raise RuntimeError(
            f"merge into {table_path} was usurped {MAX_COMMIT_RETRIES} "
            "times; raise CLAIM_STALE_S above the batch write time")
    return _merge


def _manifest_at(spark: SparkSession, table_path: str, commit: int) -> dict:
    """The exact manifest of `commit` (not the latest). Raises if the
    manifest is missing or unparseable — unlike the reader path, a
    changes feed must not silently fall back to a different commit."""
    man = json.loads(_read_text(
        spark, f"{table_path}/{_LOG_DIR}/{commit:08d}.json"))
    if not {"commit", "n_buckets", "origin", "buckets"} <= man.keys():
        raise ValueError(f"manifest {commit} of {table_path} is incomplete")
    man["buckets"] = {int(k): int(v) for k, v in man["buckets"].items()}
    return man


def table_changes(spark: SparkSession, table_path: str, from_commit: int,
                  to_commit: int | None = None, *,
                  include_old: bool = False,
                  select: Sequence[str] | None = None,
                  ship: Sequence[str] | None = None) -> DataFrame:
    """Row-level changes between two commits of a versioned merge
    table — the Delta/Iceberg change-data-feed analog, derived purely
    from the commit log plus the immutable version directories (the
    reference reads its incremental feed per-message from Firestore
    timestamps, SURVEY §2.1 S2; here the table's own history is the
    feed). This is the ONE batch entry point to the feed: the batch
    read of `format("merge_table_changes")` over the window
    (`from_commit`, `to_commit`], `to_commit` defaulting to the head.

    Columns: origin keys, `op`, `changed_cols`, then the payload (NULL
    for deletes). `include_old=True` adds a `<col>__old` pre-image per
    payload column (NULL for inserts) — consumers that must SUBTRACT
    or un-index what a change replaced read it there; origin columns
    have no `__old` twin (keys are immutable). `select` projects the
    feed itself (a row changing only outside the selection does not
    emit); `ship` narrows only the output, the diff still spans every
    payload column (`cdf_source.MergeTableChangesDataSource`).

    Cost is O(changed buckets), never O(table): the manifests name the
    buckets whose (version, deletion vector) moved, and only those are
    read and diffed in Arrow. Where the diff runs depends on the
    window's local input (`cdf_source._window_bytes`): up to
    `cdf_source._DRIVER_WINDOW_BYTES` the reader runs in this process
    (`cdf_source.read_window_in_process`), past it — or for a table
    that is not on a local path — on Python workers, packed into
    partitions of `cdf_source._FEED_PARTITION_BYTES` each. Both run the
    same reader object, so the rows are the same. A compaction/rebucket
    commit rewrites buckets without changing logical rows and yields
    an EMPTY changeset (keyed diff, not file diff). `from_commit=0` is
    the empty table before the first commit (the whole history
    replays as inserts). A reversed window raises, and so does a
    window from 0 over a clone: a clone has no history before its
    clone commit (that belongs to the source table). The `from`
    commit's manifest and referenced versions must still exist: a
    window that `vacuum_table` reclaimed fails loudly, the way Delta's
    VACUUM breaks CDF past the retention horizon.
    """
    from . import cdf_source as _cdf

    if to_commit is None:
        to_commit = _cdf._latest_commit(table_path)
        if to_commit is None:
            raise ValueError(f"{table_path} has no commits")
    if to_commit < from_commit:
        raise ValueError(
            f"change window ({from_commit}, {to_commit}] of {table_path} "
            "is reversed")
    if from_commit == 0:
        first = min(_list_commit_ids(spark, table_path), default=None)
        man = _cdf._manifest(table_path, first) if first is not None else None
        if man is not None and man.get("op") == "clone":
            raise ValueError(
                f"{table_path} is a clone created at commit {first}; "
                "its history before that belongs to the source table "
                f"— read changes from commit {first} on")
    options = {"path": table_path, "fromCommit": str(from_commit),
               "toCommit": str(to_commit),
               "includeOld": str(include_old).lower()}
    if select is not None:
        options["select"] = ",".join(select)
    if ship is not None:
        options["ship"] = ",".join(ship)
    wb = _cdf._window_bytes(table_path, from_commit, to_commit)
    if wb is not None and wb <= _cdf._DRIVER_WINDOW_BYTES:
        return _cdf.read_window_in_process(spark, options)
    spark.dataSource.register(_cdf.MergeTableChangesDataSource)
    return spark.read.format("merge_table_changes").options(**options).load()


# --- table maintenance ----------------------------------------------------

def delete_origins(spark: SparkSession, table_path: str,
                   keys: DataFrame, vacuum: bool = False,
                   strategy: str = "rewrite") -> int:
    """Delete rows by origin key — the right-to-be-forgotten path the
    reference handles via consent-withdrawal filtering at read time
    (SURVEY §2.6 M8; analysis filters drop opted-out participants but
    the stored messages remain). A versioned table can do better: a
    DELETE commit physically removes the rows from the current
    snapshot, and `vacuum_table` afterwards reclaims every superseded
    version directory that still holds them — physical erasure, not
    just masking.

    Cost is O(touched buckets), never O(table): each key hashes to
    exactly one bucket, only those buckets are read, anti-joined and
    rewritten into a fresh immutable version, and the commit is the
    same atomic manifest publish as a merge — a crash mid-delete
    leaves the prior commit fully readable. A bucket whose rows are
    all deleted leaves the manifest entirely (readers never resolve a
    path that no longer exists). `table_changes` across the delete
    commit reports the removed keys as op='delete' with NULL payload.

    `keys` is a DataFrame holding exactly the table's origin columns
    (any other columns are ignored). Returns the new commit id.
    Erasure caveat, same trade as Delta: until `vacuum_table` runs
    (pass ``vacuum=True`` or call it per retention policy), prior
    version directories and time travel still expose the deleted
    rows; vacuum is the erasure step.

    `strategy` picks the physical plan, the Delta deletion-vector
    trade-off:

    * ``"rewrite"`` (default) — read, anti-join and REWRITE every hit
      bucket. Write cost O(touched bucket bytes); with vacuum this is
      the physical-erasure path GDPR wants.
    * ``"dv"`` — merge-on-read: append the keys to per-bucket DELETION
      VECTORS (manifest `dv` map) and touch no data file at all.
      Write cost O(deleted keys), the right plan when buckets are
      ~0.5 GiB and the delete is a handful of keys — at 100 TB a
      rewrite delete of 100 keys would rewrite up to 100 buckets
      (~50 GiB); the dv commit writes kilobytes. Readers anti-join
      the dv (broadcast-sized) transparently; the next merge, compact
      or rebucket of a bucket MATERIALIZES its pending deletes and
      drops the dv entry. NOT physical erasure until then — for
      right-to-be-forgotten, follow with `compact_table` +
      `vacuum_table`, or use ``rewrite``.
    """
    if strategy not in ("rewrite", "dv"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    if read_table_manifest(spark, table_path) is None:
        raise ValueError(f"{table_path} has no commits")
    attempt = _delete_attempt if strategy == "rewrite" else _delete_attempt_dv
    commit_id = None
    for _ in range(MAX_COMMIT_RETRIES):
        man, commit, claim = _acquire_commit(spark, table_path)
        try:
            commit_id = attempt(spark, table_path, keys, man,
                                commit, claim)
            break
        except ConcurrentCommitError:
            continue  # rebase on the new manifest and retry
        finally:
            claim.release()
    if commit_id is None:
        raise RuntimeError(
            f"delete on {table_path} was usurped {MAX_COMMIT_RETRIES} "
            "times; raise CLAIM_STALE_S above the delete write time")
    if vacuum:
        vacuum_table(spark, table_path, keep_manifests=1)
    return commit_id


def delete_where(spark: SparkSession, table_path: str, condition,
                 vacuum: bool = False, strategy: str = "rewrite") -> int:
    """Predicate delete — the DELETE WHERE analog: resolve the origin
    keys matching `condition` (a Column or SQL string) from the
    CURRENT snapshot, then delete them by key via `delete_origins`
    (same strategies, same commit semantics). The predicate scan is
    one snapshot pass, column-pruned by parquet to the origin +
    predicate columns; the delete itself stays O(touched buckets)
    (rewrite) or O(matched keys) (dv).

    Snapshot-isolation semantics: the predicate is evaluated against
    the snapshot current at call time — rows a CONCURRENT writer
    inserts while this runs are not deleted even if they match (the
    key-delete rebases through the claim protocol, but the key set is
    fixed). Re-run to cover later arrivals."""
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    origin = list(man["origin"])
    kc = origin + [c for c in _bucket_on(man) if c not in origin]
    keys = (read_merged_table(spark, table_path)
            .where(cond).select(*kc))
    return delete_origins(spark, table_path, keys, vacuum=vacuum,
                          strategy=strategy)


def _delete_attempt(spark: SparkSession, table_path: str, keys: DataFrame,
                    man: dict, commit: int, claim: CommitClaim) -> int:
    nb, origin = man["n_buckets"], list(man["origin"])
    bk = _bucket_on(man)
    # A partial-key-bucketed table (bucket_on outside the origin)
    # hashes buckets on columns the origin alone does not carry: the
    # caller's keys frame must include them (the secondary index's
    # removals do — its origin embeds the value column).
    kc = origin + [c for c in bk if c not in origin]
    keys = (keys.select(*kc).dropDuplicates(origin)
            .withColumn(BUCKET_COL, origin_bucket(bk, nb)))
    # O(n_buckets) regardless of key-set size, like the merge path.
    hit = sorted(r[0] for r in keys.select(BUCKET_COL).distinct().collect()
                 if r[0] in man["buckets"])
    if not hit:  # nothing stored under any of these keys: empty commit
        claim.verify()
        _commit(spark, table_path, commit, nb, origin, man["buckets"],
                op="delete", bases=_bases(man), txn=man.get("txn"),
                bucket_on=bk, vdirs=_vdirs(man), dv=_dv(man),
                dv_bases=_dv_bases(man), dv_rows=_dv_rows(man))
        return commit
    existing = (_read_resolved(spark, table_path, man, only=hit)
                .withColumn(BUCKET_COL, origin_bucket(bk, nb)))
    remaining = existing.join(keys.select(*origin), origin, "left_anti")
    vdir = _write_version(remaining, table_path, commit, len(hit), claim)
    # A fully-emptied bucket writes no directory — drop it from the
    # mapping instead of pointing readers at a missing path.
    survived = {r[0] for r in
                remaining.select(BUCKET_COL).distinct().collect()}
    buckets = {**man["buckets"],
               **{b: commit for b in hit if b in survived}}
    for b in hit:
        if b not in survived:
            buckets.pop(b, None)
    claim.verify()
    dv = {b: d for b, d in _dv(man).items() if b not in set(hit)}
    _commit(spark, table_path, commit, nb, origin, buckets, op="delete",
            bases=_bases(man), txn=man.get("txn"), bucket_on=bk,
            vdirs={**_vdirs(man), commit: vdir},
            dv=dv, dv_bases=_dv_bases(man), dv_rows=_dv_rows(man))
    return commit


def _delete_attempt_dv(spark: SparkSession, table_path: str,
                       keys: DataFrame, man: dict, commit: int,
                       claim: CommitClaim) -> int:
    """Merge-on-read delete: write the keys (unioned with each hit
    bucket's existing dv, so one dv dir per bucket always suffices)
    into a fresh writer-unique dv directory and republish the
    manifest with the SAME data versions. No data file is read or
    written — cost is O(existing dv + new keys), never O(bucket)."""
    nb, origin = man["n_buckets"], list(man["origin"])
    bk = _bucket_on(man)
    kc = origin + [c for c in bk if c not in origin]
    keyed = (keys.select(*kc).dropDuplicates(origin)
             .withColumn(BUCKET_COL, origin_bucket(bk, nb)))
    hit = sorted(r[0] for r in
                 keyed.select(BUCKET_COL).distinct().collect()
                 if r[0] in man["buckets"])
    if not hit:  # nothing stored under any of these keys: empty commit
        claim.verify()
        _commit(spark, table_path, commit, nb, origin, man["buckets"],
                op="delete", bases=_bases(man), txn=man.get("txn"),
                bucket_on=bk, vdirs=_vdirs(man), dv=_dv(man),
                dv_bases=_dv_bases(man), dv_rows=_dv_rows(man))
        return commit
    new_keys = keyed.where(F.col(BUCKET_COL).isin([int(b) for b in hit]))
    prior_paths = _dv_paths(table_path, man, only=hit)
    if prior_paths:
        prior = (spark.read.parquet(*prior_paths).select(*kc)
                 .withColumn(BUCKET_COL, origin_bucket(bk, nb)))
        new_keys = (new_keys.unionByName(prior)
                    .dropDuplicates(origin))
    dvdir = f"dv{commit:08d}-{claim.writer_id[:8]}"
    (new_keys.repartition(max(len(hit), 1), F.col(BUCKET_COL))
     .write.mode("overwrite").partitionBy(BUCKET_COL)
     .parquet(f"{table_path}/{dvdir}"))
    # absolute per-bucket key counts (the dir was just written, so the
    # count is a metadata-cheap scan of O(dv) rows) — lets
    # `maybe_compact` bound dv growth without reading any dv later
    counts = {int(r[0]): int(r[1]) for r in
              (spark.read.parquet(f"{table_path}/{dvdir}")
               .groupBy(BUCKET_COL).count().collect())}
    claim.verify()
    dv = {**_dv(man), **{b: dvdir for b in hit}}
    _commit(spark, table_path, commit, nb, origin, man["buckets"],
            op="delete", bases=_bases(man), txn=man.get("txn"),
            bucket_on=bk, vdirs=_vdirs(man), dv=dv,
            dv_bases=_dv_bases(man),
            dv_rows={**_dv_rows(man), **counts})
    return commit


def compact_table(spark: SparkSession, table_path: str,
                  vacuum: bool = True,
                  cluster_by: Sequence | None = None) -> None:
    """Rewrite every bucket's current data into one fresh version (one
    file per bucket) and commit — the OPTIMIZE step that bounds file
    count after long availableNow histories. With `vacuum`, superseded
    version data is deleted afterwards; post-state is ≤ n_buckets data
    files. Runs under the commit-claim protocol, so it can race a
    live ingest stream safely — whoever loses the claim rebases.

    `cluster_by` (columns or expressions) sorts rows WITHIN each
    bucket file — the Delta ``OPTIMIZE ... ZORDER BY`` analog: parquet
    row-group min/max become tight on the clustering key(s), so range
    predicates skip row groups inside the one-file-per-bucket layout
    (hash bucketing spreads every value range across buckets, so this
    in-file clustering is where range-skipping lives for this table;
    pass `sinks.layout.zorder_key(...)` for multi-dimensional keys).
    Clustering holds until a later merge rewrites a bucket."""
    if read_table_manifest(spark, table_path) is None:
        return  # nonexistent table: no-op, and no _log debris
    for _ in range(MAX_COMMIT_RETRIES):
        man, commit, claim = _acquire_commit(spark, table_path)
        try:
            if man is None:
                return
            # dv-resolved: compaction materializes pending merge-on-
            # read deletes, so the new manifest carries no dv at all
            df = (_read_resolved(spark, table_path, man)
                  .withColumn(BUCKET_COL,
                              origin_bucket(_bucket_on(man),
                                            man["n_buckets"])))
            vdir = _write_version(df, table_path, commit,
                                  len(man["buckets"]), claim,
                                  sort_cols=cluster_by)
            live = set(man["buckets"])
            if _dv(man):
                # a fully dv-deleted bucket writes no directory: drop
                # it from the mapping instead of dangling the path
                live = {r[0] for r in df.select(BUCKET_COL)
                        .distinct().collect()}
            claim.verify()
            _commit(spark, table_path, commit, man["n_buckets"],
                    man["origin"],
                    {b: commit for b in man["buckets"] if b in live},
                    op="compact", txn=man.get("txn"),
                    bucket_on=man.get("bucket_on"),
                    vdirs={commit: vdir})
            break
        except ConcurrentCommitError:
            continue
        finally:
            claim.release()
    if vacuum:
        vacuum_table(spark, table_path)


def rebucket_table(spark: SparkSession, table_path: str,
                   new_n_buckets: int, vacuum: bool = True) -> None:
    """Grow (or shrink) an outgrown table's bucket count: one logged
    full rewrite under the new hash — the explicit maintenance path
    for a table whose buckets passed ~2× `TARGET_BUCKET_BYTES`.
    Subsequent merges follow the new manifest automatically (a merge
    racing the rebucket rebases onto the new bucket count via the
    commit-claim protocol)."""
    if read_table_manifest(spark, table_path) is None:
        return  # nonexistent table: no-op, and no _log debris
    for _ in range(MAX_COMMIT_RETRIES):
        man, commit, claim = _acquire_commit(spark, table_path)
        try:
            if man is None:
                return
            df = (_read_resolved(spark, table_path, man)
                  .withColumn(BUCKET_COL,
                              origin_bucket(_bucket_on(man),
                                            new_n_buckets)))
            hit = sorted(r[0] for r in
                         df.select(BUCKET_COL).distinct().collect())
            vdir = _write_version(df, table_path, commit, len(hit), claim)
            claim.verify()
            _commit(spark, table_path, commit, new_n_buckets,
                    man["origin"], {b: commit for b in hit},
                    op="rebucket", txn=man.get("txn"),
                    bucket_on=man.get("bucket_on"),
                    vdirs={commit: vdir})
            break
        except ConcurrentCommitError:
            continue
        finally:
            claim.release()
    if vacuum:
        vacuum_table(spark, table_path)


_FLOORS_DIR = f"{_LOG_DIR}/_floors"


def set_retention_floor(spark: SparkSession, table_path: str,
                        name: str, commit: int) -> None:
    """Register a minimum-live-commit floor for a named consumer (a
    lagging change-feed stream, a paused sync job): `vacuum_table`
    then retains every manifest and data/dv directory from `commit`
    onward, so the consumer's unread change windows survive vacuum —
    Delta's retention-contract answer, PREVENTING the data loss the
    change-feed source otherwise diagnoses loudly after the fact.
    Streams opened with ``.option("retentionName", ...)`` advance
    their floor automatically at every engine commit."""
    _write_text_atomic(
        spark, f"{table_path}/{_FLOORS_DIR}/{name}.json", str(int(commit)))


def clear_retention_floor(spark: SparkSession, table_path: str,
                          name: str) -> None:
    """Drop a consumer's floor (it caught up, or was decommissioned) —
    vacuum is then bounded by the remaining floors / retention knobs."""
    fs, jvm = _fs(spark, table_path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(
        f"{table_path}/{_FLOORS_DIR}/{name}.json"), False)


def _floor_entries(spark: SparkSession,
                   table_path: str) -> dict[str, tuple[int, int]]:
    """name -> (floor commit, heartbeat ms). The heartbeat is the
    floor file's modification time — streams rewrite their floor at
    every engine commit, so a fresh mtime IS liveness. An unparseable
    floor file reads as commit 0 (retain everything) — a torn write
    must fail SAFE, never license reclaiming a consumer's window."""
    fs, jvm = _fs(spark, table_path)
    try:
        statuses = fs.listStatus(
            jvm.org.apache.hadoop.fs.Path(f"{table_path}/{_FLOORS_DIR}"))
    except Exception:
        return {}
    floors: dict[str, tuple[int, int]] = {}
    for st in statuses:
        fname = st.getPath().getName()
        if not fname.endswith(".json"):
            continue
        ts = int(st.getModificationTime())
        try:
            floors[fname[:-5]] = (int(_read_text(
                spark, f"{table_path}/{_FLOORS_DIR}/{fname}").strip()),
                ts)
        except Exception:
            floors[fname[:-5]] = (0, ts)
    return floors


def read_retention_floors(spark: SparkSession,
                          table_path: str) -> dict[str, int]:
    """All registered consumer floors (name -> minimum live commit).
    See `list_retention_floors` for ages."""
    return {n: c for n, (c, _ts) in
            _floor_entries(spark, table_path).items()}


def list_retention_floors(spark: SparkSession,
                          table_path: str) -> dict[str, dict]:
    """Ops view of the registered floors: name ->
    {"commit", "age_ms"} — a floor with a large age whose consumer is
    gone is pinning vacuum; clear it (`clear_retention_floor`) or
    vacuum with `floor_ttl_ms` to lease-expire it."""
    import time as _time

    now = _time.time() * 1000
    return {n: {"commit": c, "age_ms": max(0, int(now - ts))}
            for n, (c, ts) in
            _floor_entries(spark, table_path).items()}


def vacuum_table(spark: SparkSession, table_path: str,
                 keep_manifests: int = 10,
                 retain_ms: int | None = None,
                 ignore_floors: bool = False,
                 floor_ttl_ms: int | None = None) -> None:
    """Delete version/bucket directories no longer referenced by the
    LATEST manifest, then empty version dirs, then manifests older
    than the last `keep_manifests`. Safe against the single writer
    (it only appends new versions); concurrent readers of superseded
    commits are the same trade Delta's VACUUM makes — retention is the
    knob.

    `retain_ms` adds Delta's time-travel horizon: data referenced by
    any manifest committed within the last `retain_ms` milliseconds
    is ALSO kept (and those manifests survive regardless of
    `keep_manifests`), so `read_table_at` keeps working across the
    retention window while older superseded versions reclaim.

    Registered consumer floors (`set_retention_floor` / streams opened
    with ``retentionName``) are honored the same way: every manifest
    at or above the MINIMUM floor — and the data/dv directories those
    manifests reference — survives, so a lagging stream's unread
    change windows cannot be reclaimed out from under it. Vacuum still
    reclaims everything below the floor. `ignore_floors=True` is the
    explicit force-override (decommissioning a dead consumer without
    clearing its floor).

    `floor_ttl_ms` lease-expires ABANDONED floors (a checkpoint
    deleted without `clear_retention_floor` would otherwise pin
    vacuum forever): a floor whose file has not been rewritten within
    the TTL is deleted and ignored — streams rewrite their floor at
    every engine commit, so the mtime is a heartbeat — while fresh
    floors keep their full protection. Size the TTL well past the
    slowest honest consumer's trigger interval: an honest-but-paused
    stream whose floor expires fails LOUDLY on resume (the change-feed
    source raises on reclaimed windows), it never reads wrong data.
    Default None = floors never expire (the round-9 contract).

    Clock-skew caveat: expiry compares THIS host's clock against the
    store's reported floor mtimes, so skew between the two shifts the
    lease by the skew. Size the TTL to dominate plausible skew (object
    stores drift seconds, not minutes — a TTL of hours is unaffected);
    the failure mode is still loud-on-resume, never wrong data."""
    import time as _time

    man = read_table_manifest(spark, table_path)
    if man is None:
        return
    entries = {} if ignore_floors else _floor_entries(spark, table_path)
    if floor_ttl_ms is not None and entries:
        now = _time.time() * 1000
        for name, (c, ts) in list(entries.items()):
            # Lease-expire only floors that LAG the head: consumers
            # rewrite their floor at every processed batch, so a
            # lagging floor with a stale mtime is abandoned. A
            # stale-mtime floor AT the head is a healthy caught-up
            # consumer on an idle table (no batches -> no rewrites) —
            # it pins nothing beyond the latest manifest, and
            # expiring it could strand the stream the moment the
            # table resumes. Keep it.
            if now - ts > floor_ttl_ms and c < int(man["commit"]):
                # TOCTOU guard: a live consumer may have rewritten its
                # floor between the listing stat and now — re-stat and
                # skip expiry if the heartbeat advanced (it stays a
                # normal floor this run; the next vacuum re-evaluates)
                cur = _path_mtime_s(
                    spark, f"{table_path}/{_FLOORS_DIR}/{name}.json")
                if cur is not None and int(cur * 1000) > ts:
                    continue
                # lease expiry, like claim expiry: the abandoned floor
                # is removed so it cannot re-pin the next vacuum
                clear_retention_floor(spark, table_path, name)
                del entries[name]
    floors = {n: c for n, (c, _ts) in entries.items()}
    floor = min(floors.values()) if floors else None
    fs, jvm = _fs(spark, table_path)
    hp = jvm.org.apache.hadoop.fs.Path
    # Keyed by (directory NAME, bucket), not version number: with
    # writer-unique version dirs, a loser's v00000012-beef directory
    # can coexist with the published v00000012-cafe — only the dir
    # the manifest actually names is live; the loser's is debris.
    def _refs(m: dict) -> set[tuple[str, int]]:
        vd = _vdirs(m)
        return ({(_vdir_name(v, vd), b) for b, v in m["buckets"].items()}
                | {(d, b) for b, d in _dv(m).items()})

    referenced = _refs(man)
    retained_commits: set[int] = set()
    if retain_ms is not None or floor is not None:
        horizon = (_time.time() * 1000 - retain_ms
                   if retain_ms is not None else None)
        for commit in _list_commit_ids(spark, table_path):
            if not ((horizon is not None)
                    or (floor is not None and commit >= floor)):
                continue
            try:
                m = _manifest_at(spark, table_path, commit)
            except Exception:
                continue
            if ((horizon is not None and (m.get("ts_ms") or 0) >= horizon)
                    or (floor is not None and commit >= floor)):
                retained_commits.add(commit)
                referenced |= _refs(m)
    try:
        versions = fs.listStatus(hp(table_path))
    except Exception:
        return
    for vst in versions:
        name = vst.getPath().getName()
        # data versions are v<commit>[-writer]; deletion vectors are
        # dv<commit>[-writer] — both scanned and reclaimed the same way
        stem = name[2:] if name.startswith("dv") else name[1:]
        base = stem.split("-", 1)[0]
        if not (vst.isDirectory()
                and (name.startswith("v") or name.startswith("dv"))
                and base.isdigit()):
            continue
        if int(base) > man["commit"]:
            # A version numbered past the latest commit may belong to
            # an IN-FLIGHT writer that has not published yet — deleting
            # it would corrupt the commit it is about to make. It
            # becomes reclaimable once the log advances past it.
            continue
        kept = 0
        for bst in fs.listStatus(vst.getPath()):
            bname = bst.getPath().getName()
            if not bname.startswith(f"{BUCKET_COL}="):
                continue
            if (name, int(bname.split("=", 1)[1])) in referenced:
                kept += 1
            else:
                fs.delete(bst.getPath(), True)
        if kept == 0:  # only _SUCCESS markers remain
            fs.delete(vst.getPath(), True)
    for commit in _list_commit_ids(spark, table_path)[:-keep_manifests]:
        if commit != man["commit"] and commit not in retained_commits:
            fs.delete(hp(f"{table_path}/{_LOG_DIR}/{commit:08d}.json"), False)
    # claim files for already-published commit numbers are dead (their
    # holder either published or lost); only a claim ABOVE the latest
    # commit may belong to an in-flight writer
    try:
        for st in fs.listStatus(hp(f"{table_path}/{_LOG_DIR}")):
            name = st.getPath().getName()
            if name.endswith(".claim") or ".claim.tomb-" in name:
                try:
                    if int(name.split(".", 1)[0]) <= man["commit"]:
                        fs.delete(st.getPath(), False)
                except ValueError:
                    pass
    except Exception:
        pass


def maybe_compact(spark: SparkSession, table_path: str,
                  max_merges_since_compact: int = 16,
                  vacuum: bool = True,
                  max_dv_rows: int = 1_000_000) -> bool:
    """OPTIMIZE trigger from metadata alone: compact when more than
    `max_merges_since_compact` data commits landed since the last
    compact/rebucket (each merge adds up to one file per touched
    bucket, so commit count bounds file-count growth), OR when the
    pending deletion-vector keys (manifest `dv_rows` totals) exceed
    `max_dv_rows` — readers broadcast the dv for the anti-join, so
    maintenance must materialize deletes before the dv outgrows
    broadcast size. Reads only the O(commits) manifest log — no data
    scan — making it cheap enough to call after every ingest batch.
    Returns True if it compacted."""
    latest = read_table_manifest(spark, table_path)
    if latest is not None and sum(_dv_rows(latest).values()) > max_dv_rows:
        compact_table(spark, table_path, vacuum=vacuum)
        return True
    commits_since = 0
    for commit in reversed(_list_commit_ids(spark, table_path)):
        try:
            man = _manifest_at(spark, table_path, commit)
        except Exception:
            continue
        if man.get("op", "merge") in ("compact", "rebucket"):
            break
        commits_since += 1
    if commits_since <= max_merges_since_compact:
        return False
    compact_table(spark, table_path, vacuum=vacuum)
    return True


def table_history(spark: SparkSession, table_path: str) -> DataFrame:
    """Commit log as a frame — the DESCRIBE HISTORY analog: (commit,
    op, ts_ms, n_buckets, n_buckets_touched, n_buckets_total), newest
    first. Reads only the O(commits) manifest files; pre-`op`
    manifests (older tables) report op 'merge' and ts_ms NULL.
    `n_buckets_touched` counts buckets whose version OR deletion
    vector was written by the commit — exactly the data it wrote —
    so write amplification per commit is auditable from metadata
    alone (a dv delete shows its hit buckets even though no version
    advanced)."""
    rows = []
    for commit in _list_commit_ids(spark, table_path):
        try:
            man = json.loads(_read_text(
                spark, f"{table_path}/{_LOG_DIR}/{commit:08d}.json"))
        except Exception:
            continue  # trailing partial manifest: invisible, like reads
        if not {"commit", "n_buckets", "origin", "buckets"} <= man.keys():
            continue
        dv_prefix = f"dv{int(man['commit']):08d}"
        touched = sum(
            1 for b, v in man["buckets"].items()
            if int(v) == int(man["commit"])
            or man.get("dv", {}).get(str(b), "").startswith(dv_prefix))
        rows.append((int(man["commit"]), man.get("op", "merge"),
                     man.get("ts_ms"), int(man["n_buckets"]),
                     touched, len(man["buckets"])))
    return (spark.createDataFrame(
        rows, "commit int, op string, ts_ms long, n_buckets int, "
              "n_buckets_touched int, n_buckets_total int")
        .orderBy(F.col("commit").desc()))


def describe_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Current-state detail, one row per bucket of the head commit —
    the DESCRIBE DETAIL analog to `table_history`'s DESCRIBE HISTORY:
    (bucket, version, n_files, bytes, physical_rows, dv_rows,
    live_rows). METADATA-ONLY: bytes from the filesystem listing, row
    counts from parquet FOOTERS (no data pages are read), deleted-key
    counts from the manifest's `dv_rows` field (footer-counted only
    for pre-field manifests). physical_rows is the merged key count
    stored in the bucket's current version; live_rows subtracts the
    pending deletion-vector keys — exact because the merge keeps one
    row per key and a dv lists distinct existing keys.

    Driver-side O(buckets) metadata ops — an OPS command (capacity
    audits, skew checks, compaction planning: feed `bytes` skew into
    `rebucket`/`compact_table` decisions), not a query-path
    primitive. At the 100 TB layout's 262144 buckets that is ~10^5
    footer stats, the cost class of DESCRIBE DETAIL on an equal-size
    Delta table."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    from .cdf_source import _fs_path

    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    dv_counts = _dv_rows(man)
    dv_map = _dv(man)
    bases, vdirs = _bases(man), _vdirs(man)

    def _dir_stats(path: str) -> tuple[int, int, int]:
        fs, p = _fs_path(path)
        try:
            infos = fs.get_file_info(pafs.FileSelector(p))
        except (OSError, FileNotFoundError):
            return 0, 0, 0
        files = [i for i in infos if i.path.endswith(".parquet")]
        n_rows = 0
        for i in files:
            with fs.open_input_file(i.path) as f:
                n_rows += pq.ParquetFile(f).metadata.num_rows
        return len(files), sum(i.size or 0 for i in files), n_rows

    rows = []
    for b, ver in sorted((int(k), int(v))
                         for k, v in man["buckets"].items()):
        bdir = (_bucket_paths(table_path, {b: ver}, bases=bases,
                              vdirs=vdirs))[0]
        n_files, n_bytes, phys = _dir_stats(bdir)
        if b in dv_counts:
            dvr = dv_counts[b]
        elif b in dv_map:  # pre-dv_rows manifest: count from footers
            dvr = _dir_stats(_dv_paths(table_path, man, only=[b])[0])[2]
        else:
            dvr = 0
        rows.append((b, ver, n_files, n_bytes, phys, dvr, phys - dvr))
    return spark.createDataFrame(
        rows, "bucket int, version int, n_files int, bytes long, "
              "physical_rows long, dv_rows long, live_rows long")


def clone_table(spark: SparkSession, src_path: str, dst_path: str) -> None:
    """SHALLOW CLONE: create `dst_path` as a zero-copy view of the
    source's current commit — one manifest write, no data movement,
    however large the table (the Delta CLONE analog; the reference
    copies whole Firestore exports to branch an environment). The
    clone's manifest maps every inherited version to the SOURCE root
    (`bases`); versions the clone writes itself live under its own
    root, and its commit counter starts past the source's so version
    numbers never collide. Divergence is copy-on-write at bucket
    granularity: a merge/delete on the clone rewrites only touched
    buckets locally and keeps referencing source data for the rest.

    Hazards, identical to Delta shallow clones: `vacuum_table` on the
    SOURCE can reclaim versions the clone still references (vacuum on
    the clone itself only ever touches the clone's own root, so it is
    always safe); `compact_table` on the clone materializes it fully
    local and drops the dependency."""
    man = read_table_manifest(spark, src_path)
    if man is None:
        raise ValueError(f"{src_path} has no commits")
    if read_table_manifest(spark, dst_path) is not None:
        raise ValueError(f"{dst_path} already exists; clone only "
                         "creates new tables")
    # claim the destination's first commit number so two concurrent
    # clones (or a clone racing a first merge) cannot both create it
    claim = try_claim(
        spark, f"{dst_path}/{_LOG_DIR}/{man['commit']:08d}.claim")
    if claim is None:
        raise ValueError(f"{dst_path} is being created concurrently")
    try:
        if read_table_manifest(spark, dst_path) is not None:
            raise ValueError(f"{dst_path} already exists; clone only "
                             "creates new tables")
        src_bases = _bases(man)
        bases = {ver: src_bases.get(ver, src_path)
                 for ver in set(man["buckets"].values())}
        # inherited deletion vectors stay where they are too: root
        # every dv dirname at the source (or ITS source, if chained)
        src_dv_bases = _dv_bases(man)
        dv = _dv(man)
        dv_bases = {d: src_dv_bases.get(d, src_path)
                    for d in set(dv.values())}
        claim.verify()
        _commit(spark, dst_path, man["commit"], man["n_buckets"],
                man["origin"], man["buckets"], op="clone", bases=bases,
                txn=man.get("txn"), bucket_on=man.get("bucket_on"),
                vdirs=_vdirs(man), dv=dv, dv_bases=dv_bases,
                dv_rows=_dv_rows(man))
    finally:
        claim.release()
