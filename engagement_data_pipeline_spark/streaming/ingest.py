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
  (unreferenced version dir) or mid-publish (a partial temp, never a
  partial ``<commit>.json``) leaves the previous commit fully
  readable. ``_log`` is underscore-prefixed, so plain parquet scans
  ignore it.
* All manifest I/O goes through the Hadoop FileSystem API, so the same
  code runs on file://, hdfs:// (atomic rename) and s3a:// (PUT of a
  new key is atomic; rename is copy+delete but the reader's
  parse-check keeps partial objects invisible).
* CONCURRENT writers are arbitrated by optimistic concurrency on the
  commit number (the Delta log rule, Armbrust et al., VLDB 2020):
  commit N exists if and only if its no-replace create succeeded. A
  writer reads the head, writes its data into a WRITER-UNIQUE version
  directory (``v<N>-<writer>/``, recorded in the manifest's ``vdirs``
  map), writes the manifest to ``_log/<N>.json.tmp-<writer>`` and
  renames it to ``_log/<N>.json`` without replacing anything
  (link+unlink locally, ``FileContext.rename(NONE)`` on HDFS). Exactly
  one writer's rename of N succeeds. Just before its rename a writer
  re-reads the head and gives up N if the head moved: the rename
  alone refuses only an N that exists, and vacuum may have pruned an
  N that rivals have since passed. A loser re-reads the log,
  REBASES (recomputes its merge against the new head) and retries at
  the next number — no commit is ever silently clobbered, and a
  loser's directory is unreferenced debris for vacuum. No lease is
  held: a writer that dies anywhere before its rename blocks nobody.
  Plain S3 has no no-replace rename and needs an external arbiter
  (the same caveat as Delta's LogStore).

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

import errno
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


def _write_text(spark: SparkSession, path_str: str, text: str) -> None:
    lp = _local_path(path_str)
    if lp is not None:
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        with open(lp, "w", encoding="utf-8") as f:
            f.write(text)
        return
    fs, jvm = _fs(spark, path_str)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path_str), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _write_text_atomic(spark: SparkSession, path_str: str, text: str) -> None:
    _write_text(spark, path_str + ".tmp", text)
    lp = _local_path(path_str)
    if lp is not None:
        # os.replace is atomic on POSIX — strictly stronger than the
        # Hadoop delete+rename below (no window with neither file)
        os.replace(lp + ".tmp", lp)
        return
    fs, jvm = _fs(spark, path_str)
    final = jvm.org.apache.hadoop.fs.Path(path_str)
    fs.delete(final, False)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(path_str + ".tmp"),
                     final):
        raise IOError(f"rename failed: {path_str}")


# --- optimistic concurrency -----------------------------------------------

#: Lease horizon of `try_claim` (the run lease of analysis/runner.py):
#: a claim this old belongs to a dead holder and may be expired. A
#: usurped-but-alive holder aborts at its ownership check. The text
#: index's compaction uses the same horizon for staged deltas.
CLAIM_STALE_S = 900.0

#: Rebase-retry ceiling per logical operation: a writer that loses
#: this many commit races in a row (a long compaction against a
#: stream of short merges) fails loudly instead of looping forever.
MAX_COMMIT_RETRIES = 20


class ConcurrentCommitError(RuntimeError):
    """Another writer published this commit number first (or, for a
    `try_claim` lease, took the claim over); the caller must rebase
    on the new state and retry."""


class CommitUsurpedError(RuntimeError):
    """An operation lost MAX_COMMIT_RETRIES commit races in a row."""


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
        # claim would read every transient fault as contention.
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
    """Atomic rename that never replaces `dst`. Returns False when it
    lost: `dst` exists, or `src` is gone (another actor moved or swept
    it first). Every other failure raises, so an IO or permission
    fault is never read as a lost race."""
    s, d = _local_path(src), _local_path(dst)
    if s is not None:
        try:
            if os.path.isdir(s):
                # POSIX rename refuses a non-empty target directory
                os.rename(s, d)
                return True
            # a file target would be REPLACED by rename: link instead
            os.link(s, d)
        except OSError as e:
            if e.errno in (errno.EEXIST, errno.ENOTEMPTY, errno.ENOENT):
                return False
            raise
        try:
            os.unlink(s)
        except OSError:
            pass  # the rename landed; a leftover src is debris
        return True
    fs, jvm = _fs(spark, src)
    hfs = jvm.org.apache.hadoop.fs
    try:
        # FileSystem.rename would move src INTO an existing directory
        hfs.FileContext.getFileContext(
            hfs.Path(src).toUri(), spark._jsc.hadoopConfiguration()
        ).rename(hfs.Path(src), hfs.Path(dst), hfs.Options.Rename.NONE)
    except Exception as e:
        if (_is_already_exists(e) or _is_not_found(e)
                or fs.exists(hfs.Path(dst))):
            return False
        raise
    return True


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
    """A held `try_claim` lease (the run claim of analysis/runner.py).
    The claim file records the holder id; `verify()` re-reads it
    before each guarded step so a lease-expired holder aborts
    (ConcurrentCommitError) instead of interleaving with the
    usurper."""

    def __init__(self, spark: SparkSession, path_str: str, writer_id: str):
        self._spark = spark
        self.path = path_str
        self.writer_id = writer_id

    def verify(self) -> None:
        try:
            owner = _read_text(self._spark, self.path).strip()
        except Exception as e:
            raise ConcurrentCommitError(
                f"claim {self.path} disappeared") from e
        if owner != self.writer_id:
            raise ConcurrentCommitError(
                f"claim {self.path} usurped by {owner}")

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
    Skips a trailing unparseable manifest (one a store without atomic
    rename tore) — readers then see the prior commit.

    Resolution is O(1) manifest reads on the happy path: commit ids
    are DENSE (a writer publishes N only after it read N-1 as the
    head), so the advisory `_log/LATEST` pointer (a lower bound) plus
    a forward probe reaches the head without listing the O(commits)
    log — the same protocol as the change-feed source's
    `_latest_commit`. Only when the pointer is absent/stale-
    unparseable does it fall back to the full listing, scanned
    newest-first."""
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
            writer: str, n_buckets: int, origin_cols: Sequence[str],
            buckets: dict[int, int], op: str = "merge",
            bases: dict[int, str] | None = None,
            txn: dict | None = None,
            bucket_on: Sequence[str] | None = None,
            vdirs: dict[int, str] | None = None,
            dv: dict[int, str] | None = None,
            dv_bases: dict[str, str] | None = None,
            dv_rows: dict[int, int] | None = None) -> None:
    """Publish `commit`: write the manifest to a writer-unique temp and
    rename it to ``_log/<commit>.json`` without replacing anything.
    Raises ConcurrentCommitError when the head is no longer
    ``commit - 1`` (no table at all, for a clone) or another writer
    published that number first."""
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
    final = f"{table_path}/{_LOG_DIR}/{commit:08d}.json"
    tmp = f"{final}.tmp-{writer}"
    _write_text(spark, tmp, json.dumps(man, indent=0))
    # Re-read the head just before the rename. The rename only refuses
    # a manifest that EXISTS: a writer that read head N-1 before a long
    # data write could otherwise land on an N that rivals passed and
    # vacuum then pruned, below the head where no reader looks.
    head = read_table_manifest(spark, table_path)
    parent = 0 if op == "clone" else commit - 1
    if (head["commit"] if head else 0) != parent:
        _delete_path(spark, tmp)
        raise ConcurrentCommitError(
            f"the head of {table_path} moved past {parent} before "
            f"commit {commit} could publish")
    if not _rename_path(spark, tmp, final):
        _delete_path(spark, tmp)
        if (_try_manifest(spark, table_path, commit) is None
                and _path_mtime_s(spark, final) is not None):
            # a rival's rename publishes whole manifests only
            raise RuntimeError(
                f"{final} exists but cannot be parsed (a torn write); "
                "readers skip it, and no commit lands until it is removed")
        raise ConcurrentCommitError(
            f"commit {commit} of {table_path} was published by another "
            "writer")
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
    adds one broadcast anti-join, never a shuffle of the data.

    A dv hides rows of its own bucket only. A table bucketed outside
    its origin can hold a key's new row in one bucket while the old
    row's dv entry sits in another, so there the anti-join also
    matches the bucket id, which both sides derive from their bucket
    columns (every dv key carries them)."""
    paths = _bucket_paths(table_path, man["buckets"], only=only,
                          bases=_bases(man), vdirs=_vdirs(man))
    df = _read_buckets(spark, paths)
    dv_paths = _dv_paths(table_path, man, only=only)
    if not dv_paths:
        return df
    origin, bk = list(man["origin"]), _bucket_on(man)
    dead = read_parquet_fast(spark, *dv_paths)
    if set(bk) <= set(origin):
        return df.join(F.broadcast(dead.select(*origin)), origin,
                       "left_anti")
    b = origin_bucket(bk, man["n_buckets"])
    return (df.withColumn(BUCKET_COL, b)
            .join(F.broadcast(dead.withColumn(BUCKET_COL, b)
                              .select(*origin, BUCKET_COL)),
                  [*origin, BUCKET_COL], "left_anti")
            .drop(BUCKET_COL))


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
                   n_files_hint: int, writer: str,
                   sort_cols: Sequence | None = None) -> str:
    # One output file per bucket (instead of shuffle-partitions ×
    # buckets small files). The directory name embeds the writer id,
    # so two writers racing for the same commit number never touch
    # the same directory: the manifest that wins the publish
    # references exactly the data its writer wrote, and a loser's
    # directory is unreferenced debris for vacuum. (Same idiom as
    # Delta's uniquely-named data files + log references.)
    vdir = f"v{commit:08d}-{writer}"
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

    The returned merge also takes ``deletes=``, a key frame (origin
    plus any bucket column outside it) whose keys leave the table IN
    THE SAME atomic commit, applied before the upsert (a key in both
    frames keeps the batch's row): dropped in the rewrite of the
    buckets the upsert hits, deletion-vector entries elsewhere (no
    data file touched). A replayed batch skips both.
    """
    if mode not in ("existing_wins", "latest_wins"):
        raise ValueError(f"unknown merge mode {mode!r}")
    if mode == "latest_wins" and txn_app_id is None:
        raise ValueError("latest_wins requires txn_app_id: without the "
                         "replay watermark a re-run batch would "
                         "overwrite newer data")
    def _merge(batch: DataFrame, batch_id: int,
               deletes: DataFrame | None = None) -> None:
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
                            txn_app_id=txn_app_id, mode=mode,
                            deletes=deletes):
            return

        def attempt(man: dict | None, commit: int, writer: str) -> None:
            txn = dict((man or {}).get("txn", {}))
            if txn_app_id is not None:
                applied = txn.get(txn_app_id)
                if applied is not None and batch_id <= applied:
                    return  # checkpoint replay of an applied batch
                txn[txn_app_id] = batch_id
            _merge_attempt(
                spark, table_path, man, commit, writer, origin_cols,
                batch, deletes, txn=txn, mode=mode,
                nb=man["n_buckets"] if man else (n_buckets
                                                 or DEFAULT_N_BUCKETS),
                bk=_bucket_on(man) if man else list(bucket_cols
                                                    or origin_cols))

        _retry_commit(spark, table_path, attempt, "merge into")
    return _merge


def _retry_commit(spark: SparkSession, table_path: str,
                  attempt: Callable, what: str):
    """Optimistic concurrency, the one retry loop of every commit: read
    the head and run `attempt(man, head + 1, writer)` under a fresh
    writer id. A lost publish (another stream, or a maintenance job
    like compact) surfaces as ConcurrentCommitError -> rebase on the
    NEW head and retry at the next number; nothing is lost on either
    side. A torn manifest at the next number is no race: `_commit`
    raises at once instead of losing to it every round."""
    for _ in range(MAX_COMMIT_RETRIES):
        man = read_table_manifest(spark, table_path)
        commit = (man["commit"] if man else 0) + 1
        try:
            return attempt(man, commit, uuid.uuid4().hex[:8])
        except ConcurrentCommitError:
            continue
    raise CommitUsurpedError(
        f"{what} {table_path} lost {MAX_COMMIT_RETRIES} commit races "
        "in a row")


def _merge_attempt(spark: SparkSession, table_path: str, man: dict | None,
                   commit: int, writer: str,
                   origin_cols: Sequence[str], batch: DataFrame | None,
                   deletes: DataFrame | None, *, txn: dict, nb: int,
                   bk: Sequence[str], mode: str = "existing_wins",
                   rewrite: bool = False, op: str = "merge") -> None:
    """One commit upserting `batch` (None: no upsert) and deleting the
    `deletes` keys — the body of every merge and key delete. Deleted
    keys outside the upsert's buckets are rewritten out with
    `rewrite`, else they become dv entries."""
    origin = list(origin_cols)
    tagged = dead = None
    if batch is not None:
        batch = batch.withColumn(BUCKET_COL, origin_bucket(bk, nb))
        tagged = batch.select(BUCKET_COL, F.lit(False).alias("d"))
    if man is None:  # creation: nothing stored for deletes to hit
        hit = sorted(r[0] for r in tagged.distinct().collect())
        vdir = _write_version(batch, table_path, commit, len(hit), writer)
        _commit(spark, table_path, commit, writer, nb, origin,
                {b: commit for b in hit}, txn=txn, bucket_on=bk,
                vdirs={commit: vdir})
        return
    if deletes is not None:
        dead = _keyed(deletes, origin, bk, nb)
        tag = dead.select(BUCKET_COL, F.lit(True).alias("d"))
        tagged = tag if tagged is None else tagged.union(tag)
    # Buckets of the batch and of the deletes, in ONE collect that is
    # O(n_buckets) regardless of table or key-set size.
    pairs = tagged.distinct().collect() if tagged is not None else []
    upserted = {b for b, d in pairs if not d}
    gone = {b for b, d in pairs if d} & set(man["buckets"])
    hit = sorted(upserted | (gone if rewrite else set()))
    dv_hit = sorted(gone - set(hit))
    buckets, vdirs = dict(man["buckets"]), _vdirs(man)
    if hit:
        if set(hit) & set(buckets):
            # dv-resolved: rows merge-on-read deleted from these
            # buckets must stay deleted through the merge (the rewrite
            # then materializes the deletes, so the new manifest drops
            # the dv entries of every rewritten bucket), and so must
            # the keys this commit deletes
            merged = (_read_resolved(spark, table_path, man, only=hit)
                      .withColumn(BUCKET_COL, origin_bucket(bk, nb)))
            if gone & set(hit):
                merged = merged.join(dead.select(*origin, BUCKET_COL),
                                     [*origin, BUCKET_COL], "left_anti")
        else:  # batch only hits never-seen buckets
            merged = spark.createDataFrame([], batch.schema)
        if batch is not None and set(merged.columns) != set(batch.columns):
            # Schema evolution (Delta mergeSchema analog): align both
            # sides to the union of columns — historical rows read a
            # newly-added column as NULL, new rows NULL-fill columns
            # the batch dropped. Union-with-empty adds the missing
            # columns without touching any row.
            merged = merged.unionByName(
                spark.createDataFrame([], batch.schema),
                allowMissingColumns=True)
            batch = batch.unionByName(
                spark.createDataFrame([], merged.schema),
                allowMissingColumns=True)
        if batch is not None and mode == "latest_wins":
            from ..operators.dedup import upsert_latest

            merged = upsert_latest(merged, batch, origin)
        elif batch is not None:
            merged = idempotent_upsert(merged, batch, origin)
        vdirs[commit] = _write_version(merged, table_path, commit,
                                       len(hit), writer)
        buckets.update({b: commit for b in hit})
        if set(hit) - upserted:
            # a bucket its deletes emptied writes no directory: drop
            # it from the mapping instead of dangling the path
            written = _written_rows(f"{table_path}/{vdirs[commit]}")
            for b in set(hit) - upserted:
                if not written.get(b):
                    buckets.pop(b)
    dv = {b: d for b, d in _dv(man).items() if b not in set(hit)}
    dv_rows = _dv_rows(man)
    if dv_hit:
        # deleted keys in every other bucket: dv entries of this same
        # commit, O(deleted keys) written, no data file touched
        dvdir, counts = _write_dv(spark, table_path, man, dead, dv_hit,
                                  commit, writer)
        dv.update({b: dvdir for b in dv_hit})
        dv_rows = {**dv_rows, **counts}
    _commit(spark, table_path, commit, writer, nb, origin, buckets, op=op,
            bases=_bases(man), txn=txn, bucket_on=bk, vdirs=vdirs,
            dv=dv, dv_bases=_dv_bases(man), dv_rows=dv_rows)


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

    def attempt(man: dict, commit: int, writer: str) -> int:
        _merge_attempt(spark, table_path, man, commit, writer,
                       man["origin"], None, keys, txn=man.get("txn"),
                       nb=man["n_buckets"], bk=_bucket_on(man),
                       rewrite=strategy == "rewrite", op="delete")
        return commit

    commit_id = _retry_commit(spark, table_path, attempt, "delete on")
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
    key-delete rebases on a lost commit race, but the key set is
    fixed). Re-run to cover later arrivals."""
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    return delete_origins(spark, table_path,
                          read_merged_table(spark, table_path).where(cond),
                          vacuum=vacuum, strategy=strategy)


def _key_cols(have: Sequence[str], origin: Sequence[str],
              bk: Sequence[str]) -> list[str]:
    """A delete key's columns: the origin plus the bucket columns
    outside it (a secondary index's value, a view's participant_uuid).
    A key lacking one (`have` names its columns) raises instead of
    deleting from the wrong bucket."""
    kc = list(origin) + [c for c in bk if c not in origin]
    missing = [c for c in kc if c not in have]
    if missing:
        raise ValueError(
            f"delete keys lack column(s) {missing}: a key must carry "
            f"the origin and bucket columns {kc}")
    return kc


def _keyed(keys: DataFrame, origin: Sequence[str], bk: Sequence[str],
           nb: int) -> DataFrame:
    """`keys` projected to its key columns, with each key's bucket id
    (duplicates kept: only the dv write needs them gone)."""
    return (keys.select(*_key_cols(keys.columns, origin, bk))
            .withColumn(BUCKET_COL, origin_bucket(bk, nb)))


def _written_rows(path: str) -> dict[int, int]:
    """Rows per bucket of a directory this process just wrote, read
    from the parquet footers of its `bucket=<b>` leaves (the reader
    `cdf_source` uses) — the answer is in hand, so no Spark job
    re-reads it. A bucket the write left empty has no leaf."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    from .cdf_source import _fs_path

    fs, root = _fs_path(path)
    out: dict[int, int] = {}
    for i in fs.get_file_info(pafs.FileSelector(root, recursive=True,
                                                allow_not_found=True)):
        leaf = i.path.rsplit("/", 2)[-2]
        if i.path.endswith(".parquet") and leaf.startswith(f"{BUCKET_COL}="):
            with fs.open_input_file(i.path) as f:
                b = int(leaf.split("=", 1)[1])
                out[b] = out.get(b, 0) + pq.read_metadata(f).num_rows
    return out


def _write_dv(spark: SparkSession, table_path: str, man: dict,
              keyed: DataFrame, hit: Sequence[int], commit: int,
              writer: str) -> tuple[str, dict[int, int]]:
    """Write `keyed`'s keys in the `hit` buckets (unioned with each
    bucket's existing dv, so one dv dir per bucket always suffices)
    into a fresh writer-unique dv directory. Returns the directory
    name and its absolute per-bucket key counts — the manifest's
    `dv_rows`, which let `maybe_compact` bound dv growth without
    reading any dv later."""
    origin, bk = list(man["origin"]), _bucket_on(man)
    kc = [c for c in keyed.columns if c != BUCKET_COL]
    new_keys = keyed.where(F.col(BUCKET_COL).isin([int(b) for b in hit]))
    prior_paths = _dv_paths(table_path, man, only=hit)
    if prior_paths:
        new_keys = new_keys.unionByName(
            read_parquet_fast(spark, *prior_paths).select(*kc)
            .withColumn(BUCKET_COL, origin_bucket(bk, man["n_buckets"])))
    new_keys = new_keys.dropDuplicates([*origin, BUCKET_COL])
    dvdir = f"dv{commit:08d}-{writer}"
    (new_keys.repartition(max(len(hit), 1), F.col(BUCKET_COL))
     .write.mode("overwrite").partitionBy(BUCKET_COL)
     .parquet(f"{table_path}/{dvdir}"))
    return dvdir, _written_rows(f"{table_path}/{dvdir}")


def compact_table(spark: SparkSession, table_path: str,
                  vacuum: bool = True,
                  cluster_by: Sequence | None = None) -> None:
    """Rewrite every bucket's current data into one fresh version (one
    file per bucket) and commit — the OPTIMIZE step that bounds file
    count after long availableNow histories. With `vacuum`, superseded
    version data is deleted afterwards; post-state is ≤ n_buckets data
    files. Commits like any merge, so it can race a live ingest
    stream safely — whoever loses the publish rebases.

    `cluster_by` (columns or expressions) sorts rows WITHIN each
    bucket file — the Delta ``OPTIMIZE ... ZORDER BY`` analog: parquet
    row-group min/max become tight on the clustering key(s), so range
    predicates skip row groups inside the one-file-per-bucket layout
    (hash bucketing spreads every value range across buckets, so this
    in-file clustering is where range-skipping lives for this table;
    pass `sinks.layout.zorder_key(...)` for multi-dimensional keys).
    Clustering holds until a later merge rewrites a bucket.

    A compaction that loses MAX_COMMIT_RETRIES races in a row raises
    CommitUsurpedError (nothing is committed or vacuumed);
    `maybe_compact` swallows it, so a contested trigger never fails
    the refresh that called it."""
    if read_table_manifest(spark, table_path) is None:
        return  # nonexistent table: no-op, and no _log debris

    def attempt(man: dict, commit: int, writer: str) -> None:
        # dv-resolved: compaction materializes pending merge-on-read
        # deletes, so the new manifest carries no dv at all
        df = (_read_resolved(spark, table_path, man)
              .withColumn(BUCKET_COL, origin_bucket(_bucket_on(man),
                                                    man["n_buckets"])))
        vdir = _write_version(df, table_path, commit,
                              len(man["buckets"]), writer,
                              sort_cols=cluster_by)
        live = set(man["buckets"])
        if _dv(man):
            # a fully dv-deleted bucket writes no directory: drop it
            # from the mapping instead of dangling the path
            live = {b for b, n in
                    _written_rows(f"{table_path}/{vdir}").items() if n}
        _commit(spark, table_path, commit, writer, man["n_buckets"],
                man["origin"],
                {b: commit for b in man["buckets"] if b in live},
                op="compact", txn=man.get("txn"),
                bucket_on=man.get("bucket_on"), vdirs={commit: vdir})

    _retry_commit(spark, table_path, attempt, "compaction of")
    if vacuum:
        vacuum_table(spark, table_path)


def rebucket_table(spark: SparkSession, table_path: str,
                   new_n_buckets: int, vacuum: bool = True) -> None:
    """Grow (or shrink) an outgrown table's bucket count: one logged
    full rewrite under the new hash — the explicit maintenance path
    for a table whose buckets passed ~2× `TARGET_BUCKET_BYTES`.
    Subsequent merges follow the new manifest automatically (a merge
    racing the rebucket rebases onto the new bucket count when it
    loses the publish). Like `compact_table`, it raises
    CommitUsurpedError after MAX_COMMIT_RETRIES lost races."""
    if read_table_manifest(spark, table_path) is None:
        return  # nonexistent table: no-op, and no _log debris

    def attempt(man: dict, commit: int, writer: str) -> None:
        df = (_read_resolved(spark, table_path, man)
              .withColumn(BUCKET_COL, origin_bucket(_bucket_on(man),
                                                    new_n_buckets)))
        vdir = _write_version(df, table_path, commit, new_n_buckets,
                              writer)
        live = _written_rows(f"{table_path}/{vdir}")
        _commit(spark, table_path, commit, writer, new_n_buckets,
                man["origin"], {b: commit for b, n in live.items() if n},
                op="rebucket", txn=man.get("txn"),
                bucket_on=man.get("bucket_on"), vdirs={commit: vdir})

    _retry_commit(spark, table_path, attempt, "rebucket of")
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
    # A manifest temp at or below the head belongs to a writer that
    # lost its race or died; one above it may be in flight. Commit
    # claims are left over from tables written before commits went
    # lease-free: nothing reads them.
    for st in fs.listStatus(hp(f"{table_path}/{_LOG_DIR}")):
        name = st.getPath().getName()
        num, tmp, _ = name.partition(".json.tmp-")
        if (name.endswith(".claim") or ".claim.tomb-" in name
                or (tmp and num.isdigit() and int(num) <= man["commit"])):
            fs.delete(st.getPath(), False)


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
    Returns True if it compacted. Best effort: a compaction that keeps
    losing commit races to live writers is skipped (False) instead of
    failing the caller, whose own commit has already landed; the next
    trigger retries it."""
    latest = read_table_manifest(spark, table_path)
    if latest is not None and sum(_dv_rows(latest).values()) > max_dv_rows:
        return _try_compact(spark, table_path, vacuum)
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
    return _try_compact(spark, table_path, vacuum)


def _try_compact(spark: SparkSession, table_path: str,
                 vacuum: bool) -> bool:
    try:
        compact_table(spark, table_path, vacuum=vacuum)
    except CommitUsurpedError:
        return False
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
    src_bases = _bases(man)
    bases = {ver: src_bases.get(ver, src_path)
             for ver in set(man["buckets"].values())}
    # inherited deletion vectors stay where they are too: root every
    # dv dirname at the source (or ITS source, if chained)
    src_dv_bases = _dv_bases(man)
    dv = _dv(man)
    dv_bases = {d: src_dv_bases.get(d, src_path) for d in set(dv.values())}
    # the no-replace publish admits one of two concurrent clones, and
    # `_commit`'s head re-check refuses a clone once a first merge
    # created the table (its publish at 1 would not collide with N)
    try:
        _commit(spark, dst_path, man["commit"], uuid.uuid4().hex[:8],
                man["n_buckets"], man["origin"], man["buckets"],
                op="clone", bases=bases, txn=man.get("txn"),
                bucket_on=man.get("bucket_on"), vdirs=_vdirs(man), dv=dv,
                dv_bases=dv_bases, dv_rows=_dv_rows(man))
    except ConcurrentCommitError:
        raise ValueError(f"{dst_path} already exists; clone only "
                         "creates new tables") from None
