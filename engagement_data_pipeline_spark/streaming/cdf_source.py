"""The merge table's change feed as a STRUCTURED STREAMING SOURCE —
the Delta CDF `readChangeFeed` analog, built on PySpark 4's Python
Data Source API:

    spark.dataSource.register(MergeTableChangesDataSource)
    (spark.readStream.format("merge_table_changes")
          .option("path", table_path).load())

Offsets are commit ids from the table's own log, so the stream is
exactly the commit history: each micro-batch carries the row-level
changes (op = insert/update/delete + the new payload, NULL for
deletes) between two commits — deletion-vector commits included,
since a bucket's logical content is (version, dv). The same source
answers batch reads of one commit window (`spark.read`, options
`fromCommit` / `toCommit`): `ingest.table_changes` is that read, so
the pull consumers (MV refresh, index maintenance, sync-back, top-k,
transform refresh) and the stream subscribers share one diff kernel.

Scale shape: `partitions()` emits ONE partition per changed bucket
(manifest diff only — no data touched on the driver), and each
executor task reads exactly its bucket's old + new files with
pyarrow, joins the two sides on the scalar origin keys (pandas hash
join over keys + row indices only), and diffs the payloads ENTIRELY
IN ARROW: scalar columns via `pc.equal`, nested array/struct
payloads (the flagship messages table's labels column) via a
recursive vectorized kernel — struct = AND of fields, list =
length-equal AND cumsum-reduced flattened-children-equal — so no
per-row Python touches the hot path for any type the engine streams.
Map columns take the vectorized list path too (the flattened
key/value struct children) after CANONICALIZING entry order — both
diff paths stable-sort each map's entries by key (one `np.lexsort`
over (row, key) for the whole batch, no per-row Python), so two
writers that emit the same map with different key order do not
manufacture spurious update rows; only types with no Arrow kernel
fall back to a normalized object compare. Output batches are `pyarrow.RecordBatch`es built against
the exact Arrow schema Spark expects, payload buffers taken (never
materialized as Python objects) from the source tables.
O(changed buckets) per batch, embarrassingly parallel, no shuffle.
Per-task memory is bounded by one bucket's old + new bytes — the
layout's `TARGET_BUCKET_BYTES` sizing is what keeps that
executor-safe. Offsets are checkpointed by the engine; reads are
deterministic because version directories are immutable, so recovery
replays identical batches.

Filesystem support: every read goes through `pyarrow.fs`, resolved
per-path from the URI scheme — local paths and file:// (tests, NFS)
use LocalFileSystem; s3://, gs://, hdfs:// resolve via
`pyarrow.fs.FileSystem.from_uri`, so the source runs against object
stores unchanged. Nested payload columns (array/struct/map — e.g.
the flagship messages table's labels array<struct>) stream with full
fidelity: the schema is derived recursively from the parquet files
and nested values diff through a normalized-object comparison.

Vacuum interaction: like Delta CDF after VACUUM, a window whose
version/dv directories were reclaimed is UNRECOVERABLE — the source
fails loudly (distinguishing "bucket never existed in this manifest",
which legitimately reads empty, from "manifest-referenced directory
missing") instead of silently emitting deletes-as-nothing and
updates-as-inserts.

The reference's analog is its Firestore incremental fetch loop
(SURVEY §2.1 S2); here the table IS the feed.
"""

from __future__ import annotations

import json
import os
import posixpath
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamReader,
                                    InputPartition)

_LOG_DIR = "_log"
_OP, _CHANGED = "op", "changed_cols"
_OLD = "__old"


def _fs_path(p: str):
    """(pyarrow.fs.FileSystem, fs-local path) for a path or URI."""
    from pyarrow import fs as pafs

    p = str(p)
    if "://" in p:
        return pafs.FileSystem.from_uri(p)
    return pafs.LocalFileSystem(), p


def _is_dir(fs, path: str) -> bool:
    from pyarrow import fs as pafs

    return fs.get_file_info(path).type == pafs.FileType.Directory


def _manifest(table_path: str, commit: int) -> dict | None:
    fs, root = _fs_path(table_path)
    p = posixpath.join(root, _LOG_DIR, f"{commit:08d}.json")
    try:
        with fs.open_input_stream(p) as f:
            man = json.loads(f.read())
    except (OSError, ValueError):
        return None
    if not {"commit", "n_buckets", "origin", "buckets"} <= man.keys():
        return None
    man["buckets"] = {int(k): int(v) for k, v in man["buckets"].items()}
    return man


def _write_floor(table_path: str, name: str, commit: int) -> None:
    """Advance this stream's retention floor (`_log/_floors/<name>` —
    the contract `vacuum_table` honors: manifests/data from `commit`
    onward survive vacuum, so the stream's unread windows cannot be
    reclaimed out from under it). Write-then-rename so a torn write
    never leaves a parseable-but-wrong floor."""
    fs, root = _fs_path(table_path)
    d = posixpath.join(root, _LOG_DIR, "_floors")
    fs.create_dir(d, recursive=True)
    tmp = posixpath.join(d, f"{name}.json.tmp")
    with fs.open_output_stream(tmp) as f:
        f.write(str(int(commit)).encode())
    fs.move(tmp, posixpath.join(d, f"{name}.json"))


def _read_floor(table_path: str, name: str) -> int | None:
    fs, root = _fs_path(table_path)
    try:
        with fs.open_input_stream(posixpath.join(
                root, _LOG_DIR, "_floors", f"{name}.json")) as f:
            return int(f.read().decode().strip())
    except (OSError, ValueError):
        return None


def _latest_hint(table_path: str) -> int | None:
    """The writer-maintained `_log/LATEST` pointer (advisory floor —
    may lag by one on a crash between manifest rename and pointer
    write, or be absent on pre-pointer tables)."""
    fs, root = _fs_path(table_path)
    try:
        with fs.open_input_stream(
                posixpath.join(root, _LOG_DIR, "LATEST")) as f:
            return int(f.read().decode().strip())
    except (OSError, ValueError):
        return None


def _latest_commit(table_path: str, floor: int | None = None) -> int | None:
    """Highest PARSEABLE commit. Runs on every latestOffset() poll, so
    it must stay O(1) manifest reads however long the table's log is:
    published commit ids are DENSE (a writer publishes N only after
    it read N-1 as the head), so starting from a known floor —
    the caller's last-seen offset and/or the writer's `_log/LATEST`
    pointer — and probing FORWARD reaches the head in O(new commits)
    reads. Only when no floor resolves (pre-pointer table, or the
    floor's manifest was pruned) does it fall back to the full
    O(commits) listing, scanned newest-first."""
    from pyarrow import fs as pafs

    start = max(floor or 0, _latest_hint(table_path) or 0)
    if start > 0 and _manifest(table_path, start) is not None:
        c = start
        while _manifest(table_path, c + 1) is not None:
            c += 1
        return c
    fs, root = _fs_path(table_path)
    try:
        infos = fs.get_file_info(
            pafs.FileSelector(posixpath.join(root, _LOG_DIR)))
    except OSError:
        return None
    names = [i.path.rsplit("/", 1)[-1] for i in infos]
    for n in sorted(names, reverse=True):
        if not n.endswith(".json"):
            continue
        try:
            c = int(n[:-5])
        except ValueError:
            continue
        if _manifest(table_path, c) is not None:
            return c
    return None


def _bucket_dir(table_path: str, man: dict, bucket: int) -> str | None:
    ver = man["buckets"].get(bucket)
    if ver is None:
        return None
    root = man.get("bases", {}).get(str(ver), table_path)
    name = man.get("vdirs", {}).get(str(ver), f"v{ver:08d}")
    return posixpath.join(root, name, f"bucket={bucket}")


def _dv_dir(table_path: str, man: dict, bucket: int) -> str | None:
    d = man.get("dv", {}).get(str(bucket))
    if d is None:
        return None
    root = man.get("dv_bases", {}).get(d, table_path)
    return posixpath.join(root, d, f"bucket={bucket}")


def _changed_buckets(man_from: dict | None, man_to: dict) -> list[int]:
    old_b = man_from["buckets"] if man_from else {}
    new_b = man_to["buckets"]
    old_dv = (man_from or {}).get("dv", {})
    new_dv = man_to.get("dv", {})
    return sorted(
        b for b in set(old_b) | set(new_b)
        if (old_b.get(b), old_dv.get(str(b)))
        != (new_b.get(b), new_dv.get(str(b))))


def _open_dir(table_path: str, d: str, man: dict, what: str):
    """(fs, path) for a manifest-referenced directory; raises when the
    directory is MISSING — a manifest that references it proves it
    once existed, so absence means vacuum reclaimed it while the
    stream lagged behind the retention horizon. Silent empty reads
    here would corrupt the feed (deletes vanish, updates re-emit as
    inserts); like Delta CDF after VACUUM, the window is gone."""
    fs, dp = _fs_path(d)
    if not _is_dir(fs, dp):
        raise RuntimeError(
            f"commit {man['commit']} of {table_path} references "
            f"{what} directory {d}, which no longer exists — vacuumed "
            "past this stream's offset? The change window is "
            "unrecoverable; restart from a later startingCommit (or "
            "raise vacuum retain_ms above the stream's max lag)")
    return fs, dp


def _read_pruned(fs, path: str, columns: list[str]):
    """Arrow directory read PROJECTED to `columns` — parquet column
    pruning happens in the scan (a 2-column feed consumer never pays
    a wide table's row width), with schema evolution handled by
    intersecting against the files' actual schema (absent columns
    read back NULL)."""
    import pyarrow.dataset as pads

    ds = pads.dataset(path, filesystem=fs, format="parquet")
    have = set(ds.schema.names)
    pdf = ds.to_table(columns=[c for c in columns if c in have]
                      ).to_pandas()
    for c in columns:
        if c not in pdf.columns:
            pdf[c] = None
    return pdf[columns]


def _read_bucket(table_path: str, man: dict | None, bucket: int,
                 columns: list[str]):
    """One bucket's dv-resolved rows as a pandas frame (executor-side
    pyarrow read, pruned to `columns` — no SparkSession exists here).
    Returns empty when the manifest never placed the bucket; raises
    if the manifest references a directory that is gone (see
    `_open_dir`)."""
    import pandas as pd

    if man is None:
        return pd.DataFrame(columns=columns)
    d = _bucket_dir(table_path, man, bucket)
    if d is None:
        return pd.DataFrame(columns=columns)
    fs, dp = _open_dir(table_path, d, man, "bucket")
    pdf = _read_pruned(fs, dp, columns)
    dv = _dv_dir(table_path, man, bucket)
    if dv is not None:
        dfs, dvp = _open_dir(table_path, dv, man, "deletion-vector")
        origin = list(man["origin"])
        dead = _read_pruned(dfs, dvp, origin)
        merged = pdf.merge(dead.drop_duplicates(), on=origin,
                           how="left", indicator="__cdf_dv")
        pdf = (merged[merged["__cdf_dv"] == "left_only"]
               .drop(columns="__cdf_dv"))
    return pdf


def _read_bucket_arrow(table_path: str, man: dict | None, bucket: int,
                       columns: list[str], pa_types: dict):
    """One bucket's dv-resolved rows as a `pyarrow.Table` with columns
    cast to the feed's expected Arrow types — payloads NEVER
    materialize as Python objects (nested array/struct values stay in
    Arrow buffers end to end). Returns None when the manifest never
    placed the bucket; raises if a referenced directory is gone (see
    `_open_dir`). Missing columns (schema evolution) read back as
    typed nulls; a column whose physical type has no direct cast
    kernel to the expected type converts through the per-column
    object path (correct, just not zero-copy)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    if man is None:
        return None
    d = _bucket_dir(table_path, man, bucket)
    if d is None:
        return None
    fs, dp = _open_dir(table_path, d, man, "bucket")
    ds = pads.dataset(dp, filesystem=fs, format="parquet")
    have = set(ds.schema.names)
    t = ds.to_table(columns=[c for c in columns if c in have])
    n = t.num_rows
    arrays, names = [], []
    for c in columns:
        want = pa_types[c]
        if c in have:
            arr = t[c].combine_chunks()
            if arr.type != want:
                try:
                    arr = arr.cast(want)
                except (pa.lib.ArrowInvalid,
                        pa.lib.ArrowTypeError,
                        pa.lib.ArrowNotImplementedError):
                    # no direct cast kernel: per-column object-path
                    # conversion (correct, just not zero-copy)
                    arr = pa.array(arr.to_pandas(), type=want,
                                   from_pandas=True)
        else:
            arr = pa.nulls(n, type=want)
        arrays.append(arr)
        names.append(c)
    t = pa.table(dict(zip(names, arrays)))
    dv = _dv_dir(table_path, man, bucket)
    if dv is not None:
        dfs, dvp = _open_dir(table_path, dv, man, "deletion-vector")
        origin = list(man["origin"])
        dead = _read_pruned(dfs, dvp, origin).drop_duplicates()
        keys = t.select(origin).to_pandas()
        keys["__cdf_i"] = range(len(keys))
        alive = keys.merge(dead, on=origin, how="left",
                           indicator="__cdf_dv")
        idx = alive.loc[alive["__cdf_dv"] == "left_only",
                        "__cdf_i"].to_numpy()
        t = t.take(pa.array(idx, type=pa.int64()))
    return t


def _validity(a):
    import numpy as np

    if a.null_count == 0:
        return np.ones(len(a), dtype=bool)
    return a.is_valid().to_numpy(zero_copy_only=False)


def _content_eq(a, b):
    """Per-row content equality of two same-type Arrow arrays as a
    numpy bool array; values at rows where either side is null are
    UNDEFINED (the caller masks them). Vectorized for every type the
    feed streams: scalars via `pc.equal`, structs as the AND of their
    fields, lists/maps by (length equal) AND (aligned flattened
    children equal, reduced per row with a cumsum — no per-row Python
    anywhere). Raises ValueError for types with no kernel; the caller
    then falls back to the normalized object compare."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = a.type
    if pa.types.is_null(t):
        return np.ones(len(a), dtype=bool)
    if pa.types.is_dictionary(t):
        return _content_eq(a.dictionary_decode(), b.dictionary_decode())
    if pa.types.is_struct(t):
        out = np.ones(len(a), dtype=bool)
        for i in range(t.num_fields):
            out &= _arrow_eq(a.field(i), b.field(i))
        return out
    if pa.types.is_map(t):
        # pc.list_value_length has no map kernel (pyarrow 16), so view
        # the map as its physical list<struct<key,value>> and recurse —
        # after sorting each row's entries by key, so semantically
        # equal maps written with different key order compare EQUAL
        # (matching the object fallback, which sorts too).
        ls = pa.list_(pa.struct([("key", t.key_type),
                                 ("value", t.item_type)]))
        return _content_eq(_canon_map_entries(a, ls),
                           _canon_map_entries(b, ls))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        la = pc.list_value_length(a).fill_null(-1).to_numpy(
            zero_copy_only=False).astype(np.int64)
        lb = pc.list_value_length(b).fill_null(-2).to_numpy(
            zero_copy_only=False).astype(np.int64)
        out = la == lb  # rows with a null side are masked by caller
        cand = np.flatnonzero(out & (la > 0))
        if len(cand):
            idx = pa.array(cand, type=pa.int64())
            af = pc.list_flatten(a.take(idx))
            bf = pc.list_flatten(b.take(idx))
            ceq = _arrow_eq(af, bf).astype(np.int64)
            counts = la[cand]
            ends = np.cumsum(counts)
            cs = np.concatenate(([0], np.cumsum(ceq)))
            row_ok = (cs[ends] - cs[ends - counts]) == counts
            out[cand] = row_ok
        return out
    # scalar kernels (numeric, string, binary, bool, temporal,
    # decimal): NULLs in the result are masked by the caller
    return pc.equal(a, b).fill_null(False).to_numpy(
        zero_copy_only=False)


def _canon_map_entries(m, ls):
    """View a map array as list<struct<key,value>> with each row's
    entries STABLE-SORTED by key, vectorized: one `np.lexsort` over
    (parent row, key) for the whole batch, then a single `take` and a
    rebuild against fresh offsets — no per-row Python. Duplicate keys
    keep their input order (both lexsort and the object fallback's
    `list.sort` are stable, so the two diff paths agree). Keys numpy
    cannot order (nested key types — not produced by this engine)
    keep the positional view."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    lst = m.cast(ls)
    lengths = pc.list_value_length(lst).fill_null(0).to_numpy(
        zero_copy_only=False).astype(np.int64)
    if not lengths.sum():
        return lst
    parent = pc.list_parent_indices(lst).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(lst)
    try:
        keys = flat.field(0).to_numpy(zero_copy_only=False)
        order = np.lexsort((keys, parent))
    except (TypeError, ValueError, pa.lib.ArrowInvalid):
        return lst
    if (order == np.arange(len(order))).all():
        return lst
    values = flat.take(pa.array(order, type=pa.int64()))
    offsets = pa.array(np.concatenate(([0], np.cumsum(lengths))),
                       type=pa.int32())
    # null map rows become empty lists here; the caller (_arrow_eq)
    # masks rows where either ORIGINAL side is null, so validity of
    # the canonical view never reaches the result.
    return pa.ListArray.from_arrays(offsets, values)


def _arrow_eq(a, b):
    """NULL-safe per-row equality of two same-type Arrow arrays
    (null == null is equal) as a numpy bool array — the vectorized
    twin of `_norm(x) == _norm(y)`, covering the nested payloads the
    feed streams without dropping to per-row Python. Float NaN is
    treated as NULL (NaN == NaN, NaN == null — the same na-semantics
    the pandas diff and `_norm` apply), so a NaN-carrying row does
    not re-emit as a spurious update on every rewrite of its
    bucket."""
    import pyarrow as pa
    import pyarrow.compute as pc

    va, vb = _validity(a), _validity(b)
    if pa.types.is_floating(a.type):
        va = va & ~pc.is_nan(a).fill_null(False).to_numpy(
            zero_copy_only=False)
        vb = vb & ~pc.is_nan(b).fill_null(False).to_numpy(
            zero_copy_only=False)
    both_valid = va & vb
    eq = ~va & ~vb  # both-null rows compare equal
    if both_valid.any():
        content = _content_eq(a, b)
        eq[both_valid] = content[both_valid]
    return eq


def _norm(v):
    """Normalize a payload value for cross-row equality: ndarray →
    list (pyarrow's to_pandas shape for array columns), NaN/NaT →
    None, recursively through lists and structs-as-dicts. Map cells
    (pyarrow renders them as lists of (key, value) TUPLES — the only
    tuples its to_pandas produces) are stable-sorted by key, the same
    canonical order `_canon_map_entries` gives the Arrow kernel."""
    import numpy as np
    import pandas as pd

    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        out = [_norm(x) for x in v]
        if out and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            # out-of-place: a TypeError mid-sort (unorderable keys,
            # e.g. a NaN key normalized to None) must leave the
            # positional view intact, not a partially-permuted list
            try:
                out = sorted(out, key=lambda kv: kv[0])
            except TypeError:
                pass
        return out
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    try:
        if v is None or pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _neq(a, b):
    """Element-wise old≠new over two pandas Series, NULL-safe (both
    NULL compares equal). Vectorized for scalar dtypes; object
    columns holding nested values (ndarray/dict) go straight to the
    normalized python-object compare — routing by dtype, because an
    elementwise `==` over ndarray cells does not raise for empty or
    length-1 arrays and would silently mis-compare them (r8 bug:
    `[] != []` emitted spurious updates)."""
    import numpy as np

    if a.dtype != object and b.dtype != object:
        eq = (a == b) | (a.isna() & b.isna())
        return ~eq.to_numpy(dtype=bool)
    return np.fromiter(
        (_norm(x) != _norm(y) for x, y in zip(a.tolist(), b.tolist())),
        dtype=bool, count=len(a))


class _ChangesPartition(InputPartition):
    def __init__(self, table_path: str, man_from: dict | None,
                 man_to: dict, bucket: int, columns: list[str],
                 pa_schema, pa_types: dict | None = None):
        self.table_path = table_path
        self.man_from = man_from
        self.man_to = man_to
        self.bucket = bucket
        self.columns = columns
        self.pa_schema = pa_schema  # exact Arrow schema Spark expects
        # Arrow type per COMPARE column (origin + every payload
        # column). None (the streaming reader, no output projection)
        # means the output schema covers the compare set — derive the
        # map from it. The `ship` batch option narrows pa_schema below
        # the compare set, so the reader must carry the full map.
        self.pa_types = pa_types


class _ChangesReader(DataSourceStreamReader):
    def __init__(self, table_path: str, starting_commit: int,
                 columns: list[str], pa_schema,
                 max_commits_per_trigger: int | None = None,
                 retention_name: str | None = None):
        self.table_path = table_path
        self.start = starting_commit
        self.columns = columns  # origin + payload (no op/changed)
        self.pa_schema = pa_schema
        self.max_per_trigger = max_commits_per_trigger
        # retention contract: when named, the reader registers its
        # position as a vacuum floor — windows it has not yet read
        # cannot be reclaimed (the PREVENTIVE half of the loud
        # vacuumed-window failure below)
        self.retention_name = retention_name
        self._floor: int | None = None
        if retention_name is not None:
            # write-if-absent at construction: the engine reconstructs
            # the reader several times per stream, and a restarted
            # stream's position (≥ startingCommit) is not known here —
            # the floor written at the last commit() already protects
            # it, so an existing floor is never touched (commit() is
            # the only raiser; reusing a retentionName across streams
            # requires clear_retention_floor first).
            cur = _read_floor(table_path, retention_name)
            if cur is None:
                _write_floor(table_path, retention_name, starting_commit)
                self._floor = starting_commit
            else:
                self._floor = cur
        # monotone high-water mark: a transient listing failure (or a
        # racing log prune) must never REGRESS the offset below what
        # the engine already planned against
        self._seen = starting_commit
        # engine-confirmed position. Rate limiting must advance from
        # the position the ENGINE knows, never from the startingCommit
        # option: on a checkpoint restart, limiting from the option
        # would hand the engine an offset BELOW its checkpoint,
        # regressing the offset log and re-emitting already-processed
        # windows under fresh batch ids (which the sinks' batch-id
        # watermarks cannot catch). Observed engine call order (pinned
        # by the restart test): a FRESH stream polls latestOffset
        # before anything else, when the position genuinely IS
        # startingCommit; a RESTARTED stream always replans the
        # checkpointed window via partitions() first, which sets _pos
        # to the true position before the first poll.
        self._pos: int | None = None

    def initialOffset(self) -> dict:
        if self._pos is None:
            self._pos = self.start
        return {"commit": self.start}

    def latestOffset(self) -> dict:
        # _seen is the poll's floor: with dense commit ids the probe
        # walks forward from it (O(new commits) manifest reads), never
        # re-listing the whole log
        latest = _latest_commit(self.table_path,
                                floor=self._seen if self._seen > 0 else None)
        if latest is None:
            return {"commit": self._seen}
        # rate limiting (the Delta maxFilesPerTrigger analog): a
        # backlogged stream advances at most N commits per micro-batch
        # — each batch's diff window, and therefore its bucket-read
        # fan-out, stays bounded however far behind the consumer is
        if self.max_per_trigger is not None:
            base = self._pos if self._pos is not None else self.start
            latest = min(latest, base + self.max_per_trigger)
        if latest > self._seen:
            self._seen = latest
        return {"commit": self._seen}

    def commit(self, end: dict) -> None:
        c = int(end["commit"])
        if self._pos is None or c > self._pos:
            self._pos = c
        if (self.retention_name is not None
                and c > (self._floor if self._floor is not None else -1)):
            # raise-only, tracked separately from _pos (which
            # partitions() may already have advanced to c): the engine
            # confirmed everything below c is processed, so the
            # retention contract advances and vacuum may reclaim below
            # it. NOT best-effort — a silently skipped write would let
            # vacuum void the contract the user asked for.
            _write_floor(self.table_path, self.retention_name, c)
            self._floor = c

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["commit"]), int(end["commit"])
        if self._pos is None or hi > self._pos:
            self._pos = hi
        if hi > self._seen:
            self._seen = hi
        if hi <= lo:
            return [_ChangesPartition(self.table_path, None, None, -1,
                                      self.columns, self.pa_schema)]
        man_from = _manifest(self.table_path, lo) if lo > 0 else None
        if lo > 0 and man_from is None:
            # lo was a previously planned offset, so its manifest WAS
            # readable once — absence means the log was pruned past
            # the stream's position. Falling back to man_from=None
            # would silently replay the whole snapshot as inserts;
            # fail like the batch reader (_manifest_at) does.
            raise ValueError(
                f"manifest {lo} of {self.table_path} is gone — log "
                "pruned past this stream's offset (keep_manifests / "
                "retain_ms below the stream's lag); restart from a "
                "later startingCommit")
        man_to = _manifest(self.table_path, hi)
        if man_to is None:
            raise ValueError(
                f"manifest {hi} of {self.table_path} is unreadable")
        return [
            _ChangesPartition(self.table_path, man_from, man_to, b,
                              self.columns, self.pa_schema)
            for b in _changed_buckets(man_from, man_to)
        ] or [_ChangesPartition(self.table_path, None, None, -1,
                                self.columns, self.pa_schema)]

    def read(self, partition: _ChangesPartition) -> Iterator:
        return _read_changes_partition(partition)


#: target bytes of on-disk input (old + new versions) per batch-read
#: partition — packs small changed buckets into one Python-worker
#: task; override via SPARK_GRAFT_FEED_PARTITION_BYTES for clusters
#: (larger values = fewer, bigger tasks, guide §2.2/§6). The diff's
#: compute-per-byte is high (decompress + keyed merge ≈ 5-10x the
#: compressed bytes), so the target is deliberately small: 1 MiB
#: keeps an sf0.1-scale window (~0.7 MB/bucket) on its full
#: per-bucket parallelism while a KB-scale day-run window still
#: collapses to ONE task — measured: 32 MiB serialized the sf0.1
#: diff into 1-2 tasks and REGRESSED the incremental views ~25%.
_FEED_PARTITION_BYTES = 1 << 20

#: LOCAL input bytes of a window (both versions of every changed
#: bucket, `_window_bytes`) up to which `ingest.table_changes` diffs
#: it on the DRIVER (`read_window_in_process`) — for every pull
#: consumer alike (MV, secondary and ANN refresh, the drain,
#: transform refresh, the touched-group slice). Past it the Python
#: DataSource read takes over; its planner and worker processes cost
#: ~5 s in a fresh session, which only a window this large repays.
#: Override via SPARK_GRAFT_TOUCHED_LOCAL_BYTES for clusters.
_DRIVER_WINDOW_BYTES = int(os.environ.get(
    "SPARK_GRAFT_TOUCHED_LOCAL_BYTES", 64 << 20))


def _bucket_bytes(table_path: str, man_from: dict | None, man_to: dict,
                  bucket: int) -> int:
    """LOCAL on-disk bytes of both versions of one changed bucket —
    what the diff of that bucket reads. Directories that are not
    local or not readable count 0 (sizes unknown without RPCs)."""
    from .ingest import _local_path

    n = 0
    for man in (man_from, man_to):
        if man is None or bucket not in man["buckets"]:
            continue
        d = _bucket_dir(table_path, man, bucket)
        lp = _local_path(str(d)) if d is not None else None
        if lp is None:
            continue
        try:
            with os.scandir(lp) as it:
                n += sum(e.stat().st_size for e in it if e.is_file())
        except OSError:
            pass
    return n


def _window_bytes(table_path: str, from_commit: int,
                  to_commit: int) -> int | None:
    """Total LOCAL on-disk bytes a window's diff reads (`_bucket_bytes`
    of every changed bucket); None when the table is not local or a
    manifest is missing — callers then keep their conservative cap."""
    from .ingest import _local_path

    if _local_path(table_path) is None:
        return None
    man_to = _manifest(table_path, to_commit)
    if man_to is None:
        return None
    man_from = (_manifest(table_path, from_commit)
                if from_commit > 0 else None)
    return sum(_bucket_bytes(table_path, man_from, man_to, b)
               for b in _changed_buckets(man_from, man_to))


def _pack_changed_buckets(table_path: str, man_from: dict | None,
                          man_to: dict, buckets: list[int]) -> list:
    """Group changed buckets into read partitions of roughly
    `_FEED_PARTITION_BYTES` of LOCAL on-disk input each (both
    versions' files). A bounded incremental window otherwise pays one
    Python worker task per bucket — measured ~0.1-0.3 s of worker
    startup + per-task overhead each for buckets holding a few
    hundred KB. Non-local tables (sizes unknown driver-side without
    RPCs) keep one bucket per partition, today's behavior; a single
    bucket larger than the target still gets its own partition, so
    big-bucket parallelism at scale is unchanged."""
    from .ingest import _local_path

    if _local_path(table_path) is None:
        return list(buckets)
    target = int(os.environ.get("SPARK_GRAFT_FEED_PARTITION_BYTES",
                                _FEED_PARTITION_BYTES))
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_bytes = 0
    for b in buckets:
        sz = _bucket_bytes(table_path, man_from, man_to, b)
        if cur and cur_bytes + sz > target:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(b)
        cur_bytes += sz
    if cur:
        groups.append(cur)
    return groups


def _read_changes_partition(partition: _ChangesPartition) -> Iterator:
    """Executor-side diff of a partition's bucket(s) between two
    manifests — the shared kernel of the streaming reader and the
    batch reader (`_ChangesBatchReader`). `partition.bucket` is one
    bucket id (streaming / local reads) or a packed LIST of bucket
    ids (the batch reader groups small buckets so a bounded window
    does not pay one Python worker per bucket)."""
    b = partition.bucket
    buckets = list(b) if isinstance(b, (list, tuple)) else [b]
    for one in buckets:
        yield from _read_one_bucket_changes(partition, int(one))


def _read_one_bucket_changes(partition: _ChangesPartition,
                             bucket: int) -> Iterator:
    """Keyed Arrow outer-merge of one bucket's two versions,
    vectorized payload compare, retract-shape output."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    if bucket < 0:  # empty batch placeholder
        return
    cols = partition.columns
    man_to = partition.man_to
    origin = list(man_to["origin"])
    payload = [c for c in cols if c not in origin]
    schema = partition.pa_schema
    types = (dict(partition.pa_types) if partition.pa_types is not None
             else {f.name: f.type for f in schema})
    new_t = _read_bucket_arrow(partition.table_path, man_to,
                               bucket, cols, types)
    old_t = _read_bucket_arrow(partition.table_path,
                               partition.man_from,
                               bucket, cols, types)
    # keyed outer merge on the ORIGIN columns only (scalar keys —
    # pandas hash join); payload columns never leave Arrow
    def _keys(t, iname):
        if t is None:
            k = pd.DataFrame(columns=origin)
        else:
            k = t.select(origin).to_pandas()
        k[iname] = np.arange(len(k), dtype=np.int64)
        return k

    j = _keys(old_t, "__oi").merge(_keys(new_t, "__ni"), on=origin,
                                   how="outer", indicator="__cdf_m")
    if len(j) == 0:
        return
    m = j["__cdf_m"].to_numpy(dtype=object)
    is_ins = m == "right_only"
    is_del = m == "left_only"
    is_both = m == "both"
    # side-aligned payload arrays: take() with a null index yields
    # a typed null, so inserts' old side and deletes' new side are
    # NULL with no masking step
    oi = pa.array(pd.array(j["__oi"], dtype="Int64"))
    ni = pa.array(pd.array(j["__ni"], dtype="Int64"))
    n = len(j)

    def _side(t, c, idx):
        if t is None:
            return pa.nulls(n, type=types[c])
        arr = t[c]
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        out = arr.take(idx)
        if isinstance(out, pa.ChunkedArray):
            out = out.combine_chunks()
        return out

    old_a = {c: _side(old_t, c, oi) for c in payload}
    new_a = {c: _side(new_t, c, ni) for c in payload}
    neq = {}
    for c in payload:
        try:
            neq[c] = ~_arrow_eq(old_a[c], new_a[c])
        except (ValueError, NotImplementedError,
                pa.lib.ArrowNotImplementedError):
            # no vectorized kernel for this type: normalized
            # object compare on this column only
            neq[c] = _neq(old_a[c].to_pandas(), new_a[c].to_pandas())
    any_chg = np.zeros(n, dtype=bool)
    for c in payload:
        any_chg |= neq[c]
    is_upd = is_both & any_chg
    keep = is_ins | is_del | is_upd
    if not keep.any():
        return
    idx = np.flatnonzero(keep)
    idx_pa = pa.array(idx, type=pa.int64())
    ins_k, del_k, upd_k = is_ins[idx], is_del[idx], is_upd[idx]
    op = np.full(len(idx), "update", dtype=object)
    op[ins_k] = "insert"
    op[del_k] = "delete"
    cc = np.full(len(idx), "", dtype=object)
    for c in sorted(payload):  # deterministic changed_cols order
        mk = neq[c][idx] & upd_k
        cc[mk] = np.where(cc[mk] == "", c, cc[mk] + "," + c)

    def col(name: str):
        if name == _OP:
            return pa.array(op, type=types[name], from_pandas=True)
        if name == _CHANGED:
            return pa.array(cc, type=types[name], from_pandas=True)
        if name in origin:
            return pa.array(j[name].to_numpy(dtype=object)[idx],
                            type=types[name], from_pandas=True)
        if name.endswith(_OLD) and name[:-len(_OLD)] in payload:
            return old_a[name[:-len(_OLD)]].take(idx_pa)
        return new_a[name].take(idx_pa)

    arrays = [col(f.name) for f in schema]
    # chunked batches: a full bucket diff can run to hundreds of
    # MB at the target layout — bounded batches keep the arrow
    # pipe and downstream per-batch memory flat
    yield from (pa.Table.from_arrays(arrays, schema=schema)
                .to_batches(max_chunksize=65536))


class LocalChanges:
    """Result of `read_changes_local`: the window's retract rows as
    plain dicts (origin keys, `op`, `changed_cols`, payload and
    `<col>__old` pre-images)."""

    __slots__ = ("rows",)

    def __init__(self, rows):
        self.rows = rows


def read_changes_local(table_path: str, from_commit: int,
                       to_commit: int, *, max_rows: int
                       ) -> LocalChanges | None:
    """The window (`from_commit`, `to_commit`] with `includeOld`, read
    in this process as Python rows through the same reader object as
    `read_window_in_process` (`_window_batches`). `perfbench` counts a
    day's feed rows with it (`feed.changes`); no engine path reads
    through it — every consumer calls `ingest.table_changes`. Returns
    None as soon as the window exceeds `max_rows`, so the cost is
    hard-capped."""
    _schema, _pa_schema, batches = _window_batches({
        "path": table_path, "fromCommit": str(from_commit),
        "toCommit": str(to_commit), "includeOld": "true"})
    rows: list[dict] = []
    for rb in batches:
        if len(rows) + rb.num_rows > max_rows:
            return None
        rows.extend(rb.to_pylist())
    return LocalChanges(rows)


def _all_nullable(t):
    """`t` with every nested field marked nullable. Data files of one
    table can disagree on struct-field nullability (the driver-side
    local writer infers non-null from all-present batches; Spark
    writes everything nullable), and pyarrow refuses a nullable ->
    non-nullable cast — so the feed's expected types must be the
    nullable envelope of whichever file seeded them."""
    import pyarrow as pa

    if pa.types.is_struct(t):
        return pa.struct([f.with_type(_all_nullable(f.type))
                          .with_nullable(True) for f in t])
    if pa.types.is_list(t):
        return pa.list_(_all_nullable(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_all_nullable(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(_all_nullable(t.key_type),
                       _all_nullable(t.item_type))
    return t


def _data_file_fields(table_path: str, man: dict) -> list[tuple]:
    """(name, arrow type) of the table's data columns: the union, in
    first-seen bucket order, of ONE footer per distinct version
    directory the manifest references. A version directory is written
    by one commit, so its files share a schema; a schema-evolving
    merge rewrites only the buckets it hits, so a column it adds can
    be missing from the lowest bucket's files. Types are
    nullability-normalized (`_all_nullable`) so buckets written by a
    stricter writer still cast cleanly. Two versions that give one
    column different Spark types raise: the feed has one schema, and
    every writer keeps the table's column types."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    fields: dict[str, object] = {}
    seen: set[int] = set()
    for b, ver in sorted(man["buckets"].items()):
        if ver in seen:
            continue
        d = _bucket_dir(table_path, man, b)
        fs, dp = _fs_path(d)
        if not _is_dir(fs, dp):
            continue
        files = sorted(i.path for i in
                       fs.get_file_info(pafs.FileSelector(dp))
                       if i.path.endswith(".parquet"))
        if not files:
            continue
        seen.add(ver)
        with fs.open_input_file(files[0]) as f:
            for fld in pq.read_schema(f):
                t = _all_nullable(fld.type)
                prev = fields.setdefault(fld.name, t)
                if prev is not t and _ddl_of(prev) != _ddl_of(t):
                    raise ValueError(
                        f"{table_path}: column {fld.name!r} is "
                        f"{_ddl_of(prev)} in one version and "
                        f"{_ddl_of(t)} in version {ver}")
    if not fields:
        raise ValueError(f"{table_path} has no data files")
    return list(fields.items())


class _ChangesBatchReader(DataSourceReader):
    """BATCH twin of `_ChangesReader`: the row-level changes between
    two explicit commits as a plain `spark.read` — the same Arrow
    diff kernel, zero stream/checkpoint machinery. This is the reader
    behind `ingest.table_changes`, the one batch entry point every
    pull consumer uses (MV, secondary and ANN refresh, the drain,
    transform refresh, the touched-group slice): on Python
    workers past `_DRIVER_WINDOW_BYTES`, in the driver process below
    it (`read_window_in_process`). Partitions cover ONLY the changed buckets,
    packed to `_FEED_PARTITION_BYTES` of local input each, so a read
    costs O(changed buckets); a window whose directories were
    vacuumed fails loudly (`_open_dir`)."""

    def __init__(self, table_path: str, from_commit: int,
                 to_commit: int, columns: list[str], pa_schema,
                 pa_types: dict | None = None):
        self.table_path = table_path
        self.from_commit = from_commit
        self.to_commit = to_commit
        self.columns = columns
        self.pa_schema = pa_schema
        self.pa_types = pa_types  # full compare-type map (ship reads)

    def partitions(self) -> Sequence[InputPartition]:
        lo, hi = self.from_commit, self.to_commit
        empty = [_ChangesPartition(self.table_path, None, None, -1,
                                   self.columns, self.pa_schema,
                                   self.pa_types)]
        if hi <= lo:
            return empty
        man_from = _manifest(self.table_path, lo) if lo > 0 else None
        if lo > 0 and man_from is None:
            raise ValueError(
                f"manifest {lo} of {self.table_path} is unreadable — "
                "log pruned past fromCommit; read from a later commit")
        man_to = _manifest(self.table_path, hi)
        if man_to is None:
            raise ValueError(
                f"manifest {hi} of {self.table_path} is unreadable")
        changed = _changed_buckets(man_from, man_to)
        return [
            _ChangesPartition(self.table_path, man_from, man_to, g,
                              self.columns, self.pa_schema,
                              self.pa_types)
            for g in _pack_changed_buckets(self.table_path, man_from,
                                           man_to, changed)
        ] or empty

    def read(self, partition: _ChangesPartition) -> Iterator:
        return _read_changes_partition(partition)


def _ddl_of(t) -> str:
    """Recursive Arrow→Spark-DDL type mapping — nested array/struct/
    map payloads (the messages table's labels column) included."""
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_ddl_of(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{_ddl_of(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{_ddl_of(t.key_type)},{_ddl_of(t.item_type)}>"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    scalars = {"string": "string", "large_string": "string",
               "int64": "long", "int32": "int", "int16": "smallint",
               "int8": "tinyint", "double": "double", "float": "float",
               "bool": "boolean", "binary": "binary",
               "large_binary": "binary"}
    s = scalars.get(str(t))
    if s is None:
        raise ValueError(
            f"arrow type {t} not mapped for the changes source")
    return s


def read_window_in_process(spark, options: dict):
    """The batch read of one change window run on the DRIVER: the
    same `MergeTableChangesDataSource` reader — schema, partitions,
    per-bucket Arrow diff — executed in this process, its batches
    handed to Spark as one Arrow table. A bounded window then costs
    its pyarrow reads plus one Arrow transfer to the JVM, and no
    Python DataSource planner or worker process starts. `options` are
    the batch read's options (`path`, `fromCommit`, `toCommit`,
    `includeOld`, `select`, `ship`). An unreadable manifest or a
    vacuumed window raises here, at call time."""
    import pyarrow as pa

    schema, pa_schema, batches = _window_batches(options)
    batches = list(batches)
    # an empty window still gets one empty chunk per column: Spark's
    # Arrow conversion rebuilds nested columns chunk by chunk and
    # cannot type a column that has no chunk
    table = (pa.Table.from_batches(batches, schema=pa_schema)
             if batches else pa_schema.empty_table())
    return spark.createDataFrame(table, schema)


def _window_batches(options: dict):
    """(Spark schema, Arrow schema, Arrow batches) of one batch read of
    the feed run in this process: `MergeTableChangesDataSource`'s own
    schema, partitions and per-bucket diff. The partitions are planned
    here, so an unreadable manifest raises before any batch is read;
    the batches are yielded lazily."""
    from pyspark.sql.types import _parse_datatype_string

    ds = MergeTableChangesDataSource(options=options)
    schema = _parse_datatype_string(ds.schema())
    reader = ds.reader(schema)
    parts = reader.partitions()
    return (schema, reader.pa_schema,
            (rb for p in parts for rb in reader.read(p)))


class MergeTableChangesDataSource(DataSource):
    """`format("merge_table_changes")` — stream a versioned merge
    table's row-level changes. Options: `path` (table root, required);
    `startingCommit` (default 0 = replay the whole history as
    inserts); `includeOld` ("true"/"false", default false) appends a
    `<col>__old` column per payload column carrying the PRE-change
    value on updates and deletes — the retract-stream shape (Flink's
    changelog idiom) that lets a downstream incremental consumer
    SUBTRACT without ever consulting the source table;
    `maxCommitsPerTrigger` (default unlimited) bounds how many source
    commits one micro-batch may span — the Delta `maxFilesPerTrigger`
    analog for catching up on a backlog with bounded per-batch work;
    `select` (comma-separated payload columns, default all) PROJECTS
    the feed — the parquet scan prunes to origin + selected columns,
    so a consumer maintaining a 2-column rollup never pays a wide
    table's row width, and the stream becomes the change feed OF THE
    PROJECTION: a row whose only changes are outside the selection
    does not emit (exactly what a projected consumer should see);
    `retentionName` (default off) registers the stream's position as
    a named vacuum floor (`_log/_floors/<name>`) advanced at every
    engine commit — `vacuum_table` then cannot reclaim the stream's
    unread change windows (the PREVENTIVE retention contract; without
    it a vacuum past a lagging stream's offset makes the window
    unrecoverable and the source fails loudly).

    The stream is for long-running consumers. A bounded catch-up to
    the head is `drain.drain_changes`, which reads this source's
    batch form (`spark.read`, below) once per pending commit."""

    @classmethod
    def name(cls) -> str:
        return "merge_table_changes"

    def _table_path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' (table root) is required")
        return path

    def _table_fields(self) -> tuple[list[str], list[tuple]]:
        """(origin columns, `_data_file_fields`) of the table's latest
        commit — the one schema source of the feed, memoized on the
        instance so schema and reader planning read the footers once."""
        memo = getattr(self, "_fields_memo", None)
        if memo is None:
            path = self._table_path()
            latest = _latest_commit(path)
            if latest is None:
                raise ValueError(f"{path} has no commits")
            man = _manifest(path, latest)
            memo = (list(man["origin"]), _data_file_fields(path, man))
            self._fields_memo = memo
        return memo

    def _columns_and_types(self) -> list[tuple[str, str]]:
        origin, arrow_fields = self._table_fields()
        fields = [(n, _ddl_of(t)) for n, t in arrow_fields]
        by_name = dict(fields)
        sel = self.options.get("select")
        if sel is not None:
            wanted = [c.strip() for c in sel.split(",") if c.strip()]
            unknown = [c for c in wanted if c not in by_name]
            if unknown:
                raise ValueError(
                    f"select: unknown column(s) {unknown}; table has "
                    f"{sorted(by_name)}")
            keep = set(wanted) - set(origin)
            fields = [(n, t) for n, t in fields
                      if n in origin or n in keep]
        # origin columns first, then op/changed_cols, then payload
        return ([(c, by_name[c]) for c in origin]
                + [(_OP, "string"), (_CHANGED, "string")]
                + [(n, t) for n, t in fields if n not in origin])

    def _include_old(self) -> bool:
        return str(self.options.get("includeOld", "false")).lower() == "true"

    def _ship(self) -> list[str] | None:
        """The `ship` OUTPUT projection (batch reads only): unlike
        `select` — which projects the feed itself, so a row changing
        only outside the selection does not emit — `ship` keeps the
        diff over EVERY payload column (emission and changed_cols are
        those of the full-width feed) and narrows only what crosses
        the Python→JVM boundary. The touched-group consumers need
        exactly this: which groups changed is decided by all columns,
        but only the group keys (+ ops) are ever read downstream, so
        shipping a wide table's payloads per changed row is pure
        boundary cost (guide §4: pass only the columns the consumer
        needs)."""
        ship = self.options.get("ship")
        if ship is None:
            return None
        return [c.strip() for c in ship.split(",") if c.strip()]

    def schema(self) -> str:
        cols = self._columns_and_types()
        ship = self._ship()
        if ship is not None:
            by_name = {n for n, _t in cols}
            unknown = [c for c in ship if c not in by_name]
            if unknown:
                raise ValueError(
                    f"ship: unknown column(s) {unknown}; feed has "
                    f"{sorted(by_name)}")
            keep = set(ship) | {_OP, _CHANGED}
            origin_idx = [n for n, _t in cols].index(_OP)
            keep |= {n for n, _t in cols[:origin_idx]}  # origin always
            cols = [(n, t) for n, t in cols if n in keep]
        ddl = ", ".join(f"{n} {t}" for n, t in cols)
        if self._include_old():
            # payload columns = everything after op/changed_cols
            # (may be EMPTY — key-only table or select down to keys)
            tail = cols[[n for n, _t in cols].index(_CHANGED) + 1:]
            names = {n for n, _t in tail}
            clash = sorted(n for n, _t in tail
                           if n.endswith(_OLD)
                           and n[:-len(_OLD)] in names)
            if clash:
                # a payload column literally named <x>__old would
                # collide with x's retract column — the reader routes
                # by name, so fail loudly instead of silently
                # misrouting both
                raise ValueError(
                    f"includeOld=true clashes with payload column(s) "
                    f"{clash}: rename them or stream with "
                    "includeOld=false / a `select` excluding them")
            if tail:
                ddl += ", " + ", ".join(f"{n}{_OLD} {t}"
                                        for n, t in tail)
        return ddl

    def streamReader(self, schema) -> _ChangesReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        if self._ship() is not None:
            raise ValueError(
                "ship is a batch-read option (spark.read); streams "
                "project with `select` (the change feed OF the "
                "projection) instead")
        cols = [n for n, _t in self._columns_and_types()
                if n not in (_OP, _CHANGED)]
        mpt = self.options.get("maxCommitsPerTrigger")
        return _ChangesReader(
            self._table_path(),
            int(self.options.get("startingCommit", 0)),
            cols, to_arrow_schema(schema),
            int(mpt) if mpt is not None else None,
            self.options.get("retentionName"))

    def reader(self, schema) -> _ChangesBatchReader:
        """BATCH read of one change window: `spark.read.format(
        "merge_table_changes")` with `fromCommit` (exclusive base,
        default 0 = table creation) and `toCommit` (inclusive,
        default head). Same schema/options as the stream
        (`includeOld`, `select`); no offsets, no checkpoint."""
        from pyspark.sql.pandas.types import to_arrow_schema

        path = self._table_path()
        cols = [n for n, _t in self._columns_and_types()
                if n not in (_OP, _CHANGED)]
        to = self.options.get("toCommit")
        if to is None:
            latest = _latest_commit(path)
            if latest is None:
                raise ValueError(f"{path} has no commits")
            to = latest
        pa_schema = to_arrow_schema(schema)
        pa_types = None
        if self._ship() is not None:
            # `ship` narrows the OUTPUT below the compare set, so the
            # kernel needs types for the unshipped compare columns too:
            # seed from the data files (nullability-normalized) and
            # override every output column with the Spark-expected
            # Arrow type.
            pa_types = dict(self._table_fields()[1])
            for f in pa_schema:
                base = f.name[:-len(_OLD)] if f.name.endswith(_OLD) else None
                if base is not None and base in pa_types:
                    continue  # retract twin rides its payload's type
                pa_types[f.name] = f.type
        return _ChangesBatchReader(
            path, int(self.options.get("fromCommit", 0)), int(to),
            cols, pa_schema, pa_types)
