"""Driver-side tiny-batch upsert into the SAME versioned merge-table
format the engine writes — the Delta "driver-side metadata commit"
idiom for CONTROL-PLANE tables.

The run manifest (analysis/runner.py) records ~10 single-row
transitions per composed pipeline run. Routing each through
`foreach_batch_upsert` costs 3-4 distributed Spark jobs (~1.5-2 s of
pure scheduling latency for a 1-row write into a 4-bucket table), so
run bookkeeping alone was ~15 s of the composed day run's fixed
overhead — the dominant reason incrementality lost to batch recompute
at small corpus sizes (VERDICT r13 task 1 / "What's missing" #1).
A metadata commit should never launch a cluster job: Delta commits
its transaction log driver-side for the same reason.

`upsert_rows_local` runs in the SAME commit retry loop, applies the SAME
merge semantics, and publishes the SAME manifest JSON as the engine
path — bucket assignment included, via a pure-Python implementation
of Spark's xxhash64 (property-tested against `F.xxhash64`, see
tests/test_local_merge.py) — so engine merges, change feeds, time
travel, and compaction interoperate with locally-committed versions
unchanged. Data files are written with pyarrow into the standard
`v{commit}-{writer}/bucket={b}/` layout (no bucket column inside the
file, exactly like the engine's partitioned write).

Scale note: this path COLLECTS nothing (the rows are born on the
driver) and is gated to small row lists — it exists for tiny control
tables, not data. Anything larger goes through the engine path.
"""

from __future__ import annotations

import posixpath
import struct
import uuid
from collections.abc import Mapping, Sequence

from pyspark.sql import SparkSession

from . import ingest as _ing

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _xxh64_bytes(data: bytes, seed: int) -> int:
    """Standard XXH64 over a byte string — the algorithm Spark's
    `xxhash64` applies to string/binary values (XXH64.java is a
    faithful port of the reference implementation)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, i)
            v1 = (_rotl((v1 + k1 * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + k2 * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + k3 * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + k4 * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = ((h * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        (k1,) = struct.unpack_from("<Q", data, i)
        h ^= (_rotl((k1 * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        i += 8
    if i <= n - 4:
        (k1,) = struct.unpack_from("<I", data, i)
        h ^= (k1 * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    return _fmix(h)


def _xxh64_long(value: int, seed: int) -> int:
    """Spark's XXH64.hashLong — an 8-byte fixed-width input takes the
    single-stripe path directly."""
    h = (seed + _P5 + 8) & _M64
    k1 = (value & _M64)
    h ^= (_rotl((k1 * _P2) & _M64, 31) * _P1) & _M64
    h = ((_rotl(h, 27) * _P1) + _P4) & _M64
    return _fmix(h)


def spark_xxhash64(values: Sequence, seed: int = 42) -> int:
    """Spark-compatible `F.xxhash64(*cols)` over one row's values:
    seed 42, each column's hash chained as the next column's seed,
    NULLs passed through (Spark skips null children). Supports the
    types control tables use: str/bytes (UTF-8 bytes), bool/int
    (hashed as long — Spark widens integral types to long). Returns
    the SIGNED 64-bit value Spark reports."""
    h = seed
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            h = _xxh64_long(int(v), h)
        elif isinstance(v, int):
            h = _xxh64_long(v, h)
        elif isinstance(v, str):
            h = _xxh64_bytes(v.encode("utf-8"), h)
        elif isinstance(v, (bytes, bytearray)):
            h = _xxh64_bytes(bytes(v), h)
        else:
            raise TypeError(
                f"spark_xxhash64: unsupported type {type(v).__name__} "
                "(local upserts support str/bytes/int/bool keys)")
    return h - (1 << 64) if h >= (1 << 63) else h


def local_bucket(values: Sequence, n_buckets: int) -> int:
    """`pmod(xxhash64(cols), n_buckets)` — the engine's bucket rule
    (ingest.origin_bucket), computed driver-side."""
    return spark_xxhash64(values) % n_buckets  # py % is pmod already


#: refuse larger row lists — this is a control-plane path; data goes
#: through the engine (distributed) merge
MAX_LOCAL_ROWS = 1024


class LocalSchemaMismatch(ValueError):
    """A hit bucket's files carry columns outside the batch schema —
    the local rewrite would drop their values, so the merge must go
    through the engine path's union-align instead. Raised BEFORE any
    file is written; `try_local_upsert` turns it into a fallback."""


def upsert_rows_local(spark: SparkSession, table_path: str,
                      rows: Sequence[Mapping], schema,
                      origin_cols: Sequence[str], *,
                      n_buckets: int | None = None,
                      bucket_cols: Sequence[str] | None = None,
                      txn_app_id: str | None = None,
                      batch_id: int | None = None,
                      mode: str = "latest_wins",
                      delete_keys: Sequence[Mapping] | None = None) -> None:
    """Merge a small list of row dicts into a versioned merge table
    WITHOUT launching Spark jobs — same commit loop, same manifest, same
    layout as `foreach_batch_upsert`, executed with pyarrow on the
    driver. `schema` is the pyarrow schema of the table's data
    columns (used to build/validate row batches; creation writes it,
    an existing table must match it by column NAMES — control tables
    do not schema-evolve through this path).

    Semantics mirror the engine path exactly: the no-replace manifest
    publish with rebase-and-retry on a lost race, txn replay skip under
    `txn_app_id`/`batch_id`, latest_wins / existing_wins matched-row
    policy, deletion vectors of rewritten buckets applied and
    materialized, dv/vdir/bases/txn manifest fields carried forward.

    `delete_keys` (dicts over the origin columns plus any bucket
    column outside them) leave the table in the SAME atomic commit as
    the upsert, exactly as `foreach_batch_upsert`'s ``deletes=`` does
    on the engine path: keys in buckets the upsert rewrites drop
    during the rewrite, keys in other stored buckets become
    deletion-vector entries of the commit.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    if mode not in ("existing_wins", "latest_wins"):
        raise ValueError(f"unknown merge mode {mode!r}")
    if mode == "latest_wins" and txn_app_id is None:
        raise ValueError("latest_wins requires txn_app_id")
    if len(rows) + len(delete_keys or ()) > MAX_LOCAL_ROWS:
        raise ValueError(
            f"{len(rows)} rows > MAX_LOCAL_ROWS ({MAX_LOCAL_ROWS}) — "
            "use foreach_batch_upsert for data-sized batches")
    names = [f.name for f in schema]
    missing = [c for c in origin_cols if c not in names]
    if missing:
        raise ValueError(f"origin column(s) {missing} not in schema")

    from .cdf_source import _fs_path

    _ing._retry_commit(
        spark, table_path,
        lambda man, commit, writer: _apply_local(
            spark, table_path, rows, schema, origin_cols, man, commit,
            writer, n_buckets, bucket_cols, txn_app_id, batch_id, mode,
            pa, pq, _fs_path, delete_keys or ()),
        "local merge into")


#: grouped-batch row bound for the automatic fast path inside
#: foreach_batch_upsert — smaller than MAX_LOCAL_ROWS because the
#: probe pays a limit-collect either way
SMALL_BATCH_ROWS = 512
#: probe column telling a delete key from a batch row
_DEAD = "__local_merge_dead"


#: session conf sizing a limit-collect's first round of partitions
_LIMIT_FIRST_ROUND = "spark.sql.limit.initialNumPartitions"


def probe_rows(df, n: int) -> list:
    """At most `n` rows of `df` in ONE job that takes up to `n` rows
    from every partition in parallel. A plain limit-collect first
    scans one partition and then runs a job per 4x scale-up round;
    squeezing the frame into one partition instead would scan a large
    upstream serially. The first round is widened to every partition
    for this collect only; a concurrent limit on the same session
    may see the wider round too, which changes its job count, not its
    rows."""
    conf = df.sparkSession.conf
    prior = conf.get(_LIMIT_FIRST_ROUND, None)
    conf.set(_LIMIT_FIRST_ROUND, str(1 << 30))
    try:
        return df.limit(n).collect()
    finally:
        if prior is None:
            conf.unset(_LIMIT_FIRST_ROUND)
        else:
            conf.set(_LIMIT_FIRST_ROUND, prior)


def _has_temporal(dt) -> bool:
    """True if a Spark type tree contains timestamp/date anywhere —
    collect()'s session-timezone datetime objects round-trip through
    pyarrow ambiguously, so temporal batches stay on the engine path."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_temporal(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_temporal(dt.keyType) or _has_temporal(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_temporal(f.dataType) for f in dt.fields)
    return False


def try_local_upsert(spark: SparkSession, table_path: str, batch,
                     batch_id: int, origin_cols: Sequence[str], *,
                     n_buckets: int | None, bucket_cols,
                     txn_app_id: str | None, mode: str,
                     deletes=None) -> bool:
    """Automatic bounded-batch fast path for `foreach_batch_upsert`:
    probe the batch and its `deletes` key frame with ONE limit-collect
    (a big batch pays one cheap partial job and falls back); a small
    batch commits DRIVER-SIDE through `upsert_rows_local` — the
    day-run refresh merges (views, exports, imputed) collapse from
    3-4 distributed jobs each to the one probe job. Falls back
    (returns False) on: >SMALL_BATCH_ROWS rows and deletes,
    intra-batch duplicate keys (engine dedupe order would apply),
    temporal column types, a bucket-key type outside the local hash's
    domain, or an existing table whose data-file schema differs from
    the batch's (schema evolution stays on the engine's union-align
    path)."""
    if _has_temporal(batch.schema):
        return False
    man = _ing.read_table_manifest(spark, table_path)
    if man is not None and set(man["origin"]) != set(origin_cols):
        return False
    probe = batch
    if deletes is not None and man is not None:
        from pyspark.sql import functions as F

        dead = deletes.select(*_ing._key_cols(
            deletes.columns, origin_cols, _ing._bucket_on(man)))
        if _has_temporal(dead.schema):
            return False
        probe = batch.withColumn(_DEAD, F.lit(False)).unionByName(
            dead.withColumn(_DEAD, F.lit(True)), allowMissingColumns=True)
    rows = probe_rows(probe, SMALL_BATCH_ROWS + 1)
    if len(rows) > SMALL_BATCH_ROWS:
        return False
    dicts, dead_keys = [], []
    for r in rows:
        d = r.asDict(recursive=True)
        (dead_keys if d.pop(_DEAD, False) else dicts).append(d)
    keys = [tuple(d.get(c) for c in origin_cols) for d in dicts]
    if len(set(keys)) != len(keys):
        return False
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(batch.schema)
    names = set(batch.schema.names)
    if man is not None:
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        from .cdf_source import _fs_path

        some = _ing._bucket_paths(table_path, man["buckets"],
                                  bases=_ing._bases(man),
                                  vdirs=_ing._vdirs(man))
        if some:
            fs, p = _fs_path(some[0])
            try:
                infos = fs.get_file_info(pafs.FileSelector(p))
                pfiles = [i.path for i in infos
                          if i.path.endswith(".parquet")]
                if pfiles:
                    with fs.open_input_file(pfiles[0]) as f:
                        table_schema = pq.read_schema(f)
                    if set(table_schema.names) != names:
                        return False  # schema evolution: engine path
                    schema = _in_table_types(schema, table_schema)
                    if schema is None:
                        return False  # a type change: engine path
            except OSError:
                return False

    try:
        upsert_rows_local(spark, table_path, dicts, schema, origin_cols,
                          n_buckets=n_buckets, bucket_cols=bucket_cols,
                          txn_app_id=txn_app_id, batch_id=batch_id,
                          mode=mode, delete_keys=dead_keys)
    except TypeError:
        return False  # bucket-key type outside the local hash domain
    except LocalSchemaMismatch:
        # a hit bucket is WIDER than the batch (schema evolved after
        # the sampled probe file was written): the engine path's
        # union-align is the only safe rewrite. Nothing was written.
        return False
    return True


def _in_table_types(batch_schema, table_schema):
    """`batch_schema` with each column that the table's data files
    type WIDER (an int literal merged into a long column) retyped to
    the table's type, so every version of the table keeps one type
    per column — the change feed reads one schema
    (`cdf_source._data_file_fields`). None when a column's types
    differ in any other way (the caller leaves the merge to the
    engine path)."""
    import pyarrow as pa

    from .cdf_source import _all_nullable

    out = []
    for f in batch_schema:
        t = table_schema.field(f.name).type
        if _all_nullable(t) == _all_nullable(f.type):
            out.append(f)
        elif (any(k(t) and k(f.type) for k in
                  (pa.types.is_integer, pa.types.is_floating))
              and t.bit_width >= f.type.bit_width):
            out.append(f.with_type(t))
        else:
            return None
    return pa.schema(out)


def read_live_rows_local(table_path: str, man: dict,
                         buckets: Sequence[int],
                         names: Sequence[str]) -> list[dict]:
    """Driver-side resolved read of the given buckets' LIVE rows
    (dv-deleted keys filtered out) — the pyarrow twin of
    ingest._read_resolved, for bounded control/state folds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .cdf_source import _fs_path

    origin = list(man["origin"])
    have = [b for b in buckets if b in man["buckets"]]
    out: list[dict] = []
    for p in _ing._bucket_paths(table_path, man["buckets"], only=have,
                                bases=_ing._bases(man),
                                vdirs=_ing._vdirs(man)):
        b = int(p.rsplit("=", 1)[-1])
        rows = _read_bucket_rows(pa, pq, _fs_path, p, names)
        dead = {tuple(r.get(c) for c in origin)
                for r in _dv_rows_local(pa, pq, _fs_path, table_path,
                                        man, b)}
        rows = [r for r in rows
                if tuple(r.get(c) for c in origin) not in dead]
        for r in rows:
            for c in names:
                r.setdefault(c, None)
        out.extend(rows)
    return out


def _read_bucket_rows(pa, pq, fs_path, path: str, names) -> list[dict]:
    from pyarrow import fs as pafs

    fs, p = fs_path(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p))
    except (OSError, FileNotFoundError):
        return []
    out = []
    for i in infos:
        if not i.path.endswith(".parquet"):
            continue
        with fs.open_input_file(i.path) as f:
            t = pq.read_table(f)
        out.extend(t.to_pylist())
    return out


def _apply_local(spark, table_path, rows, schema, origin_cols, man,
                 commit, writer, n_buckets, bucket_cols, txn_app_id,
                 batch_id, mode, pa, pq, fs_path,
                 delete_keys: Sequence[Mapping] = ()) -> None:
    txn = dict((man or {}).get("txn", {}))
    if txn_app_id is not None and batch_id is not None:
        applied = txn.get(txn_app_id)
        if applied is not None and batch_id <= applied:
            return  # replay of an already-applied batch
        txn[txn_app_id] = batch_id
    nb = (man["n_buckets"] if man
          else (n_buckets or _ing.DEFAULT_N_BUCKETS))
    bk = (_ing._bucket_on(man) if man
          else list(bucket_cols or origin_cols))
    if man is not None:
        have = set(man["origin"])
        if have != set(origin_cols):
            raise ValueError(
                f"{table_path} is keyed on {sorted(have)}, not "
                f"{sorted(origin_cols)}")

    by_bucket: dict[int, dict[tuple, dict]] = {}
    for r in rows:
        b = local_bucket([r.get(c) for c in bk], nb)
        key = tuple(r.get(c) for c in origin_cols)
        slot = by_bucket.setdefault(b, {})
        if mode == "latest_wins" or key not in slot:
            slot[key] = dict(r)
    hit = sorted(by_bucket)
    # deleted keys by bucket (nothing is stored before the first commit)
    kc = list(origin_cols) + [c for c in bk if c not in origin_cols]
    dead: dict[int, dict[tuple, dict]] = {}
    for d in (delete_keys if man is not None else ()):
        _ing._key_cols(d, origin_cols, bk)
        b = local_bucket([d[c] for c in bk], nb)
        dead.setdefault(b, {})[tuple(d[c] for c in origin_cols)] = d
    dv_hit = sorted(b for b in dead
                    if b not in by_bucket and b in man["buckets"])

    names = [f.name for f in schema]
    if man is not None:
        # merge against the existing hit buckets, dv-resolved
        for b in hit:
            slot = by_bucket[b]
            for er in read_live_rows_local(table_path, man, [b], names):
                wider = set(er) - set(names)
                if wider:
                    # the bucket holds columns the batch lacks (schema
                    # evolved elsewhere in the table): rewriting it to
                    # the batch schema would DROP those values — only
                    # the engine's union-align merge may touch it
                    raise LocalSchemaMismatch(
                        f"bucket {b} of {table_path} carries column(s) "
                        f"{sorted(wider)} outside the batch schema")
                key = tuple(er.get(c) for c in origin_cols)
                if key in dead.get(b, ()):
                    continue  # deleted: dropped by this rewrite
                if key in slot:
                    if mode == "existing_wins":
                        slot[key] = er
                else:
                    slot[key] = er

    vdir = f"v{commit:08d}-{writer}"
    fs, root = fs_path(table_path)

    def _write(d, pylist, sch):
        fs.create_dir(d, recursive=True)
        fname = f"part-00000-{uuid.uuid4().hex}.parquet"
        with fs.open_output_stream(posixpath.join(d, fname)) as f:
            pq.write_table(pa.Table.from_pylist(pylist, schema=sch), f)

    for b in hit:
        _write(posixpath.join(root, vdir, f"{_ing.BUCKET_COL}={b}"),
               [{c: r.get(c) for c in names}
                for r in by_bucket[b].values()], schema)
    # deleted keys in the other stored buckets: dv entries of this
    # commit, each unioned with the bucket's existing dv
    dvdir = f"dv{commit:08d}-{writer}"
    dv_counts = {}
    for b in dv_hit:
        keys = {tuple(r.get(c) for c in origin_cols): r
                for r in _dv_rows_local(pa, pq, fs_path, table_path,
                                        man, b)}
        keys.update(dead[b])
        _write(posixpath.join(root, dvdir, f"{_ing.BUCKET_COL}={b}"),
               [{c: r.get(c) for c in kc} for r in keys.values()],
               pa.schema([schema.field(c) for c in kc]))
        dv_counts[b] = len(keys)

    if man is None:
        _ing._commit(spark, table_path, commit, writer, nb, origin_cols,
                     {b: commit for b in hit}, txn=txn, bucket_on=bk,
                     vdirs={commit: vdir})
        return
    dv = {b: d for b, d in _ing._dv(man).items()
          if b not in set(hit)}
    dv.update({b: dvdir for b in dv_hit})
    _ing._commit(spark, table_path, commit, writer, nb, origin_cols,
                 {**man["buckets"], **{b: commit for b in hit}},
                 bases=_ing._bases(man), txn=txn, bucket_on=bk,
                 vdirs={**_ing._vdirs(man), commit: vdir},
                 dv=dv, dv_bases=_ing._dv_bases(man),
                 dv_rows={**_ing._dv_rows(man), **dv_counts})


def _dv_rows_local(pa, pq, fs_path, table_path: str, man: dict,
                   b: int) -> list[dict]:
    """The keys bucket `b`'s deletion vector holds ([] without one)."""
    d = _ing._dv(man).get(b)
    if d is None:
        return []
    dv_root = _ing._dv_bases(man).get(d, table_path)
    return _read_bucket_rows(pa, pq, fs_path,
                             f"{dv_root}/{d}/{_ing.BUCKET_COL}={b}", ())
