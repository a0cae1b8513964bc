"""Persisted IVF-flat ANN index, maintained incrementally from the
corpus table's change feed.

`similarity.cosine_topk_ivf` is the right shape for a ONE-SHOT batch
query, but it re-assigns the entire corpus to cells on every call —
at 100 TB every repeated ANN query would re-scan and re-project the
whole embedding table. This module pays the assignment pass ONCE and
persists it, the same treatment the engine already gives the text
index (`ranking.build_text_index` / `text_index_stream_sink`) and the
value index (`streaming/secondary.py`):

Layout at ``index_path``:

* ``centroids/`` — one tiny parquet (cid, cvec array<double>, cnorm):
  the coarse quantizer. Seeded (`similarity.seed_centroids_ivf`) or
  TRAINED (`clustering.kmeans_fit`) — the index stores whichever it
  was built with, so queries and maintenance always use the exact
  quantizer the postings were assigned under.
* ``cells/`` — a versioned merge table of postings
  (cell string, vec_id string, embedding array<float>), unique on
  (cell, vec_id) but BUCKETED ON THE CELL ONLY (partial-key
  bucketing), so all vectors of one cell are co-located and a query
  reads EXACTLY its probed cells' buckets — O(probed cells), never
  O(corpus).

Query path (`ann_topk_indexed`): probe cells are ranked DRIVER-side
against the k·d centroid table (the standard IVF arrangement — the
quantizer is index metadata, not data), the probed cells' bucket ids
are derived from the manifest, and the scoring scan is
`_read_resolved(only=probed buckets)` + one broadcast join of the
queries. All arithmetic uses the module-wide sequential-fold
convention, so the result is bit-identical to `cosine_topk_ivf` with
the same centroid table (pinned by oracle: `ann_topk_ivf_indexed`
shares `ANN_TOPK_IVF_SQL`).

Maintenance (`ann_index_stream_sink`): a foreachBatch fold over a
``merge_table_changes`` stream opened with ``includeOld=true`` — the
push-based twin of the value-index sink. The OLD embedding in the
retract batch yields the OLD cell, so removals need ZERO reads of the
source; an update whose embedding did not change is filtered out
entirely. Replay-safe via the cells table's txn watermark; dv
removals + per-fold `maybe_compact` keep the index self-maintaining.

Reference parity: the reference has no ANN (its corpus is Firestore
messages); this is an extension component of the LLM-training-data
brief, following FAISS's IVF-flat layout (Johnson et al., 2017)
re-expressed as lakehouse tables.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.topk import top_k_per_group
# module-ref (not from-import) so test spies on ingest._read_resolved
# observe this module's reads, same as operators/topk.py
from ..streaming import ingest as _ing
from .similarity import _fold_sq, _nearest_cells, cosine

CELLS_DIR = "cells"
CENTROIDS_DIR = "centroids"

#: txn app id of the push-based sink (a stream BATCH id — the same
#: namespace-isolation contract as the value/text index sinks).
_STREAM_TXN = "__ann_index_stream"
#: txn app id of a one-shot `build_ann_index` (a snapshot build, not
#: a stream batch); the namespaces must never mix — the sink refuses
#: a build-owned index (rebuild or replay from startingCommit=0).
_BUILD_TXN = "__ann_index_build"


# --- centroid table I/O ----------------------------------------------------

def write_centroids(spark: SparkSession, index_path: str,
                    cents: Sequence[tuple[int, list[float], float]]) -> None:
    """Persist the quantizer: k·d doubles — one tiny single-file
    parquet, read whole at query/maintenance time (the FAISS
    in-memory centroid table, durable)."""
    rows = [(int(cid), [float(x) for x in cvec], float(cn))
            for cid, cvec, cn in cents]
    df = spark.createDataFrame(rows, "cid long, cvec array<double>, cnorm double")
    (df.coalesce(1).write.mode("overwrite")
     .parquet(f"{index_path}/{CENTROIDS_DIR}"))


def load_centroids(spark: SparkSession, index_path: str
                   ) -> list[tuple[int, list[float], float]]:
    rows = _ing.read_parquet_fast(
        spark, f"{index_path}/{CENTROIDS_DIR}").collect()
    return [(int(r["cid"]), [float(x) for x in r["cvec"]], float(r["cnorm"]))
            for r in sorted(rows, key=lambda r: r["cid"])]


def _cents_equal(a: Sequence[tuple[int, list[float], float]],
                 b: Sequence[tuple[int, list[float], float]]) -> bool:
    if len(a) != len(b):
        return False
    for (ca, va, _na), (cb, vb, _nb) in zip(a, b):
        if ca != cb or list(va) != list(vb):
            return False
    return True


def _cell_expr(emb_col: Column, cents) -> Column:
    """The nearest centroid's id as a STRING (origin keys are strings
    throughout the engine) — a zero-shuffle projection."""
    return F.get(_nearest_cells(emb_col, list(cents), 1), 0).cast("string")


def default_n_buckets(cents: Sequence) -> int:
    """Power-of-two bucket count ≥ the cell count, capped — at real
    scale pick buckets from expected index bytes instead
    (`ingest.suggest_n_buckets`) and let multiple cells share a
    bucket (reads filter on the cell column after the slice)."""
    n = max(1, len(cents))
    return min(1 << (n - 1).bit_length(), 64)


# --- build ------------------------------------------------------------------

def build_ann_index(spark: SparkSession, embeddings: DataFrame,
                    index_path: str,
                    cents: Sequence[tuple[int, list[float], float]],
                    n_buckets: int | None = None,
                    id_col: str = "vec_id",
                    emb_col: str = "embedding") -> None:
    """One-shot build from a corpus snapshot: ONE assignment pass over
    the embeddings (the pass `cosine_topk_ivf` re-runs per query),
    merged into the cell-bucketed postings table. The quantizer is
    persisted first so a crash between the two writes leaves a
    rebuildable, never a lying, index.

    Refuses a path that already holds a cells table: the merge's txn
    watermark would skip the re-build's batch while the quantizer had
    already been overwritten — postings assigned under the OLD
    centroids served under the NEW ones, silently wrong neighbors.
    Rebuild into a fresh path (or delete the old index first)."""
    if _ing.read_table_manifest(spark, f"{index_path}/{CELLS_DIR}") is not None:
        raise ValueError(
            f"{index_path} already holds an index — a re-build over "
            "it would overwrite the quantizer while the postings "
            "merge replays as a no-op; build into a fresh path")
    write_centroids(spark, index_path, cents)
    if n_buckets is None:
        n_buckets = default_n_buckets(cents)
    postings = embeddings.select(
        _cell_expr(F.col(emb_col), cents).alias("cell"),
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(emb_col).alias("embedding"),
    ).where(F.col("embedding").isNotNull())
    merge = _ing.foreach_batch_upsert(
        f"{index_path}/{CELLS_DIR}", ["cell", "vec_id"],
        n_buckets=n_buckets, txn_app_id=_BUILD_TXN,
        bucket_cols=["cell"])
    merge(postings, 0)


# --- query ------------------------------------------------------------------

def _probe_cells_py(q_emb: Sequence[float],
                    cents: Sequence[tuple[int, list[float], float]],
                    n_probe: int) -> list[int]:
    """Driver-side mirror of `_nearest_cells`: cosine via the same
    sequential left fold over IEEE doubles, ranked (cosine DESC, cid
    ASC) — bit-identical to the Spark/DuckDB expression, the same
    plan-time/runtime equivalence `_hyperplane_py` relies on."""
    qn = math.sqrt(_fold_sq([float(x) for x in q_emb]))
    scored = []
    for cid, cvec, cn in cents:
        acc = 0.0
        for x, c in zip(q_emb, cvec):
            acc = acc + float(x) * c
        scored.append((acc / (qn * cn), -int(cid)))
    scored.sort(reverse=True)
    return [-n for _, n in scored[:n_probe]]


def ann_topk_indexed(spark: SparkSession, index_path: str,
                     queries: DataFrame, k: int = 10, n_probe: int = 4,
                     id_out_type: str = "long") -> DataFrame:
    """Cosine top-k over the persisted index. `queries` is a
    broadcast-small (query_id, q_emb) frame — collected driver-side
    (|Q|·d floats, the same scale as any IVF query buffer) to rank
    probe cells against the stored quantizer; the corpus-side read
    then touches ONLY the probed cells' buckets
    (`operators.topk.group_rows_slice` — the engine's one
    bucket-slicing idiom). Self-matches (vec_id == query_id) are
    excluded by STRING comparison (postings store ids as strings),
    so string-keyed corpora work too; `id_out_type` picks the output
    vec_id type (default long, the numeric-id convention of the
    `embeddings` table). An empty query frame returns an empty
    result, matching `cosine_topk_ivf`.

    Cost per query batch: |Q|·C driver dots + a scan of
    n_probe·|Q| cell buckets — independent of corpus size, the whole
    point of persisting the assignment."""
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StringType, StructField, StructType)

    from ..operators.topk import group_rows_slice

    cents = load_centroids(spark, index_path)
    table = f"{index_path}/{CELLS_DIR}"
    man = _ing.read_table_manifest(spark, table)
    if man is None:
        raise ValueError(f"{index_path} has no built cells table")
    qrows = queries.select("query_id", "q_emb").collect()
    probe = [(r["query_id"], [float(x) for x in r["q_emb"]], str(c))
             for r in qrows
             for c in _probe_cells_py(r["q_emb"], cents, n_probe)]
    q_field = queries.schema["query_id"]
    probe_schema = StructType([
        StructField("query_id", q_field.dataType, q_field.nullable),
        StructField("q_emb", ArrayType(DoubleType()), False),
        StructField("cell", StringType(), False)])
    qdf = spark.createDataFrame(probe, probe_schema)
    if not probe:
        return spark.createDataFrame(
            [], StructType([
                probe_schema["query_id"],
                StructField("vec_id", (
                    spark.createDataFrame([], f"v {id_out_type}")
                    .schema["v"].dataType), True),
                StructField("cosine", DoubleType(), True),
                StructField("rank", IntegerType(), False)]))
    cells = sorted({c for _, _, c in probe})
    cdf = spark.createDataFrame([(c,) for c in cells], "cell string")
    idx = group_rows_slice(spark, table, cdf, ["cell"])
    scored = (
        idx.join(F.broadcast(qdf), "cell")
        .where(F.col("vec_id") != F.col("query_id").cast("string"))
        .select("query_id",
                F.col("vec_id").cast(id_out_type).alias("vec_id"),
                cosine(F.col("embedding"), F.col("q_emb")).alias("cosine"))
    )
    return top_k_per_group(scored, ["query_id"],
                           [F.col("cosine").desc(), F.col("vec_id")], k,
                           rank_col="rank")


# --- incremental maintenance -------------------------------------------------

def ann_index_stream_sink(index_path: str,
                          cents: Sequence[tuple[int, list[float], float]],
                          id_col: str = "vec_id",
                          emb_col: str = "embedding",
                          n_buckets: int | None = None,
                          auto_compact: bool = True):
    """A foreachBatch function maintaining the ANN index DIRECTLY from
    the corpus table's retract stream (``merge_table_changes`` with
    ``includeOld=true``) — the push-based twin of `build_ann_index`,
    same contract as `secondary.index_stream_sink`:

    * insert → assign the NEW embedding, add its posting;
    * update touching `emb_col` → remove the OLD embedding's posting
      (old cell derived from ``<emb_col>__old`` — zero source reads),
      add the new one (cell moves re-bucket automatically because the
      cell IS the bucket key);
    * delete → remove the old posting;
    * update NOT touching `emb_col` → filtered out entirely.

    The centroid table is FROZEN at build: postings were assigned
    under it, so maintenance must use the identical quantizer — the
    sink persists `cents` on bootstrap and REFUSES a path whose stored
    quantizer differs (retrain ⇒ rebuild, the standard IVF contract).
    Replay safety: the whole fold is guarded by the cells table's txn
    watermark, so a crash-replayed batch is a complete no-op. Removals
    ride the additions' commit — a removal outside the added postings'
    buckets is a dv tombstone; `auto_compact` materializes them once the
    metadata thresholds trip, keeping a long-running sink
    self-maintaining."""
    cents = [(int(c), [float(x) for x in v], float(n)) for c, v, n in cents]

    def _fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        table = f"{index_path}/{CELLS_DIR}"
        man = _ing.read_table_manifest(spark, table)
        if man is None:
            write_centroids(spark, index_path, cents)
        else:
            if _BUILD_TXN in man.get("txn", {}):
                raise ValueError(
                    f"{index_path} was built by build_ann_index (a "
                    "snapshot-build watermark) — the sink's batch-id "
                    "watermark cannot continue it; replay the stream "
                    "from startingCommit=0 against an empty path")
            if _STREAM_TXN not in man.get("txn", {}):
                raise ValueError(
                    f"{index_path} exists but carries no {_STREAM_TXN} "
                    "watermark — not an index this sink maintains")
            stored = load_centroids(spark, index_path)
            if not _cents_equal(stored, cents):
                raise ValueError(
                    f"{index_path} was built under a different "
                    "quantizer — its postings' cells are stale under "
                    "the new centroids; rebuild the index instead of "
                    "folding into it")
            if batch_id <= int(man.get("txn", {}).get(_STREAM_TXN, -1)):
                return  # crash-replay of an already-applied batch
        touched = F.array_contains(
            F.split(F.col("changed_cols"), ","), emb_col)
        removals = (batch.where(
            (F.col("op") == "delete")
            | ((F.col("op") == "update") & touched))
            .select(_cell_expr(F.col(f"{emb_col}__old"), cents).alias("cell"),
                    F.col(id_col).cast("string").alias("vec_id"))
            .where(F.col("cell").isNotNull()))
        additions = (batch.where(
            (F.col("op") == "insert")
            | ((F.col("op") == "update") & touched))
            .select(_cell_expr(F.col(emb_col), cents).alias("cell"),
                    F.col(id_col).cast("string").alias("vec_id"),
                    F.col(emb_col).alias("embedding"))
            .where(F.col("embedding").isNotNull()))
        if man is None and not removals.isEmpty():
            raise RuntimeError(
                f"{index_path} has no index but the batch carries "
                "removals — replay the stream from "
                "startingCommit=0 so the bootstrap sees the full "
                "history")
        merge = _ing.foreach_batch_upsert(
            table, ["cell", "vec_id"],
            n_buckets=(n_buckets if n_buckets is not None
                       else default_n_buckets(cents)),
            txn_app_id=_STREAM_TXN, bucket_cols=["cell"])
        merge(additions, batch_id, deletes=removals)
        if auto_compact:
            from ..streaming.ingest import maybe_compact
            maybe_compact(spark, table)

    return _fold


# --- pull-based maintenance (build from a merge table + refresh) -------------
#
# The secondary.py twin pair: where the stream sink is push-based
# (every source commit folded as it lands), build/refresh serve the
# cron-shaped deployment — build once from the corpus table's current
# snapshot, then fold the change feed on whatever cadence the ANN
# consumer needs. The index records the last APPLIED source commit
# under its own txn watermark, so a crashed refresh replays
# idempotently and the three maintenance owners (snapshot build,
# stream sink, source-commit refresh) refuse each other's indexes.

#: txn app id recording the last APPLIED source commit (pull path).
_SRC_TXN = "__ann_index_src"


def build_ann_index_from_table(spark: SparkSession, table_path: str,
                               index_path: str,
                               cents: Sequence[tuple[int, list[float], float]],
                               n_buckets: int | None = None,
                               id_col: str = "vec_id",
                               emb_col: str = "embedding") -> None:
    """Create the index from a MERGE TABLE's current snapshot and
    record the source commit it reflects, so the first
    `refresh_ann_index` continues from exactly here (the
    `build_value_index` idiom)."""
    man = _ing.read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    if _ing.read_table_manifest(spark, f"{index_path}/{CELLS_DIR}") is not None:
        raise ValueError(
            f"{index_path} already holds an index — build into a "
            "fresh path (see build_ann_index)")
    write_centroids(spark, index_path, cents)
    if n_buckets is None:
        n_buckets = default_n_buckets(cents)
    postings = _ing.read_merged_table(spark, table_path).select(
        _cell_expr(F.col(emb_col), cents).alias("cell"),
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(emb_col).alias("embedding"),
    ).where(F.col("embedding").isNotNull())
    merge = _ing.foreach_batch_upsert(
        f"{index_path}/{CELLS_DIR}", ["cell", "vec_id"],
        n_buckets=n_buckets, txn_app_id=_SRC_TXN,
        bucket_cols=["cell"])
    merge(postings, int(man["commit"]))


def refresh_ann_index(spark: SparkSession, table_path: str,
                      index_path: str,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding") -> int | None:
    """Fold the corpus table's change feed since the last refresh into
    the index: old cells derived from the feed's `__old` pre-image
    embeddings and new cells from its new payloads (one
    `table_changes` read, O(changed buckets)), under the FROZEN stored
    quantizer. Returns the source commit now reflected (None =
    already current). O(changes) per refresh, crash-replay safe via
    the `_SRC_TXN` watermark."""
    src_man = _ing.read_table_manifest(spark, table_path)
    table = f"{index_path}/{CELLS_DIR}"
    idx_man = _ing.read_table_manifest(spark, table)
    if src_man is None or idx_man is None:
        raise ValueError("source and index must both exist")
    txn = idx_man.get("txn", {})
    if _STREAM_TXN in txn or _BUILD_TXN in txn or _SRC_TXN not in txn:
        raise ValueError(
            f"{index_path} is not a build_ann_index_from_table index "
            "(its watermark namespace belongs to the stream sink or a "
            "one-shot snapshot build) — the source-commit refresh "
            "cannot continue it")
    applied = int(txn[_SRC_TXN])
    current = int(src_man["commit"])
    if current <= applied:
        return None
    cents = load_centroids(spark, index_path)
    origin = list(src_man["origin"])
    cols = (id_col, emb_col)
    ch = _ing.table_changes(spark, table_path, applied, current,
                            include_old=True,
                            select=[c for c in cols if c not in origin])
    # pre-images from `__old`; an origin column has no twin (immutable)
    old = {c: F.col(f"{c}__old" if f"{c}__old" in ch.columns else c)
           for c in cols}
    removals = (ch.where(F.col("op").isin("update", "delete"))
                .select(_cell_expr(old[emb_col], cents).alias("cell"),
                        old[id_col].cast("string").alias("vec_id"))
                .where(F.col("cell").isNotNull()))
    additions = (ch.where(F.col("op").isin("insert", "update"))
                 .select(_cell_expr(F.col(emb_col), cents).alias("cell"),
                         F.col(id_col).cast("string").alias("vec_id"),
                         F.col(emb_col).alias("embedding"))
                 .where(F.col("embedding").isNotNull()))
    merge = _ing.foreach_batch_upsert(table, ["cell", "vec_id"],
                                      txn_app_id=_SRC_TXN,
                                      bucket_cols=["cell"])
    merge(additions, current, deletes=removals)
    _ing.maybe_compact(spark, table)
    return current


# --- blue/green generations: atomic quantizer retrain/swap ------------------
#
# A quantizer retrain invalidates every stored cell assignment, so the
# index refuses in-place rebuilds (`build_ann_index`) and quantizer
# drift (`ann_index_stream_sink`). The operable retrain is therefore
# BLUE/GREEN: build a complete NEW generation (centroids + cells)
# beside the live one, then flip a tiny pointer file atomically.
# Readers resolve the pointer ONCE per query (`live_index_path`) and
# then touch only that generation's immutable layout — a read racing
# the flip sees exactly one generation, old or new, never postings of
# one under the quantizer of the other. Old generations stay readable
# for in-flight queries until `prune_generations`.
#
# Layout at the index ROOT (one level above a single index):
#   root/_live       <- text file naming the live generation dir
#   root/gen-000001/ <- a full index (centroids/ + cells/)
#   root/gen-000002/

_LIVE_PTR = "_live"


def _gen_dir(n: int) -> str:
    return f"gen-{n:06d}"


def _is_checksum_error(e: Exception) -> bool:
    """True iff the py4j error wraps a Hadoop ChecksumException
    anywhere in its Java cause chain. Mirrors the seen-set +
    guarded-call pattern of ingest._is_already_exists: a cyclic cause
    chain terminates, and a py4j failure while INSPECTING the error
    must not mask the original read error."""
    java = getattr(e, "java_exception", None)
    seen = set()
    while java is not None and id(java) not in seen:
        seen.add(id(java))
        try:
            cls = java.getClass().getName()
        except Exception:
            break
        if cls.endswith("ChecksumException"):
            return True
        try:
            java = java.getCause()
        except Exception:
            break
    return False


def _read_pointer(spark: SparkSession, root: str) -> int | None:
    """The live generation NUMBER, or None when no pointer exists.
    ONLY a genuinely absent pointer reads as None: a pointer that
    exists but is malformed raises (treating corruption as 'no index'
    would let init_ann_index silently overwrite it), and a transient
    read failure — IO error, permissions — propagates rather than
    masquerading as 'not initialized'."""
    ptr = f"{root}/{_LIVE_PTR}"
    try:
        name = _ing._read_text(spark, ptr).strip()
    except Exception as e:
        # Read first, classify after — no exists() pre-check. That
        # avoids both the TOCTOU (a pointer deleted between exists and
        # read must read as 'not initialized', not FileNotFound) and a
        # per-read fs.exists RPC on the serving path.
        if _ing._is_not_found(e):
            return None
        # a failed integrity check on the pointer's BYTES is the same
        # corruption class as malformed content; anything else (IO,
        # permissions) keeps propagating
        if _is_checksum_error(e):
            raise ValueError(
                f"{root}/{_LIVE_PTR} fails its checksum — the pointer "
                "is corrupt; repair it by hand (point it at an intact "
                "gen-NNNNNN dir)") from e
        raise
    try:
        if not name.startswith("gen-"):
            raise ValueError(name)
        return int(name[4:])
    except ValueError as e:
        raise ValueError(
            f"{root}/{_LIVE_PTR} names {name!r}, not a generation "
            "dir — the pointer is corrupt; repair it by hand (point "
            "it at an intact gen-NNNNNN dir)") from e


def live_index_path(spark: SparkSession, root: str) -> str:
    """Resolve the live generation — call ONCE per query and keep the
    result; re-resolving mid-query could cross a concurrent flip."""
    n = _read_pointer(spark, root)
    if n is None:
        raise ValueError(
            f"{root} has no live-index pointer — initialize with "
            "init_ann_index")
    return f"{root}/{_gen_dir(n)}"


def _live_gen_number(spark: SparkSession, root: str) -> int:
    return _read_pointer(spark, root) or 0


def _gen_numbers(spark: SparkSession, root: str) -> list[int]:
    lp = _ing._local_path(root)
    if lp is not None:
        # local read path: scandir instead of py4j listStatus (same
        # dispatch as the manifest I/O fast path in streaming/ingest)
        import os

        try:
            return sorted(int(e.name[4:]) for e in os.scandir(lp)
                          if e.name.startswith("gen-")
                          and e.name[4:].isdigit() and e.is_dir())
        except OSError:
            return []
    fs, jvm = _ing._fs(spark, root)
    try:
        statuses = fs.listStatus(jvm.org.apache.hadoop.fs.Path(root))
    except Exception:
        return []
    out = []
    for st in statuses:
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("gen-"):
            try:
                out.append(int(name[4:]))
            except ValueError:
                pass
    return sorted(out)


def init_ann_index(spark: SparkSession, table_path: str, root: str,
                   cents: Sequence[tuple[int, list[float], float]],
                   n_buckets: int | None = None,
                   id_col: str = "vec_id",
                   emb_col: str = "embedding") -> str:
    """Generation 1: build from the corpus table's snapshot and
    publish the pointer. Returns the live generation's path."""
    if _live_gen_number(spark, root) != 0:
        raise ValueError(
            f"{root} already has a live index — retrain_ann_index "
            "flips generations; init is once")
    gen = f"{root}/{_gen_dir(1)}"
    build_ann_index_from_table(spark, table_path, gen, cents,
                               n_buckets=n_buckets, id_col=id_col,
                               emb_col=emb_col)
    _ing._write_text_atomic(spark, f"{root}/{_LIVE_PTR}", _gen_dir(1))
    return gen


def retrain_ann_index(spark: SparkSession, table_path: str, root: str,
                      cents: Sequence[tuple[int, list[float], float]],
                      n_buckets: int | None = None,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding") -> str:
    """Retrain = build generation N+1 under the NEW quantizer from the
    corpus table's current snapshot, then flip the pointer atomically
    (temp-write + rename, the manifest-publish idiom). The swap is the
    only mutation the pointer ever sees, so a crash before the flip
    leaves the old generation live and the half-built one invisible;
    after the flip, maintenance (`refresh_ann_index`) continues on the
    NEW generation from the source commit its build recorded — no
    window is skipped or double-folded. Returns the new live path;
    the previous generation stays on disk for in-flight readers until
    `prune_generations`."""
    n = _live_gen_number(spark, root)
    if n == 0:
        raise ValueError(f"{root} has no live index — init_ann_index first")
    # next FREE number, not live+1: a retrain that crashed before its
    # flip leaves a half-built orphan dir which must be skipped, never
    # continued (build_ann_index_from_table refuses existing paths)
    nxt = max([n] + _gen_numbers(spark, root)) + 1
    gen = f"{root}/{_gen_dir(nxt)}"
    build_ann_index_from_table(spark, table_path, gen, cents,
                               n_buckets=n_buckets, id_col=id_col,
                               emb_col=emb_col)
    _ing._write_text_atomic(spark, f"{root}/{_LIVE_PTR}", _gen_dir(nxt))
    return gen


def prune_generations(spark: SparkSession, root: str) -> list[str]:
    """Drop every generation EXCEPT the live one: superseded
    generations (run after in-flight readers of the old quantizer
    have drained — the vacuum-retention trade) and orphans of crashed
    retrains (the pointer never named them, so no reader can hold
    them). Returns the dirs removed."""
    live = _live_gen_number(spark, root)
    if live == 0:
        raise ValueError(f"{root} has no live index")
    fs, jvm = _ing._fs(spark, root)
    removed = []
    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(root)):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("gen-")):
            continue
        try:
            gen_n = int(name[4:])
        except ValueError:
            continue
        if gen_n != live:
            fs.delete(st.getPath(), True)
            removed.append(name)
    return sorted(removed)
