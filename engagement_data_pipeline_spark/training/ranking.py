"""BM25 relevance ranking over the documents corpus.

The reference exports "sample messages per code" for analysts
(`src/engagement_db_to_analysis/automated_analysis.py:102-106` — an
unranked LIMIT per group); a training-data pipeline needs the ranked
version: given a set of keyword queries, return the top-k most
relevant documents per query. BM25 (Robertson-Sparck-Jones) is the
standard lexical ranker.

Shape at scale (100 TB): one explode (docs → terms), one hash
aggregation for per-(doc, term) tf + per-doc length, one corpus agg
for df + avgdl (collapses to |vocab| + 1 rows), a BROADCAST join of
the tiny query-term table against the tf table (the only touch of
the full corpus), and one top-k window per query. The df table is
|vocab|-sized — broadcast it too; the plan has exactly one wide
shuffle (the tf groupBy).

Cross-engine exactness: the oracle-checked scoring path uses a
RATIONAL idf surrogate, ``idf = (N - df + 0.5) / (df + 0.5)`` —
the argument of the classical ``ln`` idf, monotone in it per term —
because ``ln`` is not bit-stable across engines (same trade as the
HLL raw estimator, operators/stats.py). Every op in the score is
IEEE-defined (+ * /), so Spark and DuckDB agree bitwise. The
classical ``ln`` variant is available via ``log_idf=True`` (pytest
covers that both variants rank identically per single-term queries).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text
from ..operators.topk import top_k_per_group

BM25_K1 = 1.2
BM25_B = 0.75


def term_stats(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """(tf, df) tables for BM25: tf = (doc_id, term, tf, dl) with one
    row per distinct term per doc; df = (term, df) corpus document
    frequencies. One explode + two hash aggs (df is a subset re-group
    of tf, so AQE chains them without an extra exchange). The narrow
    scan is spread first so the explode's map side parallelizes even
    off a single input file; at warehouse scale, persist `tf` when
    both outputs are consumed (it is recomputed per consumer here)."""
    from .text import spread_narrow_scan

    words = F.split(normalize_text(F.col(text_col)), " ")
    exploded = spread_narrow_scan(docs).select(
        F.col(id_col).alias("doc_id"), F.size(words).alias("dl"),
        F.explode(words).alias("term"))
    tf = (exploded.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf"),
               F.first("dl").cast("long").alias("dl")))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return tf, df


def bm25_topk(docs: DataFrame, queries: Mapping[str, Sequence[str]],
              k: int = 10, k1: float = BM25_K1, b: float = BM25_B,
              text_col: str = "text", id_col: str = "doc_id",
              log_idf: bool = False) -> DataFrame:
    """Top-k documents per keyword query, scored by BM25.

    `queries` maps query_id -> list of terms. Returns
    (query_id, doc_id, score, rank), rank 1-based, ties broken by
    doc_id ascending. Scoring order is fixed: per-term weights are
    summed over the query's terms sorted lexically, so the float sum
    is reproducible (and mirrored by the oracle).
    """
    spark = docs.sparkSession
    tf, _ = term_stats(docs, text_col, id_col)

    # Corpus length stats straight off the doc scan (one projection +
    # one scalar agg) — equivalent to re-grouping tf to doc grain
    # (every doc emits >= 1 tf row, dl is constant per doc) but
    # without re-running the explode.
    dl_words = F.split(normalize_text(F.col(text_col)), " ")
    n_docs_avgdl = (docs.select(F.size(dl_words).alias("dl"))
                    .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                         F.sum("dl").cast("long").alias("sum_dl")))
    qrows = [(qid, t) for qid, terms in sorted(queries.items())
             for t in sorted(set(terms))]
    qdf = spark.createDataFrame(qrows, "query_id string, term string")

    # ONE corpus pass: broadcast-filter tf to the query terms first,
    # then take df as a count window over the surviving rows (the
    # full per-term df table would force a second explode — Catalyst
    # does not reuse the tf exchange across the two consumers). The
    # window partitions on ≤ |query terms| keys of already-tiny data.
    from pyspark.sql import Window

    qterms = qdf.select("term").distinct()
    tf = (tf.join(F.broadcast(qterms), "term")
          .withColumn("df", F.count(F.lit(1))
                      .over(Window.partitionBy("term")).cast("long")))

    idf_num = (F.col("n_docs").cast("double") - F.col("df").cast("double")
               + F.lit(0.5))
    idf_den = F.col("df").cast("double") + F.lit(0.5)
    idf = F.log(idf_num / idf_den) if log_idf else idf_num / idf_den
    dl_norm = (F.lit(1.0 - b)
               + F.lit(b) * F.col("dl").cast("double")
               / (F.col("sum_dl").cast("double")
                  / F.col("n_docs").cast("double")))
    w = (idf * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
         / (F.col("tf").cast("double") + F.lit(k1) * dl_norm))

    per_term = (
        tf.join(F.broadcast(qdf), "term")
        .crossJoin(F.broadcast(n_docs_avgdl))
        .select("query_id", "doc_id", "term", w.alias("w"))
    )
    # Deterministic left-to-right sum in term order (array fold, not
    # SUM(): parallel partial aggregation would reorder the adds).
    scored = (
        per_term.groupBy("query_id", "doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "w"))).alias("ws"))
        .select("query_id", "doc_id",
                F.aggregate(F.col("ws"), F.lit(0.0),
                            lambda acc, s: acc + s["w"]).alias("score"))
    )
    return top_k_per_group(scored, ["query_id"],
                           [F.col("score").desc(), F.col("doc_id")], k,
                           rank_col="rank")


def default_term_buckets(n_docs: int) -> int:
    """Postings bucket count from corpus size: ~1 bucket per 1000
    docs, clamped to [4, 32] for this test rig — a small corpus
    otherwise pays 32 near-empty sorted files of pure task overhead.
    A 100 TB corpus should pass an explicit count sized like
    `suggest_n_buckets` (streaming/ingest.py)."""
    return max(4, min(32, int(n_docs) // 1000))


def build_text_index(docs: DataFrame, path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_term_buckets: int | None = None,
                     txn_batch: int = -1) -> None:
    """Materialize the BM25 index: the tf postings (doc_id, term, tf,
    dl) hash-distributed into term-keyed parquet groups plus a one-row
    corpus-stats table (n_docs, sum_dl). Build cost = the one corpus
    explode plus one narrow length-only projection scan for the stats;
    every later query reads postings instead of re-scanning 100 TB of
    text. The stats aggregate is collected FIRST and its n_docs drives
    the default bucket sizing — no separate `docs.count()` corpus
    pass — then written back from the collected row. Postings are
    repartitioned by term hash and written as one file per group, so a
    query's broadcast semi-join touches well-clustered row groups; a
    real deployment would layer `sinks.layout.write_partitioned`
    pruning on top."""
    spark = docs.sparkSession
    words = F.split(normalize_text(F.col(text_col)), " ")
    stats = (docs.select(F.size(words).alias("dl"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum("dl").cast("long").alias("sum_dl"))).first()
    if n_term_buckets is None:
        n_term_buckets = default_term_buckets(stats["n_docs"])
    tf, _ = term_stats(docs, text_col, id_col)
    (tf.repartition(n_term_buckets, F.col("term"))
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(f"{path}/postings"))
    _write_stats(spark, f"{path}/stats",
                 stats["n_docs"], stats["sum_dl"] or 0, txn_batch)


def bm25_topk_indexed(spark, index_path: str,
                      queries: Mapping[str, Sequence[str]], k: int = 10,
                      k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """BM25 over a prebuilt index: identical scores to `bm25_topk`
    (same fold order — the equivalence is pinned by test and by
    sharing the oracle), but the corpus text is never touched — the
    plan is a broadcast semi-join of the query terms against the
    postings scan plus the same window/fold, so query latency scales
    with |postings of the query terms|, not corpus size."""
    from pyspark.sql import Window

    qrows = [(qid, t) for qid, terms in sorted(queries.items())
             for t in sorted(set(terms))]
    qdf = spark.createDataFrame(qrows, "query_id string, term string")
    qterms = qdf.select("term").distinct()
    # deltas/tombstones resolve on the query terms' candidates only
    # (no deltas -> plain base scan, the original path)
    tf = (_resolved_postings(spark, index_path, qterms)
          .withColumn("df", F.count(F.lit(1))
                      .over(Window.partitionBy("term")).cast("long")))
    n_docs_avgdl = _index_stats(spark, index_path)
    idf = ((F.col("n_docs").cast("double") - F.col("df").cast("double")
            + F.lit(0.5)) / (F.col("df").cast("double") + F.lit(0.5)))
    dl_norm = (F.lit(1.0 - b)
               + F.lit(b) * F.col("dl").cast("double")
               / (F.col("sum_dl").cast("double")
                  / F.col("n_docs").cast("double")))
    w = (idf * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
         / (F.col("tf").cast("double") + F.lit(k1) * dl_norm))
    per_term = (tf.join(F.broadcast(qdf), "term")
                .crossJoin(F.broadcast(n_docs_avgdl))
                .select("query_id", "doc_id", "term", w.alias("w")))
    scored = (
        per_term.groupBy("query_id", "doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "w"))).alias("ws"))
        .select("query_id", "doc_id",
                F.aggregate(F.col("ws"), F.lit(0.0),
                            lambda acc, s: acc + s["w"]).alias("score"))
    )
    return top_k_per_group(scored, ["query_id"],
                           [F.col("score").desc(), F.col("doc_id")], k,
                           rank_col="rank")


def rrf_fuse(rankings: Sequence[DataFrame], k0: int = 60,
             k: int | None = None, query_col: str = "query_id",
             doc_col: str = "doc_id") -> DataFrame:
    """Reciprocal-rank fusion of N ranked result lists — the standard
    way to combine lexical (BM25) and vector (ANN) retrieval into one
    hybrid ranking (Cormack et al., SIGIR'09): fused score =
    Σ_lists 1/(k0 + rank), lists where the doc is absent contribute 0.

    Each input needs (query_col, doc_col, rank). Inputs are top-k
    lists — k·|queries| rows each — so the full-outer join chain and
    re-rank window run on data that is tiny regardless of corpus
    size; the corpus-scale work already happened inside the rankers.
    The sum is evaluated in list order (fixed operand order), and
    1/(k0+rank) divides exact integers, so the score is
    bit-reproducible cross-engine. Ties break by doc_col ascending.
    Returns (query_col, doc_col, rrf_score, rank<=k)."""
    fused = None
    contribs = []
    for i, r in enumerate(rankings):
        r = r.select(F.col(query_col), F.col(doc_col),
                     F.col("rank").alias(f"__rank_{i}"))
        fused = r if fused is None else fused.join(
            r, [query_col, doc_col], "full_outer")
        contribs.append(F.coalesce(
            F.lit(1.0) / (F.lit(k0) + F.col(f"__rank_{i}")).cast("double"),
            F.lit(0.0)))
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    scored = fused.select(query_col, doc_col, score.alias("rrf_score"))
    return top_k_per_group(
        scored, [query_col],
        [F.col("rrf_score").desc(), F.col(doc_col)],
        k if k is not None else 1 << 30, rank_col="rank")


# --- incremental index maintenance (LSM-style delta segments) -------------
#
# A 100 TB postings index cannot be rebuilt per ingest batch, and
# updating a TERM-clustered layout in place scatters every changed
# document across the whole term space. The standard answer (Lucene
# segments) is log-structured: each refresh appends a DELTA segment
# (full postings of the new/updated docs, sequence-stamped) plus a
# doc-level TOMBSTONE list for the superseded versions, and corpus
# stats are carried forward cumulatively. Query-time resolution
# happens AFTER the term semi-join, so it runs on the query terms'
# candidate rows joined against the (small, broadcast) tombstone
# list — never on the whole index; `compact_text_index` periodically
# folds deltas into a fresh base to keep both lists short.
#
# Refresh cost is O(changed docs) throughout: the caller feeds the
# OLD text of updated/deleted docs (read from the versioned merge
# table's pre-change snapshot — O(changed buckets) there), so stats
# adjust by exact integer deltas without touching the index.

def _delta_seqs(spark, index_path: str) -> list[int]:
    """Sequence numbers of COMMITTED delta segments. A delta is
    committed iff its final `d####` directory exists — writers stage
    under `deltas/.tmp-*` and rename into place as the last step, so
    a partially-written delta (crash before the stats landed) is
    never visible here."""
    from py4j.protocol import Py4JJavaError

    from ..streaming.ingest import _local_path

    lp = _local_path(index_path)
    if lp is not None:
        # local read path: one scandir instead of a py4j Hadoop
        # listStatus round-trip per query (same dispatch as the
        # manifest I/O fast path in streaming/ingest.py)
        import os

        try:
            return sorted(int(e.name[1:]) for e
                          in os.scandir(os.path.join(lp, "deltas"))
                          if e.name.startswith("d")
                          and e.name[1:].isdigit() and e.is_dir())
        except OSError:
            return []
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/deltas")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        return sorted(int(st.getPath().getName()[1:])
                      for st in fs.listStatus(p)
                      if st.getPath().getName().startswith("d")
                      and st.getPath().getName()[1:].isdigit()
                      and st.isDirectory())
    except Py4JJavaError:
        return []


def _index_stats(spark, index_path: str, seqs: list[int] | None = None):
    """The carried corpus stats of the tail of `seqs` (default: the
    current delta listing)."""
    if seqs is None:
        seqs = _delta_seqs(spark, index_path)
    src = (f"{index_path}/deltas/d{seqs[-1]:04d}/stats" if seqs
           else f"{index_path}/stats")
    from ..streaming.ingest import read_parquet_fast

    return read_parquet_fast(spark, src)


def _txn_of(stats_row) -> int:
    """Applied-stream-batch watermark carried in the stats row; -1 on
    pre-watermark indexes (backward compatible)."""
    if "txn_batch" not in stats_row.__fields__:
        return -1
    v = stats_row["txn_batch"]
    return -1 if v is None else int(v)


def _write_stats(spark, path: str, n_docs: int, sum_dl: int,
                 txn_batch: int) -> None:
    (spark.createDataFrame(
        [(int(n_docs), int(sum_dl), int(txn_batch))],
        "n_docs long, sum_dl long, txn_batch long")
     .write.mode("overwrite").parquet(path))


def update_text_index(spark, index_path: str, new_docs: DataFrame | None,
                      removed_docs: DataFrame | None,
                      text_col: str = "text", id_col: str = "doc_id",
                      txn_batch: int | None = None) -> int | None:
    """Append one delta segment. `new_docs` = inserted + updated docs
    (NEW text); `removed_docs` = updated + deleted docs (OLD text —
    needed only for its doc lengths, so stats adjust in O(changes)).
    Returns the delta sequence number, or None when `txn_batch` was
    given and is at or below the index's applied watermark (a
    replayed stream batch — skipped entirely).

    `txn_batch` is the stream-sink exactly-once hook: the stats row
    carries the highest applied batch id, and the check runs against
    the stats the new delta chains from, publishing watermark +
    postings + tombstones in the delta's one atomic rename — a crash
    anywhere replays to the same decision.

    Crash-atomic AND multi-writer-safe, with the merge table's rule
    for directories: delta N exists iff its no-replace rename
    succeeded. The segment is staged under ``deltas/.tmp-<nonce>``,
    its stats are chained from the tail it listed, and the staged
    directory is renamed to ``d####`` without replacing anything
    (every published delta holds files, so a local rename refuses
    it; remote stores use FileContext's no-replace rename). The writer
    lists the deltas again just before the rename; if the listing
    changed, or the rename lost, it recomputes its stats from the new
    listing and tries the next number. Nothing is held, so a crashed
    writer blocks nobody; its orphaned ``.tmp-*`` is swept by
    `compact_text_index`."""
    import uuid as _uuid
    from functools import reduce

    from ..streaming.ingest import (
        MAX_COMMIT_RETRIES, CommitUsurpedError, _delete_path, _rename_path)

    # one row per doc: a replayed/duplicated row in the change feed
    # must not double-count in the carried stats
    if new_docs is not None:
        new_docs = new_docs.dropDuplicates([id_col])
    if removed_docs is not None:
        removed_docs = removed_docs.dropDuplicates([id_col])

    # Stage the writer-independent parts first (postings, tombstones):
    # these never need rebasing, whoever else commits meanwhile.
    tmp = f"{index_path}/deltas/.tmp-{_uuid.uuid4().hex}"
    if new_docs is not None:
        tf, _ = term_stats(new_docs, text_col, id_col)
        tf.write.mode("overwrite").parquet(f"{tmp}/postings")
    else:
        spark.createDataFrame(
            [], "doc_id long, term string, tf long, dl long"
        ).write.mode("overwrite").parquet(f"{tmp}/postings")
    if removed_docs is not None:
        (removed_docs.select(F.col(id_col).alias("doc_id")).distinct()
         .write.mode("overwrite").parquet(f"{tmp}/removed"))
    else:
        spark.createDataFrame([], "doc_id long").write.mode(
            "overwrite").parquet(f"{tmp}/removed")
    # both sides' doc counts and length sums in ONE aggregate
    words = F.split(normalize_text(F.col(text_col)), " ")
    sides = [docs.select(F.lit(rm).alias("rm"),
                         F.size(words).cast("long").alias("dl"))
             for docs, rm in ((new_docs, False), (removed_docs, True))
             if docs is not None]
    d = {"n_new": 0, "s_new": 0, "n_rm": 0, "s_rm": 0}
    if sides:
        rm, dl = F.col("rm"), F.col("dl")
        d = reduce(DataFrame.unionByName, sides).agg(
            F.count(F.when(~rm, 1)).alias("n_new"),
            F.coalesce(F.sum(F.when(~rm, dl)), F.lit(0)).alias("s_new"),
            F.count(F.when(rm, 1)).alias("n_rm"),
            F.coalesce(F.sum(F.when(rm, dl)), F.lit(0)).alias("s_rm"),
        ).first().asDict()

    published = False
    try:
        seqs = _delta_seqs(spark, index_path)
        for _ in range(MAX_COMMIT_RETRIES):
            seq = (seqs[-1] + 1) if seqs else 1
            cur = _index_stats(spark, index_path, seqs).first()
            applied = _txn_of(cur)
            if txn_batch is not None and txn_batch <= applied:
                return None  # replayed batch: already in the chain
            _write_stats(spark, f"{tmp}/stats",
                         int(cur["n_docs"]) + d["n_new"] - d["n_rm"],
                         int(cur["sum_dl"]) + d["s_new"] - d["s_rm"],
                         max(applied,
                             -1 if txn_batch is None else txn_batch))
            # list again just before the rename: a compaction may have
            # folded the tail these stats chain from and freed `seq`
            now = _delta_seqs(spark, index_path)
            if now == seqs:
                published = _rename_path(
                    spark, tmp, f"{index_path}/deltas/d{seq:04d}")
                if published:
                    return seq
                now = _delta_seqs(spark, index_path)
            seqs = now
        raise CommitUsurpedError(
            f"delta append to {index_path} lost {MAX_COMMIT_RETRIES} "
            "races in a row")
    finally:
        if not published:
            # failed/aborted publish: do not leave a staged orphan for
            # compaction to sweep — remove our own .tmp now
            _delete_path(spark, tmp, recursive=True)


def _resolved_postings(spark, index_path: str,
                       qterms: DataFrame | None = None,
                       seqs: list[int] | None = None) -> DataFrame:
    """Postings with superseded/deleted doc versions resolved away.
    With `qterms`, the term semi-join applies FIRST so resolution
    runs on candidate rows only (the query path); without, resolves
    the full index (the compaction path).

    The delta listing is taken ONCE (or passed in via `seqs`) and used
    for both the postings scan and the tombstone scan: listing twice
    would let a delta committed in between contribute its tombstones
    without its postings, transiently hiding an updated doc from
    queries."""
    if seqs is None:
        seqs = _delta_seqs(spark, index_path)
    segs = [(0, f"{index_path}/postings")] + [
        (s, f"{index_path}/deltas/d{s:04d}/postings") for s in seqs]
    parts = []
    from ..streaming.ingest import read_parquet_fast

    for seq, path in segs:
        df = read_parquet_fast(spark, path)
        if qterms is not None:
            df = df.join(F.broadcast(qterms), "term")
        parts.append(df.withColumn("__seq", F.lit(seq).cast("int")))
    posts = parts[0]
    for p in parts[1:]:
        posts = posts.unionByName(p)
    if not seqs:
        return posts.drop("__seq")
    # one row per removed doc with the LATEST removal sequence
    tombs = None
    for s in seqs:
        t = (read_parquet_fast(spark, f"{index_path}/deltas/d{s:04d}/removed")
             .withColumn("__rseq", F.lit(s).cast("int")))
        tombs = t if tombs is None else tombs.unionByName(t)
    tombs = tombs.groupBy("doc_id").agg(F.max("__rseq").alias("__rseq"))
    # a posting survives unless a removal with a LATER sequence names
    # its doc (an update tombstones at the same seq it re-inserts, so
    # strict inequality keeps the re-inserted rows)
    cond = ((posts["doc_id"] == tombs["doc_id"])
            & (tombs["__rseq"] > posts["__seq"]))
    return posts.join(F.broadcast(tombs), cond, "left_anti").drop("__seq")


def compact_text_index(spark, index_path: str,
                       n_term_buckets: int | None = None) -> None:
    """Fold delta segments into a fresh base (one full resolved
    rewrite — the amortized cost that keeps query-time candidate and
    tombstone lists short), then drop EXACTLY the deltas folded. The
    rewrite is bucketed like the build path: the carried corpus stats
    (already a one-row read here) supply n_docs for
    `default_term_buckets`, so the compacted layout tracks the
    CURRENT corpus size instead of a hard-coded width — no extra
    corpus scan.

    Safe against concurrent `update_text_index` writers: the delta
    listing is snapshotted ONCE; a delta committed after the snapshot
    (or a writer's staged ``.tmp-*``) is left in place — its
    cumulative stats chained off the folded tail, and
    sequence-vs-tombstone resolution is unchanged by folding earlier
    deltas into the seq-0 base, so no committed change is ever lost.
    (Concurrent QUERIES retain the pre-existing brief window between
    the base rewrite and the folded-delta deletion where an unchanged
    doc's postings appear in both; run compaction from the maintenance
    actor if that matters.) Orphaned ``.tmp-*`` staging dirs are swept
    only once older than `CLAIM_STALE_S` (a live writer's staging is
    always younger); ``.claim-*`` files that indexes written before
    lease-free deltas may hold are swept too — nothing reads them."""
    import time as _time

    from ..streaming.ingest import CLAIM_STALE_S

    seqs = _delta_seqs(spark, index_path)
    resolved = _resolved_postings(spark, index_path,
                                  seqs=seqs).localCheckpoint()
    # stats as of the folded tail — NOT the latest: a delta committed
    # after the snapshot carries its own (newer) cumulative stats and
    # stays in place, so the base stats must describe only the base.
    stats_src = (f"{index_path}/deltas/d{seqs[-1]:04d}/stats" if seqs
                 else f"{index_path}/stats")
    stats = spark.read.parquet(stats_src).first()
    if n_term_buckets is None:
        n_term_buckets = default_term_buckets(stats["n_docs"])
    (resolved.repartition(n_term_buckets, F.col("term"))
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(f"{index_path}/postings"))
    # watermark carried through compaction: a replayed stream batch
    # must stay skipped after the deltas that applied it are folded
    _write_stats(spark, f"{index_path}/stats",
                 stats["n_docs"], stats["sum_dl"] or 0, _txn_of(stats))
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path
    deltas = hp(f"{index_path}/deltas")
    fs = deltas.getFileSystem(spark._jsc.hadoopConfiguration())
    for s in seqs:  # only what was actually folded
        try:
            fs.delete(hp(f"{index_path}/deltas/d{s:04d}"), True)
        except Exception:
            pass
    try:
        horizon_ms = (_time.time() - CLAIM_STALE_S) * 1000
        for st in fs.listStatus(deltas):
            name = st.getPath().getName()
            if name.startswith(".claim-") or (
                    name.startswith(".tmp-")
                    and st.getModificationTime() < horizon_ms):
                fs.delete(st.getPath(), True)
    except Exception:
        pass


def text_index_stream_sink(index_path: str, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_deltas: int = 32):
    """A foreachBatch function maintaining the LSM text index DIRECTLY
    from a ``merge_table_changes`` retract stream (includeOld=true) —
    the text-search twin of `mv_stream_sink` / `index_stream_sink`:
    inserts and text-changed updates append new postings, updates and
    deletes tombstone the old doc (its OLD text, from `<col>__old`,
    adjusts the corpus stats), all with ZERO reads of the source
    table. Updates whose text did not change (changed_cols excludes
    `text_col`) are dropped entirely.

        src = (spark.readStream.format("merge_table_changes")
               .option("path", docs_table)
               .option("includeOld", "true").load())
        src.writeStream.foreachBatch(
            text_index_stream_sink(idx, "text", "doc_id")).start()

    Exactly-once: every appended delta carries the stream batch id in
    its stats row (`update_text_index(txn_batch=...)`), checked
    against the stats the delta chains from and published by the
    delta's single atomic rename — a foreachBatch crash-replay of an
    applied batch is a complete no-op, and the watermark survives
    `compact_text_index`.
    The first batch bootstraps the index via `build_text_index` when
    none exists (subscribe from startingCommit=0 and the history
    replay IS the build)."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        op = F.col("op")
        text_update = (op == "update") & F.array_contains(
            F.split(F.col("changed_cols"), ","), text_col)
        new_docs = (batch.where((op == "insert") | text_update)
                    .select(F.col(id_col), F.col(text_col)))
        removed = (batch.where((op == "delete") | text_update)
                   .select(F.col(id_col),
                           F.col(f"{text_col}__old").alias(text_col)))
        if batch.where(op.isin("insert", "delete") | text_update).isEmpty():
            # an empty batch, or one whose changes are all outside the
            # text column: appending a watermark-only delta would grow
            # the segment list per batch; skipping is replay-safe
            # (re-running a batch that produced nothing produces
            # nothing)
            return
        from ..streaming.ingest import _local_path

        lp = _local_path(index_path)
        if lp is not None:
            import os

            exists = os.path.exists(os.path.join(lp, "stats"))
        else:
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/stats")
            exists = p.getFileSystem(
                spark._jsc.hadoopConfiguration()).exists(p)
        if not exists:
            if not removed.isEmpty():
                # Bootstrapping from a batch that carries deletes/old-
                # text updates means the stream did NOT start at the
                # table's beginning (startingCommit>0, or the index dir
                # was wiped mid-stream): building from new_docs alone
                # would silently drop those retractions and every doc
                # indexed before this window. A startingCommit=0 replay
                # is a snapshot diff — pure inserts — so this never
                # fires on a legitimate bootstrap.
                raise RuntimeError(
                    f"{index_path} has no index but the batch carries "
                    "removals — replay the stream from startingCommit=0 "
                    "so the bootstrap sees the full history")
            build_text_index(new_docs, index_path, text_col, id_col,
                             txn_batch=batch_id)
            return
        update_text_index(spark, index_path, new_docs, removed,
                          text_col, id_col, txn_batch=batch_id)
        if max_deltas and len(_delta_seqs(spark, index_path)) > max_deltas:
            # amortized self-maintenance: fold the LSM tail before the
            # per-query candidate/tombstone lists grow with batch count
            compact_text_index(spark, index_path)

    return _fold
