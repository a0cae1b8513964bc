"""Registry queries for corpus cleaning (C4-style boilerplate-span
removal) and BM25 ranking, with exact DuckDB oracles mirroring the
same md5 / IEEE-double arithmetic (training/cleaning.py,
training/ranking.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tables import load
from ..training import cleaning as C
from ..training import ranking as R
from ._helpers import apply_runtime_conf

_MD5_LONG = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

_NORM_CTE = r"""
norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents
)
"""


# --- C4-style duplicate-span removal --------------------------------------

def doc_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    return C.boilerplate_clean(load(spark, sf_dir, "documents"))


def _c4_sql(span_words: int = C.SPAN_WORDS,
            max_span_docs: int = C.MAX_SPAN_DOCS) -> str:
    span_h = _MD5_LONG.format(x="span")
    return "WITH " + _NORM_CTE + f""",
w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM norm),
spans AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS span_idx,
         array_to_string(
           list_slice(words, (i-1)*{span_words} + 1, i*{span_words}),
           ' ') AS span
  FROM w, unnest(generate_series(
    1, GREATEST(CAST(ceil(len(words) / {span_words}.0) AS BIGINT), 1)))
    AS t(i)
),
hashed AS (SELECT doc_id, span_idx, span, {span_h} AS span_h FROM spans),
dfc AS (
  SELECT span_h, COUNT(DISTINCT doc_id) AS span_docs
  FROM hashed GROUP BY span_h
),
flagged AS (
  SELECT h.doc_id, h.span_idx, h.span,
         (d.span_docs > {max_span_docs}) AS is_boiler
  FROM hashed h JOIN dfc d USING (span_h)
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CAST(is_boiler AS BIGINT)) AS BIGINT) AS n_removed,
         COALESCE(array_to_string(
           list(span ORDER BY span_idx) FILTER (WHERE NOT is_boiler),
           ' '), '') AS clean_text,
         COUNT(*) FILTER (WHERE NOT is_boiler) AS n_kept
  FROM flagged GROUP BY doc_id
)
SELECT doc_id, n_spans, n_removed,
       CAST(CASE WHEN n_kept > 0
                 THEN len(string_split(clean_text, ' '))
                 ELSE 0 END AS BIGINT) AS clean_n_words,
       md5(clean_text) AS clean_md5
FROM agg
"""


DOC_C4_CLEAN_SQL = _c4_sql()


# --- cross-doc duplicated-span coverage (ExactSubstr signal) ---------------

def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    return C.dup_span_stats(load(spark, sf_dir, "documents"))


def _dup_spans_sql(k: int = C.DUP_GRAM_WORDS) -> str:
    gram_h = _MD5_LONG.format(
        x=f"array_to_string(list_slice(words, i + 1, i + {k}), ' ')")
    return "WITH " + _NORM_CTE + f""",
w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM norm),
base AS (SELECT doc_id, len(words) AS n_words, words FROM w),
pos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, {gram_h} AS h
  FROM base, unnest(generate_series(0, n_words - {k})) AS t(i)
  WHERE n_words >= {k}
),
hot AS (
  SELECT h FROM pos GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN hot USING (h)),
inc AS (
  SELECT doc_id, pos,
         pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS delta
  FROM dup
),
cov AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
         CAST(SUM(CASE WHEN delta IS NULL THEN {k}
                       ELSE LEAST(delta, {k}) END) AS BIGINT) AS dup_tokens
  FROM inc GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_words AS BIGINT) AS n_words,
       CAST(GREATEST(b.n_words - {k - 1}, 0) AS BIGINT) AS n_grams,
       COALESCE(c.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(c.dup_tokens, 0) AS dup_tokens,
       CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
         / CAST(b.n_words AS DOUBLE) AS dup_frac
FROM base b LEFT JOIN cov c USING (doc_id)
"""


DOC_DUP_SPANS_SQL = _dup_spans_sql()


# --- BM25 top-k -----------------------------------------------------------

BM25_QUERIES = {
    "q_merge": ["merge", "batch"],
    "q_scan": ["scan", "fast", "value"],
    "q_spark": ["spark", "table"],
}
BM25_K = 10


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    return R.bm25_topk(load(spark, sf_dir, "documents"), BM25_QUERIES,
                       k=BM25_K)


def _bm25_sql(k: int = BM25_K, k1: float = R.BM25_K1,
              b: float = R.BM25_B, prelude: str = "",
              src: str = "documents") -> str:
    qvals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in sorted(BM25_QUERIES.items())
        for t in sorted(set(terms)))
    # Literals rendered via repr() of the exact Python doubles the
    # Spark plan uses (k1+1.0 is computed in Python there), so both
    # engines parse the identical IEEE value.
    k1_plus_1, one_minus_b = repr(k1 + 1.0), repr(1.0 - b)
    norm_cte = _NORM_CTE.replace("FROM documents", f"FROM {src}")
    return "WITH " + prelude + norm_cte + f""",
w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM norm),
ex AS (SELECT doc_id, len(words) AS dl, unnest(words) AS term FROM w),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(ANY_VALUE(dl) AS BIGINT) AS dl
  FROM ex GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM (SELECT doc_id, ANY_VALUE(dl) AS dl FROM tf GROUP BY doc_id)
),
q(query_id, term) AS (VALUES {qvals}),
pt AS (
  SELECT q.query_id, tf.doc_id, tf.term,
         ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
          / (CAST(df AS DOUBLE) + 0.5))
         * (CAST(tf AS DOUBLE) * {k1_plus_1})
         / (CAST(tf AS DOUBLE)
            + {repr(k1)} * ({one_minus_b}
                            + {repr(b)} * CAST(dl AS DOUBLE)
                              / (CAST(sum_dl AS DOUBLE)
                                 / CAST(n_docs AS DOUBLE)))) AS w
  FROM tf JOIN q USING (term) JOIN dft USING (term) CROSS JOIN corpus
),
scored AS (
  SELECT query_id, doc_id,
         list_sum(list(w ORDER BY term, w)) AS score
  FROM pt GROUP BY query_id, doc_id
)
SELECT * FROM (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


DOC_BM25_TOPK_SQL = _bm25_sql()


# --- BM25 over a prebuilt persistent index --------------------------------

def doc_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same ranking as `doc_bm25_topk` but served from a materialized
    postings index (build once, query without touching the corpus) —
    shares doc_bm25_topk's oracle, so the hash match certifies
    index-serving == direct-scan scoring. The index is a
    deterministic function of the corpus, so it lives in the
    process-wide `fixture_dir` cache: bench's best-of-N runs (fresh
    SparkSession each) measure index SERVING, paying the build
    once."""
    import os

    from ._helpers import fixture_dir

    apply_runtime_conf(spark)

    def _build(path: str) -> None:
        R.build_text_index(load(spark, sf_dir, "documents"),
                           os.path.join(path, "text"))

    base = fixture_dir("bm25_index", sf_dir, _build)
    return R.bm25_topk_indexed(spark, os.path.join(base, "text"),
                               BM25_QUERIES, k=BM25_K)


DOC_BM25_INDEXED_SQL = DOC_BM25_TOPK_SQL


# --- BM25 over an incrementally-maintained index --------------------------

def doc_bm25_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from an index maintained by LSM delta segments:
    base built on 3/4 of the corpus, delta 1 inserts the remaining
    quarter, delta 2 updates every 10th doc (text gains ' spark
    merge', shifting its q_spark/q_merge relevance) and deletes every
    20th-plus-one — queries resolve candidates against tombstones at
    the term level, never rescanning the index. The oracle scores the
    FINAL corpus directly with the certified BM25 SQL, so the hash
    match proves delta-maintained == rebuilt-from-scratch. The
    base+deltas layout is deterministic from the corpus, so it lives
    in the process-wide `fixture_dir` cache (bench measures serving
    against the delta-resolved index, not fixture rebuild)."""
    import os

    from pyspark.sql import functions as F

    from ._helpers import fixture_dir

    apply_runtime_conf(spark)
    docs = load(spark, sf_dir, "documents")

    def _build(path: str) -> None:
        text = os.path.join(path, "text")
        k = F.col("doc_id")
        R.build_text_index(docs.where(k % 4 != 3), text)
        R.update_text_index(spark, text,
                            new_docs=docs.where(k % 4 == 3),
                            removed_docs=None)
        upd = (docs.where(k % 10 == 0)
               .withColumn("text", F.concat(F.col("text"),
                                            F.lit(" spark merge"))))
        removed = docs.where((k % 10 == 0) | (k % 20 == 1))
        R.update_text_index(spark, text, new_docs=upd,
                            removed_docs=removed)

    base = fixture_dir("bm25_incr_index", sf_dir, _build)
    return R.bm25_topk_indexed(spark, os.path.join(base, "text"),
                               BM25_QUERIES, k=BM25_K)


_INCR_PRELUDE = """corpus_incr AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text || ' spark merge'
              ELSE text END AS text
  FROM documents WHERE doc_id % 20 <> 1
),
"""

DOC_BM25_INCR_SQL = _bm25_sql(prelude=_INCR_PRELUDE, src="corpus_incr")


def doc_bm25_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from an index maintained entirely by the RETRACT
    STREAM (`training/ranking.py:text_index_stream_sink`): the
    documents corpus lands in a versioned merge table over four
    commits (base insert, late insert, every-10th text update, dv
    delete of every-20th-plus-one), `drain_changes` delivers the
    change feed one batch per commit, and the sink
    bootstraps then maintains the LSM index with zero source reads —
    batch-id exactly-once via the stats-row watermark. The final
    logical corpus is the SAME as `doc_bm25_incr`'s, so this shares
    its oracle: a green hash proves stream-maintained ==
    rebuilt-from-scratch BM25. Table + index are one fixture; bench
    measures index SERVING."""
    import os

    from pyspark.sql import functions as F

    from ..streaming.drain import drain_changes
    from ..streaming.ingest import delete_origins, foreach_batch_upsert
    from ._helpers import fixture_dir

    apply_runtime_conf(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")

    def _build(path: str) -> None:
        table = os.path.join(path, "table")
        idx = os.path.join(path, "text")
        merge = foreach_batch_upsert(table, ["doc_id"], n_buckets=4,
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(docs.where(k % 4 != 3), 1)
        merge(docs.where(k % 4 == 3), 2)
        merge(docs.where(k % 10 == 0)
              .withColumn("text", F.concat(F.col("text"),
                                           F.lit(" spark merge"))), 3)
        delete_origins(spark, table,
                       docs.where(k % 20 == 1).select("doc_id"),
                       strategy="dv")
        drain_changes(spark, table,
                      R.text_index_stream_sink(idx, "text", "doc_id"))

    base = fixture_dir("bm25_stream_index", sf_dir, _build)
    return R.bm25_topk_indexed(spark, os.path.join(base, "text"),
                               BM25_QUERIES, k=BM25_K)


DOC_BM25_STREAM_SQL = DOC_BM25_INCR_SQL
