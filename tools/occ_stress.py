"""Measured OCC contention evidence: commit throughput of the
versioned merge table under 1/2/4 concurrent writers, plus one
`compact_table` thread racing 2 merge writers, appended to
SCALE_EVIDENCE.md. Each writer applies the same number of small
merges to ONE shared table; total commits are fixed, so the wall
clock isolates arbitration cost (lost publishes + rebase retries)
from data volume. The commit count invariant (commits == merges
exactly, plus the compaction if it landed) shows no commit lost and
none doubled.

The compaction case measures the trade of lease-free commits: a long
writer holds nothing, so it can keep losing its publish to a stream
of short merges; after MAX_COMMIT_RETRIES lost races it raises
CommitUsurpedError and the case reports it did not land.

Per case: wall seconds, commits, lost publishes (every
ConcurrentCommitError raised) and whether the compaction landed.

Run: python tools/occ_stress.py [out_md]  (default SCALE_EVIDENCE.md)
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOTAL_MERGES = 24


def main() -> None:
    import tempfile

    from pyspark.sql import SparkSession

    from engagement_data_pipeline_spark.streaming import ingest as ing

    out_md = sys.argv[1] if len(sys.argv) > 1 else "SCALE_EVIDENCE.md"
    spark = (SparkSession.builder.master(f"local[{os.cpu_count()}]")
             .appName("occ-stress")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    lost = [0]
    lock = threading.Lock()
    init = ing.ConcurrentCommitError.__init__

    def counting_init(self, *a, **kw):
        with lock:
            lost[0] += 1
        init(self, *a, **kw)

    ing.ConcurrentCommitError.__init__ = counting_init

    def batch(tag: str, n: int = 50):
        return spark.createDataFrame(
            [(f"{tag}_{i}", "v") for i in range(n)],
            "origin string, payload string")

    rows = []
    for n_writers, compact in ((1, False), (2, False), (4, False),
                               (2, True)):
        path = os.path.join(tempfile.mkdtemp(prefix="edp-occ-"), "t")
        per_writer = TOTAL_MERGES // n_writers
        seed = 0
        if compact:
            # compaction of a missing table is a no-op: seed one commit
            ing.foreach_batch_upsert(path, ["origin"], n_buckets=8)(
                batch("seed"), 0)
            seed = 1
        landed = []

        def writer(w: int):
            merge = ing.foreach_batch_upsert(
                path, ["origin"], n_buckets=8, txn_app_id=f"w{w}")
            for b in range(per_writer):
                merge(batch(f"w{w}_b{b}"), b)

        def compactor():
            try:
                ing.compact_table(spark, path, vacuum=False)
                landed.append(True)
            except ing.CommitUsurpedError:
                landed.append(False)

        threads = [threading.Thread(target=writer, args=(w,))
                   for w in range(n_writers)]
        if compact:
            threads.append(threading.Thread(target=compactor))
        lost[0] = 0
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        man = ing.read_table_manifest(spark, path)
        n_rows = ing.read_merged_table(spark, path).count()
        expect = seed + TOTAL_MERGES + sum(landed)
        assert man["commit"] == expect, (man["commit"], expect)
        assert n_rows == (seed + TOTAL_MERGES) * 50, n_rows
        shutil.rmtree(os.path.dirname(path))
        rows.append((n_writers, "yes" if compact else "no",
                     man["commit"], round(wall, 2), lost[0],
                     ("yes" if landed[0] else "no") if compact else "-"))
        print(rows[-1], flush=True)

    lines = [
        "",
        "## OCC contention (measured; shared table, fixed total merges)",
        "",
        "| merge writers | + compaction | commits | seconds | "
        "lost publishes | compaction landed |",
        "|---|---|---|---|---|---|",
    ]
    for w, c, n, s, lp, ok in rows:
        lines.append(f"| {w} | {c} | {n} | {s} | {lp} | {ok} |")
    lines += [
        "",
        "Reading: every run ends at exactly `commits == merges` (plus",
        "the seed and a landed compaction) with all rows present —",
        "contention costs retries, never correctness. Losers rebase on",
        "O(touched buckets) work and a publish is one O(1) metadata op,",
        "backing the SCALING.md round-6 argument that contention scales",
        "with writer count, not data.",
    ]
    with open(out_md, "a") as f:
        f.write("\n".join(lines) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
