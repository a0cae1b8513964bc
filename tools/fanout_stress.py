"""Measured fan-out maintenance evidence: ONE change-feed drain
feeding K=3 sinks (`streaming/drain.py:fan_out`) vs K SEPARATE
drains — the read-amplification argument, appended to
SCALE_EVIDENCE.md.

Each consumer of a table's feed normally runs its own drain: every
commit's bucket scan + Arrow diff then runs once PER CONSUMER, and so
does the per-drain fixed cost (manifest reads, batch planning).
`fan_out` runs the diff once, persists the
batch, and applies every sink to the materialized result — cost
should approach 1/K of the separate-drain total as the diff grows,
with the converged states byte-identical either way (asserted).

Run: python tools/fanout_stress.py [out_md]  (default SCALE_EVIDENCE.md)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTORS = (1, 3, 10)
BASE_ROWS = 100_000
N_GROUPS = 200
N_CATS = 50


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from engagement_data_pipeline_spark.streaming import ingest as ing
    from engagement_data_pipeline_spark.streaming import mv as MV
    from engagement_data_pipeline_spark.streaming.drain import (
        drain_changes, fan_out)
    from engagement_data_pipeline_spark.streaming.secondary import (
        index_stream_sink)

    out_md = sys.argv[1] if len(sys.argv) > 1 else "SCALE_EVIDENCE.md"
    spark = (SparkSession.builder.master(f"local[{os.cpu_count()}]")
             .appName("fanout-stress")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    metrics = {"n": ("origin", "count")}

    def data(lo, hi, bump=0):
        return (spark.range(lo, hi)
                .select(F.concat(F.lit("k"), F.col("id").cast("string"))
                        .alias("origin"),
                        F.concat(F.lit("g"),
                                 ((F.col("id") + bump) % N_GROUPS)
                                 .cast("string")).alias("grp"),
                        F.concat(F.lit("c"),
                                 ((F.col("id") + bump) % N_CATS)
                                 .cast("string")).alias("cat"),
                        ((F.col("id") + bump) % 997).alias("val")))

    def build_src(root, n, factor):
        src = os.path.join(root, "src")
        merge = ing.foreach_batch_upsert(src, ["origin"],
                                         n_buckets=16 * factor,
                                         txn_app_id="src")
        merge(data(0, n), 1)
        # half-table update: grp/cat/val all change -> the diff carries
        # true retract+add work for every sink
        merge(data(0, n // 2, bump=1), 2)
        return src

    def sinks_for(root, tag):
        return (MV.mv_stream_sink(os.path.join(root, f"mv_grp_{tag}"),
                                  ["grp"], metrics),
                MV.mv_stream_sink(os.path.join(root, f"mv_cat_{tag}"),
                                  ["cat"], metrics),
                index_stream_sink(os.path.join(root, f"idx_{tag}"),
                                  "cat", ["origin"], n_buckets=8))

    rows = []
    for factor in FACTORS:
        n = BASE_ROWS * factor
        root = tempfile.mkdtemp(prefix="edp-fanout-")
        src = build_src(root, n, factor)

        sep = sinks_for(root, "sep")
        t0 = time.perf_counter()
        for sink in sep:
            drain_changes(spark, src, sink)
        t_sep = time.perf_counter() - t0

        fo = sinks_for(root, "fo")
        t0 = time.perf_counter()
        drain_changes(spark, src, fan_out(*fo))
        t_fan = time.perf_counter() - t0

        # converged states identical either way
        for name in ("mv_grp", "mv_cat"):
            a = (MV.read_mv(spark, os.path.join(root, f"{name}_sep"),
                            metrics).agg(F.sum("n"), F.count("*")).first())
            b = (MV.read_mv(spark, os.path.join(root, f"{name}_fo"),
                            metrics).agg(F.sum("n"), F.count("*")).first())
            assert tuple(a) == tuple(b) and a[0] == n, (name, a, b)
        ia = ing.read_merged_table(spark,
                                   os.path.join(root, "idx_sep")).count()
        ib = ing.read_merged_table(spark,
                                   os.path.join(root, "idx_fo")).count()
        assert ia == ib == n, (ia, ib)

        rows.append((factor, n, round(t_sep, 2), round(t_fan, 2),
                     round(t_sep / t_fan, 2)))
        print(f"x{factor} rows={n} separate_s={t_sep:.2f} "
              f"fanout_s={t_fan:.2f} ratio={t_sep / t_fan:.2f}",
              flush=True)

    with open(out_md, "a") as f:
        f.write("\n## Fan-out maintenance: ONE drain + 3 sinks vs 3 "
                "separate drains (measured; half-table update, "
                "constant bucket bytes)\n\n")
        f.write("| factor | table_rows | separate_seconds | "
                "fanout_seconds | separate/fanout |\n|---|---|---|---|---|\n")
        for factor, n, ts, tf, ratio in rows:
            f.write(f"| x{factor} | {n} | {ts} | {tf} | {ratio}x |\n")
        f.write("\nReading: the separate-drain total carries the "
                "feed's bucket scan + Arrow diff (and the per-drain "
                "fixed cost) once PER CONSUMER; fan_out pays them "
                "once and fans the persisted batch into every sink, "
                "so the gap widens as the diff grows. Converged MV "
                "sums/counts and index posting counts are asserted "
                "identical between the two strategies at every "
                "factor.\n")
    print(f"appended to {out_md}")


if __name__ == "__main__":
    main()
