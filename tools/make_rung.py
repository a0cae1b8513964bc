"""Materialize a larger bench rung by deterministic replication of an
existing SF directory — the opt-in scale step VERDICT r14 #8 asked
for: at sf0.1 every query is fixed-overhead-bound (8-core vs 32-core
ratios ≈ 1), so parallel-path wins are invisible; a x10 rung makes
data-bound queries show real core scaling while keeping the bench
contract untouched (bench.py already reads $SPARK_GRAFT_SF_DIR and
$SPARK_GRAFT_CPUS — point them here).

Replication preserves each table's key arithmetic the way
tools/scale_stress.py does: replica k shifts synthetic ids by
k * shift (event_id/doc_id/vec_id/order keys), where shift is the
smallest power of ten above every id of the id space — so replica id
ranges are disjoint (checked), `% N` derived structure keeps its
distribution for every N dividing the shift, originals survive (fixed
lookup sets like the ANN QUERY_IDS still resolve), and text replicas
get a ' rep<k>' suffix so near-dup pair counts grow ~linearly, never
quadratically. Tables joined on their ids (lineitem → orders, the
hybrid doc_id ↔ vec_id fusion) share one id space and one shift, so
every replica still joins within itself. Dimension tables (region,
nation, supplier, part, customer) are copied as-is — replicating
dimensions would break FK semantics.

Usage:
  python tools/make_rung.py <out_dir> [factor]        # default 10
  SPARK_GRAFT_SF_DIR=<out_dir> SPARK_GRAFT_CPUS=8  python bench.py
  SPARK_GRAFT_SF_DIR=<out_dir> SPARK_GRAFT_CPUS=32 python bench.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: copied verbatim (dimensions / FK targets)
COPY = ["region", "nation", "supplier", "part", "customer"]
#: (table, id columns to shift, text columns to suffix, id space)
REPLICATE = [
    ("events", ["event_id"], [], "event"),
    ("documents", ["doc_id"], ["text"], "doc"),
    ("embeddings", ["vec_id"], [], "doc"),
    ("orders", ["o_orderkey"], [], "order"),
    ("lineitem", ["l_orderkey"], [], "order"),
]


def id_shift(tables, factor: int) -> int:
    """Replica id shift for one id space, given its (frame, id
    columns) pairs: the smallest power of ten above every id."""
    from pyspark.sql import functions as F

    lo, hi = 0, 0
    for df, cols in tables:
        row = df.select(*[F.min(c) for c in cols],
                        *[F.max(c) for c in cols]).first()
        lo = min([lo] + [v for v in row[:len(cols)] if v is not None])
        hi = max([hi] + [v for v in row[len(cols):] if v is not None])
    shift = 10 ** len(str(hi))
    # replica k holds ids in [k*shift + lo, k*shift + hi]: disjoint
    # from every other replica iff 0 <= lo and hi < shift, and within
    # long range iff factor * shift <= 2^63
    if not (0 <= lo and hi < shift and factor * shift <= 2 ** 63):
        raise ValueError(
            f"ids in [{lo}, {hi}] x{factor}: replica ids would collide")
    return shift


def replicate(df, id_cols: list[str], text_cols: list[str],
              factor: int, shift: int):
    """`factor` copies of `df`, copy k with ids shifted by k * shift
    and text suffixed ' rep<k>' (k > 0)."""
    from pyspark.sql import functions as F

    reps = []
    for k in range(factor):
        r = df
        for c in id_cols:
            r = r.withColumn(c, F.col(c) + F.lit(k * shift).cast("long"))
        if k > 0:
            for c in text_cols:
                r = r.withColumn(c, F.concat(F.col(c), F.lit(f" rep{k}")))
        reps.append(r)
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark-graft-rung10"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("make-rung")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)

    import shutil

    for name in COPY:
        src = os.path.join(SRC, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, dst)
        print(f"copied {name}")

    frames = {name: spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
              for name, *_ in REPLICATE}
    shifts = {space: id_shift([(frames[n], ids)
                               for n, ids, _t, sp in REPLICATE
                               if sp == space], factor)
              for *_, space in REPLICATE}
    for name, id_cols, text_cols, space in REPLICATE:
        (replicate(frames[name], id_cols, text_cols, factor, shifts[space])
         .repartition(int(cpus))
         .write.mode("overwrite")
         .parquet(os.path.join(out, f"{name}.parquet")))
        print(f"replicated {name} x{factor} (id shift {shifts[space]})")

    spark.stop()
    print(f"rung ready: {out} (factor {factor} of {SRC})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
