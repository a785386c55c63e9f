"""Build a scaled copy of an sf dir for bench A/Bs (the driver generates
its own large-sf data; this replicates sf0.1 REPL times with shifted ids
so suite queries run at driver-bench scale). Usage:

    python scripts/make_scaled_sf.py [src_dir] [dst_dir] [repl]
"""
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlogsub_spark.session import get_spark

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfbench/sf1.0"
REPL = int(sys.argv[3]) if len(sys.argv) > 3 else 10

# (table, id columns shifted per replica) — every column shifts by the SAME
# amount, so FK pairs (o_orderkey/l_orderkey) stay aligned and join
# densities survive the replication
SHIFTS = {
    "documents": ["doc_id"],
    "events": ["event_id"],
    "embeddings": ["vec_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
}
COPY = ["region", "nation", "customer", "supplier", "part"]

spark = get_spark(app_name="make-scaled-sf", master="local[32]")
from pyspark.sql import functions as F

os.makedirs(DST, exist_ok=True)
# one replica shift past every shifted id, so no replica collides with
# another's ids, whatever their range
SHIFT = 1 + max(
    spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).agg(F.max(c)).first()[0]
    for t, ids in SHIFTS.items()
    for c in ids
)
print("replica id shift", SHIFT, flush=True)
reps = spark.range(REPL).select(F.col("id").alias("_rep"))
for t, ids in SHIFTS.items():
    df = spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).crossJoin(reps)
    for c in ids:
        df = df.withColumn(c, F.col(c) + F.col("_rep") * SHIFT)
    (
        df.drop("_rep")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(DST, f"{t}.parquet"))
    )
    print("scaled", t, flush=True)
for t in COPY:
    src = os.path.join(SRC, f"{t}.parquet")
    dst = os.path.join(DST, f"{t}.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst, dirs_exist_ok=True)
    else:
        shutil.copy(src, dst)
    print("copied", t, flush=True)
open(os.path.join(DST, "_DONE"), "w").close()
spark.stop()
print("done:", DST)
