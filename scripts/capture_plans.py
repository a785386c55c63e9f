"""Dump .explain('formatted') for declared queries + key internal plans.

Usage: python scripts/capture_plans.py OUTDIR SUFFIX q1 q2 ...
Set PYTHONPATH to pick the tree to capture (round-start HEAD vs working
tree) — the judge compares plans/r06/<query>_before.txt vs _after.txt.

Special names (internal plans, not declared queries):
  _merge_jvm    the COW MERGE plan (fresh table, bench shape)
  _raw_decode   decode_raw_events over a raw fixture
"""
import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

OUTDIR, SUFFIX = sys.argv[1], sys.argv[2]
NAMES = sys.argv[3:]
os.makedirs(OUTDIR, exist_ok=True)

sys.path.insert(0, os.environ.get("CAPTURE_TREE", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import __spark_entry__ as entry  # noqa: E402
from binlogsub_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
spark = get_spark(app_name="capture-plans", master="local[4]", shuffle_partitions=8)


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _merge_jvm_df():
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import _colocated_lww, bucket_expr
    from binlogsub_spark.operators.dedup import partial_lww_reduce
    from binlogsub_spark.pipeline import prepare_upserts
    from binlogsub_spark.plans.envelope import MERGE_KEY
    from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog
    from pyspark.sql import functions as F

    ev = generate_binlog(spark, GeneratorParams(n_events=5000, dup_tail=100))
    up = partial_lww_reduce(prepare_upserts(ev, EngineConfig()))
    w = up.withColumn("_bucket", bucket_expr(MERGE_KEY[0], 16)).withColumn(
        "_origin", F.lit(-1)
    )
    # the merge's heavy tail as a fresh 16-bucket table runs it:
    # min(16 buckets, 8 shuffle partitions) partitions, each bucket whole
    # in partition b mod 8, then the partition-local final reduce
    return _colocated_lww(w, 16)


def _raw_decode_df():
    from binlogsub_spark.codec import decode_raw_events
    from binlogsub_spark.sources.generator import GeneratorParams, write_raw_binlog

    tmp = tempfile.mkdtemp(prefix="cap_raw_")
    write_raw_binlog(spark, os.path.join(tmp, "r"), GeneratorParams(n_events=5000, dup_tail=0), n_files=2)
    return decode_raw_events(spark.read.parquet(os.path.join(tmp, "r")))


SPECIAL = {"_merge_jvm": _merge_jvm_df, "_raw_decode": _raw_decode_df}

qs = entry.queries()
for name in NAMES:
    df = SPECIAL[name]() if name in SPECIAL else qs[name](spark, SF)
    out = os.path.join(OUTDIR, f"{name.lstrip('_')}_{SUFFIX}.txt")
    with open(out, "w") as f:
        f.write(_explain(df))
    print("wrote", out, flush=True)
spark.stop()
