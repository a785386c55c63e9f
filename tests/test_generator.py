"""Generator invariants (FIXTURES.md §1 distributions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

P = GeneratorParams(n_events=8000, n_convs=100, dup_tail=300)


def test_deterministic(spark):
    a = generate_binlog(spark, P)
    b = generate_binlog(spark, P)
    agg = F.expr("bit_xor(xxhash64(struct(*)))").alias("h")
    assert a.select(agg).collect() == b.select(agg).collect()


def test_scale_prefix_stable(spark):
    """Row i has identical content at every scale — the property that makes
    small-scale correctness evidence transfer to 10^10."""
    # same absolute evolution point (0.6*2000 == 0.15*8000) so per-id
    # content is scale-invariant
    small = generate_binlog(spark, GeneratorParams(n_events=2000, dup_tail=0, evo_frac=0.6))
    big = generate_binlog(spark, GeneratorParams(n_events=8000, dup_tail=0, evo_frac=0.15))
    big_prefix = big.where(F.col("delivery_seq") < 2000)
    assert small.exceptAll(big_prefix).count() == 0
    assert big_prefix.exceptAll(small).count() == 0


def test_distributions(spark):
    df = generate_binlog(spark, P).cache()
    n = df.count()
    assert n == P.n_events + P.dup_tail

    ops = {r["op"]: r["n"] for r in df.groupBy("op").agg(F.count("*").alias("n")).collect()}
    assert 0.60 < ops["I"] / n < 0.80
    assert 0.12 < ops["U"] / n < 0.28
    assert 0.05 < ops["D"] / n < 0.15

    hot = df.where(
        F.coalesce(F.col("after.conv_id"), F.col("before.conv_id")) == "conv_hot"
    ).count()
    assert 0.2 < hot / n < 0.4  # skewed hot conversation

    noise = df.where(F.col("db_name") == "other").count()
    assert 0.02 < noise / n < 0.10

    # duplicate suffix: same (file_seq, log_pos) delivered twice
    dups = (
        df.groupBy("file_seq", "log_pos").agg(F.count("*").alias("c")).where("c > 1").count()
    )
    assert dups == P.dup_tail

    # out-of-order ts exists (late events)
    evo = df.where(F.col("schema_version") == 2).count()
    assert 0 < evo < n
    df.unpersist()


def test_total_order_unique(spark):
    df = generate_binlog(spark, GeneratorParams(n_events=4000, dup_tail=0))
    assert df.select("file_seq", "log_pos").distinct().count() == 4000


def test_mysql_xids_layout_deterministic(spark, tmp_path):
    """``write_mysql_binlog(xids=True)`` splits the frames across its files
    the same way on every run, and every rows-event lands in the file that
    carries its XID commit marker (a stream over it sees stable batches of
    whole transactions)."""
    import glob

    import pyarrow.parquet as pq

    from binlogsub_spark.mysql_binlog import (
        DELETE_ROWS_EVENT_V2,
        WRITE_ROWS_EVENT_V2,
        XID_EVENT,
    )
    from binlogsub_spark.sources.generator import write_mysql_binlog

    p = GeneratorParams(n_events=3000, n_convs=60, dup_tail=100)

    def files(name):
        path = str(tmp_path / name)
        write_mysql_binlog(spark, path, p, n_files=5, xids=True)
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            t = pq.read_table(f).to_pydict()
            out.append(sorted(zip(t["file_seq"], t["log_pos"], t["payload"])))
        return out

    first, second = files("a"), files("b")
    assert [len(f) for f in first] == [len(f) for f in second]
    assert first == second
    for rows in first:
        kinds = [(fs, lp, payload[4]) for fs, lp, payload in rows]
        xids = {(fs, lp - 64) for fs, lp, k in kinds if k == XID_EVENT}
        events = {
            (fs, lp) for fs, lp, k in kinds
            if WRITE_ROWS_EVENT_V2 <= k <= DELETE_ROWS_EVENT_V2
        }
        assert events and events <= xids
