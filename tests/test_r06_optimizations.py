"""Round-6 optimization guards: the plan shapes and edge cases the
optimized operators now rely on."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable, _colocated_lww, bucket_expr
from binlogsub_spark.operators.dedup import partial_lww_reduce
from binlogsub_spark.pipeline import prepare_upserts
from binlogsub_spark.plans.envelope import MERGE_KEY
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_merge_final_reduce_adds_no_exchange(spark):
    """The merge tail must be exactly TWO exchanges: the salted partial
    reduce and the direct bucket colocation over ``min(buckets, shuffle
    partitions)`` partitions; the final LWW reduce grouped by ``_bucket``
    must ride that partitioning (a third Exchange here is the round-5
    shape regressing)."""
    ev = generate_binlog(spark, GeneratorParams(n_events=5000, dup_tail=100))
    up = partial_lww_reduce(prepare_upserts(ev, EngineConfig()))
    w = up.withColumn("_bucket", bucket_expr(MERGE_KEY[0], 16)).withColumn(
        "_origin", F.lit(-1)
    )
    plan = _plan(_colocated_lww(w, 16))
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 2, plan
    # the top exchange is the colocation, over min(16 buckets, the
    # session's 8 shuffle partitions)
    assert "shufflepartitionidpassthrough(" in exchanges[0], plan
    assert "), 8), REPARTITION_BY_NUM" in exchanges[0], plan
    # the final aggregate sits ABOVE the bucket exchange with no exchange
    # of its own between them
    above_bucket_exchange = plan.split("Exchange", 1)[0]
    assert "partial_max" in above_bucket_exchange


def test_observe_mode_fresh_merge_matches_precomputed(spark, tmp_path, count_jobs):
    """A fresh-table merge with no touched set (observe mode, chosen by the
    merge itself) must commit the identical state and bucket_locations as
    a merge given the precomputed touched set, in as many Spark jobs."""
    ev = generate_binlog(
        spark, GeneratorParams(n_events=4000, n_convs=60, dup_tail=200)
    )
    cfg = EngineConfig()
    up = partial_lww_reduce(prepare_upserts(ev, cfg), salt=cfg.skew_salt)

    t_obs = LakeTable(spark, str(tmp_path / "obs"), buckets=16)
    r_obs = {}
    jobs_obs = count_jobs(lambda: r_obs.update(t_obs.merge(up, batch_id=1)))

    touched = sorted(
        r["b"]
        for r in up.select(bucket_expr(MERGE_KEY[0], 16).alias("b"))
        .distinct()
        .collect()
    )
    t_pre = LakeTable(spark, str(tmp_path / "pre"), buckets=16)
    r_pre = {}
    jobs_pre = count_jobs(
        lambda: r_pre.update(t_pre.merge(up, batch_id=1, touched_buckets=touched))
    )

    assert r_obs["applied"] == r_pre["applied"]
    assert jobs_obs == jobs_pre
    assert (
        t_obs.snapshot()["bucket_locations"] == t_pre.snapshot()["bucket_locations"]
    )
    a = sorted(t_obs.read().collect())
    b = sorted(t_pre.read().collect())
    assert a == b


def test_gtid_intervals_stitch_across_blocks(spark):
    """Runs crossing the 4096-gno block boundary must merge into one
    interval (the round-6 block aggregation stitches adjacent local runs
    with a per-uuid window)."""
    from binlogsub_spark.operators.gtid import gtid_executed_intervals

    u = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    rows = (
        [(u, g) for g in range(4090, 4110)]        # spans blocks 0 and 1
        + [(u, g) for g in range(8191, 8194)]      # spans blocks 1 and 2
        + [(u, 12288)]                             # exactly on a boundary
        + [(u, 5), (u, 6), (u, 8)]                 # plain gaps
    )
    df = spark.createDataFrame(rows, "server_uuid string, gno long")
    got = sorted(
        (r["ivl_start"], r["ivl_end"])
        for r in gtid_executed_intervals(df).collect()
    )
    assert got == [(5, 6), (8, 8), (4090, 4109), (8191, 8193), (12288, 12288)]


def test_shingles_deduped_within_doc(spark):
    """array_distinct inside the row must match the old global distinct:
    a doc repeating the same n-gram contributes it once."""
    from binlogsub_spark.functions.dedup import shingle_df

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "x y")], "doc_id long, text string"
    )
    rows = shingle_df(df, n=3).collect()
    got = sorted((r["doc_id"], r["shingle"]) for r in rows)
    # doc 1: 7 positions but only 3 distinct 3-grams; doc 2: too short
    assert got == [(1, "a b c"), (1, "b c a"), (1, "c a b")]


def test_utf8_invalid_mask_bisection():
    """The Arrow UTF-8 validity kernel must flag exactly the invalid rows
    via bisection — including adjacent bad rows, bad rows at both ends,
    and all-valid / all-invalid batches (no per-row loop on clean data)."""
    import numpy as np
    import pyarrow as pa

    from binlogsub_spark.codec import _utf8_invalid_mask

    good = "héllo ✓".encode()
    bad = b"\xbf\x01"  # lone continuation byte
    cases = [
        [good, b"ok", bad, bad, good, bad],
        [bad, good, good],
        [good, good, bad],
        [good] * 5,
        [bad] * 3,
        [],
        [b""],
    ]
    for frames in cases:
        got = _utf8_invalid_mask(pa.array(frames, type=pa.binary()))
        exp = np.array(
            [not _is_utf8(f) for f in frames], dtype=bool
        )
        assert np.array_equal(got, exp), frames


def _is_utf8(b: bytes) -> bool:
    try:
        b.decode("utf-8")
        return True
    except UnicodeDecodeError:
        return False


def test_headers_from_arrow_matches_numpy_gather():
    """The C++ header-slice gather must produce the byte-identical
    structured header view the numpy fancy gather produced (every field,
    both epoch layouts), and raise on ragged input."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from binlogsub_spark.codec import (
        _HEADER_DTYPES,
        _binary_buffers,
        _gather_headers,
        _headers_from_arrow,
        encode_record,
    )

    for v, dt in _HEADER_DTYPES.items():
        frames = [
            encode_record(
                1, 100 + i, 1_700_000_000_000_000 + i, "IUD"[i % 3], v, 1,
                ["user", "assistant", "tool"][i % 3],
                ("tool_3" if v >= 2 and i % 3 == 2 else None),
                i, f"conv_{i:04d}", f"text payload {i} ü"
            )
            for i in range(257)
        ]
        arr = pa.array(frames, type=pa.binary())
        starts, ends, data = _binary_buffers(arr)
        a = _headers_from_arrow(arr, dt)
        b = _gather_headers(data, starts, dt)
        assert a is not None
        for name in dt.names:
            assert np.array_equal(a[name], b[name]), (v, name)
    # ragged (a frame shorter than the header) raises
    dt = list(_HEADER_DTYPES.values())[0]
    short = pa.array([frames[0], b"tiny"], type=pa.binary())
    with pytest.raises(ValueError, match="frame shorter than"):
        _headers_from_arrow(short, dt)
