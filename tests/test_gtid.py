"""GTID-set interval arithmetic: driver-side algebra (hypothesis-checked
against a brute-force set-of-ints model) + distributed interval
compression and replay filtering."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from binlogsub_spark.operators.gtid import (
    filter_executed,
    format_gtid_set,
    gtid_executed_intervals,
    gtid_set_contains,
    gtid_set_subtract,
    gtid_set_union,
    parse_gtid_set,
    split_gtid,
)

U1 = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
U2 = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"


def test_parse_format_roundtrip_and_canonicalization():
    s = f"{U1.upper()}:1-5:11:47-49,{U2}:7"
    g = parse_gtid_set(s)
    assert g == {U1: [(1, 5), (11, 11), (47, 49)], U2: [(7, 7)]}
    assert format_gtid_set(g) == f"{U1}:1-5:11:47-49,{U2}:7"
    # adjacent + overlapping intervals coalesce to canonical form
    assert parse_gtid_set(f"{U1}:1-3:4-6:5-9") == {U1: [(1, 9)]}
    # whitespace after commas (server output style)
    assert parse_gtid_set(f"{U1}:1-2,\n {U2}:3") == {U1: [(1, 2)], U2: [(3, 3)]}
    import pytest

    for bad in (U1, f"{U1}:0", f"{U1}:5-3", f"{U1}:x"):
        with pytest.raises(ValueError):
            parse_gtid_set(bad)


def _model(g):
    """GtidSet -> {uuid: set(int)} brute-force model."""
    return {u: {x for s, e in iv for x in range(s, e + 1)} for u, iv in g.items()}


ivls = st.lists(
    st.tuples(st.integers(1, 60), st.integers(0, 6)).map(lambda t: (t[0], t[0] + t[1])),
    min_size=0,
    max_size=5,
)
gsets = st.fixed_dictionaries({}, optional={U1: ivls, U2: ivls}).map(
    lambda d: {u: iv for u, iv in d.items() if iv}
)


@settings(max_examples=200, deadline=None)
@given(gsets, gsets)
def test_union_subtract_match_set_model(a, b):
    ma, mb = _model(a), _model(b)
    mu = _model(gtid_set_union(a, b))
    assert mu == {
        u: ma.get(u, set()) | mb.get(u, set())
        for u in set(ma) | set(mb)
        if ma.get(u) or mb.get(u)
    }
    ms = _model(gtid_set_subtract(a, b))
    expect = {u: v - mb.get(u, set()) for u, v in ma.items()}
    assert ms == {u: v for u, v in expect.items() if v}
    # canonical: formatting is stable through a parse round-trip
    f = format_gtid_set(gtid_set_subtract(a, b))
    assert format_gtid_set(parse_gtid_set(f)) == f if f else True


@settings(max_examples=100, deadline=None)
@given(gsets, st.integers(1, 70))
def test_contains_matches_model(a, gno):
    m = _model(a)
    assert gtid_set_contains(a, U1, gno) == (gno in m.get(U1, set()))


def test_distributed_interval_compression(spark):
    """gtid_executed_intervals over holey per-transaction rows yields the
    exact maximal runs; no cartesian/window-over-uuid on the big stream
    (plan check: the heavy joins are on (uuid, gno))."""
    rows = [(U1, g) for g in [1, 2, 3, 5, 7, 8, 9, 9, 2]] + [
        (U2, g) for g in [10, 11, 12, 13]
    ]
    df = spark.createDataFrame(rows, "server_uuid string, gno long")
    got = {
        (r["server_uuid"], r["ivl_start"], r["ivl_end"])
        for r in gtid_executed_intervals(df).collect()
    }
    assert got == {(U1, 1, 3), (U1, 5, 5), (U1, 7, 9), (U2, 10, 13)}


def test_split_and_filter_executed_resume(spark):
    """filter_executed drops exactly the already-applied transactions
    (broadcast interval anti-join, event stream never shuffles)."""
    events = spark.createDataFrame(
        [(f"{U1}:{g}", g * 10) for g in range(1, 21)], "gtid string, payload long"
    ).select("*", *split_gtid("gtid"))
    executed = {U1: [(1, 5), (11, 11), (15, 17)]}
    out = filter_executed(events, executed)
    kept = sorted(r["gno"] for r in out.collect())
    assert kept == [6, 7, 8, 9, 10, 12, 13, 14, 18, 19, 20]
    # string-form executed set accepted too
    out2 = filter_executed(events, format_gtid_set(executed))
    assert sorted(r["gno"] for r in out2.collect()) == kept
    # broadcast plan: no exchange on the events side
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_filter_executed_gtids_and_empty_set(spark):
    """The ``uuid:gno`` string form runs the same anti-join (upper-case
    uuids match, a NULL gtid is kept); an empty executed set returns the
    input itself, with no join."""
    from binlogsub_spark.operators.gtid import filter_executed_gtids

    rows = [(f"{U1.upper()}:{g}", g) for g in range(1, 8)] + [(None, 0)]
    df = spark.createDataFrame(rows, "gtid string, n long")
    out = filter_executed_gtids(df, {U1: [(2, 4)]})
    assert sorted(r["n"] for r in out.collect()) == [0, 1, 5, 6, 7]
    assert filter_executed_gtids(df, "") is df
    events = df.select("*", *split_gtid("gtid"))
    assert filter_executed(events, {}) is events


def test_executed_roundtrip_through_collect(spark):
    from binlogsub_spark.operators.gtid import collect_gtid_set

    rows = [(U1, g) for g in [4, 5, 6, 100]] + [(U2, g) for g in [1]]
    df = spark.createDataFrame(rows, "server_uuid string, gno long")
    gset = collect_gtid_set(gtid_executed_intervals(df))
    assert gset == {U1: [(4, 6), (100, 100)], U2: [(1, 1)]}
    assert format_gtid_set(gset) == f"{U1}:4-6:100,{U2}:1"


def test_apply_mysql_batch_gtid_skip_and_track(spark, tmp_path):
    """GTID auto-position at the batch level: track_gtid_set reports the
    batch's canonical executed set; re-applying into a FRESH table with
    skip_gtids=<that set> drops every transaction (source-side resume
    dedup), and a half set applies exactly the other half."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.mysql_binlog import binlog_files_to_frames
    from binlogsub_spark.pipeline import apply_mysql_batch
    from binlogsub_spark.sources.generator import (
        GeneratorParams,
        transcripts_table_maps,
        write_mysql_binlog_files,
    )

    name_map: dict = {}
    for tm in transcripts_table_maps().values():
        name_map.setdefault((tm.db, tm.table), []).append(tm.columns)
    params = GeneratorParams(n_events=800, n_convs=30, dup_tail=0)
    d = str(tmp_path / "binlogs")
    write_mysql_binlog_files(spark, d, params, checksum=True, gtids=True)
    frames = binlog_files_to_frames(spark, d)

    t1 = LakeTable(spark, str(tmp_path / "t1"), buckets=8)
    m1 = apply_mysql_batch(
        t1, frames, batch_id=1, cfg=EngineConfig(), name_map=name_map,
        track_gtid_set=True,
    )
    assert m1["applied"] > 0
    executed = parse_gtid_set(m1["gtid_executed"])
    sid = "12121212-1212-1212-1212-121212121212"
    assert sid in executed
    # one transaction per change event -> a single dense interval
    total_tx = sum(e - s + 1 for s, e in executed[sid])
    assert total_tx == 800

    # skip ALL -> nothing applies
    t2 = LakeTable(spark, str(tmp_path / "t2"), buckets=8)
    m2 = apply_mysql_batch(
        t2, frames, batch_id=1, cfg=EngineConfig(), name_map=name_map,
        skip_gtids=executed,
    )
    assert m2["applied"] == 0
    # watermark still advances over skipped frames (server-side parity)
    assert m2["snapshot_id"] is not None

    # skip the FIRST HALF of gnos -> only later transactions apply
    lo, hi = executed[sid][0][0], executed[sid][-1][1]
    mid = (lo + hi) // 2
    half = {sid: [(lo, mid)]}
    t3 = LakeTable(spark, str(tmp_path / "t3"), buckets=8)
    m3 = apply_mysql_batch(
        t3, frames, batch_id=1, cfg=EngineConfig(), name_map=name_map,
        skip_gtids=half, gtid_lineage=True,
    )
    assert 0 < m3["applied"] < m1["applied"]
    gnos = [
        int(r["gtid"].split(":")[1])
        for r in t3.read().select("gtid").collect()
    ]
    assert gnos and all(g > mid for g in gnos)


def test_stream_gtid_auto_position_frontier(spark, tmp_path):
    """run_stream_mysql(gtid_auto_position=True) persists the cumulative
    executed set across batches; a SECOND stream into a fresh table that
    reuses the checkpoint's gtid_executed.txt applies nothing new."""
    import os

    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import run_stream_mysql
    from binlogsub_spark.sources.generator import (
        GeneratorParams,
        transcripts_table_maps,
        write_mysql_binlog,
    )

    name_map: dict = {}
    for tm in transcripts_table_maps().values():
        name_map.setdefault((tm.db, tm.table), []).append(tm.columns)
    src = str(tmp_path / "src")
    spark_df_files = write_mysql_binlog(
        spark, src, GeneratorParams(n_events=600, n_convs=20, dup_tail=0),
        n_files=3, gtids=True,
    )
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    ckpt = str(tmp_path / "ckpt")
    q = run_stream_mysql(
        spark, src, table, ckpt, cfg=EngineConfig(), name_map=name_map,
        max_files_per_trigger=1, gtid_auto_position=True,
    )
    q.awaitTermination(300)
    n1 = table.read().count()
    assert n1 > 0
    gpath = os.path.join(ckpt, "gtid_executed.txt")
    assert os.path.exists(gpath)
    frontier = parse_gtid_set(open(gpath).read())
    sid = "12121212-1212-1212-1212-121212121212"
    assert sum(e - s + 1 for s, e in frontier[sid]) == 600

    # replay the same source into a FRESH table, resuming from the
    # frontier (fresh checkpoint, seeded with the executed set): every
    # transaction is already executed -> zero rows land
    t2 = LakeTable(spark, str(tmp_path / "tbl2"), buckets=8)
    ckpt2 = str(tmp_path / "ckpt2")
    os.makedirs(ckpt2, exist_ok=True)
    with open(os.path.join(ckpt2, "gtid_executed.txt"), "w") as f:
        f.write(format_gtid_set(frontier))
    q2 = run_stream_mysql(
        spark, src, t2, ckpt2, cfg=EngineConfig(), name_map=name_map,
        max_files_per_trigger=3, gtid_auto_position=True,
    )
    q2.awaitTermination(300)
    assert t2.snapshot() is None or t2.read().count() == 0


def test_atomic_and_auto_position_compose(spark, tmp_path):
    """XID transaction-atomic batching and GTID auto-positioning ride the
    same stream: GTIDs are extracted from the COMMITTED side only (a
    deferred transaction's gno surfaces when its rows do), and the final
    state equals a plain replay."""
    import os

    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import run_stream_mysql
    from binlogsub_spark.sources.generator import (
        GeneratorParams,
        transcripts_table_maps,
        write_mysql_binlog,
    )

    name_map: dict = {}
    for tm in transcripts_table_maps().values():
        name_map.setdefault((tm.db, tm.table), []).append(tm.columns)
    src = str(tmp_path / "src")
    write_mysql_binlog(
        spark, src, GeneratorParams(n_events=500, n_convs=15, dup_tail=0),
        n_files=3, xids=True, gtids=True,
    )

    plain = LakeTable(spark, str(tmp_path / "plain"), buckets=8)
    q = run_stream_mysql(
        spark, src, plain, str(tmp_path / "ck0"), cfg=EngineConfig(),
        name_map=name_map, max_files_per_trigger=3,
    )
    assert q.awaitTermination(600), "plain stream did not finish"

    both = LakeTable(spark, str(tmp_path / "both"), buckets=8)
    ck = str(tmp_path / "ck1")
    q2 = run_stream_mysql(
        spark, src, both, ck, cfg=EngineConfig(), name_map=name_map,
        max_files_per_trigger=1, atomic_commits=True, gtid_auto_position=True,
    )
    assert q2.awaitTermination(600), "atomic+auto-position stream did not finish"

    a = plain.read().sort("conv_id", "turn_idx").collect()
    b = both.read().sort("conv_id", "turn_idx").collect()
    assert a == b
    frontier = parse_gtid_set(
        open(os.path.join(ck, "gtid_executed.txt")).read()
    )
    sid = "12121212-1212-1212-1212-121212121212"
    assert sum(e - s + 1 for s, e in frontier[sid]) == 500
