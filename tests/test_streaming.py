"""Structured Streaming: multi-microbatch ingest, kill-and-restart from
checkpoint yielding an identical final table (SURVEY.md §5 test #3 /
BASELINE.json resumability requirement)."""

from __future__ import annotations

import pandas as pd

from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.oracle import expected_final_state
from binlogsub_spark.pipeline import run_stream
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog, write_binlog

P = GeneratorParams(n_events=6000, n_convs=120, dup_tail=200)


def _oracle(spark):
    return expected_final_state(generate_binlog(spark, P).toPandas())


def _final(table):
    return (
        table.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )


def test_stream_available_now(spark, tmp_path):
    src = str(tmp_path / "binlog")
    write_binlog(spark, src, P, n_files=12)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    q = run_stream(spark, src, table, str(tmp_path / "ckpt"), max_files_per_trigger=3)
    q.awaitTermination(300)
    assert table.snapshot() is not None
    pd.testing.assert_frame_equal(_final(table), _oracle(spark), check_dtype=False)
    # multiple micro-batches actually ran
    lin = table.lineage().toPandas()
    assert lin["batch_id"].nunique() >= 3
    assert int(lin["events"].sum()) == P.n_events + P.dup_tail


def test_kill_and_restart_identical_state(spark, tmp_path):
    """Stop the stream after the first micro-batch, restart from the same
    checkpoint, and require the final table to equal the uninterrupted
    oracle — the reference's reconnect-replay (/root/reference/
    process.cc:163-191) upgraded to exactly-once."""
    src = str(tmp_path / "binlog")
    write_binlog(spark, src, P, n_files=12)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    ckpt = str(tmp_path / "ckpt")

    # phase 1: process a couple of micro-batches, then kill
    import time

    q = run_stream(spark, src, table, ckpt, max_files_per_trigger=2, available_now=False)
    deadline = time.monotonic() + 180
    while table.snapshot() is None or table.snapshot()["batch_id"] < 1:
        if q.exception() is not None:
            raise q.exception()
        assert time.monotonic() < deadline, "stream made no progress"
        time.sleep(0.5)
    q.stop()  # kill mid-stream
    q.awaitTermination(120)
    mid_snapshot = table.snapshot()
    assert mid_snapshot is not None  # made partial progress

    # phase 2: restart from checkpoint, drain the rest
    q2 = run_stream(spark, src, table, ckpt, max_files_per_trigger=4)
    q2.awaitTermination(300)

    pd.testing.assert_frame_equal(_final(table), _oracle(spark), check_dtype=False)
    lin = table.lineage().toPandas()
    # a replay (if the killed batch re-fired) commits no lineage: every
    # delivered event is counted exactly once
    assert not lin.duplicated(["batch_id", "file_seq"]).any()
    assert int(lin["events"].sum()) == P.n_events + P.dup_tail


def test_long_stream_auto_compaction(spark, tmp_path):
    """Many micro-batches must not accumulate unbounded commit dirs: with
    compact_every=4, the live-commit count stays bounded and the final
    state still matches the oracle."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.pipeline import apply_batch

    p = GeneratorParams(n_events=4000, n_convs=80, dup_tail=0)
    ev = generate_binlog(spark, p).cache()
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    cfg = EngineConfig(compact_every=4)
    n_batches = 10
    for i in range(n_batches):
        lo, hi = i * 400, (i + 1) * 400
        apply_batch(
            table,
            ev.where((ev.delivery_seq >= lo) & (ev.delivery_seq < hi)),
            batch_id=i + 1,
            cfg=cfg,
        )
    live_commits = {
        v for v in table.snapshot()["bucket_locations"].values() if v
    }
    assert len(live_commits) <= 5  # bounded, not ~10
    got = (
        table.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )
    pd.testing.assert_frame_equal(
        got, expected_final_state(ev.toPandas()), check_dtype=False
    )
    ev.unpersist()


def test_raw_stream_kill_and_restart(spark, tmp_path):
    """Raw wire mode is equally resumable: kill after partial progress,
    restart from checkpoint, final state identical to structured oracle."""
    import time

    from binlogsub_spark.pipeline import run_stream_raw
    from binlogsub_spark.sources.generator import write_raw_binlog

    p = GeneratorParams(n_events=4000, n_convs=80, dup_tail=150)
    src = str(tmp_path / "rawlog")
    write_raw_binlog(spark, src, p, n_files=8)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    ckpt = str(tmp_path / "ckpt")

    q = run_stream_raw(spark, src, table, ckpt, max_files_per_trigger=2,
                       available_now=False)
    deadline = time.monotonic() + 180
    while table.snapshot() is None:
        if q.exception() is not None:
            raise q.exception()
        assert time.monotonic() < deadline
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    q2 = run_stream_raw(spark, src, table, ckpt, max_files_per_trigger=4)
    q2.awaitTermination(300)
    got = (
        table.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )
    exp = expected_final_state(generate_binlog(spark, p).toPandas())
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_session_metrics_boundary_semantics(spark):
    """Pins Spark's session_window boundary rule: an event exactly gap
    after the previous one MERGES into the session (boundary-inclusive);
    the end is last event + gap. The cdc_session_windows DuckDB oracle
    mirrors exactly this rule — if Spark ever changes it, this fails
    before scripts/check_contract.py does."""
    from datetime import datetime

    from pyspark.sql import functions as F

    def ev(minute, second=0):
        return ("c1", datetime(2026, 1, 1, 12, minute, second))

    df = spark.createDataFrame(
        # 9:59 merges (within gap); 30 breaks (>gap after 9:59);
        # 40 lands exactly ON 30's boundary -> MERGES (inclusive);
        # 50:01 is 1s past 40's boundary -> new session
        [ev(0), ev(9, 59), ev(30), ev(40), ev(50, 1)],
        "conv_id string, server_ts timestamp",
    )
    sessions = df.groupBy(F.session_window("server_ts", "10 minutes"), "conv_id").agg(
        F.count("*").alias("n_changes")
    )
    rows = sorted(sessions.collect(), key=lambda r: r["session_window"]["start"])
    assert len(rows) == 3
    assert rows[0]["n_changes"] == 2  # 12:00 + 12:09:59
    assert rows[0]["session_window"]["end"] == datetime(2026, 1, 1, 12, 19, 59)
    assert rows[1]["n_changes"] == 2  # 12:30 + 12:40 (boundary merges)
    assert rows[1]["session_window"]["end"] == datetime(2026, 1, 1, 12, 50, 0)
    assert rows[2]["n_changes"] == 1


def test_stream_starts_on_empty_landing_zone(spark, tmp_path):
    """The structured stream reads a fixed ENVELOPE_SCHEMA, so it starts on
    an empty landing zone and ingests files that land after it starts."""
    import os

    zone = tmp_path / "zone"
    zone.mkdir()
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    q = run_stream(
        spark, str(zone), table, str(tmp_path / "ckpt"),
        max_files_per_trigger=4, available_now=False,
    )
    try:
        staging = tmp_path / "staging"
        write_binlog(spark, str(staging), P, n_files=12)
        for name in sorted(os.listdir(staging)):
            if name.endswith(".parquet"):  # land each file atomically
                os.rename(staging / name, zone / name)
        q.processAllAvailable()
    finally:
        q.stop()
    pd.testing.assert_frame_equal(_final(table), _oracle(spark), check_dtype=False)


def test_cli_events_seen_counts_a_replayed_batch_once(spark, tmp_path, monkeypatch, capsys):
    """After a restart re-fires an already-committed batch (its merge is a
    replay), the CLI summary still counts every delivered event once."""
    import json
    import os

    from binlogsub_spark import run as run_mod

    # keep the shared test session alive across main()'s spark.stop()
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    monkeypatch.setattr(run_mod, "get_spark", lambda **kw: spark)
    p = GeneratorParams(n_events=2000, n_convs=40, dup_tail=100)
    src, ckpt = str(tmp_path / "binlog"), str(tmp_path / "ckpt")
    write_binlog(spark, src, p, n_files=6)
    argv = [
        "--source", src, "--table", str(tmp_path / "tbl"), "--checkpoint", ckpt,
        "--buckets", "8", "--max-files-per-trigger", "3",
    ]

    def summary() -> dict:
        assert run_mod.main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = summary()
    # forget the last batch's commit marker: the restart re-runs it
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    second = summary()

    # the restart really re-ran the batch (its commit marker is back), and
    # the replay committed nothing
    assert os.path.exists(os.path.join(commits, str(last)))
    assert second["snapshot_id"] == first["snapshot_id"]
    assert first["events_seen"] == second["events_seen"] == p.n_events + p.dup_tail
    assert second["rows"] == first["rows"]
