"""Crash matrix of the commit protocol: each durable step of a micro-batch
raises once, then the same batch_id re-runs (or the stream restarts from its
checkpoint). Every case must converge to the uninterrupted run: the same
live rows, the same watermark, and one lineage row set per committed batch
whose events sum to the input.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from binlogsub_spark import pipeline
from binlogsub_spark.codec import encode_decoded_events
from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake import table as lake_table
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.pipeline import (
    apply_batch,
    apply_mysql_batch,
    apply_raw_batch,
    run_stream_mysql,
)
from binlogsub_spark.sources.generator import (
    GeneratorParams,
    flatten_for_wire,
    generate_binlog,
    transcripts_table_maps,
    write_mysql_binlog,
)

P = GeneratorParams(n_events=1500, n_convs=30, dup_tail=60, events_per_file=300)
# compaction runs right after batch 2 publishes (snapshot 2)
CFG = EngineConfig(compact_every=2)
CRASH_AT = 2


class Crash(Exception):
    """The injected failure."""


def _raise_once(monkeypatch, owner, name, when=lambda *a, **kw: True, after=False):
    """Patch ``owner.name`` so its first call matching ``when`` raises
    :class:`Crash` — before the real call, or right after it with
    ``after``. Returns a list that holds one entry once it fired."""
    real = getattr(owner, name)
    fired = []

    def wrapper(*a, **kw):
        if fired or not when(*a, **kw):
            return real(*a, **kw)
        fired.append(name)
        if after:
            real(*a, **kw)
        raise Crash(name)

    monkeypatch.setattr(owner, name, wrapper)
    return fired


def _name_map():
    m: dict = {}
    for tm in transcripts_table_maps().values():
        m.setdefault((tm.db, tm.table), []).append(tm.columns)
    return m


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Three batches per apply path, plus a MySQL landing zone of three
    files whose table maps sit in the first file only."""
    root = tmp_path_factory.mktemp("crash_inputs")
    ev = generate_binlog(spark, P).cache()
    n = ev.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in (1, 2, 3):
        part = ev.where(F.col("delivery_seq").between(cuts[i - 1], cuts[i] - 1))
        part.write.parquet(str(root / f"structured{i}"))
        raw = encode_decoded_events(flatten_for_wire(part).drop("delivery_seq"))
        raw.write.parquet(str(root / f"raw{i}"))
    ev.unpersist()
    write_mysql_binlog(spark, str(root / "mysql_all"), P, n_files=4, gtids=True)
    frames = spark.read.parquet(str(root / "mysql_all"))
    bounds = [-1, 1, 3, 1 << 30]  # file_seq ranges; maps are file_seq 0
    for i in (1, 2, 3):
        part = frames.where(
            (F.col("file_seq") > bounds[i - 1]) & (F.col("file_seq") <= bounds[i])
        )
        part.write.parquet(str(root / f"mysql{i}"))
        # one file per append, in order: the stream delivers them in turn
        part.coalesce(1).write.mode("append").parquet(str(root / "landing"))
    return root


def _apply(spark, root, path, table, i, dead_letter, cache, audit=None):
    src = spark.read.parquet(str(root / f"{path}{i}"))
    if path == "raw":
        return apply_raw_batch(table, src, i, CFG, dead_letter_path=dead_letter)
    if path == "mysql":
        return apply_mysql_batch(
            table, src, i, CFG, name_map=_name_map(), registry_cache=cache,
            dead_letter_path=dead_letter,
        )
    return apply_batch(table, src, i, CFG, audit=audit)


def _run(spark, root, path, d, arm=None, audit=None):
    """Apply batches 1..3 of ``path`` into a table under ``d``; before
    batch CRASH_AT, ``arm()`` injects the crash, which must fire, and the
    same batch_id re-runs. Returns (table, metrics of the last attempt of
    each batch)."""
    table = LakeTable(spark, str(d / "t"), buckets=8)
    dead, cache, out = str(d / "dead"), {}, []
    for i in (1, 2, 3):
        if i == CRASH_AT and arm is not None:
            fired = arm()
            with pytest.raises(Crash):
                _apply(spark, root, path, table, i, dead, cache, audit)
            assert fired
        out.append(_apply(spark, root, path, table, i, dead, cache, audit))
    return table, out


def _state(table):
    rows = (
        table.read().toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    lin = sorted(
        (r.batch_id, r.file_seq, r.max_log_pos, r.events, r.applied, r.skipped)
        for r in table.lineage().collect()
    )
    return rows, table.snapshot()["watermark"], lin


def _assert_converged(table, ref, n_events):
    rows, wm, lin = _state(table)
    pd.testing.assert_frame_equal(rows, ref[0])
    assert wm == ref[1]
    assert lin == ref[2]
    assert len({(b, f) for b, f, *_ in lin}) == len(lin)
    assert sum(r[3] for r in lin) == n_events


@pytest.fixture(scope="module")
def reference(spark, inputs, tmp_path_factory):
    """The uninterrupted run of every apply path: (state, metrics)."""
    out = {}
    for path in ("structured", "raw", "mysql"):
        table, metrics = _run(spark, inputs, path, tmp_path_factory.mktemp(path))
        state = _state(table)
        assert {r[0] for r in state[2]} == {1, 2, 3}
        out[path] = (state, metrics)
    return out


def _input_events(spark, root, path):
    return sum(spark.read.parquet(str(root / f"{path}{i}")).count() for i in (1, 2, 3))


def _is_commit_dir(self, path, *a, **kw):
    return f"{os.sep}data{os.sep}commit-" in str(path)


STEPS = {
    # the merge's data files land, then the writer dies before the manifest
    "data_write": lambda mp: _raise_once(
        mp, DataFrameWriter, "parquet", _is_commit_dir, after=True
    ),
    "manifest_write": lambda mp: _raise_once(
        mp, lake_table, "_atomic_write",
        lambda p, *a, **kw: os.path.basename(p).startswith("snap-"),
    ),
    # the manifest is on disk, CURRENT still names the parent
    "current_swap": lambda mp: _raise_once(
        mp, lake_table, "_atomic_write",
        lambda p, *a, **kw: os.path.basename(p) == "CURRENT",
    ),
    # the batch is published; the compaction it triggers dies
    "compact_after_publish": lambda mp: _raise_once(mp, LakeTable, "compact"),
}


@pytest.mark.parametrize("step", sorted(STEPS))
def test_structured_step_crash_converges(
    spark, tmp_path, monkeypatch, inputs, reference, step
):
    table, _ = _run(
        spark, inputs, "structured", tmp_path, arm=lambda: STEPS[step](monkeypatch)
    )
    _assert_converged(
        table, reference["structured"][0], _input_events(spark, inputs, "structured")
    )


def test_raising_audit_aborts_staged_snapshot(spark, tmp_path, inputs, reference):
    """An audit that raises (instead of returning False) discards its
    staged snapshot, so the same batch_id can re-run."""
    armed, fired = [], []

    def audit(table, snapshot_id):
        if armed and not fired:
            fired.append(snapshot_id)
            raise Crash("audit")
        return True

    def arm():
        armed.append(True)
        return fired

    table, _ = _run(spark, inputs, "structured", tmp_path, arm=arm, audit=audit)
    _assert_converged(
        table, reference["structured"][0], _input_events(spark, inputs, "structured")
    )


@pytest.mark.parametrize("path", ["raw", "mysql"])
def test_dead_letter_write_crash_converges(
    spark, tmp_path, monkeypatch, inputs, reference, path
):
    dead = str(tmp_path / "dead")
    table, metrics = _run(
        spark, inputs, path, tmp_path,
        arm=lambda: _raise_once(
            monkeypatch, pipeline, "_write_by_batch",
            lambda df, batch_id, p: p == dead, after=True,
        ),
    )
    ref_state, ref_metrics = reference[path]
    _assert_converged(table, ref_state, _input_events(spark, inputs, path))
    assert [m["dead_letter"] for m in metrics] == [m["dead_letter"] for m in ref_metrics]


# ------------------------------------------------------ the MySQL stream --
STREAM_FILES = ("table_maps.json", "gtid_executed.txt", "gtid_positions.json")


def _stream(spark, root, d):
    table = LakeTable(spark, str(d / "t"), buckets=8)
    q = run_stream_mysql(
        spark, str(root / "landing"), table, str(d / "ckpt"), CFG,
        name_map=_name_map(), max_files_per_trigger=1, gtid_auto_position=True,
    )
    q.awaitTermination(300)
    return table


def _side_files(d):
    out = {}
    for name in STREAM_FILES:
        with open(d / "ckpt" / name) as f:
            out[name] = f.read()
    return out


@pytest.fixture(scope="module")
def stream_reference(spark, inputs, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_ref")
    table = _stream(spark, inputs, d)
    state = _state(table)
    assert {r[0] for r in state[2]} == {0, 1, 2}  # one batch per file
    return state, _side_files(d)


@pytest.mark.parametrize("name", STREAM_FILES)
def test_mysql_stream_side_file_crash_converges(
    spark, tmp_path, monkeypatch, inputs, stream_reference, name
):
    """The first write of ``name`` (after batch 0 committed) raises; the
    restarted stream re-runs batch 0 as a replay. The replay still rebuilds
    the table-map registry, GTID cache and executed set from its frames —
    the maps exist only in the first file, so later batches decode only if
    it does."""
    fired = _raise_once(
        monkeypatch, pipeline, "_atomic_write",
        lambda p, *a, **kw: os.path.basename(p) == name,
    )
    with pytest.raises(StreamingQueryException):
        _stream(spark, inputs, tmp_path)
    assert fired
    table = _stream(spark, inputs, tmp_path)
    ref_state, ref_files = stream_reference
    n_frames = spark.read.parquet(str(inputs / "landing")).count()
    _assert_converged(table, ref_state, n_frames)
    assert _side_files(tmp_path) == ref_files
