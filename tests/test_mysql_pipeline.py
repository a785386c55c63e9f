"""End-to-end over GENUINE MySQL binlog frames: the full engine path the
reference implements (socket loop -> event parse -> keyed store) expressed
as frames -> registry broadcast -> wave decode -> LWW -> COW MERGE, and its
final table must equal the structured path's on the same logical stream.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.pipeline import apply_batch, apply_mysql_batch, run_stream_mysql
from binlogsub_spark.sources.generator import (
    GeneratorParams,
    generate_binlog,
    transcripts_table_maps,
    write_mysql_binlog,
)

PARAMS = GeneratorParams(n_events=4000, n_convs=60, dup_tail=150)


def _name_map():
    m: dict = {}
    for tm in transcripts_table_maps().values():
        m.setdefault((tm.db, tm.table), []).append(tm.columns)
    return m


def _final(df):
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in df.select("conv_id", "turn_idx", "role", "text", "tool", "ts").collect()
    }


def test_mysql_path_equals_structured_path(spark, tmp_path):
    # structured reference run
    events = generate_binlog(spark, PARAMS)
    t_struct = LakeTable(spark, str(tmp_path / "struct"), buckets=16)
    apply_batch(t_struct, events, batch_id=1, cfg=EngineConfig())

    # genuine MySQL frames, batch-applied
    src = str(tmp_path / "mysqllog")
    write_mysql_binlog(spark, src, PARAMS, n_files=8)
    frames = spark.read.parquet(src)
    t_mysql = LakeTable(spark, str(tmp_path / "mysql"), buckets=16)
    m = apply_mysql_batch(
        t_mysql, frames, batch_id=1, cfg=EngineConfig(), name_map=_name_map()
    )
    assert m["applied"] > 0

    a, b = _final(t_struct.read()), _final(t_mysql.read())
    assert a == b, (
        f"mysql-path table differs: {len(a)} vs {len(b)} rows; "
        f"sample diff {list(dict(set(a.items()) ^ set(b.items())).items())[:3]}"
    )
    # schema epoch: v1 rows (no tool column in their table map) landed as
    # NULL tool via schema-union; v2 tool rows landed with values
    assert t_mysql.read().where(F.col("tool").isNotNull()).count() > 0


def test_mysql_stream_resumes_to_same_state(spark, tmp_path):
    src = str(tmp_path / "mysqllog")
    write_mysql_binlog(spark, src, PARAMS, n_files=8)

    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    q = run_stream_mysql(
        spark, src, table, str(tmp_path / "ckpt"),
        cfg=EngineConfig(), name_map=_name_map(), max_files_per_trigger=2,
    )
    q.awaitTermination(300)

    # re-run over the same source+checkpoint: must be a committed no-op
    snap_before = table.snapshot()["snapshot_id"]
    rows_before = table.read().count()
    q2 = run_stream_mysql(
        spark, src, table, str(tmp_path / "ckpt"),
        cfg=EngineConfig(), name_map=_name_map(), max_files_per_trigger=2,
    )
    q2.awaitTermination(300)
    assert table.read().count() == rows_before
    assert table.snapshot()["snapshot_id"] == snap_before

    # and it matches the batch-applied table
    frames = spark.read.parquet(src)
    t2 = LakeTable(spark, str(tmp_path / "tbl2"), buckets=16)
    apply_mysql_batch(t2, frames, batch_id=1, cfg=EngineConfig(), name_map=_name_map())
    assert _final(table.read()) == _final(t2.read())


def test_binlog_frame_walk_errors(spark, tmp_path):
    """The binlog file source frames a file exactly where the event_len
    walk (``_frame_offsets``) puts the boundaries, and both raise on each
    framing error: missing magic, corrupt event_len, trailing garbage."""
    import re

    import pytest

    from binlogsub_spark.mysql_binlog import (
        BINLOG_MAGIC,
        _frame_offsets,
        binlog_files_to_frames,
        encode_format_description,
        encode_rotate,
    )

    fd = encode_format_description(checksum=True)
    good = BINLOG_MAGIC + fd + encode_rotate("binlog.000002", checksum=True)
    offs = _frame_offsets(good)
    assert offs == [4, 4 + len(fd), len(good)]
    split = [(a, good[a:b]) for a, b in zip(offs, offs[1:])]
    d = tmp_path / "good"
    d.mkdir()
    (d / "binlog.000001").write_bytes(good)
    rows = binlog_files_to_frames(spark, str(d)).orderBy("log_pos").collect()
    assert [(r["log_pos"], bytes(r["payload"])) for r in rows] == split

    corrupt_len = bytearray(good)
    corrupt_len[4 + len(fd) + 9 : 4 + len(fd) + 13] = (5).to_bytes(4, "little")
    cases = {
        "not a binlog file (missing 0xfe 'bin' magic)": b"\xfeBIN" + good[4:],
        f"corrupt frame length 5 at offset {4 + len(fd)}": bytes(corrupt_len),
        "trailing garbage: 3 bytes after last frame": good + b"xyz",
    }
    for i, (msg, blob) in enumerate(cases.items()):
        with pytest.raises(ValueError, match=re.escape(msg)):
            _frame_offsets(blob)
        d = tmp_path / f"bad{i}"
        d.mkdir()
        (d / "binlog.000001").write_bytes(blob)
        with pytest.raises(Exception, match=re.escape(f"binlog.000001: {msg}")):
            binlog_files_to_frames(spark, str(d)).collect()


def test_binlog_files_source_end_to_end(spark, tmp_path):
    """REAL .binlog files (magic, FD with checksum byte, byte-offset
    positions) -> frame split -> full engine: final table equals the
    structured path's on the same logical stream."""
    import numpy as np

    from binlogsub_spark.mysql_binlog import (
        FORMAT_DESCRIPTION_EVENT,
        TABLE_MAP_EVENT,
        _frame_offsets,
        binlog_files_to_frames,
        validate_mysql_frames,
    )
    from binlogsub_spark.sources.generator import write_mysql_binlog_files

    params = GeneratorParams(n_events=3000, n_convs=50, dup_tail=0)
    d = str(tmp_path / "binlogs")
    paths = write_mysql_binlog_files(spark, d, params, checksum=True)
    assert len(paths) >= 1 and paths[0].endswith("binlog.000000")

    # every frame of the first file carries a valid CRC32 trailer
    blob = open(paths[0], "rb").read()
    offs = np.array(_frame_offsets(blob), dtype=np.int64)
    assert offs[0] == 4  # first frame right after the magic
    data = np.frombuffer(blob, dtype=np.uint8)
    assert not validate_mysql_frames(data, offs[:-1], offs[1:], checksum=True).any()

    frames = binlog_files_to_frames(spark, d)
    type_byte = F.hex(F.expr("substring(payload, 5, 1)")).alias("type_byte")
    got = {r["type_byte"]: r["count"] for r in frames.groupBy(type_byte).count().collect()}
    assert got[f"{FORMAT_DESCRIPTION_EVENT:02X}"] == len(paths)
    assert got[f"{TABLE_MAP_EVENT:02X}"] == 3 * len(paths)

    t_files = LakeTable(spark, str(tmp_path / "tf"), buckets=16)
    m = apply_mysql_batch(
        t_files, frames, batch_id=1, cfg=EngineConfig(), name_map=_name_map()
    )
    assert m["applied"] > 0

    t_struct = LakeTable(spark, str(tmp_path / "ts"), buckets=16)
    apply_batch(t_struct, generate_binlog(spark, params), batch_id=1, cfg=EngineConfig())
    assert _final(t_files.read()) == _final(t_struct.read())


def test_mysql_stream_kill_and_restart(spark, tmp_path):
    """Kill the MySQL-frame stream mid-flight, restart from the same
    checkpoint: the final table must equal the uninterrupted batch apply
    (replayed micro-batch lands as a committed no-op)."""
    import time

    src = str(tmp_path / "mysqllog")
    write_mysql_binlog(spark, src, PARAMS, n_files=12)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    ckpt = str(tmp_path / "ckpt")

    q = run_stream_mysql(
        spark, src, table, ckpt, cfg=EngineConfig(), name_map=_name_map(),
        max_files_per_trigger=2, available_now=False,
    )
    deadline = time.monotonic() + 180
    while True:
        try:
            snap = table.snapshot()
        except Exception:
            snap = None
        if snap is not None and snap["batch_id"] >= 1:
            break
        if q.exception() is not None:
            raise q.exception()
        assert time.monotonic() < deadline, "stream made no progress"
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(120)
    assert table.snapshot() is not None  # partial progress committed

    q2 = run_stream_mysql(
        spark, src, table, ckpt, cfg=EngineConfig(), name_map=_name_map(),
        max_files_per_trigger=4,
    )
    q2.awaitTermination(300)

    frames = spark.read.parquet(src)
    t2 = LakeTable(spark, str(tmp_path / "clean"), buckets=16)
    apply_mysql_batch(t2, frames, batch_id=1, cfg=EngineConfig(), name_map=_name_map())
    assert _final(table.read()) == _final(t2.read())


def test_mysql_frames_deadletter_and_resilient_decode(spark, tmp_path):
    """Corrupt MySQL frames (truncation, bad length, flipped CRC) route to
    the dead-letter branch with reason codes, and the decoder drops them
    instead of aborting the task."""
    from pyspark.sql import functions as F

    from binlogsub_spark.mysql_binlog import (
        decode_mysql_events,
        extract_table_maps,
        split_deadletter_mysql,
    )
    from binlogsub_spark.pipeline import override_columns_by_table, scope_registry
    from binlogsub_spark.sources.generator import write_mysql_binlog

    src = str(tmp_path / "m")
    write_mysql_binlog(spark, src, GeneratorParams(n_events=2000, dup_tail=0), n_files=4)
    raw = spark.read.parquet(src)
    m = F.col("log_pos") % 40
    corrupted = raw.withColumn(
        "payload",
        F.when(m == 4, F.expr("substring(payload, 1, 10)"))  # short_frame
        .when(m == 12, F.expr("concat(payload, X'00')"))  # len_mismatch
        # zero the CRC trailer: bad_crc (a real CRC is never 0 here)
        .when(m == 20, F.expr(
            "concat(substring(payload, 1, length(payload) - 4), X'00000000')"))
        .otherwise(F.col("payload")),
    )
    dead = split_deadletter_mysql(corrupted, checksum=True)
    got = {r["_reason"]: r["n"] for r in dead.groupBy("_reason").agg(
        F.count("*").alias("n")).collect()}
    # control frames have log_pos 0 (m==0), data frames log_pos%40 in {4,12,20,28,36}
    for reason, k in (("short_frame", 4), ("len_mismatch", 12), ("bad_crc", 20)):
        want = corrupted.where(m == k).count()
        assert got.get(reason, 0) == want > 0, (reason, got)

    # decoder over the corrupted stream: survives, decodes only valid rows
    reg = scope_registry(extract_table_maps(raw, checksum=True), EngineConfig())
    from binlogsub_spark.sources.generator import transcripts_table_maps
    nm = {}
    for tm in transcripts_table_maps().values():
        nm.setdefault((tm.db, tm.table), []).append(tm.columns)
    ov = override_columns_by_table(reg, nm)
    n_ok = decode_mysql_events(corrupted, reg, column_overrides=ov, checksum=True).count()
    n_all = decode_mysql_events(raw, reg, column_overrides=ov, checksum=True).count()
    assert 0 < n_ok < n_all


def test_registry_cache_across_batches(spark, tmp_path):
    """A micro-batch WITHOUT its TABLE_MAP frames (restart mid-file) still
    decodes via the cross-batch registry cache — the reference's table-map
    cache (packet.cc:194-200); without the cache those rows were silently
    dropped (ADVICE r2 finding 1)."""
    from binlogsub_spark.mysql_binlog import (
        encode_rows_df,
        registry_from_json,
    )
    from binlogsub_spark.sources.generator import transcripts_table_maps

    tmaps = transcripts_table_maps()
    events = generate_binlog(spark, GeneratorParams(n_events=1500, n_convs=40, dup_tail=0))
    from binlogsub_spark.plans.envelope import OP_INSERT  # noqa: F401  (doc)
    flat = events.select(
        "file_seq", "log_pos",
        F.lit("I").alias("op"),
        F.lit(12).alias("table_id"),
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").cast("long").alias("turn_idx"),
        F.lit(1).cast("long").alias("role"),
        F.col("after.text").alias("text"),
        F.lit(None).cast("long").alias("tool"),
        F.col("after.ts").alias("ts"),
    ).where(F.col("conv_id").isNotNull())
    # generator log_pos = 4 + k*128: split on the alternating residue
    half = flat.where(F.col("log_pos") % 256 == 4)
    other = flat.where(F.col("log_pos") % 256 != 4)
    with_maps = encode_rows_df(
        half, tmaps[12], rows_per_event=1, checksum=True,
        file_seq_col="file_seq", log_pos_col="log_pos", tmaps=tmaps,
    )
    NO_maps = encode_rows_df(
        other, tmaps[12], rows_per_event=1, checksum=True,
        file_seq_col="file_seq", log_pos_col="log_pos", tmaps=tmaps,
        include_table_map=False,
    )
    cache: dict = {}
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    m1 = apply_mysql_batch(
        table, with_maps, batch_id=1, cfg=EngineConfig(),
        name_map=_name_map(), registry_cache=cache,
    )
    assert m1["applied"] > 0 and set(cache) >= {11, 12}
    # batch 2 has NO table-map frames: only the cache makes it decodable
    m2 = apply_mysql_batch(
        table, NO_maps, batch_id=2, cfg=EngineConfig(),
        name_map=_name_map(), registry_cache=cache,
    )
    assert m2["applied"] > 0
    total = table.read().count()
    assert total == flat.select("conv_id", "turn_idx").distinct().count()
    # WITHOUT the cache the same batch applies nothing (and with the new
    # known-id accounting it is at least detectable, not silent)
    t2 = LakeTable(spark, str(tmp_path / "tbl2"), buckets=8)
    m3 = apply_mysql_batch(
        t2, NO_maps, batch_id=1, cfg=EngineConfig(), name_map=_name_map()
    )
    assert m3["applied"] == 0


def test_stream_persists_table_map_cache(spark, tmp_path):
    """run_stream_mysql persists the registry cache next to the checkpoint
    (atomic table_maps.json) and a restarted stream reloads it."""
    from binlogsub_spark.mysql_binlog import registry_from_json

    src = str(tmp_path / "mysqllog")
    write_mysql_binlog(
        spark, src, GeneratorParams(n_events=1000, n_convs=30, dup_tail=0), n_files=4
    )
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    ckpt = str(tmp_path / "ckpt")
    q = run_stream_mysql(
        spark, src, table, ckpt, cfg=EngineConfig(), name_map=_name_map(),
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)
    import os

    maps_path = os.path.join(ckpt, "table_maps.json")
    assert os.path.exists(maps_path)
    reloaded = registry_from_json(open(maps_path).read())
    assert set(reloaded) >= {11, 12}
    assert [c.name for c in reloaded[12].columns][:2] == ["col0", "col1"]


def test_gtid_lineage_end_to_end(spark, tmp_path):
    """GTID_LOG_EVENT frames in the stream tag every applied row with its
    transaction's GTID (as-of assignment on (file_seq, log_pos)) — the
    north rule's 'GTID+log-position ordering' carried into the lake as a
    lineage column."""
    from binlogsub_spark.sources.generator import write_mysql_binlog_files

    params = GeneratorParams(n_events=1200, n_convs=40, dup_tail=0)
    d = str(tmp_path / "binlogs")
    write_mysql_binlog_files(spark, d, params, checksum=True, gtids=True)
    from binlogsub_spark.mysql_binlog import binlog_files_to_frames

    frames = binlog_files_to_frames(spark, d)
    table = LakeTable(spark, str(tmp_path / "t"), buckets=8)
    m = apply_mysql_batch(
        table, frames, batch_id=1, cfg=EngineConfig(), name_map=_name_map(),
        gtid_lineage=True,
    )
    assert m["applied"] > 0
    rows = table.read().select("conv_id", "turn_idx", "gtid").collect()
    assert all(r["gtid"] is not None for r in rows)
    sid = "12121212-1212-1212-1212-121212121212"
    gnos = [r["gtid"] for r in rows]
    assert all(g.startswith(sid + ":") for g in gnos)
    # one transaction per change, gnos unique across applied winners
    assert len(set(gnos)) == len(gnos)


def test_dead_letter_sink_and_metrics(spark, tmp_path):
    """apply_mysql_batch(dead_letter_path=...) routes corrupt + unknown-
    table frames to a reason-coded parquet sink, reports a dead_letter
    metric, and still applies the good rows."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "m")
    write_mysql_binlog(spark, src, GeneratorParams(n_events=1000, dup_tail=0), n_files=4)
    raw = spark.read.parquet(src)
    corrupted = raw.withColumn(
        "payload",
        F.when(F.col("log_pos") % 40 == 4, F.expr("substring(payload, 1, 10)"))
        .otherwise(F.col("payload")),
    )
    dl = str(tmp_path / "dead")
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    m = apply_mysql_batch(
        table, corrupted, batch_id=1, cfg=EngineConfig(), name_map=_name_map(),
        dead_letter_path=dl,
    )
    n_bad = corrupted.where(F.col("log_pos") % 40 == 4).count()
    assert m["dead_letter"] == n_bad > 0
    assert m["applied"] > 0
    dead = spark.read.parquet(dl)
    assert dead.count() == n_bad
    assert {r["_reason"] for r in dead.select("_reason").distinct().collect()} == {
        "short_frame"
    }
    # dead-lettered frames stay addressable by position for replay
    assert dead.select("file_seq", "log_pos", "payload").columns == [
        "file_seq", "log_pos", "payload"
    ]

    # REPLAY idempotence (ADVICE r3): a re-fired micro-batch must rewrite
    # its own batch_id partition, not append duplicate dead-letter rows
    m2 = apply_mysql_batch(
        table, corrupted, batch_id=1, cfg=EngineConfig(), name_map=_name_map(),
        dead_letter_path=dl,
    )
    assert m2["replayed"] is True
    dead2 = spark.read.parquet(dl)
    assert dead2.count() == n_bad  # unchanged, not doubled
    assert set(dead2.select("batch_id").distinct().toPandas()["batch_id"]) == {1}


def test_dead_letter_sink_never_changes_the_table(spark, tmp_path):
    """Checksums on: one rows frame with a flipped text byte and one whose
    VARCHAR length was raised both fail their CRC. The decode drops them
    whether or not a dead-letter sink is set, so both tables read back
    equal to the batch applied without those two frames, neither holds the
    flipped text, and the sink records both frames as bad_crc."""
    from binlogsub_spark.mysql_binlog import MYSQL_RAW_SCHEMA, decode_mysql_events

    src = str(tmp_path / "m")
    write_mysql_binlog(spark, src, GeneratorParams(n_events=600, n_convs=20, dup_tail=0), n_files=2)
    frames = [
        (r["file_seq"], r["log_pos"], bytes(r["payload"]))
        for r in spark.read.parquet(src).collect()
    ]
    inserts = decode_mysql_events(
        spark.createDataFrame(frames, MYSQL_RAW_SCHEMA),
        {12: transcripts_table_maps()[12]}, checksum=True,
    ).where("op = 'I'").collect()
    # rows-events have unique positions (table maps all sit at log_pos 0)
    at = {(fs, lp): i for i, (fs, lp, _) in enumerate(frames) if lp}
    picks = []
    for r in inserts:
        i, text = at[(r["file_seq"], r["log_pos"])], r["text"].encode()
        if len(text) >= 5 and frames[i][2].count(text) == 1:
            picks.append((i, frames[i][2].find(text)))
        if len(picks) == 2:
            break
    (flip_i, flip_at), (len_i, len_at) = picks
    flipped = bytearray(frames[flip_i][2])
    flipped[flip_at] ^= 0x02  # 'H' -> 'J': a plausible value, lengths intact
    raised = bytearray(frames[len_i][2])
    raised[len_at - 1] += 1  # high byte of the 2-byte length prefix: +256
    damaged = {flip_i: bytes(flipped), len_i: bytes(raised)}

    def _batch(drop: bool):
        rows = [
            (fs, lp, damaged.get(i, p))
            for i, (fs, lp, p) in enumerate(frames)
            if not (drop and i in damaged)
        ]
        return spark.createDataFrame(rows, MYSQL_RAW_SCHEMA)

    def _apply(name, drop=False, dead=None):
        t = LakeTable(spark, str(tmp_path / name), buckets=8)
        m = apply_mysql_batch(
            t, _batch(drop), batch_id=1, cfg=EngineConfig(), name_map=_name_map(),
            dead_letter_path=dead,
        )
        return _final(t.read()), m

    dead_path = str(tmp_path / "dead")
    plain, _ = _apply("plain")
    sunk, m = _apply("sunk", dead=dead_path)
    want, _ = _apply("want", drop=True)
    assert plain == sunk == want
    flipped_text = bytes(flipped[flip_at : flip_at + 5]).decode(errors="replace")
    assert not any(flipped_text in (v[1] or "") for v in plain.values())
    dead = spark.read.parquet(dead_path).collect()
    assert m["dead_letter"] == 2
    assert sorted((r["file_seq"], r["log_pos"], r["_reason"]) for r in dead) == sorted(
        frames[i][:2] + ("bad_crc",) for i in damaged
    )
    assert len(want) > 100  # the batch still lands: only two frames dropped
