"""Raw wire path end-to-end: binary payload -> Arrow decode -> scope filter
-> LWW -> MERGE must produce the same table as the structured path."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from binlogsub_spark.codec import encode_decoded_events
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.oracle import expected_final_state
from binlogsub_spark.pipeline import apply_raw_batch
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

P = GeneratorParams(n_events=4000, n_convs=100, dup_tail=150)


def _raw(spark, ev):
    img = F.when(F.col("op") == "D", F.col("before")).otherwise(F.col("after"))
    flat = ev.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        img["conv_id"].alias("conv_id"),
        img["turn_idx"].alias("turn_idx"),
        img["role"].alias("role"),
        img["text"].alias("text"),
        F.when(F.col("op") == "D", F.lit(None).cast("string"))
        .otherwise(img["tool"]).alias("tool"),
        img["ts"].alias("ts"),
    )
    return encode_decoded_events(flat)


def test_raw_path_matches_oracle(spark, tmp_path):
    ev = generate_binlog(spark, P).cache()
    raw = _raw(spark, ev)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    metrics = apply_raw_batch(table, raw, batch_id=1)
    assert metrics["events"] == P.n_events + P.dup_tail
    got = (
        table.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )
    # delete-winner keys are absent; before-image text never surfaces
    exp = expected_final_state(ev.toPandas())
    ev.unpersist()
    # the raw encoder stores the before-image text for deletes; winners that
    # are deletes are tombstoned either way, so final state matches exactly
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_raw_path_idempotent_replay(spark, tmp_path):
    ev = generate_binlog(spark, GeneratorParams(n_events=2000, dup_tail=0))
    raw = _raw(spark, ev)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_raw_batch(table, raw, batch_id=1)
    m2 = apply_raw_batch(table, raw, batch_id=1)
    assert m2["replayed"] and m2["applied"] == 0


def test_deadletter_demux(spark):
    """Corrupt payloads route to the dead-letter branch, never crash decode,
    and stay addressable by (file_seq, log_pos) — S5 error demux."""
    from pyspark.sql import functions as F

    from binlogsub_spark.codec import decode_raw_events, split_deadletter

    ev = generate_binlog(spark, GeneratorParams(n_events=1000, dup_tail=0))
    raw = _raw(spark, ev)
    # corrupt ~10%: truncate payloads mid-header
    corrupted = raw.withColumn(
        "payload",
        F.when(F.col("log_pos") % 10 == 4, F.expr("substring(payload, 1, 20)"))
        .otherwise(F.col("payload")),
    )
    valid, dead = split_deadletter(corrupted)
    n_dead = dead.count()
    assert n_dead == corrupted.where("log_pos % 10 = 4").count() > 0
    assert valid.count() + n_dead == 1000
    # decode of the full corrupted stream silently skips invalid rows
    decoded = decode_raw_events(corrupted)
    assert decoded.count() == 1000 - n_dead
    # dead letters keep their addresses
    assert dead.select("file_seq", "log_pos").distinct().count() == n_dead


def test_deadletter_reason_codes(spark):
    """Each rejected frame carries the failed check's reason code
    (ErrorPacket-errcode analog, /root/reference/packet.cc:16-30)."""
    from pyspark.sql import functions as F

    from binlogsub_spark.codec import split_deadletter

    ev = generate_binlog(spark, GeneratorParams(n_events=1000, dup_tail=0))
    raw = _raw(spark, ev)
    m = F.col("log_pos") % 40
    corrupted = raw.withColumn(
        "payload",
        F.when(m == 4, F.expr("substring(payload, 1, 10)"))  # short_frame
        # op byte (offset 20, 1-based 21) -> 9: bad_enum
        .when(m == 12, F.expr(
            "concat(substring(payload, 1, 20), X'09', substring(payload, 22))"))
        # version byte (offset 21, 1-based 22) -> 77: bad_version
        .when(m == 20, F.expr(
            "concat(substring(payload, 1, 21), X'4D', substring(payload, 23))"))
        .when(m == 28, F.expr("concat(payload, X'00')"))  # len_mismatch
        # first text byte -> lone continuation byte 0xBF: bad_utf8
        .when(m == 36, F.expr(
            "concat(substring(payload, 1, 55), X'BF', substring(payload, 57))"))
        .otherwise(F.col("payload")),
    )
    valid, dead = split_deadletter(corrupted)
    got = {r["_reason"]: r["n"] for r in dead.groupBy("_reason").agg(
        F.count("*").alias("n")).collect()}
    def n_at(k):
        return corrupted.where((F.col("log_pos") % 40 == k)).count()
    # m==20 rows shorter than 56 bytes keep a valid payload; count only
    # frames long enough to have received the corrupt byte
    n_utf8 = raw.where((m == 36) & (F.length("payload") >= 56)).count()
    assert got.get("short_frame", 0) == n_at(4) > 0
    assert got.get("bad_enum", 0) == n_at(12) > 0
    assert got.get("bad_version", 0) == n_at(20) > 0
    assert got.get("len_mismatch", 0) == n_at(28) > 0
    assert got.get("bad_utf8", 0) == n_utf8 > 0
    assert valid.count() + dead.count() == 1000


def test_utf8_corruption_never_kills_decode(spark):
    """A frame with intact framing but non-UTF-8 text bytes must route to
    dead-letter, not abort the stream inside the typed decode."""
    from pyspark.sql import functions as F

    from binlogsub_spark.codec import decode_raw_events, split_deadletter

    ev = generate_binlog(spark, GeneratorParams(n_events=500, dup_tail=0))
    raw = _raw(spark, ev).where(F.length("payload") >= 60)
    n = raw.count()
    corrupted = raw.withColumn(
        "payload",
        F.when(
            F.col("log_pos") % 5 == 0,
            F.expr("concat(substring(payload, 1, 56), X'FE', substring(payload, 58))"),
        ).otherwise(F.col("payload")),
    )
    n_bad = corrupted.where("log_pos % 5 = 0").count()
    decoded = decode_raw_events(corrupted)  # must not raise
    assert decoded.count() == n - n_bad
    _, dead = split_deadletter(corrupted)
    assert dead.where("_reason = 'bad_utf8'").count() == n_bad


def test_raw_dead_letter_sink_and_metrics(spark, tmp_path):
    """apply_raw_batch(dead_letter_path=...) mirrors the MySQL path: corrupt
    frames land in a reason-coded, batch_id-partitioned sink, metrics carry
    a dead_letter count, a replayed batch OVERWRITES its own partition
    (idempotent), and the committed table equals the valid-frames oracle."""
    from binlogsub_spark.config import EngineConfig

    ev = generate_binlog(spark, GeneratorParams(n_events=2000, n_convs=60, dup_tail=0))
    raw = _raw(spark, ev)
    corrupted = raw.withColumn(
        "payload",
        F.when(F.col("log_pos") % 10 == 4, F.expr("substring(payload, 1, 20)"))
        .otherwise(F.col("payload")),
    )
    dl = str(tmp_path / "dead")
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    m = apply_raw_batch(
        table, corrupted, batch_id=1, cfg=EngineConfig(), dead_letter_path=dl
    )
    n_bad = corrupted.where("log_pos % 10 = 4").count()
    assert m["dead_letter"] == n_bad > 0
    dead = spark.read.parquet(dl)
    assert dead.count() == n_bad
    assert set(dead.select("_reason").distinct().toPandas()["_reason"]) == {
        "short_frame"
    }
    assert dead.where("batch_id = 1").count() == n_bad  # partitioned by batch

    # replay the SAME batch: the sink must hold one copy, not two
    m2 = apply_raw_batch(
        table, corrupted, batch_id=1, cfg=EngineConfig(), dead_letter_path=dl
    )
    assert m2["replayed"]
    assert spark.read.parquet(dl).count() == n_bad

    # table state matches applying only the valid frames
    clean_table = LakeTable(spark, str(tmp_path / "clean"), buckets=8)
    apply_raw_batch(
        clean_table, corrupted.where("log_pos % 10 <> 4"), batch_id=1,
        cfg=EngineConfig(),
    )
    got = table.read().orderBy("conv_id", "turn_idx").toPandas()
    exp = clean_table.read().orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(got, exp)


def test_cli_raw_dead_letter(spark, tmp_path, monkeypatch, capsys):
    """CLI: --raw --dead-letter streams the binary wire table through
    run_stream_raw with the dead-letter sink wired (VERDICT r4 item 7)."""
    import json as _json

    from binlogsub_spark import run as run_mod

    ev = generate_binlog(spark, GeneratorParams(n_events=1500, n_convs=50, dup_tail=0))
    raw = _raw(spark, ev)
    corrupted = raw.withColumn(
        "payload",
        F.when(F.col("log_pos") % 10 == 4, F.expr("substring(payload, 1, 20)"))
        .otherwise(F.col("payload")),
    )
    src = str(tmp_path / "src")
    corrupted.repartition(4).write.parquet(src)
    n_bad = corrupted.where("log_pos % 10 = 4").count()

    # keep the shared test session alive across main()'s spark.stop()
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rc = run_mod.main([
        "--source", src,
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--raw",
        "--dead-letter", str(tmp_path / "dead"),
        "--buckets", "8",
        "--master", "local[8]",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events_seen"] == 1500
    assert spark.read.parquet(str(tmp_path / "dead")).count() == n_bad > 0
    assert out["rows"] > 0


def test_embedded_nul_key_update_lands(spark, tmp_path):
    """A key with an embedded NUL must hash to the same bucket in the
    raw path's touched-bucket set (``bucket_expr`` over
    ``codec.raw_conv_key``, read from the payload bytes) as in the merge
    (over the decoded key): batch 2 on a non-fresh table updates
    ``conv_1\\x00x`` and a plain key, and both updates are read back (a
    key rule that cut the key at its first NUL marked the wrong bucket,
    and the update was silently lost)."""
    from binlogsub_spark.codec import encode_record
    from binlogsub_spark.plans.envelope import RAW_SCHEMA

    keys = ["conv_1\x00x", "conv_plain"]

    def batch(file_seq, op, text):
        rows = [
            (file_seq, 4 + 128 * i, encode_record(
                file_seq, 4 + 128 * i, 1_700_000_000_000_000 + file_seq * 10 + i,
                op, 2, 0, "user", None, 0, k, text,
            ))
            for i, k in enumerate(keys)
        ]
        return spark.createDataFrame(rows, RAW_SCHEMA)

    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=32)
    apply_raw_batch(table, batch(1, "I", "v1"), batch_id=1)
    apply_raw_batch(table, batch(2, "U", "v2"), batch_id=2)
    got = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert got == {k: "v2" for k in keys}
