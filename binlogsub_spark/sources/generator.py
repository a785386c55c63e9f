"""Deterministic, distributed synthetic-binlog generator (fixture factory).

Replaces the reference's live MySQL socket source (S1-S4 in SURVEY.md §2.1:
COM_BINLOG_DUMP /root/reference/mysqlProcess.cc:170-242 + packet framing
/root/reference/packet.cc:313-358) with a parametric event table carrying
the same information content: total order (file_seq, log_pos) as maintained
by the reference's position context (/root/reference/packet.cc:56-68),
row-event action (/root/reference/event.cc:326-342), before/after images
(/root/reference/row.h:39-41), and in-band schema epochs
(/root/reference/packet.cc:141-148).

Everything is a pure column expression over ``spark.range`` — no driver-side
data, no Python RNG, no UDFs — so the SAME generator scales from 10^3 rows
(pytest) to 10^10 rows (cluster) with identical per-id values: row ``i`` has
the same content at every scale factor. Randomness is ``xxhash64(id, salt)``.

Baked-in distributions (FIXTURES.md §1):
  * ~70% insert / 20% update / 10% delete,
  * one hot conv_id ("conv_hot") holding ~30% of events (skew),
  * ~5% events for a non-matching (db, table) — exercises the scope filter,
  * a duplicate suffix: the last ``dup_tail`` events are re-delivered with
    identical (file_seq, log_pos) but later delivery_seq (reconnect replay,
    /root/reference/process.cc:186-188),
  * schema evolution: `tool` exists only for schema_version >= 2 (events at
    id >= evo_frac * n), mirroring in-band table-map epochs,
  * ~1/17 events carry an out-of-order (late) ts to exercise the LWW
    tie-break on (ts, file_seq, log_pos).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

BASE_EPOCH = 1_700_000_000  # fixed epoch anchor; no wall-clock anywhere


@dataclass(frozen=True)
class GeneratorParams:
    n_events: int = 20_000
    n_convs: int = 400
    max_turns: int = 50
    events_per_file: int = 4_096
    seed: int = 42
    evo_frac: float = 0.6  # schema_version 2 from this fraction of the stream
    dup_tail: int = 500  # replayed suffix length
    hot_pct: int = 30  # % of events on the hot conversation
    noise_pct: int = 5  # % of events outside the schema scope
    # approximate text payload size in characters (0 = minimal marker text).
    # Real transcript turns run hundreds–thousands of chars; 10^10 events at
    # ~1 KB/turn is the ~10-100 TB regime the engine targets.
    text_chars: int = 0


def _h(col, salt: int, seed: int):
    """Independent 64-bit hash stream per (value, salt)."""
    return F.abs(F.xxhash64(col, F.lit(salt), F.lit(seed)))


def generate_binlog(
    spark: SparkSession, params: GeneratorParams = GeneratorParams()
) -> DataFrame:
    """Return the change-event stream as a DataFrame.

    Columns: delivery_seq (arrival order, replays land at the end) +
    ENVELOPE_SCHEMA columns (file_seq, log_pos, server_ts, op, db_name,
    table_name, schema_version, before, after).
    """
    p = params
    n_parts = max(1, min(spark.sparkContext.defaultParallelism, p.n_events // 1000 or 1))
    df = spark.range(0, p.n_events, 1, n_parts)

    evo_point = int(p.n_events * p.evo_frac)

    hid = F.col("id")
    conv_id = F.when(
        _h(hid, 1, p.seed) % 100 < p.hot_pct, F.lit("conv_hot")
    ).otherwise(F.concat(F.lit("conv_"), (_h(hid, 2, p.seed) % p.n_convs).cast("string")))
    turn_idx = (_h(hid, 3, p.seed) % p.max_turns).cast("int")
    opu = _h(hid, 4, p.seed) % 10
    op = F.when(opu < 7, F.lit("I")).when(opu < 9, F.lit("U")).otherwise(F.lit("D"))

    late = _h(hid, 5, p.seed) % 17 == 0
    ts_sec = F.lit(BASE_EPOCH) + F.col("id") - F.when(late, F.lit(7200)).otherwise(F.lit(0))
    ts = F.timestamp_seconds(ts_sec)

    noise = _h(hid, 6, p.seed) % 100 < p.noise_pct
    schema_version = F.when(F.col("id") < evo_point, F.lit(1)).otherwise(F.lit(2)).cast("int")
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), (turn_idx % 3) + 1
    )
    tool = F.when(
        (schema_version >= 2) & (role == "tool"),
        F.concat(F.lit("tool_"), (_h(hid, 7, p.seed) % 5).cast("string")),
    ).otherwise(F.lit(None).cast("string"))
    text = F.concat(
        F.lit("m|"), conv_id, F.lit("|t"), turn_idx.cast("string"), F.lit("|e"),
        F.col("id").cast("string"),
    )
    if p.text_chars > 0:
        # deterministic filler, unique per event (hash-derived words), so
        # payload bytes stay content-addressed and dedup-meaningful
        word = F.concat(F.lit(" w"), (_h(hid, 9, p.seed) % 100000).cast("string"))
        filler = F.repeat(word, p.text_chars // 8 + 1)
        text = F.concat(text, F.substring(filler, 1, p.text_chars))

    image = F.struct(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
    # Before-image (update/delete): same key, placeholder prior content —
    # the reference carries both images (/root/reference/event.cc:336-342);
    # the apply path keys on the after image / key only.
    before_image = F.struct(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        F.concat(F.lit("prev|"), text).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        ts.alias("ts"),
    )

    events = df.select(
        F.col("id").alias("delivery_seq"),
        (F.col("id") / p.events_per_file).cast("int").alias("file_seq"),
        (F.lit(4) + (F.col("id") % p.events_per_file) * 128).cast("long").alias("log_pos"),
        ts.alias("server_ts"),
        op.alias("op"),
        F.when(noise, F.lit("other")).otherwise(F.lit("test")).alias("db_name"),
        F.when(noise, F.lit("noise")).otherwise(F.lit("transcripts")).alias("table_name"),
        schema_version.alias("schema_version"),
        F.when(op != "I", before_image).alias("before"),
        F.when(op != "D", image).alias("after"),
    )

    if p.dup_tail > 0:
        # Reconnect replay: identical positions, later arrival.
        replay = (
            events.where(F.col("delivery_seq") >= p.n_events - p.dup_tail)
            .withColumn("delivery_seq", F.col("delivery_seq") + F.lit(p.dup_tail))
        )
        events = events.unionByName(replay)
    return events


def _delivery_ordered(df: DataFrame, n_files: int) -> DataFrame:
    """The one fixture layout: range-partitioned by arrival order and sorted
    within each partition, so a file-based streaming source replays the
    stream in delivery order (replayed duplicates arrive in later files,
    like the reference's reconnect)."""
    return df.repartitionByRange(n_files, "delivery_seq").sortWithinPartitions(
        "delivery_seq"
    )


def _write_delivery_ordered(
    df: DataFrame, path: str, n_files: int, cols=None, text: bool = False
) -> None:
    """Write ``df`` (which carries ``delivery_seq``) in the delivery-ordered
    layout: ``cols`` (default every column) as parquet, or the one
    ``value`` column as JSON-lines text."""
    writer = _delivery_ordered(df, n_files).select(*(cols or df.columns)).write
    writer = writer.mode("overwrite")
    (writer.text if text else writer.parquet)(path)


def write_binlog(
    spark: SparkSession,
    path: str,
    params: GeneratorParams = GeneratorParams(),
    n_files: int = 16,
) -> None:
    """Materialize the stream as delivery-ordered parquet."""
    _write_delivery_ordered(generate_binlog(spark, params), path, n_files)


def flatten_for_wire(events: DataFrame) -> DataFrame:
    """Envelope -> the flat wire layout the binary codec packs (keeps
    delivery_seq for arrival-order file layout)."""
    img = F.when(F.col("op") == "D", F.col("before")).otherwise(F.col("after"))
    return events.select(
        "delivery_seq", "file_seq", "log_pos", "server_ts", "op",
        "db_name", "table_name", "schema_version",
        img["conv_id"].alias("conv_id"),
        img["turn_idx"].alias("turn_idx"),
        img["role"].alias("role"),
        img["text"].alias("text"),
        F.when(F.col("op") == "D", F.lit(None).cast("string"))
        .otherwise(img["tool"]).alias("tool"),
        img["ts"].alias("ts"),
    )


def write_raw_binlog(
    spark: SparkSession,
    path: str,
    params: GeneratorParams = GeneratorParams(),
    n_files: int = 16,
) -> None:
    """Materialize the BINARY wire variant: (file_seq, log_pos,
    payload:binary) parquet, range-partitioned by arrival order — the
    engine input that exercises the Arrow decode kernels end-to-end."""
    from binlogsub_spark.codec import encode_decoded_events
    from binlogsub_spark.plans.envelope import RAW_SCHEMA

    flat = flatten_for_wire(generate_binlog(spark, params))
    raw = encode_decoded_events(flat, passthrough=("delivery_seq",))
    _write_delivery_ordered(raw, path, n_files, RAW_SCHEMA.fieldNames())


def write_debezium_json(
    spark: SparkSession,
    path: str,
    params: GeneratorParams = GeneratorParams(),
    n_files: int = 16,
) -> None:
    """Materialize the stream as a Debezium-JSON landing zone: JSON-lines
    text files (one connector value document per line), range-partitioned
    by arrival order like the other writers — the file shape a
    Debezium->Kafka->file-sink pipeline lands."""
    from binlogsub_spark.sources.debezium import envelope_to_debezium_json

    df = envelope_to_debezium_json(
        generate_binlog(spark, params), passthrough=("delivery_seq",)
    )
    _write_delivery_ordered(df, path, n_files, ["value"], text=True)


def write_canal_json(
    spark: SparkSession,
    path: str,
    params: GeneratorParams = GeneratorParams(),
    n_files: int = 16,
) -> None:
    """Materialize the stream as a Canal flatMessage landing zone. The
    flat format carries no binlog position, so each line is prefixed with
    the framing as ``file_seq<TAB>log_pos<TAB>json`` — the file-sink
    analog of Kafka's (partition, offset); ``read_canal_lines`` splits it
    back. (A plain ``value``-only zone also decodes — ordering then falls
    back to the message id; see sources/canal.py.)"""
    from binlogsub_spark.sources.canal import envelope_to_canal_json

    df = envelope_to_canal_json(
        generate_binlog(spark, params), passthrough=("delivery_seq",)
    )
    framed = df.withColumn(
        "value",
        F.concat_ws(
            "\t",
            F.col("file_seq").cast("string"),
            F.col("log_pos").cast("string"),
            F.col("value"),
        ),
    )
    _write_delivery_ordered(framed, path, n_files, ["value"], text=True)


def read_canal_lines(df):
    """framed canal lines (file_seq\\tlog_pos\\tjson) -> (file_seq,
    log_pos, value) columns for decode_canal."""
    from pyspark.sql import functions as F

    split = F.split(F.col("value"), "\t", 3)
    return df.select(
        split[0].cast("int").alias("file_seq"),
        split[1].cast("long").alias("log_pos"),
        split[2].alias("value"),
    )


def write_maxwell_json(
    spark: SparkSession,
    path: str,
    params: GeneratorParams = GeneratorParams(),
    n_files: int = 16,
) -> None:
    """Materialize the stream as a Maxwell-JSON landing zone (one record
    per line; ``position`` carries binlog file:pos in-band, so no framing
    prefix is needed)."""
    from binlogsub_spark.sources.maxwell import envelope_to_maxwell_json

    df = envelope_to_maxwell_json(
        generate_binlog(spark, params), passthrough=("delivery_seq",)
    )
    _write_delivery_ordered(df, path, n_files, ["value"], text=True)


# ------------------------------------------------- genuine MySQL variant --
ROLE_ENUM = ("user", "assistant", "tool")
TOOL_ENUM = tuple(f"tool_{i}" for i in range(5))


def transcripts_table_maps():
    """The transcripts table as MySQL table maps, in BOTH schema epochs:
    table_id 11 = pre-ALTER (no `tool` column), table_id 12 = post-ALTER —
    exactly how MySQL represents an ALTERed table (new table_id, new
    TABLE_MAP), plus an out-of-scope noise table (id 13) to exercise the
    registry-level scope filter."""
    from binlogsub_spark.mysql_binlog import (
        MYSQL_TYPE_DATETIME2,
        MYSQL_TYPE_ENUM,
        MYSQL_TYPE_LONG,
        MYSQL_TYPE_STRING,
        MYSQL_TYPE_VARCHAR,
        MysqlColumn,
        TableMap,
    )

    def _cols(with_tool: bool):
        cols = [
            MysqlColumn("conv_id", MYSQL_TYPE_VARCHAR, meta=24, nullable=False),
            MysqlColumn("turn_idx", MYSQL_TYPE_LONG, nullable=False),
            MysqlColumn(
                "role", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_ENUM, 1),
                enum_values=ROLE_ENUM,
            ),
            MysqlColumn("text", MYSQL_TYPE_VARCHAR, meta=4096),
        ]
        if with_tool:
            cols.append(
                MysqlColumn(
                    "tool", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_ENUM, 1),
                    enum_values=TOOL_ENUM,
                )
            )
        cols.append(MysqlColumn("ts", MYSQL_TYPE_DATETIME2, meta=6))
        return cols

    return {
        11: TableMap(11, "test", "transcripts", _cols(False)),
        12: TableMap(12, "test", "transcripts", _cols(True)),
        13: TableMap(13, "other", "noise", _cols(True)),
    }


def write_mysql_binlog(
    spark: SparkSession,
    path: str,
    params: GeneratorParams = GeneratorParams(),
    n_files: int = 16,
    checksum: bool = True,
    xids: bool = False,
    gtids: bool = False,
) -> None:
    """Materialize the GENUINE-MYSQL-FORMAT variant: framed binlog events
    (19-byte headers, TABLE_MAP control frames at each file head, one
    WRITE/UPDATE/DELETE rows-event v2 per change, CRC32 trailers) as
    (file_seq, log_pos, payload) parquet — the input that exercises the
    full mysql_binlog decode path end-to-end.

    ``xids=True`` additionally frames an XID_EVENT commit marker after
    every change (one transaction per change, matching the GTID-per-change
    model) at ``log_pos + 64`` — required by the transaction-atomic ingest
    mode (``--atomic`` / ``apply_mysql_batch(stash_path=...)``),
    which defers rows-events until their file's commit marker arrives.
    With ``xids`` or ``gtids`` the output is re-ranged by transaction, so
    each file carries its transactions whole, the same way on every run."""
    from binlogsub_spark.mysql_binlog import encode_rows_df

    tmaps = transcripts_table_maps()
    flat = flatten_for_wire(generate_binlog(spark, params))
    enc_in = flat.select(
        "delivery_seq", "file_seq", "log_pos", "op",
        F.when(F.col("db_name") == "other", F.lit(13))
        .when(F.col("schema_version") <= 1, F.lit(11))
        .otherwise(F.lit(12)).alias("table_id"),
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.array_position(
            F.array(*[F.lit(r) for r in ROLE_ENUM]), F.col("role")
        ).cast("long").alias("role"),
        "text",
        F.when(
            F.col("tool").isNotNull(),
            F.array_position(F.array(*[F.lit(t) for t in TOOL_ENUM]), F.col("tool")),
        ).cast("long").alias("tool"),
        "ts",
    )
    enc_in = _delivery_ordered(enc_in, n_files)
    reranged = xids or gtids
    raw = encode_rows_df(
        enc_in.drop("delivery_seq"),
        tmaps[12],
        rows_per_event=1,  # one change per event: every change keeps its
        # own (file_seq, log_pos) for the LWW version triple
        checksum=checksum,
        # control frames at each partition head — except when the union
        # is re-ranged below, where maps (log_pos 0) would all collapse
        # into the lowest-range file; that layout re-emits them per
        # OUTPUT partition instead
        include_table_map=not reranged,
        file_seq_col="file_seq",
        log_pos_col="log_pos",
        op_col="op",
        tmap_col="table_id",
        tmaps=tmaps,
    )
    if xids:
        from binlogsub_spark.mysql_binlog import encode_xids_df

        commits = enc_in.select(
            "file_seq",
            (F.col("log_pos") + 64).alias("log_pos"),
            (F.col("file_seq").cast("long") * 4096
             + (F.col("log_pos") - 4) / 128).cast("long").alias("xid"),
        )
        raw = raw.unionByName(encode_xids_df(commits, checksum=checksum))
    if gtids:
        # one transaction per change (matching the .binlog files variant):
        # GTID_LOG_EVENT one position ahead of its rows-event,
        # gno = delivery_seq + 1 so gnos are dense from 1
        from binlogsub_spark.mysql_binlog import encode_gtids_df

        txs = enc_in.select(
            "file_seq",
            (F.col("log_pos") - 1).alias("log_pos"),
            (F.col("delivery_seq") + 1).cast("long").alias("gno"),
        )
        raw = raw.unionByName(encode_gtids_df(txs, checksum=checksum))
    if reranged:
        # the union writes GTID/XID frames as SEPARATE parquet files; a
        # file streaming source would then deliver whole micro-batches of
        # rows-events with no GTID or commit frame in sight. Re-range the
        # union on the owning transaction's position (GTID sits at
        # log_pos-1 -> +1; XID at +64 -> -64; type byte at header offset
        # 5) so every parquet file carries its transactions whole, like a
        # real binlog
        from binlogsub_spark.mysql_binlog import GTID_LOG_EVENT, XID_EVENT

        etype = F.expr("substring(payload, 5, 1)")
        tx = F.col("log_pos") + (
            F.when(etype == F.lit(bytes([GTID_LOG_EVENT])), F.lit(1))
            .when(etype == F.lit(bytes([XID_EVENT])), F.lit(-64))
            .otherwise(F.lit(0))
        )
        raw = (
            raw.withColumn("_tx", tx)
            .repartitionByRange(n_files, "file_seq", "_tx")
            .sortWithinPartitions("file_seq", "_tx", "log_pos")
            .drop("_tx")
        )
        # every re-ranged OUTPUT file must carry the schema its rows need
        # — a micro-batch delivering one file must be self-decodable no
        # matter the delivery order, exactly like a real binlog file
        # (maps re-sent after every rotate). Without this, a stream
        # delivering the high-range file first drops its rows as
        # unknown_table_id before the maps ever arrive.
        import pyarrow as pa

        from binlogsub_spark.mysql_binlog import encode_table_map

        tmaps_b = spark.sparkContext.broadcast(tmaps)

        def _prepend_maps(batches):
            first = True
            for rb in batches:
                if first:
                    payloads = [
                        encode_table_map(tm, checksum=checksum)
                        for tm in tmaps_b.value.values()
                    ]
                    n = len(payloads)
                    # match the incoming batch's arrow schema exactly
                    # (field types AND order) — mixed schemas abort the
                    # IPC writer
                    cols = {
                        "file_seq": [0] * n,
                        "log_pos": [0] * n,
                        "payload": payloads,
                    }
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(cols[f.name], type=f.type)
                            for f in rb.schema
                        ],
                        schema=rb.schema,
                    )
                    first = False
                yield rb

        raw = raw.mapInArrow(
            _prepend_maps, schema="file_seq int, log_pos long, payload binary"
        )
    # the range exchanges sample EVERY key (up to Spark's 1M-key cap):
    # their file bounds then depend on the frames alone, not on the
    # sampler's seed, which Spark derives from an RDD id that differs
    # from run to run — so each run writes the same files
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old = spark.conf.get(key)
    spark.conf.set(key, str(10**6))
    try:
        raw.write.mode("overwrite").parquet(path)
    finally:
        spark.conf.set(key, old)


def write_mysql_binlog_files(
    spark: SparkSession,
    dir_path: str,
    params: GeneratorParams = GeneratorParams(),
    checksum: bool = True,
    gtids: bool = False,
) -> list[str]:
    """REAL .binlog files: 0xfe'bin' magic, then back-to-back frames —
    FORMAT_DESCRIPTION (carrying the checksum-algorithm byte), the table
    maps, then one rows-event per change, positions = byte offsets. Driver-
    side writer (fixture scale; a deployment tails files produced by the
    database, it does not synthesize them). Returns the file paths."""
    import os

    from binlogsub_spark.mysql_binlog import (
        BINLOG_MAGIC,
        DELETE_ROWS_EVENT_V2,
        UPDATE_ROWS_EVENT_V2,
        WRITE_ROWS_EVENT_V2,
        encode_format_description,
        encode_gtid,
        encode_rows_event,
        encode_table_map,
    )

    op_event = {"I": WRITE_ROWS_EVENT_V2, "U": UPDATE_ROWS_EVENT_V2, "D": DELETE_ROWS_EVENT_V2}
    tmaps = transcripts_table_maps()
    rows = (
        flatten_for_wire(generate_binlog(spark, params))
        .orderBy("delivery_seq")
        .collect()
    )
    os.makedirs(dir_path, exist_ok=True)
    by_file: dict[int, list] = {}
    for r in rows:
        by_file.setdefault(int(r["file_seq"]), []).append(r)
    paths = []
    for seq, rs in sorted(by_file.items()):
        frames = [encode_format_description(checksum=checksum)]
        for tm in tmaps.values():
            frames.append(encode_table_map(tm, checksum=checksum))
        for r in rs:
            tid = 13 if r["db_name"] == "other" else (11 if r["schema_version"] <= 1 else 12)
            tm = tmaps[tid]
            row = [
                r["conv_id"],
                int(r["turn_idx"]),
                ROLE_ENUM.index(r["role"]) + 1,
                r["text"],
            ]
            if tid != 11:
                row.append(TOOL_ENUM.index(r["tool"]) + 1 if r["tool"] is not None else None)
            row.append(r["ts"])
            img = tuple(row)
            images = [(img, img)] if r["op"] == "U" else [img]
            if gtids:
                # one transaction per change: GTID_LOG_EVENT ahead of each
                # rows-event, gno = delivery_seq + 1 (gnos start at 1)
                frames.append(encode_gtid(
                    b"\x12" * 16, int(r["delivery_seq"]) + 1, checksum=checksum
                ))
            frames.append(encode_rows_event(op_event[r["op"]], tm, images, checksum=checksum))
        path = os.path.join(dir_path, f"binlog.{seq:06d}")
        with open(path, "wb") as f:
            f.write(BINLOG_MAGIC + b"".join(frames))
        paths.append(path)
    return paths
