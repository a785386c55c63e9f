"""The end-to-end apply path: events -> scope filter -> flatten -> LWW -> MERGE.

Stage ordering deliberately mirrors the reference's manual predicate
pushdown: the (db, table) regex filter runs BEFORE any expensive work, just
as the reference skips row decode entirely for unmatched tables
(/root/reference/packet.cc:201-205). Catalyst cannot push filters through a
pandas UDF, so for the raw-payload path the cheap header columns
(file_seq/log_pos) come framed outside the payload and the scope filter on
decoded columns runs immediately after the Arrow decode — before shuffle.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from binlogsub_spark.config import EngineConfig, SchemaScope
from binlogsub_spark.lake.table import LakeTable, _atomic_write, bucket_expr
from binlogsub_spark.operators.dedup import partial_lww_reduce
from binlogsub_spark.plans.envelope import ENVELOPE_SCHEMA, OP_DELETE, RAW_SCHEMA


def scope_filter(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """P2: regex table scoping (F7 rlike ≙ /root/reference/myregex.cc:31-47),
    placed before decode/flatten/shuffle."""
    return events.where(
        F.col("db_name").rlike(cfg.scope.db_regex)
        & F.col("table_name").rlike(cfg.scope.table_regex)
    )


def flatten_envelope(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Envelope -> upsert rows: user columns + version columns.

    For deletes the key comes from the before-image
    (/root/reference/event.cc:336-342: DELETE carries only the old image);
    tombstones keep null payload fields. P3 column projection by the
    configured ordinal->name map (/root/reference/row.cc:61-89) happens
    here — only configured columns survive into the sink.
    """
    img = F.when(F.col("op") == OP_DELETE, F.col("before")).otherwise(
        F.col("after")
    )
    return events.select(*_upsert_projection(lambda c: img[c], cfg))


def _upsert_projection(field, cfg: EngineConfig) -> list:
    """The upsert row shape every decoder lands in: key, configured
    payload (NULL on deletes), ``ts``, then the LWW version columns.
    ``field(name)`` resolves a column of the change's row image."""
    is_del = F.col("op") == OP_DELETE
    payload = [
        F.when(~is_del, field(c)).alias(c)
        for c in cfg.scope.column_names
        if c not in ("conv_id", "turn_idx", "ts")
    ]
    return [
        field("conv_id").alias("conv_id"),
        field("turn_idx").alias("turn_idx"),
        *payload,
        field("ts").alias("ts"),
        F.col("op").alias("_op"),
        field("ts").alias("_ts"),
        F.col("file_seq").alias("_file_seq"),
        F.col("log_pos").alias("_log_pos"),
        F.col("schema_version"),
    ]


def project_schema_epoch(upserts: DataFrame) -> DataFrame:
    """In-band schema evolution (T5): schema_version 1 predates the `tool`
    column, so v1 rows must not carry one even if the frame has the field.
    Mirrors the reference's table-map epoch semantics
    (/root/reference/packet.cc:141-148)."""
    if "tool" in upserts.columns:
        upserts = upserts.withColumn(
            "tool", F.when(F.col("schema_version") >= 2, F.col("tool"))
        )
    return upserts.drop("schema_version")


def prepare_upserts(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    return project_schema_epoch(flatten_envelope(scope_filter(events, cfg), cfg))


def _expensive_source(df: DataFrame) -> bool:
    """True when the analyzed plan holds a ``JsonToStructs`` node (a
    ``from_json`` parse: the JSON-lines landing zones) or a Python UDF (a
    ``mapInArrow`` / ``pandas_udf`` pass, such as the binlog-file split)
    — the markers of a computed source whose re-evaluation in every job
    of the apply dominates. One JVM call per pattern reads the plan's
    tree-pattern bits (no optimization run, no per-node walk), so a
    column merely NAMED like ``from_json_x`` does not count; any failure
    means "not detectably expensive" rather than an error."""
    try:
        trees = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees
        patterns = getattr(getattr(trees, "TreePattern$"), "MODULE$")
        plan = df._jdf.queryExecution().analyzed()
        return any(
            plan.containsPattern(p)
            for p in (patterns.JSON_TO_STRUCT(), patterns.PYTHON_UDF())
        )
    except Exception:
        return False


def _per_file(source: DataFrame, bucket_key, buckets: int) -> list:
    """Per-file_seq offset frontier + event counts (the per-partition
    lineage of the north rule) over a pruned projection of ``source``.
    Given a ``bucket_key`` (a Column of the merge key, or None) the same
    pass hashes it to its COW bucket (``bucket_expr``, the one bucket hash)
    and collects each file's bucket SET; their union is a superset of the
    buckets the merge touches (superset because scope filtering happens
    later), which lets the merge skip its own distinct-buckets job."""
    sel = [F.col("file_seq"), F.col("log_pos")]
    aggs = [F.max("log_pos").alias("max_log_pos"), F.count("*").alias("events")]
    if bucket_key is not None:
        sel.append(bucket_expr(bucket_key, buckets).alias("_b"))
        aggs.append(F.collect_set("_b").alias("buckets"))
    return source.select(*sel).groupBy("file_seq").agg(*aggs).collect()


def _write_by_batch(df: DataFrame, batch_id: int, path: str) -> int:
    """Idempotent side sink (dead letters, the MySQL transaction stash):
    partition by batch_id and dynamically overwrite ONLY this batch's
    partition, so a replayed micro-batch rewrites its own rows instead of
    appending duplicates (the merge is checkpoint-idempotent; the side
    sinks must be too). Returns the row count, observed on the write."""
    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("n"))
        .withColumn("batch_id", F.lit(batch_id))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    return obs.get["n"]


def _commit(
    table: LakeTable,
    source: DataFrame,
    batch_id: int,
    cfg: EngineConfig,
    key,
    upserts,
    persist: bool | None = False,
    audit=None,
    stage_timings: dict | None = None,
) -> dict:
    """The one commit core every apply path ends in (the reference's
    "keyed sink + checkpoint" stage). A path supplies only what differs:

    * ``key``: a Column of each source row's merge key (conv_id), or None
      when the key exists only after decode. On a non-empty table the
      frontier job hashes it (:func:`_per_file`) and the union of the
      per-file bucket sets goes to the merge as ``touched_buckets``;
      without it (or on an empty table, where the merge's bucket map is
      the bucket dirs its write made) the merge discovers the buckets itself;
    * ``upserts(source) -> (partials, extra)``: pre-reduced upserts plus
      path-specific metric keys merged into the result.

    The core then runs, once and in this order: persist ``source`` (when
    asked; ``persist=None`` asks :func:`_expensive_source`), the frontier
    job, ``LakeTable.merge`` (which commits the
    per-file rows as lineage and derives the watermark from them, in the
    same manifest as the data), the audit gate (an audit that rejects or
    raises aborts the staged snapshot), unpersist, compaction every
    ``cfg.compact_every`` snapshots, and the metrics dict.
    ``stage_timings`` receives ``lineage_sec`` (the frontier job + its
    driver collect barrier) and ``merge_sec`` (upsert build + MERGE +
    audit)."""
    if persist is None:
        persist = _expensive_source(source)
    if persist:
        source.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        t0 = time.time()
        if table.snapshot() is None:
            key = None  # the merge maps the buckets its write made
        per_file = _per_file(source, key, table.buckets)
        touched = None
        if key is not None:
            touched = sorted({b for r in per_file for b in r["buckets"]})
        t1 = time.time()
        partials, extra = upserts(source)
        res = table.merge(
            partials,
            batch_id=batch_id,
            frontier=per_file,
            touched_buckets=touched,
            publish=audit is None,
        )
        if audit is not None and not res["replayed"]:
            try:
                if not audit(table, res["snapshot_id"]):
                    raise ValueError(
                        f"audit rejected batch {batch_id} (staged snapshot "
                        f"{res['snapshot_id']} aborted; table state unchanged)"
                    )
            except Exception:
                table.abort_staged(res["snapshot_id"])
                raise
            table.publish_staged(res["snapshot_id"])
        if stage_timings is not None:
            stage_timings["lineage_sec"] = round(t1 - t0, 3)
            stage_timings["merge_sec"] = round(time.time() - t1, 3)
    finally:
        if persist:
            source.unpersist(blocking=False)
    replayed, snapshot_id = res["replayed"], res["snapshot_id"]
    if cfg.compact_every and not replayed and snapshot_id % cfg.compact_every == 0:
        # bound the number of live commit dirs a read must union; commits
        # stay immutable, so this is safe mid-stream (new snapshot only)
        table.compact()
    total = sum(r["events"] for r in per_file)
    return {
        "batch_id": batch_id,
        "events": total,
        "applied": res["applied"],
        "skipped": total - res["applied"],  # scope-filtered + LWW losers + replays
        "replayed": replayed,
        "snapshot_id": snapshot_id,
        **extra,
    }


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    cfg: EngineConfig | None = None,
    persist_source: bool | None = None,
    stage_timings: dict | None = None,
    audit=None,
) -> dict:
    """One micro-batch: returns metrics incl. applied/skipped accounting
    (T2-T4 — the reference checkpoints before each row,
    /root/reference/packet.cc:207-210; we commit offsets atomically WITH
    the merge by writing them into the same snapshot manifest).

    ``audit`` (write-audit-publish): a callable ``(table, staged_snapshot
    _id) -> bool``. When given, the merge STAGES its snapshot instead of
    publishing; the audit inspects the staged state (``table.read(
    snapshot_id=...)``, ``table.changes(...)``) while readers still see
    the prior snapshot. True -> the snapshot publishes atomically;
    False -> it is aborted (data + manifest deleted) and this raises
    ValueError so the stream's supervisor decides — a poisoned batch
    never becomes visible. The IBusiness-callback extension point
    (§2.8), moved to where a lake engine needs it: the commit gate.

    The frontier job reads ONLY (file_seq, log_pos, key) — for a columnar
    source that scan is column-pruned and nearly free — and the same
    aggregation collects the touched-bucket SET per file from the
    before/after image's conv_id, so the merge runs as ONE job over the
    source (no winners persist, no distinct-buckets job). On a first batch
    into an empty table the frontier job drops the bucket hash and the
    merge maps the bucket dirs its write made.

    ``persist_source`` is tri-state. ``None`` (default) auto-detects
    (:func:`_expensive_source`): a source whose plan parses JSON (a
    ``from_json`` / ``JsonToStructs`` node — the Debezium/Canal/Maxwell
    landing zones) or runs a Python UDF is persisted so each line is
    computed once instead of in both jobs (guide §4.4's duplication trap
    — measured 3.96 s -> 3.24 s on a 2M-line Debezium batch, local[32]);
    any other source is not. ``True`` always persists (for callers whose
    input is some other EXPENSIVE computed plan); ``False`` never does
    (e.g. memory-constrained executors on a huge batch).

    ``stage_timings`` (a mutable dict) receives wall seconds of the two
    jobs — ``lineage_sec`` (the pruned per-file aggregation + its driver
    collect barrier) and ``merge_sec`` (the one-pass MERGE write) — so
    scaling runs can attribute parallel-efficiency loss to a stage."""
    cfg = cfg or EngineConfig()

    def upserts(src: DataFrame):
        return partial_lww_reduce(prepare_upserts(src, cfg), salt=cfg.skew_salt), {}

    key = F.when(F.col("op") == OP_DELETE, F.col("before.conv_id")).otherwise(
        F.col("after.conv_id")
    )
    return _commit(
        table, events, batch_id, cfg, key, upserts,
        persist=persist_source, audit=audit, stage_timings=stage_timings,
    )


def bootstrap_from_snapshot(
    table: LakeTable,
    snapshot_df: DataFrame,
    file_seq: int,
    log_pos: int,
    batch_id: int = -1,
    ts_col: str = "ts",
) -> dict:
    """Debezium-style initial snapshot load: bulk-MERGE a consistent table
    read taken at binlog position ``(file_seq, log_pos)``, then tail the
    stream from that position (T3 extended to the cold-start case — the
    reference can only start from the live head or replay everything,
    /root/reference/process.cc:178-183).

    Version stamping makes an at-least-once tail SAFE without any overlap
    bookkeeping: each snapshot row is stamped ``(_ts = its own ts column,
    _file_seq = cut, _log_pos = cut)``. A redelivered event at position
    <= cut has an LWW tuple strictly below its key's snapshot stamp (its
    effects are already IN the snapshot: the key's winner w at the cut has
    tuple_e <= tuple_w <= (ts_w, cut)), so it loses; a genuinely new event
    at position > cut beats the stamp exactly when it would have beaten w
    in a full replay (same ts ordering; positions > cut > pos_w). The final
    state is therefore identical to replaying the whole binlog — the
    invariant the driver query proves against the full-replay oracle.

    ``batch_id`` defaults to -1 so a subsequent stream whose checkpoint
    epochs start at 0 is not mistaken for a replay.

    ``snapshot_df``: user columns only (conv_id, turn_idx, payload..., ts)
    — the shape ``LakeTable.read()`` returns, i.e. you can bootstrap one
    table from another's read.
    """
    stamped = snapshot_df.select(
        "*",
        F.lit("U").alias("_op"),
        F.col(ts_col).alias("_ts"),
        F.lit(file_seq).cast("int").alias("_file_seq"),
        F.lit(log_pos).cast("long").alias("_log_pos"),
    )
    # the cut is the batch's one-file frontier; its rows are not binlog
    # events, so it counts none
    return table.merge(stamped, batch_id=batch_id, frontier=[(file_seq, log_pos, 0)])


def apply_batch_multi(
    tables: dict[str, LakeTable],
    events: DataFrame,
    batch_id: int,
    cfgs: EngineConfig | dict[str, EngineConfig] | None = None,
) -> dict:
    """Route one envelope micro-batch into N lake tables — the
    one-subscriber-many-tables production shape (the reference dispatches
    per-table inside its business callback, /root/reference/business.h;
    here each destination gets the full exactly-once MERGE path).

    ``tables`` maps ``table_name`` values to destinations. The batch is
    persisted ONCE (MEMORY_AND_DISK) and each destination's lineage+merge
    jobs run over the cached partitions — the source is scanned/decoded a
    single time no matter how many tables it fans out to. ``cfgs`` is a
    shared EngineConfig or a per-table dict; with ``cfgs=None`` each
    destination gets the default config with its table scope pinned to
    exactly its own name (db scope stays the default). The explicit
    ``table_name == name`` filter runs regardless, so even a broad shared
    scope cannot cross-route rows.
    """
    events.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out = {}
        for name, table in tables.items():
            cfg = cfgs.get(name) if isinstance(cfgs, dict) else cfgs
            if cfg is None:
                cfg = EngineConfig(
                    scope=SchemaScope(table_regex=f"^{re.escape(name)}$")
                )
            sub = events.where(F.col("table_name") == name)
            # already cached above: the inner auto-detect would see the
            # JSON parse in ``sub``'s analyzed plan and cache it again
            out[name] = apply_batch(table, sub, batch_id, cfg, persist_source=False)
    finally:
        events.unpersist(blocking=False)
    return out


def _stream(
    spark: SparkSession,
    source_path: str,
    table: LakeTable,
    checkpoint_dir: str,
    apply,
    schema: T.StructType | None,
    max_files_per_trigger: int,
    available_now: bool,
    liveness=None,
    views: list | None = None,
):
    """The one stream driver every ``run_stream*`` shares: read -> decode
    -> sink -> checkpoint (one idempotent ``foreachBatch`` sink under any
    source).

    The file source reads parquet with the fixed ``schema`` (never
    inferred, so a stream may start on an empty landing zone), or text
    lines when ``schema`` is None (the JSON-lines zones). Each micro-batch
    runs ``apply(batch_df, batch_id) -> metrics``, then refreshes
    ``views`` and feeds the liveness monitor. Spark's checkpoint gives
    at-least-once batch replay after a kill (the same epoch id re-fires);
    ``LakeTable.merge``'s batch_id high-water mark plus LWW makes the
    replay a committed no-op. ``available_now`` drains what is there and
    stops.

    ``liveness``: a :class:`~binlogsub_spark.liveness.LivenessConfig`
    (wired with a Hadoop-FS probe of ``source_path`` and a
    ``_heartbeats`` log next to the table) or a pre-built
    :class:`~binlogsub_spark.liveness.SourceLivenessMonitor`."""
    from binlogsub_spark.liveness import (
        LivenessConfig,
        SourceLivenessMonitor,
        hadoop_fs_probe,
    )

    monitor = liveness
    if isinstance(liveness, LivenessConfig):
        monitor = SourceLivenessMonitor(
            probe=lambda: hadoop_fs_probe(spark, source_path),
            cfg=liveness,
            heartbeat_dir=os.path.join(table.path, "_heartbeats"),
        )
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    if schema is None:
        reader = reader.text(source_path)
    else:
        reader = reader.schema(schema).parquet(source_path)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        m = apply(batch_df, batch_id)
        for v in views or ():
            v.refresh()
        if monitor is not None:
            monitor.on_batch(batch_id, m["events"])

    writer = reader.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream(
    spark: SparkSession,
    source_path: str,
    table: LakeTable,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    liveness=None,
    views: list | None = None,
    audit=None,
):
    """Structured Streaming over the binlog event table (parquet in
    ``ENVELOPE_SCHEMA``) through :func:`apply_batch` — the
    exactly-once-effective contract the reference lacks
    (/root/reference/process.cc:178-183 can silently skip to live head; we
    never lose events, we only skip duplicates and count them).

    ``liveness`` (see :func:`_stream`): the T7 mysql_ping analog — empty
    batches past the idle interval probe the source; repeated probe
    failure fails the query so the supervisor restarts from checkpoint
    (see liveness.py).

    ``views``: :class:`~binlogsub_spark.operators.ivm.IncrementalView`
    instances over ``table``, refreshed after every applied micro-batch —
    continuously-maintained aggregates riding the same stream. Refresh is
    delta-driven (dirty groups only) and idempotent on the source snapshot
    id, so a checkpoint-replayed batch (merge no-op, snapshot unchanged)
    leaves the views untouched.

    ``audit``: write-audit-publish commit gate, forwarded to
    :func:`apply_batch` — every micro-batch stages, is audited, and only
    then publishes (see :mod:`binlogsub_spark.audits` for built-in
    guards). A rejected batch aborts its staged snapshot and fails the
    query; the supervisor restarts from checkpoint with the table
    unchanged. Every ``run_stream*`` takes the same ``audit``.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> dict:
        return apply_batch(table, batch_df, batch_id, cfg, audit=audit)

    return _stream(
        spark, source_path, table, checkpoint_dir, apply, ENVELOPE_SCHEMA,
        max_files_per_trigger, available_now, liveness, views,
    )


def _json_lines(
    decode,
    spark: SparkSession,
    source_path: str,
    table: LakeTable,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    liveness=None,
    audit=None,
):
    """A JSON-lines CDC landing zone (one connector value document per
    line — the file-sink shape of a connector->Kafka->files pipeline) read
    as text: ``decode(text_df)`` parses each micro-batch with
    ``from_json`` (JVM codegen, inside the scan stage) into the engine
    envelope, which goes through :func:`apply_batch`, so exactly-once,
    schema evolution, LWW and the ``audit`` gate are identical to the
    native paths."""

    def apply(batch_df: DataFrame, batch_id: int) -> dict:
        return apply_batch(table, decode(batch_df), batch_id, cfg, audit=audit)

    return _stream(
        spark, source_path, table, checkpoint_dir, apply, None,
        max_files_per_trigger, available_now, liveness,
    )


def run_stream_debezium(spark, source_path, table, checkpoint_dir, **kw):
    """Debezium-JSON landing zone -> lake table (see sources/debezium.py);
    ``kw`` as in :func:`_json_lines`."""
    from binlogsub_spark.sources.debezium import decode_debezium

    return _json_lines(decode_debezium, spark, source_path, table, checkpoint_dir, **kw)


def run_stream_canal(spark, source_path, table, checkpoint_dir, **kw):
    """Canal flatMessage landing zone -> lake table (see sources/canal.py).
    Lines are ``write_canal_json``'s ``file_seq\\tlog_pos\\tjson`` (the
    flat format carries no binlog position, so the zone carries the
    Kafka-offset analog out-of-band)."""
    from binlogsub_spark.sources.canal import decode_canal
    from binlogsub_spark.sources.generator import read_canal_lines

    return _json_lines(
        lambda df: decode_canal(read_canal_lines(df)),
        spark, source_path, table, checkpoint_dir, **kw,
    )


def run_stream_maxwell(spark, source_path, table, checkpoint_dir, **kw):
    """Maxwell-JSON landing zone -> lake table (see sources/maxwell.py)."""
    from binlogsub_spark.sources.maxwell import decode_maxwell

    return _json_lines(decode_maxwell, spark, source_path, table, checkpoint_dir, **kw)


def flat_to_upserts(decoded: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Decoded flat change records (codec.DECODED_SCHEMA) -> upsert rows.

    The raw-path analog of flatten_envelope. No scope filter here: the
    decode kernel already dropped out-of-scope frames on their scope byte
    (``scope_codes``, P2 before any shuffle —
    /root/reference/packet.cc:201-205), so db_name/table_name need not
    even exist in ``decoded``."""
    return project_schema_epoch(decoded.select(*_upsert_projection(F.col, cfg)))


def apply_raw_batch(
    table: LakeTable,
    raw_events: DataFrame,
    batch_id: int,
    cfg: EngineConfig | None = None,
    dead_letter_path: str | None = None,
    audit=None,
) -> dict:
    """Raw wire path: payload:binary -> Arrow decode -> scope filter ->
    salted partial LWW -> MERGE. The per-file lineage comes from the framed
    header columns (file_seq/log_pos), which the source carries OUTSIDE
    the payload; nothing is ever cached (no block-store traffic).

    Job structure:
      1. the frontier job: one PURE-JVM aggregation (no Python) of the
         per-file lineage and, on a non-empty table, each file's touched
         COW buckets: ``bucket_expr`` over ``codec.raw_conv_key``, the
         conv_id read JVM-side at its fixed header offset. The
         set covers every frame, out-of-scope and invalid ones included:
         an extra bucket is rewritten byte-identically. On a first batch
         into an empty table it is skipped and the merge maps the
         bucket dirs its write made;
      2. full decode (pruned to the scoped columns, scope filter in-kernel
         on the scope byte) -> salted partial LWW -> one-pass MERGE.

    ``dead_letter_path`` routes structurally corrupt frames to a
    reason-coded, batch_id-partitioned parquet sink (same idempotent
    dynamic-overwrite contract as the MySQL path) instead of letting the
    kernel's validity mask drop them silently; metrics then carry a
    ``dead_letter`` count."""
    from binlogsub_spark.codec import (
        DECODED_SCHEMA,
        decode_raw_events,
        raw_conv_key,
        scope_codes_for,
        split_deadletter,
    )

    cfg = cfg or EngineConfig()
    codes = scope_codes_for(cfg.scope.db_regex, cfg.scope.table_regex)
    decodable = {f.name for f in DECODED_SCHEMA.fields}
    need = [
        c
        for c in ["file_seq", "log_pos", "op", "schema_version", "ts"]
        + [c for c in cfg.scope.column_names if c != "ts"]
        if c in decodable
    ]

    def upserts(src: DataFrame):
        extra, skip_invalid = {}, True
        if dead_letter_path is not None:
            src, dead = split_deadletter(src)
            extra["dead_letter"] = _write_by_batch(dead, batch_id, dead_letter_path)
            skip_invalid = False  # already verified
        decoded = decode_raw_events(
            src, columns=need, scope_codes=codes, skip_invalid=skip_invalid
        )
        partials = partial_lww_reduce(flat_to_upserts(decoded, cfg), salt=cfg.skew_salt)
        return partials, extra

    return _commit(
        table, raw_events, batch_id, cfg, raw_conv_key(), upserts, audit=audit
    )


def run_stream_raw(
    spark: SparkSession,
    source_path: str,
    table: LakeTable,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    dead_letter_path: str | None = None,
    audit=None,
):
    """Structured Streaming over the BINARY wire table (``RAW_SCHEMA``):
    the full reference-equivalent path — framing columns outside the
    payload, Arrow decode inside foreachBatch (:func:`apply_raw_batch`)."""

    def apply(batch_df: DataFrame, batch_id: int) -> dict:
        return apply_raw_batch(
            table, batch_df, batch_id, cfg,
            dead_letter_path=dead_letter_path, audit=audit,
        )

    return _stream(
        spark, source_path, table, checkpoint_dir, apply, RAW_SCHEMA,
        max_files_per_trigger, available_now,
    )


# -------------------------------------------------- genuine MySQL frames --
def scope_registry(registry: dict, cfg: EngineConfig) -> dict:
    """P2 pushdown for the MySQL path: drop out-of-scope tables from the
    broadcast registry — rows-events for unmapped table_ids are then
    skipped inside the decode kernel before any value parse (the exact
    analog of the reference skipping row decode for unmatched tables,
    /root/reference/packet.cc:201-205)."""
    db_re, tbl_re = re.compile(cfg.scope.db_regex), re.compile(cfg.scope.table_regex)
    return {
        tid: tm
        for tid, tm in registry.items()
        if db_re.search(tm.db) and tbl_re.search(tm.table)
    }


def override_columns_by_table(registry: dict, mapping: dict) -> dict:
    """Ordinal->name projection for parsed registries (a TABLE_MAP carries
    no column names, /root/reference/row.cc:61-89): map (db, table) -> one
    or MORE candidate named layouts (a table ALTERed mid-stream appears
    under several table_ids with different widths — each epoch needs its
    own names). The candidate whose length and type codes match the parsed
    layout wins; no match leaves the parsed col0..colN names."""
    out = {}
    for tid, tm in registry.items():
        cands = mapping.get((tm.db, tm.table))
        if not cands:
            continue
        if cands and not isinstance(cands[0], (list, tuple)):
            cands = [cands]  # single layout
        for cols in cands:
            if len(cols) == len(tm.columns) and all(
                c.ctype == p.ctype for c, p in zip(cols, tm.columns)
            ):
                out[tid] = list(cols)
                break
    return out


def mysql_decoded_to_upserts(decoded: DataFrame, cfg: EngineConfig) -> DataFrame:
    """decode_mysql_events output -> upsert rows (version columns from the
    frame positions; delete payloads nulled — the key comes from the
    delete's before image, which IS the decoded image for op='D').

    Configured columns absent from the decode (a batch whose only tables
    were out of scope / undecodable has NO user columns at all) backfill
    as typed NULLs so the merge still commits — advancing the watermark
    over a content-free batch instead of crashing on resolution. Present
    payload columns keep their NATIVE decoded type (a numeric/decimal/
    timestamp payload column must not silently become string); only the
    backfill NULLs need an explicit type. Backfilled columns carry a
    ``null_backfill`` field-metadata marker so the sink's schema union
    knows the (arbitrary) backfill type is NOT a claim about the column's
    real type — a genuine int-data-for-string-column conflict still
    raises, while an all-NULL epoch backfill casts to the table's type."""
    have = set(decoded.columns)
    BACKFILL_META = {"null_backfill": True}

    def _c(name: str, cast: str):
        # cast ONLY the backfill branch: F.lit(None) is untyped and needs
        # one; a decoded column already carries its correct type
        return F.col(name) if name in have else F.lit(None).cast(cast)

    def _a(expr, name: str):
        # mark backfilled columns so _union_schema treats their type as
        # a placeholder, never a conflict
        return (
            expr.alias(name)
            if name in have
            else expr.alias(name, metadata=BACKFILL_META)
        )

    is_del = F.col("op") == OP_DELETE
    payload = [
        _a(F.when(~is_del, _c(c, "string")), c)
        for c in cfg.scope.column_names
        if c not in ("conv_id", "turn_idx", "ts")
    ]
    if "gtid" in have:  # optional transaction lineage column
        payload.append(F.col("gtid"))
    return decoded.select(
        _a(_c("conv_id", "string"), "conv_id"),
        _a(_c("turn_idx", "int"), "turn_idx"),
        *payload,
        _a(_c("ts", "timestamp"), "ts"),
        F.col("op").alias("_op"),
        _a(_c("ts", "timestamp"), "_ts"),
        F.col("file_seq").alias("_file_seq"),
        F.col("log_pos").alias("_log_pos"),
    )


def apply_mysql_batch(
    table: LakeTable,
    raw_frames: DataFrame,
    batch_id: int,
    cfg: EngineConfig | None = None,
    name_map: dict | None = None,
    checksum: bool = True,
    registry_cache: dict | None = None,
    dead_letter_path: str | None = None,
    persist_source: bool | None = None,
    gtid_lineage: bool = False,
    skip_gtids=None,
    track_gtid_set: bool = False,
    gtid_cache: dict | None = None,
    stash_path: str | None = None,
    audit=None,
) -> dict:
    """One micro-batch of GENUINE MySQL binlog frames: registry extract ->
    scope filter at the registry level -> broadcast -> vectorized wave
    decode -> salted LWW -> COW MERGE. Frame counts in lineage include
    control events (table maps etc.), matching how binlog positions
    advance over them. Bucket discovery is left to the merge (the bucket
    dirs its write made on a fresh table, a distinct job over the winners
    after).

    ``registry_cache`` (a mutable dict) persists table maps ACROSS
    micro-batches — the reference's table-map cache (packet.cc:194-200):
    a batch that lost its TABLE_MAP frames to a restart still decodes,
    and genuinely-unknown table_ids become detectable instead of
    silently dropped. The decode drops every frame whose
    ``validate_mysql_frames`` verdict is not ok: structurally corrupt
    (CRC included when ``checksum`` is on) AND semantically undecodable
    frames (unknown table_id, width mismatch, unsupported type).
    ``dead_letter_path`` records exactly those frames in a reason-coded
    parquet sink, with the same registry and known ids, and never changes
    what is applied; metrics then carry a ``dead_letter`` count.

    ``stash_path`` enforces TRANSACTION-atomic visibility: frames past the
    last XID_EVENT of their binlog file (a transaction the batch boundary
    cut in half) are split off before the merge and stashed under
    ``stash_path`` (hive-partitioned by batch_id); the next batch unions
    its predecessor's stash back in, where the commit marker lands. The
    stash write is deterministic and dynamically overwritten per batch_id,
    so a checkpoint-replayed batch rewrites its own stash byte-identically
    — exactly-once AND never-half-a-transaction. The watermark and lineage
    derive from the committed side only (deferred rows-frames do not
    advance them; recovery is checkpoint-replay + stash, never a
    watermark seek past unapplied frames).

    GTID auto-positioning: ``skip_gtids`` (a GtidSet or its text form)
    drops decoded rows whose transaction is already in the executed set
    — the source-side resume dedup of a GTID auto-position dump, done as
    a broadcast interval anti-join (the raw watermark still advances
    over skipped frames, matching how a server-side skip advances the
    position). ``track_gtid_set=True`` adds ``gtid_executed`` (canonical
    GTID-set text of THIS batch's transactions) to the returned metrics
    so the caller can maintain the cumulative frontier.

    ``gtid_cache`` (a mutable {file_seq: (log_pos, gtid)} dict) carries
    the LAST GTID seen per binlog file ACROSS micro-batches — the GTID
    analog of ``registry_cache``, and of the reference's mutable
    per-connection position state (packet.cc:56-68): a batch boundary
    that cuts between a GTID_LOG_EVENT and its transaction's rows-events
    would otherwise leave the next batch's leading rows with a NULL
    gtid (un-taggable, un-skippable); the cached frontier seeds the
    as-of assignment instead.

    ``persist_source``: tri-state, as in :func:`apply_batch`. The frames
    feed the frontier job, the table-map registry and the merge, so a
    computed source (``binlog_files_to_frames``' ``mapInArrow`` split, an
    in-flight encode) is persisted by default and split once per apply; a
    parquet frames table is read in place.

    ``audit``: the write-audit-publish gate, as in :func:`apply_batch`."""
    from binlogsub_spark.mysql_binlog import (
        decode_mysql_events,
        extract_table_maps,
        split_deadletter_mysql,
    )

    cfg = cfg or EngineConfig()
    deferred = {}
    if stash_path is not None:
        from binlogsub_spark.mysql_binlog import split_uncommitted

        prev_dir = os.path.join(stash_path, f"batch_id={batch_id - 1}")
        if os.path.isdir(prev_dir):
            raw_frames = (
                raw_frames.sparkSession.read.schema(RAW_SCHEMA)
                .parquet(prev_dir)
                .unionByName(raw_frames)
            )
        raw_frames, uncommitted = split_uncommitted(raw_frames, checksum=checksum)
        deferred["deferred"] = _write_by_batch(uncommitted, batch_id, stash_path)

    def upserts(src: DataFrame):
        extra = {}
        registry = extract_table_maps(src, checksum=checksum)
        if registry_cache is not None:
            registry_cache.update(registry)
            registry = dict(registry_cache)
        known_ids = set(registry)
        registry = scope_registry(registry, cfg)
        overrides = (
            override_columns_by_table(registry, name_map) if name_map else None
        )
        if dead_letter_path is not None:
            dead = split_deadletter_mysql(
                src, checksum=checksum,
                registry=registry, known_table_ids=known_ids,
            )
            extra["dead_letter"] = _write_by_batch(dead, batch_id, dead_letter_path)
        decoded = decode_mysql_events(
            src, registry, column_overrides=overrides, checksum=checksum,
            known_table_ids=known_ids,
        )
        if (
            gtid_lineage
            or skip_gtids is not None
            or track_gtid_set
            or gtid_cache is not None
        ):
            from binlogsub_spark.mysql_binlog import assign_gtids, extract_gtids

            gtids_df = extract_gtids(src, checksum=checksum)
            assign_src = gtids_df
            if gtid_cache:
                # seed with the per-file GTID frontier of earlier batches:
                # rows before this batch's first GTID frame belong to the
                # previous batch's last (open) transaction
                seed = src.sparkSession.createDataFrame(
                    [(fs, lp, g) for fs, (lp, g) in gtid_cache.items()],
                    "file_seq int, log_pos long, gtid string",
                )
                assign_src = gtids_df.unionByName(seed)
            if gtid_lineage or skip_gtids is not None:
                # tag each decoded row with its transaction's GTID (the
                # last GTID event at-or-before it) — the "GTID+log-position
                # ordering" of the north rule carried into the lake as
                # lineage (and the key the resume filter drops on)
                decoded = assign_gtids(decoded, assign_src)
            if gtid_cache is not None:
                # advance the cached frontier (bounded: one row per binlog
                # file in the batch, same cost class as the lineage agg)
                for r in (
                    gtids_df.groupBy("file_seq")
                    .agg(
                        F.max_by("gtid", "log_pos").alias("g"),
                        F.max("log_pos").alias("lp"),
                    )
                    .collect()
                ):
                    prev = gtid_cache.get(int(r["file_seq"]))
                    if prev is None or r["lp"] > prev[0]:
                        gtid_cache[int(r["file_seq"])] = (int(r["lp"]), r["g"])
            if skip_gtids is not None:
                from binlogsub_spark.operators.gtid import filter_executed_gtids

                decoded = filter_executed_gtids(decoded, skip_gtids)
                if not gtid_lineage:
                    decoded = decoded.drop("gtid")
            if track_gtid_set:
                from binlogsub_spark.operators.gtid import (
                    collect_gtid_set,
                    format_gtid_set,
                    gtid_executed_intervals,
                    split_gtid,
                )

                extra["gtid_executed"] = format_gtid_set(
                    collect_gtid_set(
                        gtid_executed_intervals(
                            gtids_df.select(*split_gtid(F.col("gtid")))
                        )
                    )
                )
        partials = partial_lww_reduce(
            mysql_decoded_to_upserts(decoded, cfg), salt=cfg.skew_salt
        )
        return partials, {**extra, **deferred}

    metrics = _commit(
        table, raw_frames, batch_id, cfg, None, upserts,
        persist=persist_source, audit=audit,
    )
    if deferred:
        # stash partitions <= batch_id-2 can never be read again (batch N
        # only ever unions partition N-1); drop them driver-side AFTER the
        # merge committed so a replay window never loses its input
        import shutil

        for d in os.listdir(stash_path) if os.path.isdir(stash_path) else ():
            if d.startswith("batch_id="):
                try:
                    if int(d.split("=", 1)[1]) <= batch_id - 2:
                        shutil.rmtree(os.path.join(stash_path, d))
                except ValueError:
                    pass
    return metrics


def run_stream_mysql(
    spark: SparkSession,
    source_path: str,
    table: LakeTable,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    name_map: dict | None = None,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    checksum: bool = True,
    dead_letter_path: str | None = None,
    gtid_lineage: bool = False,
    gtid_auto_position: bool = False,
    atomic_commits: bool = False,
    audit=None,
):
    """Structured Streaming over a table of genuine MySQL binlog frames —
    the FULL reference-equivalent path, end to end. The table-map registry
    is CACHED across micro-batches and persisted next to the checkpoint
    (table_maps.json, atomic rename), so a batch whose TABLE_MAP frames
    arrived earlier — or before a kill/restart — still decodes; the
    reference keeps the same cache in memory keyed off its Redis position
    (packet.cc:194-200).

    ``gtid_auto_position=True`` maintains the executed GTID set as a
    second, failover-portable frontier: each batch's transaction ids are
    compressed to intervals and unioned into
    ``<checkpoint>/gtid_executed.txt`` (atomic rename, idempotent on
    checkpoint replay), and transactions already in the set AT STREAM
    START are dropped before the merge — so a table restored onto a new
    source (different binlog file numbering, same GTIDs) resumes without
    double-applying, which a (file, position) watermark cannot express.

    ``atomic_commits=True`` stashes each batch's uncommitted transaction
    tail under ``<checkpoint>/txn_stash`` (see :func:`apply_mysql_batch`'s
    ``stash_path``); ``audit`` gates every commit as in :func:`run_stream`."""
    from binlogsub_spark.mysql_binlog import registry_from_json, registry_to_json
    from binlogsub_spark.operators.gtid import (
        format_gtid_set,
        gtid_set_union,
        parse_gtid_set,
    )

    maps_path = os.path.join(checkpoint_dir, "table_maps.json")
    registry_cache: dict = {}
    if os.path.exists(maps_path):
        with open(maps_path) as f:
            registry_cache.update(registry_from_json(f.read()))

    gtid_path = os.path.join(checkpoint_dir, "gtid_executed.txt")
    gtid_pos_path = os.path.join(checkpoint_dir, "gtid_positions.json")
    skip_gtids = None
    executed_acc: dict = {}
    gtid_cache: dict | None = None
    if gtid_auto_position or gtid_lineage:
        # per-file GTID frontier: lets a batch cut between a GTID frame
        # and its rows-events (or a restart) still tag the leading rows
        gtid_cache = {}
        if os.path.exists(gtid_pos_path):
            with open(gtid_pos_path) as f:
                gtid_cache.update(
                    {int(k): tuple(v) for k, v in json.load(f).items()}
                )
    if gtid_auto_position:
        if os.path.exists(gtid_path):
            with open(gtid_path) as f:
                executed_acc = parse_gtid_set(f.read())
        if executed_acc:
            skip_gtids = executed_acc
    stash_path = os.path.join(checkpoint_dir, "txn_stash") if atomic_commits else None

    def apply(batch_df: DataFrame, batch_id: int) -> dict:
        nonlocal executed_acc
        m = apply_mysql_batch(
            table, batch_df, batch_id, cfg, name_map=name_map, checksum=checksum,
            registry_cache=registry_cache, dead_letter_path=dead_letter_path,
            gtid_lineage=gtid_lineage,
            skip_gtids=skip_gtids,
            track_gtid_set=gtid_auto_position,
            gtid_cache=gtid_cache,
            stash_path=stash_path,
            audit=audit,
        )
        os.makedirs(checkpoint_dir, exist_ok=True)
        if gtid_auto_position and m.get("gtid_executed"):
            executed_acc = gtid_set_union(
                executed_acc, parse_gtid_set(m["gtid_executed"])
            )
            # idempotent on replay: set union
            _atomic_write(gtid_path, format_gtid_set(executed_acc))
        if gtid_cache:
            _atomic_write(
                gtid_pos_path,
                json.dumps({str(k): list(v) for k, v in gtid_cache.items()}),
            )
        _atomic_write(maps_path, registry_to_json(registry_cache))
        return m

    return _stream(
        spark, source_path, table, checkpoint_dir, apply, RAW_SCHEMA,
        max_files_per_trigger, available_now,
    )
