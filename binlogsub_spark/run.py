"""spark-submit entry point: tail a binlog event table into a LakeTable.

Usage (the deployment shape the north rule asks for — on a cluster this is
``spark-submit --py-files binlogsub_spark.zip -m binlogsub_spark.run …``;
locally plain ``python -m binlogsub_spark.run``):

    python -m binlogsub_spark.run \
        --source /path/to/binlog_parquet \
        --table  /path/to/lake_table \
        --checkpoint /path/to/ckpt \
        [--generate N]        # first synthesize a binlog of N events at --source
        [--buckets 32] [--max-files-per-trigger 4] [--master local[32]]

Prints one JSON line of final metrics (rows, snapshots, applied/skipped).
"""

from __future__ import annotations

import argparse
import json
import sys

from binlogsub_spark import pipeline
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.session import get_spark
from binlogsub_spark.sources import generator

# ingest mode -> (fixture writer for --generate, stream runner,
# {flag only this mode takes: the runner keyword it sets})
_MODES = {
    "structured": (generator.write_binlog, pipeline.run_stream, {}),
    "raw": (
        generator.write_raw_binlog, pipeline.run_stream_raw,
        {"dead_letter": "dead_letter_path"},
    ),
    "mysql": (
        generator.write_mysql_binlog, pipeline.run_stream_mysql,
        {
            "dead_letter": "dead_letter_path",
            "atomic": "atomic_commits",
            "gtid": "gtid_lineage",
            "gtid_auto_position": "gtid_auto_position",
        },
    ),
    "debezium": (generator.write_debezium_json, pipeline.run_stream_debezium, {}),
    "canal": (generator.write_canal_json, pipeline.run_stream_canal, {}),
    "maxwell": (generator.write_maxwell_json, pipeline.run_stream_maxwell, {}),
}
_MODE_ONLY = list(dict.fromkeys(f for _, _, flags in _MODES.values() for f in flags))
# flags that only an ingest run reads
_INGEST = (
    "source", "checkpoint", "generate", "max_files_per_trigger", "timeout_sec",
    "audit_max_drop", *(m for m in _MODES if m != "structured"), *_MODE_ONLY,
)
_MAINTENANCE = ("changes", "rebucket", "freshness", "compact", "vacuum", "get", "delete_keys")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", default=None, help="ingest only (required there)")
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", default=None, help="ingest only (required there)")
    ap.add_argument("--generate", type=int, default=0)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--master", default=None)
    ap.add_argument("--timeout-sec", type=int, default=3600)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument(
        "--raw", action="store_true",
        help="binary wire mode: source rows are (file_seq, log_pos, "
        "payload:binary); decode runs as an Arrow kernel inside each batch",
    )
    mode.add_argument(
        "--mysql", action="store_true",
        help="genuine MySQL binlog-frame mode: source rows are (file_seq, "
        "log_pos, payload) where payload is a full binlog event frame "
        "(19-byte header, TABLE_MAP control frames, rows events v2, CRC32)",
    )
    mode.add_argument(
        "--debezium", action="store_true",
        help="Debezium-JSON mode: source is a JSON-lines landing zone of "
        "connector value documents (before/after/source/op); parsed with "
        "from_json into the engine envelope per micro-batch",
    )
    mode.add_argument(
        "--canal", action="store_true",
        help="Canal flatMessage mode: JSON-lines landing zone of "
        "file_seq\\tlog_pos\\tflatMessage lines (data/old string arrays, "
        "type INSERT/UPDATE/DELETE); parsed with from_json per micro-batch",
    )
    mode.add_argument(
        "--maxwell", action="store_true",
        help="Maxwell-JSON mode: JSON-lines landing zone of maxwell "
        "records (data/old, type insert/update/delete, in-band "
        "position 'mysql-bin.NNNNNN:pos'); parsed with from_json",
    )
    ap.add_argument(
        "--atomic", action="store_true",
        help="mysql mode: transaction-atomic micro-batches — rows past "
        "their binlog file's last XID are stashed (never half-applied) "
        "and land when the commit marker arrives",
    )
    ap.add_argument(
        "--gtid", action="store_true",
        help="mysql mode: tag applied rows with their transaction GTID "
             "(as-of assignment from GTID_LOG_EVENT frames)",
    )
    ap.add_argument(
        "--gtid-auto-position", action="store_true",
        help="mysql mode: maintain <checkpoint>/gtid_executed.txt (the "
        "canonical executed GTID set, unioned per batch) and drop "
        "transactions already in it at stream start — failover-portable "
        "resume that a (file, position) watermark cannot express",
    )
    ap.add_argument(
        "--dead-letter", default=None,
        help="mysql/raw mode: parquet path recording the frames the decoder "
        "drops, reason-coded (batch_id-partitioned, idempotent on replay; "
        "the table is the same without it)",
    )
    ap.add_argument(
        "--changes", default=None, metavar="FROM[,TO]",
        help="consumption mode: instead of ingesting, emit the net I/U/D "
        "change feed of --table between two committed snapshots "
        "(LakeTable.changes; FROM may be the literal 'none' for "
        "'since the empty table', TO defaults to current). Prints a JSON "
        "summary; --changes-out writes the full feed as parquet.",
    )
    ap.add_argument(
        "--changes-out", default=None,
        help="with --changes: parquet output path for the change feed",
    )
    ap.add_argument(
        "--changes-format", default="parquet",
        choices=["parquet", "debezium", "canal", "maxwell"],
        help="with --changes-out: feed encoding — parquet keeps the raw "
        "changelog; the connector dialects write JSON-lines value "
        "documents a downstream subscriber (including this engine's own "
        "--debezium/--canal/--maxwell modes) can ingest",
    )
    ap.add_argument(
        "--audit-max-drop", type=float, default=None, metavar="FRAC",
        help="any ingest mode: write-audit-publish gate — stage every "
        "micro-batch and refuse to publish one that shrinks the live "
        "table by more than FRAC (0..1); a rejected batch aborts with "
        "the table unchanged",
    )
    ap.add_argument(
        "--freshness", action="store_true",
        help="maintenance mode: print the table's ingest-lag summary "
        "(event-time frontier vs commit wall clock) as JSON and exit",
    )
    ap.add_argument(
        "--delete-keys", default=None, metavar="K1,K2,...",
        help="maintenance mode: instead of ingesting, erase the listed "
        "conv_ids from --table (right-to-be-forgotten) as ordinary LWW "
        "tombstones through one bucket-pruned MERGE. Prints a JSON summary.",
    )
    ap.add_argument(
        "--rebucket", type=int, default=None, metavar="N",
        help="maintenance mode: instead of ingesting, rescale --table to N "
        "CRC32 buckets as one atomic snapshot (k-aligned counts are an "
        "exchange-free partition-local remap). Prints a JSON summary.",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="maintenance mode: rewrite all live buckets into one commit "
        "dir, clustered by the merge key, zstd-encoded. Prints a JSON "
        "summary.",
    )
    ap.add_argument(
        "--vacuum", type=int, default=None, metavar="KEEP",
        help="maintenance mode: expire data files unreachable from the "
        "last KEEP manifests (tagged snapshots are pinned). Prints a "
        "JSON summary.",
    )
    ap.add_argument(
        "--get", default=None, metavar="K1,K2,...",
        help="maintenance mode: bucket-pruned point lookup — print the "
        "live rows of the listed conv_ids as JSON lines",
    )
    args = ap.parse_args(argv)
    _check_flags(ap, args)

    spark = get_spark(app_name="binlogsub-ingest", master=args.master)
    if args.changes is not None:
        out = _run_changes(spark, args)
    else:
        # the constructor adopts a committed manifest's bucket count, so
        # --buckets only shapes a table this run creates
        table = LakeTable(spark, args.table, buckets=args.buckets)
        if args.rebucket is not None:
            out = {**table.rebucket(args.rebucket), "rows": table.read().count()}
        elif args.freshness:
            out = table.freshness()
        elif args.compact:
            out = {**table.compact(), "rows": table.read().count()}
        elif args.vacuum is not None:
            out = table.vacuum(keep_snapshots=args.vacuum)
        elif args.get is not None:
            keys = [k for k in args.get.split(",") if k]
            for row in table.read_keys(keys).toJSON().collect():
                print(row)
            out = None
        elif args.delete_keys is not None:
            # targeted erasure through the normal LWW merge (ordinary
            # tombstones; batch_id defaults to current + 1)
            snap = table.snapshot()
            if snap is None:
                ap.error("--delete-keys needs a committed table")
            keys = [k for k in args.delete_keys.split(",") if k]
            r = table.delete_keys(keys, batch_id=snap["batch_id"] + 1)
            out = {**r, "rows": table.read().count()}
        else:
            out = _ingest(spark, table, args)
    if out is not None:
        print(json.dumps(out, default=str))
    spark.stop()
    return 0


def _mode(args) -> str:
    return next((m for m in _MODES if getattr(args, m, False)), "structured")


def _check_flags(ap, args) -> None:
    """Reject flag combinations the chosen mode would silently ignore,
    before a Spark session starts or --generate writes anything."""

    def given(flag: str) -> bool:
        return getattr(args, flag) != ap.get_default(flag)

    def opt(flag: str) -> str:
        return "--" + flag.replace("_", "-")

    maintenance = next(filter(given, _MAINTENANCE), None)
    if maintenance:
        stray = next(filter(given, _INGEST), None)
        if stray:
            ap.error(f"{opt(stray)} only applies to ingest, not {opt(maintenance)}")
        return
    mode = _mode(args)
    for flag in filter(given, _MODE_ONLY):
        if flag not in _MODES[mode][2]:
            wired = "/".join(m for m, (_, _, f) in _MODES.items() if flag in f)
            ap.error(f"{opt(flag)} is only wired for {wired} mode")
    if not (args.source and args.checkpoint):
        ap.error(
            "--source and --checkpoint are required unless "
            + "/".join(map(opt, _MAINTENANCE))
        )


def _ingest(spark, table: LakeTable, args) -> dict:
    """Stream ``--source`` into ``table`` in the chosen mode (after
    writing a fixture there with ``--generate``); returns the summary."""
    mode = _mode(args)
    write, runner, flags = _MODES[mode]
    write_kw, run_kw = {}, {kw: getattr(args, f) for f, kw in flags.items()}
    if mode == "mysql":
        # the fixture frames transactions / GTIDs when the stream uses them,
        # and the registry's ordinal columns take the fixture's names
        write_kw = {"xids": args.atomic, "gtids": args.gtid or args.gtid_auto_position}
        name_map: dict = {}
        for tm in generator.transcripts_table_maps().values():
            name_map.setdefault((tm.db, tm.table), []).append(tm.columns)
        run_kw["name_map"] = name_map
    if args.generate:
        params = generator.GeneratorParams(n_events=args.generate)
        write(spark, args.source, params, n_files=16, **write_kw)
    if args.audit_max_drop is not None:
        from binlogsub_spark.audits import row_count_guard

        run_kw["audit"] = row_count_guard(args.audit_max_drop)
    q = runner(
        spark, args.source, table, args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=True,
        **run_kw,
    )
    q.awaitTermination(args.timeout_sec)

    snap = table.snapshot() or {}
    lineage = table.lineage().toPandas()
    out = {
        "rows": table.read().count() if snap else 0,
        "snapshot_id": snap.get("snapshot_id"),
        "batch_id": snap.get("batch_id"),
        "watermark": snap.get("watermark"),
        "events_seen": int(lineage["events"].sum()),
        "batches": int(lineage["batch_id"].nunique()),
    }
    if snap:
        lag = table.freshness()["ingest_lag_seconds"]
        out["ingest_lag_seconds"] = round(lag, 3) if lag is not None else None
    return out


def _run_changes(spark, args) -> dict:
    """Consumption-side CLI: the net I/U/D feed between two snapshots
    (changelog scan) — making CDC's read side a first-class surface like
    ingest. Bucket-location diffing prunes the scan to changed buckets
    before a byte is read (lake/table.py changes()). Returns the summary
    dict (main prints it and owns the session lifecycle)."""
    from pyspark.sql import functions as F

    table = LakeTable(spark, args.table, buckets=args.buckets)
    parts = args.changes.split(",")
    from_id = None if parts[0].strip().lower() in ("none", "") else int(parts[0])
    to_id = int(parts[1]) if len(parts) > 1 and parts[1].strip() else None
    fmt = getattr(args, "changes_format", None) or "parquet"
    feed = table.changes(from_id, to_id, include_before=(fmt != "parquet"))
    if args.changes_out:
        if fmt == "parquet":
            feed.write.mode("overwrite").parquet(args.changes_out)
            feed = spark.read.parquet(args.changes_out)  # count written feed
        else:
            # connector-dialect JSON-lines landing zone: the same files a
            # downstream run of THIS engine's --debezium/--canal/--maxwell
            # mode (or any standard consumer) ingests
            from binlogsub_spark.sources.outbound import (
                changes_to_canal,
                changes_to_maxwell,
            )
            from binlogsub_spark.sources.debezium import changes_to_debezium

            enc = {
                "debezium": changes_to_debezium,
                "canal": changes_to_canal,
                "maxwell": changes_to_maxwell,
            }[fmt]
            enc(feed).select("value").write.mode("overwrite").text(
                args.changes_out
            )
    counts = {
        r["change_op"]: r["n"]
        for r in feed.groupBy("change_op").agg(F.count("*").alias("n")).collect()
    }
    out = {
        "table": args.table,
        "from_snapshot": from_id,
        "to_snapshot": to_id
        if to_id is not None
        else (table.snapshot() or {}).get("snapshot_id"),
        "inserts": counts.get("I", 0),
        "updates": counts.get("U", 0),
        "deletes": counts.get("D", 0),
        "rows": sum(counts.values()),
        "written": args.changes_out,
        "format": fmt,
    }
    return out


if __name__ == "__main__":
    sys.exit(main())
