"""Incremental materialized-view maintenance over the lake changelog.

The downstream half of CDC. The reference hands decoded row events to
``IBusiness`` consumers (/root/reference/business.h) and leaves each
consumer to rebuild its own state; at 100 TB a consumer that recomputes a
``GROUP BY`` over the whole table per refresh IS the bottleneck. This
operator maintains a per-conversation aggregate table incrementally:

1. each ``refresh()`` reads only the changelog delta between the last
   refreshed source snapshot and the current one (``LakeTable.changes`` —
   bucket-pruned by the COW layout, so a 1-conversation commit on a 100 TB
   table diffs 1/buckets of it);
2. the aggregate is recomputed for ONLY the dirty groups: their source
   rows come from a bucket-pruned scan of the current snapshot, semi-joined
   against the dirty-key set (AQE broadcasts the small side);
3. the new group rows — plus tombstones for groups that vanished — are
   MERGE-applied into the view, which is itself a :class:`LakeTable` with
   ``turn_idx`` pinned to 0, so refreshes are idempotent (``batch_id`` =
   source snapshot id) and the view supports time travel / ``changes()``
   like any other table.

Work per refresh scales with the size of the CHANGE, not the table.

Spark-first: the dirty-group recompute is a plain ``groupBy().agg()`` over
a pruned scan — Catalyst's partial aggregation and AQE join planning do
the physical work; no driver-side row loops, no collected key lists (only
the bounded dirty-BUCKET id set crosses to the driver).
"""
from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, functions as F, types as T

from binlogsub_spark.lake.table import LakeTable, _atomic_write, bucket_expr
from binlogsub_spark.plans.envelope import MERGE_KEY

GROUP_KEY = MERGE_KEY[0]  # conv_id — the view key; turn_idx is pinned to 0


def transcript_stats_aggs() -> dict[str, Column]:
    """Default per-conversation aggregate: the stats a transcript-serving
    layer actually asks for. Every expression is deterministic and has an
    exact ANSI-SQL twin (the driver oracle replays it in DuckDB)."""
    return {
        "n_turns": F.count(F.lit(1)).alias("n_turns"),
        "max_turn_idx": F.max("turn_idx").cast("int").alias("max_turn_idx"),
        "last_ts": F.max("ts").alias("last_ts"),
        "n_tool_turns": F.count("tool").alias("n_tool_turns"),
        "total_chars": F.sum(F.length("text")).cast("long").alias("total_chars"),
    }


class IncrementalView:
    """A per-``conv_id`` aggregate view maintained from a source
    :class:`LakeTable`'s changelog.

    ``agg_exprs`` maps output column name -> aggregate Column (already
    aliased); defaults to :func:`transcript_stats_aggs`. All aggregates
    must be functions of the group's live rows only (no cross-group state).
    """

    def __init__(
        self,
        source: LakeTable,
        path: str,
        agg_exprs: dict[str, Column] | None = None,
        buckets: int = 16,
    ):
        self.source = source
        self.path = path
        self.table = LakeTable(source.spark, os.path.join(path, "view"), buckets=buckets)
        self._state_path = os.path.join(path, "_ivm_state.json")
        self.agg_exprs = agg_exprs if agg_exprs is not None else transcript_stats_aggs()

    # -- refresh bookkeeping (tiny json, atomic rename — same durability
    # pattern as the pipeline's table-map cache) ------------------------
    def last_refreshed_snapshot(self) -> int | None:
        if not os.path.exists(self._state_path):
            return None
        with open(self._state_path) as f:
            return json.load(f)["source_snapshot_id"]

    def _save_state(self, snapshot_id: int) -> None:
        os.makedirs(self.path, exist_ok=True)
        _atomic_write(self._state_path, json.dumps({"source_snapshot_id": snapshot_id}))

    # -------------------------------------------------------------------
    def _dirty_keys(self, last: int | None, cur_id: int, full: bool) -> DataFrame:
        if full and self.table.snapshot() is not None:
            # a full refresh must also tombstone groups that exist only in
            # the (possibly stale) view — dirty = view keys ∪ source keys
            return (
                self.table.read()
                .select(GROUP_KEY)
                .unionByName(
                    self.source.changes(None, cur_id).select(GROUP_KEY)
                )
                .distinct()
            )
        return self.source.changes(last, cur_id).select(GROUP_KEY).distinct()

    def refresh(self, full: bool = False) -> dict:
        """Advance the view to the source's current snapshot.

        ``full=True`` recomputes every group (recovery path — e.g. after
        ``vacuum()`` expired the changelog window ``changes()`` needs);
        normal refreshes are delta-driven. Returns refresh metrics.
        """
        cur = self.source.snapshot()
        if cur is None:
            return {"refreshed": False, "reason": "source has no snapshot"}
        cur_id = cur["snapshot_id"]
        last = None if full else self.last_refreshed_snapshot()
        if not full and last == cur_id:
            return {"refreshed": False, "reason": "up to date", "snapshot_id": cur_id}

        from pyspark import StorageLevel

        dirty = self._dirty_keys(last, cur_id, full).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            # prune the source scan to the buckets the dirty keys hash into —
            # the collect is bounded by the table's bucket count, never by
            # data size. Hash with the SNAPSHOT's modulus (a rebucket() may
            # sit between refreshes; the manifest is authoritative).
            src_buckets = cur.get("buckets", self.source.buckets)
            dirty_buckets = sorted(
                r["_b"]
                for r in dirty.select(
                    bucket_expr(F.col(GROUP_KEY), src_buckets).alias("_b")
                )
                .distinct()
                .collect()
            )
            live = (
                self.source.read_internal(buckets=dirty_buckets, snapshot_id=cur_id)
                .where(F.col("_op") != "D")
                .join(dirty, GROUP_KEY, "left_semi")
            )
            new_rows = live.groupBy(GROUP_KEY).agg(
                *[c.alias(n) for n, c in self.agg_exprs.items()]
            )
            agg_fields = [
                f for f in new_rows.schema.fields if f.name != GROUP_KEY
            ]

            # version stamp: the source snapshot id is the refresh ordinal —
            # monotone, so a later refresh's rows win LWW over earlier ones
            stamp = [
                F.timestamp_seconds(F.lit(cur_id)).alias("_ts"),
                F.lit(0).cast("int").alias("_file_seq"),
                F.lit(0).cast("long").alias("_log_pos"),
            ]
            ups = new_rows.select(
                F.col(GROUP_KEY),
                F.lit(0).cast("int").alias("turn_idx"),
                *[F.col(f.name) for f in agg_fields],
                F.lit("U").alias("_op"),
                *stamp,
            )
            gone = dirty.join(new_rows.select(GROUP_KEY), GROUP_KEY, "left_anti")
            tombs = gone.select(
                F.col(GROUP_KEY),
                F.lit(0).cast("int").alias("turn_idx"),
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in agg_fields
                ],
                F.lit("D").alias("_op"),
                *stamp,
            )
            # one row per (conv_id, 0) by construction
            res = self.table.merge(ups.unionByName(tombs), batch_id=cur_id)
        finally:
            dirty.unpersist(blocking=False)
        self._save_state(cur_id)
        return {
            "refreshed": True,
            "from_snapshot": last,
            "to_snapshot": cur_id,
            "applied": res["applied"],
            "replayed": res["replayed"],
            "view_snapshot_id": res["snapshot_id"],
        }

    def read(self) -> DataFrame:
        """Live view rows (group key + aggregate columns)."""
        return self.table.read().drop("turn_idx")
