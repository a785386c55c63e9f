"""Last-writer-wins dedup per key — the aggregation the reference never had.

The reference applies every change row-at-a-time in binlog order
(/root/reference/event.cc:361-364 dispatches each Row to the sink), so LWW
is implicit in arrival order. A parallel engine must make it explicit:
within a batch, exactly one winner per (conv_id, turn_idx), ordered by
(ts, file_seq, log_pos) lexicographic (BASELINE.json north rule).

Implementation notes (scale):

* ``max(struct(order..., payload...))`` instead of a window
  ``row_number() == 1``: a window sorts ALL rows of the hot key inside one
  task (the skew trap); an aggregate gets map-side partial combine, so a
  conv_id holding 30% of the stream is pre-reduced inside every map task
  before a single byte shuffles.
* On top of that, an explicit salted two-phase reduce (groupBy(key, salt)
  -> groupBy(key)) is available for when partial aggregation degrades
  (very high distinct-key counts exhaust the hash-agg and it falls back to
  sort-based), which is the realistic regime at 10^10 events. This is the
  "salted repartition before the merge-apply stage" of the north rule.
* The version triple is unique per event (positions are unique), so the
  winner is deterministic; replayed duplicates compare equal and collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from binlogsub_spark.plans.envelope import LWW_ORDER, MERGE_KEY


def lww_reduce(
    df: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    salt: int = 8,
) -> DataFrame:
    """Reduce to one row per key: the max-(order) row, all columns kept.

    ``salt > 1`` does an explicit two-phase aggregation: phase one reduces
    (key, salt)-groups (salt derived from log_pos, so a hot key's rows are
    spread over ``salt`` reducers), phase two reduces the per-salt winners.
    """
    key = key or MERGE_KEY
    order = order or LWW_ORDER
    payload = [c for c in df.columns if c not in key]
    ordered_payload = [c for c in order if c in payload] + [
        c for c in payload if c not in order
    ]
    packed = F.struct(*[F.col(c) for c in ordered_payload]).alias("_w")

    if salt > 1:
        salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in order]), F.lit(salt))
        partial = (
            df.groupBy(*key, salt_col.alias("_salt"))
            .agg(F.max(packed).alias("_w"))
            .drop("_salt")
        )
        final = partial.groupBy(*key).agg(F.max(F.col("_w")).alias("_w"))
    else:
        final = df.groupBy(*key).agg(F.max(packed).alias("_w"))

    return final.select(*key, *[F.col(f"_w.{c}").alias(c) for c in ordered_payload]).select(
        *df.columns
    )


def partial_lww_reduce(
    df: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    salt: int = 8,
) -> DataFrame:
    """Phase one only: salted per-(key, salt) winners. Collapses hot keys
    (a conversation holding 30% of a batch reduces to <= salt rows per
    turn) while leaving the authoritative reduce to the merge's
    partition-local pass after its bucket-colocation exchange — this is
    the 'salted repartitioning before the merge-apply stage'. The output
    still has at most ``salt`` rows per key."""
    key = key or MERGE_KEY
    order = order or LWW_ORDER
    payload = [c for c in df.columns if c not in key]
    ordered_payload = [c for c in order if c in payload] + [
        c for c in payload if c not in order
    ]
    packed = F.struct(*[F.col(c) for c in ordered_payload]).alias("_w")
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in order]), F.lit(max(salt, 1)))
    partial = (
        df.groupBy(*key, salt_col.alias("_salt"))
        .agg(F.max(packed).alias("_w"))
        .drop("_salt")
    )
    return partial.select(
        *key, *[F.col(f"_w.{c}").alias(c) for c in ordered_payload]
    ).select(*df.columns)

