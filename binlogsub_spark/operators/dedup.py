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
* Both reducers are that one aggregate. ``lww_reduce`` groups by the key
  and is complete; ``partial_lww_reduce`` also groups by a salt derived
  from the version columns, so a hot key's rows spread over ``salt``
  reducers before the merge colocates buckets and runs ``lww_reduce``
  partition-locally — the "salted repartition before the merge-apply
  stage" of the north rule.
* The version triple is unique per event (positions are unique), so the
  winner is deterministic; replayed duplicates compare equal and collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from binlogsub_spark.plans.envelope import LWW_ORDER, MERGE_KEY


def _max_struct(df: DataFrame, key, order, salt: int | None) -> DataFrame:
    """One ``max(struct)`` per key (and per salt, when given), all columns
    kept in ``df``'s order."""
    key = key or MERGE_KEY
    order = order or LWW_ORDER
    payload = [c for c in df.columns if c not in key]
    ordered_payload = [c for c in order if c in payload] + [
        c for c in payload if c not in order
    ]
    packed = F.struct(*[F.col(c) for c in ordered_payload]).alias("_w")
    groups = list(key)
    if salt is not None:
        groups.append(
            F.pmod(F.xxhash64(*[F.col(c) for c in order]), F.lit(max(salt, 1)))
            .alias("_salt")
        )
    return (
        df.groupBy(*groups)
        .agg(F.max(packed).alias("_w"))
        .select(*key, *[F.col(f"_w.{c}").alias(c) for c in ordered_payload])
        .select(*df.columns)
    )


def lww_reduce(
    df: DataFrame, key: list[str] | None = None, order: list[str] | None = None
) -> DataFrame:
    """Reduce to one row per key: the max-(order) row, all columns kept."""
    return _max_struct(df, key, order, None)


def partial_lww_reduce(
    df: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    salt: int = 8,
) -> DataFrame:
    """Phase one only: salted per-(key, salt) winners. Collapses hot keys
    (a conversation holding 30% of a batch reduces to <= salt rows per
    turn) while leaving the authoritative reduce to the merge's
    partition-local ``lww_reduce`` after its bucket-colocation exchange.
    The output still has at most ``salt`` rows per key."""
    return _max_struct(df, key, order, salt)
