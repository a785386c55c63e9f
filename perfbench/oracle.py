"""Independent expected state: a DuckDB window LWW over the generated events.

The engine's answer is its ``LakeTable.read()``; the oracle replays the same
structured events without Spark: keep the scoped events, take per key
``(conv_id, turn_idx)`` the event with the greatest ``(ts, file_seq,
log_pos)``, drop keys whose winner is a delete, and apply the schema epoch
(``tool`` exists from ``schema_version`` 2 on). Both sides are compared by
row count plus an order-independent content hash.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from binlogsub_spark.config import SchemaScope

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us"]


def _winners_sql(events_glob: str, upto_seq: int, scope: SchemaScope) -> str:
    return f"""
        WITH e AS (
            SELECT op, file_seq, log_pos, schema_version,
                   CASE WHEN op = 'D' THEN before ELSE after END AS img
            FROM read_parquet('{events_glob}')
            WHERE regexp_matches(db_name, '{scope.db_regex}')
              AND regexp_matches(table_name, '{scope.table_regex}')
              AND delivery_seq < {int(upto_seq)}
        )
        SELECT img.conv_id AS conv_id,
               CAST(img.turn_idx AS BIGINT) AS turn_idx,
               img.role AS role,
               img.text AS text,
               CASE WHEN schema_version >= 2 THEN img.tool END AS tool,
               epoch_us(img.ts) AS ts_us,
               op, file_seq, log_pos
        FROM e
        QUALIFY row_number() OVER (
            PARTITION BY img.conv_id, img.turn_idx
            ORDER BY img.ts DESC, file_seq DESC, log_pos DESC) = 1
    """


class Oracle:
    """Expected states of one event stream, by delivery-order prefix."""

    def __init__(self, events_glob: str, scope: SchemaScope | None = None):
        self.events_glob = events_glob
        self.scope = scope or SchemaScope()
        self._con = duckdb.connect()
        self._live: dict[int, pd.DataFrame] = {}
        self._changes: dict[tuple[int, int], int] = {}

    def close(self) -> None:
        self._con.close()

    def _winners(self, upto_seq: int) -> pd.DataFrame:
        return self._con.execute(
            _winners_sql(self.events_glob, upto_seq, self.scope)
        ).df()

    def live(self, upto_seq: int) -> pd.DataFrame:
        """Live rows after every event with ``delivery_seq < upto_seq``."""
        if upto_seq not in self._live:
            w = self._winners(upto_seq)
            self._live[upto_seq] = w[w["op"] != "D"][COLUMNS].reset_index(drop=True)
        return self._live[upto_seq]

    def lookup_hash(self, upto_seq: int, conv_ids) -> tuple[int, int]:
        """Content hash of the live rows of the given conversations."""
        live = self.live(upto_seq)
        return content_hash(live[live["conv_id"].isin(conv_ids)])

    def conv_ids(self, lo_seq: int, hi_seq: int) -> list[str]:
        """Distinct in-scope conversations of the events in [lo, hi)."""
        rows = self._con.execute(f"""
            SELECT DISTINCT COALESCE(after.conv_id, before.conv_id)
            FROM read_parquet('{self.events_glob}')
            WHERE regexp_matches(db_name, '{self.scope.db_regex}')
              AND regexp_matches(table_name, '{self.scope.table_regex}')
              AND delivery_seq >= {int(lo_seq)} AND delivery_seq < {int(hi_seq)}
        """).fetchall()
        return sorted(r[0] for r in rows)

    def n_changes(self, from_seq: int, upto_seq: int) -> int:
        """Keys whose live state differs between the two prefixes: the row
        count a correct ``LakeTable.changes`` over that span returns."""
        if (from_seq, upto_seq) not in self._changes:
            self._changes[(from_seq, upto_seq)] = self._n_changes(from_seq, upto_seq)
        return self._changes[(from_seq, upto_seq)]

    def _n_changes(self, from_seq: int, upto_seq: int) -> int:
        key = ["conv_id", "turn_idx"]
        ver = ["ts_us", "file_seq", "log_pos"]
        a = self._winners(from_seq) if from_seq > 0 else None
        b = self._winners(upto_seq)
        b = b[b["op"] != "D"][key + ver]
        if a is None:
            return len(b)
        a = a[a["op"] != "D"][key + ver]
        j = a.merge(b, on=key, how="outer", suffixes=("_a", "_b"), indicator=True)
        both = j["_merge"] == "both"
        same = both & np.logical_and.reduce(
            [j[f"{c}_a"] == j[f"{c}_b"] for c in ver]
        )
        return int((~same).sum())


def normalize_engine_rows(df):
    """A Spark DataFrame of the table's user columns -> pandas in the
    oracle's column types."""
    return df.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "role",
        "text",
        "tool",
        F.unix_micros("ts").alias("ts_us"),
    ).toArrow().to_pandas()


def content_hash(rows: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-independent hash): the wrapping uint64 sum of
    per-row hashes."""
    rows = rows[COLUMNS].astype(
        {"conv_id": object, "turn_idx": "int64", "role": object,
         "text": object, "tool": object, "ts_us": "int64"}
    )
    rows = rows.assign(tool=rows["tool"].where(rows["tool"].notna(), None))
    h = pd.util.hash_pandas_object(rows, index=False).to_numpy(np.uint64)
    return len(rows), int(h.sum(dtype=np.uint64))
