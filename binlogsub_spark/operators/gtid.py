"""GTID-set interval arithmetic — MySQL auto-positioning for the engine.

The reference resumes a subscription from a (binlog file, position) pair
baked into its COM_BINLOG_DUMP request (/root/reference/mysqlProcess.cc:
209-229, one saved offset per connection). The modern MySQL protocol
equivalent is GTID auto-positioning: the subscriber tracks the full SET
of executed transaction ids — ``server_uuid:ivl[:ivl...]`` per the public
GTID-set grammar, e.g. ``3E11FA47-...-77:1-5:11:47-49`` — and the server
replays everything not in it. A set survives server failover (positions
do not), which is why a 1000-executor ingest fleet wants sets, not
offsets.

Two layers:

* **Driver-side interval arithmetic** (``parse_gtid_set`` /
  ``format_gtid_set`` / ``gtid_set_union`` / ``gtid_set_subtract`` /
  ``gtid_set_contains``) — checkpoint-frontier sized (a few uuids, a few
  intervals each), pure Python, canonical-form output. This is what the
  checkpoint stores and what a resume request sends.
* **Distributed set construction + replay filtering** —
  ``gtid_executed_intervals`` compresses billions of (uuid, gno) rows
  into intervals WITHOUT a window over the (skewed, tiny-cardinality)
  uuid key: the one big-data stage is a map-side-combining aggregation
  on (uuid, gno-block) — an evenly distributed composite key — local
  runs fall out of array expressions inside each block row, and only
  the already-compressed runs (tiny by construction: one row per gap)
  ever meet a window sort. ``filter_executed`` then anti-joins an event
  stream against a broadcast interval table to drop already-applied
  transactions on resume — the source-side half of exactly-once.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window, functions as F

GtidSet = dict[str, list[tuple[int, int]]]

_IVL_RE = re.compile(r"^(\d+)(?:-(\d+))?$")


def _merged(intervals: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort + coalesce overlapping/adjacent intervals (canonical form)."""
    out: list[tuple[int, int]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1] + 1:
            if e > out[-1][1]:
                out[-1] = (out[-1][0], e)
        else:
            out.append((s, e))
    return out


def parse_gtid_set(text: str) -> GtidSet:
    """``uuid:ivl[:ivl...][,uuid:...]`` -> {uuid: [(start, end), ...]},
    canonicalized (lower-case uuid, merged sorted intervals). Accepts the
    format SHOW MASTER STATUS / @@gtid_executed prints, including
    whitespace/newlines after commas."""
    out: GtidSet = {}
    text = text.strip()
    if not text:
        return out
    for chunk in text.split(","):
        parts = chunk.strip().split(":")
        if len(parts) < 2:
            raise ValueError(f"malformed GTID-set chunk: {chunk!r}")
        uuid = parts[0].strip().lower()
        ivls = out.setdefault(uuid, [])
        for p in parts[1:]:
            m = _IVL_RE.match(p.strip())
            if not m:
                raise ValueError(f"malformed GTID interval: {p!r}")
            s = int(m.group(1))
            e = int(m.group(2)) if m.group(2) else s
            if e < s or s < 1:
                raise ValueError(f"invalid GTID interval: {p!r}")
            ivls.append((s, e))
    return {u: _merged(iv) for u, iv in out.items()}


def format_gtid_set(gset: GtidSet) -> str:
    """Canonical text form: uuids sorted, intervals merged+sorted,
    single-gno intervals printed without the dash."""
    chunks = []
    for uuid in sorted(gset):
        ivls = _merged(list(gset[uuid]))
        if not ivls:
            continue
        body = ":".join(f"{s}-{e}" if e > s else f"{s}" for s, e in ivls)
        chunks.append(f"{uuid.lower()}:{body}")
    return ",".join(chunks)


def gtid_set_union(a: GtidSet, b: GtidSet) -> GtidSet:
    out: GtidSet = {u: list(iv) for u, iv in a.items()}
    for u, iv in b.items():
        out.setdefault(u, []).extend(iv)
    return {u: _merged(iv) for u, iv in out.items()}


def gtid_set_subtract(a: GtidSet, b: GtidSet) -> GtidSet:
    """a minus b, interval-exact (the server computes exactly this to
    decide what to replay on an auto-position dump request)."""
    out: GtidSet = {}
    for u, ivls in a.items():
        cuts = _merged(list(b.get(u, [])))
        kept: list[tuple[int, int]] = []
        for s, e in _merged(list(ivls)):
            cur = s
            for cs, ce in cuts:
                if ce < cur or cs > e:
                    continue
                if cs > cur:
                    kept.append((cur, cs - 1))
                cur = max(cur, ce + 1)
                if cur > e:
                    break
            if cur <= e:
                kept.append((cur, e))
        if kept:
            out[u] = kept
    return out


def gtid_set_contains(gset: GtidSet, uuid: str, gno: int) -> bool:
    for s, e in gset.get(uuid.lower(), ()):
        if s <= gno <= e:
            return True
    return False


def split_gtid(col):
    """``uuid:gno`` string column -> (server_uuid, gno) columns."""
    return (
        F.lower(F.substring_index(col, ":", 1)).alias("server_uuid"),
        F.substring_index(col, ":", -1).cast("long").alias("gno"),
    )


def gtid_executed_intervals(
    df: DataFrame, uuid_col: str = "server_uuid", gno_col: str = "gno",
    block: int = 4096,
) -> DataFrame:
    """Compress per-transaction (uuid, gno) rows into the executed
    interval set: one row per maximal run -> (server_uuid, ivl_start,
    ivl_end).

    Scale shape: a naive gaps-and-islands window partitions by uuid —
    and a fleet has a handful of server uuids, so every task sorts
    billions of rows of one key. Instead the ONE heavy stage keys on the
    evenly-distributed composite (uuid, gno div block): each block
    collects its own (deduplicated, bounded-by-``block``) gno set with a
    map-side-combining collect_set, local runs come from pure array
    expressions inside the row, and only the runs themselves — one row
    per gap, tiny by construction (a healthy executed set is a handful
    of intervals) — hit the per-uuid window that stitches runs adjacent
    across block boundaries. One full exchange of pre-reduced data,
    where the round-5 shape paid three (distinct + both anti-join probe
    sides) plus two sort-merge anti-joins."""
    blocks = (
        df.select(
            F.lower(F.col(uuid_col)).alias("server_uuid"),
            F.col(gno_col).cast("long").alias("gno"),
        )
        .where(F.col("gno").isNotNull())
        .groupBy("server_uuid", (F.col("gno") - F.pmod(F.col("gno"), block)).alias("_blk"))
        .agg(F.sort_array(F.collect_set("gno")).alias("gs"))
    )
    gs = F.col("gs")
    # neighbors within the block: prev[i] = gs[i-1], nxt[i] = gs[i+1]
    prev = F.concat(
        F.array(F.lit(None).cast("long")), F.slice(gs, 1, F.size(gs) - 1)
    )
    nxt = F.concat(
        F.when(F.size(gs) > 1, F.slice(gs, 2, F.size(gs) - 1)).otherwise(
            F.array().cast("array<long>")
        ),
        F.array(F.lit(None).cast("long")),
    )
    run_starts = F.filter(
        F.zip_with(gs, prev, lambda x, p: F.when(p.isNull() | (p != x - 1), x)),
        lambda x: x.isNotNull(),
    )
    run_ends = F.filter(
        F.zip_with(gs, nxt, lambda x, nx: F.when(nx.isNull() | (nx != x + 1), x)),
        lambda x: x.isNotNull(),
    )
    runs = blocks.select(
        "server_uuid",
        F.explode(F.arrays_zip(run_starts.alias("s"), run_ends.alias("e"))).alias(
            "r"
        ),
    ).select("server_uuid", F.col("r.s").alias("s"), F.col("r.e").alias("e"))
    # stitch runs that touch across block boundaries: classic gaps-and-
    # islands, but over the already-compressed run rows only
    w = Window.partitionBy("server_uuid").orderBy("s")
    grp = F.sum(
        F.when(F.col("s") == F.lag("e").over(w) + 1, 0).otherwise(1)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        runs.withColumn("_g", grp)
        .groupBy("server_uuid", "_g")
        .agg(F.min("s").alias("ivl_start"), F.max("e").alias("ivl_end"))
        .select("server_uuid", "ivl_start", "ivl_end")
    )


def collect_gtid_set(intervals: DataFrame) -> GtidSet:
    """Interval DataFrame -> driver-side GtidSet (bounded: one row per
    gap; this is the checkpoint-frontier collect, same cost class as the
    offset-frontier collect)."""
    return {
        u: _merged([(int(r["ivl_start"]), int(r["ivl_end"])) for r in rows])
        for u, rows in _group_rows(intervals.collect()).items()
    }


def _group_rows(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["server_uuid"], []).append(r)
    return out


def filter_executed(
    events: DataFrame,
    executed: GtidSet | str,
    uuid_col: str | Column = "server_uuid",
    gno_col: str | Column = "gno",
) -> DataFrame:
    """Drop events whose transaction is already in ``executed`` — the
    resume-replay dedup a GTID auto-position dump performs server-side,
    done here relationally: the interval table (tiny) broadcasts, events
    anti-join on ``uuid`` + BETWEEN. One broadcast, no shuffle of the
    event stream, no per-row Python. The keys are column names or
    Columns; an event with a NULL key is kept, and an empty set returns
    ``events`` unchanged."""
    if isinstance(executed, str):
        executed = parse_gtid_set(executed)
    rows = [(u, s, e) for u, ivls in executed.items() for s, e in ivls]
    if not rows:
        return events
    ivl = events.sparkSession.createDataFrame(rows, "xuuid string, xs long, xe long")
    uuid, gno = (F.col(c) if isinstance(c, str) else c for c in (uuid_col, gno_col))
    cond = (F.lower(uuid) == F.col("xuuid")) & gno.between(F.col("xs"), F.col("xe"))
    return events.join(F.broadcast(ivl), cond, "left_anti")


def filter_executed_gtids(
    df: DataFrame, executed: GtidSet | str, gtid_col: str = "gtid"
) -> DataFrame:
    """``filter_executed`` over a ``uuid:gno`` string column (the shape
    ``assign_gtids`` leaves on decoded rows), split inline inside the
    anti-join condition."""
    g = F.col(gtid_col)
    return filter_executed(
        df, executed, F.substring_index(g, ":", 1),
        F.substring_index(g, ":", -1).cast("long"),
    )
