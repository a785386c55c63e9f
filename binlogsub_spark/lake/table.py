"""LakeTable — a from-scratch snapshot/manifest table format with MERGE.

No Iceberg/Delta jars ship in this environment, so the engine implements the
required Iceberg-style semantics itself, on plain parquet + JSON manifests:

* **Snapshots**: every commit writes an immutable ``snap-N.json`` manifest
  and atomically swaps a ``CURRENT`` pointer (os.replace). Readers only see
  committed snapshots; a crash mid-write leaves orphan data files that no
  manifest references (same recovery model as Iceberg).
* **Copy-on-write MERGE**: rows are clustered into ``buckets`` hash buckets
  of ``conv_id``. A merge rewrites ONLY the buckets containing changed keys
  — the analog of Iceberg COW touching only affected data files. At 100 TB
  the bucket count is the knob bounding per-commit rewrite volume; bucket
  dirs are Spark partition dirs, so reads get partition pruning for free.
* **Schema-union evolution**: each commit records its schema; the table
  schema is the union. Readers null-backfill old files (Iceberg
  add-column semantics). This is how the in-band ``tool`` column appearing
  mid-stream lands without rewriting history
  (reference epoch flush: /root/reference/packet.cc:141-148).
* **Idempotent commits**: a manifest carries the high-water ``batch_id``;
  replaying an already-committed micro-batch is a no-op that commits
  nothing. Together with LWW dedup this upgrades the reference's
  at-least-once replay (reference process.cc:163-191) to
  exactly-once-effective. A retry after a crash between the manifest
  write and the ``CURRENT`` swap replaces its own dead manifest.
* **LWW across batches**: rows persist hidden version columns
  (_op,_ts,_file_seq,_log_pos); tombstones (_op='D') are kept so a
  later-arriving *older* change cannot resurrect a deleted key, and are
  dropped from the read view.

Checkpoint/position state (the reference's Redis hash, business.cc:35-73,
a store separate from its sink) lives in the manifest itself: each merge
manifest carries the batch's per-file
``(file_seq, max_log_pos, events)`` frontier, the monotone watermark
derived from it and the applied count, so data, offsets, lineage and
metrics commit in one ``CURRENT`` swap. :meth:`LakeTable.lineage` reads
them back from the committed manifests; ``vacuum`` expires a snapshot's
lineage with its manifest.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from binlogsub_spark.operators.dedup import lww_reduce
from binlogsub_spark.plans.envelope import MERGE_KEY, VERSION_COLUMNS


def _atomic_write(path: str, text: str, exclusive: bool = False) -> None:
    """Write-then-rename: readers (and a restart) never see a torn file.
    The dot-prefixed temp name never matches a ``snap-`` listing.
    ``exclusive`` links the temp into place instead, which raises
    FileExistsError when ``path`` exists."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(text)
    if not exclusive:
        os.replace(tmp, path)
        return
    try:
        os.link(tmp, path)
    finally:
        os.remove(tmp)


def bucket_expr(col, buckets: int):
    """Deterministic key->bucket clustering (CRC32 of the UTF-8 bytes,
    stable across runs). ``col``: column name or Column. This is THE one
    definition of the bucket hash — callers that precompute
    ``touched_buckets`` supersets (apply_batch/apply_raw_batch) MUST use
    it too, or their superset invariant silently breaks and merge strands
    rows in unregistered bucket partitions.

    CRC32 (not xxhash64) because the hash must be computable BOTH as a
    whole-stage-codegen Spark expression AND as a vectorized numpy kernel
    (codec.crc32_of_fixed) — the raw wire path derives the touched-bucket
    set INSIDE its Arrow kernel and ships only distinct bucket ids to the
    JVM, so the two sides must agree bit-for-bit on every key.

    A NULL key hashes like the empty string instead of propagating NULL:
    a NULL _bucket would otherwise write a ``_bucket=None`` partition
    that corrupts the table layout (and a null merge key must stay
    MERGEABLE so a write-audit-publish guard can inspect and reject the
    staged batch, rather than the write crashing half-done). The numpy
    side never sees NULL (wire frames always carry key bytes), so dual
    computability is preserved."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(
        F.crc32(F.encode(F.coalesce(c, F.lit("")), "UTF-8")), F.lit(buckets)
    ).cast("int")


class LakeTable:
    def __init__(self, spark: SparkSession, path: str, buckets: int = 32):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.buckets = buckets
        self.manifest_dir = os.path.join(self.path, "_manifests")
        self.data_dir = os.path.join(self.path, "data")
        # The committed manifest is authoritative for the bucket count: a
        # handle opened with a stale ctor arg (e.g. after rebucket()) would
        # otherwise compute _bucket with the wrong modulus and strand rows
        # in unregistered partitions.
        snap = self.snapshot()
        if snap is not None and snap.get("buckets"):
            self.buckets = int(snap["buckets"])

    # ----------------------------------------------------------- snapshots
    def _current_pointer(self) -> str:
        return os.path.join(self.manifest_dir, "CURRENT")

    def snapshot(self, snapshot_id: int | None = None) -> dict | None:
        """Current snapshot, or a historical one by id (time travel — every
        manifest is immutable, so any committed state stays readable)."""
        if snapshot_id is not None:
            return self._load(f"snap-{snapshot_id:08d}.json")
        ptr = self._current_pointer()
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return self._load(f.read().strip())

    def _load(self, name: str) -> dict | None:
        """The manifest file ``name``, or None when there is none."""
        p = os.path.join(self.manifest_dir, name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _require(self, snapshot_id: int | None = None) -> dict:
        """:meth:`snapshot`, or a ValueError naming what is missing."""
        snap = self.snapshot(snapshot_id)
        if snap is not None:
            return snap
        if snapshot_id is not None:
            raise ValueError(
                f"snapshot {snapshot_id} does not exist (never committed, "
                f"or expired by vacuum()) for table {self.path}"
            )
        raise ValueError(f"table {self.path} has no committed snapshot")

    def history(self) -> list[dict]:
        if not os.path.isdir(self.manifest_dir):
            return []
        names = sorted(os.listdir(self.manifest_dir))
        return [self._load(n) for n in names if n.startswith("snap-")]

    def _commit(self, manifest: dict, publish: bool = True) -> None:
        """Atomic snapshot publish with optimistic concurrency: the manifest
        file create is exclusive (a hard link of a fully written temp, so
        a crash never leaves a torn manifest), so two writers racing to
        publish the same snapshot_id fail loudly instead of silently
        clobbering each other (single-writer-per-table is the deployment
        contract, as with Iceberg's metastore swap; this guard turns a
        violated contract into an error, not corruption).

        ``publish=False`` stages the snapshot (write-audit-publish): the
        manifest lands on disk marked ``staged`` but CURRENT does not
        move — readers keep seeing the prior state until
        :meth:`publish_staged` swaps the pointer (or
        :meth:`abort_staged` discards the data).

        An uncommitted manifest already holding this id (it is beyond
        CURRENT, so it never published) with the SAME ``batch_id`` is this
        batch's dead attempt — a crash between the manifest write and the
        CURRENT swap, or a staged attempt never resolved — and is replaced;
        one with another ``batch_id`` belongs to a different writer."""
        import time

        os.makedirs(self.manifest_dir, exist_ok=True)
        sid = manifest["snapshot_id"]
        name = f"snap-{sid:08d}.json"
        path = os.path.join(self.manifest_dir, name)
        cur = self.snapshot()
        if cur is not None and cur["snapshot_id"] >= sid:
            raise RuntimeError(
                f"concurrent commit detected: snapshot {sid}"
                f" already overtaken by {cur['snapshot_id']}"
            )
        manifest["committed_at"] = time.time()  # wall clock of the publish
        if not publish:
            manifest["staged"] = True
        text = json.dumps(manifest, indent=1, default=str)
        try:
            _atomic_write(path, text, exclusive=True)
        except FileExistsError:
            held = (self.snapshot(sid) or {}).get("batch_id")
            if held != manifest["batch_id"]:
                raise RuntimeError(
                    f"concurrent commit detected: uncommitted snapshot {sid} "
                    f"holds batch {held}, not {manifest['batch_id']}; "
                    f"abort_staged({sid}) discards it"
                ) from None
            _atomic_write(path, text)
        if publish:
            _atomic_write(self._current_pointer(), name)

    # ------------------------------------------------ write-audit-publish
    def publish_staged(self, snapshot_id: int) -> dict:
        """Make a staged snapshot CURRENT (the audit passed). Validates the
        staged snapshot still extends the current state — if another
        writer published in between, this raises instead of silently
        dropping their commit. The manifest is committed again without the
        ``staged`` marker (it replaces the staged file, same batch_id),
        then the pointer swaps atomically."""
        m = self.snapshot(snapshot_id)
        if m is None or not m.get("staged"):
            raise ValueError(f"snapshot {snapshot_id} is not a staged snapshot")
        cur = self.snapshot()
        cur_id = cur["snapshot_id"] if cur else None
        if m.get("parent") != cur_id:
            raise RuntimeError(
                f"staged snapshot {snapshot_id} has parent {m.get('parent')} "
                f"but CURRENT is {cur_id}: another commit landed during audit"
            )
        m.pop("staged")
        self._commit(m)
        return m

    def abort_staged(self, snapshot_id: int) -> None:
        """Discard an uncommitted snapshot — a staged one whose audit
        failed, or any manifest beyond CURRENT that a crashed commit left:
        delete its manifest and its commit directory. CURRENT never
        pointed at it, so readers are untouched."""
        import shutil

        cur_id = (self.snapshot() or {}).get("snapshot_id", 0)
        if self.snapshot(snapshot_id) is None or snapshot_id <= cur_id:
            raise ValueError(f"snapshot {snapshot_id} is not an uncommitted snapshot")
        commit_rel = f"commit-{snapshot_id:08d}"
        shutil.rmtree(os.path.join(self.data_dir, commit_rel), ignore_errors=True)
        os.remove(os.path.join(self.manifest_dir, f"snap-{snapshot_id:08d}.json"))

    # -------------------------------------------------------------- schema
    def _schema(self, snap: dict) -> T.StructType:
        return T.StructType.fromJson(json.loads(snap["schema_json"]))

    # Lossless widening chains: a batch delivering the NARROW side of one of
    # these into a table column typed on the WIDE side is safe to cast; the
    # reverse direction widens the TABLE column (normal schema evolution).
    # Anything off-chain (int data for a string column, string for a date, …)
    # is a genuine type conflict and must fail loudly — a silent cast would
    # commit NULLs/garbage and flip the manifest type underneath readers.
    _WIDEN_RANK = {
        T.ByteType(): 0, T.ShortType(): 1, T.IntegerType(): 2, T.LongType(): 3,
        T.FloatType(): 10, T.DoubleType(): 11,
    }

    @classmethod
    def _widens_to(cls, narrow: T.DataType, wide: T.DataType) -> bool:
        """True if ``narrow`` data can be cast to ``wide`` without loss."""
        if narrow == wide:
            return True
        if isinstance(narrow, T.NullType):
            return True
        a, b = cls._WIDEN_RANK.get(narrow), cls._WIDEN_RANK.get(wide)
        if a is not None and b is not None:
            return a < b and (a >= 10) == (b >= 10)  # within one chain only
        if isinstance(narrow, T.DecimalType) and isinstance(wide, T.DecimalType):
            return (
                wide.scale >= narrow.scale
                and wide.precision - wide.scale >= narrow.precision - narrow.scale
            )
        return False

    @classmethod
    def _union_schema(cls, old: T.StructType, new: T.StructType) -> T.StructType:
        fields = list(old.fields)
        names = {f.name: i for i, f in enumerate(fields)}
        # New columns append before the hidden version columns.
        version_at = next(
            (i for i, f in enumerate(fields) if f.name in VERSION_COLUMNS),
            len(fields),
        )
        for f in new.fields:
            if f.name not in names:
                fields.insert(version_at, f)
                names = {g.name: i for i, g in enumerate(fields)}
                version_at += 1
                continue
            cur = fields[names[f.name]]
            if cur.dataType == f.dataType:
                continue
            if f.metadata.get("null_backfill"):
                # an all-NULL epoch backfill (pipeline marks it): its type
                # is a placeholder, not a claim — keep the table's type,
                # _align casts the NULLs up
                continue
            if cls._widens_to(f.dataType, cur.dataType):
                continue  # batch narrower than table: _align casts up, lossless
            if cls._widens_to(cur.dataType, f.dataType):
                # batch wider than table: widen the TABLE column (evolution)
                fields[names[f.name]] = T.StructField(
                    f.name, f.dataType, nullable=True
                )
                continue
            raise TypeError(
                f"schema conflict on column {f.name!r}: table has "
                f"{cur.dataType.simpleString()}, batch delivers "
                f"{f.dataType.simpleString()} — not a lossless widening; "
                "rename the batch column or migrate the table explicitly"
            )
        return T.StructType(fields)

    # --------------------------------------------------------------- reads
    def _read_commit(
        self, commit_rel: str, buckets: list[int], target: T.StructType
    ) -> DataFrame:
        commit_dir = os.path.join(self.data_dir, commit_rel)
        df = (
            self.spark.read.option("basePath", commit_dir)
            .parquet(commit_dir)
            .where(F.col("_bucket").isin(buckets))  # partition-pruned scan
        )
        cols = []
        have = set(df.columns)
        for f in target.fields:
            cols.append(
                F.col(f.name) if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)  # null-backfill
            )
        return df.select(*cols, F.col("_bucket"))

    def read_internal(
        self, buckets: list[int] | None = None, snapshot_id: int | None = None
    ) -> DataFrame:
        """All rows incl. tombstones + version cols + _bucket, optionally
        restricted to a bucket subset (merge-time pruning) and/or pinned to
        a historical snapshot (time travel)."""
        return self._scan(self._require(snapshot_id), buckets)

    def _scan(self, snap: dict, buckets: list[int] | None = None) -> DataFrame:
        schema = self._schema(snap)
        locs: dict[str, str | None] = snap["bucket_locations"]
        # "all buckets" means the SNAPSHOT's bucket space, not the current
        # handle's — time travel across a rebucket() reads the old layout.
        want = set(int(b) for b in locs) if buckets is None else set(buckets)
        by_commit: dict[str, list[int]] = {}
        for b_str, commit in locs.items():
            b = int(b_str)
            if commit is not None and b in want:
                by_commit.setdefault(commit, []).append(b)
        if not by_commit:
            return self.spark.createDataFrame(
                [], T.StructType(list(schema.fields) + [T.StructField("_bucket", T.IntegerType())])
            )
        parts = [
            self._read_commit(commit, bs, schema) for commit, bs in by_commit.items()
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """User-facing view: live rows only, no internal columns.
        ``snapshot_id`` pins a historical state (time travel)."""
        snap = self._require(snapshot_id)
        return (
            self._scan(snap)
            .where(F.col("_op") != "D")
            .select(*self._user_cols(snap))
        )

    def _user_cols(self, snap: dict) -> list[str]:
        return [
            f.name for f in self._schema(snap).fields
            if f.name not in VERSION_COLUMNS
        ]

    def changes(
        self,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
        include_before: bool = False,
    ) -> DataFrame:
        """Net change feed between two committed snapshots — the
        CONSUMPTION side of CDC (Iceberg's changelog scan re-realized over
        the COW format): one row per merge key whose live state differs,
        with ``change_op`` I (appeared), U (version advanced), D
        (disappeared/tombstoned); I/U carry the to-state's columns, D the
        from-state's.

        ``include_before=True`` appends ``_before_<payload>`` columns with
        the FROM-state image (NULL for I rows; for D rows they repeat the
        emitted payload, which already IS the before image) — what an
        outbound Debezium/audit consumer needs to reconstruct full
        before/after envelopes (:func:`...sources.debezium.changes_to_debezium`).
        The old side is already in the diff's full-outer join, so the
        option costs no extra scan or shuffle.

        Scale: copy-on-write relocates ONLY touched buckets, so the
        bucket-location diff between the two manifests prunes the scan to
        changed buckets before reading a byte — a 1-conversation commit on
        a 100 TB table diffs 1/buckets of it. ``from_snapshot_id=None``
        means "from the empty table" (everything live is an I)."""
        to_snap = self._require(to_snapshot_id)
        from_snap = (
            self._require(from_snapshot_id) if from_snapshot_id is not None else None
        )
        locs_to: dict = to_snap["bucket_locations"]
        locs_from: dict = from_snap["bucket_locations"] if from_snap else {}
        same_space = from_snap is None or from_snap.get("buckets") == to_snap.get(
            "buckets"
        )
        if same_space:
            changed = sorted(
                int(b)
                for b in set(locs_to) | set(locs_from)
                if locs_to.get(b) != locs_from.get(b)
            )
            from_changed = to_changed = changed
        else:
            # a rebucket() sits between the snapshots: bucket ids are not
            # comparable across the two layouts, so location-diff pruning is
            # impossible — diff the full live state of each side (correct,
            # just unpruned; rebucket rewrote everything anyway)
            from_changed = sorted(
                int(b) for b, l in locs_from.items() if l is not None
            )
            to_changed = sorted(int(b) for b, l in locs_to.items() if l is not None)
            changed = sorted(set(from_changed) | set(to_changed))
        # a manifest can outlive its data files (vacuum keeps the last N
        # manifests but prunes commit dirs unreachable from them) — fail
        # with a clear driver-side error instead of a mid-job read failure
        from_set, to_set = set(from_changed), set(to_changed)
        need_commits = {
            loc
            for locs, want in ((locs_to, to_set), (locs_from, from_set))
            for b, loc in locs.items()
            if loc is not None and int(b) in want
        }
        missing = sorted(
            c for c in need_commits
            if not os.path.isdir(os.path.join(self.data_dir, c))
        )
        if missing:
            raise ValueError(
                f"changes({from_snapshot_id}, {to_snapshot_id}) needs commit "
                f"dirs expired by vacuum(): {missing}; re-run with a newer "
                "from_snapshot or raise vacuum's keep_snapshots"
            )
        schema = self._schema(to_snap)
        user_cols = self._user_cols(to_snap)
        payload = [c for c in user_cols if c not in MERGE_KEY]
        out_fields = (
            [T.StructField("change_op", T.StringType())]
            + [schema[c] for c in user_cols]
            + [schema[c] for c in VERSION_COLUMNS if c != "_op"]
            + (
                [
                    T.StructField(f"_before_{c}", schema[c].dataType)
                    for c in payload
                ]
                if include_before
                else []
            )
        )
        if not changed:
            return self.spark.createDataFrame([], T.StructType(out_fields))

        def _side(df: DataFrame, tag: str, live_only: bool) -> DataFrame:
            keep = (
                MERGE_KEY
                + payload
                + [c for c in VERSION_COLUMNS if c != "_op"]
                + ["_op"]
            )
            renamed = df.select(
                *MERGE_KEY,
                *[F.col(c).alias(f"{tag}_{c}") for c in keep if c not in MERGE_KEY],
                F.lit(True).alias(f"{tag}_present"),
            )
            if live_only:
                return renamed.where(F.col(f"{tag}__op") != "D").drop(f"{tag}__op")
            return renamed

        # keep the to-side TOMBSTONES: a D row's version stamp must be the
        # DELETING event's (carried by the tombstone), not the old row's —
        # an outbound subscriber replaying the feed with LWW needs the
        # delete to strictly beat the row it removes.
        new = _side(
            self._scan(to_snap, to_changed),
            "n",
            live_only=False,
        )
        if from_snap is None:
            return new.where(F.col("n__op") != "D").select(
                F.lit("I").alias("change_op"),
                *MERGE_KEY,
                *[F.col(f"n_{c}").alias(c) for c in payload],
                *[
                    F.col(f"n_{c}").alias(c)
                    for c in ("_ts", "_file_seq", "_log_pos")
                ],
                *(
                    [
                        F.lit(None)
                        .cast(schema[c].dataType)
                        .alias(f"_before_{c}")
                        for c in payload
                    ]
                    if include_before
                    else []
                ),
            )
        old = _side(
            self._scan(from_snap, from_changed),
            "o",
            live_only=True,
        )
        j = old.join(new, MERGE_KEY, "full_outer")
        has_new_row = F.col("n_present").isNotNull()
        has_new = has_new_row & (F.col("n__op") != "D")  # live on the to side
        has_old = F.col("o_present").isNotNull()
        same_version = (
            (F.col("o__ts") == F.col("n__ts"))
            & (F.col("o__file_seq") == F.col("n__file_seq"))
            & (F.col("o__log_pos") == F.col("n__log_pos"))
        )
        # keys with a to-side tombstone and no from-side live row (created
        # AND deleted inside the window) net to nothing -> no branch -> NULL
        op = (
            F.when(has_new & ~has_old, "I")
            .when(~has_new & has_old, "D")
            .when(
                has_new & has_old,
                F.when(same_version, F.lit(None)).otherwise(F.lit("U")),
            )
        )
        side = lambda c: F.when(F.col("change_op") == "D", F.col(f"o_{c}")).otherwise(
            F.col(f"n_{c}")
        )
        # version stamp: D rows report the DELETING event's position (the
        # to-side tombstone); only when the tombstone was expired by
        # vacuum/compaction do they fall back to the removed row's stamp
        ver = lambda c: F.when(
            (F.col("change_op") == "D") & ~has_new_row, F.col(f"o_{c}")
        ).otherwise(F.col(f"n_{c}"))
        return (
            j.withColumn("change_op", op)
            .where(F.col("change_op").isNotNull())
            .select(
                "change_op",
                *MERGE_KEY,
                *[side(c).alias(c) for c in payload],
                *[ver(c).alias(c) for c in ("_ts", "_file_seq", "_log_pos")],
                *(
                    [
                        F.col(f"o_{c}").alias(f"_before_{c}")
                        for c in payload
                    ]
                    if include_before
                    else []
                ),
            )
        )

    # --------------------------------------------------------------- merge
    def merge(
        self,
        upserts: DataFrame,
        batch_id: int,
        frontier=(),
        touched_buckets: list[int] | None = None,
        publish: bool = True,
    ) -> dict:
        """MERGE INTO … USING upserts ON (conv_id, turn_idx) with LWW.

        ``upserts``: user columns + VERSION_COLUMNS (tombstones as _op='D'),
        any number of rows per key — callers with hot keys pass them
        through the salted ``partial_lww_reduce`` first. Returns
        {applied, replayed, snapshot_id}. Replaying an already-committed
        batch_id is a no-op that commits nothing.

        ``frontier``: the batch's per-file ``(file_seq, max_log_pos,
        events)`` rows (``pipeline._per_file``). The manifest records them
        as the batch's lineage and advances the monotone watermark to
        their max, in the same atomic commit as the data.

        One strategy, two full exchanges: the caller's salted partial
        reduce (map-side combine bounds a hot key's share) -> ONE
        bucket-colocation exchange of (upserts ∪ touched current rows) ->
        a partition-local complete LWW reduce (grouping by
        ``(_bucket, key)`` is satisfied by the colocation's hash
        partitioning) -> a shuffle-free write, one file per bucket dir
        (plan-asserted in tests/test_plans.py).

        ``touched_buckets``: a pre-computed SUPERSET of the hash buckets the
        batch touches (``bucket_expr`` over the batch's merge keys). With it
        the merge is ONE job over ``upserts`` — no persist through the block
        store, no separate distinct-buckets job; callers that can read the
        key column cheaply (column-pruned parquet scan) piggyback the bucket
        set on their lineage aggregation. A superset only rewrites extra
        buckets byte-identically — never wrong, at worst slightly wasteful.
        Without it the merge persists ``upserts`` and runs a small distinct
        job (the right trade when ``upserts`` is an expensive computed plan
        whose recomputation would dominate).

        Applied/skipped metrics ride the write job via Observation — the
        merge never runs a separate metrics join or count over the data.

        Observe mode is chosen automatically: on a table with NO committed
        snapshot and no ``touched_buckets``, the touched-bucket set is not
        needed BEFORE the job (there is no current state to union in), so
        the EXACT set rides the write job's Observation (``collect_set`` of
        ``_bucket`` — bounded by the bucket count) and the whole merge is
        ONE job over ``upserts`` with zero pre-jobs.

        ``publish=False`` runs the full merge but STAGES the snapshot
        (write-audit-publish): data and manifest land on disk, CURRENT
        does not move. Audit the staged state with
        ``read(snapshot_id=...)`` / ``changes(...)``, then
        :meth:`publish_staged` or :meth:`abort_staged`. Exactly one
        staged snapshot can be in flight (the next snapshot id is taken).
        """
        snap = self.snapshot()
        if snap is not None and batch_id <= snap["batch_id"]:
            # a replayed batch_id is a committed no-op: no job over the batch
            return {"applied": 0, "replayed": True, "snapshot_id": snap["snapshot_id"]}

        observe = snap is None and touched_buckets is None
        winners = upserts.withColumn(
            "_bucket", bucket_expr(MERGE_KEY[0], self.buckets)
        )
        one_pass = touched_buckets is not None or observe
        if not one_pass:
            winners.persist()
        try:
            if observe:
                touched = None  # resolved from the write job's Observation
            elif one_pass:
                touched = sorted({int(b) for b in touched_buckets})
                if touched and (touched[0] < 0 or touched[-1] >= self.buckets):
                    # an out-of-range bucket proves the caller hashed with a
                    # different modulus than this table — silently dropping
                    # it would strand rows in unregistered bucket partitions
                    raise ValueError(
                        f"touched_buckets {touched[:3]}..{touched[-3:]} out of "
                        f"range for a {self.buckets}-bucket table; caller "
                        "hashed with a different bucket count"
                    )
            else:
                # job 1 (small): which buckets does this batch touch? This is
                # the copy-on-write pruning decision — the rest is one job.
                touched = sorted(
                    r["_bucket"]
                    for r in winners.select("_bucket").distinct().collect()
                )

            old_schema = self._schema(snap) if snap else None
            new_schema = T.StructType(
                [f for f in winners.schema.fields if f.name != "_bucket"]
            )
            schema = (
                self._union_schema(old_schema, new_schema) if old_schema else new_schema
            )

            # `_origin` breaks version ties in favor of the current row
            # (0 > -1), so exact replays land as skipped, not applied.
            def _align(df: DataFrame, origin: int) -> DataFrame:
                # columns align to the UNION schema's types: a batch whose
                # epoch lacks a column backfills it as an untyped (string)
                # NULL — without the cast, unionByName would coerce the
                # whole table column to string for that commit, silently
                # diverging from the manifest schema
                have = {f.name: f.dataType for f in df.schema.fields}
                return df.select(
                    *[
                        (
                            F.col(f.name)
                            if have.get(f.name) == f.dataType
                            else (
                                F.col(f.name) if f.name in have else F.lit(None)
                            ).cast(f.dataType)
                        ).alias(f.name)
                        for f in schema.fields
                    ],
                    F.col("_bucket"),
                    F.lit(origin).alias("_origin"),
                )

            w2 = _align(winners, -1)
            if snap is not None and touched:
                unioned = _align(self._scan(snap, touched), 0).unionByName(w2)
            else:
                unioned = w2
            # Bucket-colocation partition count: len(touched) slots for
            # len(touched) distinct _bucket values is a balls-in-bins trap
            # (hash collisions leave ~1/e of the slots empty and pile 2-3
            # buckets on others — a 2-3x straggler on the sort+agg+write
            # stage, guide §2.5 "too few distinct values"). 4x slots make
            # double-ups rare; empty slots cost nothing; each bucket still
            # lands WHOLE in exactly one task (one file per bucket dir).
            n_parts = max(4 * (self.buckets if touched is None else len(touched)), 1)
            # one bucket-colocation exchange, then a PARTITION-LOCAL
            # complete reduce: grouping by (_bucket, key) is satisfied by
            # the repartition's HashPartitioning(_bucket), so the final LWW
            # aggregation adds NO second exchange (plan-asserted in
            # tests/test_plans.py)
            colocated = unioned.repartition(n_parts, "_bucket")
            merged = lww_reduce(colocated, key=MERGE_KEY + ["_bucket"])

            snapshot_id = (snap["snapshot_id"] + 1) if snap else 1
            lineage = [[int(r[0]), int(r[1]), int(r[2])] for r in frontier]
            bucket_locations = dict(snap["bucket_locations"]) if snap else {
                str(b): None for b in range(self.buckets)
            }
            commit_rel = f"commit-{snapshot_id:08d}"
            applied, batch_max_ts = 0, None
            if touched is None or touched:
                obs = Observation(f"merge-{batch_id}")
                obs_metrics = [
                    F.count(F.when(F.col("_origin") == -1, 1)).alias("applied"),
                    F.count("*").alias("live_rows"),
                    # event-time frontier of THIS batch's winners — rides
                    # the write job, no separate max() job
                    F.max(
                        F.when(F.col("_origin") == -1, F.col("_ts"))
                    ).alias("max_event_ts"),
                ]
                if touched is None:
                    # observe mode: the EXACT touched set rides the write
                    # (bounded by the bucket count, not the row count)
                    obs_metrics.append(
                        F.collect_set(F.col("_bucket")).alias("touched")
                    )
                to_write = merged.observe(obs, *obs_metrics).select(
                    *schema.fieldNames(), "_bucket"
                )
                (
                    # already bucket-colocated by the merge shuffle: each
                    # task holds whole buckets -> one file per bucket dir,
                    # no extra exchange
                    to_write.write.partitionBy("_bucket")
                    .mode("overwrite")
                    .parquet(os.path.join(self.data_dir, commit_rel))
                )
                applied = obs.get["applied"]
                batch_max_ts = obs.get["max_event_ts"]
                if touched is None:
                    touched = sorted(int(b) for b in obs.get["touched"])
                if obs.get["live_rows"] > 0:
                    for b in touched:
                        bucket_locations[str(b)] = commit_rel
                # else: the batch contributed NOTHING to these buckets (a
                # one-pass touched SUPERSET where every event was scope-
                # filtered away, against buckets with no prior data) — the
                # commit dir holds zero parquet files, so pointing
                # bucket_locations at it would make every later read fail
                # schema inference. Keep prior locations; the manifest
                # still advances batch_id/watermark.

            manifest = {
                "snapshot_id": snapshot_id,
                "parent": snap["snapshot_id"] if snap else None,
                "batch_id": batch_id,
                "schema_json": json.dumps(schema.jsonValue()),
                "bucket_locations": bucket_locations,
                "buckets": self.buckets,
                "watermark": self._advance_watermark(
                    (snap or {}).get("watermark"), lineage
                ),
                "lineage": lineage,
                "metrics": {
                    "applied": applied,
                    "max_event_ts": self._advance_event_ts(
                        (snap or {}).get("metrics", {}).get("max_event_ts"),
                        batch_max_ts,
                    ),
                },
            }
            self._commit(manifest, publish=publish)
            return {
                "applied": applied,
                "replayed": False,
                "snapshot_id": snapshot_id,
                **({} if publish else {"staged": True}),
            }
        finally:
            if not one_pass:
                winners.unpersist()

    @staticmethod
    def _advance_watermark(old: dict | None, lineage: list) -> dict | None:
        """Monotone offset watermark (T1): the max ``(file_seq, log_pos)``
        of the parent's watermark and the batch's per-file rows.
        Micro-batches may arrive out of delivery order after a restart;
        the committed frontier never goes backwards (the reference's
        position context only moves forward,
        /root/reference/packet.cc:56-68)."""
        if not lineage:
            return old
        fs, lp, _ = max(lineage)
        new = {"file_seq": fs, "log_pos": lp}
        return max(old or new, new, key=lambda w: (w["file_seq"], w["log_pos"]))

    @staticmethod
    def _advance_event_ts(old, new):
        """Monotone event-time frontier: ISO text in the manifest when
        ``_ts`` is a timestamp (the engine's envelope), the raw value for
        tables whose version column is numeric; never regresses on
        replays/empty batches."""
        if new is None:
            return old
        if hasattr(new, "isoformat"):
            new = new.isoformat()
        return max(old, new) if old is not None else new

    def freshness(self) -> dict:
        """Ingest-lag observability, manifest-only (no Spark job): how far
        the committed event-time frontier trails wall clock. ``lag ==
        committed_at - max_event_ts`` is end-to-end staleness — source
        event time to durable lake visibility — the number an SLO on a
        CDC pipeline actually bounds (a watermark alone measures log
        position, not time)."""
        from datetime import datetime

        snap = self._require()
        max_ts = snap.get("metrics", {}).get("max_event_ts")
        committed = snap.get("committed_at")
        lag = None
        if isinstance(max_ts, str) and committed is not None:
            try:
                lag = committed - datetime.fromisoformat(max_ts).timestamp()
            except ValueError:
                pass  # non-ISO frontier (numeric _ts table): no time lag
        return {
            "snapshot_id": snap["snapshot_id"],
            "batch_id": snap["batch_id"],
            "watermark": snap.get("watermark"),
            "committed_at": committed,
            "max_event_ts": max_ts,
            "ingest_lag_seconds": lag,
        }

    def _buckets_of(self, keys_df: DataFrame) -> list[int]:
        """The sorted distinct buckets a one-column key frame hashes to
        (one small job; bounded by the bucket count, never the key count)."""
        return sorted(
            r["b"]
            for r in keys_df.select(bucket_expr(MERGE_KEY[0], self.buckets).alias("b"))
            .distinct()
            .collect()
        )

    def delete_keys(self, keys, batch_id: int) -> dict:
        """Targeted erasure (right-to-be-forgotten): tombstone every live
        row whose ``conv_id`` is in ``keys`` (a Python list or a DataFrame
        with a ``conv_id`` column), through the NORMAL LWW MERGE — no
        special-case table surgery, so replays, time travel, changelog
        scans and downstream CDC feeds all see the deletion as ordinary
        tombstones.

        Scale shape: the key set hashes to a bucket list first (distinct
        bucket ids — bounded by the table's bucket count, never by key
        count), so a 10-conversation erasure reads ~10 buckets of a
        10k-bucket table, not the table. The tombstone version stamp
        keeps each row's own ``_ts`` and maxes out (``_file_seq``,
        ``_log_pos``): the deletion wins against everything at-or-before
        the row's timestamp, while a LATER source-side change (the
        primary re-inserting the key) still legitimately wins over it.
        Deterministic, so a replayed erasure batch is idempotent.

        The reference has no deletion surface at all (it forwards D
        events, business.cc; it cannot originate one) — this is lake-side
        lifecycle the Spark engine adds."""
        key_col = MERGE_KEY[0]
        if isinstance(keys, (list, tuple, set)):
            keys_df = self.spark.createDataFrame(
                [(k,) for k in sorted(keys)], f"{key_col} string"
            )
        else:
            keys_df = keys.select(key_col).distinct()
        touched = self._buckets_of(keys_df)
        snap = self._require()
        schema = self._schema(snap)
        live = (
            self._scan(snap, touched)
            .where(F.col("_op") != "D")
            .join(F.broadcast(keys_df), key_col, "left_semi")
        )
        payload = [
            f
            for f in schema.fields
            if f.name not in MERGE_KEY and f.name not in VERSION_COLUMNS
        ]
        tombstones = live.select(
            *MERGE_KEY,
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload],
            F.lit("D").alias("_op"),
            F.col("_ts"),
            F.lit(2**31 - 1).cast("int").alias("_file_seq"),
            F.lit(2**63 - 1).cast("long").alias("_log_pos"),
        )
        # keys are unique live rows -> already reduced; the bucket list is
        # exact (not a superset), so this is the one-pass merge
        return self.merge(tombstones, batch_id=batch_id, touched_buckets=touched)

    # ----------------------------------------------------------- lineage
    def lineage(self) -> DataFrame:
        """Per-batch, per-file_seq offsets and metrics, read from the
        committed merge manifests: one row per (batch, file_seq) with the
        batch's ``applied`` and ``skipped`` (its events minus applied) and
        the ``snapshot_id`` that committed it. Replays, staged or aborted
        attempts and full rewrites (compact/backfill/rebucket) add none;
        ``vacuum`` expires a snapshot's rows with its manifest."""
        cur = self.snapshot()
        rows = []
        for m in self.history():
            if cur is None or m["snapshot_id"] > cur["snapshot_id"]:
                continue  # beyond CURRENT: staged or a dead attempt
            lin, applied = m.get("lineage", []), m["metrics"].get("applied", 0)
            # a bootstrap's rows are not binlog events (events=0): skip none
            skipped = max(sum(r[2] for r in lin) - applied, 0)
            rows += [
                (m["batch_id"], fs, lp, ev, applied, skipped, m["snapshot_id"])
                for fs, lp, ev in lin
            ]
        return self.spark.createDataFrame(
            rows,
            "batch_id long, file_seq int, max_log_pos long, events long, "
            "applied long, skipped long, snapshot_id long",
        )

    # ---------------------------------------------------------- maintenance
    def vacuum(self, keep_snapshots: int = 10) -> dict:
        """Remove data files unreachable from the last ``keep_snapshots``
        manifests — crash-orphans (a merge that died after writing data but
        before committing) and commits expired out of the time-travel
        window. Metadata-only traversal; no Spark job."""
        import shutil

        snaps = self.history()
        if not snaps:
            return {"removed_dirs": 0}
        keep = snaps[-keep_snapshots:]
        # tagged snapshots are retention-pinned: a tag is a promise that
        # the snapshot stays readable (audit baselines, release states)
        tagged_ids = set(self.tags().values())
        kept_ids = {s["snapshot_id"] for s in keep}
        keep = keep + [
            s for s in snaps
            if s["snapshot_id"] in tagged_ids and s["snapshot_id"] not in kept_ids
        ]
        live_commits = {
            loc for s in keep for loc in s["bucket_locations"].values() if loc
        }
        removed = 0
        if os.path.isdir(self.data_dir):
            for d in os.listdir(self.data_dir):
                if d.startswith("commit-") and d not in live_commits:
                    shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)
                    removed += 1
        # expire old manifests (keep the retained window)
        keep_names = {f"snap-{s['snapshot_id']:08d}.json" for s in keep}
        for n in os.listdir(self.manifest_dir):
            if n.startswith("snap-") and n not in keep_names:
                os.remove(os.path.join(self.manifest_dir, n))
        return {"removed_dirs": removed, "kept_snapshots": len(keep)}

    def read_keys(self, keys) -> DataFrame:
        """Point lookup: live rows of the listed ``conv_id`` values, reading
        ONLY the buckets those keys hash to — a handful-of-conversations fetch
        touches a handful of bucket files of an arbitrarily large table
        (then, post-compaction, a handful of ROW GROUPS inside them,
        thanks to the clustered sort + parquet min/max pushdown). Same
        pruning shape as :meth:`delete_keys`, read-only."""
        keys = sorted(set(keys))
        key_col = MERGE_KEY[0]
        buckets = self._buckets_of(
            self.spark.createDataFrame([(k,) for k in keys], f"{key_col} string")
        )
        snap = self._require()
        return (
            self._scan(snap, buckets)
            .where(F.col("_op") != "D")
            .where(F.col(key_col).isin(keys))
            .select(*self._user_cols(snap))
        )

    # ----------------------------------------------------------------- tags
    def _refs_path(self) -> str:
        return os.path.join(self.manifest_dir, "refs.json")

    def tags(self) -> dict:
        """{tag_name: snapshot_id} — named, retention-pinned snapshots."""
        p = self._refs_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Name a snapshot (default: current). Tagged snapshots survive
        ``vacuum`` regardless of the retention window — the Iceberg-tag
        shape: 'the table as of release X' stays readable forever."""
        snapshot_id = self._require(snapshot_id)["snapshot_id"]
        refs = self.tags()
        refs[name] = int(snapshot_id)
        _atomic_write(self._refs_path(), json.dumps(refs, indent=1))
        return int(snapshot_id)

    def drop_tag(self, name: str) -> None:
        refs = self.tags()
        refs.pop(name, None)
        _atomic_write(self._refs_path(), json.dumps(refs, indent=1))

    def read_tag(self, name: str) -> DataFrame:
        refs = self.tags()
        if name not in refs:
            raise ValueError(f"unknown tag {name!r} (have {sorted(refs)})")
        return self.read(snapshot_id=refs[name])

    # ------------------------------------------------------ full rewrites
    def _rewrite(
        self,
        snap: dict,
        df: DataFrame,
        metrics: dict,
        buckets: int | None = None,
        schema: T.StructType | None = None,
        compression: str | None = None,
    ) -> int:
        """Commit ``df`` (all rows, with ``_bucket``) as the next snapshot,
        replacing every bucket: the shared tail of compact, backfill and
        rebucket. The bucket map comes from the ``_bucket=`` dirs actually
        written, so a bucket with no rows stays ``None``. ``buckets`` and
        ``schema`` default to the snapshot's."""
        snapshot_id = snap["snapshot_id"] + 1
        commit_rel = f"commit-{snapshot_id:08d}"
        commit_dir = os.path.join(self.data_dir, commit_rel)
        written = set()
        if any(snap["bucket_locations"].values()):
            w = df.write.partitionBy("_bucket").mode("overwrite")
            if compression:
                w = w.option("compression", compression)
            w.parquet(commit_dir)
            written = {
                d.split("=", 1)[1]
                for d in os.listdir(commit_dir)
                if d.startswith("_bucket=")
            }
        n = buckets or self.buckets
        manifest = dict(
            snap,
            snapshot_id=snapshot_id,
            parent=snap["snapshot_id"],
            buckets=n,
            bucket_locations={
                str(b): (commit_rel if str(b) in written else None)
                for b in range(n)
            },
            schema_json=json.dumps((schema or self._schema(snap)).jsonValue()),
            metrics=metrics,
            lineage=[],  # a rewrite ingests no batch
        )
        self._commit(manifest)
        return snapshot_id

    def backfill(self, name: str, expr) -> dict:
        """Add (or recompute) a derived column for EVERY live row as one
        atomic snapshot — schema evolution at rest, the job a 100 TB
        table runs when a new training signal must exist for historical
        rows too. ``expr``: a Column or SQL string over the existing
        columns. One bucket-colocated rewrite (same plan shape as
        compact — no join, no window: the derivation rides the scan);
        time travel still shows the pre-backfill schema."""
        if name in VERSION_COLUMNS or name == "_bucket":
            raise ValueError(f"cannot backfill internal column {name!r}")
        snap = self._require()
        col = F.expr(expr) if isinstance(expr, str) else expr
        df = self._scan(snap).withColumn(name, col)
        schema = T.StructType([f for f in df.schema.fields if f.name != "_bucket"])
        sid = self._rewrite(
            snap, df.repartition(self.buckets, "_bucket"), {"backfill": name},
            schema=schema,
        )
        return {"snapshot_id": sid}

    def compact(self) -> dict:
        """Rewrite all live buckets into a single commit dir — bounds the
        number of commit dirs a read must union (small-files problem).

        Rows are sorted by the merge key WITHIN each bucket file. Clustered
        files get parquet row-group min/max statistics that actually
        discriminate — a point lookup on ``conv_id`` prunes to one row
        group instead of scanning the bucket — and sorted keys compress
        markedly better. The sort is partition-local
        (``sortWithinPartitions`` after the bucket colocation), no extra
        exchange.

        The rewrite is zstd-compressed: compaction is the one write whose
        output lives long and is read many times, so it trades a little
        write CPU for markedly smaller cold data (the hot merge path keeps
        Spark's default codec: ingest throughput is the SLO there, storage
        is the SLO here)."""
        snap = self._require()
        df = (
            self._scan(snap)
            .repartition(self.buckets, "_bucket")
            .sortWithinPartitions(*MERGE_KEY)
        )
        sid = self._rewrite(snap, df, {"compaction": True}, compression="zstd")
        return {"snapshot_id": sid}

    def rebucket(self, new_buckets: int) -> dict:
        """Online bucket-count rescale — the operational gap a day-1 bucket
        choice leaves at 100 TB (a table bucketed for 1 TB has 100x-oversized
        COW rewrite units after two years of growth). One full-table rewrite
        into ``new_buckets`` CRC32 buckets, committed as a normal atomic
        snapshot: readers never see a half-rescaled table, time travel to
        pre-rescale snapshots still reads the old layout, and ingest resumes
        against the new modulus (watermark/batch-id untouched, so
        exactly-once replay semantics carry straight across).

        Scale shape: when ``new_buckets`` is an integer multiple of the old
        count (or vice versa), ``pmod(h, k*n) ≡ pmod(h, n) (mod n)`` means
        every old bucket's rows land in exactly k new buckets (or k old
        buckets coalesce into one) — the remap is PARTITION-LOCAL, so the
        plan is scan -> project -> dynamic-partitioned write with NO
        exchange (plan-asserted in tests). Any other ratio pays one
        repartition. Prefer power-of-two steps in production.

        The handle adopts the new count; handles opened later adopt it from
        the manifest (``__init__``)."""
        if new_buckets < 1:
            raise ValueError(f"new_buckets must be >= 1, got {new_buckets}")
        snap = self._require()
        old_buckets = self.buckets
        if new_buckets == old_buckets:
            return {"snapshot_id": snap["snapshot_id"], "rebucketed": False}
        df = self._scan(snap).drop("_bucket").withColumn(
            "_bucket", bucket_expr(MERGE_KEY[0], new_buckets)
        )
        if new_buckets % old_buckets and old_buckets % new_buckets:
            df = df.repartition(new_buckets, "_bucket")
        sid = self._rewrite(
            snap, df, {"rebucket": [old_buckets, new_buckets]}, buckets=new_buckets
        )
        self.buckets = new_buckets
        return {"snapshot_id": sid, "rebucketed": True, "buckets": new_buckets}
