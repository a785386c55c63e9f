"""The two workloads: their inputs, how one batch is applied, and the prefix
cuts that split a traced batch into layers.

A workload's inputs are made by the engine's own generator
(``sources.generator``) and written as files; the engine then reads only
those files. A batch is one call into an ingest path; the benchmark follows
it with ``changes`` reads and ``read_keys`` lookups.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

from pyspark.sql import Observation, functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.mysql_binlog import (
    binlog_files_to_frames,
    decode_mysql_events,
    extract_table_maps,
)
from binlogsub_spark.operators.dedup import partial_lww_reduce
from binlogsub_spark.pipeline import (
    apply_batch,
    apply_mysql_batch,
    mysql_decoded_to_upserts,
    override_columns_by_table,
    prepare_upserts,
    scope_registry,
)
from binlogsub_spark.sources.debezium import decode_debezium, envelope_to_debezium_json
from binlogsub_spark.sources.generator import (
    GeneratorParams,
    generate_binlog,
    transcripts_table_maps,
    write_mysql_binlog_files,
)

from perfbench.oracle import Oracle

BUCKETS = 32
LOOKUP_KEYS = 4
# Input sets per workload: seed s uses set s % POOL, built on first use and
# kept under the inputs directory, so most runs skip making their inputs.
POOL = 4

# "full" is what the benchmark measures; "tiny" is for the self-test.
SIZES = {
    "full": {
        "stream_upsert": {"base": 20_000, "slice": 2_000, "slices": 24, "convs": 200},
        "mysql_files": {"events": 20_000},
    },
    "tiny": {
        "stream_upsert": {"base": 2_000, "slice": 300, "slices": 8, "convs": 20},
        "mysql_files": {"events": 2_000},
    },
}


@dataclass
class Batch:
    table: LakeTable
    batch_id: int
    n_events: int
    keys: list[str]  # conversations the lookup reads
    from_seq: int  # delivery-order prefix of the stream the table held before
    upto_seq: int  # and after this batch
    index: int  # slice number (stream) or repetition (fresh tables)
    layers: dict = field(default_factory=dict)


def consume(df, name: str) -> int:
    """Run ``df`` to a no-op sink and return its row count: a consumer that
    reads every column of every row, minus the storage write."""
    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def inputs_dir(inputs_root: str, workload: str, size: str, seed: int) -> str:
    return os.path.join(inputs_root, f"{workload}-{size}-{seed % POOL}")


def inputs_ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "READY"))


def _params(n_events: int, dup_tail: int, seed: int, n_convs: int) -> GeneratorParams:
    return GeneratorParams(
        n_events=n_events,
        n_convs=n_convs,
        events_per_file=4_096,
        seed=seed,
        dup_tail=dup_tail,
    )


class Workload:
    name = ""

    def __init__(self, spark, inputs_root: str, work: str, seed: int, size: str, tracer):
        self.spark = spark
        self.size = SIZES[size][self.name]
        self.inputs = inputs_dir(inputs_root, self.name, size, seed)
        self.gen_seed = seed % POOL
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.cfg = EngineConfig()
        self.oracle: Oracle | None = None
        self._tables = 0

    # -------------------------------------------------------------- inputs
    def make_inputs(self) -> bool:
        """Build the input set unless a finished one exists; True if built."""
        built = not inputs_ready(self.inputs)
        if built:
            tmp = f"{self.inputs}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            self._build(tmp)
            open(os.path.join(tmp, "READY"), "w").close()
            try:
                os.rename(tmp, self.inputs)  # publishes the finished set
            except OSError:  # another run published this set first
                shutil.rmtree(tmp)
        self.oracle = Oracle(os.path.join(self.inputs, "events", "*.parquet"), self.cfg.scope)
        return built

    def _build(self, d: str) -> None:
        raise NotImplementedError

    def _write_events(self, d: str, params: GeneratorParams) -> None:
        """The structured stream as parquet, in delivery order: the oracle's
        input for every workload."""
        n_files = self.spark.sparkContext.defaultParallelism
        (
            generate_binlog(self.spark, params)
            .repartitionByRange(n_files, "delivery_seq")
            .sortWithinPartitions("delivery_seq")
            .write.parquet(os.path.join(d, "events"))
        )

    # -------------------------------------------------------------- tables
    def _new_table_path(self) -> str:
        self._tables += 1
        return os.path.join(self.work, "tables", f"t{self._tables:04d}")

    def drop_table(self, table: LakeTable) -> None:
        shutil.rmtree(table.path, ignore_errors=True)

    def _keys(self, lo: int, hi: int, salt: int) -> list[str]:
        """Conversations touched by events [lo, hi), drawn by the seed."""
        convs = self.oracle.conv_ids(lo, hi)
        rng = random.Random(self.seed * 1_000_003 + salt)
        return sorted(rng.sample(convs, min(LOOKUP_KEYS, len(convs))))

    # ------------------------------------------------------------- batches
    def set_up(self) -> None:
        """Make the workload ready for its first batch."""

    def next_batch(self) -> Batch | None:
        raise NotImplementedError

    def apply(self, batch: Batch, stage_timings: dict | None) -> dict:
        raise NotImplementedError

    def cuts(self, batch: Batch) -> dict:
        """Layer self times and counts for one batch's input, from prefix
        cuts: each layer's output run to a no-op sink over the same input."""
        raise NotImplementedError

    def _timed(self, name: str, batch: Batch, fn):
        with self.tracer.span(f"cut.{name}", batch=batch.batch_id, spark=True) as s:
            out = fn()
        return s["end"] - s["start"], out, s["spark"]

    def _cut(self, name: str, df, batch: Batch):
        return self._timed(name, batch, lambda: consume(df, f"cut-{name}-{batch.index}"))


class StreamUpsert(Workload):
    """Debezium micro-batches that continue a bootstrapped table."""

    name = "stream_upsert"

    def _build(self, d: str) -> None:
        base, size, n = self.size["base"], self.size["slice"], self.size["slices"]
        # One stream, sliced by delivery order: [0, base) bootstraps the
        # table, every later slice is one micro-batch that continues it.
        # Re-seeded batches would not do: the generator derives ts and
        # (file_seq, log_pos) from the row id, so they would reuse the
        # base's positions and older timestamps and LWW would drop them.
        # Few conversations, so the base already holds most keys and the
        # slices mostly update them: the table, and the work of a batch,
        # stay about the same size from one batch to the next.
        self._write_events(d, _params(base + n * size, 0, self.gen_seed, self.size["convs"]))
        events = self.spark.read.parquet(os.path.join(d, "events"))
        (
            envelope_to_debezium_json(
                events.where(F.col("delivery_seq") >= base),
                passthrough=("delivery_seq",),
            )
            .withColumn("slice", ((F.col("delivery_seq") - base) / size).cast("int"))
            .repartition("slice")
            .sortWithinPartitions("delivery_seq")
            .select("slice", "value")
            .write.partitionBy("slice")
            .text(os.path.join(d, "debezium"))
        )
        apply_batch(
            LakeTable(self.spark, os.path.join(d, "base"), buckets=BUCKETS),
            events.where(F.col("delivery_seq") < base),
            batch_id=0,
            cfg=self.cfg,
        )

    def set_up(self) -> None:
        """A copy of the bootstrapped base table; the micro-batches restart
        at the first slice."""
        path = self._new_table_path()
        shutil.copytree(os.path.join(self.inputs, "base"), path)
        self.table = LakeTable(self.spark, path, buckets=BUCKETS)
        self.next_slice = 0

    def next_batch(self) -> Batch | None:
        k = self.next_slice
        if k >= self.size["slices"]:
            return None
        self.next_slice += 1
        lo = self.size["base"] + k * self.size["slice"]
        hi = lo + self.size["slice"]
        return Batch(self.table, k + 1, self.size["slice"], self._keys(lo, hi, k), lo, hi, k)

    def _source(self, batch: Batch, lines: Observation | None = None):
        text = self.spark.read.text(os.path.join(self.inputs, "debezium", f"slice={batch.index}"))
        if lines is not None:
            text = text.observe(lines, F.count(F.lit(1)).alias("n"))
        return decode_debezium(text)

    def apply(self, batch: Batch, stage_timings: dict | None) -> dict:
        return apply_batch(
            batch.table, self._source(batch), batch.batch_id, cfg=self.cfg,
            stage_timings=stage_timings,
        )

    def cuts(self, batch: Batch) -> dict:
        lines = Observation(f"lines-{batch.index}")
        src = self._source(batch, lines)
        prep = prepare_upserts(src, self.cfg)
        part = partial_lww_reduce(prep, salt=self.cfg.skew_salt)
        t_src, n_src, _ = self._cut("decode", src, batch)
        t_prep, n_prep, _ = self._cut("prepare", prep, batch)
        t_part, n_part, _ = self._cut("partial", part, batch)
        st = batch.layers["stage_timings"]
        return {
            "debezium.decode_s": t_src,
            "debezium.lines_in": int(lines.get["n"]),
            "debezium.events_out": n_src,
            "pipeline.events_in": n_src,
            "pipeline.rows_in_scope": n_prep,
            "pipeline.prepare_s": t_prep - t_src,
            # apply_batch persists a from_json source, so its lineage job
            # pays the decode and the merge job reads the cached events
            "pipeline.lineage_s": st["lineage_sec"],
            "dedup.partial_reduce_s": t_part - t_prep,
            "dedup.rows_out": n_part,
            "lake.merge_s": st["merge_sec"] - (t_part - t_src),
        }


class MysqlFiles(Workload):
    """Real .binlog files applied into a fresh table per batch."""

    name = "mysql_files"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.name_map: dict = {}
        for tm in transcripts_table_maps().values():
            self.name_map.setdefault((tm.db, tm.table), []).append(tm.columns)
        self.n_events = self.size["events"] + self.size["events"] // 40
        self._reps = 0

    def _build(self, d: str) -> None:
        n = self.size["events"]
        params = _params(n, n // 40, self.gen_seed, max(n // 50, 100))
        self._write_events(d, params)
        write_mysql_binlog_files(self.spark, os.path.join(d, "binlogs"), params, checksum=True)

    def next_batch(self) -> Batch | None:
        self._reps += 1
        table = LakeTable(self.spark, self._new_table_path(), buckets=BUCKETS)
        keys = self._keys(0, self.n_events, self._reps)
        return Batch(table, 1, self.n_events, keys, 0, self.n_events, self._reps)

    def _frames(self):
        return binlog_files_to_frames(self.spark, os.path.join(self.inputs, "binlogs"))

    def apply(self, batch: Batch, stage_timings: dict | None) -> dict:
        return apply_mysql_batch(
            batch.table, self._frames(), batch.batch_id, cfg=self.cfg,
            name_map=self.name_map, checksum=True,
        )

    def cuts(self, batch: Batch) -> dict:
        frames = self._frames()
        t_split, n_frames, _ = self._cut("split", frames, batch)
        t_reg, registry, _ = self._timed(
            "registry", batch, lambda: extract_table_maps(frames, checksum=True)
        )
        # the per-file frontier job apply_mysql_batch runs before decoding
        t_lin, _, _ = self._timed("lineage", batch, lambda: (
            frames.select("file_seq", "log_pos").groupBy("file_seq")
            .agg(F.max("log_pos"), F.count("*")).collect()
        ))
        scoped = scope_registry(registry, self.cfg)
        decoded = decode_mysql_events(
            frames, scoped,
            column_overrides=override_columns_by_table(scoped, self.name_map),
            checksum=True, skip_invalid=True, known_table_ids=set(registry),
        )
        prep = mysql_decoded_to_upserts(decoded, self.cfg)
        part = partial_lww_reduce(prep, salt=self.cfg.skew_salt)
        py0 = python_worker_cpu_s(self.spark)
        t_dec, n_dec, sp_dec = self._cut("decode", decoded, batch)
        py_cpu = python_worker_cpu_s(self.spark) - py0
        t_prep, n_prep, _ = self._cut("prepare", prep, batch)
        t_part, n_part, _ = self._cut("partial", part, batch)
        return {
            "mysql_binlog.split_s": t_split,
            "mysql_binlog.registry_s": t_reg,
            "mysql_binlog.decode_s": t_dec - t_split,
            "mysql_binlog.frames_in": n_frames,
            "mysql_binlog.rows_out": n_dec,
            # executor (JVM) CPU of split + decode, plus the Python workers'
            # CPU while the decode cut ran: the Arrow kernels run there
            "mysql_binlog.cpu_s": sp_dec["cpu_s"] + py_cpu,
            "pipeline.events_in": n_frames,
            "pipeline.rows_in_scope": n_prep,
            "pipeline.prepare_s": t_prep - t_dec,
            "pipeline.lineage_s": t_lin,
            "dedup.partial_reduce_s": t_part - t_prep,
            "dedup.rows_out": n_part,
            # the merge job re-reads and re-decodes the frames
            "lake.merge_s": batch.layers["apply_s"] - t_lin - t_reg - t_part,
        }


WORKLOADS = {w.name: w for w in (StreamUpsert, MysqlFiles)}


# ------------------------------------------------------------ processes
def spark_processes(spark) -> list[int]:
    """The Spark JVM (the launched spark-submit, which execs java) first,
    then every process under it: the Python worker daemon and its workers."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [spark.sparkContext._gateway.proc.pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb(spark) -> float:
    """Sum of the peak resident sets (VmHWM) of the Spark JVM and its
    Python workers."""
    kb = 0
    for p in spark_processes(spark):
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024


def _cpu_s(pids) -> float:
    """User + system CPU seconds of the given processes, with those of the
    children each has reaped."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def python_worker_cpu_s(spark) -> float:
    """CPU seconds of the Python workers under the JVM."""
    return _cpu_s(spark_processes(spark)[1:])


def cpu_s(spark) -> float:
    """CPU seconds of this process, the Spark JVM and its Python workers."""
    return _cpu_s([os.getpid(), *spark_processes(spark)])
