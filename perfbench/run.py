"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload stream_upsert --seed 1 --seconds 12 --trace 0

One closed loop, one client (this process): each batch is one apply through
an ingest path, then one ``LakeTable.changes`` read of what the apply
changed and one ``LakeTable.read_keys`` lookup of keys the batch touched.
Timing starts once the inputs exist and the workload has been set up and
warmed by two batches; batches then run until ``--seconds`` have passed,
and each time metric is the median over them.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces every
other batch (spans plus Spark job counters around each call) and splits it
into layers by prefix cuts; it prints the per-layer metrics, including the
tracing overhead against the untraced batches of the same run. The last
line of standard output is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it holds the host facts, the
sample counts and the per-batch apply times.

Everything the run writes goes under ``.perfbench_work/`` at the root of
the checkout. Input sets are kept in ``.perfbench_work/inputs/`` for later
runs, spans of traced runs in ``.perfbench_work/spans/``; the rest is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from binlogsub_spark.lake.table import bucket_expr  # noqa: E402
from binlogsub_spark.session import get_spark  # noqa: E402
from perfbench.oracle import content_hash, normalize_engine_rows  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS,
    consume,
    cpu_s,
    inputs_dir,
    inputs_ready,
    peak_rss_mb,
)

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
INPUTS_ROOT = os.path.join(WORK_ROOT, "inputs")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
WARMUP_BATCHES = 2


# --------------------------------------------------------------- session
def start_session(work: str):
    """``local[nproc]`` with the engine's session settings, every scratch
    directory under ``work``, and the driver heap from ``SPARK_DRIVER_MEM``
    (3g unless set: the engine's 24g default does not fit a 15 GB host)."""
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, and with it the Python workers, to
    exit."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def host_facts(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            # a checkout that is not a repository reports no sha, not the
            # sha of a repository around it
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "driver_heap": os.environ["SPARK_DRIVER_MEM"],
        "spark": spark.version,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
        "gc_s": sum(
            b.getCollectionTime()
            for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        ) / 1e3,
    }


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


# ------------------------------------------------------------ table files
def _files(path: str) -> dict[str, int]:
    return {
        os.path.join(d, n): os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path) for n in names
    }


def _bucket_files(table, snap: dict, buckets) -> list[str]:
    """Parquet files of the given buckets in a snapshot."""
    out = []
    for b in buckets:
        commit = snap["bucket_locations"].get(str(b))
        d = os.path.join(table.data_dir, commit or "", f"_bucket={b}")
        if commit is not None and os.path.isdir(d):
            out += [os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")]
    return out


def _changed_buckets(prev: dict | None, cur: dict) -> list[int]:
    old = prev["bucket_locations"] if prev else {}
    return sorted(
        int(b) for b, loc in cur["bucket_locations"].items()
        if loc is not None and loc != old.get(b)
    )


# ------------------------------------------------------------- one batch
def run_batch(wl, batch, tracer: Tracer, traced: bool) -> dict:
    """Apply, then read the changes and look keys up; each call timed on
    its own, the apply and the whole batch also in CPU seconds."""
    table = batch.table
    prev = table.snapshot()
    before = _files(table.path)
    stage_timings = {} if traced else None
    tracer.enabled = traced
    c = [cpu_s(wl.spark)]
    with tracer.span("batch", batch=batch.batch_id):
        with tracer.span("apply", batch=batch.batch_id, spark=True) as s_apply:
            t0 = time.perf_counter()
            wl.apply(batch, stage_timings)
            commit_s = time.perf_counter() - t0
        c.append(cpu_s(wl.spark))
        with tracer.span("changes", batch=batch.batch_id, spark=True) as s_changes:
            t0 = time.perf_counter()
            n_changes = consume(
                table.changes(prev["snapshot_id"] if prev else None),
                f"changes-{batch.batch_id}-{batch.index}",
            )
            changes_s = time.perf_counter() - t0
        with tracer.span("lookup", batch=batch.batch_id, spark=True) as s_lookup:
            t0 = time.perf_counter()
            found = normalize_engine_rows(table.read_keys(batch.keys))
            lookup_s = time.perf_counter() - t0
        c.append(cpu_s(wl.spark))
    written = {p: n for p, n in _files(table.path).items() if before.get(p) != n}
    rec = {
        "traced": traced,
        "batch": batch,
        "commit_s": commit_s,
        "changes_s": changes_s,
        "lookup_s": lookup_s,
        "batch_s": commit_s + changes_s + lookup_s,
        "commit_cpu_s": c[1] - c[0],
        "batch_cpu_s": c[2] - c[0],
        "bytes_written": sum(written.values()),
        "n_changes": n_changes,
        "found": content_hash(found),
    }
    if traced:
        batch.layers.update(stage_timings=stage_timings, apply_s=commit_s)
        with tracer.span("layers", batch=batch.batch_id):
            layers = wl.cuts(batch)
        touched = _changed_buckets(prev, table.snapshot())
        sp_apply, sp_changes, sp_lookup = s_apply["spark"], s_changes["spark"], s_lookup["spark"]
        lookup_buckets = (
            wl.spark.createDataFrame([(k,) for k in batch.keys], "k string")
            .select(bucket_expr(F.col("k"), table.buckets).alias("b"))
            .distinct()
            .count()
        )
        layers.update({
            "dedup.reduce_ratio": layers["dedup.rows_out"] / max(layers["pipeline.rows_in_scope"], 1),
            "lake.touched_buckets": len(touched),
            "lake.rows_rewritten": sum(
                pq.read_metadata(f).num_rows for f in _bucket_files(table, prev, touched)
            ) if prev else 0,
            "lake.bytes_written": rec["bytes_written"],
            "lake.files_written": len(written),
            # over every job of the apply: the merge's exchanges dominate
            "lake.shuffle_write_bytes": sp_apply["shuffle_write_bytes"],
            "lake.spill_bytes": sp_apply["spill_bytes"],
            "lake.changes_buckets": len(touched),
            "lake.changes_rows": n_changes,
            "lake.changes_tasks": sp_changes["tasks"],
            "lake.changes_run_s": sp_changes["run_s"],
            "lake.lookup_buckets": lookup_buckets,
            "lake.lookup_rows": len(found),
            "lake.lookup_tasks": sp_lookup["tasks"],
            "lake.lookup_run_s": sp_lookup["run_s"],
            "apply.jobs": sp_apply["jobs"],
            "apply.tasks": sp_apply["tasks"],
            "apply.run_s": sp_apply["run_s"],
            "apply.cpu_s": sp_apply["cpu_s"],
        })
        rec["layers"] = layers
    tracer.enabled = False
    return rec


def final_state_matches(table, oracle, upto: int) -> bool:
    """The table's live rows against the oracle's, by row count and
    content hash."""
    got = content_hash(normalize_engine_rows(table.read()))
    want = content_hash(oracle.live(upto))
    if got != want:
        print(f"oracle mismatch: engine (rows, hash) {got}, oracle {want}", file=sys.stderr)
    return got == want


# --------------------------------------------------------------- the run
def run(spark, workload: str, seed: int, seconds: int, trace: bool, work: str,
        session_s: float, size: str = "full", inputs_root: str | None = None):
    """One benchmark run in an existing session. Returns (result, info):
    the objects of the last and the next-to-last output line."""
    tracer = Tracer(spark, enabled=False)
    wl = WORKLOADS[workload](
        spark, inputs_root or INPUTS_ROOT, work, seed, size, tracer
    )
    t0 = time.perf_counter()
    inputs_built = wl.make_inputs()
    fixture_s = time.perf_counter() - t0
    oracle = wl.oracle

    kept = None

    def keep(table):
        """Drop a table once it is no longer the latest."""
        nonlocal kept
        if kept is not None and kept is not table:
            wl.drop_table(kept)
        kept = table

    # The set-up ends with warm-up batches, which warm each operation kind:
    # the first batch after the first still runs about a fifth slower.
    t0 = time.perf_counter()
    wl.set_up()
    for _ in range(WARMUP_BATCHES):
        batch = wl.next_batch()
        run_batch(wl, batch, tracer, traced=False)
        keep(batch.table)
    set_up_s = time.perf_counter() - t0

    recs, crashed = [], 0
    cpu0 = _cpu_ticks()
    t_loop = time.perf_counter()
    # a traced run needs a traced and an untraced batch, whatever the time
    while time.perf_counter() < t_loop + seconds or (trace and len(recs) < 2):
        batch = wl.next_batch()
        if batch is None:
            break
        try:
            recs.append(run_batch(wl, batch, tracer, traced=trace and len(recs) % 2 == 1))
        except Exception:
            traceback.print_exc()
            crashed = 1
            break
        keep(batch.table)
    loop_s = time.perf_counter() - t_loop
    cpu = [b - a for a, b in zip(cpu0, _cpu_ticks())]

    # After the timed loop, so that checking costs no samples: every
    # changes read and lookup, then the final table, against the oracle.
    failed = crashed
    for r in recs:
        b = r["batch"]
        want = oracle.n_changes(b.from_seq, b.upto_seq)
        if r["n_changes"] != want:
            print(f"batch {b.batch_id}: changes returned {r['n_changes']} rows, oracle {want}",
                  file=sys.stderr)
            failed += 1
        if r["found"] != oracle.lookup_hash(b.upto_seq, b.keys):
            print(f"batch {b.batch_id}: lookup of {b.keys} differs from the oracle",
                  file=sys.stderr)
            failed += 1
    table_bytes = live_rows = 0
    if recs:
        last = recs[-1]["batch"]
        failed += not final_state_matches(last.table, oracle, last.upto_seq)
        live_rows = len(oracle.live(last.upto_seq))
        files = _bucket_files(last.table, last.table.snapshot(), range(last.table.buckets))
        table_bytes = sum(os.path.getsize(f) for f in files)
    oracle.close()

    def med(rs, k):
        return statistics.median(r[k] for r in rs) if rs else 0.0

    events = sum(r["batch"].n_events for r in recs)
    traced = [r for r in recs if r["traced"]]
    untraced = [r for r in recs if not r["traced"]]
    if not trace:
        metrics = {
            "events_per_cpu_s": events / max(sum(r["commit_cpu_s"] for r in recs), 1e-9),
            "commit_cpu_s_p50": med(recs, "commit_cpu_s"),
            "batch_cpu_s_p50": med(recs, "batch_cpu_s"),
            "write_bytes_per_event": sum(r["bytes_written"] for r in recs) / max(events, 1),
            "table_bytes_per_row": table_bytes / max(live_rows, 1),
            "setup_s": session_s + set_up_s,
        }
        units = END_TO_END
    else:
        layers = [r["layers"] for r in traced]
        metrics = {
            k: statistics.median(l[k] for l in layers) if layers and k in layers[0] else 0.0
            for k in PER_LAYER
        }
        base = med(untraced, "commit_s")
        metrics.update({
            "wall.events_per_s": events / max(sum(r["commit_s"] for r in recs), 1e-9),
            "wall.commit_s_p50": med(recs, "commit_s"),
            "wall.batch_s_p50": med(recs, "batch_s"),
            "process.peak_rss_mb": peak_rss_mb(spark),
            "lake.changes_s_p50": med(recs, "changes_s"),
            "lake.lookup_s_p50": med(recs, "lookup_s"),
            "setup.session_s": session_s,
            "setup.set_up_s": set_up_s,
            "trace.commit_s_p50": med(traced, "commit_s"),
            "trace.overhead_pct": 100 * (med(traced, "commit_s") - base) / base if base else 0.0,
            "trace.spans": len(tracer.spans),
        })
        units = PER_LAYER
        spans_dir = os.path.join(os.path.dirname(work), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(
            os.path.join(spans_dir, f"{workload}-seed{seed}-{os.getpid()}.json"),
            {"workload": workload, "seed": seed, "layers": layers},
        )
    result = {
        "correct": failed == 0 and bool(recs),
        "attempted": 3 * len(recs) + crashed,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    info = {
        "workload": workload,
        "seed": seed,
        "samples": {"batches": len(recs), "untraced": len(untraced), "traced": len(traced)},
        **{k: [r[k] for r in recs] for k in ("commit_s", "changes_s", "lookup_s", "commit_cpu_s", "batch_cpu_s")},
        "inputs_built": inputs_built,
        "fixture_s": fixture_s,
        "set_up_s": set_up_s,
        "loop_s": loop_s,
        # shares of the host's CPU time during the timed loop: busy, and
        # taken by the hypervisor (steal)
        "loop_cpu_busy": (sum(cpu) - cpu[3] - cpu[4] - cpu[7]) / max(sum(cpu), 1),
        "loop_cpu_steal": cpu[7] / max(sum(cpu), 1),
        "peak_rss_mb": peak_rss_mb(spark),
        "host": host_facts(spark),
    }
    return result, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inputs-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not args.inputs_only and not inputs_ready(
        inputs_dir(INPUTS_ROOT, args.workload, "full", args.seed)
    ):
        # Build a missing input set in a JVM of its own, so that the measured
        # session starts as cold as in runs that find the set built.
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), *(argv or sys.argv[1:]), "--inputs-only"],
            check=True, stdout=subprocess.DEVNULL,
        )

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        try:
            if args.inputs_only:
                wl = WORKLOADS[args.workload](
                    spark, INPUTS_ROOT, work, args.seed, "full", Tracer(spark, False)
                )
                wl.make_inputs()
                wl.oracle.close()
                return 0
            result, info = run(spark, args.workload, args.seed, args.seconds,
                               bool(args.trace), work, session_s)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
