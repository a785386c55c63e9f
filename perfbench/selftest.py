"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json, that an untraced run prints
every end-to-end metric with its unit and a traced run every per-layer
metric and its spans; that the layer counters the later perf work relies on
are filled in; that the oracle rejects a table with one live row dropped;
and that the benchmark exits non-zero, printing no result, in a directory
that holds only BENCHMARK.json and perfbench/. Exits 0 when all pass.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work", "selftest")
INPUTS = os.path.join(WORK, "inputs")


class Checks:
    def __init__(self):
        self.failed = []

    def __call__(self, ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            self.failed.append(what)


def check_bare_checkout(check: Checks, workload: str) -> None:
    bare = os.path.join(WORK, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    check(p.returncode != 0 and not p.stdout.strip(),
          "without the engine the benchmark fails and prints no result")


def check_workload(check: Checks, spark, spec: dict, workload: str, session_s: float) -> None:
    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        work = os.path.join(WORK, f"{workload}-{int(trace)}", "run")
        result, info = bench.run(spark, workload, 1, 1, trace, work, session_s,
                                 size="tiny", inputs_root=INPUTS)
        tag = f"{workload} trace={int(trace)}"
        check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 3,
              f"{tag}: oracle agrees ({result['attempted']} operations)")
        want = {m["name"]: m["unit"] for m in spec[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        check(got == want, f"{tag}: every {section} metric printed with its unit")
        if not trace:
            check(all(v["value"] > 0 for v in result["metrics"].values()),
                  f"{tag}: no end-to-end metric is 0")
            continue
        m = {k: v["value"] for k, v in result["metrics"].items()}
        spans = glob.glob(os.path.join(os.path.dirname(work), "spans", f"{workload}-*.json"))
        check(len(spans) == 1 and len(json.load(open(spans[0]))["spans"]) == m["trace.spans"] > 0,
              f"{tag}: spans written")
        check(m["apply.tasks"] > 0 and m["apply.jobs"] > 0, f"{tag}: apply job accounting")
        check(m["lake.shuffle_write_bytes"] > 0, f"{tag}: merge shuffle bytes recorded")
        check(m["lake.bytes_written"] > 0 and m["dedup.rows_out"] > 0,
              f"{tag}: merge and dedup layers recorded")
        if workload == "stream_upsert":
            check(m["lake.rows_rewritten"] > 0 and m["debezium.lines_in"] > 0
                  and m["mysql_binlog.frames_in"] == 0,
                  f"{tag}: copy-on-write rewrite and debezium recorded, mysql bypassed")
        else:
            check(m["lake.rows_rewritten"] == 0 and m["mysql_binlog.frames_in"] > 0
                  and m["debezium.lines_in"] == 0,
                  f"{tag}: fresh table rewrites nothing, mysql recorded, debezium bypassed")


def drop_one_live_row(table) -> None:
    """Rewrite one data file of the live snapshot without its first live
    row (and drop the file's checksum, which no longer matches)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    snap = table.snapshot()
    for path in bench._bucket_files(table, snap, range(table.buckets)):
        t = pq.read_table(path)
        live = pc.not_equal(t["_op"], "D").to_pylist()
        if True in live:
            i = live.index(True)
            # INT96 timestamps, as Spark wrote them
            pq.write_table(pa.concat_tables([t.slice(0, i), t.slice(i + 1)]), path,
                           use_deprecated_int96_timestamps=True)
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            return
    raise RuntimeError("no live row to drop")


def check_corruption(check: Checks, spark) -> None:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS["mysql_files"](
        spark, INPUTS, os.path.join(WORK, "corrupt"), 1, "tiny", Tracer(spark, False)
    )
    wl.make_inputs()
    batch = wl.next_batch()
    wl.apply(batch, None)
    check(bench.final_state_matches(batch.table, wl.oracle, batch.upto_seq),
          "oracle accepts the engine's table")
    drop_one_live_row(batch.table)
    check(not bench.final_state_matches(batch.table, wl.oracle, batch.upto_seq),
          "oracle rejects the table with one live row dropped")
    wl.oracle.close()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    check = Checks()
    try:
        check_bare_checkout(check, spec["workloads"][0]["name"])
        t0 = time.perf_counter()
        spark = bench.start_session(os.path.join(WORK, "session"))
        session_s = time.perf_counter() - t0
        try:
            for w in spec["workloads"]:
                check_workload(check, spark, spec, w["name"], session_s)
            check_corruption(check, spark)
        finally:
            bench.stop_session(spark)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(f"{len(check.failed)} failed" if check.failed else "all passed")
    return 1 if check.failed else 0


if __name__ == "__main__":
    sys.exit(main())
