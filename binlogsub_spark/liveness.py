"""T7 — source/session liveness, the micro-batch re-expression of the
reference's ``mysql_ping`` keep-alive (/root/reference/mysqlProcess.cc:70-87:
ping the server every 10 idle seconds; a failed ping tears the session down
so the process reconnects).

A Structured Streaming pipeline has no long-lived socket, but it has the
same failure mode the ping guards against: a source that has gone silent
in a way that is indistinguishable from "no new data" — a dead NFS mount,
a revoked credential, a deleted prefix. The micro-batch analog:

- every batch that CARRIES data is itself proof of life (the reference
  skips the ping while the dump stream is busy);
- once the stream has been idle past ``ping_interval_sec``, each further
  empty batch triggers a cheap PROBE of the source (default: a Hadoop
  FileSystem ``exists()`` on the source path — storage-layer round-trip,
  no Spark job, no data read);
- probe results append to a driver-side ``_heartbeats`` parquet log in
  the table directory (metadata, not a dataset: a Spark job would cost
  more in scheduling than the rows are worth);
- ``max_failures`` CONSECUTIVE probe failures raise
  :class:`SourceLivenessError` out of ``foreachBatch``, failing the query
  so the supervisor restarts it from checkpoint — the micro-batch
  equivalent of the reference's teardown-and-reconnect.

Everything is driver-side and O(1) per batch; the hot path never sees it.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from typing import Callable


class SourceLivenessError(RuntimeError):
    """The source failed ``max_failures`` consecutive liveness probes."""


@dataclass(frozen=True)
class LivenessConfig:
    # Reference pings every 10 s of idleness (mysqlProcess.cc:70-87).
    ping_interval_sec: float = 10.0
    # Consecutive probe failures before the stream is declared dead.
    max_failures: int = 3


def hadoop_fs_probe(spark, path: str) -> bool:
    """Storage-layer ping: does the source path still exist, as seen
    through the SAME Hadoop FileSystem the stream reads with? One
    metadata RPC; no Spark job, no listing of children."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))
    except Exception:
        return False


class SourceLivenessMonitor:
    """Driver-side idle-source watchdog for a foreachBatch stream.

    ``probe`` is any zero-arg callable returning truthy for alive; wire
    ``lambda: hadoop_fs_probe(spark, source_path)`` for file sources.
    ``heartbeat_dir`` (optional) receives one parquet row per probe.
    ``clock`` is injectable for tests.
    """

    def __init__(
        self,
        probe: Callable[[], bool],
        cfg: LivenessConfig | None = None,
        heartbeat_dir: str | None = None,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.probe = probe
        self.cfg = cfg or LivenessConfig()
        self.heartbeat_dir = heartbeat_dir
        self._clock = clock
        self._last_alive = clock()  # session start counts as activity
        self._failures = 0
        self.probes = 0  # total probes fired (observability/tests)

    def on_batch(self, batch_id: int, n_events: int) -> dict | None:
        """Call once per micro-batch with the batch's event count.

        Returns the heartbeat record if a probe fired, else None. Raises
        SourceLivenessError after ``max_failures`` consecutive failures.
        """
        now = self._clock()
        if n_events > 0:
            # data IS the heartbeat — reset both timer and failure streak
            self._last_alive = now
            self._failures = 0
            return None
        idle = now - self._last_alive
        if idle < self.cfg.ping_interval_sec:
            return None
        ok = False
        try:
            ok = bool(self.probe())
        except Exception:
            ok = False
        self.probes += 1
        if ok:
            # a successful ping renews the session, exactly like the
            # reference's mysql_ping: the next probe waits a full interval
            self._last_alive = now
            self._failures = 0
        else:
            self._failures += 1
        record = {
            "batch_id": batch_id,
            "idle_sec": round(idle, 3),
            "ok": ok,
            "consecutive_failures": self._failures,
        }
        self._write_heartbeat(record)
        if self._failures >= self.cfg.max_failures:
            raise SourceLivenessError(
                f"source failed {self._failures} consecutive liveness probes "
                f"(idle {idle:.1f}s, batch {batch_id}); failing the query so "
                f"the supervisor restarts it from checkpoint"
            )
        return record

    def _write_heartbeat(self, record: dict) -> None:
        if self.heartbeat_dir is None:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.heartbeat_dir, exist_ok=True)
        tbl = pa.table(
            {
                "batch_id": [record["batch_id"]],
                "idle_sec": [record["idle_sec"]],
                "ok": [record["ok"]],
                "consecutive_failures": [record["consecutive_failures"]],
                "wall_ts": [time.time()],
            },
            schema=pa.schema(
                [
                    ("batch_id", "int64"),
                    ("idle_sec", "float64"),
                    ("ok", "bool"),
                    ("consecutive_failures", "int32"),
                    ("wall_ts", "float64"),
                ]
            ),
        )
        pq.write_table(
            tbl,
            os.path.join(
                self.heartbeat_dir, f"hb-{uuid.uuid4().hex}.parquet"
            ),
        )
