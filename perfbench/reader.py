"""The closed-loop reader every workload runs beside its main activity.

One thread issues ``LakeTable.point_lookup(...).collect()`` back to back on
its own table handle, refreshing the snapshot before each operation.  With
``poll_lag`` set, every second operation is instead a feed read,
``changes_since(applied_lsn - poll_lag)``: a consumer re-reading the last
``poll_lag`` LSNs of changes, so every poll covers the same span of the
log whatever the commit phase.  Each answer is checked as it returns; a
wrong answer counts as a failed operation.
"""

from __future__ import annotations

import threading
import time
from typing import Callable

from pyspark.sql import functions as F

from harness import READER_GROUP

# every POLL_EVERY-th operation is a feed read: a run holds about one lap
# or one tail window, so polls need this share to give a median of more
# than a few samples
POLL_EVERY = 2


class Reader(threading.Thread):
    def __init__(
        self,
        tracer,
        table,
        next_key: Callable[[], dict],
        check: Callable[[dict, list[dict]], bool],
        poll_lag: int = 0,
    ):
        super().__init__(name="perfbench-reader", daemon=True)
        self.tracer, self.table = tracer, table
        self.next_key, self.check, self.poll_lag = next_key, check, poll_lag
        self.stop_event = threading.Event()
        self.lookup_ms: list[float] = []
        self.poll_s: list[float] = []
        self.poll_rows: list[int] = []
        self.ok = self.bad = 0
        self.error: BaseException | None = None

    def run(self) -> None:
        # per-thread job group: the job counters leave the reader's jobs out
        self.table.spark.sparkContext.setJobGroup(READER_GROUP, "benchmark reader")
        i = 0
        try:
            while not self.stop_event.is_set():
                i += 1
                t0 = time.perf_counter()
                self.table.refresh()
                if self.poll_lag and i % POLL_EVERY == 0:
                    good = self._poll(t0)
                else:
                    key = self.next_key()
                    with self.tracer.span("lake.point_lookup", detached=True):
                        rows = [r.asDict() for r in self.table.point_lookup(key).collect()]
                    self.lookup_ms.append(1000 * (time.perf_counter() - t0))
                    good = self.check(key, rows)
                self.ok += good
                self.bad += not good
        except BaseException as e:  # re-raised by stop()
            self.error = e

    def _poll(self, t0: float) -> bool:
        """Rows changed in the last ``poll_lag`` LSNs; every one must carry
        an LSN in (top - poll_lag, top]."""
        top = self.table.snapshot["ledger"]["applied_lsn"]
        wm = top - self.poll_lag
        with self.tracer.span("lake.changes_since", detached=True):
            r = self.table.changes_since(wm).agg(
                F.count(F.lit(1)).alias("n"), F.min("_lsn").alias("lo"), F.max("_lsn").alias("hi")
            ).collect()[0]
        self.poll_s.append(time.perf_counter() - t0)
        self.poll_rows.append(int(r["n"]))
        return r["n"] == 0 or (wm < r["lo"] and r["hi"] <= top)

    def stop(self) -> None:
        self.stop_event.set()
        self.join(timeout=120)
        if self.is_alive():
            raise RuntimeError("reader did not stop")
        if self.error is not None:
            raise RuntimeError("reader failed") from self.error
