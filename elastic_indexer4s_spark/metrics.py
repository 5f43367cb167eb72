"""Build-time observability: interval throughput logging (SURVEY §2 A5).

The reference logs indexing throughput once per interval while the stream
runs (`FullStream.scala:15-23` ``countAndLogSink``: groupedWithin(1 minute)
→ "Indexed N documents in the last minute"); this is the Spark-native twin:
a ``LongAccumulator``-backed counter incremented per Arrow batch inside the
analyzer/combine pass, drained by a driver-side timer thread that logs the
window rate while the build's jobs are in flight.

Accumulator semantics: updates arrive as tasks COMPLETE (and speculative /
retried tasks can double-count in-flight work), so the live log is a
progress meter, not an exactly-once ledger — the same best-effort contract
as the reference's stream meter.  The final total IS exact in the build
(the combine runs exactly once, during cache
materialization) and is cross-checked against the lineage doc count.
"""

from __future__ import annotations

import sys
import threading
import time


class ThroughputMeter:
    """Driver-side interval logger over a worker-incremented accumulator.

    Usage::

        meter = ThroughputMeter(spark.sparkContext, interval=60.0)
        ...  # pass ``meter.acc`` into the analyzer closure; workers call
        ...  # ``acc.add(batch_rows)``
        meter.start()
        ...  # run jobs
        meter.stop()   # logs a final summary line
    """

    def __init__(self, sc, interval: float = 60.0, label: str = "index-build",
                 out=None):
        self.acc = sc.accumulator(0)
        self.interval = float(interval)
        self.label = label
        self.out = out if out is not None else sys.stderr
        self._t0 = 0.0
        self._last_n = 0
        self._last_t = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    # -- worker side -------------------------------------------------------

    def add(self, n: int) -> None:
        """Increment from a worker (or driver-side loop)."""
        self.acc.add(int(n))

    # -- driver side -------------------------------------------------------

    @property
    def total(self) -> int:
        return int(self.acc.value)

    def _emit(self, final: bool = False) -> str:
        now = time.monotonic()
        n = self.total
        dn, dt = n - self._last_n, max(now - self._last_t, 1e-9)
        self._last_n, self._last_t = n, now
        if final:
            elapsed = max(now - self._t0, 1e-9)
            line = (f"[ei4s] {self.label}: indexed {n} documents total "
                    f"({n / elapsed:.0f} docs/s over {elapsed:.1f}s)")
        else:
            line = (f"[ei4s] {self.label}: indexed {dn} documents in the "
                    f"last {dt:.1f}s ({dn / dt:.0f} docs/s, {n} total)")
        print(line, file=self.out, flush=True)
        return line

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._emit()

    def start(self) -> "ThroughputMeter":
        self._t0 = self._last_t = time.monotonic()
        self._thread = threading.Thread(
            target=self._run, name="ei4s-throughput", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop the timer, log the final summary, return the exact total."""
        self._stop.set()
        started = self._thread is not None
        if started:
            self._thread.join(timeout=5)
            self._thread = None
        if started:
            self._emit(final=True)
        return self.total
