"""Peak cached and checkpointed block storage, polled from the driver."""

from __future__ import annotations

import threading

POLL_S = 0.1


class StoragePoller:
    """Every POLL_S seconds, sums the memory and disk bytes of the RDD
    blocks the driver reports (persisted and locally checkpointed RDDs)
    and keeps the peak, overall and over the polls at which ``scoped()``
    returned true."""

    def __init__(self, sc, scoped):
        self._jsc = sc._jsc.sc()
        self._scoped = scoped
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_mb = 0.0
        self.peak_scoped_mb = 0.0

    def _loop(self) -> None:
        while not self._stop.wait(POLL_S):
            infos = self._jsc.getRDDStorageInfo()
            mb = sum(i.memSize() + i.diskSize() for i in infos) / float(1 << 20)
            self.peak_mb = max(self.peak_mb, mb)
            if self._scoped():
                self.peak_scoped_mb = max(self.peak_scoped_mb, mb)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=30)
        return False
