"""Host stamp for every record: cpus, CPU steal and load over the run.

Steal is read from ``/proc/stat`` with the sampler in
``tools/gated_bench.py`` (imported, not copied), as a share of all
ticks between :meth:`HostStamp.start` and :meth:`HostStamp.stop`.
"""

from __future__ import annotations

import os

from tools.gated_bench import _stat, load1


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class HostStamp:
    def __init__(self, cpus: int):
        self.cpus = cpus
        self._t0 = self._s0 = 0
        self._load0 = 0.0

    def start(self) -> None:
        self._t0, self._s0 = _stat()
        self._load0 = load1()

    def stop(self) -> dict:
        t1, s1 = _stat()
        return {
            "cpus": self.cpus,
            "steal_frac": round((s1 - self._s0) / max(1, t1 - self._t0), 5),
            "load1_start": self._load0,
            "load1_end": load1(),
        }


def same_cpus(records: list[dict]) -> int:
    """The one ``cpus`` value shared by ``records``; raises when records
    made at different core counts would be compared."""
    seen = {r["host"]["cpus"] for r in records}
    if len(seen) != 1:
        raise ValueError(f"records were made at different cpus {sorted(seen)}; "
                         "numbers from different core counts are not comparable")
    return seen.pop()
