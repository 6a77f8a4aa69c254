"""How fast the host runs a fixed piece of work, sampled during a run.

On a shared VM the speed of the cores, of thread wake-ups and of file
system calls drifts with the load the host's other tenants put on it.
Runs of identical code read up to 1.8x apart in wall time, and over ten
seeds the quartile spread of a workload's wall time reached half its
median.

The probe is fixed work of the benchmark's own that does what the
engine's storage layer does, so that a busy host slows both alike: a
multi-threaded pyarrow dataset scan, with a filter, over 20 small
parquet files. On a 4-core VM whose host was busy, over four minutes,
the 10 s medians of three 1-chunk ``read_region`` calls ranged from 117
to 259 ms. The probe's medians followed them with correlation 0.98 and
slope 1.04 (in logs), and the reads' quartile spread of 0.34 fell to
0.04 divided by the probe. A single-threaded interpreter loop followed
them with slope 2.4 (the reads slowed 2.4x as much as the loop) and left
a spread of 0.19. The probe follows the storage engine's request path
(the ``array`` workload) only; no probe tried followed the JVM-bound
``sql`` passes (see README.md).

The ``array`` workload calls :meth:`HostSpeed.sample` between its timed
ops, outside every timed interval. The median sample of an episode over
the fixed :data:`REFERENCE_S` is the episode's slowdown, and the
episode's wall time divided by it is its wall time on a host of
reference speed. The speed of the host drifts within seconds
(over those four minutes the probe's correlation with the reads fell to
0.79 at 10 s apart and 0.59 at 30 s), so each episode is scaled by its
own probes. The probe calls no program code, so a change to the program
moves the wall time and not the probe, as long as it leaves
pyarrow's process-wide settings (thread pool sizes) alone.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq

# About what one probe takes on a 4-core VM whose host is quiet; a
# constant, so that runs made at different times compare.
REFERENCE_S = 0.005
_FILES = 20
_ROWS = 200  # per file
_KEEP_ABOVE = 100  # the filter keeps keys above this


class HostSpeed:
    def __init__(self, work_dir: str) -> None:
        """Write the probe's files under ``work_dir``."""
        self.dir = os.path.join(work_dir, "hostspeed")
        os.makedirs(self.dir)
        for i in range(_FILES):
            keys = np.arange(i * _ROWS, (i + 1) * _ROWS)
            table = pa.table({"k": keys, "x": np.linspace(0.0, 1.0, _ROWS)})
            pq.write_table(table, os.path.join(self.dir, f"part-{i:02d}.parquet"))
        self.samples: list[float] = []

    def sample(self) -> float:
        """Run one probe; returns the seconds it took, so a caller can
        keep them out of its own timing."""
        t0 = time.perf_counter()
        got = pa_ds.dataset(self.dir, format="parquet").to_table(filter=pa_ds.field("k") > _KEEP_ABOVE)
        dt = time.perf_counter() - t0
        if got.num_rows != _FILES * _ROWS - _KEEP_ABOVE - 1:
            raise RuntimeError(f"host-speed probe read {got.num_rows} rows")
        self.samples.append(dt)
        return dt

    def slowdown(self, since: int = 0) -> float:
        """The median probe from sample ``since`` on, over the reference
        probe."""
        return statistics.median(self.samples[since:]) / REFERENCE_S
