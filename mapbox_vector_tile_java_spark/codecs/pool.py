"""Per-process scratch-buffer pool for hot codec kernels.

This sandbox (like thin-provisioned cloud VMs) services first-touch page
faults at ~150 MB/s while reused heap pages run at 6-10 GB/s (measured, a
40x cliff). Numpy expression chains allocate fresh odd-sized temporaries
every call, so steady-state kernels stay fault-bound. The fix: named,
grow-only scratch buffers reused across calls, with ``out=`` ufunc forms.

Spark reuses python workers (spark.python.worker.reuse), so each executor
worker pays the pre-fault exactly once per buffer size class and then runs
at full memory bandwidth for every subsequent Arrow batch.

Reference analog: the encoder pre-sizes its command buffers from exact
output-size formulas instead of growing them per feature
(JtsAdapter.java:315-330) — same discipline, process-lifetime scope.
"""

from __future__ import annotations

import numpy as np

_POOL: dict[str, np.ndarray] = {}


def pbuf(name: str, n: int, dtype=np.uint8) -> np.ndarray:
    """A reusable scratch array of ``n`` elements of ``dtype``.

    Contents are arbitrary (caller must fill). Grow-only, power-of-two
    capacity; pages are pre-faulted on (re)allocation so the one-time cost
    never lands inside a timed kernel region. One pool per process: every
    caller is single-threaded (executor python workers, and the codec
    planner, which plans columns one at a time), so the planner's buffers
    also persist from one encode to the next.
    """
    dt = np.dtype(dtype)
    need = int(n) * dt.itemsize
    a = _POOL.get(name)
    if a is None or a.nbytes < need:
        cap = 1 << max(20, (need - 1).bit_length())
        a = np.empty(cap, dtype=np.uint8)
        a[:: 4096] = 0  # pre-fault every page
        _POOL[name] = a
    return a[:need].view(dt)
