"""Shared gather/scatter kernels.

``multi_range``/``gather_runs`` implement the concat-of-slices pattern
(output = pool[s_i : s_i+l_i] for each run i) with a single cumsum instead
of the repeat+arange+add triple — 2 large temporaries instead of 4. In this
sandbox (and on thin-provisioned cloud VMs generally) first-touch page
faults dominate large-temp numpy code, so temp count is the constant that
matters.
"""

from __future__ import annotations

import numpy as np


def multi_range(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenation of [s, s+1, ..., s+l-1] for each (s, l) pair, one cumsum.

    WARNING: returns a pooled scratch buffer that is only valid until the
    next multi_range call in this process — use it immediately as a fancy
    index (which copies) and do not hold a reference across calls.
    """
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    nz = lens > 0
    if not nz.all():
        starts, lens = starts[nz], lens[nz]
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    from .pool import pbuf

    d = pbuf("gather.mr", total, np.int64)
    d.fill(1)
    heads = np.cumsum(lens) - lens
    d[0] = starts[0]
    if len(starts) > 1:
        d[heads[1:]] = starts[1:] - (starts[:-1] + lens[:-1] - 1)
    np.cumsum(d, out=d)
    ro = d.view()
    ro.setflags(write=False)  # misuse (holding across calls) fails loudly
    return ro


def gather_runs(pool: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """pool bytes gathered as the concatenation of per-run slices."""
    return pool[multi_range(starts, lens)]
