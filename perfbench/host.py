"""A host speed canary, stamped on every run.

Wall times on a shared host move with its other tenants; the canary
says how fast this host's cores were when the run started.
"""

from __future__ import annotations

import hashlib
import time


def canary_s() -> float:
    """Fixed single-core sha256 workload (the same as bench.py's), timed
    before Spark starts, so runs on different hosts can be compared."""
    t0 = time.perf_counter()
    blk = b"\x5a" * 1_000_000
    for _ in range(400):
        blk = hashlib.sha256(blk).digest() + blk[:-32]
    return time.perf_counter() - t0
