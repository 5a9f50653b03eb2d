"""Env-gated wall-clock probes for write-path stages (HUDI_SPARK_TIMING=1).

When enabled, every ``_stage`` block prints to stderr AND appends
``(label, seconds)`` to ``records`` so decomposition tools
(tools/mor_decompose.py) can attribute a batch's wall time to stages
without parsing stderr.  ``records`` is unbounded only while the env
var is set — production runs never append.
"""

from __future__ import annotations

import os

_TIMING = os.environ.get("HUDI_SPARK_TIMING") == "1"

#: (label, seconds) per completed stage, in completion order (only when
#: HUDI_SPARK_TIMING=1); callers may clear() between batches
records: list[tuple[str, float]] = []


class _stage:
    def __init__(self, label: str):
        self.label = label

    def __enter__(self):
        if _TIMING:
            import time
            self.t0 = time.time()
        return self

    def __exit__(self, *a):
        if _TIMING:
            import sys
            import time
            dt = time.time() - self.t0
            records.append((self.label, dt))
            print(f"[timing] {self.label}: {dt:.3f}s", file=sys.stderr)
