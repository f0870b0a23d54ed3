"""Closed-loop op accounting: every call into the engine is one attempted
op; an exception is a failed op, and a wrong answer marks the run
incorrect."""

from __future__ import annotations

import sys
import time
import traceback
from collections import defaultdict


T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[benchmark {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class OpLog:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[dict]] = defaultdict(list)  # timed ops
        self.warm: dict[str, list[dict]] = defaultdict(list)  # warm-up ops
        self.timing = False
        self.traced = False
        self.cycle = 0  # the timed cycle the samples come from

    def call(self, kind: str, fn, tracer=None):
        """Run ``fn()`` as one op of ``kind``. Returns (result, wall seconds),
        or (None, None) when it raised."""
        self.attempted += 1
        try:
            if tracer is not None:
                return tracer.run(kind, fn)
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        except Exception:  # a failed op is data, not the end of the run
            self.failed += 1
            log(f"{kind} op failed:\n{traceback.format_exc()}")
            return None, None

    def check(self, what: str, problems: list[str]) -> bool:
        for p in problems[:5]:
            self.problems.append(f"{what}: {p}")
            log(f"WRONG {what}: {p}")
        return not problems

    def sample(self, kind: str, **values) -> None:
        (self.samples if self.timing else self.warm)[kind].append(
            {**values, "traced": self.traced, "cycle": self.cycle})

    @property
    def correct(self) -> bool:
        return not self.problems
