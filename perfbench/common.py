"""What a workload hands back to the runner."""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: Path          # scratch directory inside the checkout, removed after
    nproc: int
    t0: float           # perf_counter at process start
    rss: object         # RssSampler; stopped before the oracle checks, which
                        # are harness memory, not the program's


@dataclass
class Outcome:
    e2e: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checked: int = 0                     # oracle comparisons made
    mismatches: list[str] = field(default_factory=list)
    report: list[str] = field(default_factory=list)   # human-readable lines
    state: dict = field(default_factory=dict)         # inputs to layers()

    def line(self, text: str) -> None:
        self.report.append(text)
