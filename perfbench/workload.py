"""What every workload provides to the harness."""

from __future__ import annotations

import dataclasses
import os
import sys
import time
from collections.abc import Callable, Iterator


@dataclasses.dataclass
class Op:
    kind: str
    run: Callable[[], object]
    # check(result) -> rows delivered or applied; raises Mismatch if wrong
    check: Callable[[object], int]
    ends_cycle: bool = True
    label: str = ""


class Mismatch(AssertionError):
    """An op's output disagrees with the benchmark's own model."""


def expect(what: str, got, want) -> None:
    if got != want:
        raise Mismatch(f"{what}: got {got}, expected {want}")


class Workload:
    name = ""
    tracer = None  # set by the harness in a traced run

    def __init__(self, spark, seed: int, root: str):
        self.spark = spark
        self.seed = seed
        self.root = os.path.join(root, self.name)
        os.makedirs(self.root, exist_ok=True)

    def setup(self) -> None:
        """Generate inputs and build fixtures (untimed, in setup_s)."""

    def warmup_ops(self) -> list[Op]:
        return []

    def ops(self) -> Iterator[Op]:
        raise NotImplementedError

    def min_cycles(self, tracer) -> int:
        """Whole op cycles the timed phase runs at least."""
        return 1

    def begin_timed(self) -> None:
        """Called once, right before the first timed op."""

    def finish(self, n_ops: int) -> int:
        """End-of-run checks; returns how many ops they prove wrong."""
        return 0

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        """Workload-only figures, reported with the per-layer table."""
        return {}

    def trace_targets(self) -> list[tuple]:
        """(owner, attribute, layer name[, after]) to wrap in a traced run."""
        return []


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)
