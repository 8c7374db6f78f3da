"""The interface every workload implements, and result comparison."""

from __future__ import annotations

import math


class Workload:
    """One seeded workload.

    ``generate`` makes the inputs from the seed and ``build`` loads them
    through the engine; both together are the set-up, done
    ``setup_reps`` times (each into fresh locations, the last one used).
    Then clients call ``next_op``/``run_op`` in a closed loop, and
    ``check`` returns one message per failed correctness check."""

    clients = 1
    setup_reps = 2
    warmup_ops = 2  # per client, untimed
    # when set, measure round(seconds / pass_seconds) whole passes (see
    # pass_done/end_pass) instead of cutting the operation stream when
    # time runs out: every run then sends the same operations, whatever
    # the machine's speed
    pass_seconds: float | None = None

    def __init__(self, seed: int, run_dir: str, tiny: bool = False) -> None:
        self.seed = seed
        self.run_dir = run_dir

    def generate(self, rep: int) -> None:
        raise NotImplementedError

    def build(self, ctx, rep: int) -> None:
        raise NotImplementedError

    def next_op(self, client: int):
        raise NotImplementedError

    def run_op(self, ctx, client: int, op) -> tuple[str, dict]:
        raise NotImplementedError

    def pass_done(self) -> bool:
        return True

    def end_pass(self, ctx) -> None:
        """Called between passes, untimed."""

    def trace_targets(self) -> list[tuple]:
        """Extra ``(owner, attribute, layer, name)`` calls to trace."""
        return []

    def start_measure(self, ctx) -> None:
        """Called once, right before the measured loop."""

    def check(self, ctx, records) -> list[str]:
        return []

    def counted_checks(self, records) -> int:
        """How many correctness checks ``check`` ran."""
        return 0

    def layer_metrics(self, ctx, records, elapsed_s: float) -> dict[str, float]:
        """Workload-specific per-layer metrics of a traced run, from all
        its records (``info["traced"]`` marks the traced ones)."""
        return {}


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], key_cols: int) -> bool:
    """Order-insensitive row comparison; floats within 1e-9 relative
    (SUM over doubles depends on summation order)."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple(str(v) for v in r[:key_cols])  # noqa: E731
    return all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(sorted(got, key=key), sorted(want, key=key))
    )
