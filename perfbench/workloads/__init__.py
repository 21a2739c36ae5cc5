"""The workloads. Each one is a closed loop with a single client: the
next operation starts when the previous one has returned. Operation counts
are fixed by ``--seconds`` and never by the clock, so every run with the
same seed and ``--seconds`` ends in the same table state."""

from __future__ import annotations

import importlib

NAMES = ("ingest", "query", "maintenance")


class Workload:
    """One workload. ``unit`` names the operation kinds whose latency is
    the workload's unit operation, ``cycle`` the periodic maintenance
    kind, and ``insert`` the kind of a write commit."""

    unit: tuple = ()
    insert = "insert"
    cycle = ""
    rows = 0  # rows committed by timed inserts

    def setup(self, ctx, rep: int) -> None:
        """Generate every input from ``ctx.seed`` and preload the tables.
        Repeated; each repetition builds fresh tables."""
        raise NotImplementedError

    def warmup(self, ctx) -> None:
        """Run every operation type once, untimed."""
        raise NotImplementedError

    def measure(self, ctx) -> None:
        raise NotImplementedError

    def extras(self, ctx) -> dict:
        """Workload-specific figures for the run record."""
        return {}


def load(name: str) -> Workload:
    mod = importlib.import_module(f"{__name__}.{name}")
    return getattr(mod, name.capitalize())()
