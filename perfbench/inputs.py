"""Seeded workload inputs: the only thing the workload seed decides.

The program under test receives what these functions return and nothing
else. ``dashboard`` gets an op order; ``ingest`` gets a symbol sample, a
failing subset and a start time.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta

# Five panel types, each run once per round. An odd count of equally
# weighted types puts the median inside one type's cluster of latencies,
# and the middle type here, b04 (~0.24 s settled on a 4-vCPU host), sits
# ~1.4x above the next faster type (b28) and ~1.4x below the next slower
# one (b19), so the median stays in b04's cluster when the host slows one
# type more than another. flagship_event_dashboard (~0.20 s) and
# b07_asof_join (~0.18 s) are left out: within 20% of b04, they would let
# the median hop between clusters from run to run.
DASHBOARD_PANELS = (
    "b01_filter_time_range",
    "b28_gap_fill",
    "b04_broadcast_join",
    "b19_sessionization",
    "b37_regional_revenue",
)

INGEST_SAMPLE = 5_000
INGEST_UNIVERSE = 10_000
INGEST_FAIL_SHARE = 0.01
INGEST_STEP = timedelta(minutes=2)


class RoundOrder:
    """Endless sequence of rounds; each round is a seeded permutation of
    ``types``, so every type runs equally often over whole rounds."""

    def __init__(self, types: tuple[str, ...], seed: int):
        self.types = types
        self._rng = random.Random(f"order:{seed}")

    def next_round(self) -> list[str]:
        return self._rng.sample(self.types, len(self.types))


@dataclass(frozen=True)
class IngestInputs:
    symbols: tuple[str, ...]
    failing: frozenset[str]
    start: datetime


def ingest_inputs(seed: int, universe: list[str]) -> IngestInputs:
    """A seeded ``INGEST_SAMPLE``-symbol sample of ``universe``, a seeded
    ``INGEST_FAIL_SHARE`` of it set to fail, and a seeded start time that
    leaves the day room for any run length this benchmark makes."""
    rng = random.Random(f"ingest:{seed}")
    sample = rng.sample(universe, INGEST_SAMPLE)
    failing = frozenset(rng.sample(sample, round(INGEST_SAMPLE * INGEST_FAIL_SHARE)))
    start = datetime(2024, 1, 1) + timedelta(
        days=rng.randrange(366), minutes=rng.randrange(20 * 60)
    )
    return IngestInputs(tuple(sample), failing, start)
