"""Seeded CSV batches for the ingest_serve workload, and the answers the
engine must give on them.

The seed sets four input properties the engine's behaviour depends on:
the share of malformed lines (rejected by the CSV reader), the key skew
over neighbourhoods (Zipf exponent), the share of lookups that hit a
key present in the batch, and the letter case lookups use (the engine
matches keys case-insensitively). Every answer is computed here, from
the generated lines, independently of Spark.

The columns are a subset of the reference AB_NYC listings schema
(FIXTURES.md A4); lookups follow the neighbourhood service (A5). Nothing
in the repository describes that dataset's values or any real traffic,
so every size and range below is an unverified assumption, to be
replaced by measured figures: 400 neighbourhood names made up from 20
stems, a Zipf exponent of 0.6-1.4, 1-5% malformed lines, 60-90% lookup
hits, and 100,000-line batches (``workloads.BATCH_LINES``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

SCHEMA = (
    "id STRING, neighbourhood_group STRING, neighbourhood STRING, "
    "room_type STRING, price DOUBLE, minimum_nights INT, number_of_reviews INT"
)
HEADER = "id,neighbourhood_group,neighbourhood,room_type,price,minimum_nights,number_of_reviews"
KEY = "neighbourhood"
DEFAULTS = {"listings": 0}

_GROUPS = ("Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island")
_ROOMS = ("Entire home/apt", "Private room", "Shared room", "Hotel room")
_STEMS = (
    "Harlem", "Chelsea", "Astoria", "Bushwick", "Flatbush", "Tribeca", "Inwood",
    "Midwood", "Red Hook", "Riverdale", "Woodside", "Corona", "Sunnyside", "Dumbo",
    "Gramercy", "Kips Bay", "Ozone Park", "Mott Haven", "Bay Ridge", "Elmhurst",
)
N_KEYS = 400


@dataclass
class Batch:
    path: str
    lines: int
    rejects: int
    counts: dict[str, int]  # good rows per neighbourhood
    probes: list[str] = field(default_factory=list)

    def answer(self, probe: str) -> dict:
        """What ``serving.point_query`` must return for ``probe`` against
        this batch's per-neighbourhood counts."""
        canonical = _canonical(probe)
        if canonical in self.counts:
            return {KEY: canonical, "listings": self.counts[canonical]}
        return {**DEFAULTS, KEY: probe}


@dataclass
class Profile:
    bad_share: float
    zipf_s: float
    hit_share: float
    key_case: str


def _key_names() -> list[str]:
    return [f"{_STEMS[i % len(_STEMS)]} {i // len(_STEMS) + 1}" for i in range(N_KEYS)]


_NAMES = _key_names()
_BY_LOWER = {n.lower(): n for n in _NAMES}


def _canonical(probe: str) -> str | None:
    return _BY_LOWER.get(probe.lower())


def profile(seed: int) -> Profile:
    rng = np.random.default_rng([seed, 0])
    return Profile(
        bad_share=float(rng.uniform(0.01, 0.05)),
        zipf_s=float(rng.uniform(0.6, 1.4)),
        hit_share=float(rng.uniform(0.6, 0.9)),
        key_case=str(rng.choice(["lower", "upper", "title", "swap"])),
    )


def _recase(name: str, how: str) -> str:
    return {"lower": name.lower(), "upper": name.upper(), "title": name.title(),
            "swap": name.swapcase()}[how]


def make_batch(seed: int, index: int, lines: int, n_probes: int, out_dir: str) -> Batch:
    """Write batch ``index`` of the seed's stream as one CSV file."""
    prof = profile(seed)
    rng = np.random.default_rng([seed, 1, index])
    weights = 1.0 / np.arange(1, N_KEYS + 1) ** prof.zipf_s
    weights /= weights.sum()
    key_idx = rng.choice(N_KEYS, size=lines, p=weights)
    key_idx = rng.permutation(N_KEYS)[key_idx]  # hot keys differ per batch
    groups = rng.integers(0, len(_GROUPS), size=lines)
    rooms = rng.integers(0, len(_ROOMS), size=lines)
    prices = np.round(rng.uniform(20, 900, size=lines), 2)
    nights = rng.integers(1, 30, size=lines)
    reviews = rng.integers(0, 500, size=lines)
    bad = rng.random(lines) < prof.bad_share

    counts: dict[str, int] = {}
    rows = [HEADER]
    for i in range(lines):
        name = _NAMES[key_idx[i]]
        if bad[i]:
            # a price that does not parse as DOUBLE: PERMISSIVE mode
            # routes the whole line to the rejects frame
            price = "n/a"
        else:
            price = repr(float(prices[i]))
            counts[name] = counts.get(name, 0) + 1
        rows.append(
            f"L{index}-{i},{_GROUPS[groups[i]]},{name},{_ROOMS[rooms[i]]},"
            f"{price},{nights[i]},{reviews[i]}"
        )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"batch_{index:02d}.csv")
    with open(path, "w") as fh:
        fh.write("\n".join(rows))
        fh.write("\n")

    present = sorted(counts)
    probes = []
    for j in range(n_probes):
        if rng.random() < prof.hit_share:
            name = present[int(rng.integers(0, len(present)))]
        else:
            name = f"Nowhere {index}-{j}"
        probes.append(_recase(name, prof.key_case))
    return Batch(path, lines, int(bad.sum()), counts, probes)
