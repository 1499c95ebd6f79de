"""Seeded game-event generator for the ``ingest_drain`` workload.

Writes raw JSON lines (the reference's ``game_events`` messages, the seven
``EVENT_FIELDS``) as equal-line-count text files, and computes from the same
records, in plain Python, what the ingest pipeline must write: per
``EventType`` row counts and exact decimal ``EventValue`` sums.

The expectation is independent of Spark: first match of ``NUMBER_PATTERN``
with Python's ``re``, malformed and incomplete lines excluded.
"""

from __future__ import annotations

import json
import os
import random
import re
from decimal import Decimal

from featurestore_for_joycastle_java_spark.schemas import (
    EVENT_FIELDS,
    EXTRACT_EVENT_TYPES,
    NUMBER_PATTERN,
)

#: Skewed EventType frequencies: the two extraction types are a large share,
#: and a long tail of rare types still gets its own route. The reference
#: publishes no traffic mix, so the weights and the shares below are
#: arbitrary choices.
EVENT_TYPE_WEIGHTS = {
    "SessionStart": 40,
    "SessionEnd": 25,
    "InAppPurchase": 15,
    "LevelUp": 12,
    "AdView": 6,
    "Refund": 2,
}
DEVICES = ("ios", "android", "web", "console")
LOCATIONS = ("US", "DE", "JP", "BR", "IN", "FR", "KR", "CN")

#: Shares of lines that the pipeline must drop.
MALFORMED_SHARE = 0.03
INCOMPLETE_SHARE = 0.05

_NUMBER = re.compile(NUMBER_PATTERN)


def _details(rng: random.Random) -> str:
    """One EventDetails string in one of the FIXTURES.md §A shapes."""
    shape = rng.randrange(6)
    cents = f"{rng.randrange(1, 10000) / 100:.2f}"
    whole = str(rng.randrange(1, 500))
    if shape == 0:
        return f"{cents} USD"  # decimal
    if shape == 1:
        return f"level {whole}"  # integer
    if shape == 2:
        return f"{whole} items {cents}"  # integer first: the integer wins
    if shape == 3:
        return f"price {cents} x{whole}"  # decimal first
    if shape == 4:
        return rng.choice(("bonus chest", "daily login", "no-digits"))  # no match
    return f"{rng.randrange(1, 100)}.{rng.randrange(0, 100):02d}"  # bare number


def _record(rng: random.Random, i: int, types: list[str], weights: list[int]) -> dict:
    return {
        "EventID": f"e{i}",
        "PlayerID": f"p{rng.randrange(5000)}",
        "EventTimestamp": f"2024-01-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:{(i * 7) % 60:02d}Z",
        "EventType": rng.choices(types, weights)[0],
        "EventDetails": _details(rng),
        "DeviceType": rng.choice(DEVICES),
        "Location": rng.choice(LOCATIONS),
    }


def expected_value(event_type: str, details: str) -> Decimal | None:
    """The EventValue the pipeline must extract, as an exact decimal."""
    if event_type not in EXTRACT_EVENT_TYPES:
        return None
    m = _NUMBER.search(details)
    return Decimal(m.group(1)) if m else None


def generate_lines(seed: int, n_lines: int) -> tuple[list[str], dict[str, list]]:
    """``n_lines`` raw lines and the expectation ``{EventType: [rows, sum]}``
    over the lines the pipeline must keep."""
    rng = random.Random(seed)
    types, weights = list(EVENT_TYPE_WEIGHTS), list(EVENT_TYPE_WEIGHTS.values())
    lines: list[str] = []
    expect: dict[str, list] = {}
    for i in range(n_lines):
        rec = _record(rng, i, types, weights)
        roll = rng.random()
        if roll < MALFORMED_SHARE:
            # Truncated before Location, or not JSON at all: dropped either way.
            if rng.random() < 0.5:
                lines.append(json.dumps(rec)[: rng.randrange(5, 60)])
            else:
                lines.append(f"corrupt payload {i}")
            continue
        if roll < MALFORMED_SHARE + INCOMPLETE_SHARE:
            field = rng.choice(EVENT_FIELDS)
            if rng.random() < 0.5:
                del rec[field]
            else:
                rec[field] = None
            lines.append(json.dumps(rec))
            continue
        if rng.random() < 0.1:
            rec["Extra"] = "ignored"  # dynamic-in, fixed-out
        lines.append(json.dumps(rec))
        agg = expect.setdefault(rec["EventType"], [0, Decimal(0)])
        agg[0] += 1
        value = expected_value(rec["EventType"], rec["EventDetails"])
        if value is not None:
            agg[1] += value
    return lines, expect


def write_files(lines: list[str], out_dir: str, n_files: int) -> list[str]:
    """Split ``lines`` into ``n_files`` files of equal line count."""
    if len(lines) % n_files:
        raise ValueError(f"{len(lines)} lines do not split into {n_files} equal files")
    per = len(lines) // n_files
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        path = os.path.join(out_dir, f"events-{f:04d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines[f * per : (f + 1) * per]) + "\n")
        paths.append(path)
    return paths
