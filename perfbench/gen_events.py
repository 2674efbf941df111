"""Event generator for the ``events-small`` and ``events-bulk`` workloads.

Runs as its own process, apart from the system under test, and writes JSON
lines ``{"topic": ..., "value": "<envelope>"}`` into a file-stream source
directory. Each file is written under a hidden name and renamed into place,
so the source never lists a half-written file.

Every event's topic, code, corrupt flag and dedup key is a pure function of
``(shape, seed, seq)`` (:func:`event_attrs`), so the output oracle in
``events.py`` rebuilds the expected outputs from the seed alone.

Usage::

    python3 perfbench/gen_events.py backlog <shape> <dir> <seed> <seq0> <n> <per_file>
    python3 perfbench/gen_events.py open <shape> <dir> <seed> <seq0> <rate> <seconds> <tick_s> <stats_path>

``backlog`` writes ``n`` events at once. ``open`` writes events on a fixed
schedule: event ``i`` is due at ``start + i / rate``, and each tick writes
every event already due, whatever the reader is doing. Each envelope carries
its due time in ns (``due``, ``time.time_ns`` clock) and ``createdAt`` in the
reference format. ``open`` writes how late it ran (JSON) to ``stats_path``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime, timezone

SMALL_TOPICS = ["t-orders", "t-users", "t-payments", "t-audit"]
# Event codes as a producer emits them (UpperCamelCase of the kebab name).
SMALL_CODES = [
    "order-created", "order-paid", "order-shipped", "order-cancelled",
    "payment-settled", "payment-failed", "refund-issued",
    "user-signed-up", "user-updated", "user-deleted",
    "metric-a", "metric-b", "metric-c", "metric-d",
    "metric-e", "metric-f", "metric-g", "metric-h",
    "unrouted-event",
]
BULK_TOPICS = ["topic-a", "topic-b", "topic-c", "topic-d"]
BULK_CODES = ["bulk-created", "bulk-updated", "bulk-deleted"]
CORRUPT_SHARE = 0.05
DUP_SHARE = 0.2  # bulk: share of events reusing a recent event's dedup key
BULK_RECORDS = 216


def camel(name: str) -> str:
    """``order-created`` -> ``OrderCreated`` (kebab names only)."""
    return "".join(part[:1].upper() + part[1:] for part in name.split("-"))


def _mix(x: int) -> int:
    """splitmix64 finalizer: a fast, seedable integer hash."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def event_attrs(shape: str, seed: int, seq: int) -> tuple[str, str, bool, str]:
    """``(topic, code, corrupt, dedup_key)`` of event ``seq``."""
    h = _mix(seed * 0x100000001B3 + seq)
    corrupt = (h & 0xFFFF) / 0x10000 < CORRUPT_SHARE
    if shape == "small":
        topic = SMALL_TOPICS[(h >> 16) % len(SMALL_TOPICS)]
        code = camel(SMALL_CODES[(h >> 24) % len(SMALL_CODES)])
        return topic, code, corrupt, ""
    topic = BULK_TOPICS[(h >> 16) % len(BULK_TOPICS)]
    code = camel(BULK_CODES[(h >> 24) % len(BULK_CODES)])
    key_seq = seq
    if ((h >> 32) & 0xFFFF) / 0x10000 < DUP_SHARE:
        key_seq = max(0, seq - 1 - (h >> 48) % 50)
    return topic, code, corrupt, f"k{key_seq}"


def _records_json() -> str:
    """The reference local-tests body: 216 nested records, about 15 KB."""
    records = [
        {
            "id": i,
            "name": f"i{i:04d}",
            "price": round(10 + i * 0.37, 2),
            "attrs": {"color": ("red", "green", "blue")[i % 3], "size": i % 7},
        }
        for i in range(BULK_RECORDS)
    ]
    return json.dumps(records, separators=(",", ":"))


def render(shape: str, seed: int, seq: int, due_ns: int, records: str) -> str:
    topic, code, corrupt, dkey = event_attrs(shape, seed, seq)
    created = datetime.fromtimestamp(due_ns / 1e9, timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%SZ"
    )
    head = f'{{"seq":{seq},"due":{due_ns},"code":"{code}","createdAt":"{created}"'
    if shape == "small":
        value = head + "}"
    else:
        value = head + f',"dkey":"{dkey}","records":{records}}}'
    if corrupt:
        value = value[: len(value) // 2]
    return json.dumps({"topic": topic, "value": value}) + "\n"


def _write_file(directory: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.rename(tmp, os.path.join(directory, name))


def write_backlog(shape, directory, seed, seq0, n, per_file) -> None:
    records = _records_json() if shape == "bulk" else ""
    due = time.time_ns()
    for start in range(seq0, seq0 + n, per_file):
        stop = min(start + per_file, seq0 + n)
        lines = [render(shape, seed, s, due, records) for s in range(start, stop)]
        _write_file(directory, f"b{start:010d}.json", lines)


def run_open_loop(shape, directory, seed, seq0, rate, seconds, tick_s, stats_path) -> None:
    records = _records_json() if shape == "bulk" else ""
    n = int(rate * seconds)
    period_ns = int(1e9 / rate)
    start = time.time_ns() + int(0.05e9)
    lags_ns: list[int] = []
    i = 0
    tick = 0
    while i < n:
        tick += 1
        wake = start + int(tick * tick_s * 1e9)
        delay = (wake - time.time_ns()) / 1e9
        if delay > 0:
            time.sleep(delay)
        now = time.time_ns()
        lags_ns.append(max(0, now - wake))
        lines = []
        while i < n and start + i * period_ns <= now:
            lines.append(render(shape, seed, seq0 + i, start + i * period_ns, records))
            i += 1
        if lines:
            _write_file(directory, f"o{seq0 + i:010d}.json", lines)
    with open(stats_path, "w") as f:
        json.dump({"events": n, "start_ns": start, "ticks": tick, "max_lag_ms": max(lags_ns) / 1e6,
                   "mean_lag_ms": sum(lags_ns) / len(lags_ns) / 1e6}, f)


def main(argv: list[str]) -> None:
    mode, shape, directory = argv[0], argv[1], argv[2]
    if shape not in ("small", "bulk"):
        sys.exit(f"unknown shape {shape!r}")
    os.makedirs(directory, exist_ok=True)
    if mode == "backlog":
        write_backlog(shape, directory, *map(int, argv[3:7]))
    elif mode == "open":
        seed, seq0 = int(argv[3]), int(argv[4])
        rate, seconds, tick_s = map(float, argv[5:8])
        run_open_loop(shape, directory, seed, seq0, rate, seconds, tick_s, argv[8])
    else:
        sys.exit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main(sys.argv[1:])
