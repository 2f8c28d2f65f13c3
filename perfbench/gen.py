"""Seeded input generator for the pipeline benchmark.

Everything the program under test reads is made here from a seed: the
same seed gives byte-identical files, another seed gives other files.
Nothing in this module imports Spark, so the open-loop generator can run
as its own process (``python3 gen.py paced ...``) beside the system
under test.

Event shape (one row per event)::

    event_id long    dense, 0..n-1, the ack identity
    user_id  long    Zipf-skewed over ``users`` ids
    event_type string  view | click | purchase | refund | signup
    value    double
    props    string  "poison" marks the ~1% of events handle_message fails
    due_ms   long    when the generator was due to send the event
                     (epoch ms; 0 for pre-staged backlogs)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_DDL = (
    "event_id long, user_id long, event_type string, value double, "
    "props string, due_ms long"
)
EVENT_TYPES = np.array(["view", "click", "purchase", "refund", "signup"])
# purchase and refund go to the "billing" batcher, the rest to "default"
BILLING_TYPES = ("purchase", "refund")
POISON = "poison"
POISON_SHARE = 0.01
ZIPF_A = 1.3


def make_events(
    seed: int, n: int, users: int = 100_000, start_id: int = 0
) -> pa.Table:
    """``n`` events with ids ``start_id..start_id+n-1``."""
    rng = np.random.default_rng(seed)
    user_id = (rng.zipf(ZIPF_A, n) - 1) % users
    etype = EVENT_TYPES[
        rng.choice(len(EVENT_TYPES), n, p=[0.45, 0.25, 0.15, 0.05, 0.10])
    ]
    value = np.round(rng.gamma(2.0, 25.0, n), 2)
    poison = rng.random(n) < POISON_SHARE
    props = np.where(
        poison, POISON, np.char.add("k=", (rng.integers(0, 1000, n)).astype(str))
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(start_id, start_id + n), pa.int64()),
            "user_id": pa.array(user_id.astype(np.int64), pa.int64()),
            "event_type": pa.array(etype.tolist(), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props.tolist(), pa.string()),
            "due_ms": pa.array(np.zeros(n, np.int64), pa.int64()),
        }
    )


def stage_parquet(table: pa.Table, path: str, files: int) -> list[str]:
    """Split ``table`` into ``files`` parquet files (one per trigger
    with ``maxFilesPerTrigger=1``); names sort in event order."""
    os.makedirs(path, exist_ok=True)
    out = []
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        out.append(f)
    return out


def jsonl_lines(table: pa.Table) -> list[str]:
    cols = table.to_pydict()
    names = list(cols)
    return [
        json.dumps(dict(zip(names, row)), separators=(",", ":"))
        for row in zip(*cols.values())
    ]


def write_spool_file(dir_: str, name: str, lines: list[str]) -> None:
    """Atomically publish one JSON-lines spool file (write + rename, as
    ``SpoolSource.push_messages`` does)."""
    tmp = os.path.join(dir_, f"_tmp_{name}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(dir_, name))


def stage_spool(table: pa.Table, dir_: str, files: int) -> None:
    os.makedirs(dir_, exist_ok=True)
    lines = jsonl_lines(table)
    bounds = np.linspace(0, len(lines), files + 1).astype(int)
    for i in range(files):
        write_spool_file(dir_, f"{i:06d}.jsonl", lines[bounds[i] : bounds[i + 1]])


def paced(
    seed: int,
    dir_: str,
    rate: int,
    tick_ms: int,
    ticks: int,
    t0_ms: int,
    report: str,
    users: int,
) -> None:
    """Open loop: at ``t0_ms + k*tick_ms`` publish tick ``k``'s events,
    each stamped with the time it was due. The schedule never waits on
    the system under test. Writes ``{"late_ms_max", "sent"}`` to
    ``report`` when done."""
    per_tick = rate * tick_ms // 1000
    table = make_events(seed, per_tick * ticks, users=users)
    late_max = 0.0
    for k in range(ticks):
        due = t0_ms + k * tick_ms
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        late_max = max(late_max, time.time() * 1000.0 - due)
        part = table.slice(k * per_tick, per_tick)
        part = part.set_column(
            part.schema.get_field_index("due_ms"),
            "due_ms",
            pa.array(np.full(per_tick, due, np.int64), pa.int64()),
        )
        write_spool_file(dir_, f"{k:06d}.jsonl", jsonl_lines(part))
    with open(report + ".tmp", "w") as fh:
        json.dump({"late_ms_max": late_max, "sent": per_tick * ticks}, fh)
    os.rename(report + ".tmp", report)


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description="open-loop spool generator")
    ap.add_argument("mode", choices=["paced"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--tick-ms", type=int, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--t0-ms", type=int, required=True)
    ap.add_argument("--users", type=int, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args(argv)
    paced(a.seed, a.dir, a.rate, a.tick_ms, a.ticks, a.t0_ms, a.report, a.users)


if __name__ == "__main__":
    main(sys.argv[1:])
