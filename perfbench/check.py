"""Correctness check of one router drain, run outside the timed region.

Every generated event must appear exactly once across the batcher sinks
plus the DLQ and exactly once in the ack log. Poison events are acked
``failed`` and land in the DLQ; every other event is acked ``ok`` by, and
written to, the batcher its ``event_type`` routes to. Every chunk holds at
most its batcher's ``batch_size`` rows.

An event fails if any of that is false for it; an id in the outputs that
was never generated also counts as a failure. Reading uses pyarrow only,
so the check costs the system under test nothing.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.dataset as ds

import gen

OUTPUT_SINKS = ("billing", "default", "dlq")


@dataclass
class Outputs:
    ack: pd.DataFrame  # event_id, batch_id, outcome, batcher, batch_size
    placed: pd.DataFrame  # event_id, sink — one row per written event


@dataclass
class Result:
    attempted: int
    failed: int
    problems: Counter = field(default_factory=Counter)

    def merge(self, other: "Result") -> "Result":
        return Result(
            self.attempted + other.attempted,
            self.failed + other.failed,
            self.problems + other.problems,
        )


def _read(path: str, columns: list[str]) -> pd.DataFrame:
    if not os.path.isdir(path):
        return pd.DataFrame({c: [] for c in columns})
    return ds.dataset(path, format="parquet").to_table(columns=columns).to_pandas()


def load_outputs(dirs: dict[str, str]) -> Outputs:
    ack = _read(dirs["ack"], ["ack_data", "batch_id", "outcome", "batcher", "batch_size"])
    ack["event_id"] = ack.pop("ack_data").astype("int64")
    placed = pd.concat(
        [_read(dirs[s], ["event_id"]).assign(sink=s) for s in OUTPUT_SINKS],
        ignore_index=True,
    )
    return Outputs(ack=ack, placed=placed)


def expected_routes(events: pd.DataFrame) -> pd.DataFrame:
    """event_id, poison, route (the batcher a non-poison event goes to)."""
    return pd.DataFrame(
        {
            "event_id": events["event_id"].to_numpy(),
            "poison": (events["props"] == gen.POISON).to_numpy(),
            "route": events["event_type"]
            .isin(gen.BILLING_TYPES)
            .map({True: "billing", False: "default"})
            .to_numpy(),
        }
    )


def check(events: pd.DataFrame, out: Outputs, batch_sizes: dict[str, int]) -> Result:
    exp = expected_routes(events).set_index("event_id")
    bad: dict[str, pd.Index] = {}

    acks = out.ack
    n_ack = acks.groupby("event_id").size().reindex(exp.index, fill_value=0)
    bad["ack_lost"] = n_ack.index[n_ack == 0]
    bad["ack_duplicated"] = n_ack.index[n_ack > 1]
    one = acks[acks["event_id"].isin(n_ack.index[n_ack == 1])].set_index("event_id")
    e = exp.loc[one.index]
    want = e["poison"].map({True: "failed", False: "ok"})
    bad["ack_wrong_outcome"] = one.index[one["outcome"] != want]
    ok = ~e["poison"]
    bad["ack_misrouted"] = one.index[ok & (one["batcher"] != e["route"])]
    limit = one["batcher"].map(batch_sizes)
    oversize = (one["outcome"] == "ok") & ~(one["batch_size"] <= limit)
    bad["chunk_oversize"] = one.index[oversize]

    placed = out.placed
    n_out = placed.groupby("event_id").size().reindex(exp.index, fill_value=0)
    bad["output_lost"] = n_out.index[n_out == 0]
    bad["output_duplicated"] = n_out.index[n_out > 1]
    p1 = placed[placed["event_id"].isin(n_out.index[n_out == 1])].set_index("event_id")
    e1 = exp.loc[p1.index]
    want_sink = e1["route"].where(~e1["poison"], "dlq")
    bad["output_misplaced"] = p1.index[p1["sink"] != want_sink]

    failed_ids = set().union(*bad.values())
    extra = set(acks["event_id"]).union(placed["event_id"]) - set(exp.index)
    problems = Counter({k: len(v) for k, v in bad.items() if len(v)})
    if extra:
        problems["unexpected_id"] = len(extra)
    return Result(len(exp), len(failed_ids) + len(extra), problems)
