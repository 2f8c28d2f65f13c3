"""The topology every router workload runs, and helpers to drive it.

The topology is the full Broadway shape through the public API:
``handle_message`` fails poison events (they go to the DLQ), ``route_by``
sends purchase/refund events to the ``billing`` batcher and the rest to
``default``, ``batch_key`` is ``user_id % 64``, size chunking uses batch
sizes 64 and 256, each batcher runs a pandas ``handle_batch``, and an
ack log records every outcome.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import functions as F

from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig
from broadway_spark.operators.failure import with_status

import gen

BATCH_SIZES = {"billing": 64, "default": 256}
KEY_MOD = 64
SINKS = ("billing", "default", "dlq", "ack")


def handle_batch(batcher: str, pdf):
    """The benchmark's handle_batch: light pandas work on every row,
    returning every message it received (the hook contract)."""
    pdf["value"] = pdf["value"].round(2)
    return pdf


def counted_hook(calls, rows, ms, spans):
    """``handle_batch`` that also counts itself with accumulators and
    records one span per call. Only the traced phase uses it."""

    def hook(batcher: str, pdf):
        t0 = time.time()
        out = handle_batch(batcher, pdf)
        t1 = time.time()
        calls.add(1)
        rows.add(len(pdf))
        ms.add((t1 - t0) * 1000.0)
        spans.add([("handle_batch", t0, t1, batcher, len(pdf))])
        return out

    return hook


def out_dirs(base: str) -> dict[str, str]:
    return {k: os.path.join(base, k) for k in (*SINKS, "ckpt")}


def router_config(name: str, base: str, hook=handle_batch) -> TopologyConfig:
    d = out_dirs(base)
    return TopologyConfig(
        name=name,
        order_by="event_id",
        handle_message=lambda df: with_status(
            df, F.col("props") == gen.POISON, "poison event", "handle_message"
        ),
        route_by=F.when(
            F.col("event_type").isin(*gen.BILLING_TYPES), F.lit("billing")
        ),
        batch_key_by=F.col("user_id") % KEY_MOD,
        batchers={n: BatcherConfig(batch_size=s) for n, s in BATCH_SIZES.items()},
        sinks={n: SinkConfig(path=d[n]) for n in BATCH_SIZES},
        dlq=SinkConfig(path=d["dlq"]),
        ack_log=SinkConfig(path=d["ack"]),
        checkpoint_dir=d["ckpt"],
        handle_batch=hook,
    )


def progress_list(query) -> list[dict]:
    """The query's retained ``StreamingQueryProgress`` entries as dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def commit_ms(progress: list[dict]) -> dict[int, float]:
    """batch_id -> commit time: progress ``timestamp`` (trigger start)
    plus ``durationMs.triggerExecution``."""
    return {
        p["batchId"]: epoch_ms(p["timestamp"])
        + p["durationMs"].get("triggerExecution", 0)
        for p in progress
        if p.get("numInputRows", 0) > 0
    }


@dataclass
class Drain:
    """One pipeline run over a fixed input: timings and progress."""

    base: str
    rows: int
    t_start: float  # wall clock just before Pipeline.start()
    start_s: float  # the Pipeline.start() call itself
    end_s: float  # start() until the last batch is committed
    progress: list[dict] = field(default_factory=list)


def wait_for_rows(query, rows: int, deadline: float, poll_s: float = 0.05) -> None:
    """Block until the query's committed micro-batches hold ``rows`` input
    rows; raise if the deadline passes or the query dies."""
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"query failed: {query.exception()}")
        got = sum(p.numInputRows for p in query.recentProgress)
        if got >= rows:
            return
        if time.time() > deadline:
            raise TimeoutError(f"only {got} of {rows} rows committed in time")
        time.sleep(poll_s)
