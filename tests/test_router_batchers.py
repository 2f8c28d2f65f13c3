"""The router chunks every batcher in one keyed pass: each batcher's
chunks, batch sizes and trigger labels must equal what ``chunk_by_size``
/ ``chunk_by_budget`` give on that batcher's rows alone, ``handle_batch``
must run once per (batcher, batch_key, chunk) with the right batcher
name, and the batcher branch must shuffle once however many batchers
the topology has."""

import uuid

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from broadway_spark import message as M
from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig
from broadway_spark.operators.batching import chunk_by_budget, chunk_by_size
from broadway_spark.streaming import router as R

from .conftest import EVENTS_DDL, make_events

BATCHERS = {
    "small": BatcherConfig(batch_size=3),
    "mid": BatcherConfig(batch_size=5),
    "budget": BatcherConfig(batch_size=("value", 10.0)),
}


def _batch(spark, n: int, names):
    """n events spread over ``names`` by event_id, keyed by user_id,
    with every 11th event in flush mode."""
    df = spark.createDataFrame(make_events(n), EVENTS_DDL)
    df = M.normalize(
        df,
        source_name="t",
        ack_ref="t#mixed",
        ack_data=F.col("event_id").cast("string"),
    )
    route = F.element_at(
        F.array(*[F.lit(x) for x in names]),
        (F.col("event_id") % len(names) + 1).cast("int"),
    )
    df = M.put_batcher(df, route)
    df = M.put_batch_key(df, F.col("user_id"))
    return M.put_batch_mode(df, "flush", F.col("event_id") % 11 == 0)


def _tag_calls(name, pdf):
    """handle_batch that stamps each row with the batcher name it was
    called with, its chunk id and a token unique to this call."""
    pdf["props"] = f"{name}|{int(pdf['chunk_id'].iat[0])}|{uuid.uuid4().hex}"
    return pdf


def _config(tmp_path, batchers, hook=None):
    return TopologyConfig(
        name="mixed",
        order_by="event_id",
        # _batch already routed every row; route_by only names that
        route_by=F.col("batcher"),
        batchers=batchers,
        sinks={n: SinkConfig(path=str(tmp_path / n)) for n in batchers},
        ack_log=SinkConfig(path=str(tmp_path / "ack")),
        handle_batch=hook,
    ).validate()


def _reference(batch, name, bcfg) -> pd.DataFrame:
    """The batcher's rows chunked on their own, labelled the way the
    router labels them."""
    sub = batch.filter(F.col("batcher") == name)
    if isinstance(bcfg.batch_size, tuple):
        weight_col, budget = bcfg.batch_size
        chunked = chunk_by_budget(sub, ["batch_key"], "event_id", weight_col, budget)
        size = None
    else:
        chunked = chunk_by_size(sub, ["batch_key"], "event_id", bcfg.batch_size)
        size = bcfg.batch_size
    n = F.count(F.lit(1)).over(Window.partitionBy("batch_key", "chunk_id"))
    chunked = chunked.withColumn("batch_size", n.cast("int"))
    trigger = F.when(F.col("batch_mode") == "flush", "flush")
    if size is not None:
        trigger = trigger.when(F.col("batch_size") == size, "size")
    return (
        chunked.withColumn("trigger", trigger.otherwise("timeout"))
        .select("event_id", "batch_key", "chunk_id", "batch_size", "trigger")
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )


def test_mixed_batchers_match_per_batcher_chunking(spark, tmp_path):
    cfg = _config(tmp_path, BATCHERS, hook=_tag_calls)
    batch = _batch(spark, 300, list(BATCHERS)).persist()
    R.build_router(cfg)(batch, 0)

    ack = spark.read.parquet(str(tmp_path / "ack")).toPandas()
    ack["event_id"] = ack["ack_data"].astype("int64")
    assert len(ack) == 300 and ack["event_id"].is_unique
    assert (ack["outcome"] == "ok").all()

    for name, bcfg in BATCHERS.items():
        want = _reference(batch, name, bcfg)
        got_ack = ack[ack["batcher"] == name].set_index("event_id").sort_index()
        assert list(got_ack.index) == list(want.index)
        assert list(got_ack["batch_size"]) == list(want["batch_size"])
        assert list(got_ack["trigger"]) == list(want["trigger"])
        if isinstance(bcfg.batch_size, int):
            assert want["batch_size"].max() <= bcfg.batch_size
            assert {"size", "timeout", "flush"} <= set(want["trigger"])

        sink = (
            spark.read.parquet(str(tmp_path / name))
            .select("event_id", "batcher", "props")
            .toPandas()
            .set_index("event_id")
            .sort_index()
        )
        assert list(sink.index) == list(want.index)
        called = sink["props"].str.split("|", expand=True)
        called.columns = ["name", "chunk_id", "call"]
        # the hook was handed this batcher's name for every one of its rows
        assert (called["name"] == name).all()
        assert (sink["batcher"] == name).all()
        assert list(called["chunk_id"].astype("int64")) == list(want["chunk_id"])
        # one call per (batch_key, chunk): the call tokens partition the
        # rows exactly as the reference chunks do
        by_call = {frozenset(g.index) for _, g in called.groupby("call")}
        by_chunk = {
            frozenset(g.index) for _, g in want.groupby(["batch_key", "chunk_id"])
        }
        assert by_call == by_chunk
    batch.unpersist()


def _batcher_plan(spark, tmp_path, monkeypatch, names):
    """The physical plan of the frame the router persists for its
    batchers (hook output), captured before it runs."""
    batchers = {n: BatcherConfig(batch_size=4) for n in names}
    cfg = _config(tmp_path, batchers, hook=lambda name, pdf: pdf)
    plans = []
    real_runner = R.apply_per_batch_local

    def spy(*a, **k):
        out = real_runner(*a, **k)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(R, "apply_per_batch_local", spy)
    R.build_router(cfg)(_batch(spark, 120, names), 0)
    assert len(plans) == 1  # one hook pass for all batchers
    return plans[0]


def test_batcher_branch_shuffles_once(spark, tmp_path, monkeypatch):
    for names in (["a"], ["a", "b", "c"]):
        plan = _batcher_plan(spark, tmp_path / str(len(names)), monkeypatch, names)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Exchange") == 1, plan
