"""Batch assembly: group rows into bounded batches by key + size/budget.

Broadway's batcher stage accumulates per ``batch_key`` and emits when a
size or budget threshold is reached (reference
``lib/broadway/topology/batcher_stage.ex:108-221``; custom splitter
``lib/broadway/options.ex:233-264``). The batch-relational translation:

- size batching  → ``floor((row_number() - 1) / batch_size)`` per key
- budget batching → exclusive running sum of a weight, integer-divided
  by the budget (a row opens a new chunk once the previous rows have
  consumed a full budget multiple)

Both are single window functions over ``(key, order)`` — one shuffle on
the batch key, then linear per-partition work; skewed keys are the only
scale hazard (same caveat the reference documents for partition_by,
``lib/broadway.ex:579-597``) and AQE skew handling applies. For
LOW-cardinality keys the per-key window itself becomes the funnel —
``chunk_by_budget_distributed`` composes the running sum across range
blocks (prefix sums are associative) so no stage's parallelism is
bounded by the key domain.

``apply_per_batch`` is the ``handle_batch/4`` analogue
(``lib/broadway.ex:1001-1029``): one pandas DataFrame per materialized
batch via Arrow-vectorized ``applyInPandas``. ``apply_per_batch_streamed``
keeps that contract with one Python entry per Arrow chunk;
``apply_per_batch_local`` is its runner alone, for input already
partitioned by the group key (the router's chunked frame).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize, shuffle_partitions

CHUNK_COL = "chunk_id"


def chunk_by_size(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    batch_size: int = 100,
) -> DataFrame:
    """Assign ``chunk_id`` so each (key, chunk) has ≤ batch_size rows.

    Default size 100 mirrors the reference default
    (``lib/broadway/options.ex:233-237``).
    """
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return df.withColumn(
        CHUNK_COL,
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(batch_size)),
    )


def chunk_by_budget(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    weight_col: str,
    budget: float,
) -> DataFrame:
    """Assign ``chunk_id`` by a cumulative weight budget per key.

    The batch analogue of the ``{init_acc, fun}`` custom splitter
    (``options.ex:233-264``): a row belongs to chunk
    ``floor(prefix_weight_before_row / budget)``. The exclusive prefix
    sum is the inclusive running sum minus the row's own weight —
    deterministic given a total order within the key.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(weight_col)).over(w)
    return df.withColumn(
        CHUNK_COL, F.floor((cum - F.col(weight_col)) / F.lit(budget))
    )


def running_sums_distributed(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str | Column] | str | Column,
    values: dict[str, Column],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact per-key INCLUSIVE running sums over a total order without
    the per-key sequential funnel.

    ``sum(x) OVER (PARTITION BY key ORDER BY ord ROWS UNBOUNDED
    PRECEDING)`` flows each key's ENTIRE stream through one task —
    correct, but parallelism is bounded by the key domain: two media
    types or a handful of languages means the whole corpus funnels
    through |keys| tasks, the same single-task failure mode as an
    un-partitioned window, hidden behind a non-empty partition spec.
    Prefix sums are associative, so the stream composes across range
    blocks exactly — the ``operators/ranking.global_rank`` trick
    applied to running aggregates:

    1. ``repartitionByRange`` on ``(key..., order...)`` — every
       partition holds a contiguous slice of each key's ordered
       stream (a key's rows span a contiguous run of partition ids),
    2. per-``(partition, key)`` block sums — a tiny aggregate:
       ≤ ``K + P − 1`` rows total (each key adds its partition span),
    3. exclusive per-key prefix over the blocks in partition-id order
       (a window over ≤ P rows per key) → each block's starting
       offset into its key's global running sum,
    4. broadcast the offsets back; the running sum WITHIN a block is
       a window partitioned by ``(partition_id, key)`` — one range
       partition per task, never one key per task,
    5. out = offset + local running sum — bit-identical to the
       sequential window because integer addition never reassociates.

    ``values`` maps output column name → the numeric expression to
    sum. Exactness requires exact-arithmetic types (LONG / DECIMAL —
    byte sizes, token counts, ``F.lit(1)`` for row_number; float
    would reassociate across blocks) and a strict total order:
    ``order_cols`` must be unique within a key, same contract as
    ``ranking.global_rank``. Note ``row_number() == running sum of
    1`` and ``rank/ntile/percent cutoffs`` all derive from these
    sums, so this is the one primitive the low-cardinality rewrites
    need. The offsets relation is ``K + P − 1`` rows — broadcast by
    construction for the low-cardinality keys this variant exists
    for; at very high K the plain per-key window already distributes
    and should be used instead.

    Scale shape: one range shuffle of the full input, one tiny
    aggregate + window, one broadcast hash join, one per-partition
    window. No stage's parallelism is bounded by the key domain.

    NULL keys are first-class: groupBy/window/range-partitioner all
    place NULLs in one group, and the offsets join back with
    null-safe equality (``<=>``), so a NULL-keyed stream gets the
    same running sums the sequential window would give it.

    Lifecycle: the ranged frame is pinned via ``materialize`` (one
    cached frame per call under the default ``persist`` strategy).
    Long-lived sessions must call ``materialize.release_all()``
    between queries — the suite drivers (bench/selfcheck/gate) do —
    or set ``spark.broadway.materialize.strategy=staging`` to stage
    through parquet with no cache pinning.
    """
    if isinstance(order_cols, (str, Column)):
        order_cols = [order_cols]
    key_cols = list(key_cols)
    # order entries may be Columns carrying sort direction (.desc());
    # the SAME expressions drive the range partitioner and the local
    # window, so block order and within-block order always agree
    order_cols = [
        F.col(c) if isinstance(c, str) else c for c in order_cols
    ]
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = shuffle_partitions(spark)
    sort_cols = [*(F.col(c) for c in key_cols), *order_cols]
    ranged = df.repartitionByRange(num_partitions, *sort_cols).withColumn(
        "__cb_pid", F.spark_partition_id()
    )
    # Barrier: freeze the sampled range-partitioner's pid assignment
    # before the two consumers (block sums + the final join) fan out.
    ranged = materialize(ranged, "running_sums")
    blocks = ranged.groupBy("__cb_pid", *key_cols).agg(
        *[F.sum(expr).alias(f"__cb_w_{n}") for n, expr in values.items()]
    )
    w_off = (
        Window.partitionBy(*key_cols)
        .orderBy("__cb_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = blocks.select(
        "__cb_pid",
        *key_cols,
        *[
            F.coalesce(
                F.sum(f"__cb_w_{n}").over(w_off),
                F.lit(0).cast("long"),
            ).alias(f"__cb_off_{n}")
            for n in values
        ],
    )
    w_local = (
        Window.partitionBy("__cb_pid", *key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Null-safe equality on the key cols: a plain equi-join would drop
    # NULL-keyed rows, diverging from the per-key window (which puts
    # NULLs in one partition). <=> is still an equi-join key, so the
    # broadcast hash strategy is unchanged.
    off_alias = offsets.select(
        F.col("__cb_pid").alias("__cb_o_pid"),
        *[F.col(k).alias(f"__cb_k_{i}") for i, k in enumerate(key_cols)],
        *[F.col(f"__cb_off_{n}") for n in values],
    )
    cond = F.col("__cb_pid") == F.col("__cb_o_pid")
    for i, k in enumerate(key_cols):
        cond = cond & F.col(k).eqNullSafe(F.col(f"__cb_k_{i}"))
    out = ranged.join(F.broadcast(off_alias), cond).drop(
        "__cb_o_pid", *[f"__cb_k_{i}" for i in range(len(key_cols))]
    )
    for n, expr in values.items():
        out = out.withColumn(
            n, F.col(f"__cb_off_{n}") + F.sum(expr).over(w_local)
        )
    return out.drop(
        "__cb_pid", *[f"__cb_off_{n}" for n in values]
    )


def chunk_by_budget_distributed(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str | Column] | str | Column,
    weight_col: str,
    budget: float,
    num_partitions: int | None = None,
) -> DataFrame:
    """``chunk_by_budget`` on the distributed prefix-sum core
    (``running_sums_distributed``): ``chunk_id = floor((inclusive_sum
    − weight) / budget)`` — bit-identical to the sequential formula
    because the composed inclusive prefix IS the sequential running
    sum (long integer addition, no float reassociation), with no
    stage's parallelism bounded by the key domain. Weights must be
    integral (byte sizes, token counts)."""
    summed = running_sums_distributed(
        df,
        key_cols,
        order_cols,
        {"__cb_sum": F.col(weight_col).cast("long")},
        num_partitions=num_partitions,
    )
    return summed.withColumn(
        CHUNK_COL,
        F.floor(
            (F.col("__cb_sum") - F.col(weight_col)) / F.lit(budget)
        ),
    ).drop("__cb_sum")


def apply_per_batch(
    df: DataFrame,
    key_cols: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Run ``fn`` once per materialized batch (the handle_batch hook).

    Spark guarantees one group → one task, so per-batch code sees the
    whole batch exactly once, like the reference's batch processor
    (``batch_processor_stage.ex:52-127``). ``fn`` gets and returns a
    pandas DataFrame; exchange is Arrow-batched.
    """
    return df.groupBy(*key_cols).applyInPandas(fn, schema=schema)


def apply_per_batch_streamed(
    df: DataFrame,
    key_cols: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """``apply_per_batch`` without the per-group dispatch tax.

    ``applyInPandas`` makes one Python roundtrip per GROUP — at
    millions of small batch keys the fixed ~ms cost per group dwarfs
    the work (measured 14× over the JVM equivalent at 1500 groups).
    Here rows are hash-repartitioned by key and handed to
    ``apply_per_batch_local``, which streams each partition through
    ``mapInPandas`` as large Arrow chunks. ``fn`` still sees exactly
    one complete pandas DataFrame per batch — the handle_batch contract
    is unchanged — but Python is entered once per Arrow chunk, not once
    per key.
    """
    key_cols = list(key_cols)
    n = num_partitions or shuffle_partitions(df.sparkSession)
    return apply_per_batch_local(
        df.repartition(n, *key_cols), key_cols, fn, schema
    )


def apply_per_batch_local(
    df: DataFrame,
    key_cols: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """The group-cut runner behind ``apply_per_batch_streamed``, for
    input whose groups each already sit inside one partition (e.g. the
    output of a window or repartition keyed by a prefix of
    ``key_cols``) — no exchange is added.

    Each partition is sorted by key and streams through ``mapInPandas``;
    group boundaries are cut client-side (a group's rows are contiguous
    after the sort, and the chunk tail holding a possibly-unfinished
    group is carried into the next chunk). A group split across
    partitions would reach ``fn`` once per partition.

    Memory bound: one Arrow chunk + one in-flight group per task, same
    order as applyInPandas's largest-group bound. Keys must be
    non-null (the envelope's batch_key defaults to 'default'; NaN
    equality would mis-cut the carry tail).
    """
    key_cols = list(key_cols)
    parted = df.sortWithinPartitions(*key_cols)

    def runner(chunks):
        carry: pd.DataFrame | None = None

        def run_groups(pdf: pd.DataFrame):
            outs = [
                fn(g.reset_index(drop=True))
                for _, g in pdf.groupby(key_cols, sort=False, dropna=False)
            ]
            return pd.concat(outs, ignore_index=True) if outs else None

        for pdf in chunks:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # Rows are key-sorted: the final key's rows are a suffix.
            last = pdf[key_cols].iloc[-1]
            tail_mask = (pdf[key_cols] == last.values).all(axis=1)
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            out = run_groups(head)
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = run_groups(carry)
            if out is not None:
                yield out

    return parted.mapInPandas(runner, schema=schema)
