"""Frontier operators: deterministic global rank and wave selection.

Reference analogs: Push/Jobs of the memory provider
(/root/reference/adapters/providers/memory/memory.go:29-98) — strict priority
0>1>2 with FIFO within a level — re-expressed as sorts over a frontier table.

Scale notes (the parts a naive port gets wrong at 10^10 rows):
  * Global rank is NEVER a single-partition window. Every rank here is one
    algorithm, `_offset_rank`: rank within each partition, then add the
    prefix-summed counts of the partitions before it (a tiny aggregate,
    broadcast back). The public names differ only in how a row gets its
    partition id `_pid`: range partitioning (`with_inspark_rank`,
    `ranked_within`, datapipe.sampling.scan_cumsum) or a caller-supplied
    order-preserving bucket (`with_inspark_rank_bucketed`).
  * `monotonically_increasing_id` is banned — it depends on partition layout,
    so a retried stage could renumber the frontier (SURVEY.md §7.5.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark import constants as C

ORDER_COLS = ("priority", "seq")


def normalize_priority(col):
    """memory.go:78-87: unknown priority routes to the high channel (0)."""
    return F.when(col.isin(*C.KNOWN_PRIORITIES), col).otherwise(
        F.lit(C.PRIORITY_HIGH)
    ).cast("int")


def _n_parts(df: DataFrame, n_parts: int | None) -> int:
    if n_parts is None:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return n_parts


def _range_parted(df: DataFrame, cols, n_parts: int | None) -> DataFrame:
    """Range-partition on `cols`; `_pid` is the physical partition index, so
    partition order is key order."""
    return df.repartitionByRange(_n_parts(df, n_parts), *cols).withColumn(
        "_pid", F.spark_partition_id()
    )


def _offset_rank(
    parted: DataFrame,
    order,
    out_col: str,
    *,
    groups=(),
    lead=(),
    value=None,
    materialize=None,
) -> DataFrame:
    """The one distributed-rank algorithm: a running count — or, with
    `value`, a running sum of that column — in (lead, _pid, order) order
    within each `groups` value, without a window over the whole frame.

    `parted` carries `_pid`, which must be monotone in that order within
    each (groups, lead) value: every row of `_pid` p sorts before every row
    of p+1. Then

      _rn  = running count/sum within (_pid, groups, lead), ordered by `order`
      _off = per-(_pid, groups, lead) totals, prefix-summed in (lead, _pid)
             order within each `groups` value — a window over an aggregate
             of at most n_parts rows per (groups, lead) value
      out  = _rn + _off, the offsets broadcast-joined back.

    Fully lazy, no driver action. `parted` feeds both the offsets aggregate
    and the join, so it is cut once: by `materialize` when given, else by
    .persist() (released by datapipe.release_caches). The engine passes its
    RDD-leaf cut (engine._cut_lazy): the self-join makes the analyzer
    rewrite the offsets side's attribute ids, after which the cache manager
    no longer matches a persisted plan there and that side recomputes the
    upstream; an RDD leaf survives the rewrite, and the context cleaner
    frees it once the caller drops the frame."""
    keys = ["_pid", *groups, *lead]
    w = Window.partitionBy(*keys).orderBy(*order)
    if value is None:
        running, total = F.row_number().over(w), F.count("*")
    else:
        running = F.sum(value).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        total = F.sum(value)
    parted = parted.withColumn("_rn", running)
    parted = materialize(parted) if materialize is not None else parted.persist()
    offsets = (
        parted.groupBy(*keys)
        .agg(total.alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.partitionBy(*groups)
                    .orderBy(*lead, "_pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("_n")
    )
    return (
        parted.join(F.broadcast(offsets), keys)
        .withColumn(out_col, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def with_inspark_rank(
    df: DataFrame,
    order_cols=ORDER_COLS,
    rank_col: str = "rank",
    n_parts: int | None = None,
    materialize=None,
) -> DataFrame:
    """1-based global rank by `order_cols`: `_offset_rank` over a range
    partitioning on `order_cols`. One lazy plan, so it fuses into whichever
    downstream action consumes it. `materialize`: see `_offset_rank`."""
    return _offset_rank(
        _range_parted(df, order_cols, n_parts),
        order_cols,
        rank_col,
        materialize=materialize,
    )


def with_inspark_rank_bucketed(
    df: DataFrame,
    bucket_col,
    rank_col: str = "rank",
    n_parts: int | None = None,
    materialize=None,
) -> DataFrame:
    """Global (priority, seq) rank in ONE explicit hash exchange, no sampling.

    `with_inspark_rank` pays, per call: the range-bounds sampling job that
    `repartitionByRange` hides, the range exchange itself, AND a second full
    exchange because the rank window's required hashpartitioning(_pid) does
    not match rangepartitioning. Here the caller supplies `bucket_col` — a
    pure row function that must be MONOTONE NON-DECREASING in `seq` within
    each priority value (the engine derives one from its driver-tracked seq
    watermarks; any clamped linear map of seq qualifies) — as `_pid`, and
    `_offset_rank` runs with `lead=("priority",)`: offsets prefix-sum in
    (priority, _pid) order, correct because bucket monotonicity in seq
    within a priority means every row of (p, b) sorts before every row of
    (p, b+1), and priority-major order handles the rest.

    One exchange total; the window, the count aggregate, and the join all
    ride it. Deterministic under stage retry (the bucket is a row function;
    re-sampled range bounds are not). Balance comes from the caller's bucket
    map, not from sampling — the engine's seq-space map is near-uniform for
    a FIFO-draining frontier and degrades only by crowding stragglers into
    bucket 0 (clamped), never by breaking order.
    """
    parted = df.withColumn("_pid", bucket_col).repartition(
        _n_parts(df, n_parts), "_pid"
    )
    return _offset_rank(
        parted, ("seq",), rank_col, lead=("priority",), materialize=materialize
    )


def ranked_within(
    df: DataFrame, part_cols, order_cols, rank_col: str = "rank", n_parts: int | None = None
) -> DataFrame:
    """row_number() within `part_cols` WITHOUT funnelling each group through
    one task. A plain Window.partitionBy(priority) with 3 priority values is
    three single-task sorts of N/3 rows — at 100× one executor sorts 10^9
    rows. Here: `_offset_rank` with `groups=part_cols` over a range
    partitioning on (part_cols, order_cols) — all lazy, no driver action."""
    return _offset_rank(
        _range_parted(df, [*part_cols, *order_cols], n_parts),
        order_cols,
        rank_col,
        groups=part_cols,
    )


def select_wave(
    eligible_polite: DataFrame, wave_budget: int, seq_bucket=None, materialize=None
) -> DataFrame:
    """Global budget: top-`wave_budget` by (priority, seq) = strict priority
    with FIFO inside each level (the nested-select semantics of memory.go:37-64).

    Rank first (scalably, lazily), then filter — when the budget is not
    binding this is just the rank projection. The returned frame carries
    `rank`, the wave's crawl-order position (used by goldens + child seq
    assignment). Fully lazy: the wave's selected-count falls out of the
    fetch-outcome aggregate instead of a dedicated action.

    `seq_bucket`: optional pure-row bucket column, monotone in seq within
    each priority (the engine passes one derived from its seq watermarks) —
    routes through `with_inspark_rank_bucketed`, saving the range-sampling
    job and one of the two exchanges the range-partitioned rank pays."""
    if seq_bucket is not None:
        ranked = with_inspark_rank_bucketed(
            eligible_polite, seq_bucket, "rank", materialize=materialize
        )
    else:
        ranked = with_inspark_rank(
            eligible_polite, ORDER_COLS, "rank", materialize=materialize
        )
    return ranked.filter(F.col("rank") <= wave_budget)
