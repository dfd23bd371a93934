"""Exact distributed quantiles WITHOUT a per-group corpus-scale sort
buffer — r10 re-plan of the exact-quantile family (claw-back of the r9
hardening's constant factor, VERDICT r9 list #3).

``F.percentile`` / a rank window partitioned by a bounded-cardinality
key both accumulate ~|corpus|/|groups| values in one task. But a
quantile only needs the one or two straddling ORDER STATISTICS, and an
order statistic is rank-selectable from counts. The r10 shape exploits
what the r8/r9 plans did not: the fine-cell statistics frame is
BOUNDED and already contains every count needed to locate each
target's owning cell — so no second corpus-scale aggregate (the r9
per-bucket count pass) is needed at all:

1. ONE row-pass aggregate computes (count, min, max) of the signed-log
   grid key per occupied fine cell (the same fixed two-level grid as
   ``operators/rank.py:with_bucket_id`` — outlier-immune by
   construction, equal values always share a cell);
2. every target rank's OWNING FINE CELL falls out of a cumulative
   window over that bounded frame alone (grid order is monotone in the
   value): ``off < rk <= off + cnt``. The targets frame is
   <= 2*|qs| rows per group — broadcast by construction;
3. ONE probe pass joins rows to the broadcast targets on the cell id —
   only owning-cell rows survive the join — and aggregates the
   per-(target, sub-cell, value) histogram, where the sub-cell id is
   the capped min/max-snapped equi-width split of over-cap cells
   (rank.py's level-3 refinement, evaluated inline: ``_m``/``_x`` ride
   the broadcast). A point mass collapses to one histogram row, so
   value skew makes this CHEAPER;
4. the straddling order statistic is picked by two bounded cumulative
   steps: sub-cell totals (an aggregate of the histogram;
   <= 2*|qs|*(B+1) rows per group) locate each target's owning
   SUB-cell and its base offset, and a per-(target, sub-cell) value
   window — a task bounded by the distinct values of ONE sub-cell, the
   same bound the r9 plan carried — yields the value at the target
   rank.

Plan economics vs r9 (measured at sf0.1): the r9 shape computed the
row+plan join twice (once for bucketed rows, once for the per-bucket
count aggregate) — four source scans and a corpus-scale hash-aggregate;
this shape scans the source for the stats pass and the probe pass,
with every other frame bounded. r17 (guide §5): when a ``ckpt_scope``
is given, the two BOUNDED decision frames (targets, owning-cell
histogram) are eagerly materialized once per run, so the probe and
pick plans read LogicalRDD leaves instead of re-embedding the
stats/probe subtrees the analyzer otherwise resolves per consumer
(an r16 fusion attempt without materialization measured flat — the
tree, not the op count, was the cost; an r17 attempt that
materialized the per-VALUE histogram to save the second scan paid a
corpus-scale shuffle on near-distinct values and measured 1.3-1.7x
worse). Honest residual, same class as rank.py's documented one: a
sub-resolution value cluster sharing a fine cell with a straggler
keeps a straggler-pinned span, so one sub-cell's histogram can stay
large — one fat (parallel-peer) window task per affected target,
never a wrong quantile.

``mode="disc"`` selects the value at rank ``ceil(q*n)``
(PERCENTILE_DISC); ``mode="cont"`` selects both straddles of position
``q*(n-1)`` for ANSI PERCENTILE_CONT interpolation. Selected values
keep their ORIGINAL type (DECIMAL stays DECIMAL); only the
interpolation arithmetic is double.

Caller contract: value non-null; ``group_cols`` bounded cardinality
(the stats and target frames are broadcast).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W, functions as F

from ..ckpt import checkpoint
from ..partitioning import shuffle_width
from .rank import _GRID_SHIFT, _clamped_width_bucket, _log_key

def _target_structs(named_qs: Sequence[tuple[str, float]],
                    mode: str) -> list:
    """Per requested quantile, struct(tag, 1-based target rank expr)
    evaluated against a frame carrying the group total ``_n``."""
    structs = []
    for name, q in named_qs:
        if mode == "cont":
            pos = F.lit(q) * (F.col("_n") - 1)  # 0-based position
            structs += [
                F.struct(F.lit(f"{name}/lo").alias("_tag"),
                         (F.floor(pos) + 1).cast("bigint").alias("_rk")),
                F.struct(F.lit(f"{name}/hi").alias("_tag"),
                         (F.ceil(pos) + 1).cast("bigint").alias("_rk"))]
        else:
            structs.append(F.struct(
                F.lit(name).alias("_tag"),
                F.greatest(F.ceil(F.lit(q) * F.col("_n")), F.lit(1))
                .cast("bigint").alias("_rk")))
    return structs


def grouped_order_statistics(df: DataFrame, group_cols: Sequence[str],
                             value_col: str,
                             named_qs: Sequence[tuple[str, float]], *,
                             mode: str = "cont",
                             num_buckets: int | None = None,
                             fine_cells: int = 1024,
                             weight_col: str | None = None,
                             ckpt_scope: str | None = None) -> DataFrame:
    """Long frame ``(group_cols..., _tag, _v, _n)``: for each group and
    each requested quantile, the straddling order statistic(s) of
    ``value_col`` (original type) plus the group row count.

    ``weight_col`` (r12): an integer multiplicity per row — ranks are
    computed over the EXPANDED multiset (a row with weight w counts as
    w copies), so a pre-aggregated (value, count) histogram yields the
    same order statistics as its underlying rows without re-scanning
    them.

    r17 (guide §5, the quality_gate move applied family-wide): the two
    BOUNDED decision frames — the per-target owning-cell frame ``t2``
    and the per-(target, sub-cell, value) histogram ``vh`` — are
    eagerly materialized (localCheckpoint) once per run. Both are
    broadcast-sized by construction, so the materialization is free at
    any scale, and it truncates the self-referential tree the analyzer
    otherwise resolves per consumer: without it the probe plan embeds
    the whole stats+window subtree as its broadcast side, and the
    histogram subtree (probe scan + join + aggregate) is embedded
    TWICE (sub-cell totals and the final pick). The source is still
    scanned exactly twice (stats pass, probe pass) — an r16 experiment
    that put the PER-VALUE histogram through the materialization
    instead collapsed the scans to one but paid a corpus-scale shuffle
    + checkpoint on near-distinct value columns, measured 1.3-1.7x
    WORSE at sf0.1 (OPTIMIZATION_r17.md). Values are unchanged by
    materialization, so results are identical. ``ckpt_scope``
    (registry key) opts in to deterministic release of superseded
    checkpoint blocks (ckpt.checkpoint's ``scope`` + ckpt.adopt); on a
    long-lived cluster swap localCheckpoint for a durable
    ckpt.checkpoint / persisted table (same caveat and escape as
    quality_gate and the CC loop);
    pass ``ckpt_scope=None`` for the fully lazy r10 plan."""
    spark = df.sparkSession
    g = list(group_cols)
    B = num_buckets or shuffle_width(spark)  # host-independent grid literal
    K = fine_cells
    t = _log_key(value_col, False)
    c1 = (F.floor(t) + _GRID_SHIFT).cast("int")
    # clamped exactly like rank.py: frac(t) rounds to 1.0 for tiny
    # negative t (ADVICE r9), and the grid must stay monotone
    c2 = F.least(F.floor((t - F.floor(t)) * K),
                 F.lit(K - 1)).cast("int")
    base = df.select(*g, value_col) if weight_col is None \
        else df.select(*g, value_col, weight_col)
    # count-vs-weighted-sum gate keeps the unweighted expression tree
    # byte-identical (weights are integer multiplicities, so the rank
    # arithmetic downstream stays exact either way)
    _cnt_of = (lambda: F.count(F.lit(1))) if weight_col is None \
        else (lambda: F.sum(F.col(weight_col).cast("bigint")))
    # the ONE row-pass stats aggregate (exact, order-independent:
    # count/min/max only); map-side partials bound the shuffle
    s = (base.withColumn("_c1", c1).withColumn("_c2", c2)
         .groupBy(*g, "_c1", "_c2")
         .agg(_cnt_of().alias("_cnt"),
              F.min(t).alias("_m"), F.max(t).alias("_x")))
    # cumulative rank offsets + group totals over the BOUNDED stats
    # frame only — grid order (_c1, _c2) is monotone in the value
    wc = (W.partitionBy(*g) if g else W.partitionBy()) \
        .orderBy("_c1", "_c2")
    s2 = s.select(
        *g, "_c1", "_c2", "_cnt", "_m", "_x",
        F.coalesce(F.sum("_cnt").over(
            wc.rowsBetween(W.unboundedPreceding, -1)), F.lit(0))
        .alias("_off"),
        F.sum("_cnt").over(
            wc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("_n"))
    # owning fine cell per target rank: the targets explode off the
    # SAME bounded rows that carry the spans — no row pass, no second
    # count subtree. _split flags over-cap cells for the row-side
    # min/max-snapped refinement (a point mass is unsplittable).
    cap = F.greatest(F.ceil(F.col("_n") / B), F.lit(B))
    t2 = (s2.withColumn("_cap", cap)
          .select(*g, "_c1", "_c2", "_cnt", "_m", "_x", "_off", "_n",
                  ((F.col("_cnt") > F.col("_cap"))
                   & (F.col("_m") < F.col("_x"))).alias("_split"),
                  F.explode(F.array(*_target_structs(named_qs, mode)))
                  .alias("_t"))
          .filter((F.col("_off") < F.col("_t._rk"))
                  & (F.col("_t._rk") <= F.col("_off") + F.col("_cnt")))
          .select(*g, "_c1", "_c2", "_m", "_x", "_off", "_n", "_split",
                  F.col("_t._tag").alias("_tag"),
                  F.col("_t._rk").alias("_rk")))
    # r17: materialize the bounded targets frame once per run — the
    # probe plan then carries a LogicalRDD leaf as its broadcast side
    # instead of embedding the whole stats+window subtree
    if ckpt_scope is not None:
        t2 = checkpoint(t2, scope=ckpt_scope)
    # ONE probe pass: rows of owning cells only (inner broadcast join
    # on the cell id — <= 2*|qs| rows per group on the build side);
    # the per-(target, sub-cell, value) histogram is map-side
    # combinable and collapses ties
    sub = F.when(F.col("_split"),
                 _clamped_width_bucket(t, F.col("_m"), F.col("_x"), B)) \
        .otherwise(F.lit(0))
    pr = (base.withColumn("_c1", c1).withColumn("_c2", c2)
          .join(F.broadcast(t2), [*g, "_c1", "_c2"]))
    vh = (pr.groupBy(*g, "_tag", "_rk", "_off", "_n",
                     sub.alias("_sub"), value_col)
          .agg(_cnt_of().alias("_vc")))
    # r17: materialize the bounded histogram once per run — its two
    # consumers (sub-cell totals, final pick) otherwise each embed the
    # probe subtree (the runtime exchange was ReusedExchange-collapsed,
    # but the analyzer still resolved both copies)
    if ckpt_scope is not None:
        vh = checkpoint(vh, scope=ckpt_scope)
    # owning SUB-cell per target: totals per (group, target, sub-cell)
    # are a bounded aggregate of the histogram (<= 2*|qs|*(B+1) rows
    # per group); the cumulative window runs over those aggregate rows
    st = (vh.groupBy(*g, "_tag", "_rk", "_off", "_n", "_sub")
          .agg(F.sum("_vc").alias("_sc")))
    ws = W.partitionBy(*g, "_tag").orderBy("_sub")
    t3 = (st.select(
            *g, "_tag", "_rk", "_n", "_sub",
            (F.col("_off") + F.coalesce(F.sum("_sc").over(
                ws.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)))
            .alias("_base"),
            F.col("_sc"))
          .filter((F.col("_base") < F.col("_rk"))
                  & (F.col("_rk") <= F.col("_base") + F.col("_sc")))
          .select(*g, "_tag", "_sub", "_base"))
    # final pick: value cumulative WITHIN the owning sub-cell — the
    # window task is bounded by that sub-cell's distinct values
    selj = vh.join(F.broadcast(t3), [*g, "_tag", "_sub"])
    wv = W.partitionBy(*g, "_tag").orderBy(value_col)
    vh2 = selj.select(
        *g, "_tag", "_rk", "_n", F.col(value_col).alias("_v"),
        (F.col("_base") + F.coalesce(F.sum("_vc").over(
            wv.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)))
        .alias("_vb"),
        (F.col("_base") + F.sum("_vc").over(
            wv.rowsBetween(W.unboundedPreceding, 0))).alias("_vt"))
    return (vh2.filter((F.col("_vb") < F.col("_rk"))
                       & (F.col("_rk") <= F.col("_vt")))
            .select(*g, "_tag", "_v", "_n"))


def quantiles_cont(df: DataFrame, group_cols: Sequence[str],
                   value_col: str,
                   named_qs: Sequence[tuple[str, float]], *,
                   round_to: int | None = None,
                   num_buckets: int | None = None,
                   ckpt_scope: str | None = None) -> DataFrame:
    """ANSI PERCENTILE_CONT per group: linear interpolation between the
    straddling order statistics at position q*(n-1), one output column
    per (name, q). Double-typed outputs; optional rounding."""
    g = list(group_cols)
    picked = grouped_order_statistics(df, g, value_col, named_qs,
                                      mode="cont",
                                      num_buckets=num_buckets,
                                      ckpt_scope=ckpt_scope)
    aggs = []
    for name, q in named_qs:
        v_lo = F.max(F.when(F.col("_tag") == f"{name}/lo",
                            F.col("_v").cast("double")))
        v_hi = F.max(F.when(F.col("_tag") == f"{name}/hi",
                            F.col("_v").cast("double")))
        pos = F.lit(q) * (F.max("_n") - 1)
        frac = pos - F.floor(pos)
        expr = v_lo + frac * (v_hi - v_lo)
        if round_to is not None:
            expr = F.round(expr, round_to)
        aggs.append(expr.alias(name))
    return picked.groupBy(*g).agg(*aggs)


def quantiles_disc(df: DataFrame, group_cols: Sequence[str],
                   value_col: str,
                   named_qs: Sequence[tuple[str, float]], *,
                   num_buckets: int | None = None,
                   weight_col: str | None = None,
                   ckpt_scope: str | None = None) -> DataFrame:
    """PERCENTILE_DISC-style per group: the value at rank ceil(q*n),
    keeping the value's original type."""
    g = list(group_cols)
    picked = grouped_order_statistics(df, g, value_col, named_qs,
                                      mode="disc",
                                      num_buckets=num_buckets,
                                      weight_col=weight_col,
                                      ckpt_scope=ckpt_scope)
    aggs = [F.max(F.when(F.col("_tag") == name, F.col("_v"))).alias(name)
            for name, _q in named_qs]
    return picked.groupBy(*g).agg(*aggs)
