"""Deterministic, mergeable cardinality sketches (classic HyperLogLog).

Spark's built-in ``approx_count_distinct`` is a HLL++ whose internal
xxhash has no DuckDB twin, so its estimates cannot be oracle-checked
exactly.  This module implements the classic Flajolet et al. 2007 HLL
over the repo's shared md5 60-bit hash (``text.md5_int``): register
assignment, rank (rho), register maxima, and the harmonic sum are all
exact integer arithmetic, so the whole sketch replays bit-for-bit in a
SQL oracle — while keeping the aggregation shape that matters at
100 TB:

- the per-register ``max`` is a map-side partial aggregate, so the
  shuffle carries at most ``groups x HLL_M`` tiny rows regardless of
  corpus size (vs. a full ``distinct`` whose shuffle carries every
  unique item);
- sketches merge across partitions / waves / tables by the same
  register-wise ``max`` (the standard HLL union), so incremental jobs
  can maintain running distinct counts without re-scanning history.

Use cases in this engine: shingle-space sizing for MinHash/LSH tuning
(how many distinct shingles does a source contribute?), distinct-URL
accounting in crawl lineage, and vocabulary-growth tracking during
BPE corpus preparation.

The reference engine has no sketches; this extends the
training-data-pipeline family (SURVEY SS2 "beyond the reference").
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import md5_int

HLL_BITS = 8
HLL_M = 1 << HLL_BITS  # 256 registers -> ~1.04/sqrt(m) = 6.5% std error
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # Flajolet bias constant

# alpha * m^2 * 2^53: numerator of the scaled harmonic-mean estimate.
# The denominator (sum_scaled) is an exact integer, so the estimate is
# ONE double division of deterministically-derived operands; the repr
# of this constant is interpolated verbatim into the SQL oracle so
# both sides divide identical doubles.
HLL_EST_NUM = _HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)

# Linear-counting small-range correction (Flajolet 2007: the raw
# harmonic estimator floors at ~alpha*m when most registers are empty;
# below 2.5m use m*ln(m/V), V = zero registers).  ln() is the one op
# whose last-ulp behavior differs across engines, but m/V takes only m
# distinct values — so the whole correction is THIS Python-precomputed,
# Python-rounded literal table, shared verbatim (repr) with the SQL
# oracle.  Index V in [1, m]; V=0 never selects the correction.
HLL_LINEAR = [0.0] + [
    round(HLL_M * math.log(HLL_M / v), 6) for v in range(1, HLL_M + 1)
]
HLL_SMALL_RANGE = 2.5 * HLL_M

# Remaining hash width after the register index is peeled off:
# md5_int is 60 bits, minus HLL_BITS -> 52-bit rank domain, so
# rho = 53 - bit_length(w) in [1, 52], and rho = 53 when w == 0.
_RANK_BITS = 60 - HLL_BITS
_RHO_CAP = _RANK_BITS + 1


def hll_rho(h: Column) -> Column:
    """Rank of the post-index hash bits: leading-zero count + 1 over
    the ``_RANK_BITS``-wide remainder.  Integer-only: ``bin()`` drops
    leading zeros on both engines, so
    ``rho = (_RANK_BITS+1) - length(bin(w))`` — no float log2."""
    w = F.shiftright(h, HLL_BITS)
    return F.when(w == 0, F.lit(_RHO_CAP)).otherwise(
        F.lit(_RHO_CAP) - F.length(F.bin(w))
    )


def hll_registers(
    df: DataFrame, item_col: str, group_cols: tuple[str, ...]
) -> DataFrame:
    """Per-group HLL register table (group..., reg, r).

    This IS the sketch: at most ``HLL_M`` rows per group, built with
    one hash projection + one partial-aggregable ``max`` — the only
    shuffle is the tiny register table.  Merging two register tables
    (e.g. from incremental waves) is ``union -> groupBy(reg).max(r)``,
    exactly this aggregate re-run."""
    h = md5_int(F.col(item_col))
    return (
        df.select(
            *group_cols,
            h.bitwiseAND(HLL_M - 1).alias("reg"),
            hll_rho(h).alias("rho"),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(
    df: DataFrame, item_col: str, group_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Distinct-count estimate per group from the HLL register table.

    Output per group: (m, zero_registers, sum_scaled, est_distinct)
    where ``sum_scaled = sum over registers of 2^(53 - r)`` (absent
    registers contribute 2^53) is the harmonic sum scaled to exact
    integers — max 256 * 2^53 = 2^61, no bigint overflow — and
    ``est_distinct`` is the raw estimate ``HLL_EST_NUM / sum_scaled``
    with the standard linear-counting small-range correction: when the
    raw estimate is below ``2.5m`` and zero registers exist, the
    estimate is the precomputed ``HLL_LINEAR[zero_registers]`` table
    value instead (exact cross-engine — see the table's comment; the
    branch decision compares identical doubles on both engines)."""
    regs = hll_registers(df, item_col, tuple(group_cols))
    per = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RANK_BITS + 1} - r)")
        ).alias("sum_present"),
    )
    zero = F.lit(HLL_M) - F.col("n_present")
    sum_scaled = F.col("sum_present") + zero.cast("long") * F.lit(
        1 << (_RANK_BITS + 1)
    )
    raw = F.lit(HLL_EST_NUM) / sum_scaled
    est = F.when(
        (zero > 0) & (raw <= F.lit(HLL_SMALL_RANGE)),
        F.element_at(F.lit(HLL_LINEAR), (zero + 1).cast("int")),
    ).otherwise(F.round(raw, 6))
    return per.select(
        *group_cols,
        F.lit(HLL_M).alias("m"),
        zero.cast("long").alias("zero_registers"),
        sum_scaled.alias("sum_scaled"),
        est.alias("est_distinct"),
    )


def estimate_from_registers(regs) -> float:
    """Pure-Python twin of the ``hll_estimate`` arithmetic over a full
    m-length register vector — shared constants, same raw/linear
    branch, same pre-rounded table — used by the extraction job to
    estimate from its driver-side register maxes.  (The one residual
    divergence surface is Python round-half-even vs Spark round-half-up
    on the raw branch at an exact 5e-7 boundary — measure-zero on real
    sums; tests compare with 1e-6 tolerance.)"""
    zero = sum(1 for r in regs if r == 0)
    sum_scaled = sum(1 << (_RHO_CAP - int(r)) for r in regs)
    raw = HLL_EST_NUM / sum_scaled
    if zero > 0 and raw <= HLL_SMALL_RANGE:
        return HLL_LINEAR[zero]
    return round(raw, 6)
