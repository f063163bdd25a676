"""Distinct-count sketches as DataFrames: HyperLogLog registers built,
merged and read with plain relational operators.

Why not ``approx_count_distinct``? Spark's built-in HLL++ returns a
NUMBER; a 100 TB lake wants the SKETCH — per-partition/per-day register
tables that merge by union + max (no rescan of history) and answer
rollups at any grouping later. The registers-as-rows design (register
index, max rho) is exactly the Bloom word-table pattern
(operators/bloom.py) applied to cardinality.

Flajolet et al., "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm" (AofA 2007):

* hash each key (seeded ``xxhash64`` — content-determined, so sketches
  are partitioning-independent and golden-oracle-able);
* register index = low ``p`` bits; rho = 1 + leading zeros of the
  remaining 64-p bits (capped);
* register value = max rho — an idempotent, commutative merge, which
  is what makes sketches unionable across days/partitions/tables;
* estimate = alpha_m * m^2 / sum(2^-reg), with the standard
  small-range (linear counting) and Spark-free exact corrections.

Accuracy: ~1.04/sqrt(2^p) relative error (p=12 -> ~1.6%).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _register_rho(key_col: str, p: int, seed: int):
    """(register, rho) column pair for one key — shared by the global
    and grouped builders."""
    h = F.xxhash64(F.lit(seed), F.col(key_col))
    register = F.pmod(h, F.lit(1 << p)).cast("int")
    # remaining bits: arithmetic shift is fine after masking sign via
    # shiftrightunsigned; rho = leading zeros in the (64-p)-bit tail + 1
    rest = F.shiftrightunsigned(h, p)
    # leading zeros via EXACT integer bit length (length of the minimal
    # binary string) — a float log2 rounds 2^k-1 up to 2^k for k > 53
    # and corrupts rho by one; bin() keeps it integer end to end
    width = 64 - p
    rho = F.when(rest == 0, F.lit(width + 1)).otherwise(
        (F.lit(width + 1) - F.length(F.bin(rest))).cast("int"))
    return register, rho


def hll_build(df: DataFrame, key_col: str, p: int = 12,
              seed: int = 7) -> DataFrame:
    """Key column -> HLL register table ``(register int, rho int)``
    with at most 2^p rows. One groupBy shuffle whose output size is
    CONSTANT regardless of input (absent registers mean rho=0)."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    register, rho = _register_rho(key_col, p, seed)
    return (
        df.select(register.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_build_grouped(df: DataFrame, key_col: str, group_cols: list[str],
                      p: int = 12, seed: int = 7) -> DataFrame:
    """Per-group HLL register tables ``(group_cols..., register, rho)``
    — the sketch-table shape a lake stores per partition/tile/day so
    distinct counts re-aggregate without re-reading raw data. ONE
    groupBy shuffle; output bounded by ``n_groups * 2^p`` regardless
    of input rows. Merging groups downstream is ``max(rho)`` per
    (coarser group, register) — the algebra ``hll_merge`` exposes."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    if not group_cols:
        raise ValueError("need at least one group column")
    register, rho = _register_rho(key_col, p, seed)
    return (
        df.select(*group_cols, register.alias("register"), rho.alias("rho"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union register tables -> one sketch (max rho per register).
    Idempotent and commutative: merging a sketch with itself, or the
    same day twice, changes nothing — the property that makes sketch
    tables safe to re-aggregate in a lake."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("register").agg(F.max("rho").alias("rho"))


def hll_estimate(sketch: DataFrame, p: int = 12) -> DataFrame:
    """Register table -> one-row ``(estimate double)``.

    Standard corrections: linear counting below 2.5m (using the count
    of zero registers), raw harmonic estimate otherwise. Computed with
    plain aggregations — no collect."""
    m = 1 << p
    agg = sketch.agg(
        # coalesce: an EMPTY sketch (zero rows) must estimate 0, not NULL
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("rho"))), F.lit(0.0)).alias("s"),
        F.count(F.lit(1)).alias("nonzero"),
    )
    # absent rows are rho=0 registers contributing 2^0 = 1 each
    s_full = F.col("s") + (F.lit(m) - F.col("nonzero"))
    zeros = F.lit(m) - F.col("nonzero")
    raw = F.lit(_alpha(m) * m * m) / s_full
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)
    return agg.select(est.alias("estimate"))


def hll_estimate_grouped(sketch: DataFrame, group_cols: list[str],
                         p: int = 12) -> DataFrame:
    """Per-group estimates ``(group_cols..., estimate double)`` from a
    grouped register table — same corrections as ``hll_estimate``,
    one map-side-combined aggregation, no collect."""
    m = 1 << p
    agg = sketch.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
        F.count(F.lit(1)).alias("nonzero"),
    )
    s_full = F.col("s") + (F.lit(m) - F.col("nonzero"))
    zeros = F.lit(m) - F.col("nonzero")
    raw = F.lit(_alpha(m) * m * m) / s_full
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)
    return agg.select(*group_cols, est.alias("estimate"))


def approx_distinct(df: DataFrame, key_col: str, p: int = 12,
                    seed: int = 7) -> float:
    """Convenience: build + estimate, returning the number."""
    return float(hll_estimate(hll_build(df, key_col, p, seed), p)
                 .first()["estimate"])


# ---------------------------------------------------------------------------
# count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005)
# ---------------------------------------------------------------------------

def cm_build(df: DataFrame, key_col: str, width: int = 2048, depth: int = 4,
             seed: int = 13, weight_col: str | None = None) -> DataFrame:
    """Count-min sketch as ``(row int, bucket long, cnt long)`` — at
    most depth*width rows from one shuffle, any input size. Each key
    increments one bucket per hash row; point queries take the MIN over
    rows (collisions only inflate, never deflate — one-sided error
    eps = e/width with prob 1 - e^-depth).

    Merging sketches = union + SUM per (row, bucket) — additive, so
    per-day frequency sketches roll up exactly like the HLL registers
    roll up distinct counts."""
    if width <= 0 or depth <= 0:
        raise ValueError(f"width/depth must be positive, got {width}/{depth}")
    w = F.lit(1).cast("long") if weight_col is None else F.col(weight_col).cast("long")
    rows = df.select(
        F.col(key_col),
        w.alias("_w"),
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     F.pmod(F.xxhash64(F.lit(seed + r), F.col(key_col)),
                            F.lit(width)).alias("bucket"))
            for r in range(depth)
        ])).alias("rb"),
    )
    return (
        rows.select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"), "_w")
        .groupBy("row", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Union + SUM per cell: exact additive merge."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cm_query(candidates: DataFrame, sketch: DataFrame, key_col: str,
             width: int = 2048, depth: int = 4, seed: int = 13) -> DataFrame:
    """Point-frequency estimates for candidate keys: recompute each
    key's depth buckets, broadcast-join the sketch, take the MIN —
    ``est_count >= true count`` always (upper bound), tight for heavy
    hitters. Returns (key, est_count)."""
    probes = candidates.select(
        F.col(key_col),
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     F.pmod(F.xxhash64(F.lit(seed + r), F.col(key_col)),
                            F.lit(width)).alias("bucket"))
            for r in range(depth)
        ])).alias("rb"),
    ).select(key_col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), on=["row", "bucket"], how="left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


# ---------------------------------------------------------------------------
# KMV / bottom-k sketch (k-minimum-values: Bar-Yossef et al. 2002;
# Beyer et al., SIGMOD 2007) — deterministic sample + quantiles +
# a second distinct estimator
# ---------------------------------------------------------------------------
#
# The third leg of the sketch suite (HLL = distinct, count-min =
# frequency, KMV = sample/quantiles): keep the k rows whose seeded
# xxhash64(id) is smallest in UNSIGNED order. Three properties make it
# the right lake sketch:
#
# * EXACT mergeability — bottom-k of a union equals bottom-k over the
#   concatenated sketches (an identity, not an approximation), so
#   per-partition/per-day sketches roll up losslessly;
# * deterministic — the sample is a pure function of content (ids),
#   independent of partitioning, so fixtures replay bit-identically;
# * dual use — the k-th smallest normalized hash U_(k) gives the KMV
#   distinct estimate (k-1)/U_(k), and the carried value column is a
#   uniform sample for quantile estimation.
#
# Physically `orderBy(h).limit(k)` is TakeOrderedAndProject: per-
# partition heaps of size k + one k-row merge at the driver side of
# the exchange — no global sort, no full shuffle (plan-asserted in
# tests).

#: flips the sign bit so SIGNED ordering of (h ^ SIGN) equals UNSIGNED
#: ordering of h — two's-complement identity
_SIGN = -0x8000000000000000


def _dedup_on_hash(df: DataFrame) -> DataFrame:
    """Collapse duplicate hashes DETERMINISTICALLY: the minimum
    (id[, val]) struct wins, so merging sketches that carry the same id
    with different payloads (e.g. sketches of two versions of a table)
    yields a partitioning-independent result — ``dropDuplicates``
    would keep whichever row a partition delivered first."""
    payload = [c for c in df.columns if c != "h"]
    return (
        df.groupBy("h").agg(F.min(F.struct(*payload)).alias("_s"))
        .select("h", *[F.col(f"_s.{c}").alias(c) for c in payload])
    )


def kmv_build(df: DataFrame, id_col: str, value_col: str | None = None,
              k: int = 1024, seed: int = 11) -> DataFrame:
    """Bottom-k sketch rows ``(h, id[, val])``, smallest unsigned
    seeded hashes first. Distinct ids only (KMV's order statistics
    need distinct hash draws; duplicate ids collapse by definition,
    min-struct tie-break when their values differ)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    cols = [F.xxhash64(F.lit(seed), F.col(id_col)).alias("h"),
            F.col(id_col).alias("id")]
    if value_col is not None:
        cols.append(F.col(value_col).alias("val"))
    return (
        _dedup_on_hash(df.select(*cols))
        .orderBy(F.expr(f"h ^ {_SIGN}"))
        .limit(k)
    )


def kmv_merge(*sketches: DataFrame, k: int = 1024) -> DataFrame:
    """Union + re-take-k: EXACTLY the sketch of the concatenated
    inputs (duplicates collapse on the hash; min-struct tie-break keeps
    the merge deterministic when the same id carries different values
    across input sketches)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return _dedup_on_hash(out).orderBy(F.expr(f"h ^ {_SIGN}")).limit(k)


def kmv_distinct_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """One row ``(n_kept, estimate)``. With fewer than k rows the count
    is EXACT (every distinct id is in the sketch); at capacity the KMV
    estimator (k-1)/U_(k) applies, U_(k) = k-th smallest hash mapped to
    (0, 1)."""
    stats = sketch.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max(F.expr(f"h ^ {_SIGN}")).alias("max_flipped"),
    )
    # unsigned value of the k-th hash, as double in [0, 2^64)
    u = (F.col("max_flipped").cast("double")
         + F.lit(float(1 << 63)))
    est = F.when(F.col("n_kept") < k, F.col("n_kept").cast("double")) \
        .otherwise(F.lit(float(k - 1)) / (u / F.lit(float(1 << 64))))
    return stats.select("n_kept", est.alias("estimate"))


def kmv_set_estimates(sketch_a: DataFrame, sketch_b: DataFrame,
                      k: int = 1024) -> DataFrame:
    """Set-operation estimates from two KMV sketches WITHOUT touching
    the underlying tables — the classic bottom-k trick (Beyer et al.
    2007, "On Synopses for Distinct-Value Estimation"): take the k
    smallest hashes of the UNION of the sketches; the fraction of
    those present in BOTH inputs estimates the Jaccard similarity, and
    scaling the union-cardinality estimate gives intersection size.

    One row: (k_used, n_shared, jaccard_est, union_est,
    intersection_est). Everything is exact integer/rational arithmetic
    over the deterministic hash sample, so the whole row replays
    bit-identically from the sketch contents (golden-friendly).
    ``k_used`` = min(k, |merged|); when both inputs were below
    capacity the union/Jaccard values are EXACT (the sketches hold
    every distinct id)."""
    a = sketch_a.select("h").withColumn("_in_a", F.lit(1))
    b = sketch_b.select("h").withColumn("_in_b", F.lit(1))
    merged = (
        a.join(b, "h", "full_outer")
        .select("h",
                F.coalesce("_in_a", F.lit(0)).alias("ia"),
                F.coalesce("_in_b", F.lit(0)).alias("ib"))
        .orderBy(F.expr(f"h ^ {_SIGN}"))
        .limit(k)
    )
    stats = merged.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(F.col("ia") * F.col("ib")).cast("long").alias("n_shared"),
        F.max(F.expr(f"h ^ {_SIGN}")).alias("max_flipped"),
    )
    jac = F.col("n_shared").cast("double") / F.col("k_used").cast("double")
    u = (F.col("max_flipped").cast("double") + F.lit(float(1 << 63)))
    union_est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        (F.col("k_used").cast("double") - F.lit(1.0))
        / (u / F.lit(float(1 << 64))))
    return stats.select(
        F.col("k_used").cast("long").alias("k_used"),
        "n_shared",
        jac.alias("jaccard_est"),
        union_est.alias("union_est"),
        (jac * union_est).alias("intersection_est"),
    )


def kmv_quantiles(sketch: DataFrame, probs: list[float]) -> DataFrame:
    """Exact lower-index quantiles of the sketch's value column — the
    sample quantile q_p = val at sorted index ceil(p*n)-1 (clamped at
    0), one row per prob. Pure relational: one window rank over the
    k-row sketch, a broadcast probs join, no driver math — so the same
    selection rule is trivially restated in the golden recompute."""
    from pyspark.sql import Window

    n = sketch.count()
    if n == 0:
        raise ValueError("empty sketch")
    ranked = sketch.select(
        "val", F.row_number().over(Window.orderBy("val", "h")).alias("r"))
    probs_df = local_frame(sketch.sparkSession, [(float(p),) for p in probs], "prob double")
    target = F.greatest(F.ceil(F.col("prob") * n), F.lit(1))
    return (
        probs_df.crossJoin(ranked)
        .filter(F.col("r") == target)
        .select("prob", F.col("val").alias("q"))
        .orderBy("prob")
    )


def hll_set_estimates(sketch_a: DataFrame, sketch_b: DataFrame,
                      p: int = 12) -> DataFrame:
    """Union / intersection / Jaccard estimates from two HLL register
    tables via inclusion-exclusion: ``|A ∪ B|`` from the max-merged
    registers (exact sketch algebra), ``|A ∩ B| = est(A) + est(B) -
    est(A ∪ B)``. One row out; inputs are 2^p-bounded tables so every
    join/agg here is effectively free. Intersection error compounds
    (the standard HLL incl-excl caveat — use KMV ``kmv_set_estimates``
    when the intersection is small relative to the union); clamped at
    zero."""
    ea = hll_estimate(sketch_a, p).select(F.col("estimate").alias("ea"))
    eb = hll_estimate(sketch_b, p).select(F.col("estimate").alias("eb"))
    eu = (hll_estimate(hll_merge(sketch_a, sketch_b), p)
          .select(F.col("estimate").alias("eu")))
    inter = F.greatest(F.col("ea") + F.col("eb") - F.col("eu"), F.lit(0.0))
    return (
        ea.crossJoin(eb).crossJoin(eu)
        .select(
            F.col("ea").alias("est_a"), F.col("eb").alias("est_b"),
            F.col("eu").alias("union_est"),
            inter.alias("intersection_est"),
            F.when(F.col("eu") > 0.0, inter / F.col("eu"))
            .otherwise(F.lit(0.0)).alias("jaccard_est"))
    )


# ---------------------------------------------------------------------------
# fixed-bin mergeable histogram (bounded-memory quantiles / distributions)
# ---------------------------------------------------------------------------

def hist_build(df: DataFrame, value_col: str, lo: float, hi: float,
               n_bins: int = 256) -> DataFrame:
    """Fixed-bin histogram sketch ``(bin int, cnt long)`` — the third
    sketch algebra next to HLL (distinct) and KMV (samples):
    distributions and quantiles in EXACTLY ``n_bins`` rows from one
    map-side-combined groupBy, mergeable by plain addition (per-day
    histograms roll up like the register tables do).

    Bin rule (token-mirrorable by a SQL oracle, one IEEE chain):

        bin = floor((v - lo) * n_bins / (hi - lo)),  clamped to
        [0, n_bins-1] — out-of-range values land in the edge bins,
        NULLs and NaNs are dropped (Spark's FLOOR(double)->LONG would
        silently map NaN into bin 0 otherwise).

    vs KMV quantiles: KMV is rank-exact on a bounded hash sample;
    the histogram is value-resolution-bounded (bin width) but counts
    EVERY row, so tail mass is never sampled away. Pick per question.
    """
    if n_bins < 1:
        raise ValueError(f"need n_bins >= 1, got {n_bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) * F.lit(float(n_bins))
                  / (F.lit(float(hi)) - F.lit(float(lo))))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")
    return (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .select(b.alias("bin"))
        .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_build_grouped(df: DataFrame, value_col: str,
                       group_cols: list[str], lo: float, hi: float,
                       n_bins: int = 256) -> DataFrame:
    """Per-group histograms ``(group_cols..., bin, cnt)`` — the
    grouped form (the hll_build_grouped pattern): one shuffle, output
    bounded by ``n_groups * n_bins`` however many rows land per group.
    Same bin rule as ``hist_build`` (clamped edges, NULL/NaN dropped);
    merging to coarser groups downstream is SUM per (group, bin)."""
    if not group_cols:
        raise ValueError("need at least one group column")
    if n_bins < 1:
        raise ValueError(f"need n_bins >= 1, got {n_bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) * F.lit(float(n_bins))
                  / (F.lit(float(hi)) - F.lit(float(lo))))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")
    return (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin").agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(*hists: DataFrame) -> DataFrame:
    """Union histogram sketches -> one (SUM per bin). Addition is the
    whole merge algebra: merge(build(X), build(Y)) == build(X ∪ Y)
    exactly (pinned in tests)."""
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    return out.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(hist: DataFrame, probs: list[float], lo: float,
                   hi: float, n_bins: int = 256) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each prob, the
    LEFT EDGE of the first bin whose cumulative count reaches
    ``ceil(p * total)`` — deterministic, resolution = bin width. The
    cumulative window runs over at most ``n_bins`` rows (the KMV
    k-row-bounded-window precedent); totals ride a broadcast 1-row
    cross-join, no driver actions."""
    from pyspark.sql import Window

    if not probs:
        raise ValueError("need at least one probability")
    if any(not 0.0 < p <= 1.0 for p in probs):
        raise ValueError(f"probs must be in (0, 1], got {probs}")
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bin", "cnt", F.sum("cnt").over(w).alias("cum"))
    total = hist.agg(F.sum("cnt").alias("total"))
    pr = F.explode(F.array(*[F.lit(float(p)) for p in probs])).alias("prob")
    targets = total.select(pr, "total").select(
        "prob", F.ceil(F.col("prob") * F.col("total")).alias("target"))
    width = (float(hi) - float(lo)) / float(n_bins)
    return (
        cum.join(F.broadcast(targets), F.col("cum") >= F.col("target"))
        .groupBy("prob")
        .agg(F.min("bin").alias("bin"))
        .select("prob", "bin",
                (F.lit(float(lo)) + F.col("bin").cast("double")
                 * F.lit(width)).alias("q_lo"))
        .orderBy("prob")
    )
