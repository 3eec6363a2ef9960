"""Sampling operators for corpus curation.

Every sampler here is deterministic: hash-ordered, no RNG state, so a
sample is reproducible across engines and runs and re-derivable from
the data alone, which dataset curation needs.

At scale the stratified top-n is a per-stratum window (WindowGroupLimit
pushes the rank filter below the sort), so no stratum ever needs more
than its own partition's memory; skewed strata are handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample_deterministic(
    df: DataFrame, strata: list[str], n_per_stratum: int, id_col: str
) -> DataFrame:
    """First ``n_per_stratum`` rows per stratum ordered by md5(id).

    The hash order is a fixed pseudo-random permutation of each
    stratum, so the sample is unbiased w.r.t. any natural ordering of
    the data while being bit-reproducible anywhere md5 exists.
    """
    order_key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(*strata).orderBy(order_key, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def deterministic_mixture(
    df: DataFrame,
    stratum_col: str,
    weights: dict,
    key_col: str,
) -> DataFrame:
    """Weighted corpus mixing (training-data mixture weights per source).

    Keep a row iff the md5 hash-permutation of its key falls below the
    stratum's weight: ``substr(md5(key), 1, 8) < hex(weight * 16^8)``.
    Lowercase-hex string comparison == numeric comparison, so the same
    predicate runs bit-identically on any engine with md5 — reproducible
    mixtures with no RNG state, resumable across reruns, and at scale a
    pure map-side filter (no shuffle, no sample() nondeterminism).
    Strata absent from ``weights`` are dropped.
    """
    mapping = F.create_map(
        *[
            F.lit(x)
            for s, w in weights.items()
            for x in (s, format(min(int(w * 16**8), 16**8 - 1), "08x"))
        ]
    )
    bucket = F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)
    thr = mapping[F.col(stratum_col)]
    return df.filter(thr.isNotNull() & (bucket < thr))


def temperature_mixture(
    df: DataFrame,
    stratum_col: str,
    budget_docs: int,
    key_col: str,
    seed: str = "tmix",
) -> DataFrame:
    """Temperature-reweighted mixture sampling (alpha = 0.5): source s
    gets a document allocation proportional to sqrt(n_s) — the standard
    'flatten the source distribution' reweighting (multilingual /
    DoReMi-style pipelines), here with temperature T = 2.

    Exactness discipline: sqrt is IEEE-754 correctly rounded in every
    engine, so floor(sqrt(n) * 1e6) is a portable integer weight; all
    later arithmetic (allocation split, md5-threshold) is BIGINT, so the
    kept set is bit-reproducible. Plan shape: one tiny per-source agg, a
    1-row total, a source-keyed join back (AQE broadcasts the stats
    frame), then a pure map-side threshold filter — the corpus itself
    never shuffles.
    """
    wq = F.floor(F.sqrt(F.count(F.lit(1)).cast("double")) * 1_000_000).cast("long")
    stats = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n"), wq.alias("wq")
    )
    total = stats.agg(F.sum("wq").cast("long").alias("total_wq"))
    alloc = stats.crossJoin(total).select(
        stratum_col,
        "n",
        F.expr(f"({budget_docs}L * wq) div total_wq").alias("target"),
    )
    bucket = F.substring(
        F.md5(F.concat(F.lit(seed + ":"), F.col(key_col).cast("string"))), 1, 8
    )
    thr = F.lpad(F.lower(F.hex(F.expr("(target * 4294967296L) div n"))), 8, "0")
    return (
        df.join(alloc, stratum_col)
        .withColumn("__bucket", bucket)
        .filter((F.col("target") >= F.col("n")) | (F.col("__bucket") < thr))
        .drop("__bucket")
    )


def systematic_weighted_resample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str,
    seed: str = "sysres",
) -> DataFrame:
    """Systematic (low-variance) weighted resampling: draw exactly
    ``k`` copies with per-row multiplicity proportional to weight —
    the resampling stage importance-weighted selection pipelines (DSIR,
    particle filters) run after scoring. Deterministic and integer-
    exact: rows are laid on a weight line in seeded-md5 order, and the
    k equally-spaced ticks at (2j+1)*W/(2k) are counted per interval
    with pure BIGINT arithmetic — ``sum(n_copies) == k`` always, no
    RNG, no floats, bit-identical in any engine with md5.

    Scale shape: ONE corpus shuffle for the two-pass prefix sum
    (ops/packing.with_prefix_sum — partition-local windows plus a
    #partitions-row offset frame), a 1-row total broadcast, then a
    map-side tick-count filter. Zero-weight rows draw nothing and
    survive nothing.

    Overflow bound: intermediate products reach 2k * W_total; with
    BIGINT that caps W_total at ~4.6e18/k — document weights in
    token/char units keep 100 TB corpora inside the bound (1e12 docs x
    1e4 chars x 2k=2e3 ~ 2e19 would NOT fit: rescale weights, e.g.
    div 100, before resampling at that extreme).

    Output: ``id_col``, weight, ``n_copies`` (>= 1) for selected rows.
    """
    from .packing import with_prefix_sum

    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    # Precondition enforcement (ADVICE r6): a negative weight corrupts
    # the interval/tick arithmetic (sum(n_copies) != k, silently) and a
    # non-integral weight would be silently floored by the cast. Both
    # fail fast AT EXECUTION via a map-side raise_error guard — no
    # extra eager scan, the check rides the existing pass.
    w_raw = F.col(weight_col)
    w_long = w_raw.cast("long")
    w_checked = F.when(
        w_raw.isNull()
        | (w_long < 0)
        | (w_long.cast("double") != w_raw.cast("double")),
        F.raise_error(
            F.concat(
                F.lit(
                    "systematic_weighted_resample: weights must be "
                    "non-negative integers, got "
                ),
                w_raw.cast("string"),
            )
        ).cast("long"),
    ).otherwise(w_long)
    base = df.select(
        F.col(id_col),
        w_checked.alias("_w"),
        h.alias("_h"),
    )
    pref = with_prefix_sum(base, ["_h", id_col], "_w", out="_lo", exclusive=True)
    # NOT named "_W": analysis is case-insensitive by default, so "_W"
    # next to "_w" is an AMBIGUOUS_REFERENCE after the crossJoin.
    total = df.agg(F.sum(F.col(weight_col).cast("long")).alias("_wtot"))
    spaced = pref.crossJoin(F.broadcast(total)).select(
        id_col,
        F.col("_w"),
        F.col("_lo"),
        (F.col("_lo") + F.col("_w")).alias("_hi"),
        F.col("_wtot"),
    )
    # j_count(y) = #{j >= 0 : (2j+1)*W < y} = (y-W-1) div 2W + 1 for
    # y > W, else 0; ticks live at (2j+1)*W/(2k) so y is 2k*lo / 2k*hi
    # (scaling both sides by 2k keeps everything integral).
    lo_y = F.expr(f"2L * {k} * _lo")
    hi_y = F.expr(f"2L * {k} * _hi")
    n_copies = F.when(
        hi_y > F.col("_wtot"),
        F.expr(f"(2L * {k} * _hi - _wtot - 1) div (2 * _wtot) + 1"),
    ).otherwise(F.lit(0)) - F.when(
        lo_y > F.col("_wtot"),
        F.expr(f"(2L * {k} * _lo - _wtot - 1) div (2 * _wtot) + 1"),
    ).otherwise(F.lit(0))
    return (
        spaced.filter(F.col("_wtot") > 0)
        .select(
            id_col,
            F.col("_w").alias("weight"),
            n_copies.cast("long").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 0)
    )


def weighted_reservoir_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str,
    seed: str = "res",
) -> DataFrame:
    """A-ES weighted reservoir sample (Efraimidis & Spirakis 2006):
    ``k`` rows WITHOUT replacement with inclusion probability scaling
    with weight. Each row draws a deterministic uniform
    ``u = (h + 1) / 2^60`` from a seeded md5 hash-permutation of its
    id (no RNG state — the sample is re-derivable from the data alone,
    same posture as stratified_sample_deterministic) and the global
    top-k by the A-ES key ``u^(1/w)`` — compared in the equivalent,
    overflow-free log domain ``ln(u)/w`` — is the sample.

    Complements systematic_weighted_resample: that one draws WITH
    multiplicity (resampling, integer weights); this one draws distinct
    rows (subset selection, any positive weight).

    Scale shape: the key is a map-side expression; selection is ONE
    global top-k (TakeOrderedAndProject — per-partition heaps of k,
    no corpus shuffle, no global sort). The rank window after the
    limit touches k rows only.

    Float caveat: ln() is not correctly rounded, so the last-ulp key
    values differ across engines — but selection depends only on the
    ORDER of keys, and with hash-random uniforms the minimum key gap
    concentrates at ~1/n^2 relative, ~7 orders above ulp noise; the
    cross-engine hash-equality test pins it.

    Output: ``id_col``, ``weight`` (bigint), ``sel_rank`` (1..k in
    descending key order). Rows with weight <= 0 are never selected.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("long")
    keyed = (
        df.filter(w > 0)
        .select(F.col(id_col), w.alias("weight"), (F.log(u) / w).alias("_key"))
        .orderBy(F.col("_key").desc(), F.col(id_col))
        .limit(k)
    )
    rk = Window.orderBy(F.col("_key").desc(), F.col(id_col))
    return (
        keyed.withColumn("sel_rank", F.row_number().over(rk).cast("long"))
        .drop("_key")
    )


def weighted_reservoir_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    weight_col: str,
    id_col: str,
    seed: str = "gres",
) -> DataFrame:
    """Per-group A-ES weighted reservoir: ``k`` rows per group, without
    replacement, inclusion scaling with weight — per-source quota
    selection where each source's winners are weight-sampled rather
    than top-scored (contrast llmops/budget.py's percentile gates).

    Same key construction as weighted_reservoir_topk; selection swaps
    the global top-k for a per-group rank window, so each group is
    ranked inside its own partition (WindowGroupLimit pushes the
    rank <= k filter below the sort; skewed groups are AQE's problem,
    not a single-partition bottleneck).

    Output: group cols, ``id_col``, weight, ``sel_rank`` (1..k within
    the group).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("long")
    keyed = df.filter(w > 0).select(
        *group_cols,
        F.col(id_col),
        w.alias("weight"),
        (F.log(u) / w).alias("_key"),
    )
    rk = Window.partitionBy(*group_cols).orderBy(
        F.col("_key").desc(), F.col(id_col)
    )
    return (
        keyed.withColumn("sel_rank", F.row_number().over(rk).cast("long"))
        .filter(F.col("sel_rank") <= k)
        .drop("_key")
    )
