"""Experiment-analysis primitives: deterministic assignment + two-sample
proportion tests.

The reference's model-comparison loop is offline CV (``gordo/builder/
build_model.py`` cross-validation scores); the serving-side analogue a
fleet operator actually runs is the online experiment: split users
deterministically, compare a conversion-style proportion, and demand the
difference clear a z-bound before acting. Assignment must be a PURE
function of the unit id (md5-bucket, the sampling module's convention) so
any engine — and any re-run — reproduces the same split with no stored
assignment table.

Scale shape: assignment is row-local codegen; the test statistic needs
ONE hash aggregation over (variant) after a per-user collapse — two
map-side-combinable exchanges total, no windows, no joins.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from gordo_spark.functions.rounding import qround

from gordo_spark.functions.timeutil import epoch_seconds
from gordo_spark.operators.dedup import md5_long

__all__ = [
    "ab_assign",
    "ab_cuped",
    "ab_power",
    "ab_zstat",
    "auc_exact",
    "diff_in_diff",
    "sliced_auc",
    "brier_decomposition",
    "srm_check",
    "mann_whitney",
    "mrr_at_k",
    "qini_curve",
    "tost_equivalence",
    "pr_at_k",
]


def ab_assign(
    df: DataFrame, unit_col: str, n_variants: int = 2, salt: str = "exp1"
) -> DataFrame:
    """Deterministic experiment assignment: ``variant = md5(salt || unit)
    mod n_variants`` — the sampling module's md5-bucket convention, so
    the split is reproducible from the id alone (no assignment table to
    store or join) and independent splits come from changing ``salt``.
    Row-local codegen; adds a ``variant`` int column.
    """
    h = md5_long(F.concat(F.lit(salt), F.col(unit_col).cast("string")))
    return df.withColumn(
        "variant", F.pmod(h, F.lit(int(n_variants))).cast("int")
    )


def ab_zstat(
    events: DataFrame,
    unit_col: str = "user_id",
    success_col: str = "converted",
    salt: str = "exp1",
    critical: float = 1.96,
) -> DataFrame:
    """Two-proportion z-test between md5-assigned A/B halves: per unit,
    success = ANY success event (``max``); per variant, trials and
    successes; then the pooled-proportion z statistic
    ``(p1 - p0) / sqrt(p_pool (1 - p_pool) (1/n0 + 1/n1))`` and a
    two-sided significance verdict at ``critical`` (1.96 = 5%).

    Input: event rows with a boolean-ish ``success_col``. Plan: one
    per-unit collapse (hash agg on the unit key), one 2-row variant
    aggregate, one row out — nothing above the unit cardinality ever
    materializes, and both exchanges combine map-side. Output:
    ``(n_a, n_b, conv_a, conv_b, p_a, p_b, z, significant)``.
    """
    per_unit = (
        ab_assign(events.select(unit_col, success_col), unit_col, 2, salt)
        .groupBy(unit_col, "variant")
        .agg(F.max(F.col(success_col).cast("int")).alias("_s"))
    )
    v = per_unit.groupBy("variant").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_s").alias("_c")
    )
    # per-variant sums coalesce to 0 so a variant with zero units (tiny
    # or skewed inputs) reports n=0/conv=0, not NULL; the rates and z
    # stay NULL there (no defined proportion), but the verdict coalesces
    # to False — callers filtering significant == False must not drop a
    # degenerate experiment on a NULL sentinel
    one = v.agg(
        F.coalesce(
            F.sum(F.when(F.col("variant") == 0, F.col("_n"))), F.lit(0)
        ).alias("n_a"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == 1, F.col("_n"))), F.lit(0)
        ).alias("n_b"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == 0, F.col("_c"))), F.lit(0)
        ).alias("conv_a"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == 1, F.col("_c"))), F.lit(0)
        ).alias("conv_b"),
    )
    # every division sits behind a CASE branch (ANSI mode: a bare /0
    # throws, it does not return NULL)
    p_a = F.when(F.col("n_a") > 0, F.col("conv_a") / F.col("n_a"))
    p_b = F.when(F.col("n_b") > 0, F.col("conv_b") / F.col("n_b"))
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    pool = F.when(
        both,
        (F.col("conv_a") + F.col("conv_b"))
        / (F.col("n_a") + F.col("n_b")),
    )
    se = F.when(
        both,
        F.sqrt(
            pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
        ),
    )
    z = F.when(se > 0, (p_b - p_a) / se)
    return one.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        qround(p_a, 6).alias("p_a"),
        qround(p_b, 6).alias("p_b"),
        qround(z, 6).alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(float(critical)), F.lit(False)
        ).alias("significant"),
    )


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    precision: int = 3,
) -> DataFrame:
    """Exact ROC-AUC of a score against a boolean label via the
    rank-sum identity with tie correction — the one-number readout for
    "does the quality score actually separate keep from drop?" that
    calibration curves (score_calibration) only show piecewise.

    ``AUC = sum_s n_pos(s) * (cum_neg_below(s) + n_neg(s)/2) /
    (P * N)`` over the DISTINCT-score histogram — ties contribute the
    standard 1/2. Scores are rounded to ``precision`` decimals FIRST
    (stated): probability-like scores then live on a
    <= 10^precision + 1 point grid, which is what bounds the ordered
    window (the AUC of the rounded score is computed exactly; the
    rounding is the resolution trade, same discipline as the sketch
    family). One histogram aggregation + one bounded cumulative
    window + one global aggregate. Output one row:
    ``(n_pos, n_neg, auc)``; AUC NULL when either class is empty.

    The score/label columns are staged behind :func:`pinned` (r12):
    callers pass EXPRESSION-backed columns (the quality score is a
    regexp/tokenize tree), and Catalyst re-inlined that tree into the
    null filter and the rounded projection — every regexp ran ~4x per
    document. Pinned, each input expression evaluates exactly once;
    values are bit-identical (identity wrapper), and qround's
    null-propagation makes filtering the rounded column equivalent to
    filtering the raw one.
    """
    from pyspark.sql import Window

    from gordo_spark.functions.barrier import pinned

    base = df.select(
        pinned(F.col(score_col).cast("double")).alias("_raw"),
        pinned(F.col(label_col).cast("boolean")).alias("_y"),
    )
    s = qround(F.col("_raw"), int(precision))
    hist = (
        base.filter(s.isNotNull() & F.col("_y").isNotNull())
        .select(s.alias("_s"), "_y")
        .groupBy("_s")
        .agg(
            F.sum(F.col("_y").cast("long")).alias("_p"),
            F.sum((~F.col("_y")).cast("long")).alias("_q"),
        )
    )
    w = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "_s",
        "_p",
        "_q",
        (F.sum("_q").over(w) - F.col("_q")).alias("_negs_below"),
    )
    return cum.agg(
        F.sum("_p").alias("n_pos"),
        F.sum("_q").alias("n_neg"),
        qround(
            F.when(
                (F.sum("_p") > 0) & (F.sum("_q") > 0),
                F.sum(
                    F.col("_p")
                    * (F.col("_negs_below") + F.col("_q") / 2.0)
                )
                / (F.sum("_p") * F.sum("_q")),
            ),
            6,
        ).alias("auc"),
    )


def ab_power(
    events: DataFrame,
    unit_col: str = "user_id",
    success_col: str = "converted",
    mde_rel: float = 0.05,
    alpha_z: float = 1.96,
    power_z: float = 0.8416,
) -> DataFrame:
    """Experiment sizing from the OBSERVED baseline: per-arm sample
    size for a two-proportion test to detect a relative lift of
    ``mde_rel`` at the given alpha/power z-quantiles (defaults: 5%
    two-sided, 80% power) — the planning step that runs BEFORE
    :func:`ab_zstat`, answering "how long must this experiment run?".

    ``n_per_arm = 2 * (z_a + z_b)^2 * p(1-p) / (p * mde_rel)^2`` with
    ``p`` the observed per-unit conversion rate (the standard pooled
    approximation). One per-unit collapse + one 1-row aggregate; the
    z-quantiles are caller constants (no stats library needed —
    engine-portable arithmetic). Output one row: ``(n_units,
    baseline_rate, mde_abs, n_per_arm, runs_needed)`` — ``runs_needed``
    = ceil(2 * n_per_arm / observed units), how many times the current
    population must be collected. NULL sizing when the baseline is 0
    or 1 (no detectable lift exists).
    """
    per_unit = events.groupBy(unit_col).agg(
        F.max(F.col(success_col).cast("int")).alias("_s")
    )
    one = per_unit.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.avg("_s").alias("_p"),
    )
    p = F.col("_p")
    delta = p * F.lit(float(mde_rel))
    z2 = F.lit(float(alpha_z) + float(power_z)) ** 2
    n_arm = F.when(
        (p > 0) & (p < 1),
        F.ceil(2.0 * z2 * p * (1.0 - p) / (delta * delta)),
    )
    return one.select(
        "n_units",
        qround(p, 6).alias("baseline_rate"),
        qround(delta, 6).alias("mde_abs"),
        n_arm.cast("long").alias("n_per_arm"),
        F.when(
            n_arm.isNotNull(),
            F.ceil(2.0 * n_arm / F.col("n_units")),
        ).cast("long").alias("runs_needed"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy 1973):
    ``brier = reliability - resolution + uncertainty`` over
    fixed-width probability bins — the one-row companion to the
    bucket-level ``score_calibration`` curve. Reliability is the
    calibration error (0 = perfect), resolution is how far bin
    outcomes stray from the base rate (higher = more informative),
    uncertainty is the base rate's own variance.

    One (bin) histogram aggregation + one bounded summary; the exact
    per-row Brier rides the same pass. ``ece`` (expected calibration
    error, the quoted headline number: ``sum n_k/N * |sbar_k -
    ybar_k|``) rides the same histogram — reliability is its SQUARED
    cousin. Output one row: ``(n, brier, reliability, resolution,
    uncertainty, ece)``, all rounded to 6.
    """
    from gordo_spark.functions.barrier import pinned

    b = int(bins)
    # stage the (often expression-backed) score/label behind pinned so
    # the null filter and the bin/avg/sum consumers below do not
    # re-inline an expensive tree (see auc_exact; bit-identical values)
    staged = df.select(
        pinned(F.col(score_col).cast("double")).alias("_sr"),
        pinned(F.col(label_col).cast("int")).alias("_yr"),
    )
    s = F.col("_sr")
    y = F.col("_yr")
    binned = (
        staged.filter(s.isNotNull() & y.isNotNull())
        .select(
            # two-sided clamp (the stream_quantile_cells convention):
            # without greatest(0,...) a score below 0 mints a NEGATIVE
            # bin and silently corrupts the histogram, while scores
            # above 1 already collapse into bin b-1 — out-of-range
            # "probabilities" now clamp symmetrically at both edges
            F.greatest(
                F.lit(0),
                F.least(F.lit(b - 1), F.floor(s * b).cast("int")),
            ).alias("_bin"),
            s.alias("_s"),
            y.alias("_y"),
        )
        .groupBy("_bin")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg("_s").alias("_sbar"),
            F.avg(F.col("_y").cast("double")).alias("_ybar"),
            F.sum(
                (F.col("_s") - F.col("_y")) * (F.col("_s") - F.col("_y"))
            ).alias("_se"),
        )
    )
    base = binned.agg(
        (F.sum(F.col("_ybar") * F.col("_n")) / F.sum("_n")).alias("_base")
    )
    # resolution computed DIRECTLY (sum n_k (ybar_k - base)^2 / N), not
    # as the identity residual: with fixed-width bins the 3-term Murphy
    # identity holds only up to within-bin score variance, and deriving
    # resolution from it would silently absorb that term
    return binned.crossJoin(F.broadcast(base)).agg(
        F.sum("_n").alias("n"),
        qround(F.sum("_se") / F.sum("_n"), 6).alias("brier"),
        qround(
            F.sum(
                F.col("_n")
                * (F.col("_sbar") - F.col("_ybar"))
                * (F.col("_sbar") - F.col("_ybar"))
            )
            / F.sum("_n"),
            6,
        ).alias("reliability"),
        qround(
            F.sum(
                F.col("_n")
                * (F.col("_ybar") - F.col("_base"))
                * (F.col("_ybar") - F.col("_base"))
            )
            / F.sum("_n"),
            6,
        ).alias("resolution"),
        qround(
            F.max(F.col("_base")) * (1.0 - F.max(F.col("_base"))), 6
        ).alias("uncertainty"),
        qround(
            F.sum(F.col("_n") * F.abs(F.col("_sbar") - F.col("_ybar")))
            / F.sum("_n"),
            6,
        ).alias("ece"),
    )


def ab_cuped(
    events: DataFrame,
    unit_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    salt: str = "exp1",
    critical: float = 1.96,
) -> DataFrame:
    """CUPED variance reduction for the A/B metric (Deng et al. 2013
    — the industry-standard pre-experiment-covariate adjustment):
    per unit, the POST-period metric is adjusted by the unit's own
    PRE-period activity, ``adj = post - theta * (pre - mean(pre))``
    with ``theta = cov(pre, post) / var(pre)``, which strips the
    between-user variance the experiment didn't cause. The same
    decision statistic then needs a fraction of the sample ab_zstat
    needs (the reported ``variance_reduction`` IS that fraction).

    Period split: the observed time range's midpoint (the psi_drift
    convention — deterministic from the data, no config); metric =
    per-unit sum of ``value_col`` in each half. theta is fit on ALL
    units pooled (standard practice: fitting per-arm reintroduces a
    selection path). Plan: one per-unit collapse with conditional
    sums, one 1-row (theta, mean_pre) aggregate broadcast back, one
    2-row variant aggregate — everything map-side combinable, no
    windows. Output one row: ``(n_a, n_b, mean_adj_a, mean_adj_b,
    theta, variance_reduction, z, significant)``; z NULL on
    degenerate variance, significant coalesced to False (the ab_zstat
    sentinel discipline).
    """
    mid = events.agg(
        (
            (
                epoch_seconds(F.min(ts_col)) + epoch_seconds(F.max(ts_col))
            )
            / 2.0
        ).alias("_mid")
    )
    per_unit = (
        events.crossJoin(F.broadcast(mid))
        .groupBy(unit_col)
        .agg(
            F.sum(
                F.when(
                    epoch_seconds(F.col(ts_col)) < F.col("_mid"),
                    F.col(value_col),
                ).otherwise(F.lit(0.0))
            ).alias("_pre"),
            F.sum(
                F.when(
                    epoch_seconds(F.col(ts_col)) >= F.col("_mid"),
                    F.col(value_col),
                ).otherwise(F.lit(0.0))
            ).alias("_post"),
        )
    )
    assigned = ab_assign(per_unit, unit_col, 2, salt)
    fit = assigned.agg(
        F.covar_pop("_pre", "_post").alias("_cov"),
        F.var_pop("_pre").alias("_varpre"),
        F.avg("_pre").alias("_mpre"),
    )
    theta = F.when(F.col("_varpre") > 0, F.col("_cov") / F.col("_varpre")).otherwise(
        F.lit(0.0)
    )
    adj = assigned.crossJoin(F.broadcast(fit)).select(
        "variant",
        "_post",
        theta.alias("_theta"),
        (
            F.col("_post") - theta * (F.col("_pre") - F.col("_mpre"))
        ).alias("_adj"),
    )
    v = adj.groupBy("variant").agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_adj").alias("_m"),
        F.var_pop("_adj").alias("_v"),
        F.var_pop("_post").alias("_vraw"),
        F.max("_theta").alias("_th"),
    )
    one = v.agg(
        F.coalesce(F.sum(F.when(F.col("variant") == 0, F.col("_n"))), F.lit(0)).alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("variant") == 1, F.col("_n"))), F.lit(0)).alias("n_b"),
        F.max(F.when(F.col("variant") == 0, F.col("_m"))).alias("_ma"),
        F.max(F.when(F.col("variant") == 1, F.col("_m"))).alias("_mb"),
        F.max(F.when(F.col("variant") == 0, F.col("_v"))).alias("_va"),
        F.max(F.when(F.col("variant") == 1, F.col("_v"))).alias("_vb"),
        (F.sum(F.col("_v") * F.col("_n")) / F.sum("_n")).alias("_vadj"),
        (F.sum(F.col("_vraw") * F.col("_n")) / F.sum("_n")).alias("_vraw"),
        F.max("_th").alias("_theta"),
    )
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    se = F.when(
        both & (F.col("_va") >= 0) & (F.col("_vb") >= 0),
        F.sqrt(F.col("_va") / F.col("n_a") + F.col("_vb") / F.col("n_b")),
    )
    z = F.when(se > 0, (F.col("_mb") - F.col("_ma")) / se)
    return one.select(
        "n_a",
        "n_b",
        qround("_ma", 6).alias("mean_adj_a"),
        qround("_mb", 6).alias("mean_adj_b"),
        qround("_theta", 6).alias("theta"),
        qround(
            F.when(F.col("_vraw") > 0, 1.0 - F.col("_vadj") / F.col("_vraw")),
            6,
        ).alias("variance_reduction"),
        qround(z, 6).alias("z"),
        F.coalesce(F.abs(z) > F.lit(float(critical)), F.lit(False)).alias(
            "significant"
        ),
    )


def diff_in_diff(
    events: DataFrame,
    unit_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    salt: str = "exp1",
    critical: float = 1.96,
) -> DataFrame:
    """Difference-in-differences estimate over the md5-assigned arms:
    ``DiD = (B_post - B_pre) - (A_post - A_pre)`` on per-unit period
    means — the panel estimator that nets out both the arms' level
    difference AND the shared time trend (a post-only comparison
    confounds the launch with seasonality; a pre/post-only comparison
    confounds it with the arm's baseline). Period split at the
    observed midpoint (the psi_drift convention).

    Per-unit deltas (``post - pre``) carry the inference: the DiD
    point estimate is the difference of arm-mean deltas and its SE is
    the two-sample SE of those deltas, which respects within-unit
    correlation (unit-level clustering — the standard 2x2 DiD with
    panel data). One per-unit collapse + one 2-row arm aggregate.
    Output one row: ``(n_a, n_b, delta_a, delta_b, did, se, z,
    significant)``; the ab_zstat NULL-sentinel discipline applies.
    """
    mid = events.agg(
        (
            (epoch_seconds(F.min(ts_col)) + epoch_seconds(F.max(ts_col)))
            / 2.0
        ).alias("_mid")
    )
    per_unit = (
        events.crossJoin(F.broadcast(mid))
        .groupBy(unit_col)
        .agg(
            F.sum(
                F.when(
                    epoch_seconds(F.col(ts_col)) < F.col("_mid"),
                    F.col(value_col),
                ).otherwise(F.lit(0.0))
            ).alias("_pre"),
            F.sum(
                F.when(
                    epoch_seconds(F.col(ts_col)) >= F.col("_mid"),
                    F.col(value_col),
                ).otherwise(F.lit(0.0))
            ).alias("_post"),
        )
    )
    assigned = ab_assign(per_unit, unit_col, 2, salt).withColumn(
        "_d", F.col("_post") - F.col("_pre")
    )
    v = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_d").alias("_m"),
        F.var_pop("_d").alias("_v"),
    )
    one = v.agg(
        F.coalesce(
            F.sum(F.when(F.col("variant") == 0, F.col("_n"))), F.lit(0)
        ).alias("n_a"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == 1, F.col("_n"))), F.lit(0)
        ).alias("n_b"),
        F.max(F.when(F.col("variant") == 0, F.col("_m"))).alias("_da"),
        F.max(F.when(F.col("variant") == 1, F.col("_m"))).alias("_db"),
        F.max(F.when(F.col("variant") == 0, F.col("_v"))).alias("_va"),
        F.max(F.when(F.col("variant") == 1, F.col("_v"))).alias("_vb"),
    )
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    se = F.when(
        both,
        F.sqrt(F.col("_va") / F.col("n_a") + F.col("_vb") / F.col("n_b")),
    )
    did = F.col("_db") - F.col("_da")
    z = F.when(se > 0, did / se)
    return one.select(
        "n_a",
        "n_b",
        qround("_da", 6).alias("delta_a"),
        qround("_db", 6).alias("delta_b"),
        qround(did, 6).alias("did"),
        qround(se, 6).alias("se"),
        qround(z, 6).alias("z"),
        F.coalesce(F.abs(z) > F.lit(float(critical)), F.lit(False)).alias(
            "significant"
        ),
    )


def sliced_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    slice_col: str,
    precision: int = 3,
) -> DataFrame:
    """Per-slice ROC-AUC — the slice-finder readout for "where does the
    classifier stop working?": a score can carry a healthy global AUC
    while being useless (or inverted) on one language/source/segment,
    and the global number hides it. Same rank-sum arithmetic as
    :func:`auc_exact`, partitioned by the slice; the cumulative window
    is bounded per slice by the precision-rounded score grid. Slices
    missing a class report NULL auc (undefined, not silently 0.5).
    Output one row per slice: ``(slice, n_pos, n_neg, auc)``.

    Score/label staged behind :func:`pinned` exactly as in
    :func:`auc_exact` (callers pass expensive expression columns).
    """
    from pyspark.sql import Window

    from gordo_spark.functions.barrier import pinned

    base = df.select(
        F.col(slice_col).alias("_g"),
        pinned(F.col(score_col).cast("double")).alias("_raw"),
        pinned(F.col(label_col).cast("boolean")).alias("_y"),
    )
    s = qround(F.col("_raw"), int(precision))
    hist = (
        base.filter(
            s.isNotNull() & F.col("_y").isNotNull() & F.col("_g").isNotNull()
        )
        .select("_g", s.alias("_s"), "_y")
        .groupBy("_g", "_s")
        .agg(
            F.sum(F.col("_y").cast("long")).alias("_p"),
            F.sum((~F.col("_y")).cast("long")).alias("_q"),
        )
    )
    w = Window.partitionBy("_g").orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "_g",
        "_p",
        "_q",
        (F.sum("_q").over(w) - F.col("_q")).alias("_nb"),
    )
    return (
        cum.groupBy(F.col("_g").alias(slice_col))
        .agg(
            F.sum("_p").alias("n_pos"),
            F.sum("_q").alias("n_neg"),
            qround(
                F.when(
                    (F.sum("_p") > 0) & (F.sum("_q") > 0),
                    F.sum(F.col("_p") * (F.col("_nb") + F.col("_q") / 2.0))
                    / (F.sum("_p") * F.sum("_q")),
                ),
                6,
            ).alias("auc"),
        )
        .orderBy(slice_col)
    )


def ndcg_at_k(
    ranked: DataFrame,
    relevance: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """NDCG@k per query (Jarvelin & Kekalainen 2002) — the graded
    ranking-quality readout for the retrieval stack (bm25 / ANN / RRF /
    MMR all emit the ``(query, doc, rank)`` shape this consumes):
    ``DCG = sum (2^rel - 1) / log2(rank + 1)`` over the top k, divided
    by the ideal DCG of the query's OWN relevance multiset (top-k of
    relevance sorted descending). Docs missing from the relevance table
    count rel = 0 (the standard pooling convention); queries whose
    relevance is all-zero report NULL ndcg, not 0 (no ideal ordering
    exists to compare against — stated).

    Scale shape: one left join hangs labels on the bounded ranked
    table (retriever outputs are top-k-sized by construction), ideal
    DCG is a row_number window PARTITIONED by query over the same
    bounded frame, one final per-query aggregation. Output:
    ``(query_id, dcg, idcg, ndcg)`` rounded to 6.
    """
    from pyspark.sql import Window

    kk = int(k)
    r = (
        ranked.filter(F.col(rank_col) <= kk)
        .join(
            relevance.select(
                F.col(query_col), F.col(doc_col), F.col(rel_col)
            ),
            [query_col, doc_col],
            "left",
        )
        .select(
            query_col,
            F.col(rank_col).alias("_rank"),
            F.coalesce(F.col(rel_col), F.lit(0)).cast("double").alias("_rel"),
        )
    )
    dcg_term = (F.pow(F.lit(2.0), F.col("_rel")) - 1.0) / (
        F.log(F.col("_rank") + 1.0) / F.log(F.lit(2.0))
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("_rel").desc(), F.col("_rank").asc()
    )
    ideal_term = (F.pow(F.lit(2.0), F.col("_rel")) - 1.0) / (
        F.log(F.row_number().over(w) + 1.0) / F.log(F.lit(2.0))
    )
    per = r.select(
        query_col,
        dcg_term.alias("_d"),
        ideal_term.alias("_i"),
    ).groupBy(query_col).agg(
        qround(F.sum("_d"), 6).alias("dcg"),
        qround(F.sum("_i"), 6).alias("idcg"),
    )
    return per.select(
        query_col,
        "dcg",
        "idcg",
        qround(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")), 6
        ).alias("ndcg"),
    )


def lift_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
    id_col: str | None = None,
) -> DataFrame:
    """Cumulative gains / lift table — the campaign-targeting readout
    ("mail the top 2 deciles"): rank rows by score descending into
    ``n_buckets`` equal-count buckets, report each bucket's response
    rate and the CUMULATIVE lift (captured positives through this
    bucket vs a random baseline of the same depth). The operational
    companion to auc_exact (AUC summarizes; the lift table says where
    to cut).

    Deterministic bucketing with NO corpus-sized window: scores round
    to ``precision`` decimals (the auc_exact grid convention) and the
    split runs through ``ranking.distributed_ntile`` — exact SQL
    ``ntile(k) OVER (ORDER BY score DESC, id)`` semantics computed from
    the DISTINCT-score histogram (<= 10^precision + 1 rows), so the
    only unpartitioned windows in the plan are grid- or
    n_buckets-bounded, never row-cardinality (the revenue_pareto
    shape). ``id_col`` is the required tie-break (engine-portable
    split). Output per bucket: ``(bucket, n, n_pos, response_rate,
    cum_pos, cum_lift)``.
    """
    from pyspark.sql import Window

    from gordo_spark.operators.ranking import distributed_ntile

    if id_col is None:
        raise ValueError("lift_curve needs id_col for a deterministic split")
    precision = 3
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    rows = df.filter(s.isNotNull() & y.isNotNull()).select(
        F.col(id_col),
        (-qround(s, precision)).alias("_negp"),
        y.alias("_y"),
    )
    binned = (
        distributed_ntile(
            rows, int(n_buckets), "_negp", id_col=id_col, out_col="bucket"
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("n_pos"))
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = binned.agg(
        F.sum("n").alias("_tn"), F.sum("n_pos").alias("_tp")
    )
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n",
            "n_pos",
            qround(F.col("n_pos") / F.col("n"), 6).alias("response_rate"),
            F.sum("n_pos").over(wc).alias("cum_pos"),
            qround(
                (F.sum("n_pos").over(wc) / F.col("_tp"))
                / (F.sum("n").over(wc) / F.col("_tn")),
                6,
            ).alias("cum_lift"),
        )
        .orderBy("bucket")
    )


# Poisson(1) CDF, cumulative e^-1 * sum 1/k!: the deterministic-bootstrap
# weight thresholds (weights capped at 6 — P(w > 6) ~ 8e-5, negligible
# and STATED; the cap keeps the CASE chain short and both engines agree)
_POISSON1_CDF = (
    0.36787944117144233,  # k = 0
    0.7357588823428847,   # k = 1
    0.9196986029286058,   # k = 2
    0.9810118431238462,   # k = 3
    0.9963401531726563,   # k = 4
    0.9994058151824183,   # k = 5
)


def bootstrap_ci_mean(
    df: DataFrame,
    value_col: str,
    n_boot: int = 100,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    salt: str = "boot",
    id_col: str | None = None,
) -> DataFrame:
    """Deterministic POISSON BOOTSTRAP confidence interval for a mean
    (Chamandy et al. 2012, Google's at-scale bootstrap): classic
    resampling needs N draws per replicate — impossible distributed —
    but multinomial(N, 1/N) counts converge to independent Poisson(1)
    weights, so each row can compute its own weight per replicate as a
    PURE FUNCTION of ``md5(salt || b || id)`` (no RNG — M9; any engine
    reproduces the same CI bit-for-bit, unlike every classical
    bootstrap). Replicate b's mean = sum(w_b * x) / sum(w_b); the CI is
    the empirical [lo_q, hi_q] of the ``n_boot`` replicate means.

    Scale shape: ONE pass — 2 * n_boot map-side-combinable sums in a
    single keyless hash aggregation (no explode: the data is never
    replicated n_boot times), then the replicate means form a bounded
    n_boot-length ARRAY whose sort + quantile read happen row-locally
    in the 1-row result. Weights come from inverting the Poisson(1)
    CDF at u = (h16 + 0.5) / 2^16, capped at 6 (P ~ 6e-4 on the 16-bit
    lattice, stated). The md5 is the per-row cost driver, so each
    digest is harvested EIGHT ways — an md5 is 128 bits and a Poisson
    inversion needs only a 16-bit uniform (the CDF's coarsest cell is
    ~39 lattice points wide), so replicates b = 8g..8g+7 read the
    eight 4-hex lanes of ``md5(salt || g || id)``: 13 digests/row for
    B=100 instead of the 4-lane harvest's 25 (which itself measured
    22.3 -> ~6 s at sf0.1; lanes of one digest are independent bits,
    exactly as independent as two digests). The hashes materialize as
    ceil(B/8) columns in a pre-aggregation projection so codegen
    computes each digest ONCE per row regardless of aggregate-side
    CSE. Replicates whose weight sum is 0 (possible only on tiny
    inputs) yield no mean; the quantile band is taken over the VALID
    replicates. Output one row: ``(n, mean, ci_lo, ci_hi, n_boot)``
    rounded to 6.
    """
    if id_col is None:
        raise ValueError("bootstrap_ci_mean needs id_col (hash identity)")
    b_count = int(n_boot)
    x = F.col(value_col).cast("double")
    n_groups = (b_count + 7) // 8
    # id is cast to string JVM-side so the bytes hashed below are
    # byte-identical to the previous F.md5(concat(lit, cast)) form
    base = df.filter(x.isNotNull()).select(
        F.col(id_col).cast("string").alias("_id"), x.alias("_x")
    )
    # the digest work is the cost driver and is PER-ROW parallel — but a
    # few-file scan underparallelizes it (measured: 3 input splits on 32
    # cores = 21 s at sf0.1). When the scan is narrower than the core
    # count, one cheap repartition of the two-column frame restores full
    # width; at real scale the scan already exceeds core count and this
    # branch is a no-op.
    target = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target)

    # Per-partition partial sums via ONE vectorized numpy pass (guide
    # §4.2): the previous form materialized B weight projection columns
    # and a 2B+2-field hash aggregate — >spark.sql.codegen.maxFields
    # (100), so the whole stage fell out of codegen into interpreted
    # eval, and the ~500-expression plan cost seconds to analyze/compile
    # before the first row moved (profiled: build+plan+run 12.8 s at
    # sf0.1). Here each Arrow batch computes the same md5-lane uniforms
    # (hashlib md5 == Spark md5; big-endian 16-bit lanes of the digest
    # == the 4-hex-char substrings) and the same Poisson(1) CDF
    # inversion (np.searchsorted(cdf, u, side="right") == the nested
    # CASE chain), then folds the batch into B-length partial s/w
    # vectors with one matmul. Only ~(partitions x B) doubles reach the
    # final single-row aggregate, whose elementwise combine is exact
    # float addition in a zip_with fold — the same partial-then-combine
    # association the previous hash aggregate performed.
    cdf = np.asarray(_POISSON1_CDF)
    prefixes = [f"{salt}g{g}:".encode() for g in range(n_groups)]

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import md5

        n = 0
        sx = 0.0
        s = np.zeros(b_count)
        w = np.zeros(b_count)
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            ids = [v.encode() for v in pdf["_id"]]
            xs = pdf["_x"].to_numpy(dtype=np.float64)
            U = np.empty((m, 8 * n_groups))
            for g, pre in enumerate(prefixes):
                dig = b"".join(md5(pre + i).digest() for i in ids)
                lanes = np.frombuffer(dig, dtype=">u2").reshape(m, 8)
                U[:, 8 * g : 8 * g + 8] = (
                    lanes.astype(np.float64) + 0.5
                ) / 65536.0
            W = np.searchsorted(cdf, U[:, :b_count], side="right").astype(
                np.float64
            )
            n += m
            sx += float(xs.sum())
            s += W.T @ xs
            w += W.sum(axis=0)
        yield pd.DataFrame(
            {"_n": [n], "_sx": [sx], "_s": [s.tolist()], "_w": [w.tolist()]}
        )

    parts = base.mapInPandas(
        _partials,
        schema="_n long, _sx double, _s array<double>, _w array<double>",
    )
    zeros = F.array_repeat(F.lit(0.0), b_count)

    def _vsum(c: str) -> Column:
        return F.aggregate(
            F.collect_list(c),
            zeros,
            lambda acc, v: F.zip_with(acc, v, lambda p, q: p + q),
        )

    one = parts.agg(
        F.sum("_n").alias("n"),
        (F.sum("_sx") / F.sum("_n")).alias("_mean"),
        _vsum("_s").alias("_sv"),
        _vsum("_w").alias("_wv"),
    )
    # zero-weight replicates (tiny inputs only) produce NULL means;
    # compact them out so quantiles index the VALID replicates
    means = F.array_compact(
        F.array_sort(
            F.zip_with("_sv", "_wv", lambda sv, wv: F.when(wv > 0, sv / wv))
        )
    )
    nv = F.size(means)

    # lower empirical quantile: element at ceil(q * n_valid)
    # (1-indexed), clamped — deterministic, no interpolation
    def pick(q: float):
        idx = F.least(
            F.greatest(F.ceil(F.lit(q) * nv).cast("int"), F.lit(1)), nv
        )
        return F.when(nv > 0, F.element_at(means, idx))

    return one.select(
        "n",
        qround(F.col("_mean"), 6).alias("mean"),
        qround(pick(float(lo_q)), 6).alias("ci_lo"),
        qround(pick(float(hi_q)), 6).alias("ci_hi"),
        F.lit(b_count).alias("n_boot"),
    )


def srm_check(
    df: DataFrame,
    unit_col: str,
    n_variants: int = 2,
    salt: str = "exp1",
    critical: float | None = None,
) -> DataFrame:
    """Sample-ratio-mismatch gate: chi-square goodness-of-fit of the
    md5-assigned variant counts against an equal split — the FIRST
    check any experiment readout must pass (a biased split invalidates
    ab_zstat/ab_cuped downstream; SRM shows up in ~6% of real
    experiments per Fabijan et al. 2019). Because assignment here is a
    pure hash of the unit id, a flagged mismatch means PIPELINE loss
    (logging, filtering, join fan-out) rather than randomizer bias —
    which is exactly the failure worth alarming on.

    Uses the equal-expected identity ``chi2 = k * sum(n_v^2) / N - N``
    so the statistic folds into ONE k-row aggregate after the distinct
    collapse — two map-side-combinable exchanges, no windows, no joins.
    Critical values default to alpha = 0.001 at k-1 dof (the
    SRM-standard strictness). Output one row: ``(n_units, n_variants,
    min_count, max_count, chi2, srm)``.
    """
    _CRIT_001 = {2: 10.828, 3: 13.816, 4: 16.266, 5: 18.467}
    if critical is None:
        if int(n_variants) not in _CRIT_001:
            raise ValueError(
                "no default critical value for n_variants="
                f"{n_variants}; pass critical= explicitly"
            )
        critical = _CRIT_001[int(n_variants)]
    units = (
        df.select(F.col(unit_col))
        .filter(F.col(unit_col).isNotNull())
        .distinct()
    )
    per = (
        ab_assign(units, unit_col, n_variants=n_variants, salt=salt)
        .groupBy("variant")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    k = F.lit(float(n_variants))
    return per.agg(
        F.sum("_n").alias("n_units"),
        F.lit(int(n_variants)).alias("n_variants"),
        F.min("_n").alias("min_count"),
        F.max("_n").alias("max_count"),
        qround(
            k * F.sum(F.col("_n") * F.col("_n")) / F.sum("_n")
            - F.sum("_n"),
            6,
        ).alias("chi2"),
        (
            k * F.sum(F.col("_n") * F.col("_n")) / F.sum("_n")
            - F.sum("_n")
            > F.lit(float(critical))
        ).alias("srm"),
    )


def mann_whitney(
    df: DataFrame,
    group_col: str,
    value_col: str,
    precision: int = 3,
    critical: float = 1.96,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test with the
    normal approximation and tie correction — the nonparametric
    companion to ab_zstat/ab_cuped for heavy-tailed per-unit metrics
    (spend, latency) where a mean test is dominated by outliers.
    ``group_col`` must be 0/1 (control/treatment).

    Values are rounded to ``precision`` decimals FIRST (stated — the
    auc_exact grid convention), so everything runs on the
    DISTINCT-value histogram: average ranks come from one cumulative
    window over the grid, ``U1 = R1 - n1(n1+1)/2``, and the
    tie-corrected variance ``n1*n2/12 * ((N+1) - sum(t^3-t)/
    (N*(N-1)))``. Rank sums are carried as DOUBLED integers
    (``2*rbar = 2*cum(t) - t + 1``) so every accumulation is exact
    LONG arithmetic — the float math happens once, at the end, from
    integer sufficient statistics, which keeps u1/z bit-reproducible
    across engines (a float rank sum over a large grid would drift
    past 6dp). One histogram aggregation + one grid-bounded window +
    one global aggregate — never a row-cardinality window. Output one
    row: ``(n0, n1, u1, z, significant)``; z NULL when either group is
    empty or all values tie.
    """
    from pyspark.sql import Window

    v = qround(F.col(value_col).cast("double"), int(precision))
    g = F.col(group_col).cast("int")
    hist = (
        df.filter(v.isNotNull() & g.isNotNull())
        .select(v.alias("_v"), g.alias("_g"))
        .groupBy("_v")
        .agg(
            F.count(F.lit(1)).alias("_t"),
            F.sum("_g").cast("long").alias("_t1"),
        )
    )
    w = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = hist.select(
        "_v",
        "_t",
        "_t1",
        # doubled average rank for the tie group: integer-exact
        (2 * F.sum("_t").over(w) - F.col("_t") + 1).alias("_rbar2"),
    )
    agg = ranked.agg(
        (F.sum("_t") - F.sum("_t1")).alias("_n0"),
        F.sum("_t1").alias("_n1"),
        F.sum(F.col("_t1") * F.col("_rbar2")).alias("_r2"),
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_ties"),
    )
    n0, n1 = F.col("_n0"), F.col("_n1")
    nn = n0 + n1
    u1 = (F.col("_r2") - n1 * (n1 + 1)) / 2.0
    var = (
        n0 * n1 / 12.0
        * ((nn + 1) - F.col("_ties") / (nn * (nn - 1)))
    )
    z = (u1 - n0 * n1 / 2.0) / F.sqrt(var)
    return agg.select(
        n0.alias("n0"),
        n1.alias("n1"),
        qround(u1, 6).alias("u1"),
        qround(
            F.when((n0 > 0) & (n1 > 0) & (var > 0), z), 6
        ).alias("z"),
        F.coalesce(
            F.when(
                (n0 > 0) & (n1 > 0) & (var > 0),
                F.abs(z) > F.lit(float(critical)),
            ),
            F.lit(False),
        ).alias("significant"),
    )


def mrr_at_k(
    ranked: DataFrame,
    relevance: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Mean reciprocal rank @ k — the "how fast does the user hit ONE
    good result" summary that complements ndcg_at_k's graded view
    (MRR only credits the FIRST relevant hit; NDCG credits them all).
    Same input contract as ndcg_at_k: ``ranked(query, doc, rank)``
    joined to binary ``relevance(query, doc, rel)``.

    Per query: ``rr = 1 / min(rank of a relevant doc <= k)``, 0 when
    nothing relevant lands in the top k (stated — the standard
    convention, so MRR averages over ALL queries, not just hits).
    One join + one query-keyed aggregate + one 1-row readout. Output:
    ``(n_queries, n_hit, hit_rate, mrr)``.
    """
    r = (
        ranked.filter(F.col(rank_col) <= int(k))
        .join(relevance, [query_col, doc_col], "left")
        .select(
            F.col(query_col).alias("_q"),
            F.col(rank_col).alias("_rank"),
            (F.coalesce(F.col(rel_col), F.lit(0)) > 0).alias("_hit"),
        )
    )
    per = r.groupBy("_q").agg(
        F.min(F.when(F.col("_hit"), F.col("_rank"))).alias("_first")
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.col("_first").isNotNull().cast("long")).alias("n_hit"),
        qround(
            F.avg(F.col("_first").isNotNull().cast("double")), 6
        ).alias("hit_rate"),
        qround(
            F.avg(
                F.coalesce(1.0 / F.col("_first"), F.lit(0.0))
            ),
            6,
        ).alias("mrr"),
    )


def qini_curve(
    df: DataFrame,
    score_col: str,
    treatment_col: str,
    label_col: str,
    n_buckets: int = 10,
    id_col: str | None = None,
) -> DataFrame:
    """Qini / uplift deciles — lift_curve's causal sibling: rank units
    by a targeting score, split into equal-count buckets, and report
    per-bucket uplift (treated response rate minus control response
    rate) plus the cumulative Qini statistic ``cum_pos_t -
    cum_pos_c * cum_n_t / cum_n_c`` (Radcliffe 2007): the incremental
    conversions the campaign bought through this depth, vs "mail
    nobody". A score that ranks PERSUADABLES first shows a steep early
    Qini; a score that merely ranks likely buyers (lift_curve's view)
    can show zero.

    Same deterministic machinery as lift_curve: scores round to the
    3-decimal grid and split via ranking.distributed_ntile (exact
    ``ntile(k) OVER (ORDER BY score DESC, id)`` semantics with no
    corpus-sized window); buckets then fold into one k-row aggregate +
    one n_buckets-bounded cumulative window. Output per bucket:
    ``(bucket, n_t, n_c, pos_t, pos_c, uplift, cum_qini)``; uplift
    NULL in a bucket missing either arm.
    """
    from pyspark.sql import Window

    from gordo_spark.operators.ranking import distributed_ntile

    if id_col is None:
        raise ValueError("qini_curve needs id_col for a deterministic split")
    s = F.col(score_col).cast("double")
    t = F.col(treatment_col).cast("int")
    y = F.col(label_col).cast("int")
    rows = df.filter(
        s.isNotNull() & t.isNotNull() & y.isNotNull()
    ).select(
        F.col(id_col),
        (-qround(s, 3)).alias("_negp"),
        t.alias("_t"),
        y.alias("_y"),
    )
    binned = (
        distributed_ntile(
            rows, int(n_buckets), "_negp", id_col=id_col, out_col="bucket"
        )
        .groupBy("bucket")
        .agg(
            F.sum("_t").alias("n_t"),
            F.sum(1 - F.col("_t")).alias("n_c"),
            F.sum(F.col("_t") * F.col("_y")).alias("pos_t"),
            F.sum((1 - F.col("_t")) * F.col("_y")).alias("pos_c"),
        )
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cnt, cnc = F.sum("n_t").over(wc), F.sum("n_c").over(wc)
    cpt, cpc = F.sum("pos_t").over(wc), F.sum("pos_c").over(wc)
    return binned.select(
        "bucket",
        "n_t",
        "n_c",
        "pos_t",
        "pos_c",
        qround(
            F.when(
                (F.col("n_t") > 0) & (F.col("n_c") > 0),
                F.col("pos_t") / F.col("n_t")
                - F.col("pos_c") / F.col("n_c"),
            ),
            6,
        ).alias("uplift"),
        qround(
            F.when(cnc > 0, cpt - cpc * cnt / cnc), 6
        ).alias("cum_qini"),
    ).orderBy("bucket")


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    margin: float,
    critical: float = 1.6449,
) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987, normal approximation):
    the readout ab_zstat cannot give — "are these two arms the SAME to
    within ``margin``?" (failing to reject difference is NOT evidence
    of equivalence; TOST is). Two one-sided z-tests of the mean
    difference against ±margin: equivalent iff
    ``(diff + margin)/se > z_a`` AND ``(margin - diff)/se > z_a``
    (default z_0.05 = 1.6449). ``group_col`` must be 0/1.

    One aggregation of per-arm sufficient statistics (n, sum, sum of
    squares — Welch-style unpooled se) — a single map-side-combinable
    exchange, no windows, no joins. Output one row: ``(n0, n1, diff,
    se, z_lower, z_upper, equivalent)``; z's NULL (equivalent false)
    when either arm is empty or variance degenerates to 0.
    """
    g = F.col(group_col).cast("int")
    v = F.col(value_col).cast("double")
    base = df.filter(g.isNotNull() & v.isNotNull()).select(
        g.alias("_g"), v.alias("_v")
    )
    agg = base.agg(
        F.sum(F.when(F.col("_g") == 0, 1).otherwise(0)).alias("_n0"),
        F.sum(F.when(F.col("_g") == 1, 1).otherwise(0)).alias("_n1"),
        F.sum(F.when(F.col("_g") == 0, F.col("_v")).otherwise(0.0)).alias("_s0"),
        F.sum(F.when(F.col("_g") == 1, F.col("_v")).otherwise(0.0)).alias("_s1"),
        F.sum(
            F.when(F.col("_g") == 0, F.col("_v") * F.col("_v")).otherwise(0.0)
        ).alias("_q0"),
        F.sum(
            F.when(F.col("_g") == 1, F.col("_v") * F.col("_v")).otherwise(0.0)
        ).alias("_q1"),
    )
    n0, n1 = F.col("_n0"), F.col("_n1")
    # ANSI mode: guard every denominator (the guarded value only flows
    # when the gate below is false, where the output is NULL anyway)
    g0, g1 = F.greatest(n0, F.lit(1)), F.greatest(n1, F.lit(1))
    m0, m1 = F.col("_s0") / g0, F.col("_s1") / g1
    var0 = F.col("_q0") / g0 - m0 * m0
    var1 = F.col("_q1") / g1 - m1 * m1
    se = F.sqrt(F.greatest(var0 / g0 + var1 / g1, F.lit(0.0)))
    diff = m1 - m0
    mg = F.lit(float(margin))
    ok = (n0 > 0) & (n1 > 0) & (se > 0)
    zl = F.when(se > 0, (diff + mg) / se)
    zu = F.when(se > 0, (mg - diff) / se)
    crit = F.lit(float(critical))
    return agg.select(
        n0.alias("n0"),
        n1.alias("n1"),
        qround(F.when((n0 > 0) & (n1 > 0), diff), 6).alias("diff"),
        qround(F.when(ok, se), 6).alias("se"),
        qround(F.when(ok, zl), 6).alias("z_lower"),
        qround(F.when(ok, zu), 6).alias("z_upper"),
        F.coalesce(
            F.when(ok, (zl > crit) & (zu > crit)), F.lit(False)
        ).alias("equivalent"),
    )


def pr_at_k(
    ranked: DataFrame,
    relevance: DataFrame,
    rel_totals: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    total_col: str = "n_rel",
) -> DataFrame:
    """Precision/recall/F1 @ k per query — the cut-depth readout
    between mrr_at_k (first hit only) and ndcg_at_k (graded): precision
    = relevant-in-top-k / k, recall = relevant-in-top-k / total
    relevant in the corpus (``rel_totals``, which the top-k frame
    cannot know — the caller supplies the corpus-side count, e.g. a
    label histogram). Same ranked/relevance contract as the other two.

    One join + one query-keyed aggregate + one |queries|-row join.
    Output per query: ``(query_id, n_rel_at_k, n_rel_total, precision,
    recall, f1)``; recall/f1 NULL when the query has no relevant docs
    at all.
    """
    r = (
        ranked.filter(F.col(rank_col) <= int(k))
        .join(relevance, [query_col, doc_col], "left")
        .groupBy(query_col)
        .agg(
            F.sum(
                (F.coalesce(F.col(rel_col), F.lit(0)) > 0).cast("long")
            ).alias("n_rel_at_k")
        )
    )
    out = r.join(
        rel_totals.select(
            F.col(query_col), F.col(total_col).alias("n_rel_total")
        ),
        query_col,
        "left",
    )
    p = F.col("n_rel_at_k") / F.lit(float(k))
    rec = F.when(
        F.col("n_rel_total") > 0,
        F.col("n_rel_at_k") / F.col("n_rel_total"),
    )
    return out.select(
        query_col,
        "n_rel_at_k",
        F.coalesce(F.col("n_rel_total"), F.lit(0)).alias("n_rel_total"),
        qround(p, 6).alias("precision"),
        qround(rec, 6).alias("recall"),
        qround(
            F.when(
                (F.col("n_rel_total") > 0) & ((p + rec) > 0),
                2.0 * p * rec / (p + rec),
            ),
            6,
        ).alias("f1"),
    ).orderBy(query_col)


def stream_srm_counts(
    stream: DataFrame,
    unit_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    n_variants: int = 2,
    salt: str = "exp1",
) -> DataFrame:
    """Streaming feed for the SRM gate: per (window, variant) EVENT
    counts with the same md5 assignment as :func:`srm_check` — the
    monitor that catches pipeline loss WHILE the experiment runs
    instead of at readout time. Event-level by design (stated):
    unit-level SRM needs a dedup stage, which composes upstream via
    the streaming exact-dedup operator; a logging regression shows up
    in event counts first anyway. One watermarked windowed
    aggregation; state = open windows x k counters (bounded).
    Works identically on a batch frame (stream==batch contract in
    tests). Feed the output to :func:`srm_verdict_from_counts`.
    """
    frame = ab_assign(stream, unit_col, n_variants=n_variants, salt=salt)
    if frame.isStreaming:
        frame = frame.withWatermark(ts_col, watermark)
    return (
        frame.groupBy(F.window(F.col(ts_col), window), "variant")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "variant", "n"
        )
    )


def srm_verdict_from_counts(
    counts: DataFrame,
    n_variants: int = 2,
    critical: float | None = None,
) -> DataFrame:
    """Batch-side readout over :func:`stream_srm_counts` output (from
    the streaming sink or the batch twin): per window, the same
    equal-expected chi-square identity as :func:`srm_check`. k-row
    groups — one aggregation, no windows."""
    _CRIT_001 = {2: 10.828, 3: 13.816, 4: 16.266, 5: 18.467}
    if critical is None:
        if int(n_variants) not in _CRIT_001:
            raise ValueError(
                f"no default critical value for n_variants={n_variants}; "
                "pass critical= explicitly (srm_check's guard)"
            )
        critical = _CRIT_001[int(n_variants)]
    k = F.lit(float(n_variants))
    return (
        counts.groupBy("window_start")
        .agg(
            F.sum("n").alias("n_events"),
            qround(
                k * F.sum(F.col("n") * F.col("n")) / F.sum("n")
                - F.sum("n"),
                6,
            ).alias("chi2"),
            (
                k * F.sum(F.col("n") * F.col("n")) / F.sum("n")
                - F.sum("n")
                > F.lit(float(critical))
            ).alias("srm"),
        )
        .orderBy("window_start")
    )


def msprt_monitor(
    events: DataFrame,
    unit_col: str = "user_id",
    success_col: str = "converted",
    ts_col: str = "ts",
    window: str = "1D",
    salt: str = "exp1",
    tau2: float = 0.0001,
    alpha: float = 0.05,
) -> DataFrame:
    """ALWAYS-VALID sequential A/B monitoring via the mixture SPRT
    (Robbins 1970; Johari, Koomen, Pekelis & Walsh 2017 — the "peeking
    problem" fix): a fixed-horizon z-test read daily inflates false
    positives far above alpha; the mSPRT's mixture likelihood ratio

        Lambda_t = sqrt(V_t / (V_t + tau2))
                   * exp(theta_t^2 * tau2 / (2 V_t (V_t + tau2)))

    over CUMULATIVE two-sample stats (theta_t = p1 - p0, V_t = pooled
    p(1-p)(1/n0 + 1/n1)) is a nonnegative supermartingale under H0, so
    ``p_t = 1 / max_{s<=t} Lambda_s`` is a p-value valid at EVERY
    look simultaneously — stop whenever you like. ``tau2`` is the
    mixture prior on effect size (set it near the MDE^2).

    Plan shape: one (window, variant) count aggregate; cumulative sums
    via a window PARTITIONED BY VARIANT (never keyless — 2 partitions
    x #windows); the two variants meet in an equi-join on the window
    start; the running max runs as a bounded self range-join on the
    1-row-per-window Lambda frame (W^2 pairs with W
    experiment-calendar-bounded — weeks of daily windows, not corpus
    rows). Per-event Bernoulli counting (stated; collapse to units
    upstream for per-user analysis). Output per window:
    ``(window_start, n_a, n_b, conv_a, conv_b, diff, lam, p_always,
    crossed)``.
    """
    from pyspark.sql import Window

    from gordo_spark.functions.timeutil import offset_alias_to_seconds

    secs = int(offset_alias_to_seconds(window))
    d = ab_assign(
        events.select(unit_col, success_col, ts_col), unit_col, 2, salt
    ).select(
        F.timestamp_seconds(
            F.floor(F.col(ts_col).cast("timestamp").cast("double") / secs)
            .cast("long")
            * secs
        ).alias("_w"),
        "variant",
        F.col(success_col).cast("int").alias("_s"),
    )
    # pin the (window, variant) count table ONCE (r12, guide §5): it is
    # experiment-calendar bounded (#windows x 2 rows), while downstream
    # the a/b split, the window join, and the running-max self range-join
    # re-referenced the unpinned subtree until the plan held TWELVE
    # parquet scans of the event table (plans/r12/msprt_monitor_before) —
    # each re-running the per-event md5 assignment. One scan now.
    per = d.groupBy("_w", "variant").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_s").alias("_c")
    ).localCheckpoint()
    wv = Window.partitionBy("variant").orderBy("_w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select(
        "_w",
        "variant",
        F.sum("_n").over(wv).alias("_cn"),
        F.sum("_c").over(wv).alias("_cc"),
    )
    a = cum.filter(F.col("variant") == 0).select(
        "_w", F.col("_cn").alias("n_a"), F.col("_cc").alias("conv_a")
    )
    b = cum.filter(F.col("variant") == 1).select(
        "_w", F.col("_cn").alias("n_b"), F.col("_cc").alias("conv_b")
    )
    j = a.join(b, "_w")
    n0 = F.col("n_a").cast("double")
    n1 = F.col("n_b").cast("double")
    p0 = F.col("conv_a") / n0
    p1 = F.col("conv_b") / n1
    pp = (F.col("conv_a") + F.col("conv_b")) / (n0 + n1)
    v = pp * (1 - pp) * (1.0 / n0 + 1.0 / n1)
    theta = p1 - p0
    t2 = F.lit(float(tau2))
    lam = F.when(
        v > 0,
        F.sqrt(v / (v + t2))
        * F.exp(theta * theta * t2 / (2.0 * v * (v + t2))),
    )
    lamf = j.select(
        F.col("_w"), "n_a", "n_b", "conv_a", "conv_b",
        theta.alias("_theta"), lam.alias("_lam"),
    )
    run = (
        lamf.alias("x")
        .join(
            lamf.select("_w", "_lam").alias("y"),
            F.col("y._w") <= F.col("x._w"),
        )
        .groupBy("x._w")
        .agg(F.max("y._lam").alias("_mx"))
        .select(F.col("_w"), F.col("_mx"))
    )
    return (
        lamf.join(run, "_w")
        .select(
            F.col("_w").alias("window_start"),
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            qround(F.col("_theta"), 6).alias("diff"),
            qround(F.col("_lam"), 6).alias("lam"),
            qround(
                F.least(F.lit(1.0), 1.0 / F.col("_mx")), 6
            ).alias("p_always"),
            F.coalesce(
                F.col("_mx") >= F.lit(1.0 / float(alpha)), F.lit(False)
            ).alias("crossed"),
        )
        .orderBy("window_start")
    )


def msprt_from_counts(
    counts: DataFrame,
    tau2: float = 0.0001,
    alpha: float = 0.05,
) -> DataFrame:
    """:func:`msprt_monitor`'s readout over a PRE-AGGREGATED per-(window,
    variant) count table — the batch side of the streaming experiment
    monitor (``streaming/quality.stream_ab_counts`` lands exactly this
    shape at its sink; this function turns the landed counts into the
    always-valid sequential verdict, the stream_srm_counts /
    srm_verdict_from_counts two-stage pattern applied to the mSPRT).
    Expects columns ``(window_start, variant, n_events, n_success)``;
    identical formula path to msprt_monitor, so monitor == counts-then-
    readout is pinned in tests. Output matches msprt_monitor.
    """
    from pyspark.sql import Window

    wv = Window.partitionBy("variant").orderBy("window_start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = counts.select(
        F.col("window_start").alias("_w"),
        "variant",
        F.sum("n_events").over(wv).alias("_cn"),
        F.sum("n_success").over(wv).alias("_cc"),
    )
    a = cum.filter(F.col("variant") == 0).select(
        "_w", F.col("_cn").alias("n_a"), F.col("_cc").alias("conv_a")
    )
    b = cum.filter(F.col("variant") == 1).select(
        "_w", F.col("_cn").alias("n_b"), F.col("_cc").alias("conv_b")
    )
    j = a.join(b, "_w")
    n0 = F.col("n_a").cast("double")
    n1 = F.col("n_b").cast("double")
    p0 = F.col("conv_a") / n0
    p1 = F.col("conv_b") / n1
    pp = (F.col("conv_a") + F.col("conv_b")) / (n0 + n1)
    v = pp * (1 - pp) * (1.0 / n0 + 1.0 / n1)
    theta = p1 - p0
    t2 = F.lit(float(tau2))
    lam = F.when(
        v > 0,
        F.sqrt(v / (v + t2))
        * F.exp(theta * theta * t2 / (2.0 * v * (v + t2))),
    )
    lamf = j.select(
        F.col("_w"), "n_a", "n_b", "conv_a", "conv_b",
        theta.alias("_theta"), lam.alias("_lam"),
    )
    run = (
        lamf.alias("x")
        .join(
            lamf.select("_w", "_lam").alias("y"),
            F.col("y._w") <= F.col("x._w"),
        )
        .groupBy("x._w")
        .agg(F.max("y._lam").alias("_mx"))
        .select(F.col("_w"), F.col("_mx"))
    )
    return (
        lamf.join(run, "_w")
        .select(
            F.col("_w").alias("window_start"),
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            qround(F.col("_theta"), 6).alias("diff"),
            qround(F.col("_lam"), 6).alias("lam"),
            qround(
                F.least(F.lit(1.0), 1.0 / F.col("_mx")), 6
            ).alias("p_always"),
            F.coalesce(
                F.col("_mx") >= F.lit(1.0 / float(alpha)), F.lit(False)
            ).alias("crossed"),
        )
        .orderBy("window_start")
    )


def holm_ab(
    per_unit: DataFrame,
    metric_cols: "list[str]",
    unit_col: str = "user_id",
    salt: str = "exp1",
    alpha: float = 0.05,
) -> DataFrame:
    """Multiple-testing-honest A/B readout: K binary metrics per unit,
    each tested with the pooled two-proportion z, then HOLM's step-down
    correction (uniformly more powerful than Bonferroni, controls FWER
    with no independence assumption — the guard against "we shipped
    because metric 7 of 12 went green"). Rejection runs on the z scale
    against per-rank critical values ``z_{1 - alpha/(2(K - i + 1))}``
    (computed once, driver-side, via the exact normal inverse CDF — no
    erf needed in either engine), with the step-down rule "reject rank
    i iff every rank <= i clears its own bar".

    Plan: ONE per-unit collapse computing all K indicators (single
    corpus shuffle on the unit key), one 2-row variant aggregate per
    frame, then rank + step-down as TWO self-joins on the K-row metric
    frame (K^2 pairs, K ~ a handful — deliberately not a window: the
    K-row frame needs no sort machinery). Output per metric:
    ``(metric, n_a, n_b, p_a, p_b, z, rank, critical, significant)``.
    """
    from statistics import NormalDist

    K = len(metric_cols)
    if K < 1:
        raise ValueError("holm_ab needs at least one metric column")
    nd = NormalDist()
    crits = {
        i: nd.inv_cdf(1.0 - float(alpha) / (2.0 * (K - i + 1)))
        for i in range(1, K + 1)
    }
    assigned = ab_assign(
        per_unit.select(unit_col, *metric_cols), unit_col, 2, salt
    )
    v = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.col(c).cast("int")).alias(f"_c_{c}")
            for c in metric_cols
        ],
    ).localCheckpoint()  # 2 rows; K metric frames + 2 self-joins reuse it
    rows = None
    for c in metric_cols:
        one = v.agg(
            F.lit(c).alias("metric"),
            F.sum(F.when(F.col("variant") == 0, F.col("_n"))).alias("n_a"),
            F.sum(F.when(F.col("variant") == 1, F.col("_n"))).alias("n_b"),
            F.sum(F.when(F.col("variant") == 0, F.col(f"_c_{c}"))).alias(
                "conv_a"
            ),
            F.sum(F.when(F.col("variant") == 1, F.col(f"_c_{c}"))).alias(
                "conv_b"
            ),
        )
        rows = one if rows is None else rows.unionByName(one)
    n0 = F.col("n_a").cast("double")
    n1 = F.col("n_b").cast("double")
    pa = F.when(F.col("n_a") > 0, F.col("conv_a") / n0)
    pb = F.when(F.col("n_b") > 0, F.col("conv_b") / n1)
    pool = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        (F.col("conv_a") + F.col("conv_b")) / (n0 + n1),
    )
    se = F.when(
        pool * (1 - pool) > 0,
        F.sqrt(pool * (1 - pool) * (1.0 / n0 + 1.0 / n1)),
    )
    zf = rows.select(
        "metric", "n_a", "n_b",
        qround(pa, 6).alias("p_a"),
        qround(pb, 6).alias("p_b"),
        qround(F.when(se > 0, (pb - pa) / se), 6).alias("z"),
    ).localCheckpoint()  # K rows; the K^2 rank/step joins reuse it
    # rank by |z| desc, metric-name tiebreak, via a K^2 self-join
    az = F.abs(F.coalesce(F.col("x.z"), F.lit(0.0)))
    azy = F.abs(F.coalesce(F.col("y.z"), F.lit(0.0)))
    ranked = (
        zf.alias("x")
        .join(zf.select("metric", "z").alias("y"), F.lit(True))
        .groupBy(
            F.col("x.metric").alias("metric"),
            F.col("x.n_a").alias("n_a"),
            F.col("x.n_b").alias("n_b"),
            F.col("x.p_a").alias("p_a"),
            F.col("x.p_b").alias("p_b"),
            F.col("x.z").alias("z"),
        )
        .agg(
            F.sum(
                F.when(
                    (azy > az)
                    | ((azy == az) & (F.col("y.metric") < F.col("x.metric"))),
                    1,
                ).otherwise(0)
            ).alias("_nbefore")
        )
        .withColumn("rank", (F.col("_nbefore") + 1).cast("int"))
        .drop("_nbefore")
    )
    crit = F.when(F.lit(False), F.lit(0.0))
    crit_expr = None
    for i in range(K, 0, -1):
        if crit_expr is None:
            crit_expr = F.when(F.col("rank") == i, F.lit(crits[i]))
        else:
            crit_expr = crit_expr.when(F.col("rank") == i, F.lit(crits[i]))
    ranked = ranked.withColumn("critical", qround(crit_expr, 6))
    # step-down: rank i rejects iff every rank <= i clears its own bar
    cleared = ranked.select(
        F.col("rank").alias("_r"),
        (
            F.abs(F.coalesce(F.col("z"), F.lit(0.0))) >= F.col("critical")
        ).alias("_ok"),
    )
    step = (
        ranked.alias("x")
        .join(cleared.alias("c"), F.col("c._r") <= F.col("x.rank"))
        .groupBy(
            *[
                F.col(f"x.{c}").alias(c)
                for c in [
                    "metric", "n_a", "n_b", "p_a", "p_b", "z", "rank",
                    "critical",
                ]
            ]
        )
        .agg(F.min(F.col("c._ok").cast("int")).alias("_all"))
        .withColumn("significant", F.col("_all") == 1)
        .drop("_all")
    )
    return step.orderBy("rank")


def cluster_ab(
    events: DataFrame,
    cluster_col: str,
    value_col: str,
    salt: str = "exp1",
    critical: float = 1.96,
) -> DataFrame:
    """CLUSTER-randomized A/B analysis (Donner & Klar 2000): when
    treatment lands on whole clusters (stores, cities, machines —
    interference makes unit-level randomization invalid), assignment is
    md5 of the CLUSTER id and inference runs on CLUSTER-LEVEL means —
    the unit-level z (ab_zstat) would understate the variance by the
    design effect and over-reject. Welch two-sample t on the per-cluster
    outcome means, normal critical stated for the many-clusters regime.

    Plan: one unit->cluster collapse (the only corpus-sized shuffle),
    one |clusters|-row aggregate per arm, one row out. Output:
    ``(k_a, k_b, mean_a, mean_b, diff, se, t, significant)``.
    """
    per = (
        events.select(cluster_col, value_col)
        .groupBy(cluster_col)
        .agg(F.avg(value_col).alias("_m"))
    )
    assigned = ab_assign(per, cluster_col, 2, salt)
    v = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_m").alias("_s"),
        F.sum(F.col("_m") * F.col("_m")).alias("_q"),
    )
    one = v.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("_k"))).alias("k_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("_k"))).alias("k_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("_s"))).alias("_sa"),
        F.sum(F.when(F.col("variant") == 1, F.col("_s"))).alias("_sb"),
        F.sum(F.when(F.col("variant") == 0, F.col("_q"))).alias("_qa"),
        F.sum(F.when(F.col("variant") == 1, F.col("_q"))).alias("_qb"),
    )
    ka = F.col("k_a").cast("double")
    kb = F.col("k_b").cast("double")
    ma = F.col("_sa") / ka
    mb = F.col("_sb") / kb
    va = F.when(
        F.col("k_a") > 1,
        (F.col("_qa") - F.col("_sa") * F.col("_sa") / ka) / (ka - 1),
    )
    vb = F.when(
        F.col("k_b") > 1,
        (F.col("_qb") - F.col("_sb") * F.col("_sb") / kb) / (kb - 1),
    )
    se = F.sqrt(va / ka + vb / kb)
    t = F.when(se > 0, (mb - ma) / se)
    return one.select(
        "k_a",
        "k_b",
        qround(ma, 6).alias("mean_a"),
        qround(mb, 6).alias("mean_b"),
        qround(mb - ma, 6).alias("diff"),
        qround(se, 6).alias("se"),
        qround(t, 6).alias("t"),
        F.coalesce(
            F.abs(t) > F.lit(float(critical)), F.lit(False)
        ).alias("significant"),
    )


def bootstrap_ab_diff(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    n_boot: int = 100,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    salt: str = "boot",
    exp_salt: str = "exp1",
) -> DataFrame:
    """Deterministic Poisson-bootstrap CI for the A/B MEAN DIFFERENCE —
    the decision-relevant uncertainty ab_zstat's normal approximation
    asserts and :func:`bootstrap_ci_mean` only gives per-arm: replicate
    b reweights BOTH arms with the same md5-Poisson weights (one digest
    family, eight 16-bit lanes — the bootstrap_ci_mean harvesting) and
    the CI is the empirical quantile band of ``mean_b(B) - mean_b(A)``
    over the VALID replicates (a replicate where either arm's weight
    sum is 0 — possible only on tiny arms — contributes no diff). Units
    resample, not events (each unit's weight multiplies its whole
    outcome — the cluster-respecting bootstrap). ONE pass, 4*n_boot
    map-side sums, no data replication, bit-reproducible anywhere.
    Output one row:
    ``(n_a, n_b, diff, ci_lo, ci_hi, n_boot, significant)`` —
    significant = the CI excludes 0.
    """
    b_count = int(n_boot)
    x = F.col(value_col).cast("double")
    assigned = ab_assign(
        df.filter(x.isNotNull()).select(unit_col, value_col),
        unit_col,
        2,
        exp_salt,
    )
    n_groups = (b_count + 7) // 8
    target = df.sparkSession.sparkContext.defaultParallelism
    if assigned.rdd.getNumPartitions() < target:
        assigned = assigned.repartition(target)
    # Same mapInPandas partials restructure as bootstrap_ci_mean (see
    # there for the full rationale): the previous B weight projections +
    # 4B+4-field aggregate exceeded spark.sql.codegen.maxFields and cost
    # seconds of analysis/interpreted eval; the numpy pass computes
    # bit-identical md5-lane uniforms and CDF inversions, split by arm.
    base = assigned.select(
        F.col(unit_col).cast("string").alias("_id"),
        x.alias("_x"),
        F.col("variant").alias("_v"),
    )
    cdf = np.asarray(_POISSON1_CDF)
    prefixes = [f"{salt}g{g}:".encode() for g in range(n_groups)]

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import md5

        n0 = n1 = 0
        sx0 = sx1 = 0.0
        s0 = np.zeros(b_count)
        w0 = np.zeros(b_count)
        s1 = np.zeros(b_count)
        w1 = np.zeros(b_count)
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            ids = [v.encode() for v in pdf["_id"]]
            xs = pdf["_x"].to_numpy(dtype=np.float64)
            vs = pdf["_v"].to_numpy()
            U = np.empty((m, 8 * n_groups))
            for g, pre in enumerate(prefixes):
                dig = b"".join(md5(pre + i).digest() for i in ids)
                lanes = np.frombuffer(dig, dtype=">u2").reshape(m, 8)
                U[:, 8 * g : 8 * g + 8] = (
                    lanes.astype(np.float64) + 0.5
                ) / 65536.0
            W = np.searchsorted(cdf, U[:, :b_count], side="right").astype(
                np.float64
            )
            m0 = vs == 0
            m1 = vs == 1
            n0 += int(m0.sum())
            n1 += int(m1.sum())
            sx0 += float(xs[m0].sum())
            sx1 += float(xs[m1].sum())
            s0 += W[m0].T @ xs[m0]
            w0 += W[m0].sum(axis=0)
            s1 += W[m1].T @ xs[m1]
            w1 += W[m1].sum(axis=0)
        yield pd.DataFrame(
            {
                "_n0": [n0],
                "_n1": [n1],
                "_sx0": [sx0],
                "_sx1": [sx1],
                "_s0": [s0.tolist()],
                "_w0": [w0.tolist()],
                "_s1": [s1.tolist()],
                "_w1": [w1.tolist()],
            }
        )

    parts = base.mapInPandas(
        _partials,
        schema=(
            "_n0 long, _n1 long, _sx0 double, _sx1 double, "
            "_s0 array<double>, _w0 array<double>, "
            "_s1 array<double>, _w1 array<double>"
        ),
    )
    zeros = F.array_repeat(F.lit(0.0), b_count)

    def _vsum(c: str) -> Column:
        return F.aggregate(
            F.collect_list(c),
            zeros,
            lambda acc, v: F.zip_with(acc, v, lambda p, q: p + q),
        )

    one = parts.agg(
        F.sum("_n0").alias("n_a"),
        F.sum("_n1").alias("n_b"),
        F.when(F.sum("_n0") > 0, F.sum("_sx0") / F.sum("_n0")).alias("_m0"),
        F.when(F.sum("_n1") > 0, F.sum("_sx1") / F.sum("_n1")).alias("_m1"),
        _vsum("_s0").alias("_s0v"),
        _vsum("_w0").alias("_w0v"),
        _vsum("_s1").alias("_s1v"),
        _vsum("_w1").alias("_w1v"),
    )
    # zero-weight arms (tiny arms only) produce NULL diffs; compact
    # them out so quantiles index the VALID replicates
    m0v = F.zip_with("_s0v", "_w0v", lambda sv, wv: F.when(wv > 0, sv / wv))
    m1v = F.zip_with("_s1v", "_w1v", lambda sv, wv: F.when(wv > 0, sv / wv))
    diffs = F.array_compact(
        F.array_sort(F.zip_with(m1v, m0v, lambda a, b: a - b))
    )
    nv = F.size(diffs)

    def pick(q: float):
        idx = F.least(
            F.greatest(F.ceil(F.lit(q) * nv).cast("int"), F.lit(1)), nv
        )
        return F.when(nv > 0, F.element_at(diffs, idx))

    lo, hi = pick(float(lo_q)), pick(float(hi_q))
    return one.select(
        "n_a",
        "n_b",
        qround(F.col("_m1") - F.col("_m0"), 6).alias("diff"),
        qround(lo, 6).alias("ci_lo"),
        qround(hi, 6).alias("ci_hi"),
        F.lit(b_count).alias("n_boot"),
        F.coalesce((lo > 0) | (hi < 0), F.lit(False)).alias("significant"),
    )
