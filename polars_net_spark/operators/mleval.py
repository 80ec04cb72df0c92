"""Classifier/score evaluation at corpus scale: AUC, calibration,
reliability bins, cumulative-gains — the model-quality end of a training
pipeline (the quality.py linear screens and llm/evaluation.py retrieval
metrics produce scores; these grade them against labels).

All are exact and distributed: ranks ride the distsort range-bucket +
driver-prefix machinery (no data-sized single-partition window), bins are
map-only Column math, summaries are single fused aggregates.  Reference:
the ErrorLSC/Polars.NET surface has no model-eval layer (this extends the
engine the way the statistics family does); every operator here is
SQL-replicable and oracle-gated (q304-q307).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window
from pyspark.sql import functions as F

from ..frame import LazyFrame

__all__ = [
    "auc_report",
    "reliability_bins",
    "calibration_report",
    "gains_chart",
    "group_auc",
    "average_precision",
]


def _sdf(frame):
    return frame if isinstance(frame, SparkDF) else frame.spark


def auc_report(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """ROC AUC via the Mann-Whitney rank statistic — the exact AUC with
    tie handling (tied scores take their average rank), no threshold
    sweep, no sort of the raw data:

        AUC = (Σ_{positives} avg_rank − n⁺(n⁺+1)/2) / (n⁺ · n⁻)

    Scale shape: scores collapse to DISTINCT values with (count,
    positives) map-side, the cumulative count below each value rides the
    distsort range buckets + driver prefix offsets (global avg-rank =
    below-count + (ties+1)/2 — no data-sized window), and the statistic
    is one fused reduce.  Labels are truthy (> 0); null scores/labels
    drop.  Output (1 row): auc, gini (2·AUC−1), n_pos, n_neg.  AUC is
    null when either class is empty."""
    from .distsort import with_sums_below

    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    y = (F.col(label_col).cast("double") > 0).cast("long")
    from .._cache import register_cache

    base = sdf.filter(s.isNotNull() & F.col(label_col).isNotNull())
    g = register_cache(
        base.groupBy(s.alias("__s__")).agg(
            F.count(F.lit(1)).alias("__c__"), F.sum(y).alias("__cp__")
        )
    )
    g3, _tot = with_sums_below(g, "__s__", {"c": F.col("__c__")})
    avg_rank = F.col("__below_c__") + (F.col("__c__") + 1) / 2.0
    stats = g3.select(
        "__c__", "__cp__", avg_rank.alias("__ar__")
    ).agg(
        F.sum(F.col("__cp__") * F.col("__ar__")).alias("rps"),
        F.sum("__cp__").alias("npos"),
        F.sum("__c__").alias("n"),
    )
    npos, n = F.col("npos"), F.col("n")
    nneg = n - npos
    auc = F.when(
        (npos > 0) & (nneg > 0),
        (F.col("rps") - npos * (npos + 1) / 2.0) / (npos * nneg),
    )
    out = stats.select(
        F.round(auc, round_to).alias("auc"),
        F.round(2.0 * auc - 1.0, round_to).alias("gini"),
        npos.cast("long").alias("n_pos"),
        nneg.cast("long").alias("n_neg"),
    )
    return LazyFrame(out)


def _binned(sdf, prob_col, label_col, n_bins):
    """Shared staging: clip p into [0, 1], assign equal-width bins, return
    the per-bin aggregate (map-only bin math + ONE map-side-combining
    aggregate)."""
    p = F.least(F.greatest(F.col(prob_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    y = (F.col(label_col).cast("double") > 0).cast("double")
    b = F.least(F.floor(p * n_bins).cast("int"), F.lit(int(n_bins) - 1))
    base = sdf.filter(
        F.col(prob_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(p.alias("__p__"), y.alias("__y__"), b.alias("bin"))
    sq = (F.col("__p__") - F.col("__y__")) ** 2
    return base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__p__").alias("__sp__"),
        F.sum("__y__").alias("__sy__"),
        F.sum(sq).alias("__sq__"),
    )


def reliability_bins(
    frame: "LazyFrame | SparkDF",
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """Reliability-diagram table: predicted probabilities bucket into
    ``n_bins`` equal-width bins on [0, 1] (values outside clip in;
    p = 1.0 joins the top bin) and each bin reports its size, mean
    prediction, observed positive rate and the calibration gap.  Map-only
    bin assignment + one aggregate; output is n_bins-bounded.  Output:
    (bin, p_lo, p_hi, n, mean_pred, frac_pos, gap) for non-empty bins,
    bin ascending."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    agg = _binned(_sdf(frame), prob_col, label_col, int(n_bins))
    out = agg.select(
        F.col("bin"),
        F.round(F.col("bin") / n_bins, round_to).alias("p_lo"),
        F.round((F.col("bin") + 1) / n_bins, round_to).alias("p_hi"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("__sp__") / F.col("n"), round_to).alias("mean_pred"),
        F.round(F.col("__sy__") / F.col("n"), round_to).alias("frac_pos"),
        F.round((F.col("__sy__") - F.col("__sp__")) / F.col("n"), round_to).alias("gap"),
    ).orderBy("bin")
    return LazyFrame(out)


def calibration_report(
    frame: "LazyFrame | SparkDF",
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """One-row calibration summary over the same equal-width bins as
    :func:`reliability_bins`:

    - brier — mean squared error of the probability, the proper score;
    - ece — expected calibration error Σ (n_b/N)·|frac_pos − mean_pred|;
    - mce — the worst bin's absolute gap;
    - hl_chi2 — Hosmer–Lemeshow Σ (O_b − E_b)²/(n_b·p̄_b·(1−p̄_b)) over
      bins whose mean prediction is strictly inside (0, 1), with df =
      that bin count − 2 (the classic fit test; compare to χ²_df).

    Two bounded aggregates (per-bin then 1-row), map-only otherwise.
    Output (1 row): n, brier, ece, mce, hl_chi2, hl_df."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    agg = _binned(_sdf(frame), prob_col, label_col, int(n_bins))
    pbar = F.col("__sp__") / F.col("n")
    gap_abs = F.abs(F.col("__sy__") - F.col("__sp__")) / F.col("n")
    hl_ok = (pbar > 0) & (pbar < 1)
    hl_term = F.when(
        hl_ok,
        (F.col("__sy__") - F.col("__sp__")) ** 2 / (F.col("n") * pbar * (1 - pbar)),
    )
    out = agg.agg(
        F.sum("n").cast("long").alias("n"),
        F.round(F.sum("__sq__") / F.sum("n"), round_to).alias("brier"),
        F.round(F.sum(F.col("n") * gap_abs) / F.sum("n"), round_to).alias("ece"),
        F.round(F.max(gap_abs), round_to).alias("mce"),
        F.round(F.sum(hl_term), round_to).alias("hl_chi2"),
        (F.count(F.when(hl_ok, 1)) - F.lit(2)).cast("long").alias("hl_df"),
    )
    return LazyFrame(out)


def gains_chart(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """Cumulative gains / lift table: rows rank by score DESCENDING
    (``id_col`` breaks ties so the table is deterministic), split into
    ``n_buckets`` exact rank slices (bucket = ⌊(rank−1)·k/n⌋ — replicable
    in any engine, unlike NTILE's remainder rule), and each slice reports
    its positive count, the cumulative share of all positives captured
    (the gains curve) and the lift over the base rate.

    Scale shape: the global descending rank = distsort range buckets
    (desc) + driver prefix offsets + a per-bucket row_number — no
    data-sized single-partition window; the k-row slice table then takes
    two bounded reduces.  Output: (bucket, n, n_pos, pos_rate,
    cum_pos_share, lift), bucket 0 = best-scored slice."""
    from .distsort import with_bucket_offsets

    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    y = (F.col(label_col).cast("double") > 0).cast("long")
    base = sdf.filter(s.isNotNull() & F.col(label_col).isNotNull()).select(
        s.alias("__s__"), F.col(id_col).alias("__id__"), y.alias("__y__")
    )
    offs, gb, tot = with_bucket_offsets(base, "__s__", {"c": F.lit(1)}, desc=True)
    n = int(tot["c"])
    if n == 0:
        raise ValueError("gains_chart: no scored labeled rows")
    w = Window.partitionBy(gb).orderBy(F.col("__s__").desc(), F.col("__id__"))
    rank = (F.col("__off_c__") + F.row_number().over(w)).cast("long")
    k = int(n_buckets)
    slice_id = F.floor((rank - 1) * k / n).cast("int")
    per = (
        offs.withColumn("bucket", slice_id)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__y__").alias("n_pos"))
    )
    # k-row table: cumulative + totals ride one bounded window
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_pos = F.sum("n_pos").over(wc)
    tot_pos = F.sum("n_pos").over(wt)
    tot_n = F.sum("n").over(wt)
    out = per.select(
        F.col("bucket"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(F.col("n_pos") / F.col("n"), round_to).alias("pos_rate"),
        F.round(
            F.when(tot_pos > 0, cum_pos / tot_pos).otherwise(F.lit(None)), round_to
        ).alias("cum_pos_share"),
        F.round(
            F.when(
                tot_pos > 0, (F.col("n_pos") / F.col("n")) / (tot_pos / tot_n)
            ),
            round_to,
        ).alias("lift"),
    ).orderBy("bucket")
    return LazyFrame(out)


def group_auc(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    by: "str | list[str]",
    round_to: int = 6,
) -> LazyFrame:
    """Per-segment ROC AUC (the keyed :func:`auc_report`): one AUC row per
    ``by`` key — the fairness/segment-health view (a model can hold a
    strong overall AUC while being a coin flip on one language or source).

    Same Mann-Whitney construction, sharded on the key: distinct
    (key, score) aggregate, the below-count rides a key-partitioned
    window (state shards on the key — no single-partition stage), one
    keyed reduce.  Output: [keys...,] auc, n_pos, n_neg; AUC null where a
    key has a single class."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by)
    s = F.col(score_col).cast("double")
    y = (F.col(label_col).cast("double") > 0).cast("long")
    base = sdf.filter(s.isNotNull() & F.col(label_col).isNotNull())
    for k in keys:
        base = base.filter(F.col(k).isNotNull())
    g = base.groupBy(*keys, s.alias("__s__")).agg(
        F.count(F.lit(1)).alias("__c__"), F.sum(y).alias("__cp__")
    )
    wexcl = (
        Window.partitionBy(*keys)
        .orderBy("__s__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c_lt = F.coalesce(F.sum("__c__").over(wexcl), F.lit(0))
    avg_rank = c_lt + (F.col("__c__") + 1) / 2.0
    stats = g.select(*keys, "__c__", "__cp__", avg_rank.alias("__ar__")).groupBy(
        *keys
    ).agg(
        F.sum(F.col("__cp__") * F.col("__ar__")).alias("rps"),
        F.sum("__cp__").alias("npos"),
        F.sum("__c__").alias("n"),
    )
    npos, n = F.col("npos"), F.col("n")
    nneg = n - npos
    auc = F.when(
        (npos > 0) & (nneg > 0),
        (F.col("rps") - npos * (npos + 1) / 2.0) / (npos * nneg),
    )
    out = stats.select(
        *keys,
        F.round(auc, round_to).alias("auc"),
        npos.cast("long").alias("n_pos"),
        nneg.cast("long").alias("n_neg"),
    )
    return LazyFrame(out)


def average_precision(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    id_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Classifier average precision (the area under the PR curve by the
    step rule): AP = (1/n⁺) Σ_{k : item k positive} P@k over the score
    ranking — the metric that, unlike AUC, collapses when positives are
    rare and the top of the ranking is wrong.  ``id_col`` breaks score
    ties so the ranking (and therefore AP) is deterministic and
    engine-replicable.

    Scale shape: global descending rank = distsort desc range buckets +
    driver prefix offsets + per-bucket row_number; the cumulative
    positive count at each rank rides a SECOND prefix chain over the same
    buckets; AP is one fused reduce.  Output (1 row): ap, n_pos, n."""
    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    y = (F.col(label_col).cast("double") > 0).cast("long")
    base = sdf.filter(s.isNotNull() & F.col(label_col).isNotNull()).select(
        s.alias("__s__"), F.col(id_col).alias("__id__"), y.alias("__y__")
    )
    offs, gb, tot = with_bucket_offsets(
        base, "__s__", {"c": F.lit(1), "p": F.col("__y__")}, desc=True
    )
    n = int(tot["c"])
    if n == 0:
        raise ValueError("average_precision: no scored labeled rows")
    w = Window.partitionBy(gb).orderBy(F.col("__s__").desc(), F.col("__id__"))
    rank = (F.col("__off_c__") + F.row_number().over(w)).cast("long")
    cum_pos = (
        F.col("__off_p__")
        + F.sum("__y__").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    staged = offs.select(
        "__y__", rank.alias("__rk__"), cum_pos.alias("__cp__")
    )
    red = staged.agg(
        F.sum(F.when(F.col("__y__") == 1, F.col("__cp__") / F.col("__rk__"))).alias(
            "__apsum__"
        ),
        F.sum("__y__").alias("npos"),
        F.count(F.lit(1)).alias("n"),
    )
    out = red.select(
        F.round(
            F.when(F.col("npos") > 0, F.col("__apsum__") / F.col("npos")), round_to
        ).alias("ap"),
        F.col("npos").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n"),
    )
    return LazyFrame(out)


def qini_curve(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    treat_col: str,
    outcome_col: str,
    id_col: str,
    n_buckets: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """Qini table for UPLIFT-model evaluation — the treatment-effect
    counterpart of gains_chart: rows rank by uplift score DESCENDING
    (ties by ``id_col``), split into exact rank slices, and each slice
    reports the cumulative Qini value
    Y_t(cum) − Y_c(cum)·N_t(cum)/N_c(cum) (incremental outcomes vs the
    control-scaled counterfactual) plus the cumulative uplift rate
    Y_t/N_t − Y_c/N_c.  A good uplift model front-loads positive Qini;
    random targeting gives ~0 everywhere.

    Scale shape: identical to gains_chart — distsort descending ranks
    (no data-sized window), one slice aggregate, then the k-row table
    rides bounded windows.  Output: (bucket, n_treat, n_ctrl, y_treat,
    y_ctrl, qini, cum_uplift); control-empty prefixes give nulls."""
    from .distsort import with_bucket_offsets

    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    t = F.col(treat_col).cast("double")
    yv = F.col(outcome_col).cast("double")
    base = sdf.filter(
        s.isNotNull() & t.isNotNull() & yv.isNotNull() & t.isin([0.0, 1.0])
    ).select(
        s.alias("__s__"), F.col(id_col).alias("__id__"),
        t.alias("__t__"), yv.alias("__y__"),
    )
    offs, gb, tot = with_bucket_offsets(base, "__s__", {"c": F.lit(1)}, desc=True)
    n = int(tot["c"])
    if n == 0:
        raise ValueError("qini_curve: no usable rows")
    w = Window.partitionBy(gb).orderBy(F.col("__s__").desc(), F.col("__id__"))
    rank = (F.col("__off_c__") + F.row_number().over(w)).cast("long")
    k = int(n_buckets)
    per = (
        offs.withColumn("bucket", F.floor((rank - 1) * k / n).cast("int"))
        .groupBy("bucket")
        .agg(
            F.sum("__t__").alias("nt"),
            F.sum(1 - F.col("__t__")).alias("nc"),
            F.sum(F.col("__t__") * F.col("__y__")).alias("yt"),
            F.sum((1 - F.col("__t__")) * F.col("__y__")).alias("yc"),
        )
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cnt, cnc = F.sum("nt").over(wc), F.sum("nc").over(wc)
    cyt, cyc = F.sum("yt").over(wc), F.sum("yc").over(wc)
    qini = F.when(cnc > 0, cyt - cyc * cnt / cnc)
    uplift = F.when((cnt > 0) & (cnc > 0), cyt / cnt - cyc / cnc)
    out = per.select(
        "bucket",
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_ctrl"),
        F.round("yt", round_to).alias("y_treat"),
        F.round("yc", round_to).alias("y_ctrl"),
        F.round(qini, round_to).alias("qini"),
        F.round(uplift, round_to).alias("cum_uplift"),
    )
    return LazyFrame(out)


__all__.append("qini_curve")


def confusion_report(
    frame,
    prob_col: str,
    label_col: str,
    threshold: float = 0.5,
    round_to: int = 6,
) -> LazyFrame:
    """Thresholded binary-classification confusion report — the operating-
    point companion to auc_report's threshold-free ranking view: counts
    (tp/fp/tn/fn at prob ≥ threshold) plus the derived operating metrics
    accuracy, precision, recall, specificity, F1, balanced accuracy, and
    Matthews correlation (the single-number summary that stays honest
    under class imbalance, MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)
    (tn+fn))).

    Scale shape: ONE fused conditional all-reduce (four counts), metrics
    assembled on the driver.  Rows with null prob/label drop; degenerate
    denominators yield null for the affected metric (sklearn's
    zero-division=nan convention).  Output (1 row): threshold, n, tp, fp,
    tn, fn, accuracy, precision, recall, specificity, f1,
    balanced_accuracy, mcc."""
    sdf = _sdf(frame)
    p = F.col(prob_col).cast("double")
    y = (F.col(label_col).cast("double") != 0)
    pred = p >= F.lit(float(threshold))
    r = (
        sdf.filter(p.isNotNull() & F.col(label_col).isNotNull())
        .agg(
            F.count(F.when(pred & y, 1)).alias("tp"),
            F.count(F.when(pred & ~y, 1)).alias("fp"),
            F.count(F.when(~pred & ~y, 1)).alias("tn"),
            F.count(F.when(~pred & y, 1)).alias("fn"),
        )
        .collect()[0]
    )
    tp, fp, tn, fn = (int(r[k]) for k in ("tp", "fp", "tn", "fn"))
    n = tp + fp + tn + fn
    if n == 0:
        raise ValueError("confusion_report: no usable rows")

    def div(a, b):
        return a / b if b > 0 else None

    import math

    prec = div(tp, tp + fp)
    rec = div(tp, tp + fn)
    spec = div(tn, tn + fp)
    f1 = (
        2 * prec * rec / (prec + rec)
        if prec is not None and rec is not None and prec + rec > 0
        else None
    )
    bal = (rec + spec) / 2 if rec is not None and spec is not None else None
    denom = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    mcc = (tp * tn - fp * fn) / math.sqrt(denom) if denom > 0 else None

    def rnd(v):
        return None if v is None else round(v, round_to)

    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            float(threshold), n, tp, fp, tn, fn,
            rnd((tp + tn) / n), rnd(prec), rnd(rec), rnd(spec), rnd(f1),
            rnd(bal), rnd(mcc),
        )],
        "threshold double, n bigint, tp bigint, fp bigint, tn bigint, "
        "fn bigint, accuracy double, precision double, recall double, "
        "specificity double, f1 double, balanced_accuracy double, mcc double",
    )
    return LazyFrame(out)


__all__.append("confusion_report")
