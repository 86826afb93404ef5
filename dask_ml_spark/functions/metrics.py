"""Metrics as single-pass Spark SQL aggregations.

Reference: dask_ml/metrics/ (classification.py, regression.py,
scorer.py). Every metric here compiles to one hash-aggregate over the
prediction DataFrame — JVM-side, whole-stage-codegen, map-side partial
aggregation; no Python in the hot path. Weighted variants use
sum(w*x)/sum(w).

Note log_loss improves on the reference: dask-ml averages per-block
sklearn log_loss scores (approximate when block sizes differ,
metrics/classification.py:97-160); the SQL form -avg(log p_true) is
exact in one pass.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.utils import bounded_head, collect_capped, local_frame

EPS = 1e-15


def _weighted_mean(col: Column, weight: Column | None) -> Column:
    if weight is None:
        return F.avg(col)
    return F.sum(weight * col) / F.sum(weight)


# --- expression forms (compose into agg(...)) ---------------------------

def accuracy_expr(y_true: Column, y_pred: Column, weight: Column | None = None) -> Column:
    return _weighted_mean((y_true == y_pred).cast("double"), weight)


def mse_expr(y_true: Column, y_pred: Column, weight: Column | None = None) -> Column:
    return _weighted_mean(F.pow(y_pred - y_true, 2), weight)


def mae_expr(y_true: Column, y_pred: Column, weight: Column | None = None) -> Column:
    return _weighted_mean(F.abs(y_pred - y_true), weight)


def mape_expr(y_true: Column, y_pred: Column, weight: Column | None = None) -> Column:
    # reference: metrics/regression.py:87-148 — denominator clamped at eps
    return _weighted_mean(
        F.abs(y_pred - y_true) / F.greatest(F.abs(y_true), F.lit(EPS)), weight
    )


def smape_expr(y_true: Column, y_pred: Column,
               weight: Column | None = None) -> Column:
    """Symmetric MAPE: mean of 2·|ŷ−y| / (|y|+|ŷ|) ∈ [0, 2] — the
    forecast-accuracy convention that doesn't explode when y crosses
    zero (plain MAPE's failure mode on demand/revenue deltas). The
    0/0 term (both actual and forecast exactly zero — a correctly
    predicted dead day) contributes 0, documented."""
    denom = F.abs(y_true) + F.abs(y_pred)
    term = F.when(denom > 0.0,
                  2.0 * F.abs(y_pred - y_true) / denom).otherwise(0.0)
    return _weighted_mean(term, weight)


def msle_expr(y_true: Column, y_pred: Column, weight: Column | None = None) -> Column:
    return _weighted_mean(F.pow(F.log1p(y_pred) - F.log1p(y_true), 2), weight)


def log_loss_expr(y_true: Column, p_pred: Column, weight: Column | None = None) -> Column:
    """Binary log loss from P(class=1). Clipped to [eps, 1-eps]."""
    p = F.least(F.greatest(p_pred, F.lit(EPS)), F.lit(1.0 - EPS))
    ll = -(y_true * F.log(p) + (1 - y_true) * F.log(1 - p))
    return _weighted_mean(ll, weight)


# --- scalar convenience forms ------------------------------------------

def _scalar(df: DataFrame, expr: Column) -> float:
    return df.agg(expr.alias("m")).collect()[0]["m"]


def accuracy_score(df: DataFrame, label_col: str = "label", prediction_col: str = "prediction", weight_col: str | None = None) -> float:
    w = F.col(weight_col) if weight_col else None
    return _scalar(df, accuracy_expr(F.col(label_col), F.col(prediction_col), w))


def mean_squared_error(df: DataFrame, label_col: str = "label", prediction_col: str = "prediction", weight_col: str | None = None, squared: bool = True) -> float:
    w = F.col(weight_col) if weight_col else None
    e = mse_expr(F.col(label_col), F.col(prediction_col), w)
    if not squared:
        e = F.sqrt(e)
    return _scalar(df, e)


def mean_absolute_error(df: DataFrame, label_col: str = "label", prediction_col: str = "prediction", weight_col: str | None = None) -> float:
    w = F.col(weight_col) if weight_col else None
    return _scalar(df, mae_expr(F.col(label_col), F.col(prediction_col), w))


def mean_absolute_percentage_error(df: DataFrame, label_col: str = "label", prediction_col: str = "prediction", weight_col: str | None = None) -> float:
    w = F.col(weight_col) if weight_col else None
    return _scalar(df, mape_expr(F.col(label_col), F.col(prediction_col), w))


def mean_squared_log_error(df: DataFrame, label_col: str = "label", prediction_col: str = "prediction", weight_col: str | None = None) -> float:
    w = F.col(weight_col) if weight_col else None
    return _scalar(df, msle_expr(F.col(label_col), F.col(prediction_col), w))


def confusion_matrix(df: DataFrame, label_col: str = "label",
                     prediction_col: str = "prediction") -> DataFrame:
    """Confusion matrix in long form — one groupBy over the (few)
    distinct (label, prediction) pairs; the caller pivots if a dense
    matrix is wanted (k² cells, driver-sized)."""
    return (
        df.groupBy(F.col(label_col).alias("label"),
                   F.col(prediction_col).alias("prediction"))
        .agg(F.count("*").alias("n"))
    )


def precision_recall_f1(df: DataFrame, label_col: str = "label",
                        prediction_col: str = "prediction",
                        pos_label: float = 1.0, average: str = "binary") -> dict:
    """Precision / recall / F1 in ONE aggregation pass
    (beyond-reference companion of roc_auc_score for classifier
    gating); zero-division follows sklearn (0.0).

    average='binary': tp/fp/fn for ``pos_label`` as conditional counts
    in one hash-aggregate. 'macro'/'micro': one groupBy over the (few)
    distinct (label, prediction) pairs, per-class stats assembled on
    the driver from k² cells.
    """
    if average == "binary":
        y = F.col(label_col) == F.lit(pos_label)
        p = F.col(prediction_col) == F.lit(pos_label)
        row = df.agg(
            F.sum((y & p).cast("double")).alias("tp"),
            F.sum(((~y) & p).cast("double")).alias("fp"),
            F.sum((y & (~p)).cast("double")).alias("fn"),
        ).collect()[0]
        tp, fp, fn = row["tp"] or 0.0, row["fp"] or 0.0, row["fn"] or 0.0
        precision = tp / (tp + fp) if tp + fp else 0.0
        recall = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        return {"precision": precision, "recall": recall, "f1": f1,
                "tp": tp, "fp": fp, "fn": fn}
    if average not in ("macro", "micro"):
        raise ValueError(f"Unknown average {average!r}")
    cells = confusion_matrix(df, label_col, prediction_col).collect()
    classes = sorted({r["label"] for r in cells})
    tp = {c: 0.0 for c in classes}
    fp = {c: 0.0 for c in classes}
    fn = {c: 0.0 for c in classes}
    for r in cells:
        if r["label"] == r["prediction"]:
            tp[r["label"]] += r["n"]
        else:
            fn[r["label"]] += r["n"]
            if r["prediction"] in fp:
                fp[r["prediction"]] += r["n"]
            else:
                fp[r["prediction"]] = r["n"]
    if average == "micro":
        TP, FP, FN = sum(tp.values()), sum(fp.values()), sum(fn.values())
        precision = TP / (TP + FP) if TP + FP else 0.0
        recall = TP / (TP + FN) if TP + FN else 0.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        return {"precision": precision, "recall": recall, "f1": f1,
                "tp": TP, "fp": FP, "fn": FN}
    precs, recs, f1s = [], [], []
    for c in classes:
        pc = tp[c] / (tp[c] + fp[c]) if tp[c] + fp[c] else 0.0
        rc = tp[c] / (tp[c] + fn[c]) if tp[c] + fn[c] else 0.0
        precs.append(pc)
        recs.append(rc)
        f1s.append(2 * pc * rc / (pc + rc) if pc + rc else 0.0)
    k = len(classes)
    return {"precision": sum(precs) / k, "recall": sum(recs) / k,
            "f1": sum(f1s) / k,
            "tp": sum(tp.values()), "fp": sum(fp.values()), "fn": sum(fn.values())}


def calibration_curve(df: DataFrame, label_col: str = "label",
                      prob_col: str = "probability", n_bins: int = 10) -> DataFrame:
    """Reliability-diagram points: bucket predicted probabilities into
    ``n_bins`` equal-width bins, per bin the mean predicted probability
    vs observed positive rate — ONE groupBy over ≤n_bins groups.
    Output: (bin, mean_predicted, fraction_positive, n)."""
    p = F.col(prob_col).cast("double")
    b = F.least(F.lit(n_bins - 1), F.floor(p * F.lit(n_bins))).cast("int")
    return (
        df.where(p.isNotNull() & ~F.isnan(p))
        .groupBy(b.alias("bin"))
        .agg(
            F.avg(p).alias("mean_predicted"),
            F.avg((F.col(label_col) == 1).cast("double")).alias("fraction_positive"),
            F.count("*").alias("n"),
        )
    )


def cohens_kappa(df: DataFrame, col_a: str, col_b: str,
                 max_cells: int = 10_000) -> DataFrame:
    """Cohen's κ — chance-corrected agreement between two label
    columns (rater vs rater, prediction vs gold, old pipeline vs new):
    THE label-quality audit number, because raw accuracy flatters any
    pair of raters that both over-predict the majority class.
    κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement and
    p_e = Σ_c row_c·col_c / n² the chance agreement from the
    marginals. ONE groupBy(a, b) count is the only raw-row pass (the
    chi2_independence contingency shape, bounded by max_cells); p_o
    and p_e assemble from exact integer counts driver-side (Σ diag
    and Σ row·col are exact bignums — the only float ops are the two
    final divisions and the κ ratio, mirrored by the SQL oracle).
    Rows with a NULL on either side are dropped (complete-case).
    Returns one row: (n, k_classes, po, pe, kappa). Raises when both
    columns are the same single constant (p_e = 1, κ undefined).
    """
    a = F.col(col_a).cast("string")
    b = F.col(col_b).cast("string")
    rows = collect_capped(
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n")),
        max_cells,
        f"cohens_kappa: more than max_cells={max_cells} label "
        "pairs — bucket the columns first")
    if not rows:
        raise ValueError("cohens_kappa: no complete-case rows")
    n = sum(int(r["__n"]) for r in rows)
    diag = sum(int(r["__n"]) for r in rows if r["__a"] == r["__b"])
    row_t: dict = {}
    col_t: dict = {}
    for r in rows:
        row_t[r["__a"]] = row_t.get(r["__a"], 0) + int(r["__n"])
        col_t[r["__b"]] = col_t.get(r["__b"], 0) + int(r["__n"])
    classes = sorted(set(row_t) | set(col_t))
    pe_num = sum(row_t.get(c, 0) * col_t.get(c, 0) for c in classes)
    po = diag / float(n)
    pe = float(pe_num) / (float(n) * float(n))
    if pe >= 1.0:
        raise ValueError("cohens_kappa: both columns are the same "
                         "constant — kappa is undefined (p_e = 1)")
    kappa = (po - pe) / (1.0 - pe)
    return local_frame(
        df.sparkSession,
        [(int(n), len(classes), float(po), float(pe), float(kappa))],
        "n long, k_classes long, po double, pe double, kappa double")


def mcnemar_test(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — the model-eval
    staple ("is classifier A actually better than classifier B on the
    SAME examples?"), which an unpaired proportion z-test gets wrong
    because the two error sets share the examples. Only the
    DISCORDANT pairs carry signal: b = #(a ∧ ¬b), c = #(¬a ∧ b);
    χ² = (|b − c| − 1)²/(b + c) (the standard continuity correction),
    and because dof = 1 the tail is EXACT through the normal:
    p = 2·Φ̄(√χ²) — no Wilson–Hilferty approximation, and the SQL
    oracle replays the identical A&S tail. ONE aggregate of two
    conditional counts. b + c = 0 (no disagreements) reports chi2 = 0,
    p = 1 — the correct degenerate answer, not an error. Returns one
    row: (n, b_discordant, c_discordant, chi2, p_value).
    """
    from dask_ml_spark.functions.stats import normal_p2

    a = F.col(col_a).cast("boolean")
    b = F.col(col_b).cast("boolean")
    row = (df.where(a.isNotNull() & b.isNotNull())
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum((a & ~b).cast("long")).alias("b"),
                F.sum((~a & b).cast("long")).alias("c"))
           .collect()[0])
    if not row["n"]:
        raise ValueError("mcnemar_test: no complete-case rows")
    bb, cc = int(row["b"]), int(row["c"])
    if bb + cc == 0:
        chi2, p = 0.0, 1.0
    else:
        num = abs(bb - cc) - 1
        num = max(num, 0)
        chi2 = float(num * num) / float(bb + cc)
        p = normal_p2(math.sqrt(chi2))
    return local_frame(
        df.sparkSession, [(int(row["n"]), bb, cc, float(chi2), float(p))],
        "n long, b_discordant long, c_discordant long, chi2 double, "
        "p_value double")


def cochrans_q(df: DataFrame, value_cols) -> DataFrame:
    """Cochran's Q — the k-treatment generalization of McNemar (and
    the BINARY Friedman): do k binary screens/classifiers pass at the
    same rate, accounting for the per-row pairing? (The corpus-audit
    use: k quality filters over the same documents.)
    Q = k(k−1)·Σ_j (T_j − ΣR/k)² / (k·ΣR − ΣR²) with T_j the column
    totals and R_i the per-row pass counts — everything is ONE
    aggregate (k conditional sums + Σrowsum + Σrowsum², all exact
    integers; the only float ops are the final assembly, mirrored by
    the SQL oracle); p from the χ²_{k−1} tail. Complete-case rows
    only. Raises when every row is constant (all-pass/all-fail —
    denominator zero, Q undefined). Returns one row:
    (k, n, q_stat, dof, p_value).
    """
    from dask_ml_spark.functions.stats import chi2_sf

    value_cols = list(value_cols)
    k = len(value_cols)
    if k < 2:
        raise ValueError("cochrans_q needs >= 2 binary columns")
    cs = [F.col(c).cast("boolean") for c in value_cols]
    pred = cs[0].isNotNull()
    for c in cs[1:]:
        pred = pred & c.isNotNull()
    rowsum = cs[0].cast("long")
    for c in cs[1:]:
        rowsum = rowsum + c.cast("long")
    kept = df.where(pred).select(
        *[c.cast("long").alias(f"__x{j}") for j, c in enumerate(cs)],
        rowsum.alias("__r"))
    row = kept.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"__x{j}").alias(f"__t{j}") for j in range(k)],
        F.sum("__r").alias("__sr"),
        F.sum(F.col("__r") * F.col("__r")).alias("__sr2")).collect()[0]
    if not row["n"]:
        raise ValueError("cochrans_q: no complete-case rows")
    n = int(row["n"])
    ts = [int(row[f"__t{j}"]) for j in range(k)]
    sr, sr2 = int(row["__sr"]), int(row["__sr2"])
    denom = k * sr - sr2
    if denom <= 0:
        raise ValueError("cochrans_q: every row is constant "
                         "(all-pass or all-fail) — Q is undefined")
    # numerator k(k−1)Σ(T_j − ΣR/k)² exactly: scale by k² →
    # (k−1)·Σ(k·T_j − ΣR)² / k, still integral in the bignum sum
    num = (k - 1) * sum((k * t - sr) * (k * t - sr) for t in ts)
    q = float(num) / (float(k) * float(denom))
    dof = k - 1
    p = chi2_sf(q, dof)
    return local_frame(
        df.sparkSession, [(int(k), n, float(q), int(dof), float(p))],
        "k long, n long, q_stat double, dof long, p_value double")


def matthews_corrcoef(df: DataFrame, label_col: str = "label",
                      prediction_col: str = "prediction",
                      pos_label: float = 1.0) -> float:
    """Matthews correlation coefficient for binary classification —
    the single-number eval that stays honest under class imbalance
    (accuracy and even F1 reward majority-class collapse; MCC is the
    Pearson φ of the 2×2 table and is 0 for any constant predictor).
    MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)); a zero
    factor → 0.0 (the sklearn convention). ONE aggregate of four
    conditional counts; the products stay exact in Python bignums.
    """
    y = F.col(label_col) == F.lit(pos_label)
    p = F.col(prediction_col) == F.lit(pos_label)
    row = df.agg(
        F.sum((y & p).cast("long")).alias("tp"),
        F.sum(((~y) & p).cast("long")).alias("fp"),
        F.sum((y & (~p)).cast("long")).alias("fn"),
        F.sum(((~y) & (~p)).cast("long")).alias("tn")).collect()[0]
    tp, fp = int(row["tp"] or 0), int(row["fp"] or 0)
    fn, tn = int(row["fn"] or 0), int(row["tn"] or 0)
    denom = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    if denom == 0:
        return 0.0
    return float(tp * tn - fp * fn) / math.sqrt(float(denom))


def expected_calibration_error(df: DataFrame, label_col: str = "label",
                               prob_col: str = "probability",
                               n_bins: int = 10) -> DataFrame:
    """Expected / maximum calibration error — the scalar summary of
    calibration_curve's reliability diagram (the modern
    model-monitoring gate: a quality classifier whose 0.9 bucket is
    right 60% of the time poisons every threshold downstream).
    ECE = Σ_b (n_b/n)·|acc_b − conf_b|, MCE = max_b |acc_b − conf_b|,
    over the same ≤n_bins equal-width probability buckets
    calibration_curve uses — ONE groupBy(bin) aggregate, driver
    assembly in bin order (≤n_bins float terms; integer counts and
    fixed op order keep it engine-replayable). Returns one row:
    (n, n_bins, ece, mce).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    p = F.col(prob_col).cast("double")
    b = F.least(F.lit(n_bins - 1),
                F.floor(p * F.lit(n_bins))).cast("int")
    rows = (df.where(p.isNotNull() & ~F.isnan(p)
                     & (p >= 0.0) & (p <= 1.0)
                     & F.col(label_col).isNotNull())
            .groupBy(b.alias("__b"))
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.sum(p).alias("__sp"),
                 F.sum((F.col(label_col) == 1).cast("long"))
                 .alias("__pos"))
            .collect())
    if not rows:
        raise ValueError("expected_calibration_error: no rows with "
                         "probabilities in [0, 1]")
    rows.sort(key=lambda r: r["__b"])
    n = sum(int(r["__n"]) for r in rows)
    ece = 0.0
    mce = 0.0
    for r in rows:
        nb = float(r["__n"])
        gap = abs(float(r["__pos"]) / nb - r["__sp"] / nb)
        ece += (nb / n) * gap
        mce = max(mce, gap)
    return local_frame(
        df.sparkSession, [(int(n), int(n_bins), float(ece), float(mce))],
        "n long, n_bins long, ece double, mce double")


def brier_decomposition(df: DataFrame, label_col: str = "label",
                        prob_col: str = "probability",
                        n_bins: int = 10) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score — the
    diagnostic companion to expected_calibration_error: the same
    scalar gate split into WHY it is what it is.
    BS = (1/n)Σ(p_i − y_i)² decomposes over the ≤n_bins probability
    buckets as
      BS = REL − RES + UNC + WBV − 2·WBC
    with REL = Σ n_k(p̄_k − ȳ_k)²/n (calibration gap — the fixable
    part), RES = Σ n_k(ȳ_k − ȳ)²/n (how much sorting power the score
    has), UNC = ȳ(1 − ȳ) (the irreducible base-rate floor), and the
    two within-bin terms WBV = Σ(Σp² − n_k p̄_k²)/n,
    WBC = Σ(Σpy − n_k p̄_k ȳ_k)/n that make the identity EXACT for
    raw (unbinned) probabilities — pytest pins it to 1e-12.

    ONE groupBy(bin) aggregate over ≤n_bins groups (the ece/
    calibration_curve bucket convention: p ∈ [0,1] kept,
    complete-case), exact-count driver assembly in bin order. Returns
    one row: (n, n_bins, brier, reliability, resolution, uncertainty,
    within_var, within_cov).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    p = F.col(prob_col).cast("double")
    y = (F.col(label_col) == 1).cast("double")
    b = F.least(F.lit(n_bins - 1),
                F.floor(p * F.lit(n_bins))).cast("int")
    rows = (df.where(p.isNotNull() & ~F.isnan(p)
                     & (p >= 0.0) & (p <= 1.0)
                     & F.col(label_col).isNotNull())
            .groupBy(b.alias("__b"))
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.sum(p).alias("__sp"),
                 F.sum(p * p).alias("__spp"),
                 F.sum(y).alias("__sy"),
                 F.sum(p * y).alias("__spy"))
            .collect())
    if not rows:
        raise ValueError("brier_decomposition: no rows with "
                         "probabilities in [0, 1]")
    rows.sort(key=lambda r: r["__b"])
    n = sum(int(r["__n"]) for r in rows)
    ybar = sum(float(r["__sy"]) for r in rows) / n
    brier = rel = res = wbv = wbc = 0.0
    for r in rows:
        nb = float(r["__n"])
        pbar, ybk = r["__sp"] / nb, float(r["__sy"]) / nb
        # y is 0/1 so Σy² = Σy: (p−y)² sums to Σp² − 2Σpy + Σy
        brier += r["__spp"] - 2.0 * r["__spy"] + float(r["__sy"])
        rel += nb * (pbar - ybk) * (pbar - ybk)
        res += nb * (ybk - ybar) * (ybk - ybar)
        wbv += r["__spp"] - nb * pbar * pbar
        wbc += r["__spy"] - nb * pbar * ybk
    return local_frame(
        df.sparkSession,
        [(int(n), int(n_bins), brier / n, rel / n, res / n,
          ybar * (1.0 - ybar), wbv / n, wbc / n)],
        "n long, n_bins long, brier double, reliability double, "
        "resolution double, uncertainty double, within_var double, "
        "within_cov double")


def precision_score(df: DataFrame, label_col: str = "label",
                    prediction_col: str = "prediction", pos_label: float = 1.0) -> float:
    return precision_recall_f1(df, label_col, prediction_col, pos_label)["precision"]


def recall_score(df: DataFrame, label_col: str = "label",
                 prediction_col: str = "prediction", pos_label: float = 1.0) -> float:
    return precision_recall_f1(df, label_col, prediction_col, pos_label)["recall"]


def f1_score(df: DataFrame, label_col: str = "label",
             prediction_col: str = "prediction", pos_label: float = 1.0) -> float:
    return precision_recall_f1(df, label_col, prediction_col, pos_label)["f1"]


def _u_term(p, neg_below, neg):
    """One score's share of the rank-sum U: its positives outrank the
    negatives below it and tie with half of those at it."""
    return p * (neg_below + 0.5 * neg)


def _auc(u, n_pos, n_neg) -> float:
    if not n_pos or not n_neg:
        raise ValueError("roc_auc_score needs both classes present")
    return float(u / (n_pos * n_neg))


def _auc_driver(rows) -> float:
    """AUC from (__s, __p, __neg) count rows, accumulated in ascending
    __s order."""
    u = neg_below = n1 = n0 = 0.0
    for r in sorted(rows, key=lambda r: r["__s"]):
        u += _u_term(r["__p"], neg_below, r["__neg"])
        neg_below += r["__neg"]
        n1 += r["__p"]
        n0 += r["__neg"]
    return _auc(u, n1, n0)


def roc_auc_score(df: DataFrame, label_col: str = "label",
                  score_col: str = "score", bins: int | None = None) -> float:
    """Distributed ROC-AUC (beyond-reference — dask-ml ships no AUC;
    quality-classifier gating needs one).

    Rank-sum (Mann-Whitney U) formulation with tie-averaged ranks:
    AUC = Σ_s pos(s)·(neg_below(s) + ½·neg_at(s)) / (n_pos·n_neg).

    Exact (default): one groupBy(score) aggregate (distinct scores, not
    rows), a distributed two-phase prefix sum over score order
    (datapipe.packing.prefix_sum — no global single-partition window),
    and one final scalar aggregate. Continuous scores make the group
    count ≈ the row count, so the prefix sum range-sorts the score
    column — still no N² pairs, but a sort-sized shuffle.

    ``bins=K`` is the 100 TB scale path: scores are bucketed into K
    equal-width bins (one min/max aggregate + one groupBy over ≤K+2
    groups, only K rows to the driver), treating a bin as one tied
    score — |error| ≤ the pair mass within a bin, O(1/K) for smooth
    score distributions.
    """
    from dask_ml_spark.datapipe.packing import prefix_sum
    from dask_ml_spark.functions.stats import spark_sql

    # null/NaN scores or labels carry no ranking information — drop them
    # up front (both paths; a null score would otherwise poison the
    # range partitioning / bucket sort)
    s = F.col(score_col).cast("double")
    df = df.where(s.isNotNull() & ~F.isnan(s) & F.col(label_col).isNotNull())
    if bins is not None:
        lohi = df.agg(F.min(s).alias("lo"), F.max(s).alias("hi")).collect()[0]
        lo, hi = float(lohi["lo"]), float(lohi["hi"])
        width = (hi - lo) or 1.0
        s = F.least(F.lit(bins - 1),
                    F.floor((s - F.lit(lo)) / F.lit(width) * F.lit(bins))).cast("int")
    g = (
        df.groupBy(s.alias("__s"))
        .agg(F.count("*").cast("double").alias("__c"),
             F.sum((F.col(label_col) == 1).cast("double")).alias("__p"))
        .withColumn("__neg", F.col("__c") - F.col("__p"))
    )
    if bins is not None:
        # at most K bucket rows: always the driver loop
        return _auc_driver(g.collect())
    # bounded driver path (stats.py's kaplan/ks pattern): when the
    # distinct-score frame fits, cumsum driver-side — U is a sum of
    # integer products < 2^53, bit-identical to the prefix machine;
    # the cut lets the fallback reuse the materialized frame
    g, head = bounded_head(g)
    if head is not None:
        return _auc_driver(head)
    withcum = prefix_sum(g, "__s", "__neg", "__neg_below")
    row = withcum.agg(
        F.sum(F.expr(spark_sql(_u_term, "__p", "__neg_below", "__neg"))).alias("u"),
        F.sum("__p").alias("n1"),
        F.sum("__neg").alias("n0"),
    ).collect()[0]
    return _auc(row["u"], row["n1"], row["n0"])


def r2_score(df: DataFrame, label_col: str = "label", prediction_col: str = "prediction") -> float:
    """1 - SS_res/SS_tot in ONE aggregation pass.

    SS_tot = sum((y - mean)^2) = sum(y^2) - n*mean^2, so the whole metric
    is a single hash-aggregate — no second pass over the data (the
    reference also single-passes via da.mean fusion,
    metrics/regression.py:151-175).
    """
    row = df.agg(*_r2_parts(F.col(label_col), F.col(prediction_col))
                 ).collect()[0]
    return _r2_finish(*row)


def _r2_parts(y: Column, p: Column) -> list[Column]:
    return [F.sum(F.pow(y - p, 2)), F.sum(F.pow(y, 2)), F.sum(y), F.count(y)]


def _r2_finish(ss_res, ss_y2, s, n) -> float:
    ss_tot = ss_y2 - s ** 2 / n
    if ss_tot == 0:
        return 0.0
    return 1.0 - ss_res / ss_tot


def log_loss(df: DataFrame, label_col: str = "label", prob_col: str | None = None,
             prediction_col: str | None = None, weight_col: str | None = None) -> float:
    """Exact one-pass log loss.

    The probability column (``prob_col``; ``prediction_col`` accepted as an
    alias so the scorer protocol's keyword works) may be either a double
    P(class=1) for the binary case or an array of per-class probabilities
    (``predict_proba`` output) — the multiclass form averages
    -log p[label].
    """
    from pyspark.sql import types as T

    col = prob_col or prediction_col or "probability"
    w = F.col(weight_col) if weight_col else None
    y = F.col(label_col)
    if isinstance(df.schema[col].dataType, T.ArrayType):
        p_true = F.element_at(F.col(col), y.cast("int") + 1)
        p = F.least(F.greatest(p_true, F.lit(EPS)), F.lit(1.0 - EPS))
        return _scalar(df, _weighted_mean(-F.log(p), w))
    return _scalar(df, log_loss_expr(y, F.col(col), w))


# --- scorer registry (reference: metrics/scorer.py:9-76) ----------------

class Scorer:
    """Callable scorer with sklearn ``make_scorer`` semantics: a sign for
    greater-is-better and a ``needs_proba`` flag telling search/score code
    to route through ``predict_proba`` instead of ``predict``."""

    def __init__(self, metric, greater_is_better: bool = True,
                 needs_proba: bool = False, parts=None, finish=None):
        self.metric = metric
        self.sign = 1.0 if greater_is_better else -1.0
        self.needs_proba = needs_proba
        # optional aggregate form of ``metric``: ``parts(y, p)`` gives
        # aggregate Columns over (label, prediction), ``finish(*values)``
        # the metric from their collected values (default: the single
        # value). score_folds needs it to score many models in one pass
        self.parts = parts
        self.finish = finish or (lambda v: v)

    def __call__(self, df: DataFrame, *args, **kwargs) -> float:
        return self.sign * self.metric(df, *args, **kwargs)


def score_estimator(scorer, estimator, df: DataFrame, label_col: str = "label") -> float:
    """Apply a scorer to an estimator's predictions over ``df``, routing
    through ``predict_proba`` when the scorer needs probabilities."""
    if getattr(scorer, "needs_proba", False):
        if not hasattr(estimator, "predict_proba"):
            raise ValueError(
                f"scorer requires probabilities but {type(estimator).__name__} "
                "has no predict_proba")
        pred = estimator.predict_proba(df)
        return scorer(pred, label_col=label_col, prediction_col="probability")
    pred = estimator.predict(df)
    return scorer(pred, label_col=label_col, prediction_col="prediction")


def score_folds(scorer, models, df: DataFrame, fold_col: str,
                label_col: str = "label"):
    """Score many (estimator, fold) pairs of one fold-tagged frame in
    ONE aggregate: pair ``(est, k)`` is scored on the rows of ``df``
    whose ``fold_col`` equals ``k`` — the value score_estimator gives
    on that filter, because every aggregate part skips the NULLs the
    fold mask puts outside the fold. The estimators must predict with
    plain column expressions (``predict``/``predict_proba`` taking an
    ``output_col``). Returns the scores in order, or None when the
    scorer has no aggregate form (``Scorer.parts``); the caller then
    scores per model with score_estimator."""
    if getattr(scorer, "parts", None) is None:
        return None
    exprs, widths = [], []
    for j, (est, fold) in enumerate(models):
        out = f"__score_pred{j}"
        df = (est.predict_proba(df, output_col=out) if scorer.needs_proba
              else est.predict(df, output_col=out))
        held = F.col(fold_col) == F.lit(fold)
        parts = scorer.parts(F.when(held, F.col(label_col)),
                             F.when(held, F.col(out)))
        exprs += parts
        widths.append(len(parts))
    row = list(df.agg(*[e.alias(f"v{i}") for i, e in enumerate(exprs)])
               .collect()[0])
    scores, at = [], 0
    for w in widths:
        scores.append(scorer.sign * scorer.finish(*row[at:at + w]))
        at += w
    return scores


# Scorer-registry AUC default: the binned path. Exact rank-sum AUC
# range-sorts the distinct-score table — a sort-sized shuffle that a
# CV grid re-pays per (param, fold). 4096 bins keeps |error| ≤ the
# within-bin pair mass (≈ O(1/4096) for smooth score distributions,
# far below fold-to-fold CV noise) for two cheap aggregate passes.
# Call roc_auc_score(..., bins=None) directly when exactness matters.
DEFAULT_AUC_BINS = 4096


def _roc_auc_from_proba(df: DataFrame, label_col: str = "label",
                        prediction_col: str = "probability",
                        bins: int | None = DEFAULT_AUC_BINS,
                        **_ignored) -> float:
    """AUC over a probability column (double P(class=1) or
    predict_proba array — scorer-protocol adapter for roc_auc_score).

    The registry's 'roc_auc' uses the binned scale path
    (DEFAULT_AUC_BINS — see the constant's error-bound note): scores
    can differ from the exact rank-sum AUC by ~O(1/4096), which can
    flip near-tie candidate rankings in a CV grid. Register-level
    opt-out: 'roc_auc_exact' runs bins=None (exact, sort-sized
    shuffle per evaluation)."""
    from pyspark.sql import types as T

    if isinstance(df.schema[prediction_col].dataType, T.ArrayType):
        df = df.withColumn("__score", F.element_at(F.col(prediction_col), 2))
    else:
        df = df.withColumn("__score", F.col(prediction_col))
    return roc_auc_score(df, label_col, "__score", bins=bins)


def _roc_auc_exact_from_proba(df: DataFrame, label_col: str = "label",
                              prediction_col: str = "probability",
                              **_ignored) -> float:
    return _roc_auc_from_proba(df, label_col, prediction_col, bins=None)


SCORERS = {
    "accuracy": Scorer(accuracy_score,
                       parts=lambda y, p: [accuracy_expr(y, p)]),
    "r2": Scorer(r2_score, parts=_r2_parts, finish=_r2_finish),
    "neg_mean_squared_error": Scorer(mean_squared_error, greater_is_better=False,
                                     parts=lambda y, p: [mse_expr(y, p)]),
    "neg_mean_absolute_error": Scorer(mean_absolute_error, greater_is_better=False,
                                      parts=lambda y, p: [mae_expr(y, p)]),
    "neg_log_loss": Scorer(log_loss, greater_is_better=False, needs_proba=True),
    # binned AUC (DEFAULT_AUC_BINS, ~O(1/4096) error) — the 100 TB
    # default; 'roc_auc_exact' is the rank-sum path when near-tie
    # candidate rankings must not flip on binning error
    "roc_auc": Scorer(_roc_auc_from_proba, needs_proba=True),
    "roc_auc_exact": Scorer(_roc_auc_exact_from_proba, needs_proba=True),
}


def get_scorer(scoring):
    if callable(scoring):
        return scoring
    try:
        return SCORERS[scoring]
    except KeyError:
        raise ValueError(f"{scoring} is not a valid scoring value; valid: {sorted(SCORERS)}")


def check_scoring(estimator, scoring=None):
    if scoring is None:
        scoring = "accuracy" if getattr(estimator, "_estimator_type", "") == "classifier" else "r2"
    return get_scorer(scoring)


def symmetric_mape(df: DataFrame, label_col: str = "label",
                   prediction_col: str = "prediction",
                   weight_col: str | None = None) -> float:
    w = F.col(weight_col) if weight_col else None
    return df.agg(smape_expr(F.col(label_col), F.col(prediction_col),
                             w).alias("v")).collect()[0]["v"]


def mase(df: DataFrame, label_col: str, prediction_col: str,
         order_col: str, m: int = 1) -> float:
    """Mean Absolute Scaled Error (Hyndman & Koehler 2006) — the
    forecast metric with a meaningful unit: error relative to the
    in-sample seasonal-naive forecast (lag m). MASE < 1 beats the
    naive; scale-free, so it compares across series where MAPE and
    RMSE can't. Denominator pairs each point with its lag-m
    predecessor by INTEGER equi-join on the order column (the acf
    convention — exact pairing, no keyless window); a constant series
    (zero naive error) raises loudly rather than emitting inf.
    """
    if m < 1:
        raise ValueError("m must be >= 1")
    o = F.col(order_col).cast("long")
    y = F.col(label_col).cast("double")
    p = F.col(prediction_col).cast("double")
    kept = (df.where(o.isNotNull() & y.isNotNull() & ~F.isnan(y))
            .select(o.alias("__o"), y.alias("__y"), p.alias("__p")))
    num = kept.where(F.col("__p").isNotNull()
                     & ~F.isnan(F.col("__p"))).agg(
        F.avg(F.abs(F.col("__p") - F.col("__y"))).alias("v")
    ).collect()[0]["v"]
    lag = kept.select((F.col("__o") + m).alias("__o"),
                      F.col("__y").alias("__ylag"))
    den = kept.join(lag, "__o").agg(
        F.avg(F.abs(F.col("__y") - F.col("__ylag"))).alias("v")
    ).collect()[0]["v"]
    if num is None or den is None:
        raise ValueError("mase: no comparable (t, t-m) pairs — check "
                         "the order column and lag m")
    if den <= 0.0:
        raise ValueError("mase: the lag-m naive error is zero (a "
                         "constant series) — MASE is undefined")
    return float(num / den)
