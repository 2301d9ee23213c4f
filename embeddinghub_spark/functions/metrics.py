"""Distributed model-evaluation metrics over scored frames.

The training side of the house (nb_classifier, perplexity scoring,
contrastive mining) produces scores; this module closes the loop with
the two evaluation shapes a pipeline actually gates on — ROC-AUC and
a calibration table — computed exactly, without collecting scores to
the driver, and with every intermediate either an exact integer or a
double any IEEE-754 engine reproduces (the repo's oracle protocol).

Reference parity: featureform computes no metrics itself (it exports
training sets for external evaluation); build addendum per SURVEY §2.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    quantize: int | None = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ROC-AUC via the tie-aware rank-sum (Mann–Whitney U)
    identity: ``AUC = (Σ_pos avg_rank − n⁺(n⁺+1)/2) / (n⁺·n⁻)`` with
    ties receiving their average rank. All rank arithmetic runs on
    DOUBLED integers (2·avg_rank = 2·cum_before + n + 1) so every sum
    is an exact bigint and the one double division happens at the end
    — partial-aggregation order cannot move the result.

    Scale shape: one groupBy collapses the data to DISTINCT-score
    rows (map-side combine — the only pass over the data). The
    cumulative count below each score is then ``global_prefix`` (the
    C5 prefix sum, operators/materialize.py) over the distinct-score
    frame — no single-partition window at any |distinct scores|. On
    top of that, ``quantize`` (default 4 decimal places — standard
    reporting precision for AUC) rounds scores IN-OP before the
    groupBy so a continuous scorer cannot blow up the distinct-score
    frame in the first place; pass ``quantize=None`` for bit-exact unquantized
    ranks (the prefix sum keeps even that fully parallel). Rows with
    NULL score or label are excluded.

    Output: one row ``(auc, n_pos, n_neg)``; AUC is NULL when either
    class is empty (undefined, not 0 — a degenerate eval should be
    visible, not silently perfect).
    """
    s = F.col(score_col).cast("double")
    if quantize is not None:
        s = F.round(s, quantize)
    t = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        s.alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    )
    from embeddinghub_spark.operators.materialize import global_prefix

    per_score = t.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    ranked, _ = global_prefix(
        per_score,
        [F.col("_s")],
        out_col="_cum",
        value_col="_n",
        num_partitions=num_partitions,
    )
    return _rank_sum_auc(ranked.withColumn("_cb", F.col("_cum") - F.col("_n")))


def _rank_sum_auc(ranked: DataFrame, *group_cols: str) -> DataFrame:
    """The tie-aware rank-sum tail shared by every AUC here: ``ranked``
    holds one row per distinct score with ``_n`` rows, ``_p``
    positives and ``_cb`` rows ranked strictly below it; the output is
    ``(*group_cols, auc, n_pos, n_neg)`` per group (one row without
    groups). 2·avg_rank = 2·_cb + _n + 1 keeps every sum an exact
    bigint; AUC is NULL when either class is empty."""
    agg = ranked.groupBy(*group_cols).agg(
        F.sum(
            F.col("_p") * (F.lit(2) * F.col("_cb") + F.col("_n") + F.lit(1))
        ).alias("_s2"),  # Σ_pos 2·avg_rank
        F.sum("_p").alias("n_pos"),
        F.sum(F.col("_n") - F.col("_p")).alias("n_neg"),
    )
    auc = (
        (F.col("_s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
        / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
    )
    return agg.select(
        *group_cols,
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), F.round(auc, 9)
        ).alias("auc"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
    )


def auc_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    quantize: int | None = 4,
) -> DataFrame:
    """Per-slice ROC-AUC (one row per group) via the same tie-aware
    rank-sum identity as ``binary_auc`` — the sliced-eval gate
    (per-language, per-source, per-cohort) a 100 TB eval actually
    reports, where a single global AUC hides a failing slice.

    Scale shape: one groupBy collapses to DISTINCT (group, score)
    rows; the per-group cumulative count is a window PARTITIONED BY
    group — never a global single-partition window. The in-op
    ``quantize`` (default 4 dp) bounds the per-group window state at
    ≤ 2·10⁴ rows regardless of input size, so even a whale group
    cannot blow up one task; ``quantize=None`` gives bit-exact ranks
    but re-opens that exposure (documented trade, same contract as
    ``binary_auc``). All rank arithmetic on doubled integers; one
    double division per output row.

    Output: (group_col, auc, n_pos, n_neg) — AUC NULL for one-class
    groups (visible, not silently perfect).
    """
    s = F.col(score_col).cast("double")
    if quantize is not None:
        s = F.round(s, quantize)
    t = df.filter(
        F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        s.alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    )
    per_score = t.groupBy("_g", "_s").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    w = (
        Window.partitionBy("_g")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = per_score.withColumn("_cb", F.sum("_n").over(w) - F.col("_n"))
    return _rank_sum_auc(ranked, "_g").withColumnRenamed("_g", group_col)


def ranking_metrics(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval metrics — NDCG@k (linear gain), P@k, R@k,
    reciprocal rank — the eval loop for the ANN / BM25 / RRF retrieval
    stack (vector.py knn_*, text.py bm25, vector.py rrf_fusion): run a
    candidate list with graded relevance through this and gate on the
    macro average.

    Ranking is deterministic: row_number over (score DESC, doc ASC) —
    the doc tiebreak makes every engine produce the same permutation,
    so the metrics are replayable (the repo's oracle protocol; plain
    rank() would double-count ties and sorted-input engines would
    disagree). DCG terms ``rel / log2(rank+1)`` are rounded to 9 dp
    and summed as 1e9-scaled bigints, so partial-aggregation order
    cannot move the sum; the per-query divisions happen once per
    OUTPUT row.

    Scale shape: one window PARTITIONED BY query (state = candidate
    list length, bounded by the retriever's k_cand, never corpus-
    sized) + one groupBy on query. NDCG is NULL when the query has no
    relevant docs (IDCG = 0 — undefined, visible); reciprocal_rank is
    0.0 then (standard MRR convention).

    Output: (query_col, ndcg_at_k, precision_at_k, recall_at_k,
    reciprocal_rank, n_candidates, n_relevant).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    t = df.filter(
        F.col(query_col).isNotNull() & F.col(doc_col).isNotNull()
    ).select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(score_col).cast("double").alias("_s"),
        F.coalesce(F.col(rel_col).cast("double"), F.lit(0.0)).alias("_r"),
    )
    by_score = Window.partitionBy("_q").orderBy(
        F.col("_s").desc(), F.col("_d").asc()
    )
    by_rel = Window.partitionBy("_q").orderBy(
        F.col("_r").desc(), F.col("_d").asc()
    )
    ranked = t.select(
        "_q", "_r",
        F.row_number().over(by_score).alias("_rank"),
        F.row_number().over(by_rel).alias("_irank"),
    )
    # 1e9-scaled integer DCG terms: exact bigint sums, order-free.
    dcg_term = F.when(
        (F.col("_rank") <= k) & (F.col("_r") > 0),
        F.round(
            F.col("_r") * F.lit(1e9) / F.log2(F.col("_rank") + F.lit(1.0))
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    idcg_term = F.when(
        (F.col("_irank") <= k) & (F.col("_r") > 0),
        F.round(
            F.col("_r") * F.lit(1e9) / F.log2(F.col("_irank") + F.lit(1.0))
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    g = ranked.groupBy("_q").agg(
        F.sum(dcg_term).alias("_dcg"),
        F.sum(idcg_term).alias("_idcg"),
        F.sum(
            F.when((F.col("_rank") <= k) & (F.col("_r") > 0), 1).otherwise(0)
        ).alias("_hits"),
        F.sum(F.when(F.col("_r") > 0, 1).otherwise(0)).alias("n_relevant"),
        F.min(F.when(F.col("_r") > 0, F.col("_rank"))).alias("_first"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    return g.select(
        F.col("_q").alias(query_col),
        F.when(
            F.col("_idcg") > 0,
            F.round(F.col("_dcg").cast("double") / F.col("_idcg"), 9),
        ).alias("ndcg_at_k"),
        F.round(F.col("_hits") / F.lit(float(k)), 9).alias("precision_at_k"),
        F.when(
            F.col("n_relevant") > 0,
            F.round(F.col("_hits") / F.col("n_relevant").cast("double"), 9),
        ).alias("recall_at_k"),
        F.coalesce(
            F.round(F.lit(1.0) / F.col("_first"), 9), F.lit(0.0)
        ).alias("reciprocal_rank"),
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_relevant").cast("bigint").alias("n_relevant"),
    )


def fit_isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    quantize: int = 3,
) -> DataFrame:
    """Fit an isotonic (monotone non-decreasing) calibration map from
    scores to empirical positive rates — pool-adjacent-violators
    (PAV), the standard recalibration when ``calibration_bins`` /
    ``expected_calibration_error`` flag a model, and the
    non-parametric alternative to Platt scaling (which is just
    ``linear.logistic_regression_fit`` on the 1-D score).

    Scale shape: ONE groupBy collapses the corpus to distinct
    QUANTIZED scores (in-op ``quantize``, default 3 dp → ≤ 10³+1 rows
    for [0,1] scorers — scores clamp into [0,1] first so the grid is
    closed); that bounded frame is collected and PAV runs driver-side
    (PAV is inherently sequential in score order; the distinct-score
    table is its exact sufficient statistic — same honest split as
    ``bpe_merges``). The fitted map is then expanded to the FULL
    quantized grid (step-function semantics: each grid point takes
    the fitted value of the nearest fitted score at or below it, the
    first fitted value below the minimum), so ``apply_calibration``
    can broadcast-join ANY score against it with no range logic.

    Output: ``(score, calibrated, n)`` — one row per grid point;
    ``n`` is the observed count at that quantized score (0 for
    grid-filled points).
    """
    if quantize < 1 or quantize > 6:
        raise ValueError("quantize must be in [1, 6]")
    s = F.round(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), F.col(score_col).cast("double"))),
        quantize,
    )
    per_score = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(s.alias("_s"), F.col(label_col).cast("int").alias("_y"))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p"))
        .orderBy("_s")
        .collect()
    )  # bounded: ≤ 10^quantize + 1 rows by construction
    if not per_score:
        raise ValueError("no rows to fit")
    # pool-adjacent-violators over (rate, weight) in score order
    blocks: list[list] = []  # [sum_pos, sum_n, first_score]
    for r in per_score:
        blocks.append([r["_p"], r["_n"], r["_s"]])
        while (
            len(blocks) >= 2
            and blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
        ):  # rate[-2] >= rate[-1] -> pool (exact integer cross-compare)
            p2, n2, s2 = blocks.pop()
            blocks[-1][0] += p2
            blocks[-1][1] += n2
    fitted = {}  # observed score -> calibrated rate
    bi = 0
    for r in per_score:
        if bi + 1 < len(blocks) and r["_s"] >= blocks[bi + 1][2]:
            bi += 1
        fitted[r["_s"]] = blocks[bi][0] / blocks[bi][1]
    observed_n = {r["_s"]: r["_n"] for r in per_score}
    # expand to the full [0,1] grid with step-function fill
    scale = 10 ** quantize
    grid_rows = []
    keys = sorted(fitted)
    ki = -1
    for i in range(scale + 1):
        g = round(i / scale, quantize)
        while ki + 1 < len(keys) and keys[ki + 1] <= g:
            ki += 1
        v = fitted[keys[max(ki, 0)]]
        grid_rows.append(
            (g, round(v, 9), int(observed_n.get(g, 0)))
        )
    return df.sparkSession.createDataFrame(
        grid_rows, "score DOUBLE, calibrated DOUBLE, n BIGINT"
    )


def apply_calibration(
    df: DataFrame,
    calibration: DataFrame,
    score_col: str,
    out_col: str = "calibrated",
    quantize: int = 3,
) -> DataFrame:
    """Apply a fitted calibration grid (``fit_isotonic_calibration``
    output) to a scored frame: quantize + clamp the score exactly as
    the fit did, then BROADCAST-join the ≤10^quantize+1-row grid — a
    map-side join with zero shuffle of the scored data at any corpus
    size. Rows with NULL score pass through with NULL ``out_col``
    (greatest/least IGNORE nulls in Spark, so the clamp needs an
    explicit NULL guard or a null score would clamp to 1.0).
    """
    s = F.when(
        F.col(score_col).isNotNull(),
        F.round(
            F.greatest(
                F.lit(0.0),
                F.least(F.lit(1.0), F.col(score_col).cast("double")),
            ),
            quantize,
        ),
    )
    cal = F.broadcast(
        calibration.select(
            F.col("score").alias("_cal_s"),
            F.col("calibrated").alias(out_col),
        )
    )
    return (
        df.withColumn("_cal_s", s)
        .join(cal, "_cal_s", "left")
        .drop("_cal_s")
    )


def fit_platt_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_iters: int = 100,
    lr: float = 1.0,
) -> dict:
    """Platt scaling — the PARAMETRIC recalibration next to
    ``fit_isotonic_calibration``'s non-parametric PAV: fit
    ``σ(a·s + b)`` by logistic regression on the raw score. Two
    parameters can't overfit a small validation slice the way a
    1000-point isotonic grid can; isotonic wins when the miscalibration
    is non-sigmoid. Delegates to ``linear.logistic_regression_fit``
    (one map-side-combined gradient aggregate per iteration), so the
    data never moves. Returns ``{"a": ..., "b": ..., **fit_stats}``.
    """
    from embeddinghub_spark.functions.linear import logistic_regression_fit

    t = df.select(
        F.array(F.col(score_col).cast("double")).alias("_x"),
        F.col(label_col).alias("_y"),
    )
    fit = logistic_regression_fit(t, "_x", "_y", dim=1, n_iters=n_iters, lr=lr)
    return {
        "a": fit["weights"][0],
        "b": fit["intercept"],
        "n_iters_run": fit["n_iters_run"],
        "loss_history": fit["loss_history"],
        "n": fit["n"],
    }


def apply_platt_calibration(
    df: DataFrame,
    model: dict,
    score_col: str,
    out_col: str = "calibrated",
) -> DataFrame:
    """Map-only ``σ(a·s + b)`` — pure codegen, zero exchanges."""
    m = F.lit(float(model["a"])) * F.col(score_col).cast("double") + F.lit(
        float(model["b"])
    )
    return df.withColumn(
        out_col,
        F.when(
            F.col(score_col).isNotNull(),
            F.lit(1.0) / (F.lit(1.0) + F.exp(-m)),
        ),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for scores in [0, 1]: per equal-width score
    bin, the count, mean predicted score, and observed positive rate
    — the table a calibration plot (and an ECE number) reads off.
    Out-of-range scores clamp into the edge bins so a miscalibrated
    scorer is visible rather than dropped.

    Mean scores sum as 1e6-scaled exact bigints (order-independent);
    the two divisions to double happen per OUTPUT row. One bounded
    groupBy — exchange ≤ n_bins rows per task at any input size.

    Output: (bin, lo, hi, n, mean_score, positive_rate), bins with no
    rows omitted.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    t = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    )
    b = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_bins - 1), F.floor(F.col("_s") * n_bins).cast("int")
        ),
    )
    grouped = (
        t.withColumn("bin", b)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("_s") * 1_000_000).cast("bigint")
            ).alias("_ssum"),
            F.sum("_y").alias("_pos"),
        )
    )
    return grouped.select(
        "bin",
        F.round(F.col("bin") / F.lit(float(n_bins)), 6).alias("lo"),
        F.round((F.col("bin") + 1) / F.lit(float(n_bins)), 6).alias("hi"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("_ssum").cast("double") / 1e6 / F.col("n"), 6
        ).alias("mean_score"),
        F.round(
            F.col("_pos").cast("double") / F.col("n"), 6
        ).alias("positive_rate"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Expected Calibration Error: the bin-weighted mean gap between
    predicted score and observed positive rate,
    ``ECE = Σ (nᵢ/N)·|posᵢ/nᵢ − mean_scoreᵢ|`` over the
    ``calibration_bins`` grid — the one-number summary a model gate
    thresholds on (≲0.01 well-calibrated, ≳0.1 needs recalibration).

    Stronger than the table's discipline: the weighted gap
    ``nᵢ·|posᵢ/nᵢ − meanᵢ|`` equals ``|posᵢ·10⁶ − ssumᵢ| / 10⁶``
    EXACTLY, so the reduction is one abs-difference bigint sum —
    bit-identical under any aggregation order, no double sums at all
    until the final division. Output: one row
    (ece, n, n_bins_occupied).
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    t = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    )
    b = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_bins - 1), F.floor(F.col("_s") * n_bins).cast("int")
        ),
    )
    g = (
        t.withColumn("bin", b)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("_s") * 1_000_000).cast("bigint")
            ).alias("_ssum"),
            F.sum("_y").alias("_pos"),
        )
    )
    # n_i * |pos_i/n_i - ssum_i/1e6/n_i| == |pos_i*1e6 - ssum_i|/1e6
    gap_scaled = F.abs(
        F.col("_pos").cast("bigint") * F.lit(1_000_000) - F.col("_ssum")
    )
    return g.agg(
        F.round(
            F.sum(gap_scaled).cast("double") / 1e6 / F.sum("n"), 9
        ).alias("ece"),
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins_occupied"),
    )
