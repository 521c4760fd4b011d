"""Evaluation metrics as DataFrame aggregations.

* ``det_metrics`` — the ``DetMetric`` analog (reference
  mindocr/metrics/det_metrics.py:29-153): predicted vs golden byte spans
  matched by interval IoU ≥ 0.5 (the 1-D recast of the polygon IoU
  theta-join), with ignored golden regions excluded via an anti-join
  (det_metrics.py:46-57); TP/FP/FN → precision/recall/F1. Partial/final
  aggregation is Spark's native two-phase agg — the reference's manual
  ``AllReduce`` (det_metrics.py:141-153) is the shuffle exchange.
* ``rec_metrics`` — the ``RecMetric`` analog
  (mindocr/metrics/rec_metrics.py:62-151): exact-match ratio + mean
  normalized edit distance (1 − lev/maxlen) via built-in ``levenshtein``.

Scale: everything is an equi-join on ``url`` (broadcast when one side is
a small golden set) followed by one aggregation — fully lazy, no
driver-side loops; the final counts combine via crossJoins of one-row
aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _explode(df: DataFrame, prefix: str) -> DataFrame:
    """(url, spans) → (url, {p}_idx, {p}_start, {p}_end)."""
    return df.select(
        "url", F.posexplode("spans").alias(f"{prefix}_idx", "s")
    ).select(
        "url",
        f"{prefix}_idx",
        F.col("s.start").alias(f"{prefix}_start"),
        F.col("s.end").alias(f"{prefix}_end"),
    )


def _match_pairs(
    p: DataFrame, g: DataFrame, iou_thresh: float, max_rounds: int = 5
) -> DataFrame:
    """IoU-matched (url, p_idx, g_idx, iou) pairs on exploded frames —
    a one-to-one matching computed by ITERATED greedy rounds.

    Join on ``url`` + overlap predicate (a range join); IoU =
    |intersection| / |union| of the byte intervals. Each round keeps,
    among still-unmatched pairs, the lowest-p_idx pair per golden then
    the lowest-g_idx pair per prediction (deterministic first-match, the
    greedy-match analog of det_metrics.py:58-77), then removes every
    pair touching a matched endpoint and repeats. A single round
    undercounts when one prediction overlaps two goldens (the second
    golden's alternate prediction was discarded with the first filter);
    iterating to fixpoint re-matches unclaimed goldens against remaining
    predictions, yielding a maximal matching. With IoU > 0.5 over
    non-overlapping span sets the matching is unique and round 2 is
    already empty, so the loop's extra actions are one cheap isEmpty on
    a tiny frame in the common case; ``max_rounds`` bounds adversarial
    inputs (any leftover pairs then stay unmatched — TP is exact for
    every real layout and a lower bound in that pathological corner)."""
    overlap = (F.col("p_start") < F.col("g_end")) & (F.col("g_start") < F.col("p_end"))
    inter = F.least("p_end", "g_end") - F.greatest("p_start", "g_start")
    union = F.greatest("p_end", "g_end") - F.least("p_start", "g_start")
    pairs = (
        p.join(g, "url")
        .filter(overlap)
        .withColumn("iou", inter / union)
        .filter(F.col("iou") >= iou_thresh)
        .select("url", "p_idx", "g_idx", "iou")
        # every round's windows/anti-joins re-reference this frame; an
        # uncached lineage would re-run the whole upstream detect pass
        # per round — materialize it once
        .localCheckpoint(eager=False)
    )
    by_gt = Window.partitionBy("url", "g_idx").orderBy("p_idx")
    by_pred = Window.partitionBy("url", "p_idx").orderBy("g_idx")
    matched: DataFrame | None = None
    remaining = pairs
    for _ in range(max_rounds):
        m = (
            remaining.withColumn("rp", F.row_number().over(by_gt))
            .filter(F.col("rp") == 1)
            .withColumn("rg", F.row_number().over(by_pred))
            .filter(F.col("rg") == 1)
            .select("url", "p_idx", "g_idx", "iou")
            # referenced 3x below (union + two anti-joins) and by the
            # emptiness probe: materialize once, GC-released after use
            .localCheckpoint(eager=True)
        )
        if m.isEmpty():
            break
        matched = m if matched is None else matched.unionByName(m)
        remaining = remaining.join(
            m.select("url", "p_idx"), ["url", "p_idx"], "left_anti"
        ).join(m.select("url", "g_idx"), ["url", "g_idx"], "left_anti")
    return matched if matched is not None else pairs.limit(0)


def det_metrics(
    pred: DataFrame,
    golden: DataFrame,
    iou_thresh: float = 0.5,
    ignore: DataFrame | None = None,
) -> DataFrame:
    """→ one row (n_golden, n_pred, tp, precision, recall, f1).

    ``ignore``: optional (url, start, end) regions; predictions covered
    > 50% by an ignored region are excluded entirely (the ignore-region
    anti-join, det_metrics.py:46-57); ignored golden spans should simply
    be absent from ``golden``."""
    p = _explode(pred, "p")
    if ignore is not None:
        ig = ignore.select(
            "url", F.col("start").alias("i_start"), F.col("end").alias("i_end")
        )
        cover = F.least("p_end", "i_end") - F.greatest("p_start", "i_start")
        covered = (
            p.join(ig, "url")
            .filter(cover * 2 > (F.col("p_end") - F.col("p_start")))
            .select("url", "p_idx")
            .distinct()
        )
        p = p.join(covered, ["url", "p_idx"], "left_anti")
    g = _explode(golden, "g")
    # p's lineage holds the whole detect pass and is referenced by both
    # the match join and the n_pred count (g likewise) — materialize each
    # once so the detector runs exactly once per metrics call
    p = p.localCheckpoint(eager=False)
    g = g.localCheckpoint(eager=False)
    tp = _match_pairs(p, g, iou_thresh).agg(F.count("*").alias("tp"))
    counts = (
        g.agg(F.count("*").alias("n_golden"))
        .crossJoin(p.agg(F.count("*").alias("n_pred")))
        .crossJoin(tp)
    )
    precision = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    recall = F.when(F.col("n_golden") > 0, F.col("tp") / F.col("n_golden")).otherwise(0.0)
    return (
        counts.withColumn("precision", precision)
        .withColumn("recall", recall)
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(0.0),
        )
    )


def rec_metrics(
    pred: DataFrame, golden: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact-match + normalized-edit-distance vs golden, joined on url →
    one row (n_docs, n_correct, acc, norm_edit)."""
    p = pred.select("url", F.col(text_col).alias("pred_text"))
    g = golden.select("url", F.col(text_col).alias("gold_text"))
    j = p.join(g, "url")
    lev = F.levenshtein("pred_text", "gold_text")
    maxlen = F.greatest(F.length("pred_text"), F.length("gold_text"), F.lit(1))
    return j.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("pred_text") == F.col("gold_text")).cast("long")).alias("n_correct"),
        F.avg((F.col("pred_text") == F.col("gold_text")).cast("double")).alias("acc"),
        F.avg(1.0 - lev / maxlen).alias("norm_edit"),
    )


def token_f1(pred: DataFrame, golden: DataFrame) -> DataFrame:
    """Per-document token-overlap F1 (the SQuAD-style bag-of-tokens
    metric; reference analog: the string metrics of RecMetric,
    mindocr/metrics/rec_metrics.py:106-119, generalized from exact/edit
    to multiset overlap): whitespace tokens of ``pred.text`` vs
    ``golden.text`` joined on ``url`` →
    (url, n_pred, n_gold, n_overlap, f1) with
    overlap = Σ_t min(count_pred(t), count_gold(t)) and
    f1 = 2·overlap / (n_pred + n_gold)  (1.0 when both sides are empty).

    Plan: explode both sides to per-(url, token) counts (map-side
    partial), one full-outer join on the composite key, one rollup back
    to the url — every stage shrinks toward vocabulary-per-doc scale.
    Counters are exact integers; the single f1 division has a fixed op
    order both engines share."""
    ws = "[ \\t\\r\\n]+"

    def counts(df: DataFrame, name: str) -> DataFrame:
        toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), ws)
        return (
            df.select("url", F.explode(toks).alias("t"))
            .filter(F.col("t") != "")
            .groupBy("url", "t")
            .agg(F.count("*").alias(name))
        )

    p = counts(pred, "cp")
    g = counts(golden, "cg")
    j = p.join(g, ["url", "t"], "full")
    per_url = j.groupBy("url").agg(
        F.sum(F.coalesce("cp", F.lit(0))).alias("n_pred"),
        F.sum(F.coalesce("cg", F.lit(0))).alias("n_gold"),
        F.sum(
            F.least(F.coalesce("cp", F.lit(0)), F.coalesce("cg", F.lit(0)))
        ).alias("n_overlap"),
    )
    # urls present in either input but with zero tokens on both sides
    # never appear in the exploded frames — restore them with f1 = 1.0
    urls = pred.select("url").unionByName(golden.select("url")).distinct()
    out = urls.join(per_url, "url", "left")
    np_, ng = F.coalesce("n_pred", F.lit(0)), F.coalesce("n_gold", F.lit(0))
    ov = F.coalesce("n_overlap", F.lit(0))
    f1 = F.when(np_ + ng == 0, F.lit(1.0)).otherwise(
        (F.lit(2.0) * ov.cast("double")) / (np_ + ng).cast("double")
    )
    return out.select(
        "url",
        np_.alias("n_pred"),
        ng.alias("n_gold"),
        ov.alias("n_overlap"),
        f1.alias("f1"),
    )


def auc_by_group(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str,
) -> DataFrame:
    """Exact ROC-AUC per group via the Mann-Whitney rank form, with
    tie-corrected (average-rank) handling kept in INTEGERS so two
    engines cannot disagree: the only float op is one final division.

    Derivation: rank all of a group's rows ascending by score; a tie
    group occupying ranks [a, b] gives each member average rank
    (a+b)/2, so DOUBLED ranks stay integral: 2·avg = 2·(preceding
    count) + (tie count) + 1. With U2 = Σ doubled ranks over positives,
        AUC = (U2 − 2·Σ_{i=1..n_pos} i) / (2·n_pos·n_neg)
            = (U2 − n_pos·(n_pos+1)) / (2·n_pos·n_neg).

    Scale shape: ONE aggregate collapses the corpus to (group, score)
    rows — distinct scores, not documents — then a per-group window
    over that collapsed frame and a final per-group aggregate. A naive
    row-level rank window would sort the whole corpus inside each
    group; this sorts score histograms. AUC is NULL for a group with
    no positives or no negatives. The accuracy/Levenshtein rollup the
    reference reports per epoch (mindocr/metrics/rec_metrics.py:149)
    is this operator's fixed-threshold sibling; AUC sweeps every
    threshold at once.
    """
    g = df.groupBy(group_col, score_col).agg(
        F.count("*").cast("long").alias("_c"),
        F.sum(F.col(label_col).cast("long")).alias("_p"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = g.withColumn("_cum", F.sum("_c").over(w))
    # doubled average rank of this score's tie block: 2·(cum−c) + c + 1
    rank2 = F.lit(2) * (F.col("_cum") - F.col("_c")) + F.col("_c") + F.lit(1)
    per = ranked.groupBy(group_col).agg(
        F.sum("_p").alias("n_pos"),
        (F.sum("_c") - F.sum("_p")).alias("n_neg"),
        F.sum(F.col("_p") * rank2).alias("u2"),
    )
    num = F.col("u2") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = F.lit(2) * F.col("n_pos") * F.col("n_neg")
    return per.select(
        group_col,
        "n_pos",
        "n_neg",
        F.col("u2").cast("long").alias("u2"),
        F.when(den > 0, num.cast("double") / den.cast("double")).alias("auc"),
    )
