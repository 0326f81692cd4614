"""Evaluation operators as reusable DataFrame jobs (SURVEY.md §2.9 E1-E7).

The catalog (plans/catalog_vec.py) binds E1/E2/E4 to its tables and checks
them against DuckDB oracles; this module is the one implementation of each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nerzo_spark.operators.topk import knn_self_join


def recall_at_k(vectors: DataFrame, k: int = 10) -> DataFrame:
    """E1 — recall@k per label (fewnerd_retrieve_eval.py:40-63): exact kNN,
    label-hit fraction in top-k, macro-averaged per label."""
    knn = knn_self_join(vectors, k=k)
    per_q = knn.groupBy("query_id", "query_label").agg(
        F.avg((F.col("neighbor_label") == F.col("query_label")).cast("double")).alias("hit")
    )
    return per_q.groupBy(F.col("query_label").alias("label")).agg(
        F.round(F.avg("hit"), 6).alias(f"recall_at_{k}")
    )


def r_precision(vectors: DataFrame) -> DataFrame:
    """E2 — per query: top (class_size-1) same-label fraction; macro per label
    (fewnerd_single_vector_r_precision.py:26-51)."""
    sizes = vectors.groupBy("label").agg(F.count("*").alias("n"))
    kmax = max(r["n"] for r in sizes.collect()) - 1
    knn = knn_self_join(vectors, k=kmax)
    per_q = (
        knn.join(F.broadcast(sizes), knn.query_label == sizes.label)
        .filter(F.col("rank") <= F.col("n") - 1)
        .groupBy("query_id", "query_label")
        .agg(F.avg((F.col("neighbor_label") == F.col("query_label")).cast("double")).alias("frac"))
    )
    return per_q.groupBy(F.col("query_label").alias("label")).agg(
        F.round(F.avg("frac"), 6).alias("r_precision")
    )


def optimal_threshold(scored: DataFrame, score_col: str, label: Column) -> DataFrame:
    """E4/E5 — exact optimal-threshold search via window cumsums
    (contrastive/helper.py:2-37).  Pred positive iff score >= t; ``label``
    is a boolean expression over ``scored`` (NULL counts as negative)."""
    pts = scored.groupBy(F.col(score_col).alias("s")).agg(
        F.sum(F.when(label, 1).otherwise(0)).alias("np"),
        F.sum(F.when(label, 0).otherwise(1)).alias("nn"),
    )
    w = Window.orderBy(F.desc("s")).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cums = pts.select(
        "s",
        F.sum("np").over(w).alias("cum_p"),
        F.sum("nn").over(w).alias("cum_n"),
        F.sum("np").over(w_all).alias("tp_all"),
        F.sum("nn").over(w_all).alias("tn_all"),
    )
    acc = (F.col("cum_p") + (F.col("tn_all") - F.col("cum_n"))) * 1.0 / (
        F.col("tp_all") + F.col("tn_all")
    )
    return (
        cums.withColumn("acc", acc)
        .orderBy(F.desc("acc"), F.asc("s"))
        .limit(1)
        .select(F.col("s").alias("best_threshold"), F.round("acc", 6).alias("best_acc"))
    )


def confusion_matrix(pred: DataFrame, expected_col: str, received_col: str) -> DataFrame:
    """E6 — (expected, received) counts (poc_fewnerd_extraction.py:185-195)."""
    return pred.groupBy(
        F.col(expected_col).alias("expected"), F.col(received_col).alias("received")
    ).agg(F.count("*").alias("cnt"))


def triple_precision_recall(pred: DataFrame, gold: DataFrame) -> tuple[float, float]:
    """E7 — the north-rule gate: P/R of (subj, pred, obj) sets."""
    p = pred.select("subj", "pred", "obj").distinct()
    g = gold.select("subj", "pred", "obj").distinct()
    matched = p.join(g, ["subj", "pred", "obj"]).count()
    n_pred, n_gold = p.count(), g.count()
    return matched / max(n_pred, 1), matched / max(n_gold, 1)
