"""Multi-model ensemble vote (SURVEY A7/J5, ref:ensemble.py:42-63).

The reference aligns k prediction pickles positionally (zip by row);
Spark's form carries the example key and joins/aggregates:

    k prediction tables -> unionByName with model tag
                        -> groupBy(example key, pred) counts
                        -> majority via row_number

Tie-break: (votes desc, pred_label asc) — the reference uses
Counter.most_common which inherits insertion (model) order on ties; a
value-based tie-break is required for distributed determinism and is the
one documented deviation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ["url", "sent_id", "pair_id"]


def majority_vote(
    predictions: list[DataFrame], key: list[str] | None = None
) -> DataFrame:
    """k prediction DataFrames (key + pred columns) -> one voted
    prediction per key (default key: the KG pipeline's url/sent/pair)."""
    key = list(key) if key is not None else KEY
    tagged = [
        df.select(*key, "pred").withColumn("model", F.lit(i))
        for i, df in enumerate(predictions)
    ]
    all_preds = reduce(lambda a, b: a.unionByName(b), tagged)
    counted = all_preds.groupBy(*key, "pred").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy(*key).orderBy(F.desc("votes"), F.asc("pred"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*key, F.col("pred").alias("voted_pred"))
    )
