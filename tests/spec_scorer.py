"""O13-O14 — the spec Fuzzy Reasoning Method scorer, kept as the
reference the engine's scorers are tested against (next to
oracle_chi.py, the golden numpy oracle of the build).

  WR (winning rule): predict class of argmax_j mu_Aj(x) * RW_j
    [REF: RuleBase.java::FRM_WR, mapreduce/Classifier.java | conf=M]
    [FSS258 §2.1, §4.2]
  AC (additive combination): per class sum of mu_Aj(x) * RW_j, argmax
    [REF: RuleBase.java::FRM_AC | conf=L]

Shape: the reference ships the model via DistributedCache to map
tasks; the literal Spark reading is a broadcast nested-loop join
(BNLJ) of examples x rules with a matching-degree > 0 filter,
followed by a grouped argmax. Per-pair work grows with the rule base,
which is why the engine scores with the numpy kernel or the
cell-explosion equi-join instead (fuzzy/estimator.py).

Examples matched by NO positive-weight rule get the default class
(most frequent training class; deterministic tie -> lowest id).
Rules with weight <= 0 are pruned before scoring (under WR they can
never beat any positive-weight match; KEEL drops them at build).

Tie-breaking on equal scores: lowest antecedent labels, then lowest
class id — fully deterministic and mirrored in the DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chi_frbcs_bigdatacs_spark.functions.ordering import (
    CLS_CAP,
    argmax_decimal_key,
    decode_last_tie,
)
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FuzzyPartitions
from chi_frbcs_bigdatacs_spark.fuzzy.rules import fuzzify, label_col, mus_col


def _match_degree(rules_prefix: str, parts: FuzzyPartitions):
    """Product t-norm matching degree of an example row against a
    rule's antecedent labels (columns `{prefix}l1..ld`)."""
    factors = [
        F.element_at(F.col(mus_col(f.name)), F.col(f"{rules_prefix}{label_col(i)}"))
        for i, f in enumerate(parts.features)
    ]
    return reduce(lambda a, b: a * b, factors)


def _scored(fuzz: DataFrame, rules: DataFrame, parts: FuzzyPartitions) -> DataFrame:
    """Broadcast-join examples x positive-weight rules, mu > 0."""
    ants = [label_col(i) for i in range(len(parts.features))]
    r = rules.filter(F.col("weight") > 0)
    for a in ants:
        r = r.withColumnRenamed(a, f"r_{a}")
    r = r.withColumnRenamed("cls", "r_cls")
    pairs = fuzz.crossJoin(F.broadcast(r))
    return (
        pairs.withColumn("mu", _match_degree("r_", parts))
        .filter(F.col("mu") > 0)
        .withColumn("score", F.col("mu") * F.col("weight"))
    )


def classify_wr(
    df: DataFrame, rules: DataFrame, parts: FuzzyPartitions, default_cls: int
) -> DataFrame:
    """FRM Winning Rule -> (id, label, prediction).

    The per-example argmax is max() of one DECIMAL(38,0) key
    (functions/ordering.py) encoding the pinned tie order (score
    desc, antecedent labels asc, class asc); the winning class
    decodes back out of the key."""
    ants = [label_col(i) for i in range(len(parts.features))]
    fuzz = fuzzify(df, parts)
    scored = _scored(fuzz, rules, parts)
    bases = [parts.labels_for(f) + 1 for f in parts.features]
    key = argmax_decimal_key(
        F.col("score"),
        [(F.col(f"r_{a}"), b) for a, b in zip(ants, bases)]
        + [(F.col("r_cls"), CLS_CAP)],
    )
    best = scored.groupBy("id").agg(
        decode_last_tie(F.max(key), CLS_CAP).alias("prediction")
    )
    return (
        df.select("id", "label")
        .join(best, "id", "left")
        .select(
            "id",
            "label",
            F.coalesce(F.col("prediction"), F.lit(default_cls)).alias("prediction"),
        )
    )


def classify_ac(
    df: DataFrame, rules: DataFrame, parts: FuzzyPartitions, default_cls: int
) -> DataFrame:
    """FRM Additive Combination -> (id, label, prediction)."""
    fuzz = fuzzify(df, parts)
    scored = _scored(fuzz, rules, parts)
    per_class = scored.groupBy("id", "r_cls").agg(
        F.round(F.sum("score"), 9).alias("cscore")
    )
    # same decimal-key argmax as classify_wr: (cscore desc, r_cls asc)
    best = per_class.groupBy("id").agg(
        decode_last_tie(
            F.max(argmax_decimal_key(F.col("cscore"), [(F.col("r_cls"), CLS_CAP)])),
            CLS_CAP,
        ).alias("prediction")
    )
    return (
        df.select("id", "label")
        .join(best, "id", "left")
        .select(
            "id",
            "label",
            F.coalesce(F.col("prediction"), F.lit(default_cls)).alias("prediction"),
        )
    )
