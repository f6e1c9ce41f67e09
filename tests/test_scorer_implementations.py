"""Three independent scoring implementations must agree exactly:
  1. tests/spec_scorer.py — reference-shaped broadcast nested-loop
     join (spec)
  2. estimator join path — cell-explosion + hash equi-join
  3. estimator numpy kernel — transform()'s default path
(2 vs 3 is pinned in test_pandas_scorer.py; here 1 vs the engine.)"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def _spec_default_class(df):
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import default_class

    return default_class({r["label"]: r["n"] for r in R.class_counts(df).collect()})


def test_spec_bnlj_scorer_matches_estimator(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf
    from tests import spec_scorer

    df = lineitem_clf(spark, SF_SMALL)
    rules = R.build_rules(df, P, resolve=True)
    dc = _spec_default_class(df)
    spec = (
        spec_scorer.classify_wr(df, rules, P, dc)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    eng = (
        ChiFRBCSClassifier(parts=P)
        .fit(df)
        .transform(df)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    assert (spec["prediction"] == eng["prediction"]).all()
    assert (spec["id"] == eng["id"]).all()


def test_spec_ac_scorer_matches_estimator(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf
    from tests import spec_scorer

    df = lineitem_clf(spark, SF_SMALL)
    rules = R.build_rules(df, P, resolve=True)
    dc = _spec_default_class(df)
    spec = (
        spec_scorer.classify_ac(df, rules, P, dc)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    eng = (
        ChiFRBCSClassifier(parts=P, frm="ac")
        .fit(df)
        .transform(df)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    assert (spec["prediction"] == eng["prediction"]).all()


@pytest.mark.parametrize("fixture", ["lineitem", "embeddings"])
def test_kernel_winning_scores_bit_identical_to_spec(spark, fixture):
    """metrics_calibration bins on floor(score * 10), so a one-ulp
    drift in the winning score moves an example across a bin edge
    while every prediction still agrees. Per rule-fired example, the
    kernel's wr_winner (cls, score) — through the calibration
    reducer — must equal the spec scorer's max(mu * weight) winner
    (ties -> lowest l1..ld, then cls) with exact ==, on the same rule
    base; so must the set of fired examples. The embeddings features
    span about +-0.4, so EMBEDDINGS_CLF_PARTITIONS (-4..4, L=3) puts
    every example in one cell whose 10-class rule has a negative
    weight and nothing fires; partitions over the data's range give
    a multiclass rule base instead."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from chi_frbcs_bigdatacs_spark.fuzzy import partitions as PT
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier, _RuleKernel
    from chi_frbcs_bigdatacs_spark.plans.catalog import (
        _FIRED_WINNER_SCHEMA,
        _fired_winner,
    )
    from chi_frbcs_bigdatacs_spark.sources import testdata
    from tests import spec_scorer

    emb_parts = PT.FuzzyPartitions(
        features=tuple(PT.FeatureSpec(f"f{i}", -0.5, 0.5) for i in range(1, 5)),
        num_labels=5,
    )
    load, parts = {
        "lineitem": (testdata.lineitem_clf, PT.LINEITEM_CLF_PARTITIONS),
        "embeddings": (testdata.embeddings_clf, emb_parts),
    }[fixture]
    df = load(spark, SF_SMALL)
    model = ChiFRBCSClassifier(parts=parts).fit(df)
    kernel = _RuleKernel(parts, model.rules_rows)
    got = kernel.map(df, _fired_winner(kernel), _FIRED_WINNER_SCHEMA).select(
        "id", "r_cls", "score"
    )

    scored = spec_scorer._scored(R.fuzzify(df, parts), model.rules_df(spark), parts)
    d = len(parts.features)
    order = Window.partitionBy("id").orderBy(
        F.col("score").desc(), *[f"r_{R.label_col(i)}" for i in range(d)], "r_cls"
    )
    want = (
        scored.withColumn("rn", F.row_number().over(order))
        .filter("rn = 1")
        .select("id", "r_cls", "score")
    )
    got, want = (sorted(map(tuple, x.collect())) for x in (got, want))
    assert len(got) > 0 and len({c for _, c, _ in got}) > 1
    assert got == want


def test_collect_rules_false_matches_collected_path(spark):
    """collect_rules=False keeps the rule base distributed (no driver
    materialization) and must score identically, including at the
    L=5 / d=8 granularity the driver-side collect was flagged for."""
    from pyspark.sql import functions as F

    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import (
        FeatureSpec,
        FuzzyPartitions,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import load_table
    from tests.conftest import SF_SMALL

    p8 = FuzzyPartitions(
        features=tuple(FeatureSpec(f"f{i}", -4.0, 4.0) for i in range(1, 9)),
        num_labels=5,
    )
    emb = load_table(spark, SF_SMALL, "embeddings")
    df = emb.select(
        F.col("vec_id").alias("id"),
        *[
            F.element_at("embedding", i).cast("double").alias(f"f{i}")
            for i in range(1, 9)
        ],
        F.col("label"),
    )

    m_lit = ChiFRBCSClassifier(parts=p8).fit(df)
    est = ChiFRBCSClassifier(parts=p8, collect_rules=False)
    m_dist = est.fit(df)
    assert m_dist.rules_rows is None, "rule base must stay distributed"
    assert m_dist.rules_dataframe is not None

    a = m_lit.transform(df).toPandas().sort_values("id", ignore_index=True)
    b = m_dist.transform(df).toPandas().sort_values("id", ignore_index=True)
    assert a.equals(b)

    # distributed and literal rule bases hold the same rules
    cols = [f"l{i}" for i in range(1, 9)] + ["cls", "weight"]
    dist_rules = sorted(tuple(r) for r in m_dist.rules_dataframe.select(*cols).collect())
    assert dist_rules == sorted(m_lit.rules_rows)
    m_dist.release()
