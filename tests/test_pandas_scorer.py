"""The numpy kernel (transform()'s map-only path for driver-resident
rules) must agree with the cell-explosion join scorer
prediction-for-prediction, for both FRMs (SURVEY §4: alternate
physical strategy, same semantics)."""

from __future__ import annotations

import dataclasses

import pytest

from tests.conftest import SF_SMALL


def _sorted(df):
    return df.toPandas().sort_values("id", ignore_index=True)


def _assert_kernel_matches_join(model, df):
    """Both FRMs; returns the kernel's sorted predictions per FRM."""
    out = {}
    for frm in ("wr", "ac"):
        m = dataclasses.replace(model, frm=frm)
        kernel = m.transform(df)
        plan = kernel._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "Join" not in plan, plan[:800]
        out[frm] = _sorted(kernel)
        assert out[frm].equals(_sorted(m.transform(df, broadcast_rules=True))), frm
    return out


def _fit(spark, fixture, parts):
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    df = fixture(spark, SF_SMALL)
    return ChiFRBCSClassifier(parts=parts).fit(df), df


@pytest.fixture(scope="module")
def nominal_model(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import (
        ORDERS_CLF_NOMINAL_PARTITIONS,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import orders_clf_nominal

    return _fit(spark, orders_clf_nominal, ORDERS_CLF_NOMINAL_PARTITIONS)


def test_pandas_scorer_matches_expression_path(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    _assert_kernel_matches_join(*_fit(spark, lineitem_clf, LINEITEM_CLF_PARTITIONS))


def test_pandas_scorer_multiclass(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import EMBEDDINGS_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import embeddings_clf

    _assert_kernel_matches_join(*_fit(spark, embeddings_clf, EMBEDDINGS_CLF_PARTITIONS))


def test_pandas_scorer_nominal(nominal_model):
    _assert_kernel_matches_join(*nominal_model)


# AC argmax over the oracle's train/test `scored` CTE, mirroring the
# acagg/acbest/acpred chain of oracle.scoring_ctes on the test side
_AC_TAIL = """,
acagg AS (
  SELECT id, r_cls, round(sum(score), 9) AS cscore
  FROM scored GROUP BY id, r_cls
),
acbest AS (
  SELECT id, r_cls FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY cscore DESC, r_cls ASC) AS rn
    FROM acagg) t
  WHERE rn = 1
)
SELECT c.id, c.label, COALESCE(w.r_cls, (SELECT d FROM defclass)) AS prediction
FROM tclf c LEFT JOIN acbest w ON c.id = w.id"""


def test_pandas_scorer_missing_and_wild_values(spark, duck, nominal_model):
    """NaN, ±inf, null and out-of-vocab feature values: a missing value
    (null or NaN numeric, null or out-of-vocab nominal) matches no
    rule, so the row takes the default class; ±inf sits on a shoulder
    like any out-of-range value. Both scorers keep every row and agree
    with the DuckDB oracle scoring the same rows."""
    from chi_frbcs_bigdatacs_spark.fuzzy import oracle
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import (
        ORDERS_CLF_NOMINAL_PARTITIONS,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import ORDERS_CLF_NOMINAL_SQL

    model = nominal_model[0]
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, nan, 0, 0, 0),
        (2, inf, 0, 0, 0),
        (3, -inf, 1, 2, 1),
        (4, None, 0, 0, 1),
        (5, 1000.0, 7, 0, 0),
        (6, 1000.0, 0, None, 1),
    ]
    wild = spark.createDataFrame(rows, "id long, f1 double, n1 int, n2 int, label int")

    def lit(v):
        if v is None:
            return "NULL"
        return f"CAST('{v}' AS DOUBLE)" if isinstance(v, float) else str(v)

    values = ", ".join("(" + ", ".join(map(lit, r)) + ")" for r in rows)
    wild_sql = f"SELECT * FROM (VALUES {values}) t(id, f1, n1, n2, label)"
    ctes = oracle.traintest_scoring_ctes(
        ORDERS_CLF_NOMINAL_SQL, wild_sql, ORDERS_CLF_NOMINAL_PARTITIONS
    )
    want = {
        "wr": ctes + "\nSELECT id, label, prediction FROM wrpred",
        "ac": ctes + _AC_TAIL,
    }
    for frm, out in _assert_kernel_matches_join(model, wild).items():
        assert list(out["id"]) == [1, 2, 3, 4, 5, 6]
        missing = out[out["id"].isin([1, 4, 5, 6])]
        assert (missing["prediction"] == model.default_cls).all(), frm
        got = [tuple(map(int, r)) for r in out[["id", "label", "prediction"]].values]
        assert got == sorted(duck.execute(want[frm]).fetchall()), frm

    # the metrics reducers: a missing-value row fires no rule, so it
    # emits no fold and no winning score
    import numpy as np

    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import _RuleKernel
    from chi_frbcs_bigdatacs_spark.plans import catalog

    kernel = _RuleKernel(model.parts, model.rules_rows)
    reducers = {
        "ac_folds": (kernel.ac_folds, catalog._AC_FOLDS_SCHEMA),
        "wr_winner": (catalog._fired_winner(kernel), catalog._FIRED_WINNER_SCHEMA),
    }
    all_missing = wild.filter("id IN (1, 4, 5, 6)")
    for name, (reduce, schema) in reducers.items():
        assert kernel.map(all_missing, reduce, schema).collect() == [], name

    # every reducer on an empty DataFrame, through Spark and on a
    # zero-row chunk directly: zero rows, no error
    empty = wild.limit(0)
    for frm in ("wr", "ac"):
        assert dataclasses.replace(model, frm=frm).transform(empty).collect() == []
    for name, (reduce, schema) in reducers.items():
        assert kernel.map(empty, reduce, schema).collect() == [], name
    mu = np.zeros((0, len(kernel.rw)))
    none = np.zeros(0, dtype=np.int64)
    assert len(kernel.predict_wr(mu, 0)) == len(kernel.predict_ac(mu, 0)) == 0
    for name, (reduce, _) in reducers.items():
        assert all(len(v) == 0 for v in reduce(none, none, mu).values()), name


def test_auto_mode_keeps_join_past_kernel_crossover(spark):
    """Auto mode runs the kernel only while R <= 16 * 2^d; a larger
    driver-resident rule base keeps the cell-explosion join."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSModel
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FeatureSpec, FuzzyPartitions

    parts = FuzzyPartitions(features=(FeatureSpec("f0", 0.0, 1.0),), num_labels=40)
    rules = [(j, 0, 1.0) for j in range(1, 41)]
    df = spark.createDataFrame([(1, 0.5, 0)], "id long, f0 double, label int")

    def plan(rows):
        scored = ChiFRBCSModel(parts, rows, 0).transform(df)
        return scored._jdf.queryExecution().executedPlan().toString()

    assert "MapInPandas" in plan(rules[:32])
    p = plan(rules[:33])
    assert "BroadcastHashJoin" in p and "MapInPandas" not in p, p[:800]


def test_pandas_scorer_row_chunks_match_unchunked():
    """A rule base big enough that the per-task byte budget splits one
    Arrow batch into several row chunks scores exactly as one pass."""
    import numpy as np
    import pandas as pd

    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import _RuleKernel
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FeatureSpec, FuzzyPartitions

    d, L = 6, 5
    parts = FuzzyPartitions(
        features=tuple(FeatureSpec(f"f{k}", 0.0, 1.0) for k in range(d)),
        num_labels=L,
    )
    rng = np.random.default_rng(7)
    cells = np.stack(np.meshgrid(*[np.arange(1, L + 1)] * d, indexing="ij"), -1)
    rules = [
        (*map(int, c), int(rng.integers(0, 3)), float(rng.random()))
        for c in cells.reshape(-1, d)
    ]
    pdf = pd.DataFrame({f"f{k}": rng.random(300) for k in range(d)})
    kernel = _RuleKernel(parts, rules)
    assert kernel.chunk_rows * 2 < len(pdf), "rule base too small to chunk"

    def run(k):
        wr, ac, sums = [], [], []
        for _, mu in k.chunks(pdf):
            wr.append(k.predict_wr(mu, 0))
            ac.append(k.predict_ac(mu, 0))
            sums.append(np.stack([cs for _, _, cs in k.class_scores(mu)], 1))
        return [np.concatenate(x) for x in (wr, ac, sums)]

    whole = _RuleKernel(parts, rules)
    whole.chunk_rows = len(pdf)
    for got, want in zip(run(kernel), run(whole)):
        assert np.array_equal(got, want)
