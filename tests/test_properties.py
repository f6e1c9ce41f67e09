"""Property tests (SURVEY.md §5.3): partition invariance of the
exact-global mode, emulation-mode degeneracy, weight bounds, and
metric goldens."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _rules(spark, df):
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P

    return {
        (r["l1"], r["l2"], r["l3"], r["l4"]): (r["cls"], r["weight"])
        for r in R.build_rules(df, P).collect()
    }


@pytest.mark.parametrize("k", [1, 5, 17])
def test_exact_mode_partition_invariant(spark, k):
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL)
    base = _rules(spark, df)
    rep = _rules(spark, df.repartition(k))
    assert set(base) == set(rep)
    for a in base:
        assert base[a][0] == rep[a][0]
        assert abs(base[a][1] - rep[a][1]) < 2e-6


def test_emulate_one_bucket_equals_exact(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL)
    exact = _rules(spark, df)
    emu = {
        (r["l1"], r["l2"], r["l3"], r["l4"]): (r["cls"], r["weight"])
        for r in R.build_rules(df, P, num_buckets=1).drop("bucket").collect()
    }
    assert exact == emu


def test_weights_bounded(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    rw = R.build_rules(lineitem_clf(spark, SF_SMALL), P, resolve=False)
    out = rw.agg(
        F.min("weight").alias("lo"), F.max("weight").alias("hi")
    ).first()
    assert -1.0 <= out["lo"] <= out["hi"] <= 1.0


def test_metrics_golden(spark):
    """Hand-computed confusion: tp=2 tn=3 fp=1 fn=2."""
    from chi_frbcs_bigdatacs_spark.fuzzy.metrics import metrics_binary

    rows = [(1, 1), (1, 1), (1, 0), (1, 0), (0, 0), (0, 0), (0, 0), (0, 1)]
    pred = spark.createDataFrame(rows, "label int, prediction int")
    m = metrics_binary(pred).first()
    assert m["acc"] == 0.625
    assert m["tpr"] == 0.5
    assert m["tnr"] == 0.75
    assert abs(m["gm"] - 0.612372) < 1e-9
    assert m["auc"] == 0.625


def test_model_save_load_roundtrip(spark, tmp_path):
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import (
        ChiFRBCSClassifier,
        ChiFRBCSModel,
    )
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL)
    model = ChiFRBCSClassifier(parts=LINEITEM_CLF_PARTITIONS).fit(df)
    model.save(str(tmp_path / "m"))
    loaded = ChiFRBCSModel.load(spark, str(tmp_path / "m"))
    assert sorted(loaded.rules_rows) == sorted(model.rules_rows)
    assert loaded.default_cls == model.default_cls
    a = model.transform(df).toPandas().sort_values("id", ignore_index=True)
    b = loaded.transform(df).toPandas().sort_values("id", ignore_index=True)
    assert a.equals(b)

def test_cost_scope_local_vs_global_diverge_on_skewed_buckets(spark):
    """weights_from_raw(cost_scope=): per-bucket ('local') costs react
    to each split's own imbalance; 'global' costs come from the whole
    distribution. On mirrored-skew buckets (8:2 vs 2:8) local costs
    equalize the per-bucket s-values (weight 0) while global costs
    keep the majority signal (weight 0.6) — pinning that the flag
    changes semantics, not just plans."""
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import (
        FeatureSpec,
        FuzzyPartitions,
    )

    parts = FuzzyPartitions(features=(FeatureSpec("f1", 0.0, 1.0),), num_labels=3)
    raw = spark.createDataFrame(
        [
            (0, 1, 0, 8.0, 8),
            (0, 1, 1, 2.0, 2),
            (1, 1, 0, 2.0, 2),
            (1, 1, 1, 8.0, 8),
        ],
        "bucket int, l1 int, label int, sraw double, n_gen long",
    )
    loc = {
        (r.bucket, r.l1): (r.cls, r.weight)
        for r in R.weights_from_raw(raw, parts, ["bucket"]).collect()
    }
    glo = {
        (r.bucket, r.l1): (r.cls, r.weight)
        for r in R.weights_from_raw(
            raw, parts, ["bucket"], cost_scope="global"
        ).collect()
    }
    # local: bucket-0 costs (1, 4) make s0 = s1 = 8 -> weight 0, tie -> cls 0
    assert loc[(0, 1)] == (0, 0.0)
    assert loc[(1, 1)] == (0, 0.0)
    # global: balanced 10:10 -> costs (1, 1) -> majority class wins at 0.6
    assert glo[(0, 1)] == (0, 0.6)
    assert glo[(1, 1)] == (1, 0.6)


def test_scoring_auto_mode_flips_at_budget_and_stays_bit_identical(spark):
    """Auto mode, transform(broadcast_rules=None), must (a) plan the
    map-only numpy kernel for driver-resident rules and the broadcast
    join for a collect_rules=False model under the byte budget, (b)
    flip to shuffle-hash exactly past it (pure decision function,
    boundary pinned), and (c) produce BIT-IDENTICAL predictions on the
    kernel, broadcast and shuffle paths — the strategy is a plan
    choice, never a result change."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import (
        AUTO_BROADCAST_BUDGET_BYTES,
        ChiFRBCSClassifier,
        estimated_rule_bytes,
        should_broadcast_rules,
    )
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import (
        LINEITEM_CLF_PARTITIONS as P,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    # (b) the flip point is the budget, exactly
    d = len(P.features)
    per_rule = estimated_rule_bytes(1, d)
    n_at_budget = AUTO_BROADCAST_BUDGET_BYTES // per_rule
    assert should_broadcast_rules(n_at_budget, d)
    assert not should_broadcast_rules(n_at_budget + 1, d)

    df = lineitem_clf(spark, SF_SMALL)
    model = ChiFRBCSClassifier(parts=P).fit(df)

    def plan(scored):
        return scored._jdf.queryExecution().executedPlan().toString()

    # (a) fixture models are far under budget: driver-resident rules
    # -> kernel, a distributed rule base -> broadcast join
    auto = model.transform(df)
    p = plan(auto)
    assert "MapInPandas" in p and "Join" not in p, "auto mode did not pick the kernel"
    dist = ChiFRBCSClassifier(parts=P, collect_rules=False).fit(df)
    try:
        p = plan(dist.transform(df))
    finally:
        dist.release()
    assert "BroadcastHashJoin" in p, "auto mode did not broadcast a small model"

    # (c) all three physical paths agree bit-for-bit
    rows_k = sorted(map(tuple, auto.collect()))
    rows_b = sorted(map(tuple, model.transform(df, broadcast_rules=True).collect()))
    rows_s = sorted(map(tuple, model.transform(df, broadcast_rules=False).collect()))
    assert rows_k == rows_b == rows_s


def test_calibration_bins_account_for_all_fired_examples(spark):
    """Bin counts must sum to the number of rule-fired examples (ids
    with at least one matching positive-weight rule), per-bin accuracy
    must recompute from the integer columns, and every bin id must be
    in [0, CAL_BINS)."""
    from pyspark.sql import functions as F

    from chi_frbcs_bigdatacs_spark.plans.catalog import (
        CAL_BINS,
        P,
        q_metrics_calibration,
    )
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf
    from tests import spec_scorer
    from tests.conftest import SF_SMALL

    rows = q_metrics_calibration(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["bin"] < CAL_BINS
        assert 0 <= r["n_correct"] <= r["n"]
        assert abs(r["accuracy"] - round(r["n_correct"] / r["n"], 6)) < 1e-12
    df = lineitem_clf(spark, SF_SMALL)
    fz = R.fuzzify(df, P)
    rules = R.build_rules(
        R.with_antecedent(fz, P), P, resolve=True, prefuzzified=True
    )
    n_fired = spec_scorer._scored(fz, rules, P).select("id").distinct().count()
    assert sum(r["n"] for r in rows) == n_fired


def test_kcore_every_survivor_meets_degree_floor(spark):
    """Every node the peel keeps must have degree >= K within the
    surviving subgraph (the defining k-core invariant), and peeling a
    kept node's neighbor set must stay inside the kept set."""
    from chi_frbcs_bigdatacs_spark.operators.graph import K_CORE, q_graph_kcore
    from tests.conftest import SF_SMALL

    rows = q_graph_kcore(spark, SF_SMALL).collect()
    assert rows
    assert all(r["deg"] >= K_CORE for r in rows)


def test_mcc_kappa_match_sklearn_free_reference(spark):
    """MCC and kappa recomputed from the emitted integer confusion
    counts (pure-python closed forms) must match the rounded outputs."""
    import math

    from chi_frbcs_bigdatacs_spark.plans.catalog import q_metrics_mcc_kappa
    from tests.conftest import SF_SMALL

    r = q_metrics_mcc_kappa(spark, SF_SMALL).collect()[0]
    tp, fp, tn, fn = r["tp"], r["fp"], r["tn"], r["fn"]
    n = tp + fp + tn + fn
    mcc = (tp * tn - fp * fn) / math.sqrt(
        float(tp + fp) * float(tp + fn) * float(tn + fp) * float(tn + fn)
    )
    pe = ((tp + fp) * (tp + fn) + (tn + fn) * (tn + fp))
    kappa = (n * (tp + tn) - pe) / (n * n - pe)
    assert abs(r["mcc"] - round(mcc, 6)) < 1e-9
    assert abs(r["kappa"] - round(kappa, 6)) < 1e-9
    assert -1.0 <= r["mcc"] <= 1.0 and -1.0 <= r["kappa"] <= 1.0


def test_avg_precision_formula_on_hand_rankings(spark):
    """metrics_pr_auc (r14): the exact-integer AP aggregation pinned
    on hand-built rankings against the textbook formula
    AP = sum_i (pos_i / P) * (ctp_i / cn_i) over distinct scores
    descending (ties as one block):
      perfect separation      -> 1.0
      worst (all pos last)    -> computed reference
      tie block               -> block-precision weighting
      no positives            -> 0.0 (degenerate convention)
    """
    from chi_frbcs_bigdatacs_spark.plans.catalog import _avg_precision

    def run(pairs):
        df = spark.createDataFrame(pairs, "s double, pos long")
        row = _avg_precision(df).collect()[0]
        return row["n_scored"], row["n_pos"], row["pr_auc"]

    def ref(pairs):
        from collections import defaultdict

        groups = defaultdict(lambda: [0, 0])
        for s, pos in pairs:
            groups[s][0] += pos
            groups[s][1] += 1
        P = sum(g[0] for g in groups.values())
        if P == 0:
            return 0.0
        ctp = cn = 0
        total = 0
        for s in sorted(groups, reverse=True):
            gp, gn = groups[s]
            ctp += gp
            cn += gn
            total += round((gp * ctp) / (P * cn) * 1e12)
        return round(total / 1e12, 6)

    perfect = [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)]
    assert run(perfect) == (4, 2, 1.0)

    worst = [(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)]
    n, p, ap = run(worst)
    assert (n, p) == (4, 2) and ap == ref(worst)
    assert ap < 0.6

    ties = [(0.5, 1), (0.5, 0), (0.5, 1), (0.4, 0), (0.3, 1)]
    n, p, ap = run(ties)
    assert (n, p) == (5, 3) and ap == ref(ties)

    nopos = [(0.9, 0), (0.1, 0)]
    assert run(nopos) == (2, 0, 0.0)

    # EMPTY scored set (no ssum>0 rows at all): must still be
    # 0/0/0.0, not NULLs (ADVICE r14 — the agg-over-zero-rows path)
    empty = spark.createDataFrame([], "s double, pos long")
    row = _avg_precision(empty).collect()[0]
    assert (row["n_scored"], row["n_pos"], row["pr_auc"]) == (0, 0, 0.0)


def test_roc_auc_formula_on_hand_rankings(spark):
    """metrics_roc_auc (r15, VERDICT r14 #3): the trapezoidal ROC
    aggregation pinned on hand-built rankings:
      perfect separation       -> 1.0
      reversed (all pos last)  -> 0.0
      random-ish ties          -> numpy trapezoid reference
      ONE-threshold fixture    -> equals single-point (1+TPR-FPR)/2
      degenerate (no pos / no neg / empty) -> 0.0
    """
    from chi_frbcs_bigdatacs_spark.plans.catalog import _roc_auc

    def run(pairs):
        df = spark.createDataFrame(pairs, "s double, pos long")
        row = _roc_auc(df).collect()[0]
        return (
            row["n_scored"], row["n_pos"], row["n_neg"], row["roc_auc"]
        )

    def ref(pairs):
        from collections import defaultdict

        groups = defaultdict(lambda: [0, 0])
        for s, pos in pairs:
            groups[s][0] += pos
            groups[s][1] += 1
        P = sum(g[0] for g in groups.values())
        N = sum(g[1] for g in groups.values()) - P
        if P == 0 or N == 0:
            return 0.0
        ctp = cfp = 0
        total = 0
        for s in sorted(groups, reverse=True):
            gp, gn = groups[s]
            ptp, pfp = ctp, cfp
            ctp += gp
            cfp += gn - gp
            total += round((cfp - pfp) * (ctp + ptp) / (2 * P * N) * 1e12)
        return round(total / 1e12, 6)

    perfect = [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)]
    assert run(perfect) == (4, 2, 2, 1.0)

    reversed_ = [(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)]
    assert run(reversed_) == (4, 2, 2, 0.0)

    ties = [(0.5, 1), (0.5, 0), (0.5, 1), (0.4, 0), (0.3, 1), (0.2, 0)]
    n, p, ng, auc = run(ties)
    assert (n, p, ng) == (6, 3, 3) and auc == ref(ties)
    assert 0.0 < auc < 1.0

    # one distinct score above threshold, one below: trapezoid through
    # (0,0)->(FPR,TPR)->(1,1) must equal the reference's single-point
    # AUC = (1 + TPR - FPR) / 2 at that threshold [FSS258 §4.3]
    one_thr = [(0.8, 1), (0.8, 1), (0.8, 0), (0.2, 1), (0.2, 0), (0.2, 0)]
    tpr, fpr = 2 / 3, 1 / 3  # at the 0.8-vs-0.2 cut
    n, p, ng, auc = run(one_thr)
    assert (n, p, ng) == (6, 3, 3)
    assert auc == round((1 + tpr - fpr) / 2, 6) == ref(one_thr)

    assert run([(0.9, 0), (0.1, 0)]) == (2, 0, 2, 0.0)  # no positives
    assert run([(0.9, 1), (0.1, 1)]) == (2, 2, 0, 0.0)  # no negatives
    empty = spark.createDataFrame([], "s double, pos long")
    row = _roc_auc(empty).collect()[0]
    assert (
        row["n_scored"], row["n_pos"], row["n_neg"], row["roc_auc"]
    ) == (0, 0, 0, 0.0)
