"""The collect_rules fit derives its rule base in plain Python on the
driver (ChiFRBCSClassifier._rules_from_raw). These tests hold it to
the Spark reference — R.cost_literal + R.weights_from_raw +
R.merge_max / merge_avg run on the same collected aggregate — row for
row with exact ==, pin Spark's DOUBLE round against the Python one,
and pin fit() to one pass over its input."""

from __future__ import annotations

import math
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

COST_MATRIX = {0: 1.0, 1: 3.5, 3: 0.25}


def _fixtures():
    from chi_frbcs_bigdatacs_spark.fuzzy import partitions as PT
    from chi_frbcs_bigdatacs_spark.sources import testdata as TD

    # the declared embeddings partition (-4..4, L=3) has one cell on
    # data spanning about +-0.4; L=5 over the data's range gives the
    # multiclass cells whose stot sums three or more classes
    emb5 = PT.FuzzyPartitions(
        features=tuple(PT.FeatureSpec(f"f{i}", -0.5, 0.5) for i in range(1, 5)),
        num_labels=5,
    )
    return {
        "lineitem": (TD.lineitem_clf, PT.LINEITEM_CLF_PARTITIONS),
        "nominal": (TD.orders_clf_nominal, PT.ORDERS_CLF_NOMINAL_PARTITIONS),
        "embeddings_l5": (TD.embeddings_clf, emb5),
    }


def _raw(spark, fixture, parts, num_buckets):
    """fit()'s build pass, collected: R.raw_rule_stats rows + schema."""
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R

    fz = R.with_antecedent(R.fuzzify(fixture(spark, SF_SMALL), parts), parts)
    keys = []
    if num_buckets is not None:
        fz = fz.withColumn("bucket", (F.col("id") % num_buckets).cast("int"))
        keys = ["bucket"]
    raw = R.raw_rule_stats(fz, parts, keys)
    return raw.collect(), raw.schema


def _spark_rules(spark, est, raw_rows, schema):
    """The Spark reference on a local DataFrame of raw_rows: costs as
    a literal, O8/O9 windows + argmax key, O11 fusion, support filter."""
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import default_class

    d = len(est.parts.features)
    ants = [R.label_col(i) for i in range(d)]
    keys = ["bucket"] if est.num_buckets is not None else []
    counts: dict[tuple, int] = {}
    for r in raw_rows:
        k = (r["bucket"] if keys else None, r["label"])
        counts[k] = counts.get(k, 0) + r["n_gen"]
    crows = [{"bucket": b, "label": lab, "n": n} for (b, lab), n in counts.items()]
    local = spark.createDataFrame(raw_rows, schema=schema)
    cost_col = R.cost_literal(crows, est.cost_mode, bucketed=bool(keys))
    rules = R.weights_from_raw(local, est.parts, keys, resolve=True, cost_col=cost_col)
    if keys:
        merge = R.merge_max if est.merge_policy == "max" else R.merge_avg
        rules = merge(rules, ants)
    rows = [tuple(r) for r in rules.select(*ants, "cls", "weight").collect()]
    cov: dict[tuple, int] = {}
    for r in raw_rows:
        cell = tuple(r[a] for a in ants)
        cov[cell] = cov.get(cell, 0) + r["n_gen"]
    rows = [t for t in rows if cov[t[:d]] >= est.min_rule_support]
    glob: dict[int, int] = {}
    for (_, lab), n in counts.items():
        glob[lab] = glob.get(lab, 0) + n
    return sorted(rows), default_class(glob)


# (num_buckets, merge_policy, cost_mode, prune): every cost mode, both
# fusions, and support pruning with and without buckets
CONFIGS = [
    (None, "max", "cs", False),
    (None, "max", "cs", True),
    (None, "max", "none", False),
    (None, "max", COST_MATRIX, False),
    (4, "max", "cs", False),
    (4, "max", COST_MATRIX, True),
    (4, "avg", "cs", False),
    (4, "avg", "none", True),
]


@pytest.mark.parametrize("fixture", ["lineitem", "nominal", "embeddings_l5"])
def test_driver_rules_match_spark_reference(spark, fixture):
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import (
        ChiFRBCSClassifier,
        default_class,
    )

    load, parts = _fixtures()[fixture]
    d = len(parts.features)
    ants = [f"l{i + 1}" for i in range(d)]
    raws = {nb: _raw(spark, load, parts, nb) for nb in (None, 4)}
    cover: dict[tuple, int] = {}
    for r in raws[None][0]:
        cell = tuple(r[a] for a in ants)
        cover[cell] = cover.get(cell, 0) + r["n_gen"]
    n_cells = sum(1 for n in cover.values() if n)  # cells some example generates
    # keeps only the best-covered cells
    support = max(cover.values())
    for num_buckets, merge, cost_mode, prune in CONFIGS:
        raw_rows, schema = raws[num_buckets]
        est = ChiFRBCSClassifier(
            parts=parts,
            cost_mode=cost_mode,
            num_buckets=num_buckets,
            merge_policy=merge,
            min_rule_support=support if prune else 0,
        )
        rows, counts = est._rules_from_raw(raw_rows)
        want, want_default = _spark_rules(spark, est, raw_rows, schema)
        cfg = (num_buckets, merge, cost_mode, prune)
        assert rows == want, cfg
        assert default_class(counts) == want_default, cfg
        assert (0 < len(rows) < n_cells) if prune else (len(rows) == n_cells), cfg


def test_fit_rules_are_the_driver_rules(spark):
    """fit() is the build pass + _rules_from_raw: same rows, same
    default class as the Spark reference on its aggregate."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    load, parts = _fixtures()["lineitem"]
    est = ChiFRBCSClassifier(parts=parts, num_buckets=4, merge_policy="avg")
    model = est.fit(load(spark, SF_SMALL))
    raw_rows, schema = _raw(spark, load, parts, 4)
    want, want_default = _spark_rules(spark, est, raw_rows, schema)
    assert model.rules_rows == want
    assert model.default_cls == want_default


def _round_sweep_values(n: int = 20000) -> list[float]:
    rng = random.Random(20261019)
    vals = [rng.uniform(-1.0, 1.0) for _ in range(n)]
    vals += [rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-9, 4) for _ in range(n)]
    for _ in range(n // 2):
        # exact half-way points k/1e6 + 5e-7 and their neighbours
        h = rng.randint(-1_000_000, 1_000_000) / 1e6 + 5e-7
        vals += [h, math.nextafter(h, 2.0), math.nextafter(h, -2.0)]
    vals += [0.0, -0.0, 5e-7, -5e-7, 4.999999e-7, -1e-7, 1.0, -1.0]
    vals += [2.0**e for e in range(-30, 3)] + [-(2.0**e) for e in range(-30, 3)]
    return vals


def test_spark_round_matches_python_round(spark):
    """Spark's round(x, 6) on a DOUBLE (BigDecimal.valueOf, i.e. the
    JVM's Double.toString, HALF_UP) == _spark_round, and CAST(x AS
    DECIMAL(18,6)) == _decimal6, bit for bit and sign for sign — the
    JVM's Double.toString is not always the shortest form repr gives."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import _decimal6, _spark_round

    vals = _round_sweep_values()
    df = spark.createDataFrame(list(enumerate(vals)), "i long, x double")
    got = df.select(
        "i", F.round("x", 6).alias("r"), F.col("x").cast("decimal(18,6)").alias("q")
    ).collect()
    assert len(got) == len(vals)
    bad = []
    for r in got:
        x = vals[r.i]
        want = _spark_round(x)
        if r.r != want or math.copysign(1.0, r.r) != math.copysign(1.0, want):
            bad.append((x, r.r, want))
        if r.q != _decimal6(x):
            bad.append((x, r.q, _decimal6(x)))
    assert not bad, bad[:10]
    assert _decimal6(1e12) is None and _decimal6(-999999999999.5) == Decimal(
        "-999999999999.500000"
    )


def test_fit_is_one_pass_without_shuffle_or_cache(spark):
    """On a splittable KEEL input, every SQL execution of fit()'s job
    group is the build aggregate: no InMemoryRelation (no cache), no
    round-robin Exchange (no input repartition), no LocalTableScan
    (no local DataFrame of the aggregate)."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.keel_cv import _fold_files
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.keel import encode_nominal, read_keel

    tra, ds = read_keel(spark, f"{_fold_files(spark, SF_SMALL)}/lineitem-5-1tra.dat")
    train = encode_nominal(tra, ds)
    sc = spark.sparkContext
    group = "test.fit_one_pass"
    sc.setJobGroup(group, group)
    try:
        model = ChiFRBCSClassifier(
            parts=ds.fuzzy_partitions(LINEITEM_CLF_PARTITIONS.num_labels)
        ).fit(train)
    finally:
        sc.setJobGroup(None, None)
    assert model.rules_rows
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        ex_jobs = {int(j) for j in str(ex.jobs().keys().mkString(",")).split(",") if j}
        if ex_jobs & jobs:
            plans.append(str(ex.physicalPlanDescription()))
    assert plans
    for plan in plans:
        assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
        assert "RoundRobinPartitioning" not in plan
        assert "LocalTableScan" not in plan
    # the only SQL executions are the build aggregate's
    assert all("HashAggregate" in p for p in plans), plans
