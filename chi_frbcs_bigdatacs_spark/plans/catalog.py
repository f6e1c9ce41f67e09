"""Catalog: registers every checked query key (SURVEY.md §2).

Fuzzy-core keys here; relational / text / dedup / similarity /
streaming catalogs register from their own modules (imported at the
bottom so one import wires the whole surface).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chi_frbcs_bigdatacs_spark.fuzzy import oracle
from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
from chi_frbcs_bigdatacs_spark.fuzzy import metrics as M
from chi_frbcs_bigdatacs_spark.fuzzy.membership import membership_col
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
from chi_frbcs_bigdatacs_spark.plans.registry import register
from chi_frbcs_bigdatacs_spark.sources.testdata import LINEITEM_CLF_SQL, lineitem_clf

P = LINEITEM_CLF_PARTITIONS
ANTS = [R.label_col(i) for i in range(len(P.features))]
EMU_BUCKETS = 8  # reference mapper-count emulation (deterministic id % n)


# --- O6 fuzzify -------------------------------------------------------------
def q_fuzzify(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = lineitem_clf(spark, sf_dir)
    cols = []
    for f in P.features:
        h = P.half_width(f)
        peaks = P.peaks(f)
        for j in range(P.num_labels):
            cols.append(
                membership_col(F.col(f.name), peaks[j], h, j, P.num_labels).alias(
                    f"mu_{f.name}_{j + 1}"
                )
            )
    return df.select("id", "label", *cols)


# --- O7 rule generation -----------------------------------------------------
def q_rulegen(spark: SparkSession, sf_dir: str) -> DataFrame:
    fz = R.with_antecedent(R.fuzzify(lineitem_clf(spark, sf_dir), P), P)
    return fz.select("id", "label", *ANTS)


# --- O5 class counts + CS cost vector --------------------------------------
def q_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = R.class_counts(lineitem_clf(spark, sf_dir))
    return R.with_costs(counts).select("label", "n", "cost")


def _clf_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture repartitioned to session parallelism: the testdata files
    are single-row-group parquet (unsplittable), so parallelism for the
    CPU-heavy build must come from an explicit repartition."""
    n = spark.sparkContext.defaultParallelism
    return lineitem_clf(spark, sf_dir).repartition(n)


# --- O8 PCF-CS weights (all candidate rules) --------------------------------
def q_ruleweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.build_rules(_clf_par(spark, sf_dir), P, resolve=False)


# --- O9 conflict resolution (final exact-global rule base) ------------------
def q_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.build_rules(_clf_par(spark, sf_dir), P, resolve=True)


# --- O10 partitioned build (reference mapper emulation) ---------------------
def q_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.build_rules(_clf_par(spark, sf_dir), P, num_buckets=EMU_BUCKETS)


# O10 variant: bucketed build with the GLOBAL cost vector (the other
# defensible reading of [FSS258 §4.1] — costs as a property of the
# problem, computed once from the whole training distribution, not of
# each mapper's split; see rules.weights_from_raw docstring).
def q_partitioned_globalcost(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.build_rules(
        _clf_par(spark, sf_dir), P, num_buckets=EMU_BUCKETS, cost_scope="global"
    )


# --- O11 fusion -------------------------------------------------------------
def q_merge_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    partials = R.build_rules(_clf_par(spark, sf_dir), P, num_buckets=EMU_BUCKETS)
    return R.merge_max(partials, ANTS)


def q_merge_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    partials = R.build_rules(_clf_par(spark, sf_dir), P, num_buckets=EMU_BUCKETS)
    return R.merge_avg(partials, ANTS)


# --- O12 model sink/source round-trip ---------------------------------------
def q_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier, ChiFRBCSModel
    from chi_frbcs_bigdatacs_spark.streaming.staging import staged_dir

    model = ChiFRBCSClassifier(parts=P).fit(_clf_par(spark, sf_dir))
    path = staged_dir("model_rt", sf_dir, lambda d: None)
    model.save(path)  # overwrite-mode: the staged dir is reused per sf
    loaded = ChiFRBCSModel.load(spark, path)
    return loaded.rules_df(spark).select(*ANTS, "cls", "weight")


# --- O13/O14 scoring --------------------------------------------------------
def _fit_predict(spark: SparkSession, sf_dir: str, frm: str) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    est = ChiFRBCSClassifier(parts=P, frm=frm)
    return est.fit_transform(lineitem_clf(spark, sf_dir))


def _kernel_scored(
    spark: SparkSession, sf_dir: str, reducer, schema: str
) -> DataFrame:
    """The shared scoring prelude of the AC metrics and calibration:
    the rule base of ChiFRBCSClassifier.fit (the one classify_* scores
    with) in the numpy kernel, mapped over the repartitioned fixture
    (the raw scan is a few unsplittable files) with the reducer that
    reducer(kernel) returns."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import (
        ChiFRBCSClassifier,
        _RuleKernel,
    )

    df = _clf_par(spark, sf_dir)
    kernel = _RuleKernel(P, ChiFRBCSClassifier(parts=P).fit(df).rules_rows)
    return kernel.map(df, reducer(kernel), schema)


_FIRED_WINNER_SCHEMA = "id long, label int, r_cls int, score double"


def _fired_winner(kernel):
    """Reducer: the WR winning rule's class and score (mu * weight)
    per rule-fired example; default-class fallbacks emit no row."""

    def reduce(ids, labels, mu):
        cls, score = kernel.wr_winner(mu)
        fired = ~np.isneginf(score)
        return {
            "id": ids[fired],
            "label": labels[fired],
            "r_cls": cls[fired],
            "score": score[fired],
        }

    return reduce


def q_classify_wr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fit_predict(spark, sf_dir, "wr")


def q_classify_wr_bigmodel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classify_wr scored WITHOUT broadcasting the rule base: the
    shuffle-join path for L^d-explosive models whose rule table
    exceeds the broadcast budget (the scale escape hatch VERDICT r5
    flagged — no driver/JVM-broadcast materialization of rules
    anywhere in this plan). Same cell equi-join, same argmax, same
    oracle as classify_wr; only the join's physical strategy differs."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    est = ChiFRBCSClassifier(parts=P, frm="wr", collect_rules=False)
    return est.fit_transform(lineitem_clf(spark, sf_dir), broadcast_rules=False)


def q_classify_ac(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fit_predict(spark, sf_dir, "ac")


# --- O16 metrics ------------------------------------------------------------
def q_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.confusion(_fit_predict(spark, sf_dir, "wr"))


def q_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.metrics_binary(_fit_predict(spark, sf_dir, "wr"))


# --- non-CS variant (plain PCF, the sibling Chi-FRBCS-BigData [IJCIS8]) ----
def q_ruleweight_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.build_rules(_clf_par(spark, sf_dir), P, resolve=False, cost_mode="none")


def q_classify_wr_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    est = ChiFRBCSClassifier(parts=P, frm="wr", cost_mode="none")
    return est.fit_transform(lineitem_clf(spark, sf_dir))


# --- explicit cost matrix (user-supplied misclassification costs) ----------
COST_MATRIX = {0: 1.0, 1: 3.5}


def q_ruleweight_costmatrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.build_rules(
        _clf_par(spark, sf_dir), P, resolve=False, cost_mode=COST_MATRIX
    )


# --- finer linguistic granularity: L = 5 labels ----------------------------
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FuzzyPartitions as _FP  # noqa: E402

P5 = _FP(features=P.features, num_labels=5)


def q_resolved_l5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.build_rules(_clf_par(spark, sf_dir), P5, resolve=True)


# --- train/test holdout + k-fold cross-validation (FSS258 §4.3) ------------
N_FOLDS = 5


def q_classify_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit on folds 1..4, score the held-out fold 0 — the reference's
    E1-then-E2 lifecycle with genuinely disjoint train/test data."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    # fit() and the map-only transform() both run on as many tasks
    # as their input has partitions: spread the raw 3-file scan first
    df = lineitem_clf(spark, sf_dir)
    n = spark.sparkContext.defaultParallelism
    train = df.filter(F.col("id") % N_FOLDS != 0).repartition(n)
    test = df.filter(F.col("id") % N_FOLDS == 0).repartition(n)
    model = ChiFRBCSClassifier(parts=P).fit(train)
    return model.transform(test)


def q_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold CV on deterministic id-hash folds; one metrics row per
    fold [FSS258 §4.3 — the paper's validation methodology]."""
    from functools import reduce as _reduce

    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    df = lineitem_clf(spark, sf_dir)
    n = spark.sparkContext.defaultParallelism
    outs = []
    for k in range(N_FOLDS):
        train = df.filter(F.col("id") % N_FOLDS != k).repartition(n)
        test = df.filter(F.col("id") % N_FOLDS == k).repartition(n)
        model = ChiFRBCSClassifier(parts=P).fit(train)
        outs.append(
            M.metrics_binary(model.transform(test)).select(
                F.lit(k).alias("fold"), "acc", "tpr", "tnr", "gm", "auc"
            )
        )
    return _reduce(lambda a, b: a.unionByName(b), outs)


# --- d=8 build (higher-dimensional antecedents; generators scale by d) -----
EMBEDDINGS_CLF8_SQL = """
SELECT vec_id AS id,
       CAST(embedding[1] AS DOUBLE) AS f1, CAST(embedding[2] AS DOUBLE) AS f2,
       CAST(embedding[3] AS DOUBLE) AS f3, CAST(embedding[4] AS DOUBLE) AS f4,
       CAST(embedding[5] AS DOUBLE) AS f5, CAST(embedding[6] AS DOUBLE) AS f6,
       CAST(embedding[7] AS DOUBLE) AS f7, CAST(embedding[8] AS DOUBLE) AS f8,
       label
FROM embeddings
"""

from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FeatureSpec as _FS  # noqa: E402

P8 = _FP(
    features=tuple(_FS(f"f{i}", -4.0, 4.0) for i in range(1, 9)), num_labels=3
)


def q_resolved_d8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select(
        F.col("vec_id").alias("id"),
        *[
            F.element_at("embedding", i).cast("double").alias(f"f{i}")
            for i in range(1, 9)
        ],
        F.col("label"),
    ).repartition(spark.sparkContext.defaultParallelism)
    return R.build_rules(df, P8, resolve=True)


# --- multiclass (10-class embeddings fixture, FIXTURES.md §B2) -------------
def q_classify_wr_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import EMBEDDINGS_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import embeddings_clf

    est = ChiFRBCSClassifier(parts=EMBEDDINGS_CLF_PARTITIONS, frm="wr")
    return est.fit_transform(embeddings_clf(spark, sf_dir))


def q_confusion_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.confusion(q_classify_wr_multiclass(spark, sf_dir))


def q_metrics_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.metrics_multiclass(q_classify_wr_multiclass(spark, sf_dir))


def q_crossval_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold CV with macro GM / one-vs-rest AUC on the 10-class
    embeddings fixture [FSS258 §4.3 generalized]."""
    from functools import reduce as _reduce

    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.sources.testdata import embeddings_clf

    df = embeddings_clf(spark, sf_dir)
    n = spark.sparkContext.defaultParallelism
    outs = []
    for k in range(N_FOLDS):
        train = df.filter(F.col("id") % N_FOLDS != k).repartition(n)
        test = df.filter(F.col("id") % N_FOLDS == k).repartition(n)
        model = ChiFRBCSClassifier(parts=EMBEDDINGS_CLF_PARTITIONS).fit(train)
        outs.append(
            M.metrics_multiclass(model.transform(test)).select(
                F.lit(k).alias("fold"), "acc", "gm", "auc"
            )
        )
    return _reduce(lambda a, b: a.unionByName(b), outs)


register("fuzzify", q_fuzzify, oracle.fuzzify_sql(LINEITEM_CLF_SQL, P))
register("rulegen_antecedent", q_rulegen, oracle.rulegen_sql(LINEITEM_CLF_SQL, P))
register("agg_class_counts", q_class_counts, oracle.class_counts_sql(LINEITEM_CLF_SQL, P))
register("ruleweight_pcfcs", q_ruleweight, oracle.ruleweight_sql(LINEITEM_CLF_SQL, P))
register("rule_conflict_resolve", q_resolved, oracle.resolved_sql(LINEITEM_CLF_SQL, P))
register(
    "rulebuild_partitioned",
    q_partitioned,
    oracle.partitioned_sql(LINEITEM_CLF_SQL, P, EMU_BUCKETS),
)
register(
    "rulebuild_partitioned_globalcost",
    q_partitioned_globalcost,
    oracle.partitioned_sql(LINEITEM_CLF_SQL, P, EMU_BUCKETS, cost_scope="global"),
)
register("rulemerge_max", q_merge_max, oracle.merge_max_sql(LINEITEM_CLF_SQL, P, EMU_BUCKETS))
register("rulemerge_avg", q_merge_avg, oracle.merge_avg_sql(LINEITEM_CLF_SQL, P, EMU_BUCKETS))
register("model_roundtrip", q_model_roundtrip, oracle.resolved_sql(LINEITEM_CLF_SQL, P))
register("classify_wr", q_classify_wr, oracle.classify_wr_sql(LINEITEM_CLF_SQL, P))
register(
    "classify_wr_bigmodel",
    q_classify_wr_bigmodel,
    oracle.classify_wr_sql(LINEITEM_CLF_SQL, P),
)
register("classify_ac", q_classify_ac, oracle.classify_ac_sql(LINEITEM_CLF_SQL, P))
register("metrics_confusion", q_confusion, oracle.confusion_sql(LINEITEM_CLF_SQL, P))
register("metrics_gm_auc", q_metrics, oracle.metrics_sql(LINEITEM_CLF_SQL, P))

from chi_frbcs_bigdatacs_spark.fuzzy.partitions import EMBEDDINGS_CLF_PARTITIONS  # noqa: E402
from chi_frbcs_bigdatacs_spark.sources.testdata import EMBEDDINGS_CLF_SQL  # noqa: E402

register(
    "ruleweight_pcf_plain",
    q_ruleweight_plain,
    oracle.ruleweight_sql(LINEITEM_CLF_SQL, P, cost_mode="none"),
)
register(
    "classify_wr_plain",
    q_classify_wr_plain,
    oracle.classify_wr_sql(LINEITEM_CLF_SQL, P, cost_mode="none"),
)
register(
    "classify_wr_multiclass",
    q_classify_wr_multiclass,
    oracle.classify_wr_sql(EMBEDDINGS_CLF_SQL, EMBEDDINGS_CLF_PARTITIONS),
)
register(
    "metrics_confusion_multiclass",
    q_confusion_multiclass,
    oracle.confusion_sql(EMBEDDINGS_CLF_SQL, EMBEDDINGS_CLF_PARTITIONS),
)
register(
    "metrics_gm_auc_multiclass",
    q_metrics_multiclass,
    oracle.metrics_multiclass_sql(EMBEDDINGS_CLF_SQL, EMBEDDINGS_CLF_PARTITIONS),
)
register(
    "crossval_multiclass",
    q_crossval_multiclass,
    oracle.crossval_multiclass_sql(
        EMBEDDINGS_CLF_SQL, EMBEDDINGS_CLF_PARTITIONS, n_folds=N_FOLDS
    ),
)
register(
    "ruleweight_pcfcs_costmatrix",
    q_ruleweight_costmatrix,
    oracle.ruleweight_sql(LINEITEM_CLF_SQL, P, cost_mode=COST_MATRIX),
)
register(
    "rule_conflict_resolve_l5",
    q_resolved_l5,
    oracle.resolved_sql(LINEITEM_CLF_SQL, P5),
)
register(
    "rule_conflict_resolve_d8",
    q_resolved_d8,
    oracle.resolved_sql(EMBEDDINGS_CLF8_SQL, P8),
)
register(
    "classify_holdout",
    q_classify_holdout,
    oracle.holdout_classify_sql(
        f"SELECT * FROM ({LINEITEM_CLF_SQL}) b WHERE id % {N_FOLDS} <> 0",
        f"SELECT * FROM ({LINEITEM_CLF_SQL}) b WHERE id % {N_FOLDS} = 0",
        P,
    ),
)
register(
    "crossval_gm_auc",
    q_crossval,
    oracle.crossval_sql(LINEITEM_CLF_SQL, P, n_folds=N_FOLDS),
)


# --- model selection: linguistic granularity sweep (FSS258 §5.2) -----------
SWEEP_LABELS = (3, 5, 7)


def q_hyperparam_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granularity sweep: fit L=3/5/7 candidates on the same train
    folds, score the same held-out fold, one metrics row per L — the
    distributed analogue of the paper's partitioning study. Each fit
    is the usual single-pass build over the same repartitioned train
    split; candidates score the same test split."""
    from functools import reduce as _reduce

    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    df = lineitem_clf(spark, sf_dir)
    n = spark.sparkContext.defaultParallelism
    train = df.filter(F.col("id") % N_FOLDS != 0).repartition(n)
    test = df.filter(F.col("id") % N_FOLDS == 0).repartition(n)
    outs = []
    for lab in SWEEP_LABELS:
        parts = _FP(features=P.features, num_labels=lab)
        model = ChiFRBCSClassifier(parts=parts).fit(train)
        outs.append(
            M.metrics_binary(model.transform(test)).select(
                F.lit(lab).alias("num_labels"), "acc", "tpr", "tnr", "gm", "auc"
            )
        )
    return _reduce(lambda a, b: a.unionByName(b), outs)


register(
    "hyperparam_sweep",
    q_hyperparam_sweep,
    oracle.granularity_sweep_sql(
        LINEITEM_CLF_SQL, P.features, SWEEP_LABELS, n_folds=N_FOLDS
    ),
)


# --- model introspection: per-rule training coverage -----------------------
def q_rule_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved rule base annotated with how much training data each
    rule's cell generated: n_covered (examples whose argmax antecedent
    IS that cell) and support (fraction of the corpus). The audit
    table a practitioner reads before trusting/pruning a model.

    Shape: the usual single-pass build + ONE extra tiny hash agg over
    the already-computed argmax labels; the join is rulebase-sized."""
    df = _clf_par(spark, sf_dir)
    n_total = df.count()  # driver scalar folded as a literal
    fz = R.with_antecedent(R.fuzzify(df, P), P)
    rules = R.build_rules(fz, P, resolve=True, prefuzzified=True)
    cov = fz.groupBy(*ANTS).agg(F.count(F.lit(1)).alias("n_covered"))
    return rules.join(cov, ANTS).select(
        *ANTS,
        "cls",
        "weight",
        "n_covered",
        F.round(
            F.col("n_covered").cast("double") / F.lit(float(n_total)), 6
        ).alias("support"),
    )


_RULE_COVERAGE_SQL = (
    oracle.chi_ctes(LINEITEM_CLF_SQL, P)
    + """,
cov AS (
  SELECT l1, l2, l3, l4, count(*) AS n_covered FROM fz
  GROUP BY l1, l2, l3, l4
),
nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM clf)
SELECT r.l1, r.l2, r.l3, r.l4, r.cls, r.weight, c.n_covered,
       round(CAST(c.n_covered AS DOUBLE) / nt.n, 6) AS support
FROM resolved r
JOIN cov c USING (l1, l2, l3, l4)
CROSS JOIN nt
"""
)

register("rule_coverage", q_rule_coverage, _RULE_COVERAGE_SQL)
# --- minimum-support rule pruning ---------------------------------------------
# The standard FRBCS model-compaction post-process [FSS258 §2 keeps
# only positive-weight rules; support pruning is the usual next cut]:
# drop rules whose antecedent cell covers fewer than T training
# examples (their weight estimate is noise-dominated) and report the
# compaction (n_rules -> n_kept) NEXT TO the quality cost (confusion
# + GM with the pruned base), so the trade is the artifact — exactly
# the table a practitioner builds before shipping a smaller model.
# T is SCALE-RELATIVE (max(2, n/200): prunes 15/81 rules at
# sf0.001 and 10/81 at sf0.01 — measured, non-vacuous at both SFs).
# Scoring collects the kept rules (at most rule-base sized) into a
# driver-resident model, so the pruned base scores on the classify_wr
# kernel.
# Oracle: scoring_ctes with the rules CTE surgically rewritten to
# join coverage (string replace on the generated SQL — pinned by the
# hash itself: a drifted anchor string would break the oracle run).


def q_rulebase_prune_minsupport(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSModel, default_class

    df = _clf_par(spark, sf_dir)
    n_total = df.count()  # driver scalar folded as a literal
    thr = max(2, n_total // 200)
    fz = R.with_antecedent(R.fuzzify(df, P), P)
    rules = R.build_rules(fz, P, resolve=True, prefuzzified=True).filter(
        F.col("weight") > 0
    )
    cov = fz.groupBy(*ANTS).agg(F.count(F.lit(1)).alias("n_covered"))
    kept = [
        tuple(r)
        for r in rules.join(cov, ANTS)
        .filter(F.col("n_covered") >= thr)
        .select(*ANTS, "cls", "weight")
        .collect()
    ]
    n_rules = rules.count()  # bounded: rule-base-sized
    counts = {r["label"]: r["count"] for r in df.groupBy("label").count().collect()}
    model = ChiFRBCSModel(parts=P, rules_rows=kept, default_cls=default_class(counts))
    n_kept = len(kept)
    pred = model.transform(df)
    c = pred.agg(
        F.sum(((F.col("label") == 1) & (F.col("prediction") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("label") == 0) & (F.col("prediction") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("label") == 0) & (F.col("prediction") == 0)).cast("long")).alias("tn"),
        F.sum(((F.col("label") == 1) & (F.col("prediction") == 0)).cast("long")).alias("fn"),
    )
    tp, fp, tn, fn = (F.col(x) for x in ("tp", "fp", "tn", "fn"))
    tpr = F.when(tp + fn == 0, F.lit(0.0)).otherwise(
        tp.cast("double") / (tp + fn).cast("double")
    )
    tnr = F.when(tn + fp == 0, F.lit(0.0)).otherwise(
        tn.cast("double") / (tn + fp).cast("double")
    )
    return c.select(
        F.lit(int(n_rules)).cast("long").alias("n_rules"),
        F.lit(int(n_kept)).cast("long").alias("n_kept"),
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(F.sqrt(tpr * tnr), 6).alias("gm"),
    )


def _prune_minsupport_sql() -> str:
    ant_list = ", ".join(ANTS)
    base = oracle.scoring_ctes(LINEITEM_CLF_SQL, P)
    anchor = "FROM resolved WHERE weight > 0"
    assert anchor in base, "scoring_ctes rules-CTE anchor drifted"
    pruned = base.replace(
        "rules AS (",
        f"""cov AS (
  SELECT {ant_list}, count(*) AS n_covered FROM fz GROUP BY {ant_list}
),
thr AS (SELECT greatest(2, count(*) // 200) AS t FROM clf),
rules AS (""",
        1,
    ).replace(
        anchor,
        f"FROM resolved JOIN cov USING ({ant_list})"
        " WHERE weight > 0 AND n_covered >= (SELECT t FROM thr)",
        1,
    )
    tpr = "CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END"
    tnr = "CASE WHEN tn + fp = 0 THEN 0.0 ELSE CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) END"
    return (
        pruned
        + f""",
m AS (
  SELECT
    sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS tn,
    sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS fn
  FROM wrpred
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM resolved WHERE weight > 0)
         AS n_rules,
       (SELECT CAST(count(*) AS BIGINT) FROM rules) AS n_kept,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
       round(sqrt(({tpr}) * ({tnr})), 6) AS gm
FROM m
"""
    )


register(
    "rulebase_prune_minsupport",
    q_rulebase_prune_minsupport,
    _prune_minsupport_sql(),
)
# --- classifier calibration (reliability bins) ------------------------------
# The standard post-hoc eval every scored classifier gets: bucket the
# WINNING-rule confidence (mu * weight, the exact quantity WR ranks
# by) into 10 bins and report per-bin accuracy — a well-calibrated
# model's accuracy tracks its confidence. Only rule-fired examples
# appear (default-class fallbacks carry no score; documented).
# Parity: the winning score is the SAME double both engines already
# rank identically in classify_wr, so floor(score * 10) (capped at
# bin 9 for score == 1.0) is deterministic; counts are integers and
# accuracy is one division, 6dp.
CAL_BINS = 10


def q_metrics_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the classify_wr kernel's winning scores, bit-identical to the
    # oracle's (pinned by test_scorer_implementations)
    win = _kernel_scored(spark, sf_dir, _fired_winner, _FIRED_WINNER_SCHEMA)
    bin_ = F.least(
        F.floor(F.col("score") * CAL_BINS), F.lit(CAL_BINS - 1)
    ).cast("int")
    return (
        win.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("r_cls") == F.col("label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "bin",
            "n",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n"), 6
            ).alias("accuracy"),
        )
    )


_CAL_R_ORDER = ", ".join(f"r_{a} ASC" for a in ANTS)
_METRICS_CALIBRATION_SQL = (
    oracle.scoring_ctes(LINEITEM_CLF_SQL, P)
    + f""",
winscore AS (
  SELECT id, label, r_cls, score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id
      ORDER BY score DESC, {_CAL_R_ORDER}, r_cls ASC) AS rn
    FROM scored) t
  WHERE rn = 1
)
SELECT CAST(least(floor(score * {CAL_BINS}), {CAL_BINS - 1}) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN r_cls = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(sum(CASE WHEN r_cls = label THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS accuracy
FROM winscore
GROUP BY 1
"""
)

register("metrics_calibration", q_metrics_calibration, _METRICS_CALIBRATION_SQL)
# --- MCC + Cohen's kappa ------------------------------------------------------
# Two standard imbalance-robust agreement scalars beside GM/AUC
# [FSS258 evaluates GM; MCC/kappa are the usual companions]. Both are
# pure functions of the confusion counts: kappa is ONE division of
# exact integers (numerator/denominator expanded to integer form, so
# no intermediate float), MCC is one division by a sqrt over a
# product of four counts (each factor cast to double FIRST and
# multiplied left-associatively — identical doubles on both engines;
# the int64 product could overflow, the double product cannot).
def q_metrics_mcc_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _fit_predict(spark, sf_dir, "wr")
    c = pred.agg(
        F.sum(((F.col("label") == 1) & (F.col("prediction") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("label") == 0) & (F.col("prediction") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("label") == 0) & (F.col("prediction") == 0)).cast("long")).alias("tn"),
        F.sum(((F.col("label") == 1) & (F.col("prediction") == 0)).cast("long")).alias("fn"),
    )
    tp, fp, tn, fn = (F.col(x) for x in ("tp", "fp", "tn", "fn"))
    n = tp + fp + tn + fn
    mcc_num = (tp * tn - fp * fn).cast("double")
    mcc_den = F.sqrt(
        (tp + fp).cast("double")
        * (tp + fn).cast("double")
        * (tn + fp).cast("double")
        * (tn + fn).cast("double")
    )
    pe_num = (tp + fp) * (tp + fn) + (tn + fn) * (tn + fp)
    kappa = (n * (tp + tn) - pe_num).cast("double") / (n * n - pe_num).cast(
        "double"
    )
    # degenerate-marginal guards (ADVICE r8, the feature_scale
    # zero-variance pattern): a one-class prediction or label column
    # zeroes an MCC marginal (0/0 NaN) and an all-agreeing constant
    # pair zeroes kappa's denominator. Predicates are conjunctions of
    # EXACT integer marginals (the n^4 product would overflow int64
    # past ~55k rows), so both engines take the same NULL branch.
    mcc_ok = (tp + fp > 0) & (tp + fn > 0) & (tn + fp > 0) & (tn + fn > 0)
    return c.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.when(mcc_ok, F.round(mcc_num / mcc_den, 6)).alias("mcc"),
        F.when(n * n - pe_num > 0, F.round(kappa, 6)).alias("kappa"),
    )


_METRICS_MCC_KAPPA_SQL = (
    oracle.scoring_ctes(LINEITEM_CLF_SQL, P)
    + """,
c AS (
  SELECT
    sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS tn,
    sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS fn
  FROM wrpred
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp > 0 AND tp + fn > 0
             AND tn + fp > 0 AND tn + fn > 0 THEN
         round(CAST(tp * tn - fp * fn AS DOUBLE)
               / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)),
               6)
       END AS mcc,
       CASE WHEN (tp + fp + tn + fn) * (tp + fp + tn + fn)
              - ((tp + fp) * (tp + fn) + (tn + fn) * (tn + fp)) > 0 THEN
         round(CAST((tp + fp + tn + fn) * (tp + tn)
                    - ((tp + fp) * (tp + fn) + (tn + fn) * (tn + fp))
                    AS DOUBLE)
               / CAST((tp + fp + tn + fn) * (tp + fp + tn + fn)
                      - ((tp + fp) * (tp + fn) + (tn + fn) * (tn + fp))
                      AS DOUBLE), 6)
       END AS kappa
FROM c
"""
)

register("metrics_mcc_kappa", q_metrics_mcc_kappa, _METRICS_MCC_KAPPA_SQL)


# --- Brier score over AC pseudo-probabilities (r13) ---------------------------
# The proper-scoring-rule companion to calibration bins: normalize
# each example's per-class AC scores into pseudo-probabilities
# p_c = cscore_c / sum(cscore) and report the mean Brier score
# sum_c (p_c - y_c)^2 = sum_c p_c^2 - 2 p_label + 1 (classes with no
# fired rule contribute p = 0 through the identity). Only rule-fired
# examples appear (same contract as metrics_calibration). Parity:
# cscore is the round-9 acagg both engines already agree on; the
# per-id folds sum at most TWO doubles (binary fixture — IEEE
# addition is commutative, so two-term sums are order-safe); each
# example's brier is integerized to micro-units BEFORE the corpus
# mean, so the final agg is an exact integer sum with one pinned
# division chain.


_AC_FOLDS_SCHEMA = (
    "id long, label int, ssum double, c1 double, ss2 double, chit double"
)


def _ac_per_example(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-example AC score folds (id, label, ssum, c1, ss2, chit)
    from the kernel's ac_folds reducer: one map-only pass, no cell
    explosion, no join, no (id, r_cls) or (id) exchange."""
    return _kernel_scored(
        spark, sf_dir, lambda kernel: kernel.ac_folds, _AC_FOLDS_SCHEMA
    )


def q_metrics_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-example folds come straight off the numpy scorer — the old
    # groupBy(id) exchange over the (id, r_cls) frame is gone (r16)
    per = _ac_per_example(spark, sf_dir)
    bm = per.select(
        F.round(
            (
                F.col("ss2") / (F.col("ssum") * F.col("ssum"))
                - F.lit(2.0) * (F.col("chit") / F.col("ssum"))
                + F.lit(1.0)
            )
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("bm")
    )
    return bm.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.round(
            F.sum("bm").cast("double") / F.count(F.lit(1)) / F.lit(1e6), 6
        ).alias("brier"),
    )


_METRICS_BRIER_SQL = (
    oracle.scoring_ctes(LINEITEM_CLF_SQL, P)
    + """,
aclab AS (
  SELECT a.id, a.r_cls, a.cscore, f.label
  FROM acagg a JOIN (SELECT DISTINCT id, label FROM clf) f USING (id)
),
per AS (
  SELECT id, sum(cscore) AS ssum,
         sum(cscore * cscore) AS ss2,
         sum(CASE WHEN r_cls = label THEN cscore ELSE 0.0 END) AS chit
  FROM aclab GROUP BY id
),
b AS (
  SELECT CAST(round((ss2 / (ssum * ssum) - 2.0 * (chit / ssum) + 1.0)
                    * 1e6, 0) AS BIGINT) AS bm
  FROM per
)
SELECT CAST(count(*) AS BIGINT) AS n_scored,
       round(CAST(sum(bm) AS DOUBLE) / count(*) / 1e6, 6) AS brier
FROM b
"""
)

register("metrics_brier", q_metrics_brier, _METRICS_BRIER_SQL)


# --- PR-AUC / average precision over the AC score ranking (r14) ----------------
# The ranking metric imbalanced-learning papers report beside GM/AUC
# (Davis & Goadrich, "The Relationship Between Precision-Recall and
# ROC Curves", ICML 2006: PR dominates ROC under heavy skew — exactly
# the Chi-FRBCS-CS regime). Unlike the paper's single-point
# (1+TPR-FPR)/2 AUC (metrics_gm_auc, reference-faithful), this is the
# THRESHOLD-SWEEP average precision over the classifier's continuous
# positive-class posterior p1 = cscore_1 / sum_k cscore_k from the AC
# scoring DAG (the same normalized score metrics_brier consumes):
#   AP = sum_i (Delta recall_i) * precision_i
# over DISTINCT quantized scores descending (ties as one block).
#
# Scale + parity: scores quantize to round6, so the PR grid is
# BOUNDED (<= 1e6+1 distinct values at any corpus size) — the global
# cumulative window runs over the bounded grid, never the corpus.
# Cumulative TP/N are exact integers; each AP term integerizes to
# 1e12 micro-units with a pinned operand order before the exact
# integer sum, so the result is order-free on both engines. Scored
# set = examples with at least one fired rule (ssum > 0), matching
# metrics_brier's convention; n_scored/n_pos are reported beside the
# metric. Degenerate zero-positive input defines AP = 0 on both
# engines.


def q_metrics_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-example folds come straight off the numpy scorer (r16)
    per = _ac_per_example(spark, sf_dir)
    # grid key as INTEGER micro-units (round(p1*1e6) as BIGINT), not a
    # round6 double: a double group key would expose the engines'
    # round-implementation divergence structurally (one boundary
    # posterior landing in adjacent cells shifts every cumulative
    # count), while the multiply-then-round-to-integer site is the
    # repo's established micro-unit idiom
    sc = per.where(F.col("ssum") > 0).select(
        F.round(F.col("c1") / F.col("ssum") * F.lit(1e6), 0)
        .cast("long")
        .alias("s"),
        (F.col("label") == 1).cast("long").alias("pos"),
    )
    return _avg_precision(sc)


def _avg_precision(sc: DataFrame) -> DataFrame:
    """AP over a (s round6, pos {0,1}) frame — the exact-integer
    aggregation q_metrics_pr_auc runs, factored so tests can pin the
    formula on hand-built rankings (perfect=1.0, reversed, ties)."""
    from pyspark.sql.window import Window

    h = sc.groupBy("s").agg(
        F.sum("pos").alias("gp"), F.count(F.lit(1)).alias("gn")
    )
    w = (
        Window.orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "gp",
        F.sum("gp").over(w).alias("ctp"),
        F.sum("gn").over(w).alias("cn"),
    )
    tot = sc.agg(
        F.sum("pos").alias("ptot"), F.count(F.lit(1)).alias("n_scored")
    )
    term = F.when(
        F.col("ptot") > 0,
        F.round(
            (
                (F.col("gp").cast("double") * F.col("ctp").cast("double"))
                / (
                    F.col("ptot").cast("double")
                    * F.col("cn").cast("double")
                )
            )
            * F.lit(1e12),
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(term.alias("t"), "ptot", "n_scored")
        .agg(
            # coalesce: an EMPTY scored set (no ssum>0 rows) must
            # report 0/0/0.0, not NULLs — 'degenerate input defines
            # AP = 0' covers no-rows, not just zero-positives
            # (ADVICE r14); same coalesce in the SQL oracle.
            F.coalesce(F.max("n_scored"), F.lit(0))
            .cast("long")
            .alias("n_scored"),
            F.coalesce(F.max("ptot"), F.lit(0)).cast("long").alias("n_pos"),
            F.coalesce(
                F.round(F.sum("t").cast("double") / F.lit(1e12), 6),
                F.lit(0.0),
            ).alias("pr_auc"),
        )
    )


_METRICS_PR_AUC_SQL = (
    oracle.scoring_ctes(LINEITEM_CLF_SQL, P)
    + """,
aclab AS (
  SELECT a.id, a.r_cls, a.cscore, f.label
  FROM acagg a JOIN (SELECT DISTINCT id, label FROM clf) f USING (id)
),
per AS (
  SELECT id, sum(cscore) AS ssum,
         sum(CASE WHEN r_cls = 1 THEN cscore ELSE 0.0 END) AS c1,
         max(label) AS label
  FROM aclab GROUP BY id
),
sc AS (
  SELECT CAST(round(c1 / ssum * 1e6, 0) AS BIGINT) AS s,
         CASE WHEN label = 1 THEN 1 ELSE 0 END AS pos
  FROM per WHERE ssum > 0
),
prtot AS (
  SELECT CAST(sum(pos) AS BIGINT) AS ptot,
         CAST(count(*) AS BIGINT) AS n_scored
  FROM sc
),
h AS (
  SELECT s, CAST(sum(pos) AS BIGINT) AS gp, CAST(count(*) AS BIGINT) AS gn
  FROM sc GROUP BY s
),
cum AS (
  SELECT gp,
         sum(gp) OVER (ORDER BY s DESC
                       ROWS UNBOUNDED PRECEDING) AS ctp,
         sum(gn) OVER (ORDER BY s DESC
                       ROWS UNBOUNDED PRECEDING) AS cn
  FROM h
),
terms AS (
  SELECT CASE WHEN t.ptot > 0 THEN
           CAST(round(((CAST(gp AS DOUBLE) * CAST(ctp AS DOUBLE))
                       / (CAST(t.ptot AS DOUBLE) * CAST(cn AS DOUBLE)))
                      * 1e12, 0) AS BIGINT)
         ELSE 0 END AS tm, t.ptot, t.n_scored
  FROM cum CROSS JOIN prtot t
)
SELECT CAST(coalesce(max(n_scored), 0) AS BIGINT) AS n_scored,
       CAST(coalesce(max(ptot), 0) AS BIGINT) AS n_pos,
       coalesce(round(CAST(sum(tm) AS DOUBLE) / 1e12, 6), 0.0) AS pr_auc
FROM terms
"""
)

register("metrics_pr_auc", q_metrics_pr_auc, _METRICS_PR_AUC_SQL)


# --- ROC-AUC over the same bounded posterior grid (r15) ------------------------
# The threshold-sweep companion to metrics_pr_auc (VERDICT r14 #3):
# trapezoidal area under the ROC curve over the SAME 1e6-quantized
# positive-class posterior grid (ties as one block — the curve
# interpolates linearly across a tie block, which IS the trapezoid).
# Fawcett, "An introduction to ROC analysis", PRL 27 (2006) §7
# (algorithm 2's trapezoid handling of ties). Complements the
# reference-faithful single-point AUC = (1+TPR-FPR)/2 [FSS258 §4.3]
# in metrics_gm_auc; on a degenerate ONE-threshold grid the two agree
# exactly (test-pinned), because the trapezoid through (0,0) ->
# (FPR, TPR) -> (1,1) has area (1+TPR-FPR)/2.
#
# Scale + parity: identical recipe to _avg_precision — the grid is
# BOUNDED (<= 1e6+1 rows at any corpus size) so the global
# cumulative/lag window never sees the corpus; cumulative TP/FP are
# exact integers; each trapezoid term
#   (cfp_i - cfp_{i-1}) * (ctp_i + ctp_{i-1}) / (2 * P * N)
# integerizes to 1e12 micro-units with a pinned operand order before
# the exact integer sum. Degenerate inputs (no scored rows, P = 0, or
# N = 0) define roc_auc = 0.0 on both engines.


def q_metrics_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-example folds come straight off the numpy scorer (r16)
    per = _ac_per_example(spark, sf_dir)
    sc = per.where(F.col("ssum") > 0).select(
        F.round(F.col("c1") / F.col("ssum") * F.lit(1e6), 0)
        .cast("long")
        .alias("s"),
        (F.col("label") == 1).cast("long").alias("pos"),
    )
    return _roc_auc(sc)


def _roc_auc(sc: DataFrame) -> DataFrame:
    """Trapezoidal ROC-AUC over a (s, pos {0,1}) frame — factored like
    _avg_precision so tests can pin the formula on hand-built
    rankings (perfect=1.0, reversed=0.0, one-threshold agreement with
    the single-point (1+TPR-FPR)/2)."""
    from pyspark.sql.window import Window

    h = sc.groupBy("s").agg(
        F.sum("pos").alias("gp"), F.count(F.lit(1)).alias("gn")
    )
    wcum = (
        Window.orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlag = Window.orderBy(F.col("s").desc())
    cum = h.select(
        "s",
        F.sum("gp").over(wcum).alias("ctp"),
        (F.sum("gn").over(wcum) - F.sum("gp").over(wcum)).alias("cfp"),
    ).select(
        "ctp",
        "cfp",
        F.lag("ctp", 1, 0).over(wlag).alias("ptp"),
        F.lag("cfp", 1, 0).over(wlag).alias("pfp"),
    )
    tot = sc.agg(
        F.sum("pos").alias("ptot"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("ntot"),
        F.count(F.lit(1)).alias("n_scored"),
    )
    term = F.when(
        (F.col("ptot") > 0) & (F.col("ntot") > 0),
        F.round(
            (
                (
                    (F.col("cfp") - F.col("pfp")).cast("double")
                    * (F.col("ctp") + F.col("ptp")).cast("double")
                )
                / (
                    F.lit(2.0)
                    * F.col("ptot").cast("double")
                    * F.col("ntot").cast("double")
                )
            )
            * F.lit(1e12),
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(term.alias("t"), "ptot", "ntot", "n_scored")
        .agg(
            F.coalesce(F.max("n_scored"), F.lit(0))
            .cast("long")
            .alias("n_scored"),
            F.coalesce(F.max("ptot"), F.lit(0)).cast("long").alias("n_pos"),
            F.coalesce(F.max("ntot"), F.lit(0)).cast("long").alias("n_neg"),
            F.coalesce(
                F.round(F.sum("t").cast("double") / F.lit(1e12), 6),
                F.lit(0.0),
            ).alias("roc_auc"),
        )
    )


_METRICS_ROC_AUC_SQL = (
    oracle.scoring_ctes(LINEITEM_CLF_SQL, P)
    + """,
aclab AS (
  SELECT a.id, a.r_cls, a.cscore, f.label
  FROM acagg a JOIN (SELECT DISTINCT id, label FROM clf) f USING (id)
),
per AS (
  SELECT id, sum(cscore) AS ssum,
         sum(CASE WHEN r_cls = 1 THEN cscore ELSE 0.0 END) AS c1,
         max(label) AS label
  FROM aclab GROUP BY id
),
sc AS (
  SELECT CAST(round(c1 / ssum * 1e6, 0) AS BIGINT) AS s,
         CASE WHEN label = 1 THEN 1 ELSE 0 END AS pos
  FROM per WHERE ssum > 0
),
roctot AS (
  SELECT CAST(sum(pos) AS BIGINT) AS ptot,
         CAST(count(*) - sum(pos) AS BIGINT) AS ntot,
         CAST(count(*) AS BIGINT) AS n_scored
  FROM sc
),
h AS (
  SELECT s, CAST(sum(pos) AS BIGINT) AS gp, CAST(count(*) AS BIGINT) AS gn
  FROM sc GROUP BY s
),
cum AS (
  SELECT s,
         sum(gp) OVER (ORDER BY s DESC
                       ROWS UNBOUNDED PRECEDING) AS ctp,
         sum(gn) OVER (ORDER BY s DESC
                       ROWS UNBOUNDED PRECEDING)
           - sum(gp) OVER (ORDER BY s DESC
                           ROWS UNBOUNDED PRECEDING) AS cfp
  FROM h
),
lagged AS (
  SELECT ctp, cfp,
         lag(ctp, 1, 0) OVER (ORDER BY s DESC) AS ptp,
         lag(cfp, 1, 0) OVER (ORDER BY s DESC) AS pfp
  FROM cum
),
terms AS (
  SELECT CASE WHEN t.ptot > 0 AND t.ntot > 0 THEN
           CAST(round(((CAST(cfp - pfp AS DOUBLE)
                        * CAST(ctp + ptp AS DOUBLE))
                       / (2.0 * CAST(t.ptot AS DOUBLE)
                          * CAST(t.ntot AS DOUBLE)))
                      * 1e12, 0) AS BIGINT)
         ELSE 0 END AS tm, t.ptot, t.ntot, t.n_scored
  FROM lagged CROSS JOIN roctot t
)
SELECT CAST(coalesce(max(n_scored), 0) AS BIGINT) AS n_scored,
       CAST(coalesce(max(ptot), 0) AS BIGINT) AS n_pos,
       CAST(coalesce(max(ntot), 0) AS BIGINT) AS n_neg,
       coalesce(round(CAST(sum(tm) AS DOUBLE) / 1e12, 6), 0.0) AS roc_auc
FROM terms
"""
)

register("metrics_roc_auc", q_metrics_roc_auc, _METRICS_ROC_AUC_SQL)



# --- nominal (categorical) inputs in the fuzzy core (SURVEY §1 D3) --------
# Crisp membership per declared category [FSS258 §4.2 — KDD Cup 99
# protocol_type/service/flag are nominal]; same build/score machinery,
# membership dispatch in fuzzy/membership.py.
from chi_frbcs_bigdatacs_spark.fuzzy.membership import feature_membership_col  # noqa: E402
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import (  # noqa: E402
    ORDERS_CLF_NOMINAL_PARTITIONS,
)
from chi_frbcs_bigdatacs_spark.sources.testdata import (  # noqa: E402
    ORDERS_CLF_NOMINAL_SQL,
    orders_clf_nominal,
)

PN = ORDERS_CLF_NOMINAL_PARTITIONS
NOM_ANTS = [R.label_col(i) for i in range(len(PN.features))]


def q_fuzzify_nominal(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = orders_clf_nominal(spark, sf_dir)
    cols = []
    for f in PN.features:
        for j in range(PN.labels_for(f)):
            cols.append(
                feature_membership_col(f, PN, j).alias(f"mu_{f.name}_{j + 1}")
            )
    return df.select("id", "label", *cols)


def q_rulegen_nominal(spark: SparkSession, sf_dir: str) -> DataFrame:
    fz = R.with_antecedent(R.fuzzify(orders_clf_nominal(spark, sf_dir), PN), PN)
    return fz.select("id", "label", *NOM_ANTS)


def q_classify_wr_nominal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    est = ChiFRBCSClassifier(parts=PN, frm="wr")
    return est.fit_transform(orders_clf_nominal(spark, sf_dir))


register("fuzzify_nominal", q_fuzzify_nominal, oracle.fuzzify_sql(ORDERS_CLF_NOMINAL_SQL, PN))
register("rulegen_nominal", q_rulegen_nominal, oracle.rulegen_sql(ORDERS_CLF_NOMINAL_SQL, PN))
register(
    "classify_wr_nominal",
    q_classify_wr_nominal,
    oracle.classify_wr_sql(ORDERS_CLF_NOMINAL_SQL, PN),
)

# Widen the surface: relational / text / dedup / similarity catalogs.
from chi_frbcs_bigdatacs_spark.operators import relational as _relational  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import text as _text  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import dedup as _dedup  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import similarity as _similarity  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import dedup_near as _dedup_near  # noqa: E402

from chi_frbcs_bigdatacs_spark.operators import curation as _curation  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import sqlplus as _sqlplus  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import multimodal as _multimodal  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import resample as _resample  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import tpch_plus as _tpch_plus  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import packing as _packing  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import graph as _graph  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import quality as _quality  # noqa: E402
from chi_frbcs_bigdatacs_spark.operators import lakehouse as _lakehouse  # noqa: E402
from chi_frbcs_bigdatacs_spark.sources import formats as _formats  # noqa: E402
from chi_frbcs_bigdatacs_spark.fuzzy import keel_cv as _keel_cv  # noqa: E402
from chi_frbcs_bigdatacs_spark.streaming import cdc as _stream_cdc  # noqa: E402
from chi_frbcs_bigdatacs_spark.streaming import neardup as _stream_neardup  # noqa: E402
from chi_frbcs_bigdatacs_spark.streaming import stateful as _stream_stateful  # noqa: E402
from chi_frbcs_bigdatacs_spark.streaming import windows as _stream_windows  # noqa: E402

_relational.register_all()
_keel_cv.register_all()
_text.register_all()
_dedup.register_all()
_similarity.register_all()
_dedup_near.register_all()
_curation.register_all()
_sqlplus.register_all()
_multimodal.register_all()
_resample.register_all()
_tpch_plus.register_all()
_packing.register_all()
_stream_windows.register_all()
_stream_stateful.register_all()
_stream_neardup.register_all()
_stream_cdc.register_all()
_quality.register_all()
_lakehouse.register_all()
_graph.register_all()
_formats.register_all()
